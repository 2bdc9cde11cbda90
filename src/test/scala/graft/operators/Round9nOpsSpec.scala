package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 thirteenth wave (q397-q399): IVF
  * cell balance, part sourcing, order fanout.
  */
class Round9nOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q397 balance: cells partition vectors, gauges exact") {
    val rows = Similarity.ivfCellBalance(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val nVecs = Tables.embeddings(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == nVecs)
    assert(rows.head.getAs[Long]("n_cells_used") == rows.length.toLong)
    val even = halfUp(nVecs, 8L)
    rows.foreach { r =>
      assert(r.getAs[Long]("share_ppm") ==
        halfUp(r.getAs[Long]("n_vecs") * 1000000L, nVecs))
      assert(r.getAs[Long]("vs_even_ppm") ==
        halfUp(r.getAs[Long]("n_vecs") * 1000000L, even))
    }
    // shares sum to ~1e6 over the used cells
    val s = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(math.abs(s - 1000000L) <= rows.length.toLong)
  }

  test("q398 sourcing: bands partition parts, driver recount") {
    val rows = Relational.partSourcingCensus(spark, dir).collect()
    assert(rows.nonEmpty)
    val perPart = Tables
      .lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_suppkey")).as("ns"),
        count(lit(1)).as("nl"))
      .collect()
      .map(r => (r.getAs[Long]("ns"), r.getAs[Long]("nl")))
    assert(rows.map(_.getAs[Long]("n_parts")).sum == perPart.length.toLong)
    assert(rows.map(_.getAs[Long]("n_lines")).sum ==
      perPart.map(_._2).sum)
    val single = perPart.count(_._1 == 1L).toLong
    val got = rows.find(_.getAs[String]("supplier_band") == "1_single")
      .map(_.getAs[Long]("n_parts")).getOrElse(0L)
    assert(got == single)
  }

  test("q399 fanout: bands partition orders; line totals reconcile") {
    val rows = Relational.orderFanoutCensus(spark, dir).collect()
    assert(rows.nonEmpty)
    val nOrders = Tables.orders(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == nOrders)
    // every lineitem belonging to an existing order is counted once;
    // the generator's child side is clean (q372), so totals match
    val nLines = Tables.lineitem(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_lines")).sum == nLines)
    rows.foreach { r =>
      assert(r.getAs[Long]("order_ppm") ==
        halfUp(r.getAs[Long]("n_orders") * 1000000L, nOrders))
      if (r.getAs[String]("fanout_band") == "0_lines")
        assert(r.getAs[Long]("n_lines") == 0L)
    }
  }
}
