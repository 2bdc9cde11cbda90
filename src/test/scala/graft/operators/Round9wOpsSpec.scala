package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twenty-second wave (q424-q426):
  * streaming receipt, lineno completeness, dead catalog.
  */
class Round9wOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q424 stream receipt: drained row equals the batch sums") {
    val rows = graft.streaming.StreamReceipt
      .streamIngestReceipt(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val batch = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("tk"),
        pmod(graft.functions.TextFunctions.hash60(col("doc_id")),
          lit(1000000L)).as("m"))
      .agg(count(lit(1)), sum(col("tk")), sum(col("m")))
      .collect()(0)
    assert(r.getAs[Long]("n_ingested") == batch.getLong(0))
    assert(r.getAs[Long]("ingested_tokens") == batch.getLong(1))
    assert(r.getAs[Long]("receipt_mod") == batch.getLong(2))
  }

  test("q425 completeness: synthetic broken orders classified correctly") {
    import spark.implicits._
    val li = Seq(
      (1L, 1), (1L, 2), (1L, 3), // complete
      (2L, 2), (2L, 3), // wrong start
      (3L, 1), (3L, 1), // duplicate
      (4L, 1), (4L, 3) // internal gap
    ).toDF("l_orderkey", "l_linenumber")
    val statuses = li
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("l_linenumber")).as("nd"),
        min(col("l_linenumber")).as("mn"),
        max(col("l_linenumber")).as("mx"))
      .select(col("l_orderkey"),
        when(col("nd") =!= col("n"), "duplicate_lineno")
          .when(col("mn") =!= 1, "wrong_start")
          .when(col("mx") =!= col("n"), "internal_gap")
          .otherwise("complete").as("status"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(statuses(1L) == "complete")
    assert(statuses(2L) == "wrong_start")
    assert(statuses(3L) == "duplicate_lineno")
    assert(statuses(4L) == "internal_gap")
    // the real corpus rolls up to the full order population
    val rows = Relational.linenoCompleteness(spark, dir).collect()
    val nOrders = Tables.lineitem(spark, dir)
      .select(col("l_orderkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == nOrders)
    assert(rows.map(_.getAs[Long]("n_lines")).sum ==
      Tables.lineitem(spark, dir).count())
  }

  test("q426 dead catalog: complements of the used key sets") {
    val rows = Relational.deadCatalog(spark, dir).collect()
      .map(r => r.getAs[String]("check") ->
        (r.getAs[Long]("n_dead"), r.getAs[Long]("n_total"),
          r.getAs[Long]("dead_ppm")))
      .toMap
    assert(rows.keySet == Set("parts_never_ordered",
      "suppliers_never_shipping"))
    val usedParts = Tables.lineitem(spark, dir)
      .select(col("l_partkey")).distinct().count()
    val nParts = Tables.part(spark, dir).count()
    // dead >= total - used (equality when every used key exists in
    // the dimension, which q372-style cleanliness gives us)
    val (deadP, totP, ppmP) = rows("parts_never_ordered")
    assert(totP == nParts)
    assert(deadP >= nParts - usedParts)
    assert(ppmP == halfUp(deadP * 1000000L, totP))
  }
}
