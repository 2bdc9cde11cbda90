package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twelfth wave (q394-q396): batch
  * dispersion, edge provenance, ship latency.
  */
class Round9mOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q394 dispersion: one row, ordered picks, batch count exact") {
    val rows = Sampling.batchQualityDispersion(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val nDocs = Tables.documents(spark, dir).count()
    assert(r.getAs[Long]("n_batches") == (nDocs + 31) / 32)
    val seq = Seq(
      r.getAs[Long]("min_mean_micro"), r.getAs[Long]("p10_mean_micro"),
      r.getAs[Long]("p50_mean_micro"), r.getAs[Long]("p90_mean_micro"),
      r.getAs[Long]("max_mean_micro"))
    seq.sliding(2).foreach { case Seq(a, b) => assert(a <= b) }
    assert(r.getAs[Long]("envelope_micro") ==
      r.getAs[Long]("p90_mean_micro") - r.getAs[Long]("p10_mean_micro"))
    // batch means live inside the per-doc quality range
    val qs = TextAnalysis.qualityMicroScores(spark, dir)
      .agg(min(col("q_micro")), max(col("q_micro"))).collect()(0)
    assert(r.getAs[Long]("min_mean_micro") >= qs.getLong(0))
    assert(r.getAs[Long]("max_mean_micro") <= qs.getLong(1))
  }

  test("q395 provenance: classes partition the pair artifact") {
    val rows = Dedup.edgeProvenance(spark, dir).collect()
    assert(rows.map(_.getAs[String]("provenance")).toSet
      .subsetOf(Set("within_source", "cross_source")))
    val nPairs = Dedup.ngramJaccardPairs(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_edges")).sum == nPairs)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_jacc_milli") <=
        r.getAs[Long]("mean_jacc_milli"))
      assert(r.getAs[Long]("mean_jacc_milli") <=
        r.getAs[Long]("max_jacc_milli"))
      assert(r.getAs[Long]("max_jacc_milli") <= 1000L)
    }
  }

  test("q396 latency: per-priority medians recount, floor division") {
    val rows = Relational.shipLatencyProfile(spark, dir).collect()
    assert(rows.nonEmpty)
    // driver recount with explicit floorDiv semantics
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), unix_micros(col("l_shipdate").cast("timestamp")).as("su"))
      .groupBy("l_orderkey").agg(min(col("su")).as("fs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val delays = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ou"))
      .collect()
      .flatMap { r =>
        li.get(r.getLong(0)).map { fs =>
          (r.getString(1), r.getLong(0),
            Math.floorDiv(fs - r.getLong(2), 86400000000L))
        }
      }
      .groupBy(_._1)
    rows.foreach { r =>
      val pri = r.getAs[String]("o_orderpriority")
      val ds = delays(pri).map(t => (t._3, t._2)).sorted
      assert(r.getAs[Long]("n_orders") == ds.length.toLong)
      assert(r.getAs[Long]("min_delay_days") == ds.head._1)
      assert(r.getAs[Long]("max_delay_days") == ds.last._1)
      val p50 = ds(math.ceil(ds.length * 50 / 100.0).toInt - 1)._1
      assert(r.getAs[Long]("p50_delay_days") == p50, s"$pri median")
    }
  }
}
