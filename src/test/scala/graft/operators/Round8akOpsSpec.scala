package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the drift/component/PQ-variance wave (q325,
  * q326, q327).
  */
class Round8akOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q325 halves conserve token mass and ranks are contiguous") {
    val rows = TextAnalysis.vocabMidpointDrift(spark, dir).collect()
    val rks = rows.map(_.getAs[Long]("drift_rank")).sorted
    assert(rks.sameElements(1L to rks.length.toLong))
    // contributions are ranked descending (ties broken by term)
    val sorted = rows.sortBy(_.getAs[Long]("drift_rank"))
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("chi2_nano") <= a.getAs[Long]("chi2_nano"))
    }
    rows.foreach(r => assert(r.getAs[Long]("chi2_nano") >= 0L))
  }

  test("q326 components sum to the mean quality and recount") {
    val rows = TextAnalysis.qualityComponents(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_q_micro") ==
        r.getAs[Long]("len_micro") + r.getAs[Long]("stop_micro") +
          r.getAs[Long]("punct_micro"))
      assert(r.getAs[Long]("len_micro") <= 500000L)
      assert(r.getAs[Long]("stop_micro") <= 400000L)
      assert(r.getAs[Long]("punct_micro") <= 100000L)
      assert(Seq("len", "stop", "punct")
        .contains(r.getAs[String]("binding")))
    }
    // the component sum tracks the gated q15 score's source mean
    // within per-doc rounding noise
    val q = Tables.documents(spark, dir)
      .select(col("source"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
      .groupBy(col("source"))
      .agg(round(avg(col("q") * 1e6)).cast("long").as("qm"))
      .collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("qm")).toMap
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("mean_q_micro") -
        q(r.getAs[String]("source"))) <= 3L)
    }
  }

  test("q327 shares partition and imbalance averages to uniform") {
    val rows = Similarity.pqSubspaceVariance(spark, dir).collect()
    assert(rows.length == 8)
    val shares = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(math.abs(shares - 1000000L) <= 8L)
    val imb = rows.map(_.getAs[Long]("imbalance_milli")).sum
    assert(math.abs(imb - 8000L) <= 8L)
    rows.foreach(r => assert(r.getAs[Long]("var_nano") > 0L))
  }
}
