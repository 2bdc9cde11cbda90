package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twenty-eighth wave (q442-q444):
  * head dependence, quality funnel, survivor wins.
  */
class Round9acOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q442 head dependence: occurrences reconcile with q441 bands") {
    val rows = TextAnalysis.headTokenDependence(spark, dir).collect()
    assert(rows.nonEmpty)
    val bands = TextAnalysis.frequencyBandMass(spark, dir).collect()
      .map(r => r.getAs[String]("band") -> r.getAs[Long]("n_occurrences"))
      .toMap
    val headMass = bands.getOrElse("head", 0L)
    assert(rows.map(_.getAs[Long]("head_occurrences")).sum == headMass,
      "per-source head mass sums to the q441 head band")
    val allOcc = bands.values.sum
    assert(rows.map(_.getAs[Long]("n_occurrences")).sum == allOcc)
    rows.foreach { r =>
      assert(r.getAs[Long]("head_ppm") ==
        halfUp(r.getAs[Long]("head_occurrences") * 1000000L,
          math.max(r.getAs[Long]("n_occurrences"), 1L)))
    }
  }

  test("q443 funnel: monotone counts down, mean quality up per stage") {
    val rows = TextAnalysis.qualityFunnel(spark, dir).collect()
      .sortBy(_.getAs[String]("stage"))
    assert(rows.map(_.getAs[String]("stage")).sameElements(
      Array("1_raw", "2_survivors", "3_gated")))
    val Array(raw, surv, gated) = rows
    assert(raw.getAs[Long]("n_docs") ==
      Tables.documents(spark, dir).count())
    assert(surv.getAs[Long]("n_docs") <= raw.getAs[Long]("n_docs"))
    assert(gated.getAs[Long]("n_docs") < surv.getAs[Long]("n_docs"))
    // keep-best survivorship cannot lower mean quality; the
    // above-median gate strictly raises it
    assert(surv.getAs[Long]("mean_micro") >= raw.getAs[Long]("mean_micro"))
    assert(gated.getAs[Long]("mean_micro") > surv.getAs[Long]("mean_micro"))
  }

  test("q444 wins: one winner per contested cluster, win rate bounded") {
    val rows = Dedup.survivorWinRate(spark, dir).collect()
    assert(rows.nonEmpty)
    val clusters = Dedup.dedupClusters(spark, dir)
      .filter(col("cluster_size") >= 2)
    val nContested = clusters.count()
    val nClusters = clusters.select(col("cluster_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_contested")).sum == nContested)
    assert(rows.map(_.getAs[Long]("n_won")).sum == nClusters,
      "exactly one winner per contested cluster")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_won") <= r.getAs[Long]("n_contested"))
      assert(r.getAs[Long]("win_ppm") ==
        halfUp(r.getAs[Long]("n_won") * 1000000L,
          r.getAs[Long]("n_contested")))
    }
  }
}
