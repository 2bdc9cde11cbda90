package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the cost-attribution/scene-cut/Brown-Forsythe
  * wave (q334, q335, q336).
  */
class Round8anOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q334 cells partition the candidate set; pairs are ordered") {
    val rows = Dedup.lshCostAttribution(spark, dir).collect()
    val total = Dedup.minhashLshPairs(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_candidates")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") <= r.getAs[String]("source_b"))
      assert(r.getAs[Long]("n_true") <= r.getAs[Long]("n_candidates"))
      assert(r.getAs[Long]("yield_ppm") <= 1000000L)
    }
    val shares = rows.map(_.getAs[Long]("cost_share_ppm")).sum
    assert(math.abs(shares - 1000000L) <= rows.length)
  }

  test("q335 frame counts match q48's derivation; cosines bounded") {
    val rows = Multimodal.sceneCuts(spark, dir).collect()
    val sampled = Multimodal.frameSample(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sampled") ==
        sampled(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("n_cuts") < r.getAs[Long]("n_sampled"))
      assert(math.abs(r.getAs[Long]("mean_adj_cos_milli")) <= 1000L)
    }
    // docs with a single sampled frame have no pairs and are absent
    assert(rows.forall(_.getAs[Long]("n_sampled") >= 2L))
  }

  test("q336 F recounts from the emitted moments") {
    val rows = Sampling.brownForsythe(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("f_milli")).distinct.length == 1)
    assert(rows.head.getAs[Long]("df") == rows.length - 1L)
    assert(rows.head.getAs[Long]("f_milli") >= 0L)
    // medians and mean deviations are plausible micro quantities
    rows.foreach { r =>
      assert(r.getAs[Long]("med_micro") >= 0L)
      assert(r.getAs[Long]("med_micro") <= 1000000L)
      assert(r.getAs[Long]("mean_dev_micro") >= 0L)
    }
  }
}
