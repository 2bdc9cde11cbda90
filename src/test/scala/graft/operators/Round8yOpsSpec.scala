package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the planning/tuning wave (q289, q290, q291).
  */
class Round8yOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q289 weights partition, ESS bounded by N, budget conserved") {
    val rows = Sampling.mixEffectiveSampleSize(spark, dir).collect()
    val n = Tables.documents(spark, dir).count()
    val qSum = rows.map(_.getAs[Long]("q_ppm")).sum
    assert(math.abs(qSum - 1000000L) <= rows.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("ess_docs") <= n)
      assert(r.getAs[Long]("ess_ppm") <= 1000000L)
      // every row carries the same corpus-level ESS
      assert(r.getAs[Long]("ess_docs") == rows.head.getAs[Long]("ess_docs"))
    }
    // sum over langs of n_l * rep_l = budgetFrac * N (epochs conserve)
    val budget = rows.map(r =>
      r.getAs[Long]("n_docs") * r.getAs[Long]("rep_micro").toDouble / 1e6
    ).sum
    assert(math.abs(budget - 0.5 * n) < 0.01 * n)
  }

  test("q290 curve is monotone and totals are length-invariant") {
    val rows = TextAnalysis.truncationLossCurve(spark, dir)
      .orderBy(col("len")).collect()
    assert(rows.length == 5)
    val tot = rows.head.getAs[Long]("total_tokens")
    rows.foreach(r => assert(r.getAs[Long]("total_tokens") == tot))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("kept_tokens") >= a.getAs[Long]("kept_tokens"))
      assert(b.getAs[Long]("docs_truncated") <= a.getAs[Long]("docs_truncated"))
      assert(b.getAs[Long]("lost_ppm") <= a.getAs[Long]("lost_ppm"))
    }
    rows.foreach(r =>
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("total_tokens")))
  }

  test("q291 hits bounded, truth invariant, geometry endpoints ordered") {
    val rows = Dedup.lshBandTuning(spark, dir).collect()
    assert(rows.length == 4)
    val nTrue = rows.head.getAs[Long]("n_true")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_true") == nTrue)
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_candidates"))
      assert(r.getAs[Long]("n_hit") <= nTrue)
      assert(r.getAs[Long]("recall_ppm") <= 1000000L)
      assert(r.getAs[Long]("precision_ppm") <= 1000000L)
    }
    // finest banding (6x2) can only produce at least as many
    // candidates / as much recall as the coarsest (2x6)
    val by = rows.map(r =>
      (r.getAs[Long]("bands"), r.getAs[Long]("rows_per_band")) -> r).toMap
    val fine = by((6L, 2L)); val coarse = by((2L, 6L))
    assert(fine.getAs[Long]("n_candidates") >= coarse.getAs[Long]("n_candidates"))
    assert(fine.getAs[Long]("recall_ppm") >= coarse.getAs[Long]("recall_ppm"))
    // analytic S-curve at J=0.5 is also monotone across the endpoints
    assert(fine.getAs[Long]("expected_p50_ppm") >
      coarse.getAs[Long]("expected_p50_ppm"))
  }
}
