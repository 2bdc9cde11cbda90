package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the rank-stat/FDR/inequality wave (q283,
  * q284, q285) and the audit wave (q286, q287, q288).
  */
class Round8xOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q283 u2 bounds, rank-sum conservation, z/shift consistency") {
    val rows = Sampling.mannWhitneyDrift(spark, dir).collect()
    val bigN = rows.map(_.getAs[Long]("n")).sum
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      val u2 = r.getAs[Long]("u2")
      // 0 <= U <= n1*n2 exactly, doubled here
      assert(u2 >= 0L && u2 <= 2L * n * (bigN - n))
      val z = r.getAs[Long]("z_micro")
      assert(r.getAs[Boolean]("shifted") == (math.abs(z) > 1960000L)
        || math.abs(math.abs(z) - 1960000L) < 2L)
    }
    // sum over sources of R2 = 2 * sum of all ranks = N(N+1)
    val r2sum = rows.map(r =>
      r.getAs[Long]("u2") + r.getAs[Long]("n") * (r.getAs[Long]("n") + 1)
    ).sum
    assert(r2sum == bigN * (bigN + 1))
  }

  test("q284 rejected set is a rank prefix and within raw alpha") {
    val rows = Sampling.ksDriftFdr(spark, dir)
      .orderBy(col("bh_rank")).collect()
    val rejected = rows.takeWhile(_.getAs[Boolean]("rejected"))
    // prefix property: nothing after the first non-reject is rejected
    assert(rows.drop(rejected.length).forall(!_.getAs[Boolean]("rejected")))
    // BH at alpha=0.05 rejects only ranks whose p <= alpha (since
    // i/m <= 1); and every rejected p passes its own step bound
    val m = rows.length
    rejected.foreach { r =>
      assert(r.getAs[Long]("p_micro") <= 50000L)
      assert(r.getAs[Long]("p_micro") * m * 20 <=
        r.getAs[Long]("bh_rank") * 1000000L ||
        // step-up: a later passing rank can cover this one
        rejected.last.getAs[Long]("p_micro") * m * 20 <=
          rejected.last.getAs[Long]("bh_rank") * 1000000L)
    }
  }

  test("q285 decomposition reconciles and within terms are nonneg") {
    val rows = Sampling.theilDecomposition(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("within_milli") >= 0L)
      assert(r.getAs[Long]("contrib_milli") >= 0L)
    }
    // T_total = sum(between) + sum(contrib) >= 0, and the share
    // column is a partition of (almost exactly) 1e6 ppm
    val tot = rows.map(r =>
      r.getAs[Long]("between_milli") + r.getAs[Long]("contrib_milli")).sum
    assert(tot >= -rows.length) // rounding slack only below zero
    val ppm = rows.map(_.getAs[Long]("tok_share_ppm")).sum
    assert(math.abs(ppm - 1000000L) <= rows.length)
  }

  test("q286 per-source term sets recount on a sampled source") {
    val rows = TextAnalysis.leadBias(spark, dir).collect()
    rows.foreach { r =>
      val ppm = r.getAs[Long]("lead_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
      // head vocabulary is bounded by 64 tokens per doc
      assert(r.getAs[Long]("head_only") + r.getAs[Long]("both_terms")
        <= 64L * r.getAs[Long]("n_docs"))
    }
    // driver recount for the lexicographically first source
    val src = rows.map(_.getAs[String]("source")).min
    val docs = Tables.documents(spark, dir)
      .filter(col("source") === src)
      .select(col("text")).collect().map(_.getString(0))
      .map(t => t.trim)
      .filter(_.nonEmpty)
      .map(_.split("\\s+"))
    val (ho, to_, bo) = docs.foldLeft((0L, 0L, 0L)) {
      case ((h, t, b), ts) =>
        val hd = ts.take(64).toSet
        val tl = ts.drop(64).toSet
        (h + (hd -- tl).size, t + (tl -- hd).size, b + (hd & tl).size)
    }
    val row = rows.find(_.getAs[String]("source") == src).get
    assert(row.getAs[Long]("head_only") == ho)
    assert(row.getAs[Long]("tail_only") == to_)
    assert(row.getAs[Long]("both_terms") == bo)
  }

  test("q287 frontier is monotone and cut-0 keeps everything") {
    val rows = Sampling.qualityYieldCurve(spark, dir)
      .orderBy(col("thr_decile")).collect()
    assert(rows.length == 10)
    assert(rows.head.getAs[Long]("docs_kept") ==
      Tables.documents(spark, dir).count())
    assert(rows.head.getAs[Long]("tok_share_ppm") == 1000000L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("docs_kept") <= a.getAs[Long]("docs_kept"))
      assert(b.getAs[Long]("toks_kept") <= a.getAs[Long]("toks_kept"))
      // tightening the cut can't lower mean quality of the kept set
      if (b.getAs[Long]("docs_kept") > 0)
        assert(b.getAs[Long]("mean_q_micro") >= a.getAs[Long]("mean_q_micro"))
    }
  }

  test("q288 MI within [0, H], and identical-feature MI maxes out") {
    val rows = TextAnalysis.gateMiScreen(spark, dir).collect()
    assert(rows.length == 12) // 4 gates x 3 features
    rows.foreach { r =>
      val mi = r.getAs[Long]("mi_micro")
      val nmi = r.getAs[Long]("nmi_micro")
      assert(mi >= -2L) // nano-rounding slack
      assert(nmi >= -2L && nmi <= 1000002L)
    }
  }
}
