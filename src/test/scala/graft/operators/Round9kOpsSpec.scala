package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 tenth wave (q388-q390): savings
  * sweep, template span, daily share stability.
  */
class Round9kOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q388 sweep: monotone decreasing in threshold, 0.5 row matches q207 base") {
    val rows = Dedup.savingsSweep(spark, dir).collect()
      .sortBy(_.getAs[Long]("t_milli"))
    assert(rows.map(_.getAs[Long]("t_milli")).sameElements(
      Array(300L, 500L, 700L, 900L)))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_pairs") >= b.getAs[Long]("n_pairs"))
        assert(a.getAs[Long]("n_flagged_docs") >=
          b.getAs[Long]("n_flagged_docs"))
        assert(a.getAs[Long]("flagged_tokens") >=
          b.getAs[Long]("flagged_tokens"))
      case _ =>
    }
    // the t=0.5 pair count equals the float-threshold pair frame the
    // rest of the dedup family uses (cross-multiplication twin)
    val pairsHalf = Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .count()
    assert(rows(1).getAs[Long]("n_pairs") == pairsHalf)
    rows.foreach { r =>
      assert(r.getAs[Long]("savings_ppm") ==
        halfUp(r.getAs[Long]("flagged_tokens") * 1000000L,
          r.getAs[Long]("corpus_tokens")))
      assert(r.getAs[Long]("n_flagged_docs") <= r.getAs[Long]("n_pairs"))
    }
  }

  test("q389 spans: every template gram lands in exactly one band") {
    val rows = TextAnalysis.templateSpan(spark, dir).collect()
    assert(rows.nonEmpty)
    // reconcile with q383's template gram census per source
    val mass = TextAnalysis.templateNgramMass(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("template_grams"), r.getAs[Long]("template_incidences")))
      .toMap
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rs) =>
      assert(rs.map(_.getAs[Long]("n_grams")).sum == mass(src)._1, src)
      assert(rs.map(_.getAs[Long]("n_incidences")).sum == mass(src)._2, src)
    }
    rows.foreach { r =>
      val band = r.getAs[String]("span_band")
      val mn = r.getAs[Long]("min_span")
      val mx = r.getAs[Long]("max_span")
      assert(mn <= mx)
      band match {
        case "tight_burst" => assert(mx < 100L)
        case "medium" => assert(mn >= 100L && mx < 1000L)
        case _ => assert(mn >= 1000L)
      }
      // a span needs two distinct docs
      assert(mn >= 1L)
    }
  }

  test("q390 stability: shares bounded, swing consistent, days equal") {
    val rows = Events.dailyShareStability(spark, dir).collect()
    assert(rows.nonEmpty)
    // every type sees the same day lattice
    assert(rows.map(_.getAs[Long]("n_days")).distinct.length == 1)
    rows.foreach { r =>
      val mn = r.getAs[Long]("min_share_ppm")
      val mx = r.getAs[Long]("max_share_ppm")
      assert(mn >= 0L && mx <= 1000000L && mn <= mx)
      assert(r.getAs[Long]("swing_ppm") == mx - mn)
    }
    // shares on any single day sum to ~1e6; the max over types must
    // therefore be at least the even share
    assert(rows.map(_.getAs[Long]("max_share_ppm")).max >=
      1000000L / rows.length)
  }
}
