package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the inference/seasonality/planning wave
  * (q295, q296, q297).
  */
class Round8aaOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q295 observed diff recounts; p-value well-formed") {
    val r = Sampling.meanDiffPermutationTest(spark, dir).collect().head
    assert(r.getAs[Long]("b") == 200L)
    assert(r.getAs[Long]("n_extreme") <= 200L)
    val p = r.getAs[Long]("p_micro")
    assert(p > 0L && p <= 1000000L)
    // driver recount of the two largest sources and their mean diff
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(TextAnalysis.qualityScores(spark, dir)
        .select(col("doc_id"), round(col("quality") * 1e6)
          .cast("long").as("qm")), "doc_id")
      .collect()
      .map(x => (x.getAs[String]("source"), x.getAs[Long]("qm")))
    val bySrc = scored.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ordered = bySrc.toSeq.sortBy { case (s, v) => (-v.length, s) }
    val (sa, va) = ordered(0); val (sb, vb) = ordered(1)
    assert(r.getAs[String]("source_a") == sa)
    assert(r.getAs[String]("source_b") == sb)
    assert(r.getAs[Long]("n_a") == va.length)
    val obs = math.round(va.sum.toDouble / va.length) -
      math.round(vb.sum.toDouble / vb.length)
    assert(r.getAs[Long]("obs_diff_micro") == obs)
  }

  test("q296 ACF bounded by Cauchy-Schwarz, grid shape consistent") {
    val rows = Events.hourlyAcf(spark, dir).collect()
    val types = rows.map(_.getAs[String]("event_type")).distinct
    assert(rows.length == types.length * 3)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("acf_micro")) <= 1000001L)
      assert(r.getAs[Long]("n_hours") > 0L)
    }
    // all three lags of a type see the same dense grid
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n_hours")).distinct.length == 1)
      assert(rs.map(_.getAs[Long]("lag")).sorted.sameElements(
        Array(1L, 24L, 168L)))
    }
  }

  test("q297 ESS monotone in alpha; proportional endpoint exact") {
    val rows = Sampling.mixAlphaSweep(spark, dir)
      .orderBy(col("alpha_centi")).collect()
    assert(rows.length == 5)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("ess_docs") >= a.getAs[Long]("ess_docs"))
      assert(b.getAs[Long]("max_rep_micro") <=
        a.getAs[Long]("max_rep_micro"))
    }
    val prop = rows.last
    assert(prop.getAs[Long]("alpha_centi") == 100L)
    // alpha=1: every language repeats exactly budgetFrac times and
    // ESS is the whole corpus
    assert(prop.getAs[Long]("max_rep_micro") == 500000L)
    assert(math.abs(prop.getAs[Long]("ess_ppm") - 1000000L) <= 1L)
  }
}
