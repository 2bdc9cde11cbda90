package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the token-funnel/b-bit/k-anonymity wave
  * (q328, q329, q330).
  */
class Round8alOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q328 token funnel is monotone and consistent with q115") {
    val toks = TextAnalysis.tokenFunnel(spark, dir)
      .orderBy(col("stage")).collect()
    val docs = TextAnalysis.filterFunnel(spark, dir)
      .orderBy(col("stage")).collect()
    assert(toks.length == 6 && docs.length == 6)
    toks.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_tokens") <= a.getAs[Long]("n_tokens"))
    }
    // a stage that keeps all docs keeps all tokens, and vice versa
    toks.zip(docs).foreach { case (t, d) =>
      assert(t.getAs[String]("stage") == d.getAs[String]("stage"))
      if (d.getAs[Long]("n_docs") == docs.head.getAs[Long]("n_docs"))
        assert(t.getAs[Long]("n_tokens") == toks.head.getAs[Long]("n_tokens"))
    }
    assert(toks.head.getAs[Long]("token_share_ppm") == 1000000L)
  }

  test("q329 high-J bands estimate tighter than low-J bands") {
    val rows = Dedup.bBitMinwiseAudit(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_abs_err_milli") >= 0L)
      assert(r.getAs[Long]("mean_abs_err_milli") <= 1000L)
      assert(r.getAs[Long]("n_pairs") > 0L)
    }
    // the b=1 estimator's variance shrinks as J -> 1: the top band
    // present must not be worse than the bottom band present
    val sorted = rows.sortBy(_.getAs[Long]("j_band"))
    if (sorted.length >= 2)
      assert(sorted.last.getAs[Long]("mean_abs_err_milli") <=
        sorted.head.getAs[Long]("mean_abs_err_milli"))
  }

  test("q330 census counts reconcile with the corpus") {
    val rows = Sampling.kAnonymityCensus(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, dir).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("small_cells") <= r.getAs[Long]("n_cells"))
      assert(r.getAs[Long]("docs_at_risk") <=
        5L * r.getAs[Long]("small_cells"))
      assert(r.getAs[Long]("risk_ppm") <= 1000000L)
    }
  }
}
