package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 wave (q361-q363): tokenizer
  * fertility, batch-composition diversity, stopword-profile drift.
  */
class Round9bOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q361 fertility: bpe >= ws, English tax is exactly 1000") {
    val rows = TextAnalysis.tokenizerFertility(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the BPE-ish proxy splits punctuation off, so it never
      // undercounts whitespace words
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("ws_tokens"))
      assert(r.getAs[Long]("fertility_milli") >= 1000L)
      assert(r.getAs[Long]("fertility_milli") ==
        halfUp(r.getAs[Long]("bpe_tokens") * 1000L,
          r.getAs[Long]("ws_tokens")))
    }
    val en = rows.find(_.getAs[String]("lang") == "en").get
    assert(en.getAs[Long]("fertility_tax_milli") == 1000L)
  }

  test("q362 batches partition the corpus and shares are exact") {
    val rows = Sampling.batchDiversity(spark, dir).collect()
    val total = Tables.documents(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    // every batch but possibly the last is exactly full
    val byBatch = rows.sortBy(_.getAs[Long]("batch"))
    byBatch.dropRight(1).foreach(r =>
      assert(r.getAs[Long]("n_docs") == 32L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sources") >= 1L)
      assert(r.getAs[Long]("n_langs") >= 1L)
      assert(r.getAs[Long]("n_sources") <= r.getAs[Long]("n_docs"))
      val share = r.getAs[Long]("majority_share_ppm")
      // majority share of a batch with s sources is at least 1/s
      assert(share >= 1000000L / r.getAs[Long]("n_sources"))
      assert(share <= 1000000L)
    }
  }

  test("q363 drift: corpus-weighted profile drift is self-consistent") {
    val rows = TextAnalysis.stopwordProfileDrift(spark, dir).collect()
    assert(rows.length ==
      Tables.documents(spark, dir).select("source").distinct().count())
    rows.foreach { r =>
      assert(r.getAs[Long]("stop_mass_ppm") <= 1000000L)
      // L1 over 10 coordinates each bounded by 1e6
      assert(r.getAs[Long]("l1_drift_ppm") <= 10000000L)
      assert(r.getAs[Long]("l1_drift_ppm") >= 0L)
    }
    // the n_tokens-weighted mean of per-source ppm equals the corpus
    // ppm per word, so weighted drift cannot ALL be one-sided: at
    // least one source sits at or below the max drift... assert the
    // sharper invariant that some source is non-trivially close
    assert(rows.map(_.getAs[Long]("l1_drift_ppm")).min <
      rows.map(_.getAs[Long]("l1_drift_ppm")).max ||
      rows.length == 1)
  }
}
