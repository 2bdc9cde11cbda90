package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-8 layout/ablation batch
  * (q228, q229, q230).
  */
class Round8gOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q228 spans tile every document exactly and fill every window") {
    val spans = TextAnalysis.packSpans(spark, dir).collect()
    // per doc: spans are contiguous from 0 and sum to its token count
    val byDoc = spans.groupBy(_.getAs[Long]("doc_id"))
    val lens = Tables
      .documents(spark, dir)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong)
      .toMap
    byDoc.foreach { case (doc, ss) =>
      val ordered = ss.sortBy(_.getAs[Long]("tok_start"))
      assert(ordered.head.getAs[Long]("tok_start") == 0L)
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        assert(a.getAs[Long]("tok_start") + a.getAs[Long]("tok_len") ==
          b.getAs[Long]("tok_start"), s"doc $doc spans not contiguous")
        assert(a.getAs[Long]("window_id") + 1 == b.getAs[Long]("window_id"),
          s"doc $doc spans must cross consecutive windows")
      }
      assert(ordered.map(_.getAs[Long]("tok_len")).sum == lens(doc),
        s"doc $doc span lengths must sum to its token count")
      ordered.foreach(s => assert(s.getAs[Long]("tok_len") >= 1L))
    }
    // per (lang, window): span lengths sum to 2048 except the last
    // window of each language
    spans.groupBy(r => r.getAs[String]("lang")).foreach { case (lang, ss) =>
      val byWin = ss.groupBy(_.getAs[Long]("window_id"))
      val lastWin = byWin.keys.max
      byWin.foreach { case (w, rows) =>
        val total = rows.map(_.getAs[Long]("tok_len")).sum
        if (w != lastWin)
          assert(total == 2048L, s"$lang window $w must be exactly full")
        else assert(total <= 2048L)
      }
    }
  }

  test("q229 ablation is consistent with the ensemble histogram") {
    val abl = TextAnalysis
      .gateAblation(spark, dir)
      .collect()
      .map(r => r.getAs[String]("gate") -> r)
      .toMap
    assert(abl.keySet == Set("gopher", "lr", "ml", "ppl"))
    abl.values.foreach { r =>
      assert(r.getAs[Long]("n_pass") <= r.getAs[Long]("n_scored"))
      assert(r.getAs[Long]("n_unique_drop") <=
        r.getAs[Long]("n_scored") - r.getAs[Long]("n_pass"),
        "unique drops are a subset of all drops")
    }
    // Σ unique drops = docs with exactly one dissenting vote
    val oneShort = TextAnalysis
      .gateEnsemble(spark, dir)
      .collect()
      .filter(r => r.getAs[Long]("votes") == r.getAs[Long]("n_gates") - 1)
      .map(_.getAs[Long]("n_docs"))
      .sum
    assert(abl.values.map(_.getAs[Long]("n_unique_drop")).sum == oneShort)
  }

  test("q230 churn: kept sets nest, so churn is exactly the rate delta") {
    val rows = Sampling.mixChurn(spark, dir).collect()
    val totalDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs == Tables.documents(spark, dir).count())
    rows.foreach { r =>
      val lo = r.getAs[Long]("n_kept_lo")
      val hi = r.getAs[Long]("n_kept_hi")
      // shared-hash admission: the lower rate's kept set is a subset
      // of the higher rate's, so churn is |hi - lo|
      assert(r.getAs[Long]("churn") == math.abs(hi - lo))
      // flattening (alpha 0.3) boosts tail langs, trims the head:
      // rate ordering decides which side is bigger
      if (r.getAs[Long]("rate_lo_ppm") >= r.getAs[Long]("rate_hi_ppm"))
        assert(lo >= hi)
      else assert(hi >= lo)
    }
    // at least one language must differ between the two temperatures
    assert(rows.map(_.getAs[Long]("churn")).sum > 0L,
      "temperatures 0.3 vs 0.7 must disagree somewhere on a skewed corpus")
  }
}
