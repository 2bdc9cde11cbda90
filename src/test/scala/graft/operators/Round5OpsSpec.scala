package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 pipeline filters and ANN coding (q127-q129): invariants
  * the DuckDB oracle cannot see — internal consistency between the
  * emitted columns, self-match properties, and scale-shape contracts.
  */
class Round5OpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q127: ppl = exp(xent), keep <=> ppl below the corpus mean") {
    val r = TextAnalysis.trigramPerplexity(spark, dir).cache()
    val bad = r
      .filter(abs(col("ppl") - exp(col("xent"))) > lit(1e-3))
      .count()
    assert(bad == 0L)
    // the corpus-relative gate must actually split the corpus
    val keeps = r.groupBy(col("keep")).count().collect()
    assert(keeps.length == 2, s"keep flag is vacuous: ${keeps.toSeq}")
    // every kept doc has ppl <= every mean-side bound implied by the
    // flag: max kept ppl < min dropped ppl can fail only if the flag
    // disagrees with the ppl ordering
    val mx = r.filter(col("keep") === 1).agg(max(col("ppl"))).head.getDouble(0)
    val mn = r.filter(col("keep") === 0).agg(min(col("ppl"))).head.getDouble(0)
    assert(mx <= mn, s"kept max $mx above dropped min $mn")
    r.unpersist()
  }

  test("q127: every scored doc has >= 3 tokens and positive xent") {
    val r = TextAnalysis.trigramPerplexity(spark, dir)
    assert(r.filter(col("n_trigrams") < 1).count() == 0L)
    assert(r.filter(col("xent") <= 0).count() == 0L)
  }

  test("q128: each query's own vector ranks first with adc ~ quantization error") {
    val r = Similarity.pqAdcTopK(spark, dir).cache()
    val self = r.filter(col("query_id") === col("vec_id")).collect()
    assert(self.length == 5)
    assert(self.forall(_.getInt(2) == 1), "self-match must rank 1")
    // exact distance of the self-match is 0; its ADC is the pure
    // quantization residual — small but nonzero
    assert(self.forall(_.getDouble(4) == 0.0))
    assert(self.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) < 5.0))
    // 5 queries x 10 ranked rows, ranks contiguous per query
    assert(r.count() == 50)
    val ranks = r
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(col("rank"))).as("rs"))
      .collect()
    assert(ranks.forall(_.getSeq[Int](1) == (1 to 10)))
    r.unpersist()
  }

  test("q128: ADC distance lower-bounds nothing but correlates with exact") {
    // PQ's ADC is an approximation, not a bound; but over the top-10
    // candidate set the mean ADC must be far below the corpus-mean
    // exact distance to a random vector (it found near neighbors)
    val r = Similarity.pqAdcTopK(spark, dir)
    val topMean = r
      .filter(col("rank") > 1) // exclude the trivial self-match
      .agg(avg(col("exact_dist")))
      .head
      .getDouble(0)
    val e = graft.Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val corpusMean = e
      .filter(col("vec_id") < 5)
      .select(
        col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("qe")
      )
      .crossJoin(e)
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        graft.functions.VectorMath
          .vecSqDist(col("embedding"), col("qe"))
          .as("d")
      )
      .agg(avg(col("d")))
      .head
      .getDouble(0)
    assert(
      topMean < corpusMean,
      s"ADC top-10 mean exact dist $topMean not below corpus mean $corpusMean"
    )
  }

  test("q129: margin is non-negative and correct iff pred equals label") {
    val r = TextAnalysis.nbLangId(spark, dir).cache()
    assert(r.filter(col("margin") < 0).count() == 0L)
    val inconsistent = r
      .filter(
        (col("pred_lang") === col("lang")).cast("int") =!= col("correct")
      )
      .count()
    assert(inconsistent == 0L)
    // one row per scored doc, predictions drawn from the label set
    assert(r.count() == graft.Tables.documents(spark, dir).count(),
      "every document is scored")
    val langs = r.select(col("lang")).distinct().collect().map(_.getString(0))
    val preds =
      r.select(col("pred_lang")).distinct().collect().map(_.getString(0))
    assert(preds.toSet.subsetOf(langs.toSet))
    r.unpersist()
  }

  test("q130: manifest = survivors ∩ kept, positions contiguous per shard") {
    val man = Sampling.trainingManifest(spark, dir).cache()
    val surv = Dedup
      .canonicalDocs(spark, dir)
      .select(col("keep_doc").as("doc_id"))
    val kept = TextAnalysis
      .trigramPerplexity(spark, dir)
      .filter(col("keep") === 1)
      .select(col("doc_id"))
    val expected = surv.join(kept, "doc_id")
    assert(man.count() == expected.count())
    assert(man.join(expected, "doc_id").count() == man.count())
    // every shard's positions are exactly 1..n, no gaps or dups
    val bad = man
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n"),
        min(col("position")).as("mn"),
        max(col("position")).as("mx"),
        countDistinct(col("position")).as("nd")
      )
      .filter(
        col("mn") =!= 1 || col("mx") =!= col("n") || col("nd") =!= col("n")
      )
      .count()
    assert(bad == 0L)
    man.unpersist()
  }

  test("q131: importance weights actually enrich the target language") {
    val r = Sampling.dsirWeights(spark, dir).cache()
    val labeled = r.join(
      graft.Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("lang")),
      "doc_id"
    )
    def enRate(keep: Int): Double = labeled
      .filter(col("keep") === keep)
      .agg(avg((col("lang") === "en").cast("double")))
      .head
      .getDouble(0)
    // the kept set must be substantially more target-like than the
    // dropped set — the whole point of importance resampling
    assert(enRate(1) > enRate(0) + 0.2,
      s"kept en-rate ${enRate(1)} not above dropped ${enRate(0)}")
    // keep flag consistent with the weight's sign
    assert(
      r.filter((col("logw") > 0).cast("int") =!= col("keep")).count() == 0L
    )
    r.unpersist()
  }

  test("q129: scoring a doc of one lang's exclusive tokens predicts that lang") {
    // toy corpus where vocabulary determines the label exactly: NB
    // must recover it with a wide margin
    val toy = java.nio.file.Files.createTempDirectory("nbtoy").toString
    import spark.implicits._
    val rows = (0 until 20).map { i =>
      val l = if (i % 2 == 0) "aa" else "bb"
      val w = if (l == "aa") "alpha beta gamma" else "delta epsilon zeta"
      (i.toLong, l, w)
    }
    rows
      .toDF("doc_id", "lang", "text")
      .write
      .mode("overwrite")
      .parquet(s"$toy/documents.parquet")
    val r = TextAnalysis.nbLangId(spark, toy).cache()
    assert(r.filter(col("correct") === 0).count() == 0L)
    assert(r.agg(min(col("margin"))).head.getDouble(0) > 1.0)
    r.unpersist()
  }
}
