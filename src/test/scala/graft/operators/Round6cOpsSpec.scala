package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the third round-6 operator batch: per-language
  * BPE fertility, corpus distinct-n diversity, the Zipf fit, and the
  * Kneser-Ney bigram LM.
  */
class Round6cOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q146 fertility: >= 1 per lang, totals reconcile with q134") {
    val out = BpeTrain.langFertility(spark, dir).collect()
    val langs = Tables.documents(spark, dir)
      .select("lang").distinct().count()
    assert(out.length == langs, "one row per language")
    out.foreach { r =>
      assert(r.getAs[Long]("fertility_milli") >= 1000L,
        "every word is at least one piece")
      assert(r.getAs[Long]("chars_per_subword_milli") >= 1000L)
    }
    // the per-lang totals are a regrouping of the per-doc apply
    val perDoc = BpeTrain.corpusApply(spark, dir)
      .agg(sum("n_words"), sum("n_subwords")).collect()(0)
    assert(out.map(_.getAs[Long]("n_words")).sum == perDoc.getLong(0))
    assert(out.map(_.getAs[Long]("n_subwords")).sum == perDoc.getLong(1))
  }

  test("q147 diversity agrees with a naive recompute") {
    val toks = Tables.documents(spark, dir)
      .select(graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    val out = TextAnalysis.corpusDiversity(spark, dir).collect()
      .map(r => r.getAs[Int]("n") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_distinct"))).toMap
    for (n <- 1 to 3) {
      val grams = toks.flatMap(ts =>
        if (ts.length >= n) ts.sliding(n).map(_.mkString(" ")).toSeq
        else Seq.empty)
      assert(out(n) == ((grams.length.toLong, grams.distinct.length.toLong)),
        s"n=$n drifted")
      assert(out(n)._2 <= out(n)._1)
    }
  }

  test("q148 zipf: slope negative, r2 in [0,1], matches naive fit") {
    val row = TextAnalysis.zipfFit(spark, dir).collect()(0)
    val slope = row.getAs[Double]("slope")
    val r2 = row.getAs[Double]("r2")
    assert(slope < 0, s"rank-frequency slope must be negative: $slope")
    assert(r2 >= 0 && r2 <= 1, s"r2 out of range: $r2")
    // naive recompute over the same top-1000 vocab
    val freqs = Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (w, f) => (-f, w) }
      .take(1000)
    val pts = freqs.zipWithIndex.map { case ((_, f), i) =>
      (math.log(i + 1.0), math.log(f.toDouble)) }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val naive = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(slope - naive) < 1e-6,
      s"slope drifted from naive fit: $slope vs $naive")
    assert(row.getAs[Long]("n_terms") == freqs.length)
  }

  test("q149 KN: observed mass <= 1 per context, naive differential") {
    val out = TextAnalysis.knBigram(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("p_kn") > 0 && r.getAs[Double]("p_kn") <= 1)
    }
    // interpolated KN sums to 1 over the FULL vocab; over observed
    // bigrams only, each context's mass must stay strictly <= 1
    out.groupBy(_.getAs[String]("w1")).foreach { case (w1, rows) =>
      val mass = rows.map(_.getAs[Double]("p_kn")).sum
      assert(mass <= 1.0 + 1e-4, s"context $w1 over-allocates: $mass")
    }
    // naive in-memory KN on the corpus
    val toks = Tables.documents(spark, dir)
      .select(graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0)).filter(_.length >= 2)
    val bigrams = toks.flatMap(ts => ts.sliding(2).map(s => (s(0), s(1))))
    val c = bigrams.groupBy(identity).map { case (k, v) => k -> v.size }
    val cW1 = c.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val n1r = c.groupBy(_._1._1).map { case (w, m) => w -> m.size }
    val n1l = c.groupBy(_._1._2).map { case (w, m) => w -> m.size }
    val types = c.size.toDouble
    val d = 0.75
    out.foreach { r =>
      val (w1, w2) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      val expect = math.max(c((w1, w2)) - d, 0.0) / cW1(w1) +
        d * n1r(w1) / cW1(w1) * (n1l(w2) / types)
      assert(math.abs(r.getAs[Double]("p_kn") - expect) < 1e-6,
        s"($w1,$w2) drifted: ${r.getAs[Double]("p_kn")} vs $expect")
    }
  }
}
