package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the inequality/purity/correlation batch
  * (q247, q248, q249).
  */
class Round8lOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q247 Gini matches a naive mean-absolute-difference recount") {
    val rows = Sampling.sourceTokenGini(spark, dir).collect()
    val docs = Tables
      .documents(spark, dir)
      .collect()
      .map { r =>
        val t = r.getAs[String]("text").trim
        val n = if (t.isEmpty) 0L else t.split("\\s+").length.toLong
        (r.getAs[String]("source"), n)
      }
      .groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2) }
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val xs = docs(src).map(_.toDouble)
      val n = xs.length
      assert(r.getAs[Long]("n_docs") == n.toLong)
      assert(r.getAs[Long]("total_tokens") == xs.sum.toLong)
      if (xs.sum > 0) {
        // Gini = mean absolute difference / (2 * mean)
        var mad = 0.0
        for (i <- xs.indices; j <- xs.indices) mad += math.abs(xs(i) - xs(j))
        val gini = mad / (2.0 * n * xs.sum)
        assert(math.abs(r.getAs[Long]("gini_micro") - gini * 1e6) <= 2.0,
          s"source $src")
      }
    }
  }

  test("q248 purity rows are internally consistent and match q238's table") {
    val rows = Clustering.clusterPurity(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("size")).sum
    assert(total == Tables.embeddings(spark, dir).count())
    val nLabels = Tables
      .embeddings(spark, dir)
      .select(countDistinct(col("label")))
      .collect()
      .head
      .getLong(0)
    rows.foreach { r =>
      val p = r.getAs[Long]("purity_micro")
      val e = r.getAs[Long]("entropy_micro")
      assert(r.getAs[Long]("n_majority") <= r.getAs[Long]("size"))
      assert(p > 0L && p <= 1000000L)
      assert(e >= 0L && e <= math.round(math.log(nLabels.toDouble) * 1e6) + 1)
      // pure cluster <=> zero entropy
      if (p == 1000000L) assert(e == 0L)
      if (e == 0L) assert(p == 1000000L)
    }
  }

  test("q249 Spearman/Pearson match driver-side recomputation") {
    val out = TextAnalysis.lengthQualityCorrelation(spark, dir).collect().head
    val base = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val t = r.getAs[String]("text").trim
        val n = if (t.isEmpty) 0L else t.split("\\s+").length.toLong
        (r.getAs[Long]("doc_id"), n)
      }
    val quality = TextAnalysis
      .qualityScores(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality"))
      .toMap
    val xy = base.map { case (id, x) => (x.toDouble, quality(id)) }
    def avgRanks(vals: Array[Double]): Array[Double] = {
      val sorted = vals.zipWithIndex.sortBy(_._1)
      val ranks = new Array[Double](vals.length)
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(i)._1) j += 1
        val avg = (i + 1 + j + 1) / 2.0
        (i to j).foreach(k => ranks(sorted(k)._2) = avg)
        i = j + 1
      }
      ranks
    }
    def pearson(a: Array[Double], b: Array[Double]): Double = {
      val n = a.length
      val sa = a.sum; val sb = b.sum
      val sa2 = a.map(x => x * x).sum; val sb2 = b.map(x => x * x).sum
      val sab = a.zip(b).map { case (x, y) => x * y }.sum
      (n * sab - sa * sb) /
        (math.sqrt(n * sa2 - sa * sa) * math.sqrt(n * sb2 - sb * sb))
    }
    val xs = xy.map(_._1); val ys = xy.map(_._2)
    val rho = pearson(avgRanks(xs), avgRanks(ys))
    val r = pearson(xs, ys)
    assert(math.abs(out.getAs[Long]("spearman_micro") - rho * 1e6) <= 2.0)
    assert(math.abs(out.getAs[Long]("pearson_micro") - r * 1e6) <= 2.0)
    // the q15 score has a hard length term: correlation must be positive
    assert(out.getAs[Long]("spearman_micro") > 0L)
  }
}
