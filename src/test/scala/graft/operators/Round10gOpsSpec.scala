package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 seventh wave (q463-q464):
  * shingle-width sweep, winsorized mean.
  */
class Round10gOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q463 sweep: w = 3 row reconciles with the q21 pair seam; " +
    "docs and shingles monotone in width") {
    val rows = Dedup.shingleWidthSweep(spark, dir).collect()
      .sortBy(_.getAs[Long]("shingle_w"))
    assert(rows.map(_.getAs[Long]("shingle_w")).toSeq ==
      Seq(2L, 3L, 4L))
    // wider shingles -> fewer qualifying docs (need >= w tokens)
    assert(rows(0).getAs[Long]("n_docs") >=
      rows(1).getAs[Long]("n_docs"))
    assert(rows(1).getAs[Long]("n_docs") >=
      rows(2).getAs[Long]("n_docs"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs_j05") <=
        r.getAs[Long]("n_pairs_any"))
    }
    // the w = 3 J >= 0.5 pair count must equal the house pair seam's
    val seam = Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .count()
    assert(rows(1).getAs[Long]("n_pairs_j05") == seam)
  }

  test("q464: wins mean between p5 and p95; equals raw mean when " +
    "no clipping binds; exact against driver recomputation") {
    val rows = TextAnalysis.winsorizedMeanLength(spark, dir).collect()
    assert(rows.nonEmpty)
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    val docs = Tables
      .documents(spark, dir)
      .select(col("source"), col("n_chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val mine = docs.filter(_._1 == src).map(_._2).toSeq.sorted
      val n = mine.length
      assert(r.getAs[Long]("n_docs") == n.toLong)
      // pick: min v with rank*den >= n*num
      def pick(num: Int, den: Int): Long =
        mine((n * num + den - 1) / den - 1)
      val p5 = pick(1, 20); val p95 = pick(19, 20)
      assert(r.getAs[Long]("p5_len") == p5)
      assert(r.getAs[Long]("p95_len") == p95)
      val raw = halfUp(1000L * mine.sum, n.toLong)
      val wins = halfUp(
        1000L * mine.map(v => math.max(p5, math.min(p95, v))).sum,
        n.toLong)
      assert(r.getAs[Long]("raw_mean_milli") == raw)
      assert(r.getAs[Long]("wins_mean_milli") == wins)
      assert(r.getAs[Long]("p5_len") <= r.getAs[Long]("p95_len"))
      val lo = 1000L * p5; val hi = 1000L * p95
      assert(r.getAs[Long]("wins_mean_milli") >= lo &&
        r.getAs[Long]("wins_mean_milli") <= hi)
    }
  }
}
