package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 fifth wave (q373-q375): Benford
  * first-digit audit, Kendall concordance counts, Wald-Wolfowitz runs.
  */
class Round9fOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q373 Benford: 9-digit lattice, exact recount, pinned constants") {
    val rows = Relational.benfordAudit(spark, dir).collect()
    assert(rows.length == 9)
    assert(rows.map(_.getAs[Long]("digit")).sorted.sameElements(1L to 9L))
    // the pinned expectation sums to exactly 1e6
    assert(Relational.benfordExpectedPpm.map(_._2).sum == 1000000L)
    val n = rows.head.getAs[Long]("n_values")
    assert(rows.map(_.getAs[Long]("observed")).sum == n)
    // driver recount of first digits
    val exact = Tables
      .orders(spark, dir)
      .select(floor(col("o_totalprice")).cast("long").as("b"))
      .collect()
      .map(_.getAs[Long]("b"))
      .filter(_ >= 1L)
      .groupBy(_.toString.head.asDigit.toLong)
      .map { case (d, xs) => d -> xs.length.toLong }
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    rows.foreach { r =>
      val d = r.getAs[Long]("digit")
      assert(r.getAs[Long]("observed") == exact.getOrElse(d, 0L), s"d=$d")
      assert(r.getAs[Long]("observed_ppm") ==
        halfUp(r.getAs[Long]("observed") * 1000000L, math.max(n, 1L)))
      assert(r.getAs[Long]("dev_ppm") ==
        r.getAs[Long]("observed_ppm") - r.getAs[Long]("expected_ppm"))
    }
    // observed shares are a partition of ~1e6 (9 half-up roundings)
    val ppmSum = rows.map(_.getAs[Long]("observed_ppm")).sum
    assert(math.abs(ppmSum - 1000000L) <= 5L)
  }

  test("q374 Kendall: pair-count partition, driver recount on the sample") {
    val rows = TextAnalysis.kendallLengthQuality(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ns = r.getAs[Long]("n_sampled")
      assert(ns <= 64L)
      assert(r.getAs[Long]("n_pairs") == ns * (ns - 1) / 2)
      val parts = r.getAs[Long]("concordant") + r.getAs[Long]("discordant") +
        r.getAs[Long]("ties_x") + r.getAs[Long]("ties_y") +
        r.getAs[Long]("ties_xy")
      assert(parts == r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("tau_num") ==
        r.getAs[Long]("concordant") - r.getAs[Long]("discordant"))
    }
    // independent pair recount from the re-derived sample
    val docs = Tables.documents(spark, dir)
    val sampled = docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("h"))
      .join(TextAnalysis.qualityMicroScoresFrom(docs), "doc_id")
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("h"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("q_micro")))
      .groupBy(_._1)
      .map { case (src, xs) =>
        src -> xs.sortBy(t => (t._2, t._3)).take(64)
          .map(t => (t._3, t._4, t._5)).sortBy(_._1)
      }
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val s = sampled(src)
      var c, d = 0L
      for (i <- s.indices; j <- (i + 1) until s.length) {
        val dx = s(i)._2 - s(j)._2
        val dy = s(i)._3 - s(j)._3
        if (dx != 0 && dy != 0) {
          if ((dx > 0) == (dy > 0)) c += 1 else d += 1
        }
      }
      assert(r.getAs[Long]("concordant") == c, s"$src concordant")
      assert(r.getAs[Long]("discordant") == d, s"$src discordant")
    }
  }

  test("q375 runs: counts partition the non-median docs, runs recount") {
    val rows = TextAnalysis.qualityRunsTest(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .select(col("doc_id"), col("source"))
      .join(TextAnalysis.qualityMicroScoresFrom(docs), "doc_id")
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("q_micro")))
      .groupBy(_._1)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val xs = scored(src).sortBy(_._2)
      val byQ = xs.map(t => (t._3, t._2)).sorted
      val med = byQ(math.ceil(byQ.length * 50 / 100.0).toInt - 1)._1
      val signs = xs.filter(_._3 != med).map(t => t._3 > med)
      val runs = signs.foldLeft(List.empty[(Boolean, Long)]) {
        case (acc, s) => acc match {
          case (h, n) :: t if h == s => (h, n + 1) :: t
          case _ => (s, 1L) :: acc
        }
      }
      assert(r.getAs[Long]("n_above") == signs.count(identity).toLong)
      assert(r.getAs[Long]("n_below") == signs.count(!_).toLong)
      assert(r.getAs[Long]("n_runs") == runs.length.toLong)
      assert(r.getAs[Long]("longest_run") == runs.map(_._2).max)
    }
  }
}
