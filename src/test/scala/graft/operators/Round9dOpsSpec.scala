package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 third wave (q367-q369):
  * Mann-Kendall length trend, hash uniformity, adjacent-dup runs.
  */
class Round9dOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q367 MK: |S| <= n_pairs, n_pairs = C(buckets, 2), z verdict in spec") {
    val rows = Sampling.lengthTrendMk(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nb = r.getAs[Long]("n_buckets")
      val np = r.getAs[Long]("n_pairs")
      val sStat = r.getAs[Long]("s_stat")
      assert(np == nb * (nb - 1) / 2)
      assert(math.abs(sStat) <= np)
      assert(r.getAs[Long]("direction") == sStat.sign)
      // the spec-side normal audit: z = S/sqrt(n(n-1)(2n+5)/18) is
      // finite and the direction agrees with S
      if (nb > 2) {
        val v = nb * (nb - 1) * (2 * nb + 5) / 18.0
        val z = sStat / math.sqrt(v)
        assert(!z.isNaN && math.abs(z) < 50)
      }
    }
  }

  test("q368 uniformity: mass conserves, chi2 recounts exactly") {
    val r = Sampling.hashUniformity(spark, dir).collect()(0)
    val n = r.getAs[Long]("n_docs")
    assert(n == Tables.documents(spark, dir).count())
    assert(r.getAs[Long]("buckets_hit") <= 256L)
    // driver recount from raw hashes
    val os = Tables
      .documents(spark, dir)
      .select(pmod(graft.functions.TextFunctions.hash60(col("doc_id")),
        lit(256L)).as("b"))
      .groupBy("b")
      .count()
      .collect()
      .map(_.getLong(1))
    val s2 = os.map(o => o * o).sum
    val num = (256L * s2 - n * n) * 1000L
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    val want = if (num < 0) -halfUp(-num, n) else halfUp(num, n)
    assert(r.getAs[Long]("chi2_milli") == want)
    // the hash should be roughly uniform: chi2 at 255 dof has mean
    // 255, sd ~22.6 — allow a generous 5-sigma band
    assert(r.getAs[Long]("chi2_milli") < (255 + 5 * 23) * 1000L)
  }

  test("q369 runs: unique corpus has zero adjacent dups") {
    val rows = Sampling.adjacentDupRuns(spark, dir).collect()
    // the synthetic corpus has unique texts, so every run has len 1
    rows.foreach { r =>
      assert(r.getAs[Long]("adjacent_dup_pairs") == 0L)
      assert(r.getAs[Long]("runs_ge2") == 0L)
      assert(r.getAs[Long]("max_run") == 1L)
    }
    // synthetic positive control: duplicate rows must create runs
    import spark.implicits._
    val synth = Seq(
      ("s", 1L, "a"), ("s", 2L, "a"), ("s", 3L, "a"),
      ("s", 4L, "b"), ("s", 5L, "c"), ("s", 6L, "c")
    ).toDF("source", "doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id").asc)
    val runs = synth
      .withColumn("same",
        coalesce((lag(col("text"), 1).over(w) === col("text"))
          .cast("long"), lit(0L)))
      .withColumn("run_id", sum(lit(1L) - col("same")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .groupBy("source", "run_id")
      .count()
      .collect()
      .map(_.getLong(2))
      .sorted
    assert(runs.toSeq == Seq(1L, 2L, 3L))
  }
}
