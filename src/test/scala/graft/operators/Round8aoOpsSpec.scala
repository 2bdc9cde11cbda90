package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the slope/bytes/Theil-Sen wave (q337, q338,
  * q339).
  */
class Round8aoOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q337 slope recounts against a driver regression") {
    val rows = Sampling.slopeHeterogeneity(spark, dir).collect()
    val data = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("x"))
      .join(TextAnalysis.qualityMicroScores(spark, dir)
        .select(col("doc_id"), col("q_micro").as("y")), "doc_id")
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("x"),
        r.getAs[Long]("y")))
    // the engine's two-step exact division (round-9 seam)
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    def halfUpSigned(a: Long, b: Long): Long =
      if (a < 0) -halfUp(-a, b) else halfUp(a, b)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val xs = data.filter(_._1 == src)
      val n = xs.length.toLong
      val sx = xs.map(_._2).sum
      val sy = xs.map(_._3).sum
      val num = n * xs.map(t => t._2 * t._3).sum - sx * sy
      val den = n * xs.map(t => t._2 * t._2).sum - sx * sx
      val denR = math.max(halfUp(den, 1000000L), 1L)
      assert(r.getAs[Long]("slope_micro_per_tok") ==
        halfUpSigned(num, denR))
    }
    // pooled slope is identical on every row
    assert(rows.map(_.getAs[Long]("pooled_micro")).distinct.length == 1)
  }

  test("q338 unit ratios are ordered and totals conserve") {
    val rows = TextAnalysis.byteEconomics(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, dir).count())
    rows.foreach { r =>
      // UTF-8: bytes >= chars; a token is at least one char
      assert(r.getAs[Long]("n_bytes") >= r.getAs[Long]("n_chars"))
      assert(r.getAs[Long]("bytes_per_char_milli") >= 1000L)
      assert(r.getAs[Long]("chars_per_token_milli") >= 1000L)
      assert(r.getAs[Long]("bytes_per_token_milli") >=
        r.getAs[Long]("chars_per_token_milli"))
    }
  }

  test("q339 Theil-Sen recounts against a driver median") {
    val rows = Sampling.theilSenTrend(spark, dir).collect()
    val bm = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        (col("doc_id") / 50).cast("long").as("b"))
      .join(TextAnalysis.qualityMicroScores(spark, dir)
        .select(col("doc_id"), col("q_micro")), "doc_id")
      .groupBy(col("source"), col("b"))
      .agg(graft.functions.IntMath
        .idivHalfUp(sum(col("q_micro")), count(lit(1))).as("m"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("b"),
        r.getAs[Long]("m")))
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    def halfUpSigned(a: Long, b: Long): Long =
      if (a < 0) -halfUp(-a, b) else halfUp(a, b)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val pts = bm.filter(_._1 == src).sortBy(_._2)
      val slopes = for {
        i <- pts.indices; j <- pts.indices if pts(j)._2 > pts(i)._2
      } yield halfUpSigned(pts(j)._3 - pts(i)._3, pts(j)._2 - pts(i)._2)
      val sorted = slopes.sorted
      val med = sorted((math.ceil(sorted.length / 2.0) - 1).toInt)
      assert(r.getAs[Long]("n_pairs") == slopes.length.toLong)
      assert(r.getAs[Long]("ts_slope_micro") == med)
    }
  }
}
