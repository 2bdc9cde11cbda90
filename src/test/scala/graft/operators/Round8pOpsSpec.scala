package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the drift/integrity/arrival batch (q259,
  * q260, q261).
  */
class Round8pOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q259 slope recounts against a driver-side OLS on bucket means") {
    val rows = Sampling.sourceQualityDrift(spark, dir).collect()
    val q = TextAnalysis
      .qualityMicroScores(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("q_micro"))
      .toMap
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id") / 50,
        q(r.getAs[Long]("doc_id"))))
    val bySource = docs.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
      def halfUpSigned(a: Long, b: Long): Long =
        if (a < 0) -halfUp(-a, b) else halfUp(a, b)
      val buckets = bySource(src)
        .groupBy(_._2)
        .map { case (b, xs) =>
          (b, halfUp(xs.map(_._3).sum, xs.length.toLong))
        }
        .toArray
        .sortBy(_._1)
      assert(r.getAs[Long]("n_buckets") == buckets.length.toLong)
      val n = buckets.length.toLong
      val sy = buckets.map(_._2).sum
      assert(r.getAs[Long]("mean_q_micro") == halfUp(sy, n))
      if (n > 1) {
        val sx = buckets.map(_._1).sum
        val sx2 = buckets.map(b => b._1 * b._1).sum
        val sxy = buckets.map(b => b._1 * b._2).sum
        val num = n * sxy - sx * sy
        val den = n * sx2 - sx * sx
        if (den != 0L)
          assert(r.getAs[Long]("slope_micro_per_bucket") ==
            halfUpSigned(num, den), s"source $src")
      }
    }
  }

  test("q260 integrity: clean corpus, norm envelope ordered, totals match") {
    val rows = Similarity.embeddingIntegrity(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ==
      Tables.embeddings(spark, dir).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_zero_norm") == 0L)
      assert(r.getAs[Long]("n_nonfinite") == 0L)
      assert(r.getAs[Long]("n_dup_vectors") == 0L)
      val mn = r.getAs[Long]("min_norm_micro")
      val me = r.getAs[Long]("mean_norm_micro")
      val mx = r.getAs[Long]("max_norm_micro")
      assert(mn > 0L && mn <= me && me <= mx)
    }
  }

  test("q261 gap moments recount exactly from the raw timestamps") {
    val rows = Events.interArrivalStats(spark, dir).collect()
    val events = Tables
      .events(spark, dir)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("us"),
        r.getAs[Long]("event_id")))
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val us = events.filter(_._1 == t).map(e => (e._2, e._3)).sorted.map(_._1)
      val gaps = us.zip(us.tail).map { case (a, b) => b - a }
      assert(r.getAs[Long]("n_gaps") == gaps.length.toLong)
      val n = gaps.length
      val mean = gaps.sum.toDouble / n
      assert(r.getAs[Long]("mean_gap_us_milli") ==
        (2L * gaps.sum * 1000L + n) / (2L * n))
      val varr = (gaps.map(g => g.toDouble * g).sum - gaps.sum.toDouble *
        gaps.sum / n) / n
      val cv2 = varr / (mean * mean)
      assert(math.abs(r.getAs[Long]("cv2_micro") - cv2 * 1e6) <= 2L, s"$t")
      // near-uniform random arrivals are near-Poisson: CV2 in a sane band
      assert(cv2 > 0.3 && cv2 < 3.0, s"$t cv2 $cv2")
    }
  }
}
