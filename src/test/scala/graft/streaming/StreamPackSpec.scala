package graft.streaming

import graft.SparkSpec
import graft.operators.{Clustering, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-8 online/shape batch
  * (q231, q232, q233, q234).
  */
class StreamPackSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q231 drained online packer equals the batch q53 layout") {
    val drained = StreamPack
      .streamPackWindows(spark, dir)
      .collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("cum_tokens"), r.getAs[Long]("window_id")))
      .toMap
    val batch = TextAnalysis
      .packWindows(spark, dir)
      .collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("cum_tokens"), r.getAs[Long]("window_id")))
      .toMap
    assert(drained == batch,
      "one cursor of state per language must replay the batch cumsum")
  }

  test("q232 shard balance: mass conserves, even-share ratios center on 1") {
    val rows = Sampling.shardBalance(spark, dir).collect()
    assert(rows.length == 8)
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    // exact twin of the engine's two-step integer form:
    // even = halfUp(total/8); ppm = halfUp(n_tokens·1e6/even)
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    val even = halfUp(total, 8L)
    // Σ shard_ppm ≈ 8·1e6, slack = the even-share half-unit rounding
    // amplified by 1e6/even, plus one ulp per shard ratio
    val ppmSum = rows.map(_.getAs[Long]("balance_ppm")).sum
    assert(math.abs(ppmSum - 8000000L) <= 8L + 8000000L / even)
    rows.foreach { r =>
      val want = halfUp(r.getAs[Long]("n_tokens") * 1000000L, even)
      assert(r.getAs[Long]("balance_ppm") == want)
    }
  }

  test("q233 buckets are powers of two and waste is in (0, 1)") {
    val rows = TextAnalysis.batchShapeHistogram(spark, dir).collect()
    rows.foreach { r =>
      val k = r.getAs[Long]("bucket")
      val cap = r.getAs[Long]("cap")
      assert(cap == (1L << (k + 1)))
      val sum = r.getAs[Long]("sum_tokens")
      val n = r.getAs[Long]("n_docs")
      // every doc in bucket k has length in [2^k, 2^(k+1))
      assert(sum >= n * (1L << k) && sum < n * cap)
      val w = r.getAs[Long]("waste_ppm")
      assert(w > 0 && w < 1000000L)
    }
  }

  test("q234 ANOVA F matches a driver-side recompute on sample dims") {
    val vecs = graft.Tables
      .embeddings(spark, dir)
      .select(col("label"), col("embedding"))
      .collect()
      .map(r =>
        r.getInt(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
    val out = Clustering
      .labelSeparability(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("dim") -> r)
      .toMap
    assert(out.size == vecs.head._2.length)
    Seq(0, 7, 31, 63).foreach { d =>
      val byLabel = vecs.groupBy(_._1).view.mapValues(_.map(_._2(d).toDouble))
      val g = byLabel.size
      val n = vecs.length
      val t = byLabel.values.map(_.sum).sum
      val sw = byLabel.values.map(v => math.pow(v.sum, 2) / v.size).sum
      val ss = byLabel.values.flatMap(_.map(x => x * x)).sum
      val f = ((sw - t * t / n) / (g - 1)) / ((ss - sw) / (n - g))
      val want = math.round(f * 1e6)
      assert(math.abs(out(d.toLong).getAs[Long]("f_micro") - want) <= 2L,
        s"dim $d F drift")
      assert(out(d.toLong).getAs[Long]("n_labels") == g.toLong)
    }
  }
}
