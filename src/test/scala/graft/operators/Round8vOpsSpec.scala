package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the stream-transitions/histogram/KS batch
  * (q277, q278, q279).
  */
class Round8vOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q277 drained stream equals the batch q262 row-for-row") {
    val stream = graft.streaming.EventStreams
      .streamTransitionCounts(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n"), r.getAs[Long]("p_micro")))
      .sortBy(t => (t._1, t._2))
    val batch = Events
      .eventTransitions(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n"), r.getAs[Long]("p_micro")))
      .sortBy(t => (t._1, t._2))
    assert(stream.toSeq == batch.toSeq)
  }

  test("q278 histogram covers all lattice pairs with exact bins") {
    val rows = Similarity.cosineHistogram(spark, dir).collect()
    val vecs = Tables
      .embeddings(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val naive = (for {
      (id, v) <- vecs.toSeq
      s <- 1 to 16
      w <- vecs.get(id + s)
    } yield {
      val c = cos(v, w)
      math.min(math.floor((c + 1.0) / 2.0 * 20).toLong, 19L)
    }).groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == naive.values.sum)
    rows.foreach { r =>
      assert(naive(r.getAs[Long]("bin")) == r.getAs[Long]("n_pairs"),
        s"bin ${r.getAs[Long]("bin")}")
    }
    val shares = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(math.abs(shares - 1000000L) <= rows.length.toLong)
  }

  test("q279 KS matches a driver-side exact two-sample computation") {
    val rows = Sampling.sourceQualityKs(spark, dir).collect()
    val q = TextAnalysis
      .qualityScores(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        BigDecimal(r.getAs[Double]("quality"))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .toMap
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .collect()
      .map(r => (r.getAs[String]("source"), q(r.getAs[Long]("doc_id"))))
    val all = docs.map(_._2).sorted
    val bigN = all.length
    def ecdf(sorted: Array[Double], x: Double): Double = {
      // fraction <= x
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val m = (lo + hi) / 2
        if (sorted(m) <= x) lo = m + 1 else hi = m
      }
      lo.toDouble / sorted.length
    }
    def ecdfBefore(sorted: Array[Double], x: Double): Double = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val m = (lo + hi) / 2
        if (sorted(m) < x) lo = m + 1 else hi = m
      }
      lo.toDouble / sorted.length
    }
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val sVals = docs.filter(_._1 == src).map(_._2).sorted
      val d = sVals.map { v =>
        math.max(
          math.abs(ecdf(sVals, v) - ecdf(all, v)),
          math.abs(ecdfBefore(sVals, v) - ecdfBefore(all, v))
        )
      }.max
      assert(math.abs(r.getAs[Long]("ks_micro") - d * 1e6) <= 2.0, s"$src")
      val crit = 1.358 * math.sqrt((sVals.length + bigN).toDouble /
        (sVals.length.toLong * bigN))
      assert(math.abs(r.getAs[Long]("crit_micro") - crit * 1e6) <= 2.0)
      assert(r.getAs[Boolean]("drifted") == (d > crit))
    }
  }
}
