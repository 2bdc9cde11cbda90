package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the entropy-rate/rate-matching/order-ACF
  * wave (q331, q332, q333).
  */
class Round8amOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q331 entropies bounded by ln(k), pi partitions, rate is convex") {
    val rows = Events.entropyRate(spark, dir).collect()
    val k = rows.length
    val piSum = rows.map(_.getAs[Long]("pi_ppm")).sum
    assert(math.abs(piSum - 1000000L) <= k)
    val maxH = math.round(math.log(k.toDouble) * 1e3)
    rows.foreach { r =>
      assert(r.getAs[Long]("h_milli") >= 0L)
      assert(r.getAs[Long]("h_milli") <= maxH + 1)
      assert(r.getAs[Long]("rate_milli") ==
        rows.head.getAs[Long]("rate_milli"))
    }
    // rate is a convex combination of row entropies
    val hs = rows.map(_.getAs[Long]("h_milli"))
    val rate = rows.head.getAs[Long]("rate_milli")
    assert(rate >= hs.min - 1 && rate <= hs.max + 1)
  }

  test("q332 matched thresholds realize the global rate per language") {
    val rows = Sampling.rateMatchedThresholds(spark, dir).collect()
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .join(TextAnalysis.qualityScores(spark, dir)
        .select(col("doc_id"), round(col("quality") * 1e6)
          .cast("long").as("qm")), "doc_id")
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("qm")))
    val bign = scored.length
    val kept = scored.count(_._2 >= 300000L)
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val xs = scored.filter(_._1 == lang).map(_._2)
      val keptL = kept.toLong * xs.length / bign // floor
      val passed = xs.count(_ >= r.getAs[Long]("thr_micro"))
      // threshold semantics pass AT LEAST the matched count (ties
      // can only add)
      assert(passed >= keptL)
      assert(r.getAs[Long]("n") == xs.length)
    }
  }

  test("q333 ACF recounts at lag 1 against a driver computation") {
    val rows = Sampling.qualityOrderAcf(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("lag")).sorted.sameElements(
      Array(1L, 10L, 100L)))
    val qm = Tables.documents(spark, dir)
      .select(col("doc_id"))
      .join(TextAnalysis.qualityScores(spark, dir)
        .select(col("doc_id"), round(col("quality") * 1e6)
          .cast("long").as("qm")), "doc_id")
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("qm"))
      .toMap
    val m = math.round(qm.values.sum.toDouble / qm.size)
    val d = qm.view.mapValues(_ - m).toMap
    val den = d.values.map(x => x * x).sum
    val num = d.keys.toSeq.flatMap(i =>
      d.get(i + 1).map(dl => d(i) * dl)).sum
    val expect = math.round(num.toDouble / den * 1e6)
    val got = rows.find(_.getAs[Long]("lag") == 1L).get
      .getAs[Long]("acf_micro")
    assert(got == expect)
  }
}
