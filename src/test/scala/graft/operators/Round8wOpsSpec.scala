package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the calendar/normality/review batch (q280,
  * q281, q282).
  */
class Round8wOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q280 cells recount, dow is ISO, totals conserve") {
    val rows = Events.calendarProfile(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.events(spark, dir).count())
    rows.foreach { r =>
      val d = r.getAs[Long]("dow"); val h = r.getAs[Long]("hod")
      assert(d >= 1L && d <= 7L)
      assert(h >= 0L && h <= 23L)
    }
    // ISO check on one concrete timestamp: 2024-01-01 was a Monday
    val monday = Tables
      .events(spark, dir)
      .filter(to_date(col("ts")) === "2024-01-01")
      .count()
    if (monday > 0) {
      // all those events must land in dow=1 cells; recount their mass
      val mondayCells = Tables
        .events(spark, dir)
        .filter(date_format(col("ts"), "EEEE") === "Monday")
        .count()
      val dow1 = rows.filter(_.getAs[Long]("dow") == 1L)
        .map(_.getAs[Long]("n")).sum
      assert(dow1 == mondayCells)
    }
  }

  test("q281 moments recount against a naive driver computation") {
    val rows = Sampling.qualityNormalityAudit(spark, dir).collect()
    val q = TextAnalysis
      .qualityMicroScores(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("q_micro"))
      .toMap
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .collect()
      .map(r => (r.getAs[String]("source"), q(r.getAs[Long]("doc_id"))))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val qs = docs.filter(_._1 == src).map(_._2)
      val n = qs.length
      val meanMicro = (2 * qs.sum + n) / (2L * n)
      val d = qs.map(x => (x - meanMicro).toDouble / 1e6)
      val m2 = d.map(x => x * x).sum / n
      val m3 = d.map(x => x * x * x).sum / n
      val m4 = d.map(x => x * x * x * x).sum / n
      val g1 = m3 / (m2 * math.sqrt(m2))
      val g2 = m4 / (m2 * m2) - 3.0
      val jb = n / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
      assert(math.abs(r.getAs[Long]("skew_micro") - g1 * 1e6) <= 2.0, src)
      assert(math.abs(r.getAs[Long]("ex_kurtosis_micro") - g2 * 1e6) <= 2.0)
      assert(math.abs(r.getAs[Long]("jb_milli") - jb * 1e3) <= 2.0)
      assert(r.getAs[Boolean]("non_normal") == (jb > 5.991))
    }
  }

  test("q282 picks are deterministic, banded, and 3 per non-empty band") {
    val rows = Dedup.reviewBatch(spark, dir).collect()
    val pairs = Dedup
      .ngramJaccardPairs(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard")))
    val jByPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    val byBand = pairs.groupBy(p => math.min(math.floor(p._3 * 10).toLong, 9L))
    rows.groupBy(_.getAs[Long]("band")).foreach { case (b, rs) =>
      val expected = math.min(3, byBand(b).size)
      assert(rs.length == expected, s"band $b")
      rs.foreach { r =>
        // the band derives from the internal rounded double; the
        // emitted similarity is the exact ppm twin (within 1 ulp of
        // the seam's round-6 double)
        val j = jByPair((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
        assert(math.min(math.floor(j * 10).toLong, 9L) == b)
        assert(math.abs(r.getAs[Long]("jaccard_ppm") -
          math.round(j * 1e6)) <= 1L)
      }
      // picks dense from 1
      assert(rs.map(_.getAs[Int]("pick")).sorted.toSeq == (1 to rs.length))
    }
    // a second run returns the identical batch (determinism)
    val again = Dedup.reviewBatch(spark, dir).collect()
    assert(again.map(r => (r.getAs[Long]("band"), r.getAs[Int]("pick"),
      r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).sortBy(identity).toSeq ==
      rows.map(r => (r.getAs[Long]("band"), r.getAs[Int]("pick"),
        r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).sortBy(identity).toSeq)
  }
}
