package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the segmentation/CUSUM/PII wave (q307,
  * q308, q309).
  */
class Round8aeOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q307 segments are disjoint, in-range, and energy-gated") {
    val rows = Multimodal.audioSegments(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("seg_start") <= r.getAs[Long]("seg_end"))
      assert(r.getAs[Long]("n_windows") ==
        r.getAs[Long]("seg_end") - r.getAs[Long]("seg_start") + 1)
      // gated mean can't dip below the gate
      assert(r.getAs[Long]("mean_energy_milli") >= 100L)
      assert(r.getAs[Long]("mean_energy_milli") <= 999L)
    }
    // disjoint and separated by at least one dropped window per doc
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, segs) =>
      segs.sortBy(_.getAs[Long]("seg_start")).sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("seg_start") > a.getAs[Long]("seg_end") + 1)
        case _ =>
      }
    }
  }

  test("q308 closed form equals the sequential CUSUM recursion") {
    val rows = Events.cusumShifts(spark, dir).collect()
    // driver recount: replay the recursion per type over the dense
    // hourly series and compare the path maximum
    val counts = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("x"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("h"),
        r.getAs[Long]("x")))
    counts.groupBy(_._1).foreach { case (tp, rs) =>
      val byH = rs.map(t => t._2 -> t._3).toMap
      val hs = byH.keys.min to byH.keys.max
      val xs = hs.map(h => byH.getOrElse(h, 0L))
      val m = math.round(xs.sum.toDouble / xs.length * 1e3)
      val ds = xs.map(x => 1000L * x - m)
      var s = 0L; var smax = 0L
      ds.foreach { d => s = math.max(0L, s + d); smax = math.max(smax, s) }
      val row = rows.find(_.getAs[String]("event_type") == tp).get
      assert(row.getAs[Long]("max_cusum_milli") == smax)
      assert(row.getAs[Long]("n_hours") == xs.length.toLong)
    }
  }

  test("q309 census counts recount on a known synthetic row") {
    val rows = TextAnalysis.piiCensus(spark, dir).collect()
    // 4 pii types per source, affected <= docs, ppm in range
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[String]("pii_type")).sorted.sameElements(
        Array("email", "ip", "phone", "url")))
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("affected_ppm") >= 0L)
      assert(r.getAs[Long]("affected_ppm") <= 1000000L)
      assert(r.getAs[Long]("n_matches") >= r.getAs[Long]("docs_affected"))
    }
  }
}
