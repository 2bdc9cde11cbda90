package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 tenth wave (q469-q470):
  * part skyline, weekend DiD.
  */
class Round10jOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q469 skyline: matches the brute-force dominance check") {
    val rows = Relational.partSkyline(spark, dir).collect()
    assert(rows.nonEmpty)
    val pts = Tables
      .part(spark, dir)
      .select(round(col("p_retailprice") * 100).cast("long")
        .as("c"), col("p_size").cast("long").as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val distinctPts = pts.distinct
    val wantFrontier = distinctPts.filter { case (c, s) =>
      !distinctPts.exists { case (c2, s2) =>
        (c2 <= c && s2 >= s) && (c2 < c || s2 > s)
      }
    }.toSet
    val gotFrontier = rows
      .map(r => (r.getAs[Long]("price_cents"), r.getAs[Long]("size")))
      .toSet
    assert(gotFrontier == wantFrontier,
      s"frontier mismatch: extra=${gotFrontier -- wantFrontier} " +
        s"missing=${wantFrontier -- gotFrontier}")
    rows.foreach { r =>
      val n = pts.count(p => p._1 == r.getAs[Long]("price_cents") &&
        p._2 == r.getAs[Long]("size"))
      assert(r.getAs[Long]("n_parts") == n.toLong)
    }
    // frontier is strictly increasing in both coordinates
    val sorted = gotFrontier.toSeq.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((c1, s1), (c2, s2)) =>
        assert(c1 < c2 && s1 < s2,
          "skyline must be strictly monotone in both dims")
      case _ =>
    }
  }

  test("q470 DiD: cells partition the events; DiD identity holds") {
    val row = Events.weekendDid(spark, dir).collect()(0)
    val total = Tables.events(spark, dir).count()
    val ns = Seq("n_wd_h1", "n_wd_h2", "n_we_h1", "n_we_h2")
      .map(row.getAs[Long])
    assert(ns.sum == total, "the 2x2 cells partition the stream")
    assert(ns.forall(_ > 0), "30 days span all four cells")
    val did = (row.getAs[Long]("m_we_h2") - row.getAs[Long]("m_we_h1")) -
      (row.getAs[Long]("m_wd_h2") - row.getAs[Long]("m_wd_h1"))
    assert(row.getAs[Long]("did_micro") == did)
    // driver recomputation of one cell mean
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    val ev = Tables
      .events(spark, dir)
      .select((unix_micros(col("ts")) / lit(86400000000L))
        .cast("long").as("ed"),
        round(col("value") * 1e6).cast("long").as("vm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ed0 = ev.map(_._1).min
    val cell = ev.filter { case (ed, _) =>
      val wd = (((ed + 4) % 7) + 7) % 7
      (wd == 0 || wd == 6) && ed >= ed0 + 15
    }
    assert(row.getAs[Long]("n_we_h2") == cell.length.toLong)
    assert(row.getAs[Long]("m_we_h2") ==
      halfUp(cell.map(_._2).sum, cell.length.toLong))
  }
}
