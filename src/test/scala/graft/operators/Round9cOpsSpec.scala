package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 second wave (q364-q366):
  * boilerplate prefixes, duplicate-mass concentration, type
  * co-occurrence lift.
  */
class Round9cOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q364 prefixes: ranks dense 1..3, shares bounded by rank order") {
    val rows = TextAnalysis.boilerplatePrefixes(spark, dir).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length))
      // counts non-increasing with rank
      val counts = byRank.map(_.getAs[Long]("n_prefix"))
      counts.zip(counts.tail).foreach { case (a, b) =>
        assert(a >= b, s"$src counts not ranked")
      }
      rs.foreach(r => assert(r.getAs[Long]("share_ppm") <= 1000000L))
    }
  }

  test("q365 concentration: monotone in k, total at the top lattice point") {
    val rows = Dedup
      .dupMassConcentration(spark, dir)
      .collect()
      .sortBy(_.getAs[Long]("k"))
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(1L, 5L, 25L, 125L))
    val shares = rows.map(_.getAs[Long]("share_ppm"))
    shares.zip(shares.tail).foreach { case (a, b) => assert(a <= b) }
    rows.foreach { r =>
      assert(r.getAs[Long]("clusters_in_topk") <=
        math.min(r.getAs[Long]("k"), r.getAs[Long]("n_clusters")))
      assert(r.getAs[Long]("removable_in_topk") <=
        r.getAs[Long]("total_removable"))
    }
    // once k >= n_clusters the whole mass is covered
    rows.filter(r => r.getAs[Long]("k") >= r.getAs[Long]("n_clusters"))
      .foreach(r => assert(r.getAs[Long]("share_ppm") == 1000000L))
  }

  test("q366 lift recounts against a driver-side independence model") {
    val rows = Events.typeCooccurrenceLift(spark, dir).collect()
    assert(rows.nonEmpty)
    val ctx = Tables
      .events(spark, dir)
      .select(
        concat_ws("#", col("user_id").cast("string"),
          unix_micros(date_trunc("hour", col("ts"))).cast("string"))
          .as("ctx"),
        col("event_type"))
      .distinct()
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = ctx.map(_._1).distinct.length.toLong
    val singles = ctx.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCount = ctx
      .groupBy(_._1)
      .values
      .flatMap { g =>
        val ts = g.map(_._2).sorted
        for (i <- ts.indices; j <- i + 1 until ts.length)
          yield (ts(i), ts(j))
      }
      .groupBy(identity)
      .view
      .mapValues(_.size.toLong)
      .toMap
    def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    rows.foreach { r =>
      val a = r.getAs[String]("type_a"); val b = r.getAs[String]("type_b")
      assert(r.getAs[Long]("n_a") == singles(a))
      assert(r.getAs[Long]("n_b") == singles(b))
      assert(r.getAs[Long]("n_ab") == pairCount((a, b)))
      assert(r.getAs[Long]("lift_milli") ==
        halfUp(pairCount((a, b)) * n * 1000L, singles(a) * singles(b)))
    }
  }
}
