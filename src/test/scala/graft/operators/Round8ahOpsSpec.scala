package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the attribution/AMS/Kruskal-Wallis wave
  * (q316, q317, q318).
  */
class Round8ahOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q316 attributes exactly the burst hours, ranks well-formed") {
    val rows = Events.burstAttribution(spark, dir).collect()
    val bursts = Events.burstFlags(spark, dir)
      .filter(col("burst"))
      .select(col("event_type"), col("hour_us")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_us")))
      .toSet
    val attributed = rows
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_us")))
      .toSet
    assert(attributed == bursts)
    rows.groupBy(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("hour_us")))
      .foreach { case (_, rs) =>
        val rks = rs.map(_.getAs[Long]("rk")).sorted
        assert(rks.sameElements(1L to rks.length.toLong))
        assert(rks.length <= 3)
        // excesses are ranked descending
        val byRk = rs.sortBy(_.getAs[Long]("rk"))
          .map(_.getAs[Long]("excess_micro"))
        assert(byRk.sameElements(byRk.sorted.reverse))
      }
  }

  test("q317 AMS estimate is unbiased-shaped: error within envelope") {
    val rows = Sketches.amsF2Audit(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("f2_exact") > 0L)
      assert(r.getAs[Long]("f2_est") > 0L)
      // R=64 gives rel std ~ sqrt(2/64) ~ 18%; allow a generous 80%
      assert(r.getAs[Long]("err_ppm") < 800000L)
    }
    // median error across sources should be comfortably tighter
    val errs = rows.map(_.getAs[Long]("err_ppm")).sorted
    assert(errs(errs.length / 2) < 300000L)
  }

  test("q318 rank sums conserve and H recounts from the output") {
    val rows = Sampling.kruskalWallis(spark, dir).collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    // doc-weighted mean of mean-ranks = (N+1)/2
    val wmean = rows.map(r =>
      r.getAs[Long]("n") * r.getAs[Long]("mean_rank_milli").toDouble).sum /
      (n * 1000.0)
    assert(math.abs(wmean - (n + 1) / 2.0) < 1.0)
    // the omnibus columns are identical on every row
    assert(rows.map(_.getAs[Long]("hc_milli")).distinct.length == 1)
    assert(rows.head.getAs[Long]("df") == rows.length - 1L)
    // corrected H >= raw H (ties only shrink the denominator)
    assert(rows.head.getAs[Long]("hc_milli") >=
      rows.head.getAs[Long]("h_milli"))
  }
}
