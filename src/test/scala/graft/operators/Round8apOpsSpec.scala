package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the gate-drift/uplift/gap wave (q340, q341,
  * q342).
  */
class Round8apOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q340 half counts reconcile with the gate totals") {
    val rows = TextAnalysis.gatePassDrift(spark, dir).collect()
    assert(rows.length == 4)
    val mc = TextAnalysis.mcnemarGates(spark, dir).collect()
    // the lr+gopher gates cover every doc; their n1+n2 must equal
    // the full doc count
    val n = graft.Tables.documents(spark, dir).count()
    rows.filter(r => Seq("gopher", "lr")
      .contains(r.getAs[String]("gate"))).foreach { r =>
      assert(r.getAs[Long]("n1") + r.getAs[Long]("n2") == n)
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("k1") <= r.getAs[Long]("n1"))
      assert(r.getAs[Long]("k2") <= r.getAs[Long]("n2"))
      val d = r.getAs[Long]("rate1_ppm") - r.getAs[Long]("rate2_ppm")
      val z = r.getAs[Long]("z_milli")
      if (math.abs(d) > 2) assert(d.sign == z.sign || z == 0L)
    }
    assert(mc.nonEmpty) // gates surface exists
  }

  test("q341 uplift is nonnegative and best dominates members") {
    val rows = Dedup.survivorUplift(spark, dir).collect()
    rows.foreach { r =>
      // keep-the-best can never lose to keep-min-id in quality
      assert(r.getAs[Long]("uplift_micro") >= 0L)
      assert(r.getAs[Long]("best_micro") >= r.getAs[Long]("member_micro"))
      assert(r.getAs[Long]("size_band") >= 2L)
      assert(r.getAs[Long]("size_band") <= 5L)
    }
  }

  test("q342 coverage is monotone and ends at one") {
    val rows = Dedup.dupArrivalGaps(spark, dir)
      .orderBy(col("gap_digits")).collect()
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("coverage_ppm") >= a.getAs[Long]("coverage_ppm"))
    }
    assert(rows.last.getAs[Long]("coverage_ppm") == 1000000L)
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val truth = Dedup.ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5).count()
    assert(total == truth)
  }
}
