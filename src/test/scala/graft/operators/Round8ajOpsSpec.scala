package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the fairness/recapture/triplet wave (q322,
  * q323, q324).
  */
class Round8ajOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q322 battery covers all cells, BH rejects form a prefix") {
    val rows = TextAnalysis.gateFairnessBattery(spark, dir).collect()
    assert(rows.length == 80) // 4 gates x 20 sources
    val sorted = rows.sortBy(_.getAs[Long]("bh_rank"))
    val rejected = sorted.takeWhile(_.getAs[Boolean]("rejected"))
    assert(sorted.drop(rejected.length)
      .forall(!_.getAs[Boolean]("rejected")))
    rows.foreach { r =>
      assert(r.getAs[Long]("p_micro") >= 0L)
      assert(r.getAs[Long]("p_micro") <= 1000000L)
      assert(r.getAs[Long]("k_s") <= r.getAs[Long]("n_s"))
    }
    // z sign must match the rate comparison
    rows.foreach { r =>
      val d = r.getAs[Long]("rate_ppm") - r.getAs[Long]("rest_ppm")
      val z = r.getAs[Long]("z_milli")
      if (math.abs(d) > 2) assert(d.sign == z.sign || z == 0L)
    }
  }

  test("q323 Chapman bounds and overlap identities hold") {
    val r = Dedup.captureRecapture(spark, dir).collect().head
    val nA = r.getAs[Long]("n_a"); val nB = r.getAs[Long]("n_b")
    val nBoth = r.getAs[Long]("n_both")
    val nUnion = r.getAs[Long]("n_union")
    assert(nBoth <= math.min(nA, nB))
    assert(nUnion == nA + nB - nBoth)
    // the estimate can never fall below what was actually caught
    assert(r.getAs[Long]("chapman_milli") >= (nUnion - 1) * 1000L)
    assert(r.getAs[Long]("caught_ppm") <= 1000100L)
  }

  test("q324 triplets bounded by corpus, violation rate in range") {
    val rows = Similarity.tripletViolations(spark, dir).collect()
    val n = Tables.embeddings(spark, dir).count()
    val total = rows.map(_.getAs[Long]("n_triplets")).sum
    assert(total <= n)
    assert(total >= n - 10) // only the tail ids can drop
    rows.foreach { r =>
      assert(r.getAs[Long]("n_violated") <= r.getAs[Long]("n_triplets"))
      assert(r.getAs[Long]("violation_ppm") <= 1000000L)
    }
  }
}
