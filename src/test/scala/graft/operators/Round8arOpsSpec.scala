package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the weighted-Jaccard/blocking/normalization
  * wave (q346, q347, q348).
  */
class Round8arOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q346 unweighted column matches q21 on the shared pairs") {
    val wj = Dedup.weightedJaccardPairs(spark, dir).collect()
    val plain = Dedup.ngramJaccardPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    wj.foreach { r =>
      val k = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val j = r.getAs[Long]("jaccard_ppm")
      val w = r.getAs[Long]("wjaccard_milli")
      // the seam's rounded double and the exact half-up ppm agree to
      // within one micro on every pair
      plain.get(k).foreach(pj =>
        assert(math.abs(pj * 1e6 - j) <= 1.0 + 1e-6))
      assert(w >= 0L && w <= 1000L)
      assert(r.getAs[Boolean]("flipped") ==
        ((j >= 500000L) != (w >= 500L)))
    }
  }

  test("q347 completeness-reduction frontier is coherent") {
    val rows = Dedup.blockingQuality(spark, dir).collect()
    assert(rows.map(_.getAs[String]("scheme")).sorted.sameElements(
      Array("first_token", "length_bucket", "minhash_bands")))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_covered") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("completeness_ppm") <= 1000000L)
      assert(r.getAs[Long]("reduction_ppm") <= 1000000L)
    }
    // minhash bands must dominate naive blockers on reduction while
    // keeping near-total completeness (the reason LSH exists)
    val by = rows.map(r => r.getAs[String]("scheme") -> r).toMap
    assert(by("minhash_bands").getAs[Long]("reduction_ppm") >=
      by("length_bucket").getAs[Long]("reduction_ppm"))
    assert(by("minhash_bands").getAs[Long]("completeness_ppm") >= 900000L)
  }

  test("q348 stages are monotone: more normalization, fewer distincts") {
    val rows = Dedup.normalizationLift(spark, dir)
      .orderBy(col("stage")).collect()
    assert(rows.length == 4)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_distinct") <= a.getAs[Long]("n_distinct"))
      assert(b.getAs[Long]("docs_in_dups") >= a.getAs[Long]("docs_in_dups"))
      assert(b.getAs[Long]("dup_ppm") >= a.getAs[Long]("dup_ppm"))
    }
  }
}
