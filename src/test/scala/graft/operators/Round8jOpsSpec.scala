package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the spectral/ranking/curriculum batch
  * (q241, q242, q243).
  */
class Round8jOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q241 PC1 is unit-norm and captures more variance than any axis") {
    val rows = Similarity.pc1Power(spark, dir).collect()
    assert(rows.length == 64)
    val v = rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("pc1"))
    val norm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"norm $norm")
    val lambda = rows.head.getAs[Long]("lambda_micro")
    val share = rows.head.getAs[Long]("var_share_micro")
    assert(lambda > 0L)
    assert(share > 0L && share <= 1000000L)
    // Rayleigh quotient of the iterate must dominate the best single
    // coordinate axis (power iteration only improves from v0): check
    // against per-dimension variances computed on the driver
    val vecs = Tables
      .embeddings(spark, dir)
      .collect()
      .map(_.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    val n = vecs.length
    val dims = vecs.head.length
    val axisVar = (0 until dims).map { d =>
      val xs = vecs.map(_(d))
      val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / n
    }.max
    assert(lambda >= math.round(axisVar * 1e6) - 5000L,
      s"lambda $lambda vs best axis ${math.round(axisVar * 1e6)}")
  }

  test("q242 RBO is 1e6 when rankings agree and weights head-heavy") {
    val rows = Similarity.rankAgreementRbo(spark, dir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val rbo = r.getAs[Long]("rbo_micro")
      val ov = r.getAs[Long]("overlap_k")
      assert(rbo >= 0L && rbo <= 1000001L)
      assert(ov >= 0L && ov <= 5L)
      // full overlap at every depth implies the max score (1 - p^k
      // of the truncated weights renormalized): with our truncated
      // head weights, perfect agreement gives sum(w_d) = 1 - 0.9^5
      if (ov == 5L) assert(rbo <= 409511L)
    }
    // self-agreement sanity: RBO of the exact ranking against itself
    // at depth 5 = sum of the weights = 1 - 0.9^5
    val wSum = (1 to 5).map(d => math.pow(0.9, d - 1) * 0.1).sum
    assert(math.abs(wSum - (1 - math.pow(0.9, 5))) < 1e-12)
  }

  test("q243 pacing is monotone in rank and ends at the full budget") {
    val rows = Sampling.curriculumPacing(spark, dir).collect()
    val n = rows.length
    val byRank = rows.sortBy(_.getAs[Long]("rank"))
    assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to n))
    // entry step monotone nondecreasing in rank, 0 at rank 1, T at rank n
    val steps = byRank.map(_.getAs[Long]("entry_step"))
    steps.zip(steps.tail).foreach { case (a, b) => assert(a <= b) }
    assert(steps.head == 0L)
    assert(steps.last == 10000L)
    // n_tokens nondecreasing along rank (the curriculum key)
    val toks = byRank.map(_.getAs[Long]("n_tokens"))
    toks.zip(toks.tail).foreach { case (a, b) => assert(a <= b) }
    // sqrt-competence shape: at half the budget, ~sqrt(1/2) of docs
    // are admitted (exact off-by-one tolerated)
    val admittedAtHalf = steps.count(_ <= 5000L)
    val expected = math.sqrt(0.5) * n
    assert(math.abs(admittedAtHalf - expected) <= 2.0,
      s"$admittedAtHalf vs $expected")
  }
}
