package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the power/standardization/Shapley wave
  * (q298, q299, q300).
  */
class Round8abOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q298 formula recounts and flag is consistent") {
    val rows = Sampling.samplePowerAudit(spark, dir).collect()
    rows.foreach { r =>
      val v = r.getAs[Long]("var_micro2").toDouble
      val expect = math.ceil(2.8016 * 2.8016 * v / 1e8)
      // var_micro2 is itself rounded, so allow the ceil to move by 1
      assert(math.abs(r.getAs[Long]("n_needed") - expect) <= 1L)
      assert(r.getAs[Boolean]("underpowered") ==
        (r.getAs[Long]("n") < r.getAs[Long]("n_needed")))
    }
  }

  test("q299 expectation is a convex combination of stratum means") {
    val rows = Sampling.compositionAdjustedQuality(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("raw_gap_micro") ==
        r.getAs[Long]("actual_micro") - r.getAs[Long]("corpus_micro"))
      assert(r.getAs[Long]("adj_gap_micro") ==
        r.getAs[Long]("actual_micro") - r.getAs[Long]("expected_micro"))
      // expected lies inside the observed quality range
      assert(r.getAs[Long]("expected_micro") >= 0L)
      assert(r.getAs[Long]("expected_micro") <= 1000000L)
    }
    // composition-weighted corpus identity: the doc-weighted average
    // of expected means equals the corpus mean (up to rounding)
    val n = rows.map(_.getAs[Long]("n")).sum
    val wexp = rows.map(r =>
      r.getAs[Long]("n") * r.getAs[Long]("expected_micro")).sum.toDouble / n
    assert(math.abs(wexp - rows.head.getAs[Long]("corpus_micro")) < 3.0)
  }

  test("q300 efficiency: Shapley values sum exactly to the stack kill") {
    val rows = TextAnalysis.gateShapley(spark, dir).collect()
    assert(rows.length == 4)
    val n = rows.head.getAs[Long]("n")
    val killed = rows.head.getAs[Long]("killed_total")
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("killed_total") == killed)
      assert(r.getAs[Long]("shapley_24ths") >= 0L)
    }
    // the defining Shapley property, exact in 24ths
    assert(rows.map(_.getAs[Long]("shapley_24ths")).sum == 24L * killed)
  }

  test("q300 lattice weights are the Shapley coefficients") {
    val lat = TextAnalysis.gateShapleyLattice
    assert(lat.length == 32)
    // per gate: 8 subsets whose weights sum to 4!/4 = 24/... the
    // total over subsets of |S|!(3-|S|)!/24 is 1 (a distribution)
    lat.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.length == 8)
      assert(rs.map(_._6).sum == 24)
    }
  }
}
