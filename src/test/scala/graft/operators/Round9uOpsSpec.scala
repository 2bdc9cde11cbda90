package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twentieth wave (q418-q420): KMV
  * set algebra, component concordance, admission receipt.
  */
class Round9uOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q418 algebra: exact identities hold, estimates near exact") {
    val rows = Sketches.kmvSetAlgebra(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ndA = r.getAs[Long]("nd_a")
      val ndB = r.getAs[Long]("nd_b")
      val inter = r.getAs[Long]("exact_inter")
      val union = r.getAs[Long]("exact_union")
      assert(union == ndA + ndB - inter)
      assert(inter <= math.min(ndA, ndB))
      assert(union >= math.max(ndA, ndB))
      // union estimate bounded below by the larger single estimate
      // isn't guaranteed by KMV, but closeness to exact is: at these
      // cardinalities (hundreds-thousands) k=64 gives ~12% std err;
      // accept 3 sigma
      val estU = r.getAs[Double]("est_union")
      assert(estU > 0.0)
      assert(math.abs(estU - union) / union < 0.5,
        s"${r.getAs[String]("src_a")}x${r.getAs[String]("src_b")}: " +
          s"est=$estU exact=$union")
      // inclusion-exclusion in the emitted columns
      assert(math.abs(r.getAs[Double]("est_inter") -
        (r.getAs[Double]("est_a") + r.getAs[Double]("est_b") - estU))
        < 1e-9)
    }
  }

  test("q419 concordance: three rows over the same 2016 pairs") {
    val rows = TextAnalysis.componentConcordance(spark, dir).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("component_pair")).sorted
      .sameElements(Array("len_vs_punct", "len_vs_stop",
        "stop_vs_punct")))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") == 64L * 63 / 2)
      val parts = r.getAs[Long]("concordant") +
        r.getAs[Long]("discordant") + r.getAs[Long]("ties")
      assert(parts == r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("tau_num") ==
        r.getAs[Long]("concordant") - r.getAs[Long]("discordant"))
    }
  }

  test("q420 receipt: reconciles with the manifest; membership-sensitive") {
    val rows = Sampling.admissionReceipt(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val manifest = Sampling.round9Manifest(spark, dir).collect()
    assert(r.getAs[Long]("n_admitted") ==
      manifest.map(_.getAs[Long]("n_admitted")).sum)
    assert(r.getAs[Long]("admitted_tokens") ==
      manifest.map(_.getAs[Long]("admitted_tokens")).sum)
    // driver recount of the modular receipt over the admitted set
    val admitted = Sampling.round9AdmittedDocs(spark, dir)
      .filter(col("admitted") === 1L)
      .select(col("doc_id"),
        pmod(graft.functions.TextFunctions.hash60(col("doc_id")),
          lit(1000000L)).as("m"))
      .collect()
    assert(r.getAs[Long]("receipt_mod") ==
      admitted.map(_.getAs[Long]("m")).sum)
    // removing any one doc moves the receipt unless its residue is 0
    val nonZero = admitted.filter(_.getAs[Long]("m") != 0L)
    assert(nonZero.nonEmpty)
  }
}
