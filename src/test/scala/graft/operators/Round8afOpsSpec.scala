package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the holdout/drift/Bloom wave (q310, q311,
  * q312).
  */
class Round8afOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q310 every cell meets its floor and counts reconcile") {
    val rows = Sampling.coverageHoldout(spark, dir).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_cell")
      val k = r.getAs[Long]("k_target")
      assert(k == math.min(n, math.max(5L, math.round(n * 0.05))))
      assert(r.getAs[Long]("n_held") == k)
      assert(r.getAs[Boolean]("target_met"))
    }
    // cells partition the corpus
    assert(rows.map(_.getAs[Long]("n_cell")).sum ==
      Tables.documents(spark, dir).count())
  }

  test("q311 recounts a dimension against a driver computation") {
    val rows = Similarity.embeddingSnapshotDrift(spark, dir).collect()
    assert(rows.length == 64)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")))
    val d0a = vecs.filter(_._1 % 2 == 0).map(_._2.head.toDouble)
    val d0b = vecs.filter(_._1 % 2 != 0).map(_._2.head.toDouble)
    val r0 = rows.find(_.getAs[Int]("dim") == 0).get
    assert(r0.getAs[Long]("n_a") == d0a.length)
    assert(math.abs(r0.getAs[Long]("mean_a_micro") -
      math.round(d0a.sum / d0a.length * 1e6)) <= 1L)
    assert(math.abs(r0.getAs[Long]("mean_b_micro") -
      math.round(d0b.sum / d0b.length * 1e6)) <= 1L)
    assert(r0.getAs[Long]("delta_micro") != Long.MinValue)
  }

  test("q312 sizing formulas recount and scale with stricter fpp") {
    val rows = Sketches.bloomSizingPlan(spark, dir).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_keys").toDouble
      val p = r.getAs[Long]("fpp_ppm").toDouble / 1e6
      val bits = math.ceil(-n * math.log(p) / (math.log(2) * math.log(2)))
      assert(r.getAs[Long]("bits") == bits.toLong)
      assert(r.getAs[Long]("k_hashes") ==
        math.round(r.getAs[Long]("bits") / n * math.log(2)))
    }
    // 0.1% filter strictly larger than 1% for the same source
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val by = rs.map(r => r.getAs[Long]("fpp_ppm") -> r.getAs[Long]("bits")).toMap
      assert(by(1000L) > by(10000L))
    }
  }
}
