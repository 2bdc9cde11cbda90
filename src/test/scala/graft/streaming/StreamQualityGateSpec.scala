package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, QualityLR, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q217 (streaming LR admission) and q218 (cluster quality spread)
  * behavioral specs.
  */
class StreamQualityGateSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q217 drained stream equals batch scoring with the same model") {
    val drained = StreamQualityGate
      .streamLrAdmission(spark, dir)
      .collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("z_pico"), r.getAs[Boolean]("admitted")))
      .toMap
    // batch twin: q180's exact integer keys, the mean-z cut applied
    // as the same exact signed comparison z·n >= Σz (round-9 seam:
    // no float enters the score or the cut on either side)
    val scored = QualityLR
      .lrQualityGate(spark, dir)
      .select(col("doc_id"), col("z_pico"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val sumZ = scored.values.map(BigInt(_)).sum
    val n = scored.size
    assert(drained.keySet == scored.keySet, "one verdict per document")
    scored.foreach { case (id, z) =>
      assert(drained(id)._1 == z, s"doc $id score drift")
      assert(drained(id)._2 == (BigInt(z) * n >= sumZ), s"doc $id admission")
    }
    val admitted = drained.values.count(_._2)
    assert(admitted > 0 && admitted < drained.size,
      "the mean cut must split the corpus")
  }

  test("q218 spread bounds hold and clusters match q72's multi-doc set") {
    val rows = Dedup.clusterQualitySpread(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("cluster_size") >= 2L)
      val lo = r.getAs[Long]("q_min_micro")
      val hi = r.getAs[Long]("q_max_micro")
      assert(lo <= hi)
      assert(r.getAs[Long]("q_spread_micro") == hi - lo)
    }
    val multiClusters = Dedup
      .dedupClusters(spark, dir)
      .filter(col("cluster_size") >= 2)
      .select(col("cluster_id"))
      .distinct()
      .count()
    assert(rows.length.toLong == multiClusters,
      "one row per multi-document cluster")
    // the q78 survivor's quality must equal the cluster max
    val best = Dedup
      .canonicalDocs(spark, dir)
      .collect()
      .map(r =>
        r.getAs[Long]("cluster_id") -> r.getAs[Long]("keep_q_micro"))
      .toMap
    rows.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      assert(best(cid) == r.getAs[Long]("q_max_micro"),
        s"cluster $cid survivor quality is the max member quality")
    }
  }
}
