package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the savings/paths/consistency wave (q349,
  * q350, q351).
  */
class Round8asOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q349 removed docs reconcile with the cluster ledger") {
    val rows = Dedup.dedupTokenSavings(spark, dir).collect()
    // total removed = docs in clusters minus one survivor per cluster
    val clusters = Dedup.dedupClusters(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      .collect().map(_.getAs[Long]("n"))
    val expectedRemoved = clusters.map(_ - 1).sum
    assert(rows.map(_.getAs[Long]("docs_removed")).sum == expectedRemoved)
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, dir).count())
    rows.foreach(r =>
      assert(r.getAs[Long]("removed_ppm") <= 1000000L))
  }

  test("q350 paths chain through the transition matrix support") {
    val rows = Events.eventPaths(spark, dir).collect()
    rows.groupBy(_.getAs[String]("step1")).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      val byRk = rs.sortBy(_.getAs[Long]("rk"))
      byRk.sliding(2).foreach { case Array(a, b) =>
        assert(b.getAs[Long]("n") <= a.getAs[Long]("n"))
        case _ =>
      }
    }
    // every emitted 3-path implies its two transitions exist in q262
    val tr = Events.eventTransitions(spark, dir).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")))
      .toSet
    rows.foreach { r =>
      assert(tr((r.getAs[String]("step1"), r.getAs[String]("step2"))))
      assert(tr((r.getAs[String]("step2"), r.getAs[String]("step3"))))
    }
  }

  test("q351 zh expects CJK and latin langs expect Latin") {
    val rows = TextAnalysis.scriptLangConsistency(spark, dir).collect()
    assert(rows.map(_.getAs[String]("lang")).toSet.contains("en"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_inconsistent") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("inconsistent_ppm") <= 1000000L)
    }
    // the synthetic corpus writes every lang in Latin tokens, so zh
    // (if present) must flag at ~100% and en at ~0 — the rule works
    rows.find(_.getAs[String]("lang") == "en").foreach(r =>
      assert(r.getAs[Long]("inconsistent_ppm") < 100000L))
  }
}
