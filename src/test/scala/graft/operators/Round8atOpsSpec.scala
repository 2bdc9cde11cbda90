package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the runs/dwell/ordering wave (q352, q353,
  * q354).
  */
class Round8atOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q352 run counts recount against a driver scan") {
    val rows = Sampling.sourceRunLengths(spark, dir).collect()
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source"))
      .sortBy(_._1)
    val runStarts = docs.zipWithIndex.count { case ((id, s), i) =>
      i == 0 || docs(i - 1)._1 != id - 1 || docs(i - 1)._2 != s
    }
    assert(rows.map(_.getAs[Long]("n_runs")).sum == runStarts.toLong)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
  }

  test("q353 percentiles are ordered and masses match q262") {
    val rows = Events.transitionDwell(spark, dir).collect()
    val tr = Events.eventTransitions(spark, dir).collect()
      .map(r => (r.getAs[String]("from_type"),
        r.getAs[String]("to_type")) -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("p50_gap_s") <= r.getAs[Long]("p95_gap_s"))
      assert(r.getAs[Long]("p50_gap_s") >= 0L)
      val k = (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
      assert(r.getAs[Long]("n") == tr(k))
    }
  }

  test("q354 totals recount from the pattern table; rank is total order") {
    val rows = TextAnalysis.gateOrderingPlan(spark, dir).collect()
    assert(rows.length == 24)
    assert(rows.map(_.getAs[Long]("rank")).sorted.sameElements(1L to 24L))
    assert(rows.count(_.getAs[Boolean]("optimal")) == 1)
    val byRank = rows.sortBy(_.getAs[Long]("rank"))
    byRank.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("total_evals") <= b.getAs[Long]("total_evals"))
    }
    // every ordering evaluates at least n docs (stage 1) and at most
    // 4n (nothing ever killed)
    val shap = TextAnalysis.gateShapley(spark, dir).collect()
    val n = shap.head.getAs[Long]("n")
    rows.foreach { r =>
      assert(r.getAs[Long]("total_evals") >= n)
      assert(r.getAs[Long]("total_evals") <= 4 * n)
    }
  }
}
