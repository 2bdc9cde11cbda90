package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-8 planning batch
  * (q222, q223, q224).
  */
class Round8eOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q222 frame dedup fires exactly when duplicate payloads exist") {
    // sf0.001 has no duplicate texts → no duplicate stub frames
    val dupTexts = Tables
      .documents(spark, dir)
      .groupBy(col("text"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .count()
    val out = Multimodal.frameDedup(spark, dir).collect()
    if (dupTexts == 0) assert(out.isEmpty, "no dup payloads → no dup frames")
    // sf0.1 carries genuine duplicate documents — the non-trivial path
    val bigDir = "/root/testdata/sf0.1"
    val bigOut = Multimodal.frameDedup(spark, bigDir).collect()
    assert(bigOut.nonEmpty, "sf0.1 has duplicate texts, frames must dup")
    bigOut.foreach { r =>
      assert(r.getAs[Long]("n_dup") <= r.getAs[Long]("n_sampled"))
      assert(r.getAs[Long]("n_dup") >= 1L)
    }
    // duplicated frames need at least two docs reporting them
    assert(bigOut.length >= 2)
  }

  test("q223 admission plan: greedy walk respects the budget exactly") {
    val rows = Sampling
      .sourceAdmissionPlan(spark, dir)
      .collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    // reputation ordering is non-increasing
    val reps = rows.map(_.getAs[Long]("shrunk_q_micro"))
    reps.zip(reps.tail).foreach { case (a, b) => assert(a >= b) }
    // cum_before telescopes
    var cum = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("cum_before") == cum)
      cum += r.getAs[Long]("n_tokens")
    }
    val admitted = rows.map(_.getAs[Long]("admitted_tokens")).sum
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    assert(admitted == math.min(50000L, total), "budget fully used or corpus exhausted")
    // statuses are a prefix of full, at most one partial, then excluded
    val statuses = rows.map(_.getAs[String]("status"))
    assert(statuses.count(_ == "partial") <= 1)
    val firstNonFull = statuses.indexWhere(_ != "full")
    if (firstNonFull >= 0)
      assert(statuses.drop(firstNonFull + 1).forall(_ == "excluded"))
  }

  test("q224 fightin' words: directions rank opposite ends of one scale") {
    val rows = TextAnalysis.fightinWords(spark, dir).collect()
    val up = rows.filter(_.getAs[String]("direction") == "src0")
      .sortBy(_.getAs[Int]("rk"))
    val dn = rows.filter(_.getAs[String]("direction") == "rest")
      .sortBy(_.getAs[Int]("rk"))
    assert(up.length == 10 && dn.length == 10)
    // z non-increasing down the src0 list, non-decreasing down rest
    val zu = up.map(_.getAs[Long]("z_micro"))
    zu.zip(zu.tail).foreach { case (a, b) => assert(a >= b) }
    val zd = dn.map(_.getAs[Long]("z_micro"))
    zd.zip(zd.tail).foreach { case (a, b) => assert(a <= b) }
    // the src0-distinctive head outranks the rest-distinctive head
    assert(zu.head > zd.head)
    // evidence direction: src0-list heads lean on y1, rest on y2
    assert(up.head.getAs[Long]("y1") > 0L)
    assert(dn.head.getAs[Long]("y2") > 0L)
  }
}
