package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The in-row SimHash must agree bit-for-bit with the explode+groupBy
  * vote formulation it replaces (same xxhash64 token hash).
  */
class SimHashTextSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def docsWithEdgeCases = {
    import spark.implicits._
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .unionByName(
        Seq(
          10001L -> "hello world\n",
          10002L -> "a b\t",
          10003L -> "\t\n",
          10004L -> "  x y  ",
          10005L -> "one\ttwo\nthree"
        ).toDF("doc_id", "text"))
  }

  private def explodedSimhash(bits: Int): DataFrame = {
    val toks = docsWithEdgeCases
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$b")
    }
    val agged = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sig = (0 until bits)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    agged.select(col("doc_id"), sig.as("simhash"))
  }

  test("fused in-row simhash == explode+groupBy votes (16 and 64 bits)") {
    for (bits <- Seq(16, 64)) {
      val fused = docsWithEdgeCases
        .select(col("doc_id"),
          SimHashText.simhashText(col("text"), bits).as("simhash"))
        .filter(col("simhash").isNotNull)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val exploded = explodedSimhash(bits)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(fused == exploded, s"bits=$bits")
      assert(fused.nonEmpty)
    }
  }

  test("the fused plan is shuffle-free; the exploded one is not") {
    val fusedPlan = Tables
      .documents(spark, dir)
      .select(SimHashText.simhashText(col("text"), 64))
      .queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!fusedPlan.contains("Exchange"))
    val explodedPlan = explodedSimhash(64)
      .queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explodedPlan.contains("Exchange"))
  }
}
