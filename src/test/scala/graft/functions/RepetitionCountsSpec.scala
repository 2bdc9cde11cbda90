package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fused repetition counts + Catalyst fractions must equal the column
  * repetitionStats on every document.
  */
class RepetitionCountsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("fused fractions == column repetitionStats on corpus + edges") {
    import spark.implicits._
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .unionByName(
        Seq(
          30001L -> "a a a a",
          30002L -> "a b a b a b",
          30003L -> "",
          30004L -> "single",
          30005L -> "x y\n"
        ).toDF("doc_id", "text"))
    docs.createOrReplaceTempView("rep_docs")
    val fused = docs
      .select(
        col("doc_id"),
        RepetitionCounts.repetitionFromCounts(
          RepetitionCounts.repetitionCounts(col("text"))).as("r")
      )
      .select(col("doc_id"), col("r.dup_token_frac"), col("r.dup_bigram_frac"))
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // the column form reads the documents table; recompute it over the
    // same unioned docs by evaluating its expressions directly
    val t = TextFunctions.tokens(col("text"))
    val bigrams = filter(
      transform(t, (w, i) =>
        when(i < size(t) - 1, concat(w, lit(" "), element_at(t, i + 2)))),
      b => b.isNotNull)
    val column = docs
      .select(
        col("doc_id"),
        round(when(size(t) === 0, 0.0).otherwise(
          lit(1.0) - size(array_distinct(t)).cast("double") / size(t)), 6)
          .as("dt"),
        round(when(size(bigrams) === 0, 0.0).otherwise(
          lit(1.0) -
            size(array_distinct(bigrams)).cast("double") / size(bigrams)), 6)
          .as("db")
      )
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(fused == column)
    // and the operator itself agrees on the real table — it emits the
    // exact-integer ppm twins of the same counts (round-11 purge)
    import graft.functions.IntMath.microRatio
    val columnPpm = docs
      .select(
        col("doc_id"),
        when(size(t) === 0, 0L)
          .otherwise(
            microRatio(size(t) - size(array_distinct(t)), size(t)))
          .as("dt"),
        when(size(bigrams) === 0, 0L)
          .otherwise(microRatio(
            size(bigrams) - size(array_distinct(bigrams)), size(bigrams)))
          .as("db")
      )
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val op = TextAnalysis
      .repetitionStats(spark, dir)
      .select(col("doc_id"), col("dup_token_ppm"), col("dup_bigram_ppm"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    op.foreach { case (id, v) => assert(columnPpm(id) == v, s"doc $id") }
  }
}
