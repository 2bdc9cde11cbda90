package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused text→signature expression must agree bit-for-bit with
  * the composed shingles→MinHashSig pipeline on every document, and
  * must be null exactly where the shingle set is empty.
  */
class MinHashTextSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  /** Corpus docs plus the whitespace shapes the corpus lacks —
    * trailing/leading non-space whitespace exercises Spark split's
    * keep-trailing-empties semantics (limit -1), where Java's one-arg
    * split silently diverges.
    */
  private def docsWithEdgeCases = {
    import spark.implicits._
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .unionByName(
        Seq(
          10001L -> "a b c\n",
          10002L -> "a b\t",
          10003L -> "\t\n",
          10004L -> "  x y z  ",
          10005L -> "one\ttwo\nthree four five",
          10006L -> "trailing spaces   "
        ).toDF("doc_id", "text"))
  }

  test("fused == shingles∘MinHashSig on the corpus; null iff no shingles") {
    val rows = docsWithEdgeCases
      .select(
        col("doc_id"),
        MinHashText.minhashText(col("text"), 3, Dedup.NumHashes).as("fused"),
        graft.functions.TextFunctions.shingles(col("text"), 3).as("sh")
      )
      .withColumn(
        "composed",
        when(size(col("sh")) > 0,
          MinHashSig.minhashSig(col("sh"), Dedup.NumHashes))
      )
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fused = Option(r.getAs[collection.Seq[Long]]("fused"))
      val composed = Option(r.getAs[collection.Seq[Long]]("composed"))
      assert(fused == composed, s"doc ${r.getLong(0)}")
    }
  }

  test("edge cases: empty, whitespace-only, and sub-n-token strings are null") {
    val out = spark
      .range(1)
      .select(
        MinHashText.minhashText(lit(""), 3, 4).as("a"),
        MinHashText.minhashText(lit("   \t\n "), 3, 4).as("b"),
        MinHashText.minhashText(lit("one two"), 3, 4).as("c"),
        MinHashText.minhashText(lit("one two three"), 3, 4).as("d")
      )
      .collect()(0)
    assert(out.isNullAt(0) && out.isNullAt(1) && out.isNullAt(2))
    assert(out.getAs[collection.Seq[Long]]("d").length == 4)
  }
}
