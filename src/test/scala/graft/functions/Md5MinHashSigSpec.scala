package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused md5 MinHash signature must be bit-identical to the
  * interpreted md5 HOF formulation it replaces — this is the
  * ORACLE-GATED path (q22/q70/q181/q198), so equality here is what
  * keeps the DuckDB compare green.
  */
class Md5MinHashSigSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("fused signature == interpreted md5 HOF signature on the corpus") {
    val sh = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text"), 3).as("sh")
      )
      .filter(size(col("sh")) > 0)
    val rows = sh
      .select(
        col("doc_id"),
        Dedup.minhashSignature(col("sh")).as("fused"),
        Dedup.minhashSignatureMd5Hof(col("sh")).as("hof")
      )
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(
        r.getAs[scala.collection.Seq[Long]]("fused").toSeq == r.getAs[scala.collection.Seq[Long]]("hof").toSeq,
        s"doc ${r.getLong(0)} signature drift")
    }
  }

  test("null shingles contribute to no seed; all-null gives null mins") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[String]("a b c", null, "d e f")),
      (2L, Seq[String](null, null))
    ).toDF("id", "sh")
    val rows = df
      .select(
        col("id"),
        Dedup.minhashSignature(col("sh")).as("fused"),
        Dedup.minhashSignatureMd5Hof(col("sh")).as("hof")
      )
      .collect()
      .sortBy(_.getLong(0))
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Any]]("fused").toSeq == r.getAs[scala.collection.Seq[Any]]("hof").toSeq)
    }
    assert(rows(1).getAs[scala.collection.Seq[Any]]("fused").forall(_ == null),
      "only-null input → HOF array_min yields null per seed")
  }

  test("empty array mirrors the HOF form") {
    import spark.implicits._
    val df = Seq((1L, Seq.empty[String])).toDF("id", "sh")
    val r = df
      .select(
        Dedup.minhashSignature(col("sh")).as("fused"),
        Dedup.minhashSignatureMd5Hof(col("sh")).as("hof")
      )
      .collect()
      .head
    assert(r.getAs[scala.collection.Seq[Any]]("fused").toSeq == r.getAs[scala.collection.Seq[Any]]("hof").toSeq)
  }
}
