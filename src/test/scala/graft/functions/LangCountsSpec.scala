package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused marker counts + Catalyst argmax must equal the column
  * langId on every document (including marker words shared between
  * languages, e.g. "la" ∈ fr ∩ es).
  */
class LangCountsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("fused langFromCounts == column langId on corpus + edge docs") {
    import spark.implicits._
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .unionByName(
        Seq(
          20001L -> "la la la",            // fr/es tie → fr (list order)
          20002L -> "the und der die das", // de beats en 4-1? (und,der,die,das)
          20003L -> "",
          20004L -> "nothing matches here\n",
          20005L -> "的 是 el la"
        ).toDF("doc_id", "text"))
    val rows = docs
      .select(
        col("doc_id"),
        LangCounts
          .langFromCounts(LangCounts.langCounts(col("text")))
          .as("fused"),
        TextFunctions.langId(col("text")).as("column")
      )
      .collect()
    rows.foreach(r =>
      assert(r.getString(1) == r.getString(2), s"doc ${r.getLong(0)}"))
    assert(rows.nonEmpty)
  }
}
