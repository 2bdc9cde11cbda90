package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused count expression + Catalyst quality formula must equal
  * the column pipeline bit-for-bit, counts and score alike.
  */
class TextStatsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def docsWithEdgeCases = {
    import spark.implicits._
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .unionByName(
        Seq(
          10001L -> "the quick fox.\n",
          10002L -> "a b\t",
          10003L -> "\t\n",
          10004L -> "",
          10005L -> "it is, it is! of course; right?",
          10006L -> "的 是 the of..."
        ).toDF("doc_id", "text"))
  }

  test("fused counts and quality == column pipeline on corpus + edges") {
    val rows = docsWithEdgeCases
      .select(
        col("doc_id"),
        TextStats.textStats(col("text")).as("st"),
        TextFunctions.tokenCount(col("text")).cast("long").as("c_tokens"),
        length(col("text")).cast("long").as("c_chars"),
        TextFunctions.punctCount(col("text")).cast("long").as("c_punct"),
        TextFunctions.qualityScore(col("text")).as("c_quality")
      )
      .withColumn("f_quality", TextStats.qualityFromStats(col("st")))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val st = r.getStruct(r.fieldIndex("st"))
      assert(st.getLong(0) == r.getAs[Long]("c_tokens"), s"tokens doc ${r.getLong(0)}")
      assert(st.getLong(2) == r.getAs[Long]("c_punct"), s"punct doc ${r.getLong(0)}")
      assert(st.getLong(3) == r.getAs[Long]("c_chars"), s"chars doc ${r.getLong(0)}")
      assert(r.getAs[Double]("f_quality") == r.getAs[Double]("c_quality"),
        s"quality doc ${r.getLong(0)}")
    }
  }

  test("stopword hits match the HOF filter count") {
    val rows = docsWithEdgeCases
      .select(
        col("doc_id"),
        TextStats.textStats(col("text")).getField("n_stop").as("fused"),
        size(filter(TextFunctions.tokens(col("text")),
          w => w.isin(TextFunctions.stopwordsEn: _*))).cast("long").as("hof")
      )
      .collect()
    rows.foreach(r =>
      assert(r.getAs[Long]("fused") == r.getAs[Long]("hof"),
        s"doc ${r.getLong(0)}"))
  }
}
