package graft.io

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Source/sink format breadth (SURVEY §2.1/§2.2 + the builder prompt's
  * "every source/sink"): round-trip the same frame through each
  * built-in columnar/text format and the K1 raw-array form.
  */
class FormatsSpec extends AnyFunSuite with SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .collect()
      .map(_.toString)
      .sorted
      .toSeq

  test("orders round-trips through parquet, orc, json, csv identically") {
    val work = Files.createTempDirectory("graft_formats").toString
    val src = Tables
      .orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val expected = canon(src)

    src.write.parquet(s"$work/p")
    src.write.orc(s"$work/o")
    src.write.json(s"$work/j")
    src.write.option("header", "true").csv(s"$work/c")

    assert(canon(spark.read.parquet(s"$work/p")) == expected)
    assert(canon(spark.read.orc(s"$work/o")) == expected)
    assert(canon(spark.read.schema(src.schema).json(s"$work/j")) == expected)
    assert(
      canon(
        spark.read.schema(src.schema).option("header", "true").csv(s"$work/c")
      ) == expected
    )
  }

  test("K1 raw JSON array writer produces a parseable array") {
    val work = Files.createTempDirectory("graft_k1").toString
    val f = s"$work/raw.json"
    val src = Tables
      .nation(spark, "/root/testdata/sf0.001")
      .orderBy("n_nationkey")
    Sinks.writeRawJsonArray(src, f)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)), "UTF-8")
    assert(text.startsWith("[") && text.endsWith("]"))
    // parse back through Spark's JSON reader (multiLine array form)
    val back = spark.read
      .schema(src.schema)
      .option("multiLine", "true")
      .json(f)
    assert(back.count() == 25)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      src.collect().toSeq)
  }

  test("raw JSON array writer fails fast past its row cap") {
    import spark.implicits._
    val big = (1 to 50).toDF("n")
    val f = java.nio.file.Files
      .createTempDirectory("k1cap").resolve("out.json").toString
    val e = intercept[IllegalArgumentException] {
      Sinks.writeRawJsonArray(big, f, maxRows = 10)
    }
    assert(e.getMessage.contains("maxRows"))
    // at the cap is fine
    Sinks.writeRawJsonArray(big, f, maxRows = 50)
    assert(new java.io.File(f).exists())
  }
}
