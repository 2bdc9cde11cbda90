package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Conv
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule must rewrite the composed portable
  * hash into the fused expression — same values, fused plan — for
  * both DataFrame and SQL forms, and must leave near-miss patterns
  * (different substring length / base / cast target) alone.
  */
class Md5PrefixRewriteSpec extends AnyFunSuite with SparkSpec {

  private def composed(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  test("rule rewrites the composed chain and preserves values") {
    val df = spark
      .range(1000)
      .select(col("id"), composed(col("id")).as("h"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("hash60"), s"rewrite did not fire:\n$opt")
    assert(!opt.contains("conv("), s"composed chain survived:\n$opt")

    // values unchanged vs the composed chain evaluated as written
    val reference = withoutRewrites {
      val ref = spark.range(1000).select(col("id"), composed(col("id")).as("h"))
      assert(optimizedKeeps(ref)(_.isInstanceOf[Conv]))
      ref.collect().toSeq
    }
    assert(df.collect().toSeq == reference)

    // SQL text form is rewritten too
    val sqlPlan = spark
      .sql(
        """SELECT CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10)
           AS BIGINT) AS h FROM range(10)"""
      )
    assert(sqlPlan.queryExecution.optimizedPlan.toString.contains("hash60"))

    // near-misses must NOT be rewritten
    val miss = spark
      .range(10)
      .select(
        conv(substring(md5(col("id").cast("string")), 1, 14), 16, 10)
          .cast("long")
          .as("h14"),
        conv(substring(md5(col("id").cast("string")), 1, 15), 16, 8)
          .cast("long")
          .as("hbase8")
      )
    val missPlan = miss.queryExecution.optimizedPlan.toString
    assert(!missPlan.contains("hash60"))
  }
}
