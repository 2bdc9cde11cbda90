package graft.io

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Proves the bucketed layout joins WITHOUT a shuffle: both sides
  * bucketed+sorted by the key → sort-merge join with zero Exchange
  * (and zero Sort) operators in the executed plan.
  */
class BucketingSpec extends AnyFunSuite with SparkSpec {

  test("bucketed join plans with no exchange and matches plain join") {
    val work = Files.createTempDirectory("graft_buckets").toString
    val li = Tables
      .lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = Tables
      .orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Bucketing.writeBucketed(li, "li_b", s"$work/li", "l_orderkey", 8)
    Bucketing.writeBucketed(o, "o_b", s"$work/o", "l_orderkey", 8)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(spark, "li_b", "o_b", "l_orderkey")
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      assert(!plan.contains("Exchange"), "bucketed join should not shuffle")
      // same result as the direct (shuffling) join
      val expected = li.join(o, "l_orderkey").count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}
