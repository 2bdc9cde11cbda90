package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("salted join is result-identical to the plain join") {
    val li = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
    val o = Tables
      .orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, Seq("l_orderkey")).collect().toSeq.sortBy(_.toString)
    val salted =
      Skew.saltedJoin(li, o, Seq("l_orderkey"), 8).collect().toSeq.sortBy(_.toString)
    assert(salted == plain)
  }

  test("salted aggregation matches direct aggregation") {
    val li = Tables.lineitem(spark, dir)
    val direct = li
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_l_quantity"), count(lit(1)).as("n_rows"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1).round, r.getLong(2)))
      .toSet
    val salted = Skew
      .saltedSumCount(li, "l_returnflag", "l_quantity", 8)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1).round, r.getLong(2)))
      .toSet
    assert(salted == direct)
  }

  test("vec_dot is callable from SQL after registration") {
    val v = spark
      .sql("SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .collect()(0)
      .getDouble(0)
    assert(v == 11.0)
  }
}
