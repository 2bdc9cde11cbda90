package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed two-pass ranking must be bit-identical to the
  * single-partition window it replaces — including heavy ties, N < k,
  * N % k != 0, and N divisible by k.
  */
class RankingSpec extends AnyFunSuite with SparkSpec {

  private def checkAgainstWindow(n: Int, k: Int, distinctVals: Int): Unit = {
    import spark.implicits._
    // deterministic pseudo-random values with ties; id tiebreak makes
    // the order total
    val df = (0 until n)
      .map(i => (i.toLong, (i * 2654435761L % distinctVals).toDouble))
      .toDF("id", "v")
    val keys = Seq(col("v").desc, col("id").asc)
    val expected = df
      .withColumn("rk", row_number().over(Window.orderBy(keys: _*)))
      .withColumn("nt", ntile(k).over(Window.orderBy(keys: _*)))
      .collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong, r.getInt(3)))
      .sortBy(_._1)
    val got = Ranking
      .withGlobalRank(df, keys, "rk", 4)
      .withColumn("nt", Ranking.ntileFromRank(col("rk"), lit(n.toLong), k))
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
      .sortBy(_._1)
    assert(got.toSeq == expected.toSeq, s"n=$n k=$k distinct=$distinctVals")
  }

  test("rank + ntile match the window on tied data, N % k != 0") {
    checkAgainstWindow(n = 1003, k = 10, distinctVals = 7)
  }

  test("rank + ntile match the window when N divisible by k") {
    checkAgainstWindow(n = 1000, k = 10, distinctVals = 1000)
  }

  test("rank + ntile match the window when N < k") {
    checkAgainstWindow(n = 7, k = 10, distinctVals = 3)
  }

  test("rank + ntile match the window when every value ties") {
    checkAgainstWindow(n = 64, k = 5, distinctVals = 1)
  }

  test("qualityDeciles output schema is (doc_id, quality, decile int)") {
    val out = Sampling.qualityDeciles(spark, "/root/testdata/sf0.001")
    assert(
      out.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
        Seq("doc_id" -> "bigint", "q_micro" -> "bigint", "decile" -> "int"))
    assert(out.select("decile").distinct().count() == 10)
  }
}
