package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the sampling-design wave (q304, q305, q306).
  */
class Round8adOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q304 draws exactly the budget with zero total variance") {
    val rows = Sampling.systematicTokenSample(spark, dir).collect()
    // the defining systematic-PPS property: total picks == B exactly
    assert(rows.map(_.getAs[Long]("n_sel")).sum == 1000L)
    // entitlements partition the budget (milli-picks)
    val exp = rows.map(_.getAs[Long]("expected_milli")).sum
    assert(math.abs(exp - 1000000L) <= rows.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("dev_milli") ==
        r.getAs[Long]("n_sel") * 1000 - r.getAs[Long]("expected_milli"))
      // per-doc pick error is < 1; a source's docs are scattered
      // across the hash order so errors partially cancel — this is a
      // sanity envelope, not the per-interval bound
      assert(math.abs(r.getAs[Long]("dev_milli")) <= 10000L)
    }
  }

  test("q305 both allocations sum exactly to the budget") {
    val rows = Sampling.neymanAllocation(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("alloc_neyman")).sum == 1000L)
    assert(rows.map(_.getAs[Long]("alloc_prop")).sum == 1000L)
    assert(rows.map(_.getAs[Long]("shift")).sum == 0L)
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc_neyman") >= 0L)
      assert(r.getAs[Long]("alloc_prop") >= 0L)
    }
  }

  test("q306 Hill estimate recounts against a driver computation") {
    val rows = Sampling.hillTailIndex(spark, dir).collect()
    assert(rows.nonEmpty)
    val lengths = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("x"))
      .filter(col("x") > 0)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("x")))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val xs = lengths.filter(_._1 == src)
        .sortBy(t => (-t._3, t._2)).map(_._3)
      val k = (xs.length / 10).toInt
      assert(r.getAs[Long]("k") == k.toLong)
      assert(r.getAs[Long]("xk1") == xs(k)) // rank k+1, 0-indexed k
      val tSum = xs.take(k).map(x =>
        math.round(math.log(x.toDouble / xs(k)) * 1e9)).sum
      if (tSum != 0) {
        val alpha = math.round(k.toDouble * 1e9 / tSum * 1e3)
        assert(r.getAs[Long]("alpha_milli") == alpha)
      }
    }
  }
}
