package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the Cochran/deseasonalized/stationarity wave
  * (q319, q320, q321).
  */
class Round8aiOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q319 Q recounts from the gate pass totals") {
    val rows = TextAnalysis.cochranQ(spark, dir).collect()
    assert(rows.length == 4)
    val n = rows.head.getAs[Long]("n")
    val cs = rows.map(_.getAs[Long]("n_pass"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("q_milli") == rows.head.getAs[Long]("q_milli"))
      assert(r.getAs[Long]("n_pass") <= n)
    }
    // Q >= 0 and the flag matches the chi2_3 cut
    val q = rows.head.getAs[Long]("q_milli")
    assert(q >= 0L)
    assert(rows.head.getAs[Boolean]("gates_differ") == (q > 7815L) ||
      math.abs(q - 7815L) <= 1L)
    // pass totals are bounded by the gate marginals from gateShapley
    val sh = TextAnalysis.gateShapley(spark, dir).collect()
    assert(sh.head.getAs[Long]("n") == n)
    assert(cs.forall(_ >= 0L))
  }

  test("q320 residual flags differ from raw where seasonality bites") {
    val rows = Events.deseasonalizedAnomalies(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Boolean]("anomalous") || r.getAs[Boolean]("raw_burst"))
      if (r.getAs[Boolean]("anomalous"))
        assert(math.abs(r.getAs[Long]("z_micro")) > 3000000L)
    }
    // every raw burst hour appears (the comparison surface is total)
    val raw = Events.burstFlags(spark, dir)
      .filter(col("burst")).count()
    assert(rows.count(_.getAs[Boolean]("raw_burst")) == raw)
  }

  test("q321 halves partition transitions; chi2 recounts for one type") {
    val rows = Events.transitionStationarity(spark, dir).collect()
    val total = Events.eventTransitions(spark, dir)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(rows.map(r => r.getAs[Long]("n_first_half") +
      r.getAs[Long]("n_second_half")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("chi2_milli") >= 0L)
      assert(r.getAs[Long]("df") >= 1L)
    }
  }
}
