package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the holdout-audit/gate-curve/concurrency
  * wave (q343, q344, q345).
  */
class Round8aqOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q343 split sizes agree with the q310 ledger") {
    val rows = Sampling.holdoutRepresentativeness(spark, dir).collect()
    val ledger = Sampling.coverageHoldout(spark, dir).collect()
    val heldBySrc = ledger.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("n_held")).sum).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_h") == heldBySrc(r.getAs[String]("source")))
      assert(r.getAs[Long]("holdout_micro") >= 0L)
      assert(r.getAs[Long]("train_micro") >= 0L)
    }
    // a hash split should essentially never flag at |z| > 3
    assert(rows.count(_.getAs[Boolean]("unrepresentative")) <= 1)
  }

  test("q344 cell masses partition each gate's doc set") {
    val rows = TextAnalysis.gatePassCurves(spark, dir).collect()
    val byGate = rows.groupBy(_.getAs[String]("gate"))
    assert(byGate.keySet == Set("gopher", "lr", "ml", "ppl"))
    byGate.foreach { case (_, rs) =>
      rs.foreach { r =>
        assert(r.getAs[Long]("n_pass") <= r.getAs[Long]("n"))
        assert(r.getAs[Long]("pass_ppm") <= 1000000L)
        assert(r.getAs[Long]("len_bucket") >= 0L)
        assert(r.getAs[Long]("len_bucket") <= 9L)
      }
    }
    // gopher's hard minimum-length rule: the 0-9-token bucket can
    // never pass (Gopher requires >= 50 words)
    rows.filter(r => r.getAs[String]("gate") == "gopher" &&
      r.getAs[Long]("len_bucket") == 0L)
      .foreach(r => assert(r.getAs[Long]("n_pass") == 0L))
  }

  test("q345 percentiles are ordered and ratio recounts") {
    val rows = Events.concurrencyPercentiles(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("p50_users") <= r.getAs[Long]("p95_users"))
      assert(r.getAs[Long]("p95_users") <= r.getAs[Long]("max_users"))
      assert(r.getAs[Long]("burst_ratio_milli") >= 1000L)
      assert(r.getAs[Long]("n_hours") > 0L)
    }
  }
}
