package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the transitions/imbalance/quantization batch
  * (q262, q263, q264).
  */
class Round8qOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q262 transitions recount exactly and rows sum to ~1e6") {
    val rows = Events.eventTransitions(spark, dir).collect()
    val events = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("us"), r.getAs[Long]("event_id")))
    val naive = events
      .groupBy(_._1)
      .values
      .flatMap { seq =>
        val ordered = seq.sortBy(e => (e._3, e._4)).map(_._2)
        ordered.zip(ordered.tail)
      }
      .groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    assert(rows.map(_.getAs[Long]("n")).sum == naive.values.sum)
    rows.foreach { r =>
      val k = (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
      assert(naive(k) == r.getAs[Long]("n"), s"pair $k")
    }
    // per from_type, probabilities sum to 1e6 within rounding slack
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (f, rs) =>
      val s = rs.map(_.getAs[Long]("p_micro")).sum
      assert(math.abs(s - 1000000L) <= rs.length, s"from $f sums $s")
    }
  }

  test("q263 plan balances labels and respects the cap") {
    val rows = Sampling.oversamplingPlan(spark, dir).collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    val k = rows.length
    rows.foreach { r =>
      val w = r.getAs[Long]("weight_micro")
      assert(w <= 10000000L, "cap")
      val uncapped = n.toDouble / (k * r.getAs[Long]("n"))
      val expected = math.min(10.0, uncapped)
      assert(math.abs(w - expected * 1e6) <= 1.0)
      assert(r.getAs[Long]("expected_n") ==
        math.round(r.getAs[Long]("n") * expected))
    }
    // shares sum to ~1e6
    val shares = rows.map(_.getAs[Long]("share_micro")).sum
    assert(math.abs(shares - 1000000L) <= k.toLong)
    // smaller classes get weakly larger weights
    val byN = rows.sortBy(_.getAs[Long]("n"))
    val ws = byN.map(_.getAs[Long]("weight_micro"))
    ws.zip(ws.tail).foreach { case (a, b) => assert(a >= b) }
  }

  test("q264 error shrinks with bits and SNR grows") {
    val rows = Similarity.quantizationSweep(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("bits")).sorted.toSeq == Seq(2L, 4L, 8L))
    val byBits = rows.sortBy(_.getAs[Long]("bits"))
    val mses = byBits.map(_.getAs[Long]("mse_nano"))
    val maes = byBits.map(_.getAs[Long]("max_abs_err_micro"))
    val snrs = byBits.map(_.getAs[Long]("snr_milli"))
    mses.zip(mses.tail).foreach { case (a, b) => assert(a > b, "mse drops") }
    maes.zip(maes.tail).foreach { case (a, b) => assert(a > b, "mae drops") }
    snrs.zip(snrs.tail).foreach { case (a, b) => assert(a < b, "snr grows") }
    // 8-bit max error bounded by half a code step of the widest dim
    val vecs = Tables
      .embeddings(spark, dir)
      .collect()
      .map(_.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    val dims = vecs.head.length
    val widest = (0 until dims).map { d =>
      val xs = vecs.map(_(d)); xs.max - xs.min
    }.max
    assert(byBits.last.getAs[Long]("max_abs_err_micro") <=
      math.round(widest / 255.0 / 2.0 * 1e6) + 1)
  }
}
