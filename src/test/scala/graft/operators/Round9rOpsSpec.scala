package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 seventeenth wave (q409-q411):
  * late events, value five-point, RF banding.
  */
class Round9rOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q409 lateness: distributed prefix-max equals the serial recount") {
    val rows = Events.lateEventCensus(spark, dir).collect()
    assert(rows.nonEmpty)
    val nEvents = Tables.events(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == nEvents)
    // serial recount of lateness bands
    val evs = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    var runMax = Long.MinValue
    val bands = scala.collection.mutable.Map
      .empty[(String, String), Long].withDefaultValue(0L)
    evs.foreach { case (_, t, us) =>
      val late = if (runMax == Long.MinValue) 0L else math.max(0L, runMax - us)
      val lateRaw = if (runMax == Long.MinValue) 0L else runMax - us
      val band =
        if (lateRaw <= 0L) "on_time"
        else if (lateRaw <= 60000000L) "lt_1min"
        else if (lateRaw <= 600000000L) "lt_10min"
        else "dropped_at_10min"
      bands((t, band)) += 1L
      if (us > runMax) runMax = us
      assert(late >= 0L)
    }
    rows.foreach { r =>
      val k = (r.getAs[String]("event_type"), r.getAs[String]("band"))
      assert(r.getAs[Long]("n_events") == bands(k), k.toString)
    }
  }

  test("q410 five-point: picks are real values in order") {
    val rows = Events.valueFivePoint(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val seq = Seq(
        r.getAs[Double]("min_value"), r.getAs[Double]("p25_value"),
        r.getAs[Double]("p50_value"), r.getAs[Double]("p75_value"),
        r.getAs[Double]("max_value"))
      seq.sliding(2).foreach { case Seq(a, b) => assert(a <= b) }
    }
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, dir).count())
  }

  test("q411 RF: cells partition customers, shares exact") {
    val rows = Relational.rfBanding(spark, dir).collect()
    assert(rows.nonEmpty)
    val nCust = Tables.orders(spark, dir)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCust)
    val tot = rows.map(_.getAs[Long]("n_customers")).sum
    rows.foreach { r =>
      assert(Set("f1", "f2_3", "f4_plus")
        .contains(r.getAs[String]("freq_band")))
      assert(Set("r_30d", "r_90d", "r_older")
        .contains(r.getAs[String]("recency_band")))
      assert(r.getAs[Long]("share_ppm") ==
        halfUp(r.getAs[Long]("n_customers") * 1000000L, tot))
    }
  }
}
