package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twenty-seventh wave (q439-q441):
  * hub tokens, gap five-point, frequency bands.
  */
class Round9abOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q439 hubs: top-10 ordered, degrees match the census max") {
    val rows = TextAnalysis.hubTokens(spark, dir).collect()
    assert(rows.length == 10)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("degree") >= b.getAs[Long]("degree"))
      case _ =>
    }
    val censusMax = TextAnalysis.bigramDegreeCensus(spark, dir)
      .agg(max(col("max_degree"))).collect()(0).getLong(0)
    assert(rows.head.getAs[Long]("degree") == censusMax,
      "the top hub's degree is the census's max degree")
  }

  test("q440 gaps: quantiles ordered; totals equal the q261 gap count") {
    val rows = Events.interArrivalFivePoint(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val seq = Seq(r.getAs[Long]("min_gap_us"),
        r.getAs[Long]("p25_gap_us"), r.getAs[Long]("p50_gap_us"),
        r.getAs[Long]("p75_gap_us"), r.getAs[Long]("max_gap_us"))
      seq.sliding(2).foreach { case Seq(a, b) => assert(a <= b) }
      assert(r.getAs[Long]("min_gap_us") >= 0L)
    }
    val q261 = Events.interArrivalStats(spark, dir)
      .select(col("event_type"), col("n_gaps")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_gaps") ==
        q261(r.getAs[String]("event_type")))
    }
  }

  test("q441 bands: types and occurrences partition the vocabulary") {
    val rows = TextAnalysis.frequencyBandMass(spark, dir).collect()
    assert(rows.nonEmpty)
    val counts = Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("w"))
      .groupBy(col("w")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val nTypes = counts.length.toLong
    val nTok = counts.map(_._2).sum
    assert(rows.map(_.getAs[Long]("n_types")).sum == nTypes)
    assert(rows.map(_.getAs[Long]("n_occurrences")).sum == nTok)
    rows.foreach { r =>
      assert(r.getAs[Long]("occurrence_ppm") ==
        halfUp(r.getAs[Long]("n_occurrences") * 1000000L, nTok))
      // head really is the heavy band: every head type clears N/1000
      if (r.getAs[String]("band") == "head")
        assert(r.getAs[Long]("n_occurrences") >
          r.getAs[Long]("n_types") * (nTok / 1000))
    }
  }
}
