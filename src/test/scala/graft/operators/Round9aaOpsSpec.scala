package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twenty-sixth wave (q436-q438):
  * sessions five-point, source yield, length dispersion.
  */
class Round9aaOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q436 sessions: picks ordered, totals equal the q29 seam") {
    val rows = Events.sessionsPerUserFivePoint(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val seq = Seq(r.getAs[Long]("min_sessions"),
      r.getAs[Long]("p25_sessions"), r.getAs[Long]("p50_sessions"),
      r.getAs[Long]("p75_sessions"), r.getAs[Long]("max_sessions"))
    seq.sliding(2).foreach { case Seq(a, b) => assert(a <= b) }
    val perUser = Events.sessionize(spark, dir)
      .groupBy(col("user_id")).count().collect()
      .map(_.getLong(1)).sorted
    assert(r.getAs[Long]("n_users") == perUser.length.toLong)
    assert(r.getAs[Long]("min_sessions") == perUser.head)
    assert(r.getAs[Long]("max_sessions") == perUser.last)
    def pick(p: Int) =
      perUser(math.ceil(perUser.length * p / 100.0).toInt - 1)
    assert(r.getAs[Long]("p50_sessions") == pick(50))
  }

  test("q437 yield: P75 mass never exceeds P50 mass; ppm exact") {
    val rows = TextAnalysis.sourceYieldMatrix(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("tokens_above_p75") <=
        r.getAs[Long]("tokens_above_p50"))
      assert(r.getAs[Long]("tokens_above_p50") <=
        r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("yield_p50_ppm") ==
        halfUp(r.getAs[Long]("tokens_above_p50") * 1000000L,
          math.max(r.getAs[Long]("n_tokens"), 1L)))
    }
    // the global cut admits roughly half the corpus's docs, so total
    // yield must be strictly between 0 and the full mass
    val tot = rows.map(_.getAs[Long]("n_tokens")).sum
    val kept = rows.map(_.getAs[Long]("tokens_above_p50")).sum
    assert(kept > 0L && kept < tot)
  }

  test("q438 dispersion: driver recount; mergeable moments") {
    val rows = TextAnalysis.sourceLengthDispersion(spark, dir).collect()
    assert(rows.nonEmpty)
    val xs = Tables.documents(spark, dir)
      .select(col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("x"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val v = xs(src).map(_._2)
      val n = v.length.toLong
      val sx = v.sum
      val sx2 = v.map(x => x * x).sum
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("sum_x") == sx)
      assert(r.getAs[Long]("sum_x2") == sx2)
      assert(r.getAs[Long]("cv2_milli") ==
        halfUp((n * sx2 - sx * sx) * 1000L, sx * sx))
      assert(r.getAs[Long]("cv2_milli") >= 0L)
    }
  }
}
