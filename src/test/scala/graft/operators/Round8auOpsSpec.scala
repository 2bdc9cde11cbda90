package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the burst-value/five-point wave (q355,
  * q356, q357).
  */
class Round8auOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q355 burst/normal masses partition every type's events") {
    val rows = Events.burstValueImpact(spark, dir).collect()
    val total = Tables.events(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == total)
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Boolean]("in_burst")).distinct.length ==
        rs.length)
    }
  }

  test("q356 five points are ordered and recount for one language") {
    val rows = TextAnalysis.lengthFivePoint(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("min_toks") <= r.getAs[Long]("p25_toks"))
      assert(r.getAs[Long]("p25_toks") <= r.getAs[Long]("p50_toks"))
      assert(r.getAs[Long]("p50_toks") <= r.getAs[Long]("p75_toks"))
      assert(r.getAs[Long]("p75_toks") <= r.getAs[Long]("max_toks"))
    }
    val lang = rows.head.getAs[String]("lang")
    val ks = Tables.documents(spark, dir)
      .filter(col("lang") === lang)
      .select(size(graft.functions.TextFunctions.tokens(col("text")))
        .cast("long").as("k"))
      .collect().map(_.getAs[Long]("k")).sorted
    def q(p: Double): Long = ks((math.ceil(ks.length * p) - 1).toInt)
    val r = rows.find(_.getAs[String]("lang") == lang).get
    assert(r.getAs[Long]("p25_toks") == q(0.25))
    assert(r.getAs[Long]("p50_toks") == q(0.5))
    assert(r.getAs[Long]("p75_toks") == q(0.75))
    assert(r.getAs[Long]("n_docs") == ks.length.toLong)
  }

  test("q357 user five points ordered, users reconcile") {
    val rows = Events.userActivityFivePoint(spark, dir).collect()
    val users = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n"))
      .toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_users") ==
        users(r.getAs[String]("event_type")))
      assert(r.getAs[Long]("min_k") <= r.getAs[Long]("p25_k"))
      assert(r.getAs[Long]("p25_k") <= r.getAs[Long]("p50_k"))
      assert(r.getAs[Long]("p50_k") <= r.getAs[Long]("p75_k"))
      assert(r.getAs[Long]("p75_k") <= r.getAs[Long]("max_k"))
    }
  }
}
