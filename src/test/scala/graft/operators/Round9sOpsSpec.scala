package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 eighteenth wave (q412-q414):
  * session gap sweep, suffix neighbors, behavioral twins.
  */
class Round9sOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q412 sweep: monotone in gap; 30-min row matches q29") {
    val rows = Events.sessionGapSweep(spark, dir).collect()
      .sortBy(_.getAs[Long]("gap_minutes"))
    assert(rows.map(_.getAs[Long]("gap_minutes")).sameElements(
      Array(5L, 30L, 120L)))
    // a larger gap can only merge sessions
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_sessions") >= b.getAs[Long]("n_sessions"))
      case _ =>
    }
    // every threshold sees every event
    val nEvents = Tables.events(spark, dir).count()
    rows.foreach(r => assert(r.getAs[Long]("n_events") == nEvents))
    // the 30-minute row equals the dedicated q29 sessionizer
    val q29 = Events.sessionize(spark, dir).count()
    assert(rows(1).getAs[Long]("n_sessions") == q29)
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_events_milli") ==
        halfUp(r.getAs[Long]("n_events") * 1000L,
          r.getAs[Long]("n_sessions")))
    }
  }

  test("q413 suffix pairs: synthetic footer caught, prefix twin misses it") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma common tail one two three four five"),
      (2L, "zeta eta theta common tail one two three four five"),
      (3L, "totally different text with nothing shared here at all")
    ).toDF("doc_id", "text")
    // reversed-token LCP >= 5 must pair docs 1 and 2 (shared suffix)
    val d = df
      .select(col("doc_id"),
        reverse(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .withColumn("block", array_join(slice(col("t"), 1, 5), " "))
    val blocks = d.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("block")).toMap
    assert(blocks(1L) == blocks(2L))
    assert(blocks(1L) != blocks(3L))
    // real corpus: pairs are symmetric-canonical and lcs-bounded
    val rows = Dedup.suffixNeighborPairs(spark, dir).collect()
    assert(rows.nonEmpty, "minLcs=3 is data-bearing on this corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("lcs") >= 3L)
    }
  }

  test("q414 twins: bands partition users; fingerprint is canonical") {
    val rows = Events.behavioralTwins(spark, dir).collect()
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, dir)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_users_in_band")).sum == nUsers)
    rows.foreach { r =>
      assert(r.getAs[Long]("largest_group") >= 1L)
      assert(r.getAs[Long]("user_ppm") ==
        halfUp(r.getAs[Long]("n_users_in_band") * 1000000L, nUsers))
      r.getAs[String]("band") match {
        case "unique" =>
          assert(r.getAs[Long]("n_groups") ==
            r.getAs[Long]("n_users_in_band"))
        case "twins_2_3" =>
          assert(r.getAs[Long]("largest_group") <= 3L)
        case _ =>
          assert(r.getAs[Long]("largest_group") >= 4L)
      }
    }
  }
}
