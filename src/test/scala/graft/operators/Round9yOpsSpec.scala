package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twenty-fourth wave (q430-q432):
  * arrival drift, pair shapes, first-touch conversion.
  */
class Round9yOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q430 drift: halves split the corpus exactly, shares sum to 1e6") {
    val rows = Sampling.arrivalCompositionDrift(spark, dir).collect()
    assert(rows.nonEmpty)
    val n = Tables.documents(spark, dir).count()
    val tf = rows.map(_.getAs[Long]("n_first")).sum
    val ts = rows.map(_.getAs[Long]("n_second")).sum
    assert(tf + ts == n)
    assert(tf == n / 2, "exact median split")
    rows.foreach { r =>
      assert(r.getAs[Long]("drift_ppm") ==
        r.getAs[Long]("second_share_ppm") -
          r.getAs[Long]("first_share_ppm"))
    }
    val s1 = rows.map(_.getAs[Long]("first_share_ppm")).sum
    assert(math.abs(s1 - 1000000L) <= rows.length.toLong)
  }

  test("q431 shapes: cells partition the >=0.5 pair artifact") {
    val rows = Dedup.pairShapeCensus(spark, dir).collect()
    assert(rows.nonEmpty)
    val nPairs = Dedup.ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nPairs)
    val bands = Set("j_050_070", "j_070_090", "j_090_plus")
    val classes = Set("similar", "moderate", "extreme")
    rows.foreach { r =>
      assert(bands.contains(r.getAs[String]("jacc_band")))
      assert(classes.contains(r.getAs[String]("ratio_class")))
      assert(r.getAs[Long]("pair_ppm") ==
        halfUp(r.getAs[Long]("n_pairs") * 1000000L, nPairs))
    }
  }

  test("q432 conversion: cohorts partition users; recount one cohort") {
    val rows = Events.firstTouchConversion(spark, dir).collect()
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, dir)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == nUsers)
    // driver recount: first event per user and later-purchase flag
    val evs = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byUser = evs.groupBy(_._2)
    val expect = byUser.map { case (u, xs) =>
      val first = xs.minBy(t => (t._4, t._1))
      val conv = xs.exists(t => t._3 == "purchase" &&
        (t._4 > first._4 || (t._4 == first._4 && t._1 > first._1)))
      (u, first._3, conv)
    }
    val byType = expect.groupBy(_._2).map { case (t, xs) =>
      t -> (xs.size.toLong, xs.count(_._3).toLong)
    }
    rows.foreach { r =>
      val t = r.getAs[String]("first_type")
      val (nu, nc) = byType(t)
      assert(r.getAs[Long]("n_users") == nu, s"$t users")
      assert(r.getAs[Long]("n_converted") == nc, s"$t converted")
    }
  }
}
