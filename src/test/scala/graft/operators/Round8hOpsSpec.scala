package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-8 blocking/batching batch
  * (q235, q236, q237).
  */
class Round8hOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q235 LCP values recount exactly against the raw texts") {
    val texts = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.getString(1).trim.isEmpty) Array.empty[String]
         else r.getString(1).trim.split("\\s+")))
      .toMap
    val rows = Dedup.sortedNeighborPairs(spark, dir).collect()
    rows.foreach { r =>
      val a = texts(r.getAs[Long]("doc_a"))
      val b = texts(r.getAs[Long]("doc_b"))
      val lcp = a.zip(b).takeWhile { case (x, y) => x == y }.length
      assert(r.getAs[Long]("lcp") == lcp.toLong,
        s"pair ${r.getAs[Long]("doc_a")}/${r.getAs[Long]("doc_b")}")
      assert(lcp >= 5)
    }
    // exact duplicates of >= 5 tokens are adjacent after sorting and
    // must be found (subset check against the q20 exact-dup groups)
    val exactDupPairs = Tables
      .documents(spark, dir)
      .groupBy(col("text"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .count()
    if (exactDupPairs > 0) assert(rows.nonEmpty)
  }

  test("q236 batches hold at most one vector per label and cover all") {
    val rows = Clustering.balancedBatches(spark, dir).collect()
    assert(rows.length.toLong == Tables.embeddings(spark, dir).count())
    rows
      .groupBy(_.getAs[Long]("batch_id"))
      .foreach { case (b, vs) =>
        val labels = vs.map(_.getAs[Int]("label"))
        assert(labels.distinct.length == labels.length,
          s"batch $b repeats a label")
      }
    // ranks within a label are dense from 0
    rows.groupBy(_.getAs[Int]("label")).foreach { case (l, vs) =>
      val bs = vs.map(_.getAs[Long]("batch_id")).sorted
      assert(bs.toSeq == (0L until bs.length), s"label $l batches dense")
    }
  }

  test("q237 decay: weights bounded, longer half-life keeps more mass") {
    val rows = Events.decayCounts(spark, dir).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (t, hs) =>
      val ordered = hs.sortBy(_.getAs[Long]("half_life_s"))
      assert(ordered.map(_.getAs[Long]("half_life_s")).toSeq ==
        Seq(3600L, 21600L, 86400L))
      // same events, so n constant across half-lives
      assert(ordered.map(_.getAs[Long]("n_events")).distinct.length == 1)
      val d = ordered.map(_.getAs[Double]("decayed_count"))
      d.zip(d.tail).foreach { case (short, long) =>
        assert(short <= long + 1e-9, s"$t decay must grow with half-life")
      }
      val n = ordered.head.getAs[Long]("n_events").toDouble
      d.foreach(x => assert(x > 0 && x <= n + 1e-9))
    }
  }
}
