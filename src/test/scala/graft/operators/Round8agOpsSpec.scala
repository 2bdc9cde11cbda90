package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the script/context-cost/k-core wave (q313,
  * q314, q315).
  */
class Round8agOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q313 class masses partition the character total per source") {
    val rows = TextAnalysis.scriptCensus(spark, dir).collect()
    val totals = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(length(col("text"))).as("t")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("t")).toMap
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      assert(rs.length == 6) // 5 classes + other
      assert(rs.map(_.getAs[Long]("n_chars")).sum == totals(src))
      val ppm = rs.map(_.getAs[Long]("share_ppm")).sum
      assert(math.abs(ppm - 1000000L) <= rs.length)
    }
  }

  test("q314 frontier recounts both loaders and flags an argmin") {
    val rows = TextAnalysis.contextCostFrontier(spark, dir)
      .orderBy(col("len")).collect()
    assert(rows.length == 6)
    // truncation loss shrinks with len; padding waste grows for the
    // large-L tail (every doc fits one window -> pure padding)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("lost_tokens") <= a.getAs[Long]("lost_tokens"))
    }
    assert(rows.count(_.getAs[Boolean]("best_pack_l")) >= 1)
    assert(rows.count(_.getAs[Boolean]("best_truncate_l")) >= 1)
    rows.foreach { r =>
      val cheaper = r.getAs[String]("cheaper_design")
      assert(cheaper == "pack" || cheaper == "truncate")
      assert((r.getAs[Long]("padded_tokens") <
        r.getAs[Long]("lost_tokens")) == (cheaper == "pack"))
    }
  }

  test("q315 peel reaches fixpoint within 5 rounds and cores nest") {
    val rows = Dedup.coreAudit(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("core2_size") <= r.getAs[Long]("cluster_size"))
      // a 2-core is never a single node or a pair-with-one-edge:
      // it has minimum degree 2, so at least 3 nodes
      val c = r.getAs[Long]("core2_size")
      assert(c == 0L || c >= 3L)
    }
    // fixpoint: a 6th peel round must not remove anything — recount
    // by replaying the peel in the driver on the edge list
    val pairs = Dedup.ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    var alive = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    var changed = true
    var rounds = 0
    while (changed) {
      val deg = pairs.filter(p => alive(p._1) && alive(p._2))
        .flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).view.mapValues(_.length).toMap
      val next = alive.filter(n => deg.getOrElse(n, 0) >= 2)
      changed = next != alive
      if (changed) rounds += 1
      alive = next
    }
    assert(rounds <= 5, s"peel needed $rounds rounds")
    assert(rows.map(_.getAs[Long]("core2_size")).sum == alive.size.toLong)
  }
}
