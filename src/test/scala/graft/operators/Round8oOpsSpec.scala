package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the boilerplate/profile/decile batch (q256,
  * q257, q258).
  */
class Round8oOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q256 edge counts recount exactly against the raw texts") {
    val rows = TextAnalysis.boilerplateEdges(spark, dir).collect()
    assert(rows.nonEmpty)
    val edges = Tables
      .documents(spark, dir)
      .select(col("source"), col("text"))
      .collect()
      .flatMap { r =>
        val toks = {
          val t = r.getAs[String]("text").trim
          if (t.isEmpty) Array.empty[String] else t.split("\\s+")
        }
        if (toks.length < 2) Seq.empty
        else
          Seq(
            (r.getAs[String]("source"), "prefix", toks.take(2).mkString(" ")),
            (r.getAs[String]("source"), "suffix",
              toks.takeRight(2).mkString(" "))
          )
      }
      .groupBy(identity)
      .map { case (k, v) => k -> v.length.toLong }
    rows.foreach { r =>
      val k = (r.getAs[String]("source"), r.getAs[String]("kind"),
        r.getAs[String]("snippet"))
      assert(edges(k) == r.getAs[Long]("n_docs"), s"edge $k")
      assert(r.getAs[Long]("n_docs") >= 2L)
      assert(r.getAs[Int]("rk") >= 1 && r.getAs[Int]("rk") <= 10)
    }
    // ranks are dense from 1 within each (source, kind)
    rows
      .groupBy(r => (r.getAs[String]("source"), r.getAs[String]("kind")))
      .foreach { case (g, rs) =>
        val rks = rs.map(_.getAs[Int]("rk")).sorted
        assert(rks.toSeq == (1 to rks.length), s"group $g")
      }
  }

  test("q257 entropy is 0 for single-type users, bounded by ln(n_types)") {
    val rows = Events.userBehaviorProfile(spark, dir).collect()
    val totalEvents = Tables.events(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == totalEvents)
    rows.foreach { r =>
      val e = r.getAs[Long]("entropy_micro")
      val k = r.getAs[Long]("n_types")
      assert(e >= 0L)
      assert(e <= math.round(math.log(k.toDouble) * 1e6) + 1)
      if (k == 1L) assert(e == 0L)
    }
  }

  test("q258 deciles recount against a driver-side weighted quantile") {
    val rows = Sampling.tokenWeightedQualityDeciles(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("decile")).sorted.toSeq == (1L to 9L))
    val q = TextAnalysis
      .qualityMicroScores(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("q_micro"))
      .toMap
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val t = r.getAs[String]("text").trim
        val n = if (t.isEmpty) 0L else t.split("\\s+").length.toLong
        (r.getAs[Long]("doc_id"), n)
      }
      .filter(_._2 > 0)
      .map { case (id, n) => (q(id), id, n) }
      .sortBy(x => (x._1, x._2))
    val tot = docs.map(_._3).sum
    var cum = 0L
    val cums = docs.map { case (qq, id, n) => cum += n; (qq, id, cum) }
    (1 to 9).foreach { d =>
      val hit = cums.find(_._3 * 10 >= d * tot).get
      val row = rows.find(_.getAs[Long]("decile") == d.toLong).get
      assert(row.getAs[Long]("doc_id") == hit._2, s"decile $d doc")
      assert(row.getAs[Long]("cum_tokens") == hit._3, s"decile $d cum")
      assert(row.getAs[Long]("q_micro") == hit._1, s"decile $d q")
    }
    // token-weighted median must be >= doc-count median quality when
    // long docs skew high... just check monotonicity across deciles
    val qs = rows.sortBy(_.getAs[Long]("decile")).map(_.getAs[Long]("q_micro"))
    qs.zip(qs.tail).foreach { case (a, b) => assert(a <= b) }
  }
}
