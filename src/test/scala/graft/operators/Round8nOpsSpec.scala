package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the novelty/burst/style batch (q253, q254,
  * q255).
  */
class Round8nOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q253 bucket 0 is all-new and totals recount from the driver") {
    val rows = Dedup.noveltyDecay(spark, dir).collect()
    val b0 = rows.find(_.getAs[Long]("b") == 0L).get
    assert(b0.getAs[Long]("n_new") == b0.getAs[Long]("n_distinct"))
    assert(b0.getAs[Long]("novelty_ppm") == 1000000L)
    // driver recount of distinct and first-seen shingles per bucket
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val t = r.getAs[String]("text").trim
        val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
        val sh =
          if (toks.length < 3) Set.empty[String]
          else toks.sliding(3).map(_.mkString(" ")).toSet
        (r.getAs[Long]("doc_id") / 50, sh)
      }
    val byBucket = docs
      .groupBy(_._1)
      .map { case (b, xs) => b -> xs.flatMap(_._2).toSet }
    val firstSeen = byBucket.toSeq
      .sortBy(_._1)
      .foldLeft((Map.empty[Long, Long], Set.empty[String])) {
        case ((acc, seen), (b, sh)) =>
          (acc + (b -> (sh -- seen).size.toLong), seen ++ sh)
      }
      ._1
    rows.foreach { r =>
      val b = r.getAs[Long]("b")
      assert(r.getAs[Long]("n_distinct") == byBucket(b).size.toLong, s"b $b")
      assert(r.getAs[Long]("n_new") == firstSeen(b), s"b $b new")
    }
    // novelty in the last bucket must be below bucket 0 (decay)
    val last = rows.maxBy(_.getAs[Long]("b"))
    assert(last.getAs[Long]("novelty_ppm") <= 1000000L)
  }

  test("q254 z-scores recount against a driver-side trailing window") {
    val rows = Events.burstFlags(spark, dir).collect()
    val series = rows
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t -> rs.sortBy(_.getAs[Long]("hour_us")) }
    series.foreach { case (t, rs) =>
      val ns = rs.map(_.getAs[Long]("n"))
      rs.zipWithIndex.foreach { case (r, i) =>
        val prev = ns.slice(math.max(0, i - 24), i)
        assert(r.getAs[Long]("n_prev") == prev.length.toLong, s"$t row $i")
        if (prev.length >= 12) {
          val k = prev.length
          val mean = prev.sum.toDouble / k
          val varr = (prev.map(x => x * x).sum.toDouble -
            prev.sum.toDouble * prev.sum / k) / k
          if (varr > 0) {
            val z = (ns(i) - mean) / math.sqrt(varr)
            assert(math.abs(r.getAs[Long]("z_micro") - math.round(z * 1e6))
              <= 1L, s"$t row $i z")
            assert(r.getAs[Boolean]("burst") == (z > 3.0))
          } else assert(!r.getAs[Boolean]("burst"))
        } else {
          assert(r.isNullAt(r.fieldIndex("z_micro")))
          assert(!r.getAs[Boolean]("burst"))
        }
      }
    }
  }

  test("q255 matrix is symmetric-complete, bounded by ln 2, self-JS zero") {
    val rows = TextAnalysis.sourceStyleMatrix(spark, dir).collect()
    val sources = Tables
      .documents(spark, dir)
      .select(col("source"))
      .distinct()
      .count()
    assert(rows.length.toLong == sources * (sources - 1) / 2)
    val ln2Micro = math.round(math.log(2.0) * 1e6)
    rows.foreach { r =>
      val js = r.getAs[Long]("js_micro")
      assert(js >= 0L && js <= ln2Micro,
        s"${r.getAs[String]("source_a")}/${r.getAs[String]("source_b")}")
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
    }
  }
}
