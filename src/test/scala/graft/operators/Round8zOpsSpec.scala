package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the robust-location/Q-Q/confusion wave
  * (q292, q293, q294).
  */
class Round8zOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q292 trimmed mean recounts against a driver sort") {
    val rows = Sampling.trimmedMeanGap(spark, dir).collect()
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(TextAnalysis.qualityMicroScores(spark, dir)
        .select(col("doc_id"), col("q_micro").as("qm")), "doc_id")
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("qm")))
    val bySrc = scored.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val xs = bySrc(src).sortBy(t => (t._3, t._2)).map(_._3)
      val k = xs.length / 10
      val kept = xs.slice(k, xs.length - k)
      assert(r.getAs[Long]("n") == xs.length)
      def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
      assert(r.getAs[Long]("mean_micro") == halfUp(xs.sum, xs.length))
      assert(r.getAs[Long]("trimmed_micro") ==
        halfUp(kept.sum, kept.length))
      assert(r.getAs[Long]("gap_micro") ==
        r.getAs[Long]("trimmed_micro") - r.getAs[Long]("mean_micro"))
    }
  }

  test("q293 deciles are monotone and corpus decile recounts") {
    val rows = Sampling.qqDecileDrift(spark, dir).collect()
    // 9 deciles for every source
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      assert(rs.length == 9)
      val sorted = rs.sortBy(_.getAs[Long]("decile"))
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(b.getAs[Long]("src_q_micro") >= a.getAs[Long]("src_q_micro"))
        assert(b.getAs[Long]("corpus_q_micro") >=
          a.getAs[Long]("corpus_q_micro"))
      }
    }
    // corpus median (decile 5) recount: smallest value whose
    // cumulative count reaches ceil(n/2)
    val all = TextAnalysis.qualityScores(spark, dir)
      .select(round(col("quality") * 1e6).cast("long").as("qm"))
      .collect().map(_.getAs[Long]("qm")).sorted
    val med = all((math.ceil(all.length * 5.0 / 10.0) - 1).toInt)
    rows.filter(_.getAs[Long]("decile") == 5L).foreach(r =>
      assert(r.getAs[Long]("corpus_q_micro") == med))
  }

  test("q294 cells partition the scored corpus, shares sum per lang") {
    val rows = TextAnalysis.langConfusionAudit(spark, dir).collect()
    val nbN = TextAnalysis.nbLangId(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n")).sum == nbN)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val share = rs.map(_.getAs[Long]("row_share_ppm")).sum
      assert(math.abs(share - 1000000L) <= rs.length)
      rs.foreach(r =>
        assert(r.getAs[Long]("low_margin_n") <= r.getAs[Long]("n")))
    }
  }
}
