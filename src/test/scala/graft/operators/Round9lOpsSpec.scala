package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 eleventh wave (q391-q393):
  * cluster tightness, source spacing, dup quality profile.
  */
class Round9lOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q391 tightness: edge totals match the pair artifact, milli bounded") {
    val rows = Dedup.clusterTightness(spark, dir).collect()
    assert(rows.nonEmpty)
    val nPairs = Dedup.ngramJaccardPairs(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_edges")).sum == nPairs)
    rows.foreach { r =>
      val mn = r.getAs[Long]("min_jacc_milli")
      val mx = r.getAs[Long]("max_jacc_milli")
      val mean = r.getAs[Long]("mean_jacc_milli")
      assert(mn >= 50L - 1L, "edges live at or above the 0.05 floor")
      assert(mx <= 1000L)
      assert(mn <= mean && mean <= mx)
    }
  }

  test("q392 spacing: driver recount of per-source gaps") {
    val rows = Sampling.sourceSpacing(spark, dir).collect()
    assert(rows.nonEmpty)
    val bySrc = Tables
      .documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
      .groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).sorted }
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val ids = bySrc(src)
      val gaps = ids.sliding(2).map { case Array(a, b) => b - a }.toSeq
      assert(r.getAs[Long]("n_docs") == ids.length.toLong)
      assert(r.getAs[Long]("max_gap") == gaps.max)
      assert(r.getAs[Long]("min_gap") == gaps.min)
      assert(r.getAs[Long]("mean_gap_milli") ==
        halfUp((ids.last - ids.head) * 1000L, ids.length - 1L))
      // max/mean >= 1 by definition (in milli, >= ~1000)
      assert(r.getAs[Long]("max_vs_mean_milli") >= 999L)
    }
  }

  test("q393 dup quality: two classes partition the corpus, picks ordered") {
    val rows = TextAnalysis.dupQualityProfile(spark, dir).collect()
    val classes = rows.map(_.getAs[String]("class")).sorted
    assert(classes.sameElements(Array("clean", "dup_member")))
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("p10_micro") <= r.getAs[Long]("p50_micro"))
      assert(r.getAs[Long]("p50_micro") <= r.getAs[Long]("p90_micro"))
      assert(r.getAs[Long]("spread_micro") ==
        r.getAs[Long]("p90_micro") - r.getAs[Long]("p10_micro"))
    }
    // cross-check the median picks against a driver recount
    val pairs = Dedup.ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
    val dupIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct().collect().map(_.getLong(0)).toSet
    val qs = TextAnalysis.qualityMicroScores(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("q_micro")))
    rows.foreach { r =>
      val inClass = qs.filter { case (id, _) =>
        dupIds.contains(id) == (r.getAs[String]("class") == "dup_member")
      }.map { case (id, q) => (q, id) }.sorted
      def pick(p: Int): Long =
        inClass(math.ceil(inClass.length * p / 100.0).toInt - 1)._1
      assert(r.getAs[Long]("p50_micro") == pick(50),
        s"${r.getAs[String]("class")} median")
      assert(r.getAs[Long]("n_docs") == inClass.length.toLong)
    }
  }
}
