package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 seventh wave (q379-q381): blast
  * radius, dup-by-length deciles, threshold transfer.
  */
class Round9hOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q379 blast radius: sets are disjoint, counts bounded, ppm exact") {
    val rows = Dedup.contaminationBlastRadius(spark, dir).collect()
    assert(rows.nonEmpty)
    val nTrain = Tables
      .documents(spark, dir)
      .filter(col("doc_id") % 50 =!= 0)
      .count()
    assert(rows.map(_.getAs[Long]("n_train_docs")).sum == nTrain)
    // direct matches the q73 seam's flagged-doc count
    val nCont = Dedup.decontaminate(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_direct")).sum == nCont)
    rows.foreach { r =>
      val d = r.getAs[Long]("n_direct")
      val c = r.getAs[Long]("n_collateral")
      val n = r.getAs[Long]("n_train_docs")
      // direct and collateral are disjoint subsets of the train docs
      assert(d + c <= n)
      assert(r.getAs[Long]("quarantine_ppm") ==
        halfUp((d + c) * 1000000L, n))
      // char mass only exists where the docs exist
      if (d == 0) assert(r.getAs[Long]("direct_chars") == 0L)
      if (c == 0) assert(r.getAs[Long]("collateral_chars") == 0L)
    }
  }

  test("q380 deciles: 10 buckets partition corpus, monotone length bands") {
    val rows = Dedup.dupRateByLength(spark, dir).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(rows.length == 10)
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // decile sizes differ by at most 1 (exact ntile semantics)
    val sizes = rows.map(_.getAs[Long]("n_docs"))
    assert(sizes.max - sizes.min <= 1L)
    // length bands are non-decreasing across deciles
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("max_chars") <= b.getAs[Long]("min_chars") ||
          a.getAs[Long]("max_chars") == b.getAs[Long]("min_chars"))
      case _ =>
    }
    // total dup mass matches the pair-membership count (same seam)
    val pairs = Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
    val dupDocs = pairs
      .select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .count()
    assert(rows.map(_.getAs[Long]("n_dup_docs")).sum == dupDocs)
    assert(dupDocs > 0L, "corpus should have near-dup pairs")
  }

  test("q381 transfer: flips consistent with admissions, global pick exact") {
    val rows = TextAnalysis.thresholdTransfer(spark, dir).collect()
    assert(rows.nonEmpty)
    // global median identical across rows and equals a driver pick
    val gmeds = rows.map(_.getAs[Long]("global_med")).distinct
    assert(gmeds.length == 1)
    val qs = TextAnalysis
      .qualityMicroScores(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("q_micro"), r.getAs[Long]("doc_id")))
      .sorted
    val gExpect = qs(math.ceil(qs.length * 50 / 100.0).toInt - 1)._1
    assert(gmeds.head == gExpect)
    rows.foreach { r =>
      val ag = r.getAs[Long]("admit_global")
      val al = r.getAs[Long]("admit_lang")
      val fin = r.getAs[Long]("flips_in")
      val fout = r.getAs[Long]("flips_out")
      // admissions reconcile through the flips exactly
      assert(al - fin + fout == ag,
        s"${r.getAs[String]("lang")}: $al - $fin + $fout != $ag")
      assert(r.getAs[Long]("flip_ppm") ==
        halfUp((fin + fout) * 1000000L, r.getAs[Long]("n_docs")))
      // per-lang cut admits at most half (strict > median)
      assert(al <= r.getAs[Long]("n_docs"))
    }
  }
}
