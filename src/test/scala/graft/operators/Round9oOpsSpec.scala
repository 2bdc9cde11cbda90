package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 fourteenth wave (q400-q402):
  * composite manifest, dup bursts, lang-ID margin.
  */
class Round9oOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q400 manifest: stage counts reconcile with the component seams") {
    val rows = Sampling.round9Manifest(spark, dir).collect()
    assert(rows.nonEmpty)
    // train population matches the contamination seam's population
    val classed = Dedup.contaminationSets(spark, dir)
    assert(rows.map(_.getAs[Long]("n_train_docs")).sum == classed.count())
    // quarantine totals match the blast radius census
    val blast = Dedup.contaminationBlastRadius(spark, dir).collect()
    val blastQ = blast.map(r =>
      r.getAs[Long]("n_direct") + r.getAs[Long]("n_collateral")).sum
    assert(rows.map(_.getAs[Long]("n_quarantined")).sum == blastQ)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_train_docs")
      val q = r.getAs[Long]("n_quarantined")
      val a = r.getAs[Long]("n_admitted")
      assert(a + q <= n, "admitted and quarantined are disjoint")
      assert(r.getAs[Long]("admitted_tokens") <=
        r.getAs[Long]("train_tokens"))
      assert(r.getAs[Long]("doc_retention_ppm") ==
        halfUp(a * 1000000L, n))
    }
    // the per-lang median cut admits strictly less than half overall
    val totN = rows.map(_.getAs[Long]("n_train_docs")).sum
    val totA = rows.map(_.getAs[Long]("n_admitted")).sum
    assert(totA < totN / 2 + rows.length)
  }

  test("q401 bursts: pair totals match artifact, close bounded") {
    val rows = Dedup.dupBurstTimeline(spark, dir).collect()
    assert(rows.nonEmpty)
    val nPairs = Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nPairs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_close_pairs") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("max_gap") >= 1L)
      assert(r.getAs[Long]("close_ppm") ==
        halfUp(r.getAs[Long]("n_close_pairs") * 1000000L,
          r.getAs[Long]("n_pairs")))
    }
  }

  test("q402 margin: detected set sane, synthetic control, recount") {
    val rows = TextAnalysis.langIdMargin(spark, dir).collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_ambiguous") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("mean_margin_milli") <=
        r.getAs[Long]("max_margin") * 1000L)
    }
    // synthetic positive control: a decisive English doc has margin
    // = its marker count; a tie doc has margin 0
    import spark.implicits._
    val ctl = Seq(
      (1L, "the the and of to is bright"), // en margin 6
      (2L, "der the") // en 1 vs de 1 -> tie, en wins by order
    ).toDF("doc_id", "text")
    val t = graft.functions.TextFunctions.tokens(col("text"))
    val scores = graft.functions.TextFunctions.langMarkers.map {
      case (_, words) => size(filter(t, w => w.isin(words: _*))).cast("long")
    }
    val sorted = sort_array(array(scores: _*), asc = false)
    val out = ctl.select(
      col("doc_id"),
      graft.functions.TextFunctions.langId(col("text")).as("det"),
      (element_at(sorted, 1) - element_at(sorted, 2)).as("m"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(out(1L) == ("en", 6L))
    assert(out(2L)._1 == "en" && out(2L)._2 == 0L)
  }
}
