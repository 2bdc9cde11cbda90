package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the strata/cube/threshold-ARI batch (q271,
  * q272, q273).
  */
class Round8tOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q271 strata partition the vocabulary and coverage sums to 1e6") {
    val rows = TextAnalysis.vocabCoverageStrata(spark, dir).collect()
    val strata = rows.map(_.getAs[String]("stratum")).toSet
    assert(strata.subsetOf(Set("head", "torso", "tail")))
    // driver recount of the full stratification
    val counts = Tables
      .documents(spark, dir)
      .collect()
      .flatMap { r =>
        val t = r.getAs[String]("text").trim
        if (t.isEmpty) Array.empty[String] else t.split("\\s+")
      }
      .groupBy(identity)
      .map { case (w, xs) => (w, xs.length.toLong) }
      .toSeq
      .sortBy { case (w, c) => (-c, w) }
    val tot = counts.map(_._2).sum
    var cum = 0L
    val naive = counts.map { case (_, c) =>
      cum += c
      if (cum * 100 <= tot * 80) ("head", c)
      else if (cum * 100 <= tot * 95) ("torso", c)
      else ("tail", c)
    }.groupBy(_._1).map { case (s, xs) => s -> (xs.length.toLong, xs.map(_._2).sum) }
    rows.foreach { r =>
      val s = r.getAs[String]("stratum")
      assert(naive(s)._1 == r.getAs[Long]("n_terms"), s"$s terms")
      assert(naive(s)._2 == r.getAs[Long]("token_mass"), s"$s mass")
    }
    assert(rows.map(_.getAs[Long]("token_mass")).sum == tot)
    // head mass dominates by construction
    val head = rows.find(_.getAs[String]("stratum") == "head").get
    assert(head.getAs[Long]("coverage_ppm") <= 800000L)
  }

  test("q272 cube marginals are consistent with the grand total") {
    val rows = TextAnalysis.compositionCube(spark, dir).collect()
    val grand = rows.find(_.getAs[Long]("gid") == 7L).get
    assert(grand.getAs[Long]("n_docs") ==
      Tables.documents(spark, dir).count())
    // per-source marginal rows (gid=3: lang+class rolled up) sum to grand
    val bySource = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(bySource.map(_.getAs[Long]("n_docs")).sum ==
      grand.getAs[Long]("n_docs"))
    assert(bySource.map(_.getAs[Long]("tokens")).sum ==
      grand.getAs[Long]("tokens"))
    // finest cells (gid=0) also sum to grand
    val cells = rows.filter(_.getAs[Long]("gid") == 0L)
    assert(cells.map(_.getAs[Long]("n_docs")).sum ==
      grand.getAs[Long]("n_docs"))
  }

  test("q273 ARI bounds and refinement structure hold") {
    val out = Dedup.thresholdClusterAgreement(spark, dir).collect().head
    val ari = out.getAs[Long]("ari_micro")
    assert(ari >= -1000000L && ari <= 1000000L)
    // the J>=0.6 edge set is a subset of J>=0.3, so its closure only
    // splits clusters: it must have at least as many clusters
    assert(out.getAs[Long]("n_clusters_hi") >= out.getAs[Long]("n_clusters_lo"))
    // pair counting consistency: same-pair count of the refinement
    // (comb_cells) can't exceed either side's own pair mass
    assert(out.getAs[Long]("comb_cells") <= out.getAs[Long]("comb_a"))
    assert(out.getAs[Long]("comb_cells") <= out.getAs[Long]("comb_b"))
    // hi refines lo: every hi-pair is a lo-pair, so comb_cells
    // (pairs agreeing in BOTH) equals comb_b exactly
    assert(out.getAs[Long]("comb_cells") == out.getAs[Long]("comb_b"))
  }
}
