package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-8 provenance/ensemble batch
  * (q225, q226, q227).
  */
class Round8fOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q225 copy-flow conserves the oriented pair mass") {
    val rows = Dedup.copyFlow(spark, dir).collect()
    val totalPairs = Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == totalPairs,
      "every oriented pair lands in exactly one matrix cell")
    // orientation is real: the matrix need not be symmetric, but each
    // cell is keyed by (from, to) of an actual pair
    val sources = Tables
      .documents(spark, dir)
      .select(col("source"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSet
    rows.foreach { r =>
      assert(sources.contains(r.getAs[String]("source_from")))
      assert(sources.contains(r.getAs[String]("source_to")))
    }
  }

  test("q226 ensemble histogram partitions the corpus; majority rule holds") {
    val rows = TextAnalysis.gateEnsemble(spark, dir).collect()
    rows.foreach { r =>
      val g = r.getAs[Long]("n_gates")
      val v = r.getAs[Long]("votes")
      assert(v >= 0 && v <= g)
      assert(r.getAs[Int]("kept") == (if (v * 2 > g) 1 else 0))
    }
    // docs counted once: gopher+lr score everything, LM gates only
    // >= 3-token docs, so n_gates is 2 or 4 per doc
    val totalDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs == Tables.documents(spark, dir).count())
    assert(rows.map(_.getAs[Long]("n_gates")).forall(g => g == 2 || g == 4))
  }

  test("q227 sweep: tau=1 is the natural mix (ESS = N), entropy decreasing in tau iff skewed") {
    val rows = Sampling
      .mixTemperatureSweep(spark, dir)
      .collect()
      .sortBy(_.getAs[Long]("tau_permille"))
    assert(rows.map(_.getAs[Long]("tau_permille")).toSeq ==
      Seq(300L, 500L, 700L, 1000L))
    val natural = rows.last
    assert(natural.getAs[Long]("ess_ppm") == 1000000L,
      "tau=1 reweights by 1 everywhere → ESS exactly N")
    // flattening the mix (lower tau) raises entropy monotonically and
    // costs ESS monotonically on a skewed corpus
    val ent = rows.map(_.getAs[Long]("entropy_micro"))
    ent.zip(ent.tail).foreach { case (flatter, sharper) =>
      assert(flatter >= sharper, "entropy decreases toward tau=1")
    }
    val ess = rows.map(_.getAs[Long]("ess_ppm"))
    ess.zip(ess.tail).foreach { case (flatter, sharper) =>
      assert(flatter <= sharper, "ESS rises toward tau=1")
    }
  }
}
