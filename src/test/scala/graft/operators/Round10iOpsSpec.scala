package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 ninth wave (q467-q468):
  * MinHash k sweep, k-fold balance.
  */
class Round10iOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q467: same pair population at every k; error shrinks (or " +
    "holds) as k doubles; k=16 prefix property") {
    val rows = Dedup.minhashKSweep(spark, dir).collect()
      .sortBy(_.getAs[Long]("k"))
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(4L, 8L, 16L))
    assert(rows.map(_.getAs[Long]("n_pairs")).distinct.length == 1,
      "one fixed pair set across the sweep")
    assert(rows.head.getAs[Long]("n_pairs") > 0)
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_abs_err_micro") <=
        r.getAs[Long]("max_abs_err_micro"))
      assert(r.getAs[Long]("max_abs_err_micro") <= 1000000L)
      // estimates are multiples of 1e6/k, so max error is bounded
      // away from the trivial bound only statistically — sanity only
    }
    // monotone-ish: k=16 mean error no worse than k=4 (1/sqrt(k)
    // scaling makes strict monotonicity overwhelmingly likely on
    // hundreds of pairs; equality tolerated)
    assert(rows(2).getAs[Long]("mean_abs_err_micro") <=
      rows(0).getAs[Long]("mean_abs_err_micro"))
  }

  test("q468: stratum masses reconcile; folds partition each cell") {
    val rows = Sampling.kfoldBalance(spark, dir).collect()
    val docs = Tables.documents(spark, dir)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val nCells = docs.select(col("source"), col("lang"))
      .distinct().count()
    assert(rows.length.toLong == nCells)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_folds_hit") >= 1 &&
        r.getAs[Long]("n_folds_hit") <= 5)
      assert(r.getAs[Long]("min_fold_n") <= r.getAs[Long]("max_fold_n"))
      assert(r.getAs[Long]("spread") ==
        r.getAs[Long]("max_fold_n") - r.getAs[Long]("min_fold_n"))
      assert(r.getAs[Long]("min_fold_n") *
        r.getAs[Long]("n_folds_hit") <= r.getAs[Long]("n_docs"))
    }
  }
}
