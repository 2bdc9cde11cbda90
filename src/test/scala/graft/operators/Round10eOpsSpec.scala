package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 fifth wave (q457-q459):
  * Hodges-Lehmann shift, length MAD, percolation curve.
  */
class Round10eOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q457 HL: matches the brute-force median pairwise difference") {
    val rows = TextAnalysis.hodgesLehmannShift(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = Tables
      .documents(spark, dir)
      .select(col("lang"), col("n_chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val mine = docs.filter(_._1 == lang).map(_._2)
      val rest = docs.filter(_._1 != lang).map(_._2)
      val diffs = (for (x <- mine; y <- rest) yield x - y).sorted
      assert(r.getAs[Long]("n_pairs") == diffs.length.toLong)
      // weighted lower median: smallest diff with 2*rank >= n
      val want = diffs((diffs.length - 1) / 2)
      assert(r.getAs[Long]("hl_shift") == want,
        s"$lang: got ${r.getAs[Long]("hl_shift")} want $want")
      assert(r.getAs[Long]("min_diff") == diffs.head)
      assert(r.getAs[Long]("max_diff") == diffs.last)
    }
  }

  test("q458 MAD: matches driver-side lower-median computations") {
    val rows = TextAnalysis.lengthMad(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = Tables
      .documents(spark, dir)
      .select(col("lang"), col("n_chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((s.length - 1) / 2)
    }
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val mine = docs.filter(_._1 == lang).map(_._2).toSeq
      val med = lowerMedian(mine)
      assert(r.getAs[Long]("n_docs") == mine.length.toLong)
      assert(r.getAs[Long]("median_len") == med)
      assert(r.getAs[Long]("mad_len") ==
        lowerMedian(mine.map(x => math.abs(x - med))))
    }
  }

  test("q459 percolation: monotone in threshold; censuses reconcile " +
    "with a driver-side union-find") {
    val rows = Dedup.percolationCurve(spark, dir).collect()
      .sortBy(_.getAs[Long]("threshold_permille"))
    assert(rows.map(_.getAs[Long]("threshold_permille")).toSeq ==
      Seq(300L, 500L, 700L))
    // tighter thresholds keep fewer edges and nodes
    assert(rows(0).getAs[Long]("n_edges") >=
      rows(1).getAs[Long]("n_edges"))
    assert(rows(1).getAs[Long]("n_edges") >=
      rows(2).getAs[Long]("n_edges"))
    val pairs = Dedup
      .ngramJaccardPairs(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("jaccard")))
    rows.foreach { row =>
      val t = row.getAs[Long]("threshold_permille") / 1000.0
      val es = pairs.filter(_._3 >= t).map(p => (p._1, p._2))
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(
        nodes.map(n => n -> n): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val comps = nodes.groupBy(find).values.map(_.length.toLong)
      assert(row.getAs[Long]("n_nodes") == nodes.length.toLong)
      assert(row.getAs[Long]("n_edges") == es.length.toLong)
      assert(row.getAs[Long]("n_components") == comps.size.toLong)
      assert(row.getAs[Long]("max_component") ==
        (if (comps.isEmpty) 0L else comps.max))
    }
  }
}
