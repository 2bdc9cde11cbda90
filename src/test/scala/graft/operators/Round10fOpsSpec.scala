package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 sixth wave (q460-q462):
  * edge support, conditional medians, SAX motifs.
  */
class Round10fOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q460 support: mass identities against the q445 census") {
    val rows = Relational.coPurchaseEdgeSupport(spark, dir).collect()
    val census = Relational.coPurchaseTriangles(spark, dir).collect()(0)
    // every edge appears exactly once in the distribution
    assert(rows.map(_.getAs[Long]("n_edges")).sum ==
      census.getAs[Long]("n_edges"))
    // each triangle contributes support 1 to exactly 3 edges
    val supportMass = rows
      .map(r => r.getAs[Long]("support") * r.getAs[Long]("n_edges"))
      .sum
    assert(supportMass == 3 * census.getAs[Long]("n_triangles"),
      "total support mass is 3x the triangle count")
    assert(rows.forall(_.getAs[Long]("support") >= 0))
  }

  test("q461: deciles partition the corpus; medians are rank-exact " +
    "within each decile") {
    val rows = TextAnalysis.conditionalMedianQuality(spark, dir)
      .collect()
      .sortBy(_.getAs[Long]("decile"))
    val docs = Tables
      .documents(spark, dir)
      .select(col("n_chars"),
        graft.functions.TextFunctions.qualityMicro(col("text"))
          .as("q"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
    // decile bounds are non-decreasing and cover [min, max]
    val los = rows.map(_.getAs[Long]("len_lo"))
    val his = rows.map(_.getAs[Long]("len_hi"))
    rows.indices.drop(1).foreach { i =>
      assert(his(i - 1) <= los(i),
        "decile length ranges must be ordered and disjoint")
    }
    // recompute each decile's lower-median quality
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted; s((s.length - 1) / 2)
    }
    rows.foreach { r =>
      val mine = docs
        .filter(d => d._1 >= r.getAs[Long]("len_lo") &&
          d._1 <= r.getAs[Long]("len_hi"))
        .map(_._2)
        .toSeq
      assert(mine.length.toLong == r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("med_q_micro") == lowerMedian(mine))
    }
  }

  test("q462 SAX: motif mass equals n_segments - 2; symbols balanced " +
    "by the quartile construction") {
    val rows = Events.saxMotifs(spark, dir).collect()
    assert(rows.nonEmpty)
    val hours = Tables
      .events(spark, dir)
      .select((unix_micros(col("ts")) / lit(3600000000L))
        .cast("long").as("hr"))
      .groupBy(col("hr"))
      .count()
      .collect()
      .map(r => (r.getAs[Long]("hr"), r.getAs[Long]("count")))
    val mn = hours.map(_._1).min
    val nSegs = hours
      .map { case (hr, _) => (hr - mn) }
      .filter(_ < 512)
      .map(_ / 8)
      .distinct
      .length
    assert(rows.map(_.getAs[Long]("n_occurrences")).sum ==
      (nSegs - 2).toLong)
    rows.foreach { r =>
      val m = r.getAs[String]("motif")
      assert(m.length == 3 && m.forall(c => c >= '0' && c <= '3'))
    }
  }
}
