package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 third wave (q451-q453): image
  * dHash banding, space-filling-curve locality, Haar energy.
  */
class Round10cOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("hilbertIndex: a 32x32 grid is a true Hilbert curve — " +
    "bijective onto 0..1023 and unit-step adjacent") {
    import spark.implicits._
    val n = 32
    val grid = spark
      .range(n.toLong * n)
      .select(
        (col("id") % n).as("x"),
        (col("id") / n).cast("long").as("y")
      )
    val d = Layout
      .hilbertIndex(grid, 5, "x", "y", "d")
      .collect()
      .map(r => (r.getAs[Long]("d"), r.getAs[Long]("x"),
        r.getAs[Long]("y")))
      .sortBy(_._1)
    assert(d.map(_._1).toSeq == (0L until n.toLong * n).toSeq,
      "curve index is a bijection onto the cell count")
    d.sliding(2).foreach {
      case Array((_, x1, y1), (_, x2, y2)) =>
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"consecutive curve cells must be grid-adjacent: " +
            s"($x1,$y1)->($x2,$y2)")
      case _ =>
    }
    // at q452's order 10 the full 1024x1024 cover is a bijection onto
    // the domain 0..4^10-1: no row lost, both endpoints hit
    val full = Layout
      .hilbertIndex(
        spark.range(1L << 20).select(
          (col("id") % 1024L).as("x"), (col("id") / 1024L).cast("long").as("y")),
        10, "x", "y", "d")
      .agg(count(lit(1)), countDistinct(col("d")), min(col("d")), max(col("d")))
      .head()
    assert(full.toSeq == Seq(1L << 20, 1L << 20, 0L, (1L << 20) - 1))
  }

  test("q452: hilbert never touches more square-region blocks than " +
    "lex; region row counts agree across layouts") {
    val rows = Layout.curveLocality(spark, dir).collect()
    assert(rows.length == 9, "3 layouts x 3 regions")
    val byRegion = rows.groupBy(_.getAs[String]("region"))
    byRegion.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n_rows")).distinct.length == 1,
        "row count is layout-independent per region")
    }
    def blocks(layout: String, region: String): Long =
      rows
        .find(r => r.getAs[String]("layout") == layout &&
          r.getAs[String]("region") == region)
        .get
        .getAs[Long]("n_blocks_touched")
    assert(blocks("hilbert", "r_square") <= blocks("lex", "r_square"),
      "hilbert beats (or ties) lexicographic on the 2-D square")
    assert(blocks("lex", "r_slab_x") <= blocks("hilbert", "r_slab_x"),
      "lexicographic wins its own slab axis")
  }

  test("q451: candidate pairs bounded by band collisions; exact " +
    "pairs equal identical-text pairs") {
    val row = Multimodal.imageDHashPairs(spark, dir).collect()(0)
    val nImages = row.getAs[Long]("n_images")
    assert(nImages == Tables.documents(spark, dir).count())
    assert(row.getAs[Long]("n_near_dup_pairs") >=
      row.getAs[Long]("n_exact_pairs"))
    assert(row.getAs[Long]("n_candidate_pairs") >=
      row.getAs[Long]("n_near_dup_pairs"))
    // identical text => identical rolling hash => identical dHash =>
    // hamming 0; with the stub luminance the converse holds too
    // (distinct hashes decorrelate), so exact pairs = same-hash pairs
    val sameHash = Tables
      .documents(spark, dir)
      .select(graft.functions.RollingHash.rollingHash(col("text"))
        .as("h"))
      .groupBy(col("h"))
      .count()
      .collect()
      .map(r => { val c = r.getAs[Long]("count"); c * (c - 1) / 2 })
      .sum
    assert(row.getAs[Long]("n_exact_pairs") == sameHash)
  }

  test("q453: Parseval — 512·Σx² = (Σx)² + Σ_l (512/2^l)·energy_l") {
    val rows = Events.haarEnergy(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("level")).sorted.toSeq ==
      (1L to 9L).toSeq)
    val energies = rows
      .map(r => r.getAs[Long]("level") -> r.getAs[Long]("energy"))
      .toMap
    val hours = Tables
      .events(spark, dir)
      .select((unix_micros(col("ts")) / lit(3600000000L))
        .cast("long").as("hr"))
      .groupBy(col("hr"))
      .count()
      .collect()
      .map(r => (r.getAs[Long]("hr"), r.getAs[Long]("count")))
    val mn = hours.map(_._1).min
    val xs = hours
      .map { case (hr, c) => (hr - mn, c) }
      .filter(_._1 < 512)
    val sumX = BigInt(xs.map(_._2).sum)
    val sumX2 = xs.map(t => BigInt(t._2) * t._2).sum
    val rhs = sumX * sumX + (1L to 9L)
      .map(l => BigInt(512L >> l) * BigInt(energies(l)))
      .sum
    assert(BigInt(512) * sumX2 == rhs,
      "unnormalized Haar energies satisfy the exact Parseval identity")
    // blocks per level never exceed the dyadic bound
    rows.foreach { r =>
      val l = r.getAs[Long]("level")
      assert(r.getAs[Long]("n_blocks") <= (512L >> l))
      assert(r.getAs[Long]("energy") >= 0L)
    }
  }
}
