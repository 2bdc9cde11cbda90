package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-10 second wave (q448-q450):
  * blocked edit-distance bands, l-diversity, degree assortativity.
  */
class Round10bOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q448 bands: pair mass equals in-block pair count; " +
    "levenshtein matches a reference implementation") {
    val rows = Dedup.editDistanceBands(spark, dir).collect()
    assert(rows.nonEmpty)
    val blocks = Tables
      .documents(spark, dir)
      .select(col("lang"), substring(col("text"), 1, 8).as("pfx"))
      .groupBy(col("lang"), col("pfx"))
      .count()
      .collect()
      .map(_.getAs[Long]("count"))
    val wantPairs = blocks.map(c => c * (c - 1) / 2).sum
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == wantPairs)
    rows.foreach { r =>
      val (lo, hi) = r.getAs[String]("band") match {
        case "0_2"  => (0L, 2L)
        case "3_5"  => (3L, 5L)
        case "6_10" => (6L, 10L)
        case _      => (11L, Long.MaxValue)
      }
      assert(r.getAs[Long]("min_dist") >= lo)
      assert(r.getAs[Long]("max_dist") <= hi)
    }
    // reference Levenshtein (classic DP) against Spark's builtin
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) {
        (i, j) => if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(
          math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val probe = spark
      .createDataFrame(Seq(("kitten", "sitting"), ("abc", "abc"),
        ("", "xyz"), ("flaw", "lawn")))
      .toDF("a", "b")
      .select(col("a"), col("b"),
        levenshtein(col("a"), col("b")).as("d"))
      .collect()
    probe.foreach { r =>
      assert(r.getAs[Int]("d") ==
        lev(r.getAs[String]("a"), r.getAs[String]("b")))
    }
  }

  test("q449 l-diversity: cells and docs reconcile; l bounded by " +
    "distinct langs") {
    val rows = Sampling.lDiversityCensus(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, dir)
    val nLangs = docs.select(col("lang")).distinct().count()
    val nCells = docs
      .select(col("source"), (col("n_chars") / 100).cast("long"))
      .distinct()
      .count()
    assert(rows.map(_.getAs[Long]("n_cells")).sum == nCells)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rows.foreach { r =>
      val l = r.getAs[Long]("l")
      assert(l >= 1 && l <= nLangs)
      assert(r.getAs[Long]("min_cell") >= l,
        "a cell with l distinct langs holds at least l docs")
      assert(r.getAs[Long]("min_cell") <= r.getAs[Long]("max_cell"))
    }
  }

  test("q450 assortativity: sufficient statistics reconcile with a " +
    "driver-side recomputation") {
    val row = Dedup.degreeAssortativity(spark, dir).collect()(0)
    val m = row.getAs[Long]("m")
    assert(m > 0, "sf0.001 has near-dup pairs at J >= 0.5")
    val pairs = Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = pairs
      .flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity)
      .map { case (k, vs) => k -> vs.length.toLong }
    val sJk = pairs.map { case (a, b) => deg(a) * deg(b) }.sum
    val s1 = pairs.map { case (a, b) => deg(a) + deg(b) }.sum
    val s2 = pairs.map { case (a, b) =>
      deg(a) * deg(a) + deg(b) * deg(b)
    }.sum
    assert(m == pairs.length.toLong)
    assert(row.getAs[Long]("s_jk") == sJk)
    assert(row.getAs[Long]("s1") == s1)
    assert(row.getAs[Long]("s2") == s2)
    val num = 1000L * (4L * m * sJk - s1 * s1)
    val den = math.max(2L * m * s2 - s1 * s1, 1L)
    val want =
      if (num < 0) -((2 * -num + den) / (2 * den))
      else (2 * num + den) / (2 * den)
    assert(row.getAs[Long]("r_milli") == want)
    assert(math.abs(row.getAs[Long]("r_milli")) <= 1000L)
  }
}
