package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 eighth wave (q382-q384): shard
  * policy skew, template 8-gram mass, borderline band census.
  */
class Round9iOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q382 policies: both partition the corpus; cyclic equalizes counts") {
    val rows = Sampling.shardPolicySkew(spark, dir).collect()
    val nDocs = Tables.documents(spark, dir).count()
    val byPolicy = rows.groupBy(_.getAs[String]("policy"))
    assert(byPolicy.keySet == Set("hash", "block_cyclic"))
    byPolicy.foreach { case (p, rs) =>
      assert(rs.map(_.getAs[Long]("n_docs")).sum == nDocs, p)
      assert(rs.map(_.getAs[Long]("shard")).sorted.sameElements(0L to 7L))
    }
    // block-cyclic doc counts differ by at most 1 by construction
    val cyc = byPolicy("block_cyclic").map(_.getAs[Long]("n_docs"))
    assert(cyc.max - cyc.min <= 1L)
    // token totals agree across policies (same corpus)
    val tokTotals = byPolicy.map { case (_, rs) =>
      rs.map(_.getAs[Long]("n_tokens")).sum
    }.toSeq
    assert(tokTotals.distinct.length == 1)
    // the gauge: vs_even_ppm ~ 1e6 on a balanced shard
    rows.foreach { r =>
      val even = halfUp(tokTotals.head, 8L)
      assert(r.getAs[Long]("vs_even_ppm") ==
        halfUp(r.getAs[Long]("n_tokens") * 1000000L, even))
    }
  }

  test("q383 template mass: recount on a synthetic two-doc template") {
    import spark.implicits._
    val df = Seq(
      // two docs sharing an exact 8-gram "a b c d e f g h"
      ("s1", 1L, "a b c d e f g h tail one"),
      ("s1", 2L, "head a b c d e f g h two"),
      // a doc too short for any 8-gram
      ("s1", 3L, "short doc"),
      // a lone doc in another source
      ("s2", 4L, "p q r s t u v w x y")
    ).toDF("source", "doc_id", "text")
    df.createOrReplaceTempView("tmpl_docs")
    val inc = df.select(col("source"), col("doc_id"),
      explode(graft.functions.TextFunctions.shingles(col("text"), 8))
        .as("g"))
    val counts = inc.groupBy("source", "g").count()
    val sharedS1 = counts
      .filter(col("source") === "s1" && col("count") >= 2)
      .collect()
    assert(sharedS1.length == 1) // exactly the shared 8-gram
    // the real operator over the corpus: invariants
    val rows = TextAnalysis.templateNgramMass(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("template_incidences") <=
        r.getAs[Long]("n_incidences"))
      assert(r.getAs[Long]("template_grams") <= r.getAs[Long]("n_grams"))
      // every template gram contributes >= 2 incidences
      assert(r.getAs[Long]("template_incidences") >=
        2 * r.getAs[Long]("template_grams"))
      assert(r.getAs[Long]("template_ppm") ==
        halfUp(r.getAs[Long]("template_incidences") * 1000000L,
          math.max(r.getAs[Long]("n_incidences"), 1L)))
    }
  }

  test("q384 bands: monotone in width, median always inside") {
    val rows = TextAnalysis.borderlineBand(spark, dir).collect()
    assert(rows.nonEmpty)
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("band_micro"))
      assert(sorted.map(_.getAs[Long]("band_micro")).sameElements(
        Array(10000L, 50000L, 100000L)), lang)
      // wider band can only include more docs
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("n_within") <= b.getAs[Long]("n_within"))
        case _ =>
      }
      // the median doc itself is always within every band
      sorted.foreach(r => assert(r.getAs[Long]("n_within") >= 1L))
      // same median across bands
      assert(sorted.map(_.getAs[Long]("med_micro")).distinct.length == 1)
    }
  }
}
