package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 fifteenth wave (q403-q405):
  * co-purchase pairs, decontamination widths, predictability.
  */
class Round9pOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q403 co-purchase: support recount on a synthetic basket") {
    import spark.implicits._
    val rows = Relational.coPurchasePairs(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // ordered, canonical direction, deterministic tie-break
    rows.foreach(r =>
      assert(r.getAs[Long]("part_a") < r.getAs[Long]("part_b")))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("support") >= b.getAs[Long]("support"))
      case _ =>
    }
    // synthetic basket: parts {1,2} together in 2 orders, {1,3} in 1;
    // duplicate lines must not inflate support
    val li = Seq(
      (100L, 1L), (100L, 2L), (100L, 2L),
      (101L, 1L), (101L, 2L), (102L, 1L), (102L, 3L)
    ).toDF("l_orderkey", "l_partkey")
    val op = li.distinct()
    val sup = op.as("a")
      .join(op.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .count()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(sup((1L, 2L)) == 2L)
    assert(sup((1L, 3L)) == 1L)
  }

  test("q404 widths: monotone non-increasing in width; w5 matches q73") {
    val rows = Dedup.deconWidthSweep(spark, dir).collect()
      .sortBy(_.getAs[Long]("width"))
    assert(rows.map(_.getAs[Long]("width")).sameElements(Array(3L, 5L, 8L)))
    // wider shingles can only flag fewer docs
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_flagged") >= b.getAs[Long]("n_flagged"))
      case _ =>
    }
    // the width-5 row equals the q73 seam's flagged count
    val q73 = Dedup.decontaminate(spark, dir).count()
    assert(rows(1).getAs[Long]("n_flagged") == q73)
    rows.foreach { r =>
      assert(r.getAs[Long]("flagged_ppm") ==
        halfUp(r.getAs[Long]("n_flagged") * 1000000L,
          r.getAs[Long]("n_train")))
    }
  }

  test("q405 predictability: coincidence recount vs q262 transitions") {
    val rows = Events.transitionPredictability(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_transitions")
      val cp = r.getAs[Long]("coincidence_pairs")
      assert(r.getAs[Long]("predictability_ppm") ==
        halfUp(cp * 1000000L, n * (n - 1)))
      assert(r.getAs[Long]("predictability_ppm") <= 1000000L)
      // with >= 2 next types the distribution cannot be deterministic
      if (r.getAs[Long]("n_next_types") >= 2)
        assert(r.getAs[Long]("predictability_ppm") < 1000000L)
    }
    // uniform-ish 5-type synthetic traffic: predictability well below 1
    assert(rows.map(_.getAs[Long]("predictability_ppm")).max < 600000L)
  }
}
