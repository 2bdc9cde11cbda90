package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-9 twenty-fifth wave (q433-q435):
  * policy delta, bigram degrees, source rank churn.
  */
class Round9zOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)

  test("q433 delta: one-sided by construction; counts reconcile") {
    val rows = graft.streaming.StreamNearDup
      .admissionPolicyDelta(spark, dir).collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      // THE invariant: the TTL gate never suppresses what the
      // forever gate admits
      assert(r.getAs[Long]("n_impossible") == 0L,
        s"${r.getAs[String]("source")}: TTL suppressed a forever-admit")
      assert(r.getAs[Long]("rescued_ppm") ==
        halfUp(r.getAs[Long]("n_rescued") * 1000000L,
          r.getAs[Long]("n_docs")))
    }
    // global reconciliation against the two gates directly
    val fv = graft.streaming.StreamNearDup
      .streamNearDupSuppress(spark, dir)
      .filter(col("suppressed")).count()
    val ttl = graft.streaming.StreamNearDup
      .streamTtlNearDup(spark, dir)
      .filter(col("suppressed")).count()
    assert(rows.map(r => r.getAs[Long]("n_rescued") +
      r.getAs[Long]("n_both_suppress")).sum == fv)
    assert(rows.map(_.getAs[Long]("n_both_suppress")).sum == ttl)
  }

  test("q434 degrees: driver recount on a hand corpus; bands partition") {
    import spark.implicits._
    val tiny = Seq("a b c", "b a").toDF("text")
    val t = graft.functions.TextFunctions.tokens(col("text"))
    val bigrams = tiny
      .select(explode(zip_with(
        slice(t, 1, 1000000), slice(t, 2, 1000000),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .filter(col("w2").isNotNull)
      .distinct()
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    // bigrams: (a,b), (b,c), (b,a) -> degrees: a:{b}=1? no — a
    // neighbors {b} from (a,b) and (b,a) -> still {b}; b neighbors
    // {a, c}; c neighbors {b}
    assert(bigrams == Set(("a", "b"), ("b", "c"), ("b", "a")))
    val rows = TextAnalysis.bigramDegreeCensus(spark, dir).collect()
    assert(rows.nonEmpty)
    val totPpm = rows.map(_.getAs[Long]("token_ppm")).sum
    assert(math.abs(totPpm - 1000000L) <= rows.length.toLong)
    // the 31-word salad vocabulary is one dense hub band
    assert(rows.map(_.getAs[Long]("max_degree")).max >= 10L)
  }

  test("q435 churn: quartiles in range; means from exact sums") {
    val rows = TextAnalysis.sourceRankChurn(spark, dir).collect()
    assert(rows.nonEmpty)
    val nSources = Tables.documents(spark, dir)
      .select(col("source")).distinct().count()
    assert(rows.length.toLong == nSources)
    rows.foreach { r =>
      assert((1L to 4L).contains(r.getAs[Long]("q_first")))
      assert((1L to 4L).contains(r.getAs[Long]("q_second")))
      assert(r.getAs[Boolean]("moved") ==
        (r.getAs[Long]("q_first") != r.getAs[Long]("q_second")))
    }
    // each quartile holds |sources|/4 +- 1 per half
    val qcounts = rows.groupBy(_.getAs[Long]("q_first"))
      .map(_._2.length)
    assert(qcounts.max - qcounts.min <= 1)
  }
}
