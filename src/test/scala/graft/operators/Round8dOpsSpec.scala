package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-8 corpus-economics batch
  * (q219, q220, q221).
  */
class Round8dOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q219 novelty attribution partitions the distinct shingle set") {
    val rows = Dedup.sourceNovelty(spark, dir).collect()
    val distinctShingles = Tables
      .documents(spark, dir)
      .select(explode(graft.functions.TextFunctions.shingles(col("text"), 3))
        .as("s"))
      .distinct()
      .count()
    assert(rows.map(_.getAs[Long]("n_novel")).sum == distinctShingles,
      "every distinct shingle has exactly one first owner")
    // the lexicographically first source owns everything it contains
    val first = rows.minBy(_.getAs[String]("source"))
    assert(first.getAs[Long]("n_novel") == first.getAs[Long]("n_shingles"))
    assert(first.getAs[Long]("novelty_ppm") == 1000000L)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_shingles"))
    }
  }

  test("q220 burstiness: cf >= df and adaptation <= burstiness direction") {
    val rows = TextAnalysis.termBurstiness(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cf = r.getAs[Long]("cf")
      val df = r.getAs[Long]("df")
      val nDocs = r.getAs[Long]("n_docs")
      assert(df >= 3L)
      assert(cf >= df, "a term occurs at least once per containing doc")
      assert(r.getAs[Long]("burst_micro") >= 1000000L,
        "burstiness cf/df is at least 1")
      // the Poisson adaptation ratio lives HERE, recomputed from the
      // emitted exact integers (round-9 seam: libm exp never reaches
      // an emitted column): E[df] = D·(1−e^(−cf/D)) ∈ (0, min(cf, D)]
      val expDf = nDocs * (1.0 - math.exp(-cf.toDouble / nDocs))
      assert(expDf > 0.0 && expDf <= math.min(cf, nDocs) + 1e-6)
      // adaptation E[df]/df never exceeds burstiness cf/df, whose
      // emitted half-up micro value is within 0.5e-6 of the ratio
      assert(expDf / df <= r.getAs[Long]("burst_micro") / 1e6 + 1e-6)
    }
    // sanity on one term by hand
    val sample = rows.minBy(_.getAs[String]("w"))
    val w = sample.getAs[String]("w")
    val perDoc = Tables
      .documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .collect()
      .map(r => r.getAs[Seq[String]]("t").count(_ == w))
      .filter(_ > 0)
    assert(sample.getAs[Long]("cf") == perDoc.sum.toLong)
    assert(sample.getAs[Long]("df") == perDoc.length.toLong)
  }

  test("q221 retention: survivors + unclustered docs = kept mass") {
    val rows = Dedup.dedupAdjustedSizes(spark, dir).collect()
    val totalDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs == Tables.documents(spark, dir).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_tokens_kept") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("doc_retention_ppm") <= 1000000L)
    }
    // global kept docs = survivors + docs outside the closure
    val keptTotal = rows.map(_.getAs[Long]("n_docs_kept")).sum
    val survivors = Dedup.canonicalDocs(spark, dir).count()
    val clustered = Dedup.dedupClusters(spark, dir).count()
    val unclustered = totalDocs - clustered
    assert(keptTotal == survivors + unclustered,
      s"kept=$keptTotal survivors=$survivors unclustered=$unclustered")
  }
}
