package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the second round-6 operator batch: the Gopher
  * rule battery, asymmetric shingle containment, per-source capping,
  * and embedding outlier detection.
  */
class Round6bOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def toyDir(): String =
    java.nio.file.Files.createTempDirectory("r6btoy").toString

  test("q142 gopher rules: keep is exactly the conjunction of its flags") {
    val out = TextAnalysis.gopherRules(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val expect = {
        val nw = r.getAs[Long]("n_words")
        nw >= 50 && nw <= 100000 &&
        r.getAs[Double]("mean_word_len") >= 3.0 &&
        r.getAs[Double]("mean_word_len") <= 10.0 &&
        r.getAs[Double]("symbol_frac") <= 0.1 &&
        r.getAs[Double]("alpha_frac") >= 0.8 &&
        r.getAs[Long]("n_stopwords") >= 2
      }
      assert(r.getAs[Boolean]("keep") == expect,
        s"keep drifted from its flags on ${r.getAs[Long]("doc_id")}")
    }
    // the battery is live on this corpus: both outcomes occur
    assert(out.exists(_.getAs[Boolean]("keep")), "no doc passes")
    assert(out.exists(!_.getAs[Boolean]("keep")), "no doc fails")
  }

  test("q142 gopher rules on engineered docs: each rule fires alone") {
    import spark.implicits._
    val toy = toyDir()
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    Seq(
      // passes every rule: 50 words, mean len ~5.5, alpha, stopwords
      (1L, s"the a $fifty word51 word52".split(" ").take(50)
        .mkString(" ")),
      (2L, "too short the a"), // fails word count only? also mean len
      (3L, s"the a $fifty ### ### ### ### ### ###"), // symbol-heavy
      (4L, fifty + " " + fifty) // 100 words, no stopwords
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$toy/documents.parquet")
    val out = TextAnalysis.gopherRules(spark, toy)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"), s"doc 1 should pass: ${out(1L)}")
    assert(out(2L).getAs[Long]("n_words") < 50 &&
      !out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Double]("symbol_frac") > 0.1 &&
      !out(3L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Long]("n_stopwords") < 2 &&
      !out(4L).getAs[Boolean]("keep"))
  }

  test("q143 containment: embedded doc is contained, host is not") {
    import spark.implicits._
    val toy = toyDir()
    val inner = "alpha beta gamma delta epsilon zeta eta theta"
    val host = s"prefix words here $inner and a long suffix tail " +
      "omega psi chi phi upsilon tau sigma rho pi omicron xi nu mu"
    Seq((1L, inner), (2L, host))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$toy/documents.parquet")
    val out = Dedup.shingleContainment(spark, toy).collect()
    val fwd = out.find(r =>
      r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(fwd.isDefined, "short-in-long direction must surface")
    assert(fwd.get.getAs[Long]("containment_ppm") == 1000000L)
    assert(fwd.get.getAs[Boolean]("contained"))
    // host direction: only |inner| shingles of its much larger set
    // are shared -> below the 0.5 floor, so the row is absent
    assert(!out.exists(r =>
      r.getAs[Long]("doc_a") == 2L && r.getAs[Long]("doc_b") == 1L))
  }

  test("q143 containment agrees with a naive per-pair recompute") {
    val sh = Tables
      .documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](1).toSet)
      .toMap
    val naive = (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq
      if a != b && sa.nonEmpty
      inter = (sa & sb).size
      if inter.toDouble / sa.size >= 0.5
    } yield (a, b) -> inter).toMap
    val got = Dedup.shingleContainment(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("inter").toInt).toMap
    assert(got == naive, s"banded/joined pairs drifted: " +
      s"missing=${(naive.keySet -- got.keySet).take(5)} " +
      s"extra=${(got.keySet -- naive.keySet).take(5)}")
  }

  test("q144 source cap: kept counts are min(n_src, cap) and stable") {
    val out = Sampling.sourceCap(spark, dir, cap = 16)
    val kept = out
      .groupBy(col("source"))
      .agg(
        sum(col("kept").cast("long")).as("n_kept"),
        count(lit(1)).as("n_total"),
        max(col("n_src")).as("n_src")
      )
      .collect()
    assert(kept.nonEmpty)
    kept.foreach { r =>
      assert(r.getAs[Long]("n_total") == r.getAs[Long]("n_src"),
        "every doc of the source appears exactly once")
      assert(r.getAs[Long]("n_kept") ==
        math.min(r.getAs[Long]("n_src"), 16L))
    }
    // determinism: the same call keeps the same ids
    val ids1 = Sampling.sourceCap(spark, dir, cap = 16)
      .filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.sourceCap(spark, dir, cap = 16)
      .filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("q145 outliers: per-label z mean ~0, planted far vector flagged") {
    import spark.implicits._
    val toy = toyDir()
    // 40 vectors near the origin, one far away, single label
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 0.1f), 0)
    }
    val far = Seq((99L, Array.fill(8)(5.0f), 0))
    (base ++ far).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$toy/embeddings.parquet")
    val out = Similarity.embeddingOutliers(spark, toy).collect()
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(byId(99L).getAs[Boolean]("outlier"),
      s"planted far vector must flag: ${byId(99L)}")
    assert(out.count(_.getAs[Boolean]("outlier")) == 1,
      "only the planted vector flags at z > 2")
    // z-scores standardize: mean ~ 0 over the label
    val zMean = out.map(_.getAs[Double]("z")).sum / out.length
    assert(math.abs(zMean) < 1e-3, s"z mean drifted: $zMean")
  }
}
