package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral invariants of the dataset-assembly operators (q49-q53,
  * q59-q60) beyond the hash-match gate: the gate proves engine↔oracle
  * agreement, these prove the semantics are the intended ones.
  */
class AssemblySpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("train/test split: buckets in [0,100), deterministic, ~80/10/10") {
    val rows = Sampling.trainTestSplit(spark, dir).collect()
    assert(rows.forall { r =>
      val b = r.getAs[Int]("bucket"); b >= 0 && b < 100
    })
    val bySplit = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length)
    val n = rows.length.toDouble
    assert(bySplit("train") / n > 0.7 && bySplit("train") / n < 0.9)
    assert(bySplit.getOrElse("valid", 0) + bySplit.getOrElse("test", 0) > 0)
    // determinism: same assignment on re-run
    val again = Sampling.trainTestSplit(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2))).toSet ==
      again.map(r => (r.getLong(0), r.getString(2))).toSet)
  }

  test("quality deciles: each decile within 1 of n/10, ordered by quality") {
    val rows = Sampling
      .qualityDeciles(spark, dir)
      .orderBy(col("decile"), col("q_micro").desc)
      .collect()
    val byDecile = rows.groupBy(_.getAs[Int]("decile")).view.mapValues(_.length)
    assert(byDecile.keys.toSet == (1 to 10).toSet)
    val n = rows.length
    assert(byDecile.values.forall(c => math.abs(c - n / 10) <= 1))
    // min quality of decile d >= max quality of decile d+1
    val minMax = rows
      .groupBy(_.getAs[Int]("decile"))
      .view
      .mapValues(rs => (rs.map(_.getAs[Long]("q_micro")).min,
        rs.map(_.getAs[Long]("q_micro")).max))
    for (d <- 1 to 9)
      assert(minMax(d)._1 >= minMax(d + 1)._2,
        s"decile $d min < decile ${d + 1} max")
  }

  test("sequence packing: windows contiguous per lang, start offsets honest") {
    val budget = 2048
    val rows = TextAnalysis
      .packWindows(spark, dir, budget)
      .orderBy(col("lang"), col("doc_id"))
      .collect()
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, docs) =>
      var prevWindow = 0L
      var cum = 0L
      docs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        val w = r.getAs[Long]("window_id")
        assert(w == cum / budget, "window id = floor(start offset / budget)")
        assert(w >= prevWindow, "window ids non-decreasing in doc order")
        prevWindow = w
        cum += r.getAs[Long]("n_tokens")
        assert(cum == r.getAs[Long]("cum_tokens"))
      }
    }
  }

  test("vocabulary: ranked by count desc then token, counts sum to corpus") {
    val vocab = TextAnalysis
      .vocabulary(spark, dir)
      .orderBy(col("rank"))
      .collect()
    val pairs = vocab.map(r => (r.getAs[Long]("n"), r.getAs[String]("token")))
    assert(pairs.sliding(2).forall {
      case Array((n1, t1), (n2, t2)) => n1 > n2 || (n1 == n2 && t1 < t2)
      case _ => true
    })
    // with < 1000 distinct tokens the vocab covers every token: counts
    // sum to the corpus token count
    if (vocab.length < 1000) {
      val total = Tables
        .documents(spark, dir)
        .select(sum(graft.functions.TextFunctions.tokenCount(col("text"))))
        .collect()(0)
        .getLong(0)
      assert(pairs.map(_._1).sum == total)
    }
  }

  test("PII redaction removes every matched span and only those") {
    val r = TextAnalysis.redactPii(spark, dir).collect()
    // redacted text never contains an email-shaped span
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}".r
    assert(r.forall(row =>
      email.findFirstIn(row.getAs[String]("redacted")).isEmpty ||
        row.getAs[Long]("n_emails") == 0))
    // docs with no matches are unchanged
    val docs = Tables.documents(spark, dir).collect()
      .map(d => d.getAs[Long]("doc_id") -> d.getAs[String]("text")).toMap
    r.filter(row => row.getAs[Long]("n_emails") == 0 &&
        row.getAs[Long]("n_phones") == 0)
      .foreach(row =>
        assert(row.getAs[String]("redacted") == docs(row.getAs[Long]("doc_id"))))
  }

  test("repetition flags: ppm in [0,1e6], keep consistent with thresholds") {
    val rows = TextAnalysis.repetitionStats(spark, dir).collect()
    rows.foreach { r =>
      val dt = r.getAs[Long]("dup_token_ppm")
      val db = r.getAs[Long]("dup_bigram_ppm")
      assert(dt >= 0L && dt <= 1000000L && db >= 0L && db <= 1000000L)
      assert(r.getAs[Boolean]("keep") == (dt <= 700000L && db <= 500000L))
    }
  }
}
