package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-8 operator batch (q195-q198). */
class Round8OpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q195 repetition stats match a driver-side recount on sample docs") {
    val rows = Repetition
      .repetitionStats(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r)
      .toMap
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(rows.keySet == docs.keySet, "one output row per document")
    // recount 20 docs by hand
    docs.toSeq.sortBy(_._1).take(20).foreach { case (id, text) =>
      val t =
        if (text.trim.isEmpty) Array.empty[String]
        else text.trim.split("\\s+")
      val r = rows(id)
      assert(r.getAs[Long]("n_tokens") == t.length.toLong, s"doc $id tokens")
      def ppm(a: Long, b: Long): Long = (2 * a * 1000000L + b) / (2 * b)
      val dupTok =
        if (t.isEmpty) 0L
        else ppm(t.length.toLong - t.distinct.length, t.length.toLong)
      assert(r.getAs[Long]("dup_token_ppm") == dupTok, s"doc $id dup token")
      val bi = t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val topBi =
        if (t.isEmpty) 0L
        else (2 * 2000000L *
          (if (bi.isEmpty) 0L
           else bi.groupBy(identity).values.map(_.size).max.toLong) +
          t.length) / (2 * t.length.toLong)
      assert(
        r.getAs[Long]("top_bigram_ppm") == topBi,
        s"doc $id top bigram")
      val tri = t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val dupTri =
        if (tri.isEmpty) 0L
        else {
          val c = tri.groupBy(identity).values.map(_.size).toSeq
          ppm(c.filter(_ >= 2).sum.toLong, c.sum.toLong)
        }
      assert(
        r.getAs[Long]("dup_trigram_ppm") == dupTri,
        s"doc $id dup trigram")
    }
  }

  test("q196 window counts follow the stride arithmetic; dup is cross-doc") {
    val out = Repetition.duplicateWindows(spark, dir).collect()
    val lens = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    out.foreach { r =>
      val n = lens(r.getAs[Long]("doc_id"))
      val want = if (n < 10) 0L else ((n - 10) / 5 + 1).toLong
      assert(r.getAs[Long]("n_windows") == want, s"doc windows for n=$n")
      assert(r.getAs[Long]("n_dup_windows") <= r.getAs[Long]("n_windows"))
    }
    // a duplicated window implies at least TWO docs report one
    val anyDup = out.count(_.getAs[Long]("n_dup_windows") > 0)
    assert(anyDup != 1, "cross-doc duplication cannot involve one doc")
  }

  test("q197 IQR gate: quartiles are exact rank statistics per language") {
    val out = Sampling.iqrLengthGate(spark, dir).collect()
    val byLang = out.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rows) =>
      val sorted = rows
        .map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("doc_id")))
        .sorted
      val n = sorted.length
      val q1 = sorted(math.ceil(n * 0.25).toInt - 1)._1
      val q3 = sorted(math.ceil(n * 0.75).toInt - 1)._1
      rows.foreach { r =>
        assert(r.getAs[Long]("q1") == q1, s"$lang q1")
        assert(r.getAs[Long]("q3") == q3, s"$lang q3")
        val keep = r.getAs[Int]("keep") == 1
        val t = r.getAs[Long]("n_tokens")
        assert(keep == (t >= q1 && t <= q3), s"$lang keep")
      }
    }
  }

  test("q199 calibration: deciles partition the corpus, scores decrease") {
    val rows = QualityLR
      .lrCalibration(spark, dir)
      .collect()
      .sortBy(_.getAs[Int]("decile"))
    assert(rows.map(_.getAs[Int]("decile")).toSeq == (1 to 10))
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, dir).count())
    // mean z per decile must be non-increasing — compare the exact
    // rationals sum/n via cross-multiplication (no float division)
    val sums = rows.map(_.getAs[Long]("sum_z_pico"))
    val ns = rows.map(_.getAs[Long]("n_docs"))
    sums.zip(ns).zip(sums.zip(ns).tail).foreach {
      case ((sa, na), (sb, nb)) =>
        assert(
          BigInt(sa) * nb >= BigInt(sb) * na,
          "mean z_pico must be non-increasing across deciles")
    }
    rows.foreach { r =>
      val pr = r.getAs[Long]("pos_rate_ppm")
      assert(pr >= 0L && pr <= 1000000L)
    }
  }

  test("q200 funnel: cumulative stages shrink and attribution conserves") {
    val rows = Dedup
      .dedupFunnel(spark, dir)
      .collect()
      .sortBy(_.getAs[String]("stage"))
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("0_all", "1_exact", "2_neardup", "3_semantic"))
    val n = rows.map(_.getAs[Long]("n_docs"))
    assert(n.zip(n.tail).forall { case (a, b) => a >= b }, "monotone")
    assert(rows.head.getAs[Long]("removed") == 0L)
    rows.zip(rows.tail).foreach { case (prev, cur) =>
      assert(cur.getAs[Long]("removed") ==
        prev.getAs[Long]("n_docs") - cur.getAs[Long]("n_docs"))
    }
    assert(n.head == Tables.documents(spark, dir).count())
  }

  test("q201 chi-square: marginals conserve and expectations sum to N") {
    val rows = TextAnalysis.compositionChiSquare(spark, dir).collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    assert(n == Tables.documents(spark, dir).count())
    val expSum = rows.map(_.getAs[Long]("expected_micro")).sum / 1e6
    // cells absent from the corpus carry no row, so Σ expected ≤ N
    // (each micro is half-up rounded: allow one ulp per row)
    assert(expSum <= n + rows.length * 1e-6 + 1e-3)
    rows.foreach(r => assert(r.getAs[Long]("chi2_cell_milli") >= 0L))
  }

  test("q198 error audit: estimates quantized to eighths, pairs conserved") {
    val audit = Dedup.minhashErrorAudit(spark, dir).collect()
    audit.foreach { r =>
      val est = r.getAs[Long]("est_jaccard_ppm")
      assert(est % 125000L == 0L,
        s"estimate $est ppm not a multiple of 1/8")
      // mean is in milli-ppm, max in ppm
      assert(r.getAs[Long]("mean_abs_err_ppm_milli") <=
        r.getAs[Long]("max_abs_err_ppm") * 1000L)
    }
    val totalPairs = audit.map(_.getAs[Long]("n_pairs")).sum
    val q22Pairs = Dedup.minhashLshPairs(spark, dir).count()
    assert(totalPairs == q22Pairs, "audit partitions the q22 pair set")
  }
}
