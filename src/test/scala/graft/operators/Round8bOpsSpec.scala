package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-8 audit/curation batch
  * (q202-q210).
  */
class Round8bOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def toks(text: String): Array[String] =
    if (text.trim.isEmpty) Array.empty[String] else text.trim.split("\\s+")

  private def docTokens(): Map[Long, Array[String]] =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> toks(r.getString(1)))
      .toMap

  test("q202 packing audit: window counts and fills recount per language") {
    val out = TextAnalysis
      .packingAudit(spark, dir)
      .collect()
      .map(r => r.getAs[String]("lang") -> r)
      .toMap
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), toks(r.getString(2)).length))
    docs.groupBy(_._2).foreach { case (lang, rows) =>
      val ordered = rows.sortBy(_._1)
      var cum = 0L
      val winTokens = scala.collection.mutable.Map.empty[Long, Long]
      var spanning = 0
      ordered.foreach { case (_, _, n) =>
        val start = cum
        cum += n
        val w = start / 2048
        winTokens(w) = winTokens.getOrElse(w, 0L) + n
        if (n > 0 && (cum - 1) / 2048 != w) spanning += 1
      }
      val r = out(lang)
      assert(r.getAs[Long]("n_windows") == winTokens.size.toLong, s"$lang windows")
      assert(r.getAs[Long]("spanning_docs") == spanning.toLong, s"$lang spanning")
      assert(
        r.getAs[Long]("overflow_windows") ==
          winTokens.values.count(_ > 2048).toLong,
        s"$lang overflow")
      val denom = winTokens.size.toLong * 2048L
      val fillPpm = (2 * winTokens.values.sum * 1000000L + denom) / (2 * denom)
      assert(r.getAs[Long]("mean_fill_ppm") == fillPpm, s"$lang fill")
    }
  }

  test("q203/q207: leakage mass conserves into the quarantine list") {
    val leak = Dedup.splitLeakage(spark, dir).collect()
    leak.foreach { r =>
      val a = r.getAs[String]("split_a")
      val b = r.getAs[String]("split_b")
      assert(a <= b, "split pair canonicalized")
      assert(r.getAs[Int]("leak") == (if (a == b) 0 else 1))
    }
    val crossMass = leak
      .filter(_.getAs[Int]("leak") == 1)
      .map(_.getAs[Long]("n_pairs"))
      .sum
    val quarantine = Dedup.leakQuarantine(spark, dir).collect()
    assert(quarantine.map(_.getAs[Long]("n_links")).sum == crossMass,
      "every cross-split link is attributed to exactly one victim")
    quarantine.foreach { r =>
      assert(r.getAs[String]("split") != "test",
        "test documents are never quarantined")
      assert(r.getAs[Long]("n_links") >= 1L)
    }
  }

  test("q204 Good-Turing: spectrum recounts from driver-side word counts") {
    val words = docTokens().values.flatten.toSeq
    val wc = words.groupBy(identity).map(_._2.size.toLong)
    val spec = wc.groupBy(identity).map { case (r, g) => r -> g.size.toLong }
    val nTotal = wc.sum
    val n1 = spec.getOrElse(1L, 0L)
    val out = Round8bOpsSpecHelper.sortedByR(
      TextAnalysis.goodTuring(spark, dir).collect())
    assert(out.map(_.getAs[Long]("r")).toSeq ==
      spec.keys.toSeq.sorted.take(10), "ten smallest observed counts")
    out.foreach { row =>
      val r = row.getAs[Long]("r")
      assert(row.getAs[Long]("n_types") == spec(r), s"N_$r")
      def halfUpMicro(a: Long, b: Long): Long =
        (2L * a * 1000000L + b) / (2L * b)
      assert(row.getAs[Long]("prob_mass_ppm") ==
        halfUpMicro(r * spec(r), nTotal))
      assert(row.getAs[Long]("p0_ppm") == halfUpMicro(n1, nTotal))
      spec.get(r + 1) match {
        case Some(nNext) =>
          assert(row.getAs[Long]("r_star_micro") ==
            halfUpMicro((r + 1) * nNext, spec(r)), s"r*_$r")
        case None =>
          assert(row.isNullAt(row.fieldIndex("r_star_micro")),
            s"gap at r=$r")
      }
    }
  }

  test("q205 cluster cap: ranks are dense from 1 and bounded by the cap") {
    val out = Clustering.clusterCap(spark, dir).collect()
    out.groupBy(_.getAs[Int]("cluster")).foreach { case (c, rows) =>
      val rks = rows.map(_.getAs[Int]("rk")).sorted
      assert(rks.toSeq == (1 to rks.length), s"cluster $c ranks dense")
      assert(rks.length <= 50, s"cluster $c over cap")
      // within a cluster, rank follows (quality desc, doc_id asc)
      val ordered = rows.sortBy(_.getAs[Int]("rk"))
      ordered.zip(ordered.tail).foreach { case (hi, lo) =>
        val qh = hi.getAs[Long]("q_micro")
        val ql = lo.getAs[Long]("q_micro")
        assert(qh > ql ||
          (qh == ql && hi.getAs[Long]("doc_id") < lo.getAs[Long]("doc_id")))
      }
    }
  }

  test("q206 McNemar agrees with q190's pair frame and its own cells") {
    val kappa = TextAnalysis
      .gateAgreement(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("gate_a"), r.getAs[String]("gate_b")) -> r)
      .toMap
    val out = TextAnalysis.mcnemarGates(spark, dir).collect()
    assert(out.length == 6, "four gates, six pairs")
    out.foreach { r =>
      val key = (r.getAs[String]("gate_a"), r.getAs[String]("gate_b"))
      assert(kappa.contains(key))
      assert(r.getAs[Long]("n") == kappa(key).getAs[Long]("n"),
        s"$key overlap matches q190")
      val b = r.getAs[Long]("n10")
      val c = r.getAs[Long]("n01")
      assert(b + c <= r.getAs[Long]("n"))
      val want =
        if (b + c == 0) 0.0 else math.pow((b - c).toDouble, 2) / (b + c)
      assert(math.abs(r.getAs[Double]("mcnemar_chi2") - want) < 1e-5)
    }
  }

  test("q208 transitivity: wedge and closure counts recount exactly") {
    val pairs = Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairSet = pairs.toSet
    val nbrs = pairs
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sorted }
    var wedges = 0L
    var closed = 0L
    nbrs.values.foreach { ns =>
      for (i <- ns.indices; j <- (i + 1) until ns.length) {
        wedges += 1
        if (pairSet.contains((ns(i), ns(j)))) closed += 1
      }
    }
    val r = Dedup.transitivityAudit(spark, dir).collect().head
    assert(r.getAs[Long]("n_wedges") == wedges)
    assert(r.getAs[Long]("n_closed") == closed)
    if (wedges > 0) {
      assert(r.getAs[Long]("closure_micro") ==
        math.round(closed * 1e6 / wedges))
    }
  }

  test("q209 rejection sampler: under-represented buckets pass whole") {
    val rows = Sampling.lengthMatchSampler(spark, dir).collect()
    rows.foreach { r =>
      val ppm = r.getAs[Long]("ratio_ppm")
      assert(ppm >= 0 && ppm <= 1000000L)
      assert(r.getAs[Long]("n_accepted") <= r.getAs[Long]("n_docs"))
      if (ppm == 1000000L)
        assert(r.getAs[Long]("n_accepted") == r.getAs[Long]("n_docs"),
          "ratio 1 accepts everything")
    }
    // acceptance reshapes toward the global profile: per bucket, the
    // accepted share across sources is never MORE skewed than input
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    assert(bySrc.size > 1, "fixture has multiple sources")
  }

  test("q210 prefix sharing: shared-doc mass decays with probe depth") {
    val out = TextAnalysis
      .prefixSharing(spark, dir)
      .collect()
      .sortBy(_.getAs[Long]("depth"))
    assert(out.map(_.getAs[Long]("depth")).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    val sharing = out.map(_.getAs[Long]("n_docs_sharing"))
    sharing.zip(sharing.tail).foreach { case (shallow, deep) =>
      assert(shallow >= deep,
        "sharing a deep prefix implies sharing every shallower one")
    }
    // recount depth 2 by hand
    val d2 = docTokens().values.toSeq
      .filter(_.length >= 2)
      .map(t => t.take(2).mkString(" "))
      .groupBy(identity)
      .map(_._2.size)
      .filter(_ > 1)
    val row2 = out(1)
    assert(row2.getAs[Long]("n_shared_prefixes") == d2.size.toLong)
    assert(row2.getAs[Long]("n_docs_sharing") == d2.sum.toLong)
    assert(row2.getAs[Long]("saved_tokens") ==
      d2.map(c => (c - 1) * 2L).sum)
  }
}

private object Round8bOpsSpecHelper {
  def sortedByR(
      rows: Array[org.apache.spark.sql.Row]
  ): Array[org.apache.spark.sql.Row] =
    rows.sortBy(_.getAs[Long]("r"))
}
