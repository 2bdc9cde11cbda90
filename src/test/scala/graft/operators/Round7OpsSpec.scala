package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-7 operator batch. */
class Round7OpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q150 unimax matches the sequential smallest-first allocation") {
    val epochCap = 2
    val out = Sampling
      .unimaxAllocation(spark, dir, epochCap = epochCap)
      .collect()
      .map(r =>
        r.getAs[String]("lang") ->
          ((r.getAs[Long]("alloc_chars"), r.getAs[Boolean]("capped"),
            r.getAs[Double]("epochs"))))
      .toMap

    // naive reference: walk languages smallest-first, cap or share
    val perLang = Tables
      .documents(spark, dir)
      .groupBy("lang")
      .agg(sum("n_chars").as("c"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("c")))
      .sortBy(t => (t._2, t._1))
    val budget = math.floor(0.5 * perLang.map(_._2).sum).toLong
    var remaining = budget.toDouble
    var left = perLang.length
    val naive = perLang.map { case (lang, c) =>
      val share = remaining / left
      val cap = (epochCap.toLong * c).toDouble
      val alloc = math.min(cap, share)
      remaining -= alloc
      left -= 1
      (lang, c, alloc < share)
    }

    naive.foreach { case (lang, c, isCapped) =>
      val (alloc, capped, epochs) = out(lang)
      assert(capped == isCapped, s"$lang capped flag")
      if (isCapped) assert(alloc == epochCap.toLong * c, s"$lang capped alloc")
      assert(math.abs(epochs - alloc.toDouble / c) < 1e-6)
      assert(epochs <= epochCap + 1e-9, s"$lang exceeds the epoch cap")
    }
    // every uncapped language gets the same floor'd share
    val uncapped = naive.filterNot(_._3).map(t => out(t._1)._1).distinct
    assert(uncapped.length <= 1, "uncapped languages share equally")
    // allocation never exceeds the budget
    assert(out.values.map(_._1).sum <= budget)
    // and leaves at most (#langs) chars unallocated (floor slack)
    assert(out.values.map(_._1).sum >= budget - perLang.length)
  }

  test("q153 partitioned-lake rollup equals the direct date-filtered aggregate") {
    val lake = graft.io.PartitionedLake.weeklyTypeRollup(spark, dir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val direct = Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")).cast("timestamp"))
      .filter(col("event_date").between(lit("2024-01-08"), lit("2024-01-14")))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(lake == direct, "lake rollup == direct aggregate")
    assert(lake.keys.map(_._1).toSet.size == 7, "exactly the 7 days of the week")
  }

  test("q154 preference pairs: chosen strictly outranks rejected in every stratum") {
    val rows = Sampling.preferencePairs(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("chosen_id") != r.getAs[Long]("rejected_id"))
      assert(r.getAs[Long]("margin_micro") >= 0L,
        "chosen quality >= rejected quality")
    }
    // one pair at most per (lang, source) stratum
    val strata = rows.map(r => (r.getAs[String]("lang"), r.getAs[String]("source")))
    assert(strata.distinct.length == strata.length)
  }

  test("q155 novelty: a doc duplicated into train scores zero novelty") {
    import spark.implicits._
    // novelty is in [0,1]; and every counted doc is in the test split
    val out = Dedup.ngramNovelty(spark, dir).collect()
    out.foreach { r =>
      val nov = r.getAs[Long]("novelty_ppm")
      assert(nov >= 0L && nov <= 1000000L)
      assert(r.getAs[Long]("n_seen") <= r.getAs[Long]("n_grams"))
    }
    val testIds = Sampling.trainTestSplit(spark, dir)
      .filter($"split" === "test").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out.map(_.getAs[Long]("doc_id")).forall(testIds.contains))
  }

  test("q156 whitening: every non-constant dimension has mean~0 and var~1") {
    val z = Similarity.whitenEmbeddings(spark, dir)
    val stats = z.groupBy("dim")
      .agg(avg("z").as("m"), stddev_pop("z").as("s"))
      .collect()
    stats.foreach { r =>
      assert(math.abs(r.getAs[Double]("m")) < 1e-3, s"dim ${r.get(0)} mean")
      val s = r.getAs[Double]("s")
      assert(s == 0.0 || math.abs(s - 1.0) < 1e-3, s"dim ${r.get(0)} std")
    }
  }

  test("q157 vocab coverage: rates in [0,1] and totals match the token count") {
    val out = TextAnalysis.vocabCoverage(spark, dir).collect()
    val totalToks = Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))))
      .count()
    assert(out.map(_.getAs[Long]("n_tokens")).sum == totalToks)
    out.foreach { r =>
      assert(r.getAs[Long]("n_covered") <= r.getAs[Long]("n_tokens"))
      val oov = r.getAs[Long]("oov_ppm")
      assert(oov >= 0L && oov <= 1000000L)
    }
  }

  test("q159 prefix filtering loses no pair vs the naive exact join") {
    import spark.implicits._
    val pruned = Dedup.prefixFilterJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // naive: every pair sharing >=1 shingle, exact Jaccard >= 0.5
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val e = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val naive = e.select($"doc_id".as("doc_a"), $"s")
      .join(e.select($"doc_id".as("doc_b"), $"s"), Seq("s"))
      .filter($"doc_a" < $"doc_b").select("doc_a", "doc_b").distinct()
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), Seq("doc_a"))
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sh_a", $"sh_b")).cast("long").as("i"),
        (size($"sh_a") + size($"sh_b") -
          size(array_intersect($"sh_a", $"sh_b"))).cast("long").as("u"))
      .filter($"i".cast("double") / $"u" >= 0.5)
      // exact half-up ppm, the operator's round-12 emission unit
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((2L * r.getLong(2) * 1000000L + r.getLong(3)) /
          (2L * r.getLong(3)))).toMap
    assert(pruned == naive, "prefix-filtered result == naive exact result")
  }

  test("q160 stopwords are ranked by document frequency") {
    val out = TextAnalysis.stopwordDiscovery(spark, dir).collect()
    assert(out.length == 30)
    val byRank = out.sortBy(_.getAs[Int]("rank"))
    val dfs = byRank.map(_.getAs[Long]("df"))
    assert(dfs.zip(dfs.tail).forall { case (a, b) => a >= b }, "df non-increasing")
    val nDocs = Tables.documents(spark, dir).count()
    byRank.map(_.getAs[Double]("idf")).zip(dfs).foreach { case (idf, df) =>
      assert(!idf.isNaN && idf >= 0.0 && idf <= math.log(nDocs.toDouble),
        s"idf $idf out of [0, ln(N)] for df $df")
    }
  }

  test("q161 buckets are ppl-ordered thirds within each language") {
    val rows = TextAnalysis.perplexityBuckets(spark, dir).collect()
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_.getAs[String]("bucket")).view.mapValues(_.length)
      assert(sizes.values.max - sizes.values.min <= 1, s"$lang thirds balanced")
      def ppls(b: String) = rs.filter(_.getAs[String]("bucket") == b)
        .map(_.getAs[Double]("ppl"))
      if (ppls("head").nonEmpty && ppls("tail").nonEmpty)
        assert(ppls("head").max <= ppls("tail").min + 1e-9,
          s"$lang head <= tail in perplexity")
    }
  }

  test("q162 dup weights: 1/size per doc, normalized mass 1 per language") {
    val rows = Sampling.dupWeightedSampling(spark, dir).collect()
    rows.foreach { r =>
      val k = r.getAs[Long]("cluster_size")
      // exact half-up integer division, checked exactly
      assert(r.getAs[Long]("weight_micro") == (2000000L + k) / (2 * k))
    }
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      // each ppm is half-up rounded: mass within |rows|/2 ulps of 10^6
      val mass = rs.map(_.getAs[Long]("w_norm_ppm")).sum
      assert(math.abs(mass - 1000000L) <= rs.length,
        s"$lang w_norm_ppm mass $mass")
    }
  }

  test("q163 compaction: 64 small files collapse to ceil(bytes/target) files") {
    val (nSmall, nCompact, bytes) = graft.io.Compaction.layoutStats(spark, dir)
    assert(nSmall == 64, s"fragmented layout has $nSmall files")
    val want = math.max(1, math.ceil(bytes.toDouble / (4L << 20)).toInt)
    assert(nCompact == want, s"compacted to $nCompact files, want $want")
    assert(nCompact < nSmall)
  }

  test("q164 distributed cumsum == naive single-window cumsum at any partition count") {
    import spark.implicits._
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("cum_tokens"))
    val p3 = Sampling.tokenBudgetSnapshot(spark, dir, numParts = 3)
      .collect().map(key).toSet
    val p8 = Sampling.tokenBudgetSnapshot(spark, dir, numParts = 8)
      .collect().map(key).toSet
    assert(p3 == p8, "partition-count invariant")
    // naive: one global window
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .join(TextAnalysis.qualityScoresFrom(docs)
        .select($"doc_id", $"quality"), "doc_id")
      .select($"doc_id", round($"quality", 6).as("q"),
        size(graft.functions.TextFunctions.tokens($"text"))
          .cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"q".desc, $"doc_id".asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = scored.withColumn("cum_tokens", sum($"n_tokens").over(w))
      .filter($"cum_tokens" - $"n_tokens" < 100000L)
      .collect().map(key).toSet
    assert(p8 == naive, "two-level cumsum == naive global window")
  }

  test("q165 union graph only merges, never splits, the text-only clusters") {
    val multi = Dedup.multiSignalClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val textOnly = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    // same text-cluster ⇒ same multi-cluster (extra edges only merge)
    textOnly.groupBy(_._2).values.foreach { members =>
      val multiLabels = members.map(m => multi(m._1)).distinct
      assert(multiLabels.length == 1, "text cluster split by union closure")
    }
    // every embedding near-dup pair is co-clustered
    Similarity.embeddingNearDupPairs(spark, dir).collect().foreach { r =>
      val (a, b) = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(multi(a) == multi(b), s"embedding pair ($a,$b) not co-clustered")
    }
  }

  test("q166 overlap matrix conserves the q143 pair count") {
    val matrix = Dedup.sourceOverlapMatrix(spark, dir).collect()
    matrix.foreach { r =>
      assert(r.getAs[Long]("n_contained") <= r.getAs[Long]("n_pairs"))
      val avg = r.getAs[Long]("avg_containment_micro")
      assert(avg >= 500000L && avg <= 1000000L, s"avg containment $avg")
    }
    val nPairs = Dedup.shingleContainment(spark, dir).count()
    assert(matrix.map(_.getAs[Long]("n_pairs")).sum == nPairs,
      "matrix cells sum to the pair count")
  }

  test("q167 calibration bins partition the corpus") {
    val out = TextAnalysis.qualityPplCalibration(spark, dir).collect()
    assert(out.forall(r => (0 to 9).contains(r.getAs[Int]("bin"))))
    val n = Tables.documents(spark, dir).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == n, "bins cover every doc")
  }

  test("q168 KL drift is non-negative and token-conserving") {
    val out = TextAnalysis.sourceKlDrift(spark, dir).collect()
    out.foreach { r =>
      assert(r.getAs[Double]("kl") >= -1e-9,
        s"KL negative for ${r.getAs[String]("source")}")
    }
    val total = Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))))
      .count()
    assert(out.map(_.getAs[Long]("n_tokens")).sum == total)
  }

  test("q169 expansion realizes the UniMax epochs in expectation") {
    val out = Sampling.epochExpansion(spark, dir).collect()
    val alloc = Sampling.unimaxAllocation(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("epochs")).toMap
    out.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val e = alloc(lang)
      val total = rs.map(_.getAs[Long]("n_repeats")).sum
      val n = rs.length
      assert(total >= math.floor(e).toLong * n && total <= math.ceil(e).toLong * n,
        s"$lang repeats $total outside [${math.floor(e) * n}, ${math.ceil(e) * n}]")
      // hash Bernoulli tracks the fractional part (loose 3-sigma-ish bound)
      val frac = e - math.floor(e)
      val extras = total - math.floor(e).toLong * n
      assert(math.abs(extras - frac * n) <= math.max(10.0, 4 * math.sqrt(n.toDouble)),
        s"$lang extras $extras vs expectation ${frac * n}")
    }
  }

  test("q170 self-retrieval ranks are consistent reciprocal ranks") {
    val out = TextAnalysis.selfRetrievalMrr(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val rank = r.getAs[Int]("self_rank")
      val rr = r.getAs[Long]("rr_micro")
      assert(rank >= 0 && rank <= 10)
      if (rank == 0) assert(rr == 0L)
      else assert(rr == (2 * 1000000L + rank) / (2L * rank))
    }
  }

  test("q171 profile's estimated self-join cardinality equals the real join") {
    val row = Relational.joinBlowupProfile(spark, dir).collect()(0)
    val li = Tables.lineitem(spark, dir).select(col("l_partkey"))
    val actual = li.join(
      li.withColumnRenamed("l_partkey", "k2"),
      col("l_partkey") === col("k2")).count()
    assert(row.getAs[Long]("est_selfjoin_rows") == actual,
      "sum of squared counts == real self-join output")
    assert(row.getAs[Long]("n_rows") == Tables.lineitem(spark, dir).count())
    assert(row.getAs[Long]("skew_factor_milli") >= 1000L)
  }

  test("q172 split never separates near-duplicates") {
    val split = Sampling.clusterSafeSplit(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    // every q21 near-dup pair lands in ONE split — the leakage-free
    // property the doc-wise q49 split cannot give
    Dedup.ngramJaccardPairs(spark, dir).collect().foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(split(a) == split(b), s"pair ($a,$b) straddles splits")
    }
  }

  test("q173 eval set honors the per-cell quota") {
    val rows = Sampling.balancedEvalSet(spark, dir).collect()
    rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[Int]("bin")))
      .foreach { case (cell, rs) =>
        assert(rs.length <= 20, s"cell $cell over quota")
        val ranks = rs.map(_.getAs[Int]("cell_rank")).sorted.toList
        assert(ranks == (1 to rs.length).toList, s"cell $cell ranks not dense")
      }
  }

  test("q174 slice-merged stats equal direct aggregation") {
    val merged = Profile.mergeableStats(spark, dir).collect()(0)
    val direct = Tables.documents(spark, dir)
      .agg(count(lit(1)), sum(col("n_chars")), min(col("n_chars")),
        max(col("n_chars"))).collect()(0)
    assert(merged.getAs[Long]("n_docs") == direct.getLong(0))
    assert(merged.getAs[Long]("sum_chars") == direct.getLong(1))
    assert(merged.getAs[Long]("min_chars") == direct.getLong(2))
    assert(merged.getAs[Long]("max_chars") == direct.getLong(3))
    assert(merged.getAs[Long]("var_chars_milli") >= 0L)
  }

  test("q175 diff conserves each side's distinct hash count") {
    import spark.implicits._
    val out = Profile.snapshotDiff(spark, dir).collect()
    val h = Tables.documents(spark, dir)
      .select($"source", ($"doc_id" % 2).as("side"), md5($"text").as("h"))
    val oldN = h.filter($"side" === 0).select("source", "h").distinct()
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val newN = h.filter($"side" === 1).select("source", "h").distinct()
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val s = r.getAs[String]("source")
      assert(r.getAs[Long]("n_stable") + r.getAs[Long]("n_removed")
        == oldN.getOrElse(s, 0L), s"$s old side conserved")
      assert(r.getAs[Long]("n_stable") + r.getAs[Long]("n_added")
        == newN.getOrElse(s, 0L), s"$s new side conserved")
    }
  }

  test("q176 normalized scores are monotone in raw scores within a source") {
    val rows = Sampling.scoreNormalization(spark, dir).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val sorted = rs.sortBy(r =>
        (r.getAs[Long]("q_micro"), r.getAs[Long]("doc_id")))
      val norms = sorted.map(_.getAs[Long]("q_norm_ppm"))
      assert(norms.zip(norms.tail).forall { case (a, b) => a <= b },
        s"$src q_norm not monotone")
      assert(norms.head == 0L && norms.last <= 1000000L)
    }
  }

  test("q177 rerank output is a cosine-reordering of the BM25 recall set") {
    val out = TextAnalysis.retrieveRerank(spark, dir).collect()
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      assert(rs.length <= 10, s"q$q over k")
      // every reranked doc came from the top-20 recall stage
      assert(rs.forall(_.getAs[Int]("bm25_rank") <= 20))
      // rerank order follows cosine score (desc, doc_id ties)
      val sorted = rs.sortBy(_.getAs[Int]("rerank"))
      val keys = sorted.map(r =>
        (-r.getAs[Double]("cos_score"), r.getAs[Long]("doc_id")))
      assert(keys.zip(keys.tail).forall { case (a, b) =>
        implicitly[Ordering[(Double, Long)]].lteq(a, b) },
        s"q$q rerank not cosine-ordered")
    }
  }

  test("q178 pairs: positives are the next chunk, negatives from another doc") {
    val chunks = TextAnalysis.docChunks(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")) ->
        r.getAs[String]("chunk")).toMap
    val out = TextAnalysis.contrastiveChunkPairs(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val i = r.getAs[Int]("chunk_idx")
      assert(r.getAs[String]("anchor") == chunks((d, i)))
      assert(r.getAs[String]("positive") == chunks((d, i + 1)),
        s"positive of ($d,$i) is not the next chunk")
      val nd = r.getAs[Long]("neg_doc_id")
      assert(nd != d, "negative comes from another document")
      assert(r.getAs[String]("negative") == chunks((nd, 1)))
    }
  }

  test("q179 dup report conserves doc and survivor totals") {
    val out = Dedup.sourceDupReport(spark, dir).collect()
    val cl = Dedup.dedupClusters(spark, dir).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == cl.length)
    assert(out.map(_.getAs[Long]("n_survivors")).sum ==
      cl.count(_.getAs[Int]("survivor") == 1))
    out.foreach { r =>
      val red = r.getAs[Long]("redundancy_ppm")
      assert(red >= 0L && red < 1000000L, s"redundancy $red out of range")
    }
  }

  test("q158 next-event examples: one per event with >=3 predecessors") {
    val out = Events.nextEventExamples(spark, dir)
    val users = Tables.events(spark, dir).groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = users.values.map(n => math.max(0L, n - 3)).sum
    assert(out.count() == expected)
    // histories carry exactly 3 comma-separated entries
    assert(out.collect().forall(_.getAs[String]("history").split(",").length == 3))
  }
}
