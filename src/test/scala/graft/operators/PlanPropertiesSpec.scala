package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for the 100 TB plan properties (PERF.md): filter
  * pushdown, column pruning, top-k without global sort, broadcast of
  * dimension sides. Plans are inspected pre-execution (AQE hides
  * codegen/stage structure post-execution, but pushdown/pruning/
  * TakeOrdered are visible in the initial physical plan).
  */
class PlanPropertiesSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry
      .queries(q)(spark, dir)
      .queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      )

  test("q01: shipdate predicate reaches the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("partial_sum"), "map-side partial aggregation")
  }

  test("q02: all three predicates pushed; schema pruned to 4 columns") {
    val p = plan("q02_revenue_filter")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"))
  }

  test("q03: dimension join is broadcast") {
    assert(plan("q03_revenue_by_nation").contains("BroadcastHashJoin"))
  }

  test("q04: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q04_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("q24: query side broadcast; corpus never shuffled") {
    val p = plan("q24_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("vec_dot"), "codegen VectorDot in the plan")
  }

  test("q13-q17 text queries are shuffle-free map stages") {
    for (q <- Seq("q13_clean_text", "q14_token_stats", "q15_quality_score",
        "q16_lang_id", "q17_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should not shuffle")
    }
  }

  test("round-2 narrow ops are shuffle-free map stages") {
    for (q <- Seq("q48_frame_sample", "q49_train_test_split",
        "q52_sentences", "q59_redact_pii", "q60_repetition")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should not shuffle")
    }
  }

  test("q51: vocabulary top-k avoids a global sort") {
    val p = plan("q51_vocab")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("q53: packing shuffles once, on lang, with no range partitioning") {
    val p = plan("q53_pack_windows")
    assert(p.contains("hashpartitioning(lang"))
    assert(!p.contains("rangepartitioning"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1,
      "single shuffle reused by the window")
  }

  test("q62: pivot is hash aggregation with bounded shuffles") {
    // explicit pivot values avoid the eager distinct-values job at
    // plan time; the plan itself must stay a pure hash-agg pipeline
    // (two-phase: per-(priority,status) then pivot) with no sort agg
    val p = plan("q62_pivot_api")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2)
    assert(!p.contains("SortAggregate") && !p.contains("rangepartitioning"))
  }

  test("q33: decode scan prunes to doc_id + text") {
    val p = plan("q33_multimodal_decode")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // at cluster scale a selective dim filter should become a bloom
    // probe on the fact scan (Spark's InjectRuntimeFilter); verify the
    // engine's plans are eligible when broadcast doesn't apply
    val dir01 = "/root/testdata/sf0.01"
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      // production default requires a >=10GB fact scan — the test
      // tables are tiny, so the size gate is lowered to prove the
      // plans are structurally eligible
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    )
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.col
      val li = graft.Tables.lineitem(spark, dir01)
      val o = graft.Tables
        .orders(spark, dir01)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .count()
      val p = j.queryExecution.optimizedPlan.toString.toLowerCase
      assert(p.contains("bloom") || p.contains("might_contain"),
        "expected an injected runtime bloom filter on the fact scan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q36: salted join is a shuffled hash join, never broadcast/merge") {
    val p = plan("q36_salted_join")
    assert(p.contains("ShuffledHashJoin"))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("q73: eval shingle set is broadcast; train side never shuffles pre-join") {
    val p = plan("q73_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("shingles"), "fused Shingles expression in the plan")
  }

  test("q74: doc count is a broadcast single row; top-3 is one window") {
    val p = plan("q74_tfidf_terms")
    assert(p.contains("BroadcastNestedLoopJoin"), "n_docs joins as broadcast")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("per-key top-k windows get the rank-limit pushdown") {
    // Spark's WindowGroupLimit keeps k rows per key in each partial,
    // so rank<=k never sorts or carries a whole partition — the
    // property that makes window top-k viable at 100 TB. Visible only
    // in the executed plan (it is a physical rewrite).
    Seq("q05_window_rank", "q74_tfidf_terms").foreach { q =>
      val p = SparkEntry
        .queries(q)(spark, dir)
        .queryExecution
        .executedPlan
        .toString
      assert(p.contains("WindowGroupLimit"), s"$q lost the rank-limit pushdown")
    }
  }

  test("q75: one shuffle (shard), no global sort") {
    val p = plan("q75_shard_assign")
    assert(!p.contains("rangepartitioning"), "no global sort")
    assert(p.contains("hashpartitioning(shard"))
    assert(
      """\(\d+\) Exchange""".r.findAllIn(p).size == 1,
      "exactly one hash exchange (the shard window)"
    )
  }

  test("q79: one shuffle on user_id; frame is a RangeFrame") {
    val p = plan("q79_rolling_hour")
    assert(p.contains("hashpartitioning(user_id"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1,
      "rolling window reuses a single user_id shuffle")
    assert(p.contains("RangeFrame"), "value-based frame, not a row frame")
  }

  test("q83: every funnel stage pushes its event_type filter to the scan") {
    val p = plan("q83_funnel")
    for (stage <- Seq("view", "click", "purchase"))
      assert(p.contains(s"EqualTo(event_type,$stage)"),
        s"$stage stage should scan only its slice")
  }

  test("q82: corpus total is a broadcast single row; postings agg on token") {
    val p = plan("q82_posting_lists")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the count joins as a broadcast row, never a shuffle")
    assert(p.contains("hashpartitioning(token"))
  }

  test("q80: grouped percentiles are one exchange with partial aggregation") {
    val p = plan("q80_lang_percentiles")
    assert(p.contains("partial_percentile"), "map-side partial percentile")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1)
  }

  test("q50: deciles plan has no window and no single-partition stage") {
    // the distributed ranking materializes through an RDD boundary;
    // everything visible in the final plan must stay partition-parallel
    val p = plan("q50_quality_deciles")
    assert(!p.contains("Window"), "no window operator anywhere")
    assert(!p.contains("SinglePartition"), "no single-partition exchange")
  }

  test("q84: rank<=3 gets the WindowGroupLimit pushdown; one w1 shuffle after the agg") {
    val executed = SparkEntry
      .queries("q84_bigram_lm")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    assert(executed.contains("WindowGroupLimit"),
      "per-token top-k must not materialize whole groups")
    val p = plan("q84_bigram_lm")
    assert(p.contains("hashpartitioning(w1"))
  }

  test("q85: chunking is a shuffle-free map stage") {
    assert(!plan("q85_doc_chunks").contains("Exchange"))
  }

  test("q112/q113: subqueries decorrelate to semi/anti joins") {
    val p112 = plan("q112_above_avg_suppliers")
    assert(p112.contains("LeftSemi"), "IN subquery → left semi join")
    assert(p112.contains("Subquery"), "scalar average hosted as subquery")
    val p113 = plan("q113_idle_rich_customers")
    assert(p113.contains("LeftAnti"), "NOT EXISTS → left anti join")
    // the scalar-subquery threshold is pushed into the parquet scan
    assert(p113.contains("GreaterThan(c_acctbal,ScalarSubquery"),
      "scalar subquery pushed to the scan as a runtime filter")
  }

  test("round-5 filters: broadcast model tables, no corpus range sort") {
    // q131: the 1024-bucket ratio table joins in broadcast; nothing
    // range-partitions (sorts) the corpus
    val p131 = plan("q131_dsir_weights")
    assert(p131.contains("BroadcastHashJoin"), "ratio table broadcast")
    assert(!p131.contains("Exchange rangepartitioning"), "no corpus sort")
    // q132: selection is a broadcast |langs|-row rate join + one
    // aggregate — same constraints
    val p132 = plan("q132_temperature_mix")
    assert(p132.contains("BroadcastHashJoin"), "rate table broadcast")
    assert(!p132.contains("Exchange rangepartitioning"), "no corpus sort")
    // q127: LM scoring joins carry pre-aggregated counts with
    // map-side partial aggregation; never a cartesian corpus product
    val p127 = plan("q127_trigram_ppl")
    assert(p127.contains("partial_sum"), "map-side partial aggregation")
    assert(!p127.contains("CartesianProduct"), "no unbroadcast cross")
  }

  test("q128/q129: rank-limit pushdown on the per-group top-k windows") {
    // the rank <= k filters must rewrite to WindowGroupLimit so no
    // group ever materializes fully sorted
    assert(plan("q128_pq_adc").contains("WindowGroupLimit"))
    assert(plan("q129_nb_langid").contains("WindowGroupLimit"))
  }

  test("round-6 additions keep their scale plan shapes") {
    // q137: the Bloom bitmap words and the eval membership set join
    // in broadcast; the training side never cartesian-products
    val p137 = plan("q137_bloom_decontaminate")
    assert(p137.contains("BroadcastHashJoin"), "bitmap lookups broadcast")
    assert(!p137.contains("CartesianProduct"), "no unbroadcast cross")
    // q138: the sentinel window and the per-doc agg share ONE doc_id
    // exchange — adding a second would double the corpus shuffle
    val p138 = plan("q138_span_corruption")
    // formatted mode lists the partitioning on the Exchange's
    // Arguments line, so count the argument spellings
    val nEx138 = "Arguments: hashpartitioning\\(".r
      .findAllIn(p138).length
    assert(nEx138 == 1, s"q138 expected 1 hash exchange, saw $nEx138")
    // q139: anchors broadcast (never corpus x corpus shuffled) and
    // the per-anchor top-3 gets the rank-limit pushdown
    val p139 = plan("q139_hard_negatives")
    assert(p139.contains("BroadcastNestedLoopJoin"), "anchor slice broadcast")
    assert(p139.contains("WindowGroupLimit"), "top-k rank pushdown")
    // q140: fingerprint selection is a per-doc window; the pair join
    // is an equi-join on the fingerprint hash, never a cross product
    val p140 = plan("q140_winnow_fingerprints")
    assert(!p140.contains("CartesianProduct") &&
      !p140.contains("BroadcastNestedLoopJoin"),
      "winnowed pair join must be an equi-join")
    assert(!p140.contains("Arguments: rangepartitioning("), "no global sort")
    // q141: the projection itself shuffles NOTHING — the only
    // exchanges in the whole plan are broadcasts (sign matrix, anchor
    // slice)
    val p141 = plan("q141_jl_projection")
    assert(!p141.contains("Arguments: hashpartitioning(") &&
      !p141.contains("Arguments: rangepartitioning("),
      "JL projection must be shuffle-free")
    assert(p141.contains("BroadcastNestedLoopJoin"), "anchor pair broadcast")
    // q142: the rule battery is ONE narrow codegen'd pass — any
    // exchange at all means a regression
    val p142 = plan("q142_gopher_rules")
    assert(!p142.contains("Exchange"), "gopher rules must be shuffle-free")
    assert(p142.contains("codegen id"), "rule battery keeps a codegen stage")
    // q143: containment pairs come from the shingle equi-join (never
    // a cross product); the direction mirror is in-row (no extra join)
    val p143 = plan("q143_shingle_containment")
    assert(!p143.contains("CartesianProduct") &&
      !p143.contains("BroadcastNestedLoopJoin"),
      "containment pair join must be an equi-join")
    // q144: only oversized sources may enter the rank window; both
    // count joins ride broadcast
    val p144 = plan("q144_source_cap")
    assert(p144.contains("BroadcastHashJoin"), "count joins broadcast")
    assert(!p144.contains("Arguments: rangepartitioning("), "no global sort")
    // q145: centroid and stats frames are |labels| rows → broadcast;
    // the corpus never self-joins
    val p145 = plan("q145_embedding_outliers")
    assert(p145.contains("BroadcastHashJoin"), "centroid+stats broadcast")
    assert(!p145.contains("CartesianProduct"), "no unbroadcast cross")
  }

  test("round-7 additions keep their scale plan shapes") {
    // q150: the corpus is aggregated once; every window runs over the
    // tiny per-language frame (singlepartition is fine THERE), and
    // the budget/capsum scalars ride broadcast
    val p150 = plan("q150_unimax_mix")
    assert(p150.contains("BroadcastNestedLoopJoin"),
      "budget scalars broadcast")
    assert(!p150.contains("Arguments: rangepartitioning("),
      "no corpus-wide global sort")
    // q151: both rankers are posting joins against the BROADCAST
    // query set — a cartesian |Q|x|corpus| pairing is the regression
    val p151 = plan("q151_hybrid_rrf")
    assert(!p151.contains("CartesianProduct"), "no unbroadcast cross")
    assert(p151.contains("BroadcastHashJoin"), "query set broadcast")
    // q152: the bucketed lake answers the join with NO exchange —
    // the only hash exchange in the plan is the final tiny aggregate
    val p152 = plan("q152_bucketed_join")
    assert(p152.contains("SortMergeJoin"), "bucketed join is SMJ")
    assert(p152.contains("Bucketed: true"), "scan reads bucket layout")
    val nEx152 = "Arguments: hashpartitioning\\(".r
      .findAllIn(p152).length
    assert(nEx152 == 1, s"q152 expected 1 hash exchange, saw $nEx152")
  }

  test("q153: date predicate prunes the partitioned lake at planning time") {
    val p = plan("q153_partition_prune")
    // the scan must carry partition filters on event_date…
    assert(p.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(p).isDefined,
      "scan has partition filters on event_date")
    // …and the week query must read 7 of the 30 daily partitions:
    // execute and read the scan's own partition-read metric
    val df = SparkEntry.queries("q153_partition_prune")(spark, dir)
    df.collect()
    // dig through AQE wrappers and materialized query stages — the
    // scan lives inside a stage's plan, which collect() treats as a
    // leaf
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
      }.flatten
    val scans = allScans(df.queryExecution.executedPlan)
    val nParts = scans.flatMap(_.metrics.get("numPartitions"))
      .map(_.value).headOption
    assert(nParts.contains(7L),
      s"expected 7 pruned-in partitions, read $nParts; scans=${scans.length}; " +
        s"keys=${scans.flatMap(_.metrics.keys).mkString(",")}")
  }

  test("round-7 batch: rank pushdown, no cartesian pairs, bounded global windows") {
    // q154: both rank-1 windows run as WindowGroupLimit per-partition
    // top-1 heaps before the exchange — never a full stratum sort
    val p154 = plan("q154_preference_pairs")
    assert(p154.contains("WindowGroupLimit"), "q154 rank-1 pushes down")
    assert(!p154.contains("CartesianProduct"))
    // q159: candidate generation is a key join on prefix shingles —
    // an exact SSJ must never fall back to a cross product
    val p159 = plan("q159_prefix_filter_join")
    assert(!p159.contains("CartesianProduct"), "q159 no cross product")
    // q164: the ONLY single-partition exchange is the P-row offsets
    // frame; the corpus-wide cumsum runs partitioned
    val p164 = plan("q164_token_budget")
    val nSingle = "Exchange SinglePartition".r.findAllIn(p164).length
    assert(nSingle <= 1, s"q164 has $nSingle single-partition exchanges")
    assert(p164.contains("InMemoryTableScan") ||
      p164.contains("TableCacheQueryStage"),
      "q164 cumsum frame is materialized once and reused")
    // q155/q162: membership/closure joins stay keyed
    assert(!plan("q155_ngram_novelty").contains("CartesianProduct"))
  }

  test("round-7 continuation ops keep their scale plan shapes") {
    // q180: the model is literals and the features frame is an eager
    // localCheckpoint — SCORING is a shuffle-free map stage
    val p180 = plan("q180_lr_quality")
    assert(!p180.contains("Exchange"), "q180 scoring must not shuffle")
    // q182: the 8-long sketch pair table rides broadcast; the only
    // pairwise step is keyed (shingle inversion), never cartesian
    val p182 = plan("q182_source_minhash")
    assert(p182.contains("BroadcastNestedLoopJoin"), "sketch pairs broadcast")
    assert(!p182.contains("CartesianProduct"))
    // q183: LUT/probe joins are broadcast hash joins; candidates come
    // from the probed lists, never a corpus cross product
    val p183 = plan("q183_ivfpq")
    assert(p183.contains("BroadcastHashJoin"), "q183 LUTs broadcast")
    assert(!p183.contains("CartesianProduct"))
    // q184: both LM scoring chains are keyed joins + broadcast scalars
    val p184 = plan("q184_moore_lewis")
    assert(!p184.contains("CartesianProduct"))
    assert(p184.contains("BroadcastNestedLoopJoin"),
      "tot/|V| scalars broadcast")
    // q186: chunk windows partition on doc_id; no global sort anywhere
    val p186 = plan("q186_cdc_chunks")
    assert(!p186.contains("Arguments: rangepartitioning("),
      "q186 no corpus-wide global sort")
    assert(!p186.contains("CartesianProduct"))
    // q187: the sweep reads the CACHED pair artifact, one fan-out pass
    val p187 = plan("q187_threshold_sweep")
    assert(p187.contains("InMemoryTableScan") ||
      p187.contains("TableCacheQueryStage"),
      "q187 reuses the cached q21 pair table")
    assert(!p187.contains("CartesianProduct"))
    // q188: decile bounds join the vocab-sized first-occurrence frame
    // as a BROADCAST equi-join on source (fp ≤ bound is a post-filter)
    val p188 = plan("q188_heaps_law")
    assert(p188.contains("BroadcastHashJoin"), "bounds broadcast")
    assert(!p188.contains("CartesianProduct"))
    // q189/q190: keyed windows and keyed self-join only
    assert(!plan("q189_normalized_dedup").contains("CartesianProduct"))
    assert(!plan("q190_gate_agreement").contains("CartesianProduct"))
  }

  test("every oracle query has matching column names in its SQL") {
    // alias discipline: each oracle's SQL must mention every output
    // column name of the Spark result (driver sorts columns by name)
    for ((name, fn) <- SparkEntry.queries if SparkEntry.oracleSql.contains(name)) {
      val cols = fn(spark, dir).columns
      val sql = SparkEntry.oracleSql(name).toLowerCase
      val missing = cols.filterNot(c => sql.contains(c.toLowerCase))
      assert(missing.isEmpty, s"$name: oracle SQL missing columns ${missing.mkString(",")}")
    }
  }
}
