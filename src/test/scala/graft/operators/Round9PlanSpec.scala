package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{CartesianProductExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan pins for the round-9/10 waves — the 100 TB properties each
  * operator claims in its Scaladoc, asserted against the plan TREE
  * (not substrings: the round-9 string pins were satisfiable by
  * unrelated plan text — see ADVICE r9) so a refactor cannot
  * silently regress them.
  */
class Round9PlanSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  /** Every node of `q`'s physical plan: through adaptive query
    * stages, subqueries and the plans of the caches it reads.
    */
  private def nodes(q: String): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case _ => (p.children ++ p.subqueries).flatMap(walk)
    })
    walk(SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan)
  }

  private def has(q: String)(pick: PartialFunction[SparkPlan, Boolean]): Boolean =
    nodes(q).exists(pick.applyOrElse(_, (_: SparkPlan) => false))

  private val cartesian: PartialFunction[SparkPlan, Boolean] = {
    case _: CartesianProductExec => true
  }

  private val windowGroupLimit: PartialFunction[SparkPlan, Boolean] = {
    case _: WindowGroupLimitExec => true
  }

  /** Every Window node with an EMPTY partitionSpec in the analyzed
    * plan (pre cache-substitution, so cached seams stay visible),
    * subqueries included.
    */
  private def unpartWindows(df: DataFrame): Seq[LWindow] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }

  /** Queries whose unpartitioned windows are over PROVABLY BOUNDED
    * frames — each entry names the frame and its bound. A new query
    * whose plan grows an unpartitioned window is red until it is
    * either ported onto Ranking.withGlobalRank / the value-domain
    * cumsum (q356 form) or argued into this map.
    */
  private val BOUNDED: Map[String, String] = Map(
    "q12_mktsegment_share" -> "|segments| share frame",
    "q148_zipf_fit" -> "top-50 rank frame (limit-k input)",
    "q150_unimax_mix" -> "|langs| budget lattice",
    "q160_stopword_discovery" -> "top-k candidate frame",
    "q164_token_budget" -> "P-row range-partition offsets frame",
    "q169_epoch_expansion" -> "|langs| budget lattice",
    "q199_lr_calibration" -> "10-row calibration-decile frame",
    "q19_lang_stats" -> "|langs| share frame",
    "q200_dedup_funnel" -> "fixed funnel-stage frame",
    "q204_good_turing" -> "bounded count-of-counts frame",
    "q216_lr_auc" -> "distinct quantized z_pico score frame",
    "q223_admission_plan" -> "|sources| admission frame",
    "q224_fightin_words" -> "2x top-k shrunken-ratio frames",
    "q258_token_deciles" -> "10-row decile-bound frame",
    "q268_apportionment" -> "|sources| seat frame",
    "q271_vocab_strata" -> "distinct term-count (value-domain) frame",
    "q279_source_ks" -> "distinct quantized value frame",
    "q283_mannwhitney_drift" -> "distinct (type,value) rank frame",
    "q284_ks_fdr" -> "pair battery + BH step-up frames",
    "q293_qq_drift" -> "decile-bound frames",
    "q295_perm_test" -> "B=19 permutation replicate frame",
    "q304_systematic_sample" -> "value-domain cum frame (hash order)",
    "q305_neyman_alloc" -> "|sources| allocation frame",
    "q314_context_cost" -> "bounded window-length lattice",
    "q318_kruskal_wallis" -> "distinct (value) mid-rank frame",
    "q322_gate_fairness" -> "4x|sources| BH battery frame",
    "q325_vocab_drift" -> "top-k OOV candidate frames",
    "q342_dup_gaps" -> "per-cluster gap aggregate (bounded clusters)",
    "q354_gate_ordering" -> "16-row gate-pattern lattice",
    "q373_benford_digits" -> "9-digit frame",
    "q376_lang_source_contingency" -> "|langs|x|sources| cell frame",
    "q378_purchase_survival" -> "day-lattice frame (time span)",
    "q393_dup_quality" -> "bounded dup-band frame",
    "q409_late_events" -> "P-row range-partition offsets frame",
    "q416_supplier_load" -> "|suppliers| load frame (dim-bounded)",
    "q435_source_rank_churn" -> "|sources| quartile frames",
    "q447_pettitt_changepoint" ->
      "daily-count frame (calendar-bounded) + its value-domain ranks",
    "q454_cliff_delta" ->
      "distinct quantized q_micro value-domain cumsum",
    "q455_wilcoxon_drift" ->
      "distinct |d| milli value-domain rank frame",
    "q461_conditional_medians" ->
      "distinct length value-domain cumsum (decile bounds)",
    "q462_sax_motifs" ->
      "64-row PAA segment frame (calendar-bounded) + its quartiles",
    "q469_skyline" ->
      "distinct price_cents value-domain cummax frame",
    "q489_rich_club" ->
      "distinct degree value-domain cumsum (decile bounds)",
    "q471_stream_sax" ->
      "drained 8h-window frame (calendar-bounded) + its quartiles"
  )

  test("registry sweep: no unpartitioned row-level window over an " +
    "unbounded frame anywhere in SparkEntry.queries") {
    // the r9 lesson: q410/q436/q440 each moved a corpus-scale frame
    // to ONE task via Window.orderBy / a near-empty partitionBy —
    // green at sf0.01, a straggler/OOM at 100 TB. This walks every
    // registered query's analyzed plan and fails on any unpartitioned
    // window not justified in BOUNDED.
    val offenders = SparkEntry.queries.toSeq
      .sortBy(_._1)
      .flatMap { case (name, f) =>
        // NOTE: no releaseAll() here — suites run in parallel threads
        // in one JVM, and unpersisting globally would thrash frames
        // other suites are using. Plan builds register caches lazily;
        // the handful materialized by eager queries are sf0.001-sized.
        val n = unpartWindows(f(spark, dir)).size
        if (n > 0 && !BOUNDED.contains(name)) Some(s"$name($n)") else None
      }
    assert(
      offenders.isEmpty,
      s"unpartitioned windows over unvetted frames: $offenders — port " +
        "onto Ranking.withGlobalRank or the q356 value-domain cumsum, " +
        "or justify the frame bound in BOUNDED"
    )
    // the whitelist can only shrink relative to the registry
    val stale = BOUNDED.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"BOUNDED names not in the registry: $stale")
  }

  test("q410/q436/q440: the r9 single-partition five-points are gone") {
    // q436 ranks via zipWithIndex (no window at all on the user
    // frame); q410/q440 pick from the value-domain cumsum — their
    // only windows are partitioned by event_type
    Seq("q410_value_five_point", "q436_sessions_five_point",
      "q440_gap_five_point").foreach { q =>
      val wins = unpartWindows(SparkEntry.queries(q)(spark, dir))
      assert(wins.isEmpty, s"$q regrew an unpartitioned window")
    }
  }

  test("q374/q419: bottom-64 sampling never materializes a global sort") {
    // q374's per-source sample gets the rank-limit pushdown
    assert(has("q374_kendall_tau")(windowGroupLimit),
      "q374 per-source bottom-k must run as partial heaps")
    // q419's global 64-sample is a TakeOrdered, not a sort
    assert(has("q419_component_concordance") {
      case _: TakeOrderedAndProjectExec => true
    }, "q419 global sample is per-partition heaps + merge")
  }

  test("q409/q164: the global prefix sums are two-phase — the only " +
    "unpartitioned window runs over the P-row offsets frame") {
    Seq("q409_late_events", "q164_token_budget").foreach { q =>
      val wins = unpartWindows(SparkEntry.queries(q)(spark, dir))
      assert(wins.nonEmpty, s"$q offsets fold present")
      wins.foreach { w =>
        // the window's input must be the per-partition aggregate
        // keyed on pid — i.e. P rows, not the event stream
        val aggOnPid = w.child.collect {
          case a: Aggregate
              if a.groupingExpressions.exists(_.references.exists(
                _.name == "pid")) => a
        }
        assert(aggOnPid.nonEmpty,
          s"$q: unpartitioned window must fold the pid-keyed " +
            "offsets frame, not row-level data")
      }
    }
  }

  test("q403/q406: the basket pair join is keyed on l_orderkey — " +
    "never a cartesian") {
    Seq("q403_copurchase", "q406_association_rules").foreach { q =>
      assert(!has(q)(cartesian), s"$q pair join must stay within-order")
      assert(has(q) {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.headOption.exists {
            case a: AttributeReference => a.name == "l_orderkey"
            case _ => false
          }
          case _ => false
        }
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
      }, s"$q joins on the order key")
    }
  }

  test("q418: register frames are bounded — the pair-register join " +
    "carries no corpus-sized side") {
    // per-source bottom-64 registers ride the rank-limit pushdown
    assert(has("q418_kmv_set_algebra")(windowGroupLimit),
      "per-source bottom-64 must run as partial heaps")
    assert(!has("q418_kmv_set_algebra")(cartesian),
      "source-pair expansion is a bounded theta-join, fine; the " +
        "register join must not be a cartesian over registers")
  }

  test("q400/q420: the admission chain broadcasts only bounded frames") {
    Seq("q400_round9_manifest", "q420_admission_receipt").foreach { q =>
      // eval shingles (bounded by the eval set) may broadcast; the
      // corpus-sized train side must never appear as a broadcast
      // exchange feeding a join probe
      assert(!has(q)(cartesian), s"$q no cartesian")
    }
  }

  test("q424: the streaming receipt folds map-side (partial aggregation)") {
    // the batch twin of the streaming agg shows partial_count/sum;
    // assert on the oracle-equivalent batch expression instead of the
    // stream (streaming plans are only visible post-drain)
    assert(has("q420_admission_receipt") {
      case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
    }, "receipt sums fold before the exchange")
  }
}
