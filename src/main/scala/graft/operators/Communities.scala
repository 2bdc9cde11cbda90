package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Community structure over the near-dup graphs — the cluster-GRANULAR
  * complements of the membership-granular connected components (q72):
  * label propagation (communities), modularity (how good the
  * partition is), HITS (who anchors the copy flow), and grid-DBSCAN
  * (density clusters in embedding space). All iterative pieces follow
  * the CC/BFS discipline: per-round lineage truncation
  * through deterministic tracked caches (reusable by steady-state
  * re-runs), key-shuffles only, never an all-pairs join.
  */
object Communities {
  import graft.util.Caches._

  /** The J ≥ 0.5 near-dup pair graph both directions, cached —
    * every round of LP reads it, and upstream is the full shingle
    * inversion join (itself a tracked cache, so the union branches
    * read one materialization). A tracked cache, not a checkpoint:
    * the deterministic plan keeps every downstream round
    * cache-reusable (the round-13 determinism sweep).
    */
  private def nearDupSym(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    pairs
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .cacheTracked()
  }

  /** Synchronous label propagation (Raghavan/Albert/Kumara, Phys.
    * Rev. E 2007) over a symmetric (a, b) edge frame: every node
    * starts as its own label; each round every node adopts the most
    * frequent label among its NEIGHBORS (ties → smallest label,
    * making the sweep deterministic — the paper breaks ties
    * randomly), all nodes updating simultaneously. A fixed round
    * count is part of the contract (synchronous LP can oscillate on
    * bipartite shapes, so "until stable" is not well-defined): the
    * DuckDB oracle unrolls the identical rounds.
    *
    * Scale: each round is one edge⋈label hash join + two aggregates,
    * all keyed shuffles; state is one row per node, lineage truncated
    * per round.
    */
  def lpLabelsFrom(sym: DataFrame, rounds: Int): DataFrame =
    // the whole propagation is a memoized derive-once artifact (the
    // CC treatment, round 13): checkpoints truncate per-round lineage
    // — keeping every consumer's analyzed plan small, where per-round
    // caches nested the full pair-join tree per round (measured: the
    // q478 explain grew to 149k lines) — and the memo hands a
    // steady-state re-run the materialized final labels back
    graft.util.Caches.memoized(s"lpLabels:$rounds", Seq(sym)) {
      var labels = sym
        .select(col("a").as("id"))
        .distinct()
        .select(col("id"), col("id").as("lab"))
        .localCheckpoint(true)
      for (_ <- 1 to rounds) {
        labels = sym
          .join(labels, sym("b") === labels("id"))
          .groupBy(col("a"), col("lab"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("a"))
          .agg(max(struct(col("c").as("c"), (-col("lab")).as("nl"))).as("m"))
          .select(col("a").as("id"), (-col("m.nl")).as("lab"))
          .localCheckpoint(true)
      }
      labels
    }

  /** q475: label-propagation communities of the near-dup graph —
    * 3 synchronous min-tie-break rounds (see [[lpLabelsFrom]]),
    * rolled up to the (community_size → n_communities) histogram.
    * The cluster-granular complement of q72's connected components:
    * CC says what is REACHABLE, LP says what is DENSELY attached —
    * a chain of borderline matches is one CC component but dissolves
    * into singleton-ish LP communities, and the histogram gap
    * between the two is the transitive-closure overreach a dedup
    * policy should know before deleting whole components.
    */
  def lpCommunities(spark: SparkSession, dir: String): DataFrame =
    lpLabelsFrom(nearDupSym(spark, dir), rounds = 3)
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("community_size"))
      .groupBy(col("community_size"))
      .agg(count(lit(1)).as("n_communities"))

  /** q478: Newman modularity of the q475 LP partition, per community
    * and in exact integers — for community c with e_c internal edges
    * and total member degree d_c over a graph of m edges, the
    * contribution is e_c/m − (d_c/2m)² = (4·m·e_c − d_c²) / (4m²),
    * emitted half-up in micro units (Newman & Girvan 2004). The
    * quality score that turns q475 from "a partition" into "a
    * partition worth acting on": Σ contributions ≈ 0 means the
    * communities are no better than random edge placement.
    *
    * Exactness: numerator and denominator are products of edge
    * counts — BIGINT-exact for m up to ~10⁶ edges in micro units
    * (4·m·e_c·10⁶ ≤ 4·10¹⁸); no float division anywhere.
    *
    * Scale: the LP labels (one row per node) broadcast-join onto the
    * edge list twice (both endpoints); everything after is a
    * |communities|-row aggregate.
    */
  def lpModularity(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.idivHalfUpSigned
    val sym = nearDupSym(spark, dir)
    val labels = lpLabelsFrom(sym, rounds = 3)
    // one direction only: m and e_c count undirected edges once
    val edges = sym.filter(col("a") < col("b"))
    val lab = labels.select(col("id"), col("lab"))
    val withLabs = edges
      .join(lab.select(col("id").as("a"), col("lab").as("la")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("lab").as("lb")), Seq("b"))
      .cacheTracked()
    val m = withLabs.count()
    // The micro-unit numerator is bounded by 4·m·e_c·10⁶ ≤ 4·m²·10⁶
    // (e_c ≤ m, and deg_sum² ≤ 4m² is smaller): signed-64 safe only
    // while m ≤ 1.5·10⁶ edges. Fail loudly at the cliff instead of
    // silently wrapping — the 100 TB escape hatch is the normalized
    // double form (rank-identical, documented above), switched
    // deliberately, not by overflow.
    require(
      m <= 1500000L,
      s"lpModularity: $m edges exceeds the 1.5M-edge BIGINT-exact " +
        "bound for micro-unit contributions (4·m²·10⁶ would overflow " +
        "signed 64-bit); use the normalized double form at this scale"
    )
    val eIn = withLabs
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("e_in"))
    // degree sum per community = both-direction endpoint census
    val dSum = withLabs
      .select(explode(array(col("la"), col("lb"))).as("community"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("deg_sum"))
    val members = labels
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_members"))
    members
      .join(dSum, Seq("community"), "left")
      .join(eIn, Seq("community"), "left")
      .select(
        col("community"),
        col("n_members"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
        idivHalfUpSigned(
          (lit(4L) * lit(m) * coalesce(col("e_in"), lit(0L)) -
            coalesce(col("deg_sum"), lit(0L)) *
            coalesce(col("deg_sum"), lit(0L))) * lit(1000000L),
          lit(4L) * lit(m) * lit(m)
        ).as("q_contrib_micro")
      )
  }

  /** q477: HITS hubs/authorities (Kleinberg, JACM 1999) over the
    * DIRECTED copy-flow graph (q225's edges: near-dup pairs J ≥ 0.5
    * oriented doc_a → doc_b, the lower id treated as the upstream
    * copy): authorities are the documents duplication flows INTO,
    * hubs the documents it flows out of. Four alternating rounds of
    * the UN-normalized integer recurrence a ← Aᵀh, h ← A·a from
    * h₀ = 1 — integer HITS is the house exact twin of the usual
    * L1-normalized float iteration: identical ranking (normalization
    * is a per-round global scalar), zero float-summation drift, and
    * the DuckDB oracle replays it bit-for-bit. Score magnitudes are
    * bounded by deg⁸ after 4 rounds — BIGINT-safe for max degree
    * ≤ ~200 (near-dup families are far smaller); the normalized
    * double form is the 100 TB fallback if a graph ever exceeds it.
    *
    * Scale: each half-round is one edge⋈score join + one aggregate
    * (keyed shuffles); scores are one row per node, checkpointed.
    */
  def hitsCopyFlow(spark: SparkSession, dir: String): DataFrame =
    hitsFrom(
      Dedup
        .ngramJaccardPairs(spark, dir)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    )

  /** The integer HITS engine behind [[hitsCopyFlow]], seamed on the
    * directed (src, dst) edge frame. Guards the documented BIGINT
    * bound: after 4 un-normalized rounds scores are bounded by
    * (max degree)⁸, so max in/out degree must stay ≤ 200 (200⁸ =
    * 2.56·10¹⁸ < 2⁶³) — one cheap aggregate on the checkpointed edge
    * frame enforces it, turning the documented fallback decision
    * (switch to the L1-normalized double form, rank-identical) from
    * a silent wrap into a loud error. CommunitiesSpec "integer HITS:
    * a 200-spoke star sits on the degree bound, 201 spokes trip it"
    * pins the exact scores at the bound and the trip past it.
    */
  def hitsFrom(edges: DataFrame): DataFrame = graft.util.Caches.memoized(
    // memoized like lpLabelsFrom: checkpoints inside keep consumer
    // plans small, the memo hands steady-state re-runs the final
    // score frames back
    "hits4",
    Seq(edges)
  ) {
    val e = edges.localCheckpoint(true)
    val maxDeg = e
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("d"))
      .agg(max(col("d")))
      .head()
      .getLong(0)
    require(
      maxDeg <= 200L,
      s"hitsFrom: max degree $maxDeg exceeds the 200-degree bound " +
        "for 4 un-normalized BIGINT rounds (scores grow as deg⁸); " +
        "use the L1-normalized double form at this density"
    )
    val nodes = e
      .select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)
    var hub = nodes.select(col("id"), lit(1L).as("s"))
    var auth = hub
    for (_ <- 1 to 4) {
      auth = nodes
        .join(
          e.join(hub, e("src") === hub("id"))
            .groupBy(col("dst"))
            .agg(sum(col("s")).as("t")),
          nodes("id") === col("dst"),
          "left"
        )
        .select(nodes("id"), coalesce(col("t"), lit(0L)).as("s"))
        .localCheckpoint(true)
      hub = nodes
        .join(
          e.join(auth, e("dst") === auth("id"))
            .groupBy(col("src"))
            .agg(sum(col("s")).as("t")),
          nodes("id") === col("src"),
          "left"
        )
        .select(nodes("id"), coalesce(col("t"), lit(0L)).as("s"))
        .localCheckpoint(true)
    }
    nodes
      .join(auth.select(col("id"), col("s").as("auth_score")), Seq("id"))
      .join(hub.select(col("id"), col("s").as("hub_score")), Seq("id"))
      .select(col("id").as("doc_id"), col("auth_score"), col("hub_score"))
  }

  /** q476: grid-bucketed DBSCAN (Ester et al., KDD 1996) on the
    * first two embedding coordinates — eps = 2⁻⁶ (exactly
    * representable, so cell = floor(x·64) is drift-free on both
    * engines), minPts = 4 neighbors (self excluded). Neighbor
    * candidates come from the 3×3 grid-cell neighborhood (each point
    * joins only its own cell against the 9-cell replication of the
    * probe side — the standard grid trick: candidates ∝ local
    * density, NEVER points²), exact squared distance filters them.
    * Core points (≥ minPts in-eps neighbors) cluster via connected
    * components over core-core in-eps edges; border points attach to
    * their minimum core cluster; the rest is noise. Output: one row
    * per cluster (labelled by its minimum core id) with core/border
    * counts, plus the (-1, 0, n_noise) noise row.
    *
    * Scale: the grid join bounds candidate generation by occupancy
    * (9 cells of radius-eps population per point); CC is the
    * pointer-doubling operator; every join is keyed. At 100 TB the
    * grid key is ALSO the partitioner — neighborhood queries never
    * leave the executor holding the cell.
    */
  def dbscanGrid(spark: SparkSession, dir: String): DataFrame =
    dbscanGridPoints(
      spark,
      Tables
        .embeddings(spark, dir)
        .select(
          col("vec_id"),
          element_at(col("embedding"), 1).cast("double").as("x"),
          element_at(col("embedding"), 2).cast("double").as("y")
        )
    )

  /** [[dbscanGrid]]'s engine, seamed on a (vec_id, x, y) points frame
    * (CommunitiesSpec "dbscanGridPoints: tight anchors cluster apart;
    * occupancy 4096 passes, 4097 trips" drives both the bounded
    * spread shape and the occupancy guard below).
    *
    * Occupancy pre-flight (the q171 join-blowup treatment): the grid
    * trick bounds candidates by CELL OCCUPANCY, not by n — which is a
    * bound only while occupancy is bounded. A corpus concentrated in
    * one eps-cell makes the within-cell join quadratic (occupancy c →
    * ~4.5·c² candidate pairs in that cell). One cheap aggregate over
    * the cached cell keys measures max occupancy BEFORE any pair is
    * generated and fails fast past 4096 (≤ ~75M pairs from the worst
    * cell — bounded); the mitigation is the message's contract:
    * shrink eps (denser grid) or pre-cluster the dense region.
    */
  def dbscanGridPoints(spark: SparkSession, pts: DataFrame): DataFrame = {
    val eps = 0.015625
    val minPts = 4L
    val p = pts
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long"))
      .cacheTracked()
    // the occupancy census is one driver head() per construction —
    // memoize it with the grid frame it guards (mechanism 1)
    val maxOcc = graft.util.Caches
      .memoizedIn(spark, "dbscanGrid.maxOcc", Seq(p)) {
        java.lang.Long.valueOf(
          p.groupBy(col("cx"), col("cy"))
            .agg(count(lit(1)).as("c"))
            .agg(max(col("c")))
            .head()
            .getLong(0))
      }
      .longValue()
    require(
      maxOcc <= 4096L,
      s"dbscanGrid: max eps-cell occupancy $maxOcc exceeds 4096 — " +
        "the 3x3 grid candidate join would degenerate toward points² " +
        "inside the dense cell; shrink eps or pre-partition the dense " +
        "region before clustering"
    )
    val offsets = array(
      (for { dx <- -1 to 1; dy <- -1 to 1 } yield struct(
        lit(dx.toLong).as("dx"),
        lit(dy.toLong).as("dy")
      )): _*
    )
    val probe = p
      .select(
        col("vec_id").as("j"),
        col("x").as("xj"),
        col("y").as("yj"),
        col("cx").as("cxj"),
        col("cy").as("cyj")
      )
      .withColumn("o", explode(offsets))
      .select(
        col("j"),
        col("xj"),
        col("yj"),
        (col("cxj") + col("o.dx")).as("cx"),
        (col("cyj") + col("o.dy")).as("cy")
      )
    val d2 = (col("x") - col("xj")) * (col("x") - col("xj")) +
      (col("y") - col("yj")) * (col("y") - col("yj"))
    val pairs = p
      .join(probe, Seq("cx", "cy"))
      .filter(col("vec_id") < col("j") && d2 <= lit(eps * eps))
      .select(col("vec_id").as("i"), col("j"))
      // cacheTracked, not eager checkpoints: both frames have
      // deterministic plans (cell cache + literal offsets), so the
      // tracked cache serves every downstream read AND the
      // steady-state re-run, and no separate materialization job runs
      .cacheTracked()
    val deg = pairs
      .select(explode(array(col("i"), col("j"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_nb"))
      .cacheTracked()
    val core = deg.filter(col("n_nb") >= minPts).select(col("id"))
    val coreEdges = pairs
      .join(core.select(col("id").as("i")), Seq("i"), "left_semi")
      .join(core.select(col("id").as("j")), Seq("j"), "left_semi")
      .select(col("i").as("src"), col("j").as("dst"))
    val coreLab = ConnectedComponents
      .run(core, coreEdges)
      .cacheTracked()
    // border: non-core with ≥1 in-eps core neighbor → min core label
    val sym = pairs
      .select(col("i").as("a"), col("j").as("b"))
      .unionByName(pairs.select(col("j").as("a"), col("i").as("b")))
    val borderLab = sym
      .join(coreLab.select(col("id").as("b"), col("label")), Seq("b"))
      .join(coreLab.select(col("id").as("a")), Seq("a"), "left_anti")
      .groupBy(col("a"))
      .agg(min(col("label")).as("label"))
    val nTotal = p.count()
    val clusters = coreLab
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_core"))
      .join(
        borderLab
          .groupBy(col("label").as("cluster"))
          .agg(count(lit(1)).as("n_border")),
        Seq("cluster"),
        "left"
      )
      .select(
        col("cluster"),
        col("n_core"),
        coalesce(col("n_border"), lit(0L)).as("n_border")
      )
      // lazy tracked cache: the `assigned` aggregate below
      // materializes it, and the deterministic plan keeps the
      // steady-state re-run on the cache
      .cacheTracked()
    val assigned = clusters
      .agg(
        coalesce(sum(col("n_core")), lit(0L)).as("nc"),
        coalesce(sum(col("n_border")), lit(0L)).as("nb")
      )
      .select((col("nc") + col("nb")).as("n_assigned"))
      .head()
      .getLong(0)
    import spark.implicits._
    clusters.unionByName(
      Seq((-1L, 0L, nTotal - assigned)).toDF("cluster", "n_core", "n_border")
    )
  }

  /** q480: partition fragmentation census — for every connected
    * component of the J ≥ 0.5 near-dup graph, how many q475 LP
    * communities it splits into, rolled up as (n_lp_communities →
    * component count, doc mass). The head-to-head between the two
    * cluster notions on the SAME graph: a histogram massed at 1 says
    * reachability ≡ density and CC dedup is safe; mass at ≥ 2 is
    * exactly the chain-of-borderline-matches population where
    * transitive closure over-merges and a dedup policy should drop to
    * community granularity before deleting whole components.
    *
    * Scale: CC is the pointer-doubling operator, LP the bounded-round
    * engine — both one row per node; the census is two aggregates on
    * the label join.
    */
  def partitionFragmentation(spark: SparkSession, dir: String): DataFrame = {
    val sym = nearDupSym(spark, dir)
    val lp = lpLabelsFrom(sym, rounds = 3)
    val nodes = sym.select(col("a").as("id")).distinct()
    val edges = sym
      .filter(col("a") < col("b"))
      .select(col("a").as("src"), col("b").as("dst"))
    val cc = ConnectedComponents.run(nodes, edges)
    cc.join(lp, Seq("id"))
      .groupBy(col("label").as("component"))
      .agg(
        countDistinct(col("lab")).as("n_lp_communities"),
        count(lit(1)).as("n_members")
      )
      .groupBy(col("n_lp_communities"))
      .agg(
        count(lit(1)).as("n_components"),
        sum(col("n_members")).as("n_docs")
      )
  }

  /** q481: greedy maximum-coverage source selection — pick 3 sources
    * that greedily maximize the union of distinct 3-gram shingles
    * covered, emitting per round the chosen source, its marginal gain
    * and the cumulative coverage. The classic (1 − 1/e) greedy for
    * submodular coverage (Nemhauser/Wolsey/Fisher 1978) — the
    * acquisition-budget question "which three dumps buy the most
    * distinct content" that per-source totals (q219's first-owner
    * attribution answers arrival order, not OPTIMIZED order) cannot:
    * the second pick must discount everything the first already
    * covers. Ties break (gain DESC, source ASC) so the sweep is
    * deterministic and the DuckDB oracle unrolls the same 3 rounds.
    *
    * Scale: the (source, shingle) DISTINCT frame is derived once and
    * cached; each round is one anti-join against the covered set +
    * one |sources|-row aggregate + a 1-row argmax to the driver —
    * round count is the budget k, never data-dependent.
    */
  def greedySourceCover(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.shingles
    val sp = Tables
      .documents(spark, dir)
      .select(col("source"), explode(shingles(col("text"), 3)).as("s"))
      .distinct()
      .cacheTracked()
    // memoized (mechanism 1): the greedy loop is ≤ 3 driver argmax
    // collects + covered counts per construction; the ≤ 3-row cover
    // table is the derive-once artifact
    graft.util.Caches.memoizedIn(spark, "greedySourceCover", Seq(sp)) {
    var covered: DataFrame = null
    var picked = List.empty[String]
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= 3 && !exhausted) {
      val fresh =
        if (covered == null) sp
        else sp.join(covered, Seq("s"), "left_anti")
      val cand =
        if (picked.isEmpty) fresh
        else fresh.filter(!col("source").isin(picked: _*))
      // a source with zero fresh shingles never appears in the gain
      // frame, so an empty argmax means NO remaining source adds
      // coverage — stop, emitting no row (the oracle's round CTE is
      // empty in exactly this case)
      // the |sources|-row gain frame is cached BEFORE the 1-row
      // argmax: deterministic plan (covered-set caches + the shingle
      // cache), so a steady-state re-run's collect reads ~20 cached
      // rows instead of re-running the round's anti-join + aggregate
      val top = cand
        .groupBy(col("source"))
        .agg(count(lit(1)).as("gain"))
        .cacheTracked()
        .orderBy(col("gain").desc, col("source").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val src = top(0).getString(0)
        val gain = top(0).getLong(1)
        picked = src :: picked
        val ownShingles = sp
          .filter(col("source") === src)
          .select(col("s"))
        covered =
          (if (covered == null) ownShingles
           else covered.unionByName(ownShingles).distinct())
            .cacheTracked()
        rows += ((r.toLong, src, gain, covered.count()))
        r += 1
      }
    }
    import spark.implicits._
    rows.toSeq.toDF("round", "source", "gain", "cum_covered")
    }
  }
}
