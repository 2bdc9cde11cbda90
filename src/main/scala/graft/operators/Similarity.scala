package graft.operators

import graft.util.Caches._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, an IVF-style
  * cluster-pruned variant as the scale path, and embedding-cosine
  * near-dup pairs.
  *
  * Vector math runs in the codegen'd `VectorMath` kernels where they
  * take the input types, and in `zip_with` + `aggregate` folds
  * elsewhere; both accumulate in double left-to-right — the same
  * accumulation the DuckDB oracle uses, so results are
  * bit-comparable.
  *
  * Scale design: the query set / centroid set is always the broadcast
  * side; the big embedding table is scanned once, never shuffled.
  * IVF assignment costs |N|·K cosines; probe cost is |cluster|·|Q| —
  * the standard pruning topology for billion-vector corpora.
  */
object Similarity {

  /** Interpreted HOF formulation — kept as the executable spec; the
    * codegen'd [[graft.functions.VectorMath.vecCosine]] (a custom
    * Catalyst expression with the same left-to-right double
    * accumulation) is what the queries use. VectorMathSpec proves the
    * two bit-identical.
    */
  def dotProductHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v
    )

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorMath.vecCosine(a, b)

  /** q239: embedding isotropy — the mean pairwise cosine of the
    * unit-normalized vectors, per label and globally (label −1),
    * WITHOUT any pairwise computation: for unit vectors,
    * mean_{i≠j} u_i·u_j = (‖Σu‖² − n) / (n(n−1)), so the whole
    * statistic reads off the per-dimension sum vector. High mean
    * cosine = anisotropic, cone-shaped embeddings (Ethayarajh 2019)
    * — retrieval and semantic-dedup thresholds (q26/q135) degrade
    * there, and q156's whitening is the fix this gauge motivates.
    *
    * Determinism: per-(label, dim) coordinate sums are rounded to 6
    * decimals (the q69 centroid convention — absorbs distributed
    * summation-order drift); the global sum vector is derived from
    * those same rounded per-label sums on both engines.
    *
    * Scale: one corpus scan → (label, dim) partial-agg cells
    * (map-side combined, |labels|·dims rows) → |labels|-row frames.
    * The corpus is never shuffled, nothing is pairwise.
    */
  def embeddingIsotropy(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .embeddings(spark, dir)
      .select(col("label").cast("long").as("label"), col("embedding"))
      .filter(graft.functions.VectorMath.vecDot(col("embedding"), col("embedding")) > 0)
    val nrm = graft.functions.VectorMath.vecNorm(col("embedding"))
    val cells = e
      .select(
        col("label"),
        posexplode(transform(col("embedding"), x => x.cast("double") / nrm))
          .as(Seq("dim", "u"))
      )
      .groupBy(col("label"), col("dim"))
      .agg(round(sum(col("u")), 6).as("s"))
    val perLabelN = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    def meanCos(ss: Column, n: Column): Column =
      round((ss - n) / (n * (n - 1)) * 1e6).cast("long")
    val perLabel = cells
      .groupBy(col("label"))
      .agg(sum(col("s") * col("s")).as("ss"))
      .join(perLabelN, "label")
    val globalRow = cells
      .groupBy(col("dim"))
      .agg(sum(col("s")).as("sg"))
      .agg(sum(col("sg") * col("sg")).as("ss"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n"))))
      .select(lit(-1L).as("label"), col("ss"), col("n"))
    perLabel
      .select(col("label"), col("ss"), col("n"))
      .unionByName(globalRow)
      .select(col("label"), col("n"), meanCos(col("ss"), col("n")).as("mean_cos_micro"))
  }

  /** q240: leave-one-out 1-NN label accuracy — the classic "are these
    * embeddings any good" probe: for each vector in a deterministic
    * eval slice (vec_id ≡ 0 mod 5), find its exact nearest neighbor
    * by cosine among ALL other vectors and score whether the
    * neighbor's label matches. Per label: eval count, hits, accuracy.
    * The supervised complement to q215/q238 — it evaluates the
    * embedding space itself, not a clustering of it.
    *
    * Scale: candidates come from the shared IVF seam ([[ivfAssign]],
    * nprobe = 1): the eval slice is a fifth of the corpus, so the old
    * broadcast-NLJ shape was corpus×corpus/5 — a scale-killer. The
    * list-keyed join costs Σ|list|·|eval∩list| and the exact top-1
    * within the probed list is a map-side partial `max` over
    * (sim, −vec_id) structs — no window, no corpus shuffle, ≤|eval|
    * rows out of the aggregate, then an |labels|-row rollup. The IVF
    * recall trade is the q244 contract; the exact NLJ twin lives in
    * the differential spec.
    */
  def nnLabelEval(spark: SparkSession, dir: String): DataFrame = {
    val lbl = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val asg = ivfAssign(spark, dir, 8).join(lbl, "vec_id")
    val ev = asg
      .filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(
        col("cid"),
        col("vec_id").as("q_id"),
        col("embedding").as("q_vec"),
        col("label").as("q_label")
      )
    val best = asg
      .join(ev, asg("cid") === ev("cid") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(
        max(
          struct(
            cosine(col("q_vec"), col("embedding")).as("sim"),
            (-col("vec_id")).as("neg_id"),
            col("label").as("nn_label")
          )
        ).as("best")
      )
    best
      .groupBy(col("q_label").as("label"))
      .agg(
        count(lit(1)).as("n_eval"),
        sum(when(col("best.nn_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_correct")
      )
      .select(
        col("label"),
        col("n_eval"),
        col("n_correct"),
        graft.functions.IntMath
          .microRatio(col("n_correct"), col("n_eval"))
          .as("acc_micro")
      )
  }

  /** q244: neighborhood label-consensus mislabel screen (the 1-NN
    * agreement idea of confident learning, k = 5): for every vector,
    * the fraction of its 5 exact nearest neighbors (cosine, self
    * excluded) sharing its label; consensus < 2/5 flags a suspect —
    * the annotation-noise screen run before a labeled set becomes
    * eval or fine-tuning data. Complements q145 (geometric outliers:
    * far from OWN centroid) — this catches points sitting INSIDE a
    * different label's neighborhood, which centroid distance misses.
    *
    * Scale: candidates come from the shared IVF seam ([[ivfAssign]],
    * the q25/q106 index): every vector searches only its OWN inverted
    * list (nprobe = 1), so the candidate join is LIST-KEYED — cost
    * Σ|list|², never the corpus×corpus nested loop. At 100 TB the
    * lists are the trained-k-means index partitions and this exact
    * plan holds; the recall trade (a true neighbor in another list is
    * unseen) is the standard IVF contract, and the exact all-pairs
    * twin lives in the differential spec, not in the shipped plan.
    * Per-vector top-5 is a bounded window over per-list candidates.
    */
  def labelConsensus(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val lbl = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val asg = ivfAssign(spark, dir, 8)
      .join(lbl, "vec_id")
    val ref = asg.select(
      col("cid"),
      col("vec_id").as("r_id"),
      col("embedding").as("r_vec"),
      col("label").as("r_label")
    )
    val w = Window
      .partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("r_id").asc)
    asg
      .join(ref, asg("cid") === ref("cid") && col("vec_id") =!= col("r_id"))
      .select(
        col("vec_id"),
        col("label"),
        col("r_id"),
        col("r_label"),
        cosine(col("embedding"), col("r_vec")).as("sim")
      )
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("vec_id"), col("label"))
      .agg(
        sum(when(col("r_label") === col("label"), 1L).otherwise(0L))
          .as("n_agree")
      )
      .select(
        col("vec_id"),
        col("label"),
        col("n_agree"),
        (col("n_agree") < 2).as("suspect")
      )
  }

  /** q260: embedding integrity audit — per label: vector count,
    * zero-norm vectors, non-finite coordinates (NaN/Inf), duplicate
    * exact vectors, and the norm envelope (min/mean/max, micro).
    * The pre-flight check before ANY index build or eval over the
    * embedding column: a failed featurizer shows up as zero vectors,
    * NaNs, or one vector repeated across many rows — all of which
    * silently corrupt IVF lists (q25/q183), cosine ranks (q24/q240),
    * and whitening stats (q156) without throwing anywhere.
    *
    * Scale: one corpus scan computing per-row scalars, one label
    * rollup; the duplicate count is a groupBy on the vector value
    * (map-side combined) — no pairwise work, no hashing round-trip.
    */
  def embeddingIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val sq = graft.functions.VectorMath.vecDot(col("embedding"), col("embedding"))
    val perRow = e.select(
      col("label"),
      col("embedding"),
      // per-row micro norm, quantized ONCE (sqrt is IEEE
      // correctly-rounded, so the double is engine-identical); all
      // downstream stats are exact integer arithmetic
      round(sqrt(sq) * 1e6).cast("long").as("nrm_micro"),
      (sq === 0.0).as("is_zero"),
      exists(col("embedding"), x => isnan(x) || abs(x) === lit(Float.PositiveInfinity))
        .as("nonfinite")
    )
    val dups = e
      .groupBy(col("label"), col("embedding"))
      .agg(count(lit(1)).as("n_copies"))
      .groupBy(col("label"))
      .agg(sum(when(col("n_copies") >= 2, col("n_copies")).otherwise(0L))
        .as("n_dup_vectors"))
    perRow
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("is_zero"), 1L).otherwise(0L)).as("n_zero_norm"),
        sum(when(col("nonfinite"), 1L).otherwise(0L)).as("n_nonfinite"),
        min(col("nrm_micro")).as("min_norm_micro"),
        // integer mean of the per-row micro norms: a float mean is
        // summation-order-dependent (round-9 seam)
        graft.functions.IntMath
          .idivHalfUp(sum(col("nrm_micro")), count(lit(1)))
          .as("mean_norm_micro"),
        max(col("nrm_micro")).as("max_norm_micro")
      )
      .join(dups, "label")
      .select(
        col("label"),
        col("n_vecs"),
        col("n_zero_norm"),
        col("n_nonfinite"),
        col("n_dup_vectors"),
        col("min_norm_micro"),
        col("mean_norm_micro"),
        col("max_norm_micro")
      )
  }

  /** q241: top principal component by fixed-round power iteration —
    * covariance-free distributed PCA-1: v ← Σ_i x̃_i (x̃_i·v) / n,
    * renormalized each round, starting from the deterministic
    * v₀ = 1/√D. Emits the round-`rounds` iterate per dimension plus
    * the Rayleigh eigenvalue λ = Σ(x̃·v)²/n and its share of total
    * variance. The dominant-direction probe behind q156's whitening
    * and the anisotropy q239 flags: a large share means one axis
    * carries the space (rogue-dimension pathology).
    *
    * The covariance matrix (D², fine at D=64 but 10¹² cells at
    * D=10⁶) is never formed: each round is two matvec passes —
    * (1) s_i = x̃_i·v with v broadcast (one corpus-cell scan, no
    * shuffle), (2) z = Σ s_i·x̃_i as a dim-keyed partial agg — the
    * standard scale topology for tall-skinny PCA.
    *
    * Determinism (the kmeans convention): μ, every per-vector dot,
    * every per-dim sum, and each normalized coordinate are rounded
    * to 6 decimals round-by-round, absorbing distributed
    * summation-order drift; the D-row v frame is a lazy tracked
    * cache per round (deterministic lineage).
    */
  def pc1Power(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    val e = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // Memoized + checkpointed (mechanism 1): each round's normalizer
    // references its own z twice, so the ANALYZED tree doubles per
    // round (2989 nodes at 4 rounds, ~0.5 s driver re-analysis per
    // pass) even with the per-round caches hitting. The D-row
    // eigenvector table is the derive-once artifact.
    graft.util.Caches.memoizedIn(spark, s"pc1Power:$rounds", Seq(e)) {
      pc1PowerUncached(spark, e, rounds).localCheckpoint()
    }
  }

  private def pc1PowerUncached(
      spark: SparkSession,
      e: DataFrame,
      rounds: Int
  ): DataFrame = {
    val exploded = e.select(
      col("vec_id"),
      posexplode(col("embedding")).as(Seq("dim", "x"))
    )
    val mu = exploded
      .groupBy(col("dim"))
      .agg(round(avg(col("x").cast("double")), 6).as("m"))
    val cells = exploded
      .join(broadcast(mu), "dim")
      .select(
        col("vec_id"),
        col("dim"),
        (col("x").cast("double") - col("m")).as("xc")
      )
      .cacheTracked()
    val nF = broadcast(e.agg(count(lit(1)).as("n")))
    val dF = broadcast(mu.agg(count(lit(1)).as("dd")))
    var v = mu
      .select(col("dim"))
      .crossJoin(dF)
      .select(col("dim"), round(lit(1.0) / sqrt(col("dd")), 6).as("v"))
      .cacheTracked()
    def dots(vf: DataFrame): DataFrame = cells
      .join(broadcast(vf), "dim")
      .groupBy(col("vec_id"))
      .agg(round(sum(col("xc") * col("v")), 6).as("s"))
    for (_ <- 1 to rounds) {
      val z = cells
        .join(dots(v), "vec_id")
        .groupBy(col("dim"))
        .agg(sum(col("s") * col("xc")).as("zs"))
        .crossJoin(nF)
        .select(col("dim"), round(col("zs") / col("n"), 6).as("z"))
      val nrm = broadcast(z.agg(sum(col("z") * col("z")).as("zz")))
      // lazy tracked cache per round (fixed round count; the final
      // consumer action materializes the chain, and a steady-state
      // re-run reads the cached rounds — round-13 determinism sweep)
      v = z
        .crossJoin(nrm)
        .select(col("dim"), round(col("z") / sqrt(col("zz")), 6).as("v"))
        .cacheTracked()
    }
    val sF = dots(v)
    val lambdaF = broadcast(
      sF.agg(sum(col("s") * col("s")).as("ssum"))
        .crossJoin(nF)
        .select((col("ssum") / col("n")).as("lambda"))
    )
    val totF = broadcast(
      cells
        .agg(sum(col("xc") * col("xc")).as("xx"))
        .crossJoin(nF)
        .select((col("xx") / col("n")).as("totvar"))
    )
    v.crossJoin(lambdaF)
      .crossJoin(totF)
      .select(
        col("dim"),
        col("v").as("pc1"),
        round(col("lambda") * 1e6).cast("long").as("lambda_micro"),
        round(col("lambda") / col("totvar") * 1e6)
          .cast("long")
          .as("var_share_micro")
      )
  }

  /** q242: rank-biased overlap (Webber et al. 2010, truncated head
    * weights) between the EXACT cosine top-5 and the IVF probe-2
    * top-5 for the same query slice — the rank-aware ANN-fidelity
    * gauge next to plain recall: RBO@k = (1−p) Σ_{d≤k} p^{d−1}·A_d
    * with A_d the overlap fraction of the two depth-d prefixes and
    * p = 0.9, so losing the rank-1 neighbor costs more than losing
    * the rank-5 one. Per query: the overlap at full depth and the
    * RBO score in micro-units.
    *
    * Scale: both rankings are the audited q24/q106 plans (broadcast
    * query side, one corpus scan each); the agreement join touches
    * only the two k-row-per-query rank lists, and the depth explode
    * is k literals.
    */
  def rankAgreementRbo(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val p = 0.9
    val e = Tables.embeddings(spark, dir)
    val q = e
      .filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val wq = Window
      .partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val exact = e
      .join(broadcast(q))
      .select(
        col("q_id"),
        col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim")
      )
      .withColumn("rk_a", row_number().over(wq))
      .filter(col("rk_a") <= k)
      .select(col("q_id"), col("vec_id"), col("rk_a"))
    val approx = ivfTopKProbe(spark, dir)
      .select(col("q_id"), col("vec_id"), col("rk").as("rk_b"))
    val joined = exact
      .join(approx, Seq("q_id", "vec_id"), "full_outer")
    val depths = explode(lit((1 to k).toArray)).as("d")
    val weights = (1 to k).map(d => math.pow(p, d - 1) * (1 - p))
    val wExpr = element_at(lit(weights.toArray), col("d"))
    val scored = joined
      .select(col("q_id"), col("rk_a"), col("rk_b"), depths)
      .filter(col("rk_a") <= col("d") && col("rk_b") <= col("d"))
      .groupBy(col("q_id"), col("d"))
      .agg(count(lit(1)).as("a_d"))
      .groupBy(col("q_id"))
      .agg(
        max(when(col("d") === k, col("a_d"))).as("overlap_k"),
        round(sum(wExpr * col("a_d") / col("d")) * 1e6)
          .cast("long")
          .as("rbo_micro")
      )
    // zero-overlap queries vanish from the agg — restore them with 0s
    q.select(col("q_id"))
      .join(scored, Seq("q_id"), "left_outer")
      .select(
        col("q_id"),
        coalesce(col("overlap_k"), lit(0L)).as("overlap_k"),
        coalesce(col("rbo_micro"), lit(0L)).as("rbo_micro")
      )
  }

  /** q24: brute-force cosine top-10 per query vector (queries =
    * vec_id<5, broadcast). Exact ANN baseline: one scan of the corpus,
    * per-partition top-k heaps via the rank-filter window.
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = e
      .join(broadcast(q))
      .select(
        col("q_id"),
        col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim")
      )
    val w = Window
      .partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
        col("rk"))
  }

  /** q491: dimension-truncation recall audit (the Matryoshka
    * question — Kusupati et al., NeurIPS 2022): for prefix widths
    * d ∈ {8, 16, 32, 64}, the brute-force cosine top-10 of every
    * 25th vector over the FIRST d dimensions is compared to the
    * full-width ground truth, emitting per width (n_queries,
    * n_overlap, recall_ppm). This is the evidence table for the
    * single biggest ANN cost lever at 100 TB — a 4× prefix
    * truncation cuts scan bytes, cache pressure and dot-product
    * FLOPs 4× — read BEFORE committing an index width; the d = 64
    * row is the identity sanity check (recall exactly 10⁶).
    *
    * Determinism: ranking is (sim DESC, vec_id ASC) per (width,
    * query) — the q24/q240 proven raw-double ranking convention;
    * the emission is pure counts + one microRatio.
    *
    * Scale: ONE corpus scan computes all four prefix cosines per
    * (query, vector) pair (a 4-struct explode, queries broadcast),
    * instead of four scans; the rank window is partitioned by
    * (width, query) — never global. Self-pairs are excluded so the
    * trivial sim-1.0 hit can't pad recall.
    */
  def dimTruncationRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val dims = Seq(8, 16, 32, 64)
    val e = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val q = e
      .filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = e
      .join(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("vec_id"),
        explode(
          array(
            dims.map(d =>
              struct(
                lit(d.toLong).as("trunc_dim"),
                cosine(
                  slice(col("q_vec"), 1, d),
                  slice(col("embedding"), 1, d)
                ).as("sim")
              )): _*
          )
        ).as("c")
      )
      .select(
        col("q_id"),
        col("vec_id"),
        col("c.trunc_dim").as("trunc_dim"),
        col("c.sim").as("sim")
      )
    val w = Window
      .partitionBy(col("trunc_dim"), col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    // read once per width for the overlap probe + once as ground truth
    val top = scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("trunc_dim"), col("q_id"), col("vec_id"))
      .cacheTracked()
    val gt = top
      .filter(col("trunc_dim") === 64L)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    top
      .join(gt, Seq("q_id", "vec_id"), "left")
      .groupBy(col("trunc_dim"))
      .agg(
        countDistinct(col("q_id")).as("n_queries"),
        coalesce(sum(col("hit")), lit(0L)).as("n_overlap"),
        count(lit(1)).as("n_ranked")
      )
      .select(
        col("trunc_dim"),
        col("n_queries"),
        col("n_overlap"),
        microRatio(col("n_overlap"), col("n_ranked")).as("recall_ppm")
      )
  }

  /** Cluster assignment: nearest of the K centroid vectors (vec_id<k,
    * a deterministic stand-in for trained k-means centroids).
    */
  def ivfAssign(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = e
      .filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("c_vec"))
    // argmax as one hash aggregation (max over (csim, -cid) struct ≡
    // rank-1 of ORDER BY csim DESC, cid ASC) — no window sort, one
    // shuffle, partial-aggregated map-side
    e.join(broadcast(cents))
      .select(
        col("vec_id"),
        col("embedding"),
        struct(
          cosine(col("c_vec"), col("embedding")).as("csim"),
          (-col("cid")).as("neg_cid"),
          col("cid").as("cid")
        ).as("scored")
      )
      .groupBy(col("vec_id"))
      .agg(
        first(col("embedding")).as("embedding"),
        max(col("scored")).as("best")
      )
      .select(col("vec_id"), col("embedding"), col("best.cid").as("cid"))
      // ivfTopK probes this as both query side and candidate side;
      // cache so assignment (N·K cosines) runs once
      .cacheTracked()
  }

  /** q25: IVF-pruned ANN — top-5 per query (queries = vec_id<3)
    * searching only the query's own cluster (nprobe=1). The pruned
    * counterpart of [[cosineTopK]]: probe cost |cluster| instead of
    * |corpus|.
    */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssign(spark, dir, 8)
    val q = assigned
      .filter(col("vec_id") < 3)
      .select(
        col("vec_id").as("q_id"),
        col("embedding").as("q_vec"),
        col("cid")
      )
    val w = Window
      .partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    assigned
      .join(broadcast(q), Seq("cid"))
      .select(
        col("q_id"),
        col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim")
      )
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
        col("rk"))
  }

  /** q106: multi-probe IVF — each query searches its `nprobe` nearest
    * clusters instead of one. Probe-1 (q25) misses neighbors that
    * fall just across a Voronoi boundary from the query; probing the
    * runner-up cluster recovers most of them for 2× the probe cost —
    * still |2 clusters|·|Q| vs the brute-force |corpus|·|Q|. The
    * candidate set is a strict superset of q25's, so recall can only
    * improve (pinned by spec).
    */
  def ivfTopKProbe(
      spark: SparkSession,
      dir: String,
      nprobe: Int = 2,
      k: Int = 8
  ): DataFrame = {
    // ONE k drives both the corpus assignment and the probe-ranking
    // centroid set — diverging literals would rank queries against
    // centroids that don't match the inverted lists
    val assigned = ivfAssign(spark, dir, k)
    val e = Tables.embeddings(spark, dir)
    val cents = e
      .filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("c_vec"))
    val wq = Window
      .partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = e
      .filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .join(broadcast(cents))
      .select(
        col("q_id"),
        col("q_vec"),
        col("cid"),
        cosine(col("c_vec"), col("q_vec")).as("csim")
      )
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("cid"))
    val w = Window
      .partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    assigned
      .join(broadcast(probes), Seq("cid"))
      .select(
        col("q_id"),
        col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim")
      )
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
        col("rk"))
  }

  /** q26: embedding-cosine near-dup pairs (sim > 0.4), uncapped:
    * candidates come from banded sign-LSH (4 bands × 4 hyperplanes →
    * 16 codes per band) and are exact-verified with the cosine
    * threshold — in-bucket collision cost, never |corpus|². Recall
    * follows the LSH OR-amplification curve: moderate at the 0.4
    * audit threshold, ≥95% in the ≥0.9 regime an embedding dedup
    * actually targets (per-plane agreement p = 1 − θ/π ⇒ pair recall
    * 1 − (1 − p⁴)⁴); the DuckDB oracle replays the banded generation
    * exactly, so the gate checks the real plan. The vector fetch for
    * verification is an equi-join on vec_id (AQE broadcasts the
    * small side at bench scale; at corpus scale it's a key shuffle).
    */
  def embeddingNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    lshVerifiedPairs(spark, dir)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim"))

  /** q192: embedding-space benchmark decontamination — the third leg
    * of the decontamination triad (shingle overlap q73, Bloom screen
    * q137, retrieval q133 work on TEXT): flag training vectors whose
    * embedding is near-identical to an eval-set vector, catching
    * paraphrased contamination that exact n-gram methods miss. Eval
    * set = vec_id ≡ 0 mod 50 (stands in for the benchmark's
    * embedded examples).
    *
    * Scale: candidates come from the same banded sign-LSH codes as
    * q26, but the band join is CROSS-SET (corpus codes × eval codes)
    * — cost ∝ collisions with the tiny eval side, never
    * |corpus|×|eval|; verification is exact cosine on the candidate
    * pairs only; the per-vector report is a struct-argmax aggregate.
    */
  def embeddingDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val b = lshBandCodes(spark, dir, None, planesPerBand = 4)
      .select(col("vec_id"), col("band"), col("code"))
      .cacheTracked()
    val corpus = b.filter(pmod(col("vec_id"), lit(50)) =!= 0)
    val evalSide = b
      .filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("eval_id"), col("band"), col("code"))
    val pairs = corpus
      .join(evalSide, Seq("band", "code"))
      .select(col("vec_id"), col("eval_id"))
      .distinct()
    val e = Tables.embeddings(spark, dir)
    pairs
      .join(e.select(col("vec_id"), col("embedding").as("ec")), Seq("vec_id"))
      .join(
        e.select(col("vec_id").as("eval_id"), col("embedding").as("ee")),
        Seq("eval_id")
      )
      .select(
        col("vec_id"),
        col("eval_id"),
        cosine(col("ec"), col("ee")).as("sim")
      )
      .filter(col("sim") > 0.4)
      .groupBy(col("vec_id"))
      .agg(
        count(lit(1)).as("n_matches"),
        max(struct(col("sim"), col("eval_id"))).as("best")
      )
      .select(
        col("vec_id"),
        col("n_matches"),
        col("best.eval_id").as("best_eval_id"),
        round(col("best.sim"), 6).as("best_sim")
      )
  }

  /** q69: per-label embedding centroids — element-wise mean over the
    * vector column, the building block for k-means/IVF training and
    * class prototypes. Distributed shape: posexplode → per-(label,
    * dim) partial-aggregated avg (map-side combine, shuffle carries
    * one row per label×dim, NOT per vector). The gated query keeps
    * the flat (label, dim, value) form; [[labelCentroidVectors]]
    * re-assembles the vectors for API consumers.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(
        round(avg(col("x").cast("double")), 6).as("centroid_val"),
        count(lit(1)).as("n_vecs")
      )

  /** The vector form of [[labelCentroids]]: one `array<double>`
    * centroid per label, assembled ordered-by-dim with a tiny
    * per-label sort (|dims| elements), no collect.
    */
  def labelCentroidVectors(spark: SparkSession, dir: String): DataFrame =
    labelCentroids(spark, dir)
      .groupBy(col("label"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("centroid_val")))),
          s => s.getField("centroid_val")
        ).as("centroid"),
        max(col("n_vecs")).as("n_vecs")
      )

  /** Banded sign-LSH codes: `numBands` bands × `planesPerBand` sign
    * bits per band. Per band the code is the concatenated dot-product
    * sign bits; a pair is a candidate if it matches in ANY band (the
    * OR-amplification that makes LSH recall tunable: per-plane
    * agreement p gives per-band p^b and overall 1-(1-p^b)^B — a
    * single wide code has p^16 ≈ no recall at moderate similarity).
    * More planes per band → smaller buckets (collision cost ↓) at
    * the cost of per-band recall — the standard LSH tuning knob.
    * The coding pass is in-row (zero shuffle); the planes ride along
    * as one broadcast row. Hyperplanes are corpus vectors
    * 100..(100+bands·planes−1), chosen deterministically so the
    * DuckDB oracle can replay them; production would draw random
    * Gaussian planes. `bound` subsets the coded vectors for
    * workload-style probes; the gated queries pass None (uncapped).
    */
  def lshBandCodes(
      spark: SparkSession,
      dir: String,
      bound: Option[Int],
      planesPerBand: Int,
      numBands: Int = 4
  ): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val nPlanes = planesPerBand * numBands
    val planes = e
      .filter(col("vec_id") >= 100 && col("vec_id") < 100 + nPlanes)
      .agg(
        transform(
          array_sort(collect_list(struct(col("vec_id").as("v"),
            col("embedding").as("emb")))),
          s => s.getField("emb")
        ).as("planes")
      )
    e.filter(bound.map(lim => col("vec_id") < lim).getOrElse(lit(true)))
      .crossJoin(broadcast(planes))
      .select(
        col("vec_id"),
        col("embedding"),
        explode(
          transform(
            sequence(lit(0), lit(numBands - 1)),
            b => struct(
              b.as("band"),
              array_join(
                transform(
                  slice(col("planes"), b * planesPerBand + 1,
                    lit(planesPerBand)),
                  p => when(graft.functions.VectorMath
                      .vecDot(p, col("embedding")) >= 0, "1")
                    .otherwise("0")
                ),
                ""
              ).as("code")
            )
          )
        ).as("bk")
      )
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.code").as("code"))
  }

  /** q70: LSH-banded near-dup pairs with per-pair band-recall counts
    * — q26's banded generation (the same uncapped 4-band × 4-plane
    * coder) plus how many bands recalled each candidate, the recall
    * diagnostic an LSH tuning pass reads. Candidates are generated
    * only within equal (band, code) buckets (collision-linear, never
    * n²), the cross-band dedup doubles as the n_shared_bands count,
    * then exact cosine verification applies the same threshold. The
    * vector fetch is an equi-join on vec_id (AQE broadcasts the
    * small side at bench scale; at corpus scale it's a key shuffle).
    */
  def lshNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    lshVerifiedPairs(spark, dir)
      .select(col("vec_a"), col("vec_b"), col("n_shared_bands"),
        round(col("sim"), 6).as("sim"))

  /** The banded sign-LSH candidate → exact-cosine-verify engine shared
    * by q70 (keeps the shared-band count) and q26 (drops it): one
    * cached code frame, one band self-join, one vector-fetch verify.
    * Returns (vec_a, vec_b, n_shared_bands, sim) with sim UNROUNDED
    * and already > 0.4.
    */
  private def lshVerifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    // both sides of the band self-join read the codes; cache so the
    // sign-coding pass (16 dot products per vector) runs once
    val b = lshBandCodes(spark, dir, None, planesPerBand = 4)
      .select(col("vec_id"), col("band"), col("code"))
      .cacheTracked()
    val a = b.select(col("vec_id").as("vec_a"), col("band"), col("code"))
    val c = b.select(col("vec_id").as("vec_b"), col("band"), col("code"))
    val pairs = a
      .join(c, Seq("band", "code"))
      .filter(col("vec_a") < col("vec_b"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    val e = Tables.embeddings(spark, dir)
    pairs
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        Seq("vec_b"))
      .select(
        col("vec_a"),
        col("vec_b"),
        col("n_shared_bands"),
        cosine(col("ea"), col("eb")).as("sim")
      )
      .filter(col("sim") > 0.4)
  }

  /** q94: int8 scalar quantization of the embedding column with its
    * reconstruction-error audit — the 4×-memory-compression step a
    * billion-vector ANN index applies before anything else (float32 →
    * uint8 codes against per-dimension global min/max).
    *
    * code = round((x − mn_d) / (mx_d − mn_d) · 255); dequant back and
    * report per-vector RMSE + max abs error. min/max over floats are
    * order-independent (exact at any partitioning); the error
    * aggregates are rounded to 6.
    *
    * Scale: the per-dim stats are one partially-aggregated shuffle of
    * dims·partitions cells → a dims-row frame broadcast back; the
    * corpus is scanned, never shuffled, for the coding pass itself.
    */
  def int8QuantError(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
    val stats = cells
      .groupBy(col("dim"))
      .agg(
        min(col("x")).cast("double").as("mn"),
        max(col("x")).cast("double").as("mx")
      )
    val xd = col("x").cast("double")
    val code = when(
      col("mx") > col("mn"),
      round((xd - col("mn")) / (col("mx") - col("mn")) * 255.0, 0).cast("int")
    ).otherwise(lit(0))
    val dq = col("mn") + col("code").cast("double") / 255.0 * (col("mx") - col("mn"))
    val err = xd - dq
    cells
      .join(broadcast(stats), "dim")
      .withColumn("code", code)
      .withColumn("err", err)
      .groupBy(col("vec_id"))
      .agg(
        round(sqrt(avg(col("err") * col("err"))), 6).as("rmse"),
        round(max(abs(col("err"))), 6).as("max_abs_err")
      )
  }

  /** q264: quantization-width sweep — q94's per-dimension affine
    * quantizer evaluated at 2/4/8 bits in one pass: per width, the
    * corpus MSE, the worst absolute error, and the SNR
    * (signal variance / MSE, micro-units). The bits-per-coordinate
    * decision sheet for index compression: SNR halves per bit
    * dropped ≈ 6 dB/bit; where the curve knees is where the ANN
    * recall (q106) starts paying for memory savings.
    *
    * Scale: one (dim) min/max pass, then one cell scan × 3 literal
    * widths with map-side partial aggs — output is 3 rows.
    */
  def quantizationSweep(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
    val stats = cells
      .groupBy(col("dim"))
      .agg(
        min(col("x")).cast("double").as("mn"),
        max(col("x")).cast("double").as("mx")
      )
    val xd = col("x").cast("double")
    val levels = (col("shift").cast("double"))
    val code = when(
      col("mx") > col("mn"),
      round((xd - col("mn")) / (col("mx") - col("mn")) * levels, 0)
    ).otherwise(lit(0.0))
    val dq = col("mn") + code / levels * (col("mx") - col("mn"))
    val err = xd - dq
    val varTot = broadcast(
      cells
        .agg(
          count(lit(1)).as("nc"),
          sum(xd).as("sx"),
          sum(xd * xd).as("sx2")
        )
        .select(
          ((col("sx2") - col("sx") * col("sx") / col("nc")) / col("nc"))
            .as("varx")
        )
    )
    cells
      .join(broadcast(stats), "dim")
      .select(
        col("x"),
        col("mn"),
        col("mx"),
        explode(lit(Array(3L, 15L, 255L))).as("shift")
      )
      .withColumn("e", err)
      .groupBy(col("shift"))
      .agg(
        avg(col("e") * col("e")).as("mse"),
        max(abs(col("e"))).as("mae")
      )
      .crossJoin(varTot)
      .select(
        when(col("shift") === 3L, 2L)
          .when(col("shift") === 15L, 4L)
          .otherwise(8L)
          .as("bits"),
        round(col("mse") * 1e9).cast("long").as("mse_nano"),
        round(col("mae") * 1e6).cast("long").as("max_abs_err_micro"),
        round(col("varx") / col("mse") * 1e3).cast("long").as("snr_milli")
      )
  }

  /** q265: IVF recall-vs-nprobe curve — exact recall@5 of the q106
    * probe topology at nprobe ∈ {1,2,3,4}, in one pass: a candidate
    * from centroid-rank crk participates in every probe depth ≥ crk,
    * so one explode covers the whole sweep. The index-tuning sheet:
    * where the curve saturates is the cheapest nprobe that matches
    * brute force, and q242's RBO tells you what the residual misses
    * cost in rank terms. Recall counts are exact integers.
    *
    * Scale: the queries/centroids are broadcast; the corpus is
    * scanned once for assignment (the cached q25 frame at session
    * level), candidates ∝ probed-list sizes × 4 probe depths; the
    * exact baseline is the audited q24 plan at depth 5.
    */
  def recallVsProbe(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val depth = 5
    val e = Tables.embeddings(spark, dir)
    val q = e
      .filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val wq = Window
      .partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val exact = e
      .join(broadcast(q))
      .select(
        col("q_id"),
        col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim")
      )
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= depth)
      .select(col("q_id"), col("vec_id"))
    val cents = e
      .filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("c_vec"))
    val wc = Window
      .partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = q
      .join(broadcast(cents))
      .select(
        col("q_id"),
        col("q_vec"),
        col("cid"),
        cosine(col("c_vec"), col("q_vec")).as("csim")
      )
      .withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= 4)
      .select(col("q_id"), col("q_vec"), col("cid"), col("crk"))
    val wnp = Window
      .partitionBy(col("q_id"), col("np"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val approx = ivfAssign(spark, dir, k)
      .join(broadcast(probes), Seq("cid"))
      .select(
        col("q_id"),
        col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim"),
        explode(sequence(col("crk"), lit(4))).as("np")
      )
      .withColumn("rk", row_number().over(wnp))
      .filter(col("rk") <= depth)
    val nq = broadcast(q.agg(count(lit(1)).as("nq")))
    approx
      .join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("np"))
      .agg(count(lit(1)).as("n_matches"))
      .crossJoin(nq)
      .select(
        col("np").cast("long").as("nprobe"),
        col("n_matches"),
        graft.functions.IntMath
          .microRatio(col("n_matches"), col("nq") * depth)
          .as("recall_ppm")
      )
  }

  /** q278: pairwise-cosine distribution histogram — the "shape of
    * the space" diagnostic, from DETERMINISTIC LATTICE pairs
    * (vec_id, vec_id+stride) at strides 1..16 instead of O(n²)
    * sampling: for id-shuffled corpora the lattice is an unbiased
    * pair sample, 16n pairs, linear. 20 equal bins over [−1, 1] with
    * counts and shares. Read with q239: a histogram bulked above 0
    * is the anisotropy cone; mass near 1 predicts how hard q26's
    * thresholds and q135's dedup will fire.
    *
    * Scale: one self-join per stride on vec_id+stride (equi-join,
    * co-partitioned), exact integer bin counts.
    */
  def cosineHistogram(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e
      .select(
        col("vec_id"),
        col("embedding").as("ea"),
        explode(lit((1 to 16).toArray)).as("s")
      )
      .withColumn("other", col("vec_id") + col("s"))
    val pairs = a.join(
      e.select(col("vec_id").as("other"), col("embedding").as("eb")),
      Seq("other")
    )
    val c = cosine(col("ea"), col("eb"))
    val bin = least(floor((c + 1.0) / 2.0 * 20).cast("long"), lit(19L))
    val binned = pairs
      .select(bin.as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
    val tot = broadcast(binned.agg(sum(col("n_pairs")).as("tot")))
    binned
      .crossJoin(tot)
      .select(
        col("bin"),
        round(lit(-1.0) + col("bin") * 0.1, 1).as("bin_lo"),
        col("n_pairs"),
        graft.functions.IntMath.microRatio(col("n_pairs"), col("tot"))
          .as("share_ppm")
      )
  }

  /** q128: product quantization with asymmetric-distance (ADC) top-k
    * — the IVF-PQ coding layer of a billion-vector ANN index (Jégou
    * et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011). The 64-dim vectors are split into `m`=4 16-dim
    * subspaces; each subspace trains its own k=16 codebook
    * (deterministic init = the k lowest vec_ids' subvectors, one
    * Lloyd round via [[Clustering.assign]]/[[Clustering.update]] —
    * the same contract the q93 oracle replays); every vector is
    * encoded to 4 code columns (4 bytes replacing 256 float bytes).
    *
    * Query scoring is pure ADC: per query a (subspace, code) →
    * squared-distance lookup table of m·k rows is computed against
    * the codebooks and broadcast; candidate distance = the sum of 4
    * table lookups — no full-vector math at query time. The exact
    * squared distance joins in as the recall audit column.
    *
    * Scale: the corpus is scanned for encoding and never shuffled on
    * vector payloads afterwards (codes travel, vectors don't); LUTs
    * are broadcast; the rank ≤ k filter over the per-query window is
    * rewritten by Spark's WindowGroupLimit to per-partition top-k
    * before the exchange, so no query partition ever materializes
    * the full corpus sorted.
    */
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val m = 4; val subDim = 16; val k = 16
    val nQueries = 5; val topK = 10
    val e = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .cacheTracked()
    // All m subspaces in ONE frame keyed by subspace id `b` — one
    // corpus pass emits every (b, vec_id, subvector) cell, and the
    // Lloyd round / encode / LUT stages below each run ONCE over the
    // keyed frame instead of m sequential per-subspace job chains
    // (the per-subspace math is unchanged: every aggregate and argmin
    // below carries `b` in its grouping key).
    val subs = e
      .select(
        col("vec_id"),
        explode(
          transform(
            sequence(lit(0), lit(m - 1)),
            b =>
              struct(
                b.as("b"),
                slice(col("embedding"), b * subDim + 1, lit(subDim)).as("sub")
              )
          )
        ).as("s")
      )
      .select(col("s.b").as("b"), col("vec_id"), col("s.sub").as("sub"))
      .cacheTracked()
    def sqd(x: Column, c: Column): Column =
      graft.functions.VectorMath.vecSqDist(x, c)
    // deterministic init: cluster c of subspace b = the subvector of
    // the (c+1)-th lowest vec_id (identical to the per-subspace
    // orderBy/limit/row_number init)
    val init = subs
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy(col("b")).orderBy(col("vec_id")))
      )
      .filter(col("rn") <= k)
      .select(
        col("b"),
        (col("rn") - 1).as("cluster"),
        transform(col("sub"), x => x.cast("double")).as("c_vec")
      )
    def assign(cent: DataFrame): DataFrame =
      subs
        .join(broadcast(cent), Seq("b"))
        .select(
          col("b"),
          col("vec_id"),
          col("cluster"),
          sqd(col("sub"), col("c_vec")).as("dist")
        )
        .groupBy(col("b"), col("vec_id"))
        .agg(min(struct(col("dist"), col("cluster"))).as("best"))
        .select(
          col("b"),
          col("vec_id"),
          col("best.cluster").as("cluster")
        )
    // one Lloyd round: dim-wise mean per (b, cluster), exploded to
    // cells so the shuffle carries partial sums, never raw vectors
    val cent = subs
      .join(assign(init), Seq("b", "vec_id"))
      .select(
        col("b"),
        col("cluster"),
        posexplode(col("sub")).as(Seq("dim", "x"))
      )
      .groupBy(col("b"), col("cluster"), col("dim"))
      .agg(round(avg(col("x").cast("double")), 6).as("v"))
      .groupBy(col("b"), col("cluster"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("v")))),
          s => s.getField("v")
        ).as("c_vec")
      )
    // m*k bounded codebook rows -> literal (deterministic consumers,
    // literal broadcasts; see graft.util.SmallModel)
    val centLocal = graft.util.SmallModel.toLocal(cent, "b", "cluster")
    // encode: final assignment, pivoted to one code column per
    // subspace in a single aggregation (no m-way self-join)
    val codeCols = (0 until m).map(b =>
      max(when(col("b") === b, col("cluster"))).as(s"c$b"))
    val packed = assign(centLocal)
      .groupBy(col("vec_id"))
      .agg(codeCols.head, codeCols.tail: _*)
    val lutAll = subs
      .filter(col("vec_id") < nQueries)
      .join(broadcast(centLocal), Seq("b"))
      .select(
        col("b"),
        col("vec_id").as("query_id"),
        col("cluster"),
        sqd(col("sub"), col("c_vec")).as("d")
      )
      .cacheTracked()
    def lut(b: Int): DataFrame = lutAll
      .filter(col("b") === b)
      .select(
        col("query_id"),
        col("cluster").as(s"c$b"),
        col("d").as(s"d$b")
      )
    var adc = packed.join(broadcast(lut(0)), Seq("c0"))
    for (b <- 1 until m)
      adc = adc.join(broadcast(lut(b)), Seq("query_id", s"c$b"))
    val adcScore = (1 until m)
      .map(b => col(s"d$b"))
      .foldLeft(col("d0"))(_ + _)
    val qs = e
      .filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("qe")
      )
    val exact = e
      .crossJoin(broadcast(qs))
      .select(
        col("query_id"),
        col("vec_id"),
        graft.functions.VectorMath
          .vecSqDist(col("embedding"), col("qe"))
          .as("exact_dist")
      )
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    adc
      .select(col("query_id"), col("vec_id"), round(adcScore, 6).as("adc"))
      .join(exact, Seq("query_id", "vec_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(
        col("query_id"),
        col("vec_id"),
        col("rank"),
        col("adc"),
        round(col("exact_dist"), 6).as("exact_dist")
      )
  }

  /** q139: hard-negative mining for contrastive embedding training
    * (the hard-negative selection of Karpukhin et al., "Dense Passage
    * Retrieval for Open-Domain Question Answering", EMNLP 2020 §3.2):
    * for each anchor vector (vec_id % 100 == 0), the top-3 most-
    * cosine-similar vectors carrying a DIFFERENT label — close in
    * embedding space, known-different in class, the negatives that
    * actually move a contrastive loss.
    *
    * Exact by construction: broadcast anchors × one corpus scan
    * (BroadcastNestedLoopJoin over the tiny anchor frame), per-anchor
    * rank via the top-k window (WindowGroupLimit partial heaps). At
    * 100 TB the scan side swaps to the IVF / PQ candidate generators
    * (`ivfTopKProbe` / [[pqAdcTopK]]) with this same
    * label-filter + rank tail.
    */
  def hardNegatives(
      spark: SparkSession,
      dir: String,
      topK: Int = 3
  ): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val anchors = e
      .filter(col("vec_id") % 100 === 0)
      .select(
        col("vec_id").as("anchor_id"),
        col("label").as("anchor_label"),
        col("embedding").as("a_vec")
      )
    val scored = e
      .join(
        broadcast(anchors),
        col("vec_id") =!= col("anchor_id") &&
          col("label") =!= col("anchor_label")
      )
      .select(
        col("anchor_id"),
        col("vec_id"),
        cosine(col("a_vec"), col("embedding")).as("sim")
      )
    val w = Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(
        col("anchor_id"),
        col("vec_id").as("neg_id"),
        round(col("sim"), 6).as("sim"),
        col("rank")
      )
  }

  /** q141: Johnson-Lindenstrauss random projection with a distortion
    * audit (Johnson & Lindenstrauss 1984; the database-friendly ±1
    * construction of Achlioptas, "Database-friendly random
    * projections", PODS 2001): 64-dim embeddings project to 16 dims
    * through the deterministic md5-seeded sign matrix R
    * (y = Rx / √16, R_ij ∈ {±1} from hash60("jl:i:j") mod 2), then
    * the JL guarantee is measured on an anchor pair slice as the
    * squared-distance distortion d²_proj / d²_orig.
    *
    * Scale: R derives from the hash — no trained state, no
    * driver-side matrix; it is evaluated ONCE on a broadcast one-row
    * frame (1,024 md5 calls total, not per corpus row) and the
    * projection is then a per-row fold (embarrassingly parallel,
    * ZERO shuffles), so downstream ANN / semantic-dedup stages pay
    * their pair joins on 4× fewer dims. The audit join broadcasts
    * the 1% anchor slice against the 4% probe slice — never
    * corpus × corpus.
    */
  def jlProjectDistortion(
      spark: SparkSession,
      dir: String,
      outDim: Int = 16,
      inDim: Int = 64
  ): DataFrame = {
    val rmat = transform(
      sequence(lit(0), lit(outDim - 1)),
      j =>
        transform(
          sequence(lit(0), lit(inDim - 1)),
          i =>
            when(
              graft.functions.TextFunctions.hash60(
                concat(
                  lit("jl:"),
                  i.cast("string"),
                  lit(":"),
                  j.cast("string")
                )
              ) % 2 === 0,
              lit(1.0)
            ).otherwise(lit(-1.0))
        )
    )
    val scale = lit(math.sqrt(outDim.toDouble))
    // evaluate the sign matrix once on a one-row frame; the broadcast
    // cross join ships the 16×64 literal, not 1,024 hashes per row
    val rframe = spark.range(1).select(rmat.as("rmat"))
    def project(slice: DataFrame, suffix: String): DataFrame =
      slice
        .crossJoin(broadcast(rframe))
        .select(
          col("vec_id").as(s"vec_$suffix"),
          col("embedding").as(s"e$suffix"),
          transform(
            col("rmat"),
            row =>
              aggregate(
                zip_with(col("embedding"), row, (x, s) => x.cast("double") * s),
                lit(0.0),
                (acc, v) => acc + v
              ) / scale
          ).as(s"y$suffix")
        )
    val e = Tables.embeddings(spark, dir)
    val pa = project(e.filter(col("vec_id") % 100 === 0), "a")
    val pb = project(e.filter(col("vec_id") % 25 === 0), "b")
    pb.join(broadcast(pa), col("vec_a") < col("vec_b"))
      .select(
        col("vec_a"),
        col("vec_b"),
        graft.functions.VectorMath
          .vecSqDist(col("eb"), col("ea").cast("array<double>"))
          .as("d2o"),
        graft.functions.VectorMath.vecSqDist(col("yb"), col("ya"))
          .as("d2p")
      )
      .filter(col("d2o") > 0)
      .select(
        col("vec_a"),
        col("vec_b"),
        round(col("d2o"), 6).as("d2_orig"),
        round(col("d2p"), 6).as("d2_proj"),
        round(col("d2p") / col("d2o"), 6).as("distortion")
      )
  }

  /** q145: embedding outlier detection — distance-to-centroid z-score
    * per label. Mislabeled or corrupted vectors sit far from their
    * class centroid; flagging z > 2 is the standard cheap audit before
    * a training run. Distances use the [[labelCentroidVectors]]
    * centroids (rounded to 6 — the q69 contract, so the oracle can
    * replay them bit-for-bit).
    *
    * Scale: the centroid table is |labels| rows → broadcast join; the
    * per-label mean/stddev is a second tiny aggregate → broadcast
    * join. The corpus-sized frame is touched by two narrow passes and
    * one shuffle (the centroid groupBy) — no windows over the data.
    */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val cents = labelCentroidVectors(spark, dir)
      .select(col("label"), col("centroid"))
    val dists = Tables
      .embeddings(spark, dir)
      .join(broadcast(cents), Seq("label"))
      .select(
        col("vec_id"),
        col("label"),
        sqrt(
          graft.functions.VectorMath
            .vecSqDist(col("embedding"), col("centroid"))
        ).as("dist")
      )
    val stats = dists
      .groupBy(col("label"))
      .agg(
        avg(col("dist")).as("mu"),
        stddev_pop(col("dist")).as("sigma")
      )
    dists
      .join(broadcast(stats), Seq("label"))
      .select(
        col("vec_id"),
        col("label"),
        round(col("dist"), 6).as("dist"),
        round((col("dist") - col("mu")) / col("sigma"), 6).as("z"),
        ((col("dist") - col("mu")) / col("sigma") > 2.0).as("outlier")
      )
  }

  /** q156: per-dimension whitening (diagonal — z-score) of the
    * embedding corpus: dimension means and population stddevs over
    * the whole corpus, then z = (x − μ_d)/σ_d per cell (0 where the
    * dimension is constant). The standard preprocessing before
    * cosine-based near-dup/ANN when dimensions have wildly different
    * scales (SimCSE-style whitening without the rotation: the full
    * ZCA needs an eigendecomposition; the diagonal version is the
    * shuffle-free 99% case).
    *
    * Scale: cells are posexploded so the stats shuffle carries
    * partially-aggregated (dim, sum, sumsq) triples — 64 rows out
    * regardless of corpus size — and the stats frame broadcasts back
    * onto the cell stream: two corpus passes, no vector ever
    * shuffled whole.
    */
  def whitenEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .embeddings(spark, dir)
      .select(
        col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x"))
      )
      .select(col("vec_id"), col("dim"), col("x").cast("double").as("x"))
    val stats = cells
      .groupBy(col("dim"))
      .agg(
        avg(col("x")).as("mu"),
        stddev_pop(col("x")).as("sd")
      )
    cells
      .join(broadcast(stats), Seq("dim"))
      .select(
        col("vec_id"),
        col("dim"),
        when(col("sd") > 0, round((col("x") - col("mu")) / col("sd"), 6))
          .otherwise(lit(0.0))
          .as("z")
      )
  }

  /** q183: the full residual IVF-PQ index — the composition of the
    * coarse quantizer (q25) and the PQ coding layer (q128) exactly as
    * a billion-vector deployment runs it (Jégou et al., TPAMI 2011
    * §III: IVFADC). The coarse k-means partitions the corpus into
    * inverted lists; each vector is PQ-encoded on its RESIDUAL
    * x − c(list) (residuals concentrate near 0, so the shared 4×16
    * codebook spends its codes where the mass is); a query probes its
    * `nProbe` = 2 nearest lists and scores candidates with a
    * per-(query, list) ADC lookup table built from the QUERY residual
    * against that list's centroid.
    *
    * Scale design: vectors are scanned once for coarse assignment +
    * residual encoding and never shuffled as payloads again (the
    * 4-byte codes travel); centroids, codebooks, and the
    * nQ·nProbe·m·k LUT (640 rows here) are broadcast; candidate
    * generation is a broadcast join of the probe table against the
    * list assignment — each query touches only its probed lists'
    * vectors, the inverted-file property that makes the scan
    * sublinear in corpus size. Distance math on the double residual
    * frame runs through the double×double branch of the codegen
    * [[graft.functions.VectorMath.vecSqDist]] (same left-to-right
    * fold as the float×double branch and the oracle's `list_sum`).
    *
    * Determinism (what the oracle replays): coarse init = lowest
    * `coarseK` = 4 vec_ids, one Lloyd round with dim means rounded to 6
    * (the q93 contract); PQ init per subspace = the `pqK` lowest
    * vec_ids' residual subvectors, one Lloyd round, same rounding;
    * every argmin ties on the lower cluster id; probe ranking ties
    * (dist, list); final ranking ties (adc, vec_id).
    */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val coarseK = 4; val nProbe = 2
    val m = 4; val subDim = 16; val pqK = 16
    val nQ = 5; val topK = 10
    // double×double codegen sqdist (same left-to-right fold the
    // oracle's list_sum replays; VectorMathSpec diffs it vs the HOF)
    def sqdDD(x: Column, c: Column): Column =
      graft.functions.VectorMath.vecSqDist(x, c)
    val e = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .cacheTracked()
    // — coarse quantizer: the q93/q25 Lloyd contract at k = coarseK
    val cInit = e
      .orderBy(col("vec_id"))
      .limit(coarseK)
      .withColumn(
        "cluster",
        row_number().over(Window.orderBy(col("vec_id"))) - 1
      )
      .select(
        col("cluster"),
        transform(col("embedding"), x => x.cast("double")).as("c_vec")
      )
    // coarseK bounded rows -> literal (see graft.util.SmallModel)
    val cent = graft.util.SmallModel.toLocal(
      Clustering.update(e, Clustering.assign(e, cInit)),
      "cluster")
    val lists = Clustering
      .assign(e, cent)
      .select(col("vec_id"), col("cluster").as("list_id"))
    // — residuals: x − c(list), ONE corpus pass, materialized once
    val resid = e
      .join(lists, Seq("vec_id"))
      .join(
        broadcast(cent.withColumnRenamed("cluster", "list_id")),
        Seq("list_id")
      )
      .select(
        col("vec_id"),
        col("list_id"),
        zip_with(col("embedding"), col("c_vec"), (x, c) => x.cast("double") - c)
          .as("res")
      )
      .cacheTracked()
    // — PQ codebooks on residual subspaces (the q128 keyed-frame form)
    val subs = resid
      .select(
        col("vec_id"),
        explode(
          transform(
            sequence(lit(0), lit(m - 1)),
            b =>
              struct(
                b.as("b"),
                slice(col("res"), b * subDim + 1, lit(subDim)).as("sub")
              )
          )
        ).as("s")
      )
      .select(col("s.b").as("b"), col("vec_id"), col("s.sub").as("sub"))
      .cacheTracked()
    val pInit = subs
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("b")).orderBy(col("vec_id")))
      )
      .filter(col("rn") <= pqK)
      .select(col("b"), (col("rn") - 1).as("cluster"), col("sub").as("c_vec"))
    def pqAssign(cents: DataFrame): DataFrame =
      subs
        .join(broadcast(cents), Seq("b"))
        .select(
          col("b"),
          col("vec_id"),
          col("cluster"),
          sqdDD(col("sub"), col("c_vec")).as("dist")
        )
        .groupBy(col("b"), col("vec_id"))
        .agg(min(struct(col("dist"), col("cluster"))).as("best"))
        .select(col("b"), col("vec_id"), col("best.cluster").as("cluster"))
    // m*pqK bounded codebook rows -> literal (see graft.util.SmallModel)
    val bookAgg = subs
      .join(pqAssign(pInit), Seq("b", "vec_id"))
      .select(
        col("b"),
        col("cluster"),
        posexplode(col("sub")).as(Seq("dim", "x"))
      )
      .groupBy(col("b"), col("cluster"), col("dim"))
      .agg(round(avg(col("x")), 6).as("v"))
      .groupBy(col("b"), col("cluster"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("v")))),
          s => s.getField("v")
        ).as("c_vec")
      )
    val book = graft.util.SmallModel.toLocal(bookAgg, "b", "cluster")
    val codeCols = (0 until m).map(b =>
      max(when(col("b") === b, col("cluster"))).as(s"c$b"))
    // the per-vector code table IS the index artifact a deployment
    // persists — cacheTracked (4 small ints per vector), so the
    // steady-state re-run reads codes instead of re-encoding
    val codes = pqAssign(book)
      .groupBy(col("vec_id"))
      .agg(codeCols.head, codeCols.tail: _*)
      .cacheTracked()
    // — query side: probe the nProbe nearest coarse lists
    val qs = e
      .filter(col("vec_id") < nQ)
      .select(
        col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("qe")
      )
    val probes = qs
      .crossJoin(broadcast(cent))
      .select(
        col("query_id"),
        col("qe"),
        col("cluster").as("list_id"),
        col("c_vec"),
        sqdDD(col("qe"), col("c_vec")).as("cdist")
      )
      .withColumn(
        "pr",
        row_number().over(
          Window
            .partitionBy(col("query_id"))
            .orderBy(col("cdist"), col("list_id"))
        )
      )
      .filter(col("pr") <= nProbe)
      .select(
        col("query_id"),
        col("list_id"),
        zip_with(col("qe"), col("c_vec"), (x, c) => x - c).as("qres")
      )
    // — per-(query, list) LUT: nQ·nProbe·m·pqK rows, broadcast
    val lut = probes
      .select(
        col("query_id"),
        col("list_id"),
        explode(
          transform(
            sequence(lit(0), lit(m - 1)),
            b =>
              struct(
                b.as("b"),
                slice(col("qres"), b * subDim + 1, lit(subDim)).as("qsub")
              )
          )
        ).as("s")
      )
      .select(
        col("query_id"),
        col("list_id"),
        col("s.b").as("b"),
        col("s.qsub").as("qsub")
      )
      .join(broadcast(book), Seq("b"))
      .select(
        col("query_id"),
        col("list_id"),
        col("b"),
        col("cluster"),
        sqdDD(col("qsub"), col("c_vec")).as("d")
      )
    def lutB(b: Int): DataFrame = lut
      .filter(col("b") === b)
      .select(
        col("query_id"),
        col("list_id"),
        col("cluster").as(s"c$b"),
        col("d").as(s"d$b")
      )
    // — candidates: only vectors living in a probed list (the cached
    // residual frame already carries the list assignment — reusing it
    // avoids re-running the coarse assignment scan)
    var adc = resid
      .select(col("vec_id"), col("list_id"))
      .join(
        broadcast(probes.select(col("query_id"), col("list_id"))),
        Seq("list_id")
      )
      .join(codes, Seq("vec_id"))
    for (b <- 0 until m)
      adc = adc.join(
        broadcast(lutB(b)),
        Seq("query_id", "list_id", s"c$b")
      )
    val adcScore = (1 until m)
      .map(b => col(s"d$b"))
      .foldLeft(col("d0"))(_ + _)
    val exact = e
      .crossJoin(broadcast(qs))
      .select(
        col("query_id"),
        col("vec_id"),
        graft.functions.VectorMath
          .vecSqDist(col("embedding"), col("qe"))
          .as("exact_dist")
      )
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    adc
      .select(
        col("query_id"),
        col("vec_id"),
        col("list_id"),
        round(adcScore, 6).as("adc")
      )
      .join(exact, Seq("query_id", "vec_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(
        col("query_id"),
        col("vec_id"),
        col("list_id"),
        col("rank"),
        col("adc"),
        round(col("exact_dist"), 6).as("exact_dist")
      )
  }

  /** q311: per-dimension embedding snapshot drift — vectors split
    * into snapshot A (even vec_id) and B (odd), and every dimension
    * audited for mean shift: Δ_d = mean_B − mean_A with the
    * two-sample z against the pooled per-dim variance. This is
    * feature-level drift monitoring for an embedding pipeline: an
    * encoder redeploy or preprocessing change shifts SPECIFIC
    * dimensions (layernorm drift, a flipped channel), which
    * corpus-level cosine histograms (q278) average away. Per-dim
    * moments are one (dim)-keyed pass; outputs micro-quantized.
    *
    * Scale: one explode(dim) scan → 2·D aggregate cells, map-side
    * combined; D rows out.
    */
  def embeddingSnapshotDrift(
      spark: SparkSession,
      dir: String
  ): DataFrame = {
    val cells = Tables
      .embeddings(spark, dir)
      .select(
        (col("vec_id") % 2 === 0).as("snap_a"),
        posexplode(col("embedding")).as(Seq("dim", "v"))
      )
      .select(
        col("snap_a"),
        col("dim"),
        col("v").cast("double").as("v"),
        // per-component micro quantization: the emitted means are
        // integer sums of these (a float mean is summation-order-
        // dependent; round-9 seam) — the z audit keeps raw moments
        round(col("v").cast("double") * 1e6).cast("long").as("vm")
      )
    val agg = cells
      .groupBy(col("dim"), col("snap_a"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"),
        sum(col("vm")).as("sm")
      )
    val a = agg
      .filter(col("snap_a"))
      .select(
        col("dim"),
        col("n").as("n_a"),
        col("s1").as("sa1"),
        col("s2").as("sa2"),
        col("sm").as("sma")
      )
    val b = agg
      .filter(!col("snap_a"))
      .select(
        col("dim"),
        col("n").as("n_b"),
        col("s1").as("sb1"),
        col("s2").as("sb2"),
        col("sm").as("smb")
      )
    val meanA = col("sa1") / col("n_a")
    val meanB = col("sb1") / col("n_b")
    val varA = col("sa2") / col("n_a") - meanA * meanA
    val varB = col("sb2") / col("n_b") - meanB * meanB
    val se = sqrt(varA / col("n_a") + varB / col("n_b"))
    val z = (meanB - meanA) / se
    a.join(b, "dim")
      .select(
        col("dim"),
        col("n_a"),
        col("n_b"),
        graft.functions.IntMath
          .idivHalfUpSigned(col("sma"), col("n_a")).as("mean_a_micro"),
        graft.functions.IntMath
          .idivHalfUpSigned(col("smb"), col("n_b")).as("mean_b_micro"),
        (graft.functions.IntMath
          .idivHalfUpSigned(col("smb"), col("n_b")) -
          graft.functions.IntMath
            .idivHalfUpSigned(col("sma"), col("n_a"))).as("delta_micro"),
        when(se === 0.0, lit(0L))
          .otherwise(round(z * 1e3).cast("long")).as("z_milli"),
        coalesce(se =!= 0.0 && abs(z) > 3.0, lit(false)).as("drifted")
      )
  }

  /** q327: PQ subspace variance balance — the 64-dim space cut into
    * the 8 contiguous 8-dim subspaces q128's product quantizer
    * trains on, with each subspace's share of total variance. PQ
    * error concentrates in high-variance subspaces (each gets the
    * same codebook budget), so imbalance here is the quantified
    * argument for a rotation (OPQ) before the q128/q183 indexes are
    * built at scale — or the evidence it isn't needed. Raw per-dim
    * moments in one pass; shares in ppm, imbalance vs uniform in
    * milli.
    *
    * Scale: one explode(dim) scan → 64 aggregate cells → 8 rows.
    */
  def pqSubspaceVariance(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("v"))
    val perDim = cells
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2")
      )
      .select(
        (col("dim") / 8).cast("long").as("subspace"),
        (col("s2") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n"))).as("vard")
      )
    val perSub = perDim
      .groupBy(col("subspace"))
      .agg(round(sum(col("vard")) * 1e9).cast("long").as("var_nano"))
    val tot = broadcast(perSub.agg(sum(col("var_nano")).as("tot_nano")))
    perSub
      .crossJoin(tot)
      .select(
        col("subspace"),
        col("var_nano"),
        graft.functions.IntMath
          .microRatio(col("var_nano"), col("tot_nano")).as("share_ppm"),
        graft.functions.IntMath
          .idivHalfUp(col("var_nano") * lit(8000L), col("tot_nano"))
          .as("imbalance_milli")
      )
  }

  /** q324: triplet violation rate per label — deterministic triplets
    * (anchor, next same-label vector, next different-label vector,
    * both by vec_id order wrapped around) scored as VIOLATED when
    * cos(a, pos) < cos(a, neg) + margin (0.05). This is the
    * rank-based metric-learning eval next to the centroid view
    * (q234): centroids can separate while individual neighborhoods
    * still invert, and the violation rate is exactly what a triplet
    * fine-tune would optimize — measured here before anyone pays for
    * training. Deterministic pairing makes the oracle replay exact.
    *
    * Scale: two lead() windows inside label partitions and one
    * cross-label lead on the global order — bounded window frames,
    * two cosine folds per row, one |labels|-row agg.
    */
  def tripletViolations(
      spark: SparkSession,
      dir: String,
      margin: Double = 0.05
  ): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // pos: next vector of the SAME label in vec_id order (wrap via
    // first_value when last)
    val wl = Window.partitionBy(col("label")).orderBy(col("vec_id").asc)
    val withPos = e
      .withColumn("pos_vec", lead(col("embedding"), 1).over(wl))
      .withColumn(
        "pos_vec",
        coalesce(col("pos_vec"), first(col("embedding")).over(wl))
      )
    // neg: the nearest FOLLOWING vec_id with a different label —
    // deterministic via a range self-join on the next 8 ids (label
    // runs in this corpus are ≤ 4, so only the last few ids of the
    // table can fail to find one and drop — mirrored by the oracle)
    val neg = e
      .select(col("vec_id").as("nv"), col("label").as("nl"),
        col("embedding").as("neg_vec"))
    val cand = e
      .select(col("vec_id"), col("label"))
      .join(
        neg,
        col("nv") > col("vec_id") && col("nv") <= col("vec_id") + 8 &&
          col("nl") =!= col("label")
      )
    val wn = Window
      .partitionBy(col("vec_id"))
      .orderBy(col("nv").asc)
    val negPick = cand
      .withColumn("rk", row_number().over(wn))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("neg_vec"))
    withPos
      .join(negPick, "vec_id")
      .select(
        col("label"),
        cosine(col("embedding"), col("pos_vec")).as("c_pos"),
        cosine(col("embedding"), col("neg_vec")).as("c_neg")
      )
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_triplets"),
        sum(
          when(col("c_pos") < col("c_neg") + margin, 1L).otherwise(0L)
        ).as("n_violated")
      )
      .select(
        col("label"),
        col("n_triplets"),
        col("n_violated"),
        graft.functions.IntMath
          .microRatio(col("n_violated"), col("n_triplets"))
          .as("violation_ppm")
      )
  }

  /** q302: hubness audit of the exact 5-NN graph — the k-occurrence
    * histogram: for each corpus vector, how many query vectors list
    * it among their top-5, bucketed into (occurrences → vector
    * count) including the never-retrieved mass at 0. High-dimensional
    * embedding spaces grow "hub" vectors that appear in a huge
    * fraction of neighbor lists (Radovanović et al., JMLR 2010) —
    * hubs poison kNN label eval (q240), dedup-by-neighbor (q135),
    * and retrieval diversity, and the fix (centering / whitening,
    * q156) is exactly what this table decides. Queries are the q240
    * eval slice (vec_id % 5 = 0, self excluded).
    *
    * Scale: the q240/q244 topology — corpus streams past the
    * broadcast query slice, WindowGroupLimit keeps only per-query
    * top-5 rows across the exchange; the histogram is a bounded agg.
    */
  def hubnessAudit(spark: SparkSession, dir: String): DataFrame = {
    // embeddingsParallel: the |corpus|×|queries| cosine matrix below
    // ran single-threaded on the one-row-group scan (§2.5)
    val e = Tables.embeddingsParallel(spark, dir)
    val q = e
      .filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = e
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim")
      )
    val w = Window
      .partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val occ = scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("occurrences"))
    val hist = occ
      .groupBy(col("occurrences"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = broadcast(e.agg(count(lit(1)).as("n_corpus")))
    val appearing = broadcast(occ.agg(count(lit(1)).as("n_app")))
    val zeroRow = tot
      .crossJoin(appearing)
      .select(
        lit(0L).as("occurrences"),
        (col("n_corpus") - col("n_app")).as("n_vectors")
      )
    hist
      .unionByName(zeroRow)
      .crossJoin(tot)
      .select(
        col("occurrences"),
        col("n_vectors"),
        graft.functions.IntMath
          .microRatio(col("n_vectors"), col("n_corpus")).as("share_ppm")
      )
  }

  /** q423: IVF probe-1 cost model — the exact probability that a
    * query and a random candidate land in the SAME cell (Simpson
    * coincidence over the q397 occupancy), i.e. the expected fraction
    * of the corpus a probe-1 search scans. 1/k (125,000 ppm at k=8)
    * is the balanced ideal; the vs-even ratio says how much the
    * observed skew inflates probe cost before any nprobe tuning
    * (q265) can help. Pure integers over the shared assignment seam.
    */
  def ivfProbeCost(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.{idivHalfUp, microRatio}
    val cells = ivfAssign(spark, dir, 8)
      .select(col("vec_id"), col("cid"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"))
    cells
      .agg(
        count(lit(1)).as("n_cells_used"),
        sum(col("n")).as("n_vecs"),
        sum(col("n") * col("n")).as("sum_sq")
      )
      .select(
        lit(8L).as("k"),
        col("n_cells_used"), col("n_vecs"),
        microRatio(col("sum_sq"), col("n_vecs") * col("n_vecs"))
          .as("probe_cost_ppm"),
        // observed cost vs the balanced 1/8 ideal, exact milli
        idivHalfUp(
          idivHalfUp(col("sum_sq") * lit(8000L), col("n_vecs")),
          col("n_vecs")).as("vs_even_milli")
      )
  }

  /** q397: IVF cell balance — occupancy census of the shared
    * centroid assignment (the q25/q106/q240 seam): per cell, vector
    * count, corpus share and the q232 even-share gauge. The ANN
    * index-health audit: a hot cell turns every probe that touches
    * it into a near-linear scan (probe cost ∝ cell size), and a
    * starved cell wastes a probe budget slot — rebalance (re-train
    * centroids, or split the hot cell) BEFORE tuning nprobe (q265).
    * Assignment reuses the proven float argmax; every emitted column
    * is an exact integer.
    *
    * Scale: assignment is the cached N·K cosine pass; the census is
    * one K-row aggregation.
    */
  def ivfCellBalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.{idivHalfUp, microRatio}
    val cells = ivfAssign(spark, dir, 8)
      .select(col("vec_id"), col("cid"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(
      sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells_used"))
    cells
      .crossJoin(broadcast(tot))
      .select(
        col("cid"), col("n_vecs"), col("n_total"),
        col("n_cells_used"),
        microRatio(col("n_vecs"), col("n_total")).as("share_ppm"),
        microRatio(col("n_vecs"), idivHalfUp(col("n_total"), lit(8L)))
          .as("vs_even_ppm")
      )
  }
}
