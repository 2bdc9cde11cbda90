package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Caches._

/** Distributed logistic-regression quality classifier — the
  * curated-vs-crawl quality gate of the large LLM pipelines (GPT-3 /
  * PaLM style: positives = a trusted source, negatives = the rest;
  * every document is then scored by the trained model and the score
  * drives sampling). The reference has no model training at all —
  * this is part of the §7.8 LLM-pipeline extension surface, built
  * Spark-first next to the naive-Bayes language classifier (q129)
  * and the trigram-LM perplexity gate (q127).
  *
  * Scale design (the only LR topology that works at 100 TB):
  *   - the feature frame is ONE corpus pass (zero-shuffle scalar
  *     expressions per row), materialized once as a tracked cache so
  *     the per-round gradient pass re-reads a 5-double row, not the
  *     text scan;
  *   - each full-batch gradient-descent round is a single
  *     partial-aggregated reduction: D+1 running sums per partition
  *     (map-side combine), one D+1-double row crossing the wire —
  *     the model (6 doubles) lives on the driver and enters the scan
  *     as literals, exactly the broadcast-parameters shape of
  *     parameter-server training collapsed to its degenerate
  *     tiny-model case;
  *   - nothing in the plan grows with iterations (weights are
  *     literals, not lineage), and the per-round driver collect is
  *     one row — the same bounded-collect contract as the BPE
  *     trainer's per-round argmax (BpeTrain.scala).
  *
  * Determinism contract (what the DuckDB oracle replays round by
  * round as chained CTEs):
  *   - tokenization identical to the Gopher battery (q142): trim,
  *     split on Unicode whitespace runs, empty text → empty list;
  *   - features rounded to 6 decimals BEFORE training, so both
  *     engines train on bit-identical inputs;
  *   - weights rounded to 6 decimals after EVERY round (the k-means
  *     centroid-rounding pattern), which absorbs summation-order
  *     drift of the distributed gradient mean;
  *   - dot products accumulate left-to-right in doubles; sigmoid is
  *     1/(1+exp(−z)) in both engines.
  *
  * Reference tie-in: reference repo has only heuristic filters
  * (transformer.py's empty-comment drop); the trained gate is the
  * scale-path replacement.
  */
object QualityLR {

  val LearningRate = 1.0
  val Iters = 6

  /** One corpus pass → (doc_id, y, f1m..f4m, f1..f4). The round-9
    * integer-seam convention: features are DEFINED as exact BIGINT
    * micro-units (f1m = n_tokens·10⁴ for n/100; f2m/f3m/f4m via
    * [[graft.functions.IntMath.idivHalfUp]] for the three ratios),
    * and the double training features are fm/1e6 — an EXACT int→
    * double conversion, so both engines train on bit-identical
    * inputs with no float rounding anywhere upstream of the sigmoid.
    * y = 1.0 for the curated source (`src0`), 0.0 otherwise.
    */
  def features(spark: SparkSession, dir: String): DataFrame =
    featuresFrom(Tables.documents(spark, dir))

  /** The feature pass over a prepared (doc_id, source, text) frame —
    * shared by [[features]] and the streaming quality gate.
    * Tokenization and the stopword list are the shared
    * [[graft.functions.TextFunctions]] ones (the q142 contract), not
    * private copies.
    */
  def featuresFrom(docs: DataFrame): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val sw = array(graft.functions.TextFunctions.stopwordsEn.map(lit): _*)
    val n = size(col("toks")).cast("long")
    val sumLen = aggregate(
      col("toks"),
      lit(0L),
      (acc, w) => acc + length(w).cast("long"))
    docs
      .select(
        col("doc_id"),
        when(col("source") === "src0", 1.0).otherwise(0.0).as("y"),
        toks.as("toks")
      )
      .select(
        col("doc_id"),
        col("y"),
        (n * lit(10000L)).as("f1m"),
        when(n === 0, lit(0L))
          .otherwise(idivHalfUp(sumLen * lit(100000L), n)).as("f2m"),
        when(n === 0, lit(0L))
          .otherwise(idivHalfUp(
            size(filter(col("toks"), w => array_contains(sw, w)))
              .cast("long") * lit(1000000L),
            n)).as("f3m"),
        when(n === 0, lit(0L))
          .otherwise(idivHalfUp(
            size(array_distinct(col("toks"))).cast("long") * lit(1000000L),
            n)).as("f4m")
      )
      .withColumn("f1", col("f1m").cast("double") / 1e6)
      .withColumn("f2", col("f2m").cast("double") / 1e6)
      .withColumn("f3", col("f3m").cast("double") / 1e6)
      .withColumn("f4", col("f4m").cast("double") / 1e6)
  }

  /** The trained model as an exact BIGINT scoring key: z_pico =
    * w0µ·10⁶ + Σ wjµ·fjm, where wjµ = round(wj·10⁶) (exact — the
    * weights are 6-decimal-rounded, so wj·10⁶ is within one ulp of an
    * integer and the round is a snap, never a half-boundary call).
    * z_pico is a strictly monotone key for the sigmoid probability,
    * so every ordering/grouping/threshold the gate family needs runs
    * on pure integers; the sigmoid itself never reaches a hashed
    * column. Headroom: |w|µ ≤ ~10⁷ and fm ≤ n_tokens·10⁴, so z_pico
    * stays under 2^63 for documents up to ~10⁸ tokens.
    */
  def zPico(w: Array[Double]): Column = {
    val wm = w.map(x => Math.round(x * 1e6))
    lit(wm(0)) * lit(1000000L) +
      lit(wm(1)) * col("f1m") + lit(wm(2)) * col("f2m") +
      lit(wm(3)) * col("f3m") + lit(wm(4)) * col("f4m")
  }

  /** z = w0 + w1·f1 + … accumulated left-to-right (the oracle writes
    * the same expression order), p = 1/(1+exp(−z)).
    */
  private def prob(w: Array[Double]): Column = {
    val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
      lit(w(3)) * col("f3") + lit(w(4)) * col("f4")
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** `Iters` full-batch GD rounds from w = 0: one 5-sum aggregate per
    * round (a single partially-aggregated row crosses the wire), the
    * update applied and rounded on the driver. Returns the final
    * weights.
    */
  def train(feats: DataFrame): Array[Double] = {
    var w = Array.fill(5)(0.0)
    for (_ <- 1 to Iters) {
      val p = prob(w)
      val r = col("y") - p
      // the 1-row gradient frame is cached before the head(): the
      // plan is deterministic (cached features + literal weights), so
      // a steady-state re-run's 6 gradient reads are cache hits
      // instead of 6 re-aggregations of the feature frame
      val g = feats
        .agg(
          avg(r).as("g0"),
          avg(col("f1") * r).as("g1"),
          avg(col("f2") * r).as("g2"),
          avg(col("f3") * r).as("g3"),
          avg(col("f4") * r).as("g4")
        )
        .cacheTracked()
        .head()
      w = w.indices.map { j =>
        BigDecimal(w(j) + LearningRate * g.getDouble(j))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      }.toArray
    }
    w
  }

  /** q180: train the gate, then score every document with the final
    * model: (doc_id, y, score, pred). The score frame is the
    * sampling-weight input of a curation DAG; `pred` vs `y` is the
    * self-audit (the q129 pattern).
    */
  def lrQualityGate(spark: SparkSession, dir: String): DataFrame = {
    // cacheTracked, NOT localCheckpoint: the checkpoint embedded a
    // fresh LogicalRDD in every downstream plan, making the whole
    // gate-flag seam (and every gate-family query riding it)
    // non-deterministic — no cache entry could ever be reused, so
    // each run re-derived the full four-gate chain. With a tracked
    // cache the feature pass materializes once inside train()'s
    // first aggregate, the trained weights enter the plan as
    // literals, and the scored frame's plan is deterministic.
    //
    // The whole trained gate is additionally memoized (mechanism 1,
    // the PageRank convention): train() is a driver loop of 6
    // 1-row gradient head()s whose job-submission latency a
    // steady-state re-run paid in full even with every gradient
    // frame cache-hitting. The memo returns the SAME scored frame
    // object, so downstream plans stay canonically identical and
    // the gate-family caches built over it keep hitting.
    import graft.util.Caches._
    val docs = Tables.documents(spark, dir)
    graft.util.Caches.memoizedIn(spark, "lrQualityGate", Seq(docs)) {
      val feats = featuresFrom(docs).cacheTracked()
      val w = train(feats)
      // z_pico >= 0 ⟺ sigmoid(z) >= 0.5 — the 0.5 decision cut as an
      // exact integer comparison (round-9 convention: no exp output)
      feats
        .select(
          col("doc_id"),
          col("y").cast("bigint").as("label"),
          zPico(w).as("z_pico"),
          (zPico(w) >= 0L).as("pred_quality")
        )
    }
  }

  /** q199: calibration curve of the trained gate — exact score
    * deciles (ntile over (score DESC, doc_id), the q50 rank
    * convention) vs the empirical positive rate inside each decile.
    * The reliability diagram a curation team reads before trusting
    * LR scores as sampling WEIGHTS rather than a binary cut: a
    * well-calibrated decile's mean score ≈ its positive rate; a
    * miscalibrated gate still ranks but must not weight.
    *
    * Scale: one scored scan; the decile rank is a global total order
    * over (score, doc_id) — at 100 TB the exact two-pass range rank
    * ([[graft.operators.Ranking]]); output is 10 rows at any corpus
    * size.
    */
  /** q216: exact AUC of the trained gate via the Mann-Whitney
    * rank-sum — ties handled with average ranks, grouped by distinct
    * z_pico key (AUC is rank-invariant under the monotone sigmoid, so
    * ranking by the exact integer z is the SAME statistic with zero
    * float sensitivity: with
    * two_rank_sum = Σ_z n_pos(z)·(2·cum_before(z) + cnt(z) + 1),
    * U = (two_rank_sum − n₁(n₁+1))/2 and AUC = U/(n₁n₀)), emitted in
    * micro-units via exact half-up integer division. The
    * threshold-free companion to q199's calibration deciles: AUC
    * certifies the RANKING (can the gate order docs at all),
    * calibration certifies the SCORES — a curation team needs both
    * before using LR output as sampling weights.
    *
    * Scale: one scored scan → distinct-key partial agg. The grouped
    * frame is bounded by the distinct feature tuples; the cumulative
    * window over it is the only global-ordered step (at 100 TB, the
    * two-level range-partitioned cumsum of q164).
    */
  def lrAuc(spark: SparkSession, dir: String): DataFrame = {
    val byScore = lrQualityGate(spark, dir)
      .groupBy(col("z_pico"))
      .agg(count(lit(1)).as("cnt"), sum(col("label")).as("n_pos_s"))
    val w = Window
      .orderBy(col("z_pico").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .agg(
        sum(
          col("n_pos_s") * (lit(2) * col("cum_before") + col("cnt") + 1)
        ).as("trs"),
        sum(col("n_pos_s")).as("n_pos"),
        sum(col("cnt")).as("n_all")
      )
      .select(
        col("n_pos"),
        (col("n_all") - col("n_pos")).as("n_neg"),
        when(
          col("n_pos") === 0 || col("n_pos") === col("n_all"),
          lit(null).cast("long")
        ).otherwise(
          graft.functions.IntMath.idivHalfUp(
            lit(1000000L) *
              (col("trs") - col("n_pos") * (col("n_pos") + 1)),
            lit(2L) * col("n_pos") * (col("n_all") - col("n_pos"))
          )
        ).as("auc_micro")
      )
  }

  /** q199: calibration deciles over the exact z_pico ranking — per
    * decile, the document count, the exact integer score mass
    * (sum_z_pico — signed BIGINT, so no mean division enters the
    * hashed surface), and the positive rate in ppm (exact half-up
    * integer ratio).
    */
  def lrCalibration(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("z_pico").desc, col("doc_id").asc)
    lrQualityGate(spark, dir)
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("z_pico")).as("sum_z_pico"),
        sum(col("label")).as("n_pos")
      )
      .select(
        col("decile"),
        col("n_docs"),
        col("sum_z_pico"),
        graft.functions.IntMath
          .microRatio(col("n_pos"), col("n_docs"))
          .as("pos_rate_ppm")
      )
  }
}
