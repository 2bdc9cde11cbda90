package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset profiling — the corpus-statistics operators a training-data
  * pipeline runs before/after every transform (SURVEY §2.6 extension).
  * One pass per table: every profiled column aggregates in the same
  * scan (Catalyst fuses the aggregates), then the tiny result is
  * reshaped to one row per column.
  */
object Profile {

  /** q34: exact per-column profile of lineitem (min/max/distinct/null
    * counts as strings for a uniform shape), 4-row output.
    *
    * One aggregation branch per profiled column, unioned. A single
    * `agg` with four `countDistinct`s plans the Expand rewrite — every
    * input row replicated ×4 and shuffled with all grouping keys
    * attached (measured 7.3 s at sf0.1). Per-column branches each
    * scan only their own parquet column and shuffle only that
    * column's distinct values (partial-aggregated map-side), which is
    * both smaller and embarrassingly parallel at 100 TB.
    */
  def lineitemProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def branch(colName: String): DataFrame =
      li.agg(
        count(lit(1)).as("n_rows"),
        min(col(colName)).cast("string").as("min_value"),
        max(col(colName)).cast("string").as("max_value"),
        countDistinct(col(colName)).as("n_distinct"),
        sum(when(col(colName).isNull, 1).otherwise(0))
          .cast("long")
          .as("n_null")
      ).select(
        lit(colName).as("column_name"),
        col("n_rows"),
        col("min_value"),
        col("max_value"),
        col("n_distinct"),
        col("n_null")
      )
    Seq("l_quantity", "l_extendedprice", "l_returnflag", "l_orderkey")
      .map(branch)
      .reduce(_.unionByName(_))
  }

  /** q42: distribution statistics per group — exact interpolated
    * percentiles, sample stddev, and price/discount correlation. One
    * scan; percentile is the only sort-based aggregate in the engine
    * (per-group sort, partial-merged).
    */
  def distributionStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("qty_p25"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("qty_p50"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("qty_p75"),
        round(stddev_samp(col("l_extendedprice")), 4).as("price_stddev"),
        round(corr(col("l_extendedprice"), col("l_discount")), 6)
          .as("price_disc_corr")
      )

  /** q35: sketch-based cardinality profile — approx_count_distinct
    * (HyperLogLog++) at three precisions vs the exact count. The scale
    * path for corpus cardinality at 100 TB, where exact distinct is a
    * full shuffle but the sketch is a constant-size mergeable state.
    * No SQL oracle (DuckDB's HLL differs); the exact column anchors a
    * rows-level sanity check and its spec asserts the error bound.
    *
    * The exact and approximate aggregates run as separate single-row
    * aggregations joined at the end. Mixing them in one `agg` makes
    * Spark plan the distinct rewrite: group by l_orderkey first and
    * carry *partial HLL buffers as per-group state* — 1705 buffer
    * words per group × 600k groups (measured 8.9 s at sf0.1; split,
    * the sketches keep one buffer per partition and the whole query
    * is sub-second). At 100 TB the fused form would shuffle TBs of
    * sketch state; the split form shuffles kilobytes.
    */
  /** q35: HyperLogLog cardinality sketch with a hash-exact oracle —
    * the round-9 replacement for Spark's built-in HLL++ (whose
    * register layout no other engine can replay). The sketch is
    * built from the engine's shared 60-bit md5 hash (the q58 KMV
    * convention): register = top 8 bits (m = 256), ρ = position of
    * the first 1-bit in the low 52 bits (53 when they are zero), and
    * the emitted surface is pure BIGINT register state —
    * n_zero_registers and sum_t = Σ 2^(53−M_j) over occupied
    * registers — so both engines agree bit for bit. The HLL estimate
    * α·m²/S (S = (sum_t + n_zero·2^53)/2^53) and its ±2σ bound vs
    * exact live in ProfileSpec "HLL sketch cardinality stays inside
    * its error bound", next to a cross-check against
    * Spark's built-in approx_count_distinct; the gate compares only
    * the deterministic registers (the q220 convention: derived
    * floats belong in specs, not hashed columns).
    *
    * Scale: one map-side-combined (register → max ρ) aggregate — 256
    * cells at any corpus size — then a 1-row rollup; mergeable
    * across shards by construction (max per register).
    */
  def cardinalitySketch(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val h = graft.functions.TextFunctions.hash60(col("l_orderkey"))
    val reg = shiftright(h, 52)
    val low = h.bitwiseAND(lit((1L << 52) - 1))
    val rho = when(low === 0L, lit(53L))
      .otherwise(lit(53L) - length(bin(low)))
    val regs = li
      .select(reg.as("reg"), rho.as("rho"))
      .groupBy(col("reg"))
      .agg(max(col("rho")).as("mj"))
    val sketch = regs.agg(
      count(lit(1)).as("n_occupied"),
      sum(expr("CAST(shiftleft(1L, CAST(53 - mj AS INT)) AS BIGINT)"))
        .as("sum_t")
    )
    val exact = li.agg(countDistinct(col("l_orderkey")).as("exact"))
    exact
      .crossJoin(sketch)
      .select(
        col("exact"),
        lit(256L).as("m"),
        (lit(256L) - col("n_occupied")).as("n_zero_registers"),
        col("sum_t")
      )
  }

  /** q175: snapshot diff report — per source, how much content two
    * corpus snapshots share: distinct content hashes present in both
    * (stable), only in the new one (added), only in the old one
    * (removed). The doc_id-parity halves stand in for yesterday's
    * crawl + today's; in production the two sides are two snapshot
    * paths. The crawl-ops dashboard row that catches a source going
    * stale (nothing added) or churning (everything replaced).
    *
    * Scale: both sides collapse to DISTINCT (source, hash) pairs at
    * the scan (map-side partial), the diff is one full-outer
    * hash-keyed join, and the report is a per-source aggregate of
    * presence flags — content never travels, hashes do.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables
      .documents(spark, dir)
      .select(
        col("source"),
        (col("doc_id") % 2).as("side"),
        md5(col("text")).as("h")
      )
    val old_ = h.filter(col("side") === 0)
      .select(col("source"), col("h")).distinct()
      .withColumn("in_old", lit(1))
    val neu = h.filter(col("side") === 1)
      .select(col("source"), col("h")).distinct()
      .withColumn("in_new", lit(1))
    old_
      .join(neu, Seq("source", "h"), "full_outer")
      .groupBy(col("source"))
      .agg(
        sum(when(col("in_old") === 1 && col("in_new") === 1, 1L)
          .otherwise(0L)).as("n_stable"),
        sum(when(col("in_old").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("in_new").isNull, 1L).otherwise(0L)).as("n_removed")
      )
  }

  /** q174: mergeable snapshot statistics — corpus stats maintained
    * as an ALGEBRAIC state (count, sum, sumsq, min, max) that two
    * snapshot slices combine WITHOUT rescanning either: the engine
    * computes per-slice states (here the doc_id-parity halves,
    * standing in for yesterday's corpus + today's delta), merges
    * them component-wise, and only then derives mean/variance from
    * the merged components. The oracle computes the same stats
    * directly over the whole corpus — the gate is the proof that the
    * merge is lossless. At 100 TB this is the difference between
    * maintaining corpus stats incrementally per ingest batch and
    * re-aggregating the world nightly.
    *
    * All merged components are exact integer sums (n_chars fits
    * sumsq in a long), so the derived moments are bit-identical to
    * the direct computation.
    */
  def mergeableStats(spark: SparkSession, dir: String): DataFrame = {
    val perSlice = Tables
      .documents(spark, dir)
      .groupBy((col("doc_id") % 2).as("slice"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("s"),
        sum(col("n_chars") * col("n_chars")).as("sq"),
        min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx")
      )
    perSlice
      .agg(
        sum(col("n")).as("n_docs"),
        sum(col("s")).as("sum_chars"),
        sum(col("sq")).as("sumsq_chars"),
        min(col("mn")).as("min_chars"),
        max(col("mx")).as("max_chars")
      )
      .select(
        col("n_docs"),
        col("sum_chars"),
        col("min_chars"),
        col("max_chars"),
        // exact milli-unit moments (round-12 float purge): mean =
        // sum/n, var = (n·Σx² − (Σx)²)/n² — both BIGINT ratios of the
        // mergeable partials. n·Σx²·10³ ≈ 3.6·10¹⁸ at sf0.1 stays
        // inside signed 64-bit; past that the milli scale is the
        // first thing to drop.
        graft.functions.IntMath
          .idivHalfUp(col("sum_chars") * lit(1000L), col("n_docs"))
          .as("mean_chars_milli"),
        graft.functions.IntMath
          .idivHalfUp(
            (col("n_docs") * col("sumsq_chars") -
              col("sum_chars") * col("sum_chars")) * lit(1000L),
            col("n_docs") * col("n_docs")
          )
          .as("var_chars_milli")
      )
  }
}
