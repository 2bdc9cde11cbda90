package graft.operators

import graft.util.Caches._
import graft.Tables
import graft.functions.ArrayIntersectSize.intersectSize
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the reference's cleaning
  * semantics (SURVEY §2.4 F1) plus the pretraining-pipeline text ops
  * (language ID, quality scoring, token stats, fingerprinting) the
  * builder prompt calls for.
  *
  * All expressions are built-in Catalyst (higher-order array functions,
  * no UDFs) so they run inside whole-stage codegen; every query is a
  * single narrow scan → map → (optional tiny agg), i.e. embarrassingly
  * parallel at 100 TB with zero shuffles except where grouped.
  */
object TextAnalysis {

  /** q13: clean_text parity — whitespace collapse + trim + the
    * truncate-to-120+"..." contract (utils.py:84-105).
    */
  def cleanDocs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        cleanText(col("text")).as("clean"),
        cleanText(col("text"), 120).as("clean_120")
      )

  /** q14: token statistics — counts and mean token length. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        // BPE-ish subword count: alnum runs + individual punctuation,
        // the cheap proxy for tokenizer-cost estimation
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast("long")
          .as("n_tokens_bpe"),
        length(col("text")).cast("long").as("n_chars_raw"),
        when(size(tokens(col("text"))) === 0, lit(0L))
          .otherwise(
            graft.functions.IntMath.idivHalfUp(
              aggregate(
                tokens(col("text")),
                lit(0L),
                (acc, w) => acc + length(w).cast("long")
              ) * 1000L,
              size(tokens(col("text"))).cast("long")
            )
          )
          .as("avg_token_len_milli")
      )

  /** q15: quality scoring — stopword/punctuation/length signals. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame =
    qualityScoresFrom(Tables.documents(spark, dir))

  /** Quality scoring over a prepared (doc_id, text, ...) frame — the
    * q130 seam: the composed DAG scores the one materialized corpus
    * pass instead of re-scanning the source.
    */
  def qualityScoresFrom(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        round(stopwordRatio(col("text")), 6).as("stop_ratio"),
        punctCount(col("text")).cast("long").as("n_punct"),
        qualityScore(col("text")).as("quality")
      )

  /** The round-9 integer quality seam: (doc_id, q_micro) with
    * q_micro the pure-BIGINT [[graft.functions.TextFunctions
    * .qualityMicro]] — the ONLY quality frame allowed to feed hashed,
    * ordered, or grouped output columns (DuckDB twin:
    * SparkEntry.qMicroCte).
    */
  def qualityMicroScores(spark: SparkSession, dir: String): DataFrame =
    qualityMicroScoresFrom(
      // documentsParallel + cache: the score is a tokenize-heavy
      // per-row map consumed by ~50 call sites; on the one-row-group
      // scan it ran single-threaded, per pass, in each of them (§2.5)
      Tables.documentsParallel(spark, dir)
    ).cacheTracked()

  def qualityMicroScoresFrom(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.TextFunctions.qualityMicro(col("text")).as("q_micro")
    )

  /** q249: length↔quality rank correlation — tie-corrected Spearman ρ
    * (Pearson over average ranks) plus raw Pearson r between per-doc
    * token count and the q15 quality score, as one corpus row. The
    * q15 score embeds a length term (0.5·min(n/200,1)), so ρ should
    * be strongly positive — a DROP in this gauge after a pipeline
    * change means the quality gate stopped tracking length where it
    * should, and a ρ≈1 means it tracks ONLY length (the degenerate
    * gate q229's ablation would also expose). Rank correlation is
    * the scale-robust choice: insensitive to the score's nonlinear
    * saturation.
    *
    * Determinism: average ranks are exact half-integers (sums of
    * row_numbers over ties), so every Spearman aggregate is exactly
    * representable and order-independent; the raw-moment Pearson
    * aggregates are rounded only at the final micro cast.
    *
    * Scale: two [[Ranking.withGlobalRank]] total orders (range
    * shuffle each, never a single-partition window), per-value
    * average-rank joins, then one corpus-pass moment aggregate.
    */
  def lengthQualityCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("x")
      )
      .join(
        qualityMicroScores(spark, dir)
          .select(col("doc_id"), col("q_micro").as("y")),
        "doc_id"
      )
      // read by both rank passes AND the final join — cache so the
      // tokenize+score chain derives once (the q354 seam trick)
      .cacheTracked()
    def avgRank(keyName: String): DataFrame = Ranking
      .withGlobalRank(
        base.select(col("doc_id"), col(keyName)),
        Seq(col(keyName).asc, col("doc_id").asc),
        "rn",
        32
      )
      .groupBy(col(keyName))
      .agg(avg(col("rn")).as(s"r$keyName"))
    val j = base
      .join(avgRank("x"), "x")
      .join(avgRank("y"), "y")
    val s = j.agg(
      count(lit(1)).as("n"),
      sum(col("rx")).as("srx"),
      sum(col("ry")).as("sry"),
      sum(col("rx") * col("rx")).as("srx2"),
      sum(col("ry") * col("ry")).as("sry2"),
      sum(col("rx") * col("ry")).as("srxy"),
      // raw moments as EXACT BIGINTs (y is the integer micro-quality;
      // float sums would be summation-order-dependent); the one
      // int→double cast below is deterministic
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sx2"),
      sum(col("y") * col("y")).as("sy2"),
      sum(col("x") * col("y")).as("sxy")
    )
    def corr(sa: Column, sb: Column, sa2: Column, sb2: Column, sab: Column) = {
      def d(c: Column) = c.cast("double")
      (d(col("n")) * d(sab) - d(sa) * d(sb)) /
        (sqrt(d(col("n")) * d(sa2) - d(sa) * d(sa)) *
          sqrt(d(col("n")) * d(sb2) - d(sb) * d(sb)))
    }
    s.select(
      col("n"),
      round(
        corr(col("srx"), col("sry"), col("srx2"), col("sry2"), col("srxy"))
          * 1e6
      ).cast("long").as("spearman_micro"),
      round(
        corr(col("sx"), col("sy"), col("sx2"), col("sy2"), col("sxy")) * 1e6
      ).cast("long").as("pearson_micro")
    )
  }

  /** q251: content-type tagging — per doc, the structural-symbol and
    * digit densities (ppm) and a deterministic three-way class:
    * `code` when symbol density ≥ 2%, else `numeric` when digit
    * density ≥ 5%, else `prose` (`empty` for zero-char docs). The
    * cheap domain tagger mix planning reads before any trained
    * classifier exists — code-vs-prose ratio is a first-order knob
    * in pretraining mixes, and the ppm columns let downstream sweeps
    * re-threshold without a rescan.
    *
    * Counting is translate()-based (no regex): chars removed when
    * deleting the class alphabet. One narrow map, no shuffle.
    */
  def contentTypeTags(spark: SparkSession, dir: String): DataFrame = {
    val chars = length(col("text")).cast("long")
    def density(alphabet: String): Column =
      graft.functions.IntMath.microRatio(
        chars - length(translate(col("text"), alphabet, "")).cast("long"),
        chars)
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        chars.as("n_chars"),
        when(chars === 0, 0L)
          .otherwise(density("{}();=<>[]"))
          .as("sym_ppm"),
        when(chars === 0, 0L)
          .otherwise(density("0123456789"))
          .as("digit_ppm")
      )
      .withColumn(
        "content_class",
        when(col("n_chars") === 0, "empty")
          .when(col("sym_ppm") >= 20000L, "code")
          .when(col("digit_ppm") >= 50000L, "numeric")
          .otherwise("prose")
      )
  }

  /** q252: Flesch reading-ease per document — 206.835 − 1.015·(W/S)
    * − 84.6·(Y/W) with W = tokens, S = sentence-ender runs
    * ([.!?]+, floored at 1), Y = vowel-group syllables
    * ([aeiouy]+ runs, each vowel-less word floored at 1 syllable).
    * The classic readability gate (textbook-vs-spam separation) —
    * a quality signal orthogonal to q15's stopword/length blend and
    * q127's perplexity; empty docs are excluded (W = 0 undefined).
    *
    * All three counts come from one scan (two regexp_extract_all
    * passes + one token filter); the score is exact-integer ratios —
    * no distributed float summation anywhere.
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val w = size(toks).cast("long")
    val s = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L)
    )
    val vowelGroups =
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
        .cast("long")
    val novowel = size(
      filter(toks, t => !lower(t).rlike("[aeiouy]"))
    ).cast("long")
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        w.as("n_words"),
        s.as("n_sentences"),
        (vowelGroups + novowel).as("n_syllables")
      )
      .filter(col("n_words") > 0)
      .select(
        col("doc_id"),
        col("n_words"),
        col("n_sentences"),
        col("n_syllables"),
        // 206.835e6 − 1.015e6·w/s − 84.6e6·sy/w with each ratio an
        // exact half-up integer division (round-9 seam)
        (lit(206835000L) -
          graft.functions.IntMath.idivHalfUp(
            lit(1015000L) * col("n_words"), col("n_sentences")) -
          graft.functions.IntMath.idivHalfUp(
            lit(84600000L) * col("n_syllables"), col("n_words")))
          .as("flesch_micro")
      )
  }

  /** q255: pairwise source style distance — Jensen-Shannon divergence
    * between every source pair's add-one-smoothed unigram
    * distributions over the corpus's top-1000 terms (by global count,
    * term-asc tiebreak). The full source×source style matrix that
    * q168 (per-source-vs-global KL) projects to one column: JS is
    * symmetric and bounded by ln 2, so the matrix feeds clustering
    * of sources and flags near-identical feeds (candidate merges)
    * and outlier feeds (mix-planning risk) directly.
    *
    * Scale: the only corpus-scale pass is the (source, term) count;
    * the dense |sources|×1000 profile grid, the pair join, and the
    * |pairs|-row rollup are all bounded by the fixed vocabulary —
    * never by corpus size.
    */
  def sourceStyleMatrix(
      spark: SparkSession,
      dir: String,
      vocabSize: Int = 1000
  ): DataFrame = {
    val toks = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
    val vocab = broadcast(
      toks
        .groupBy(col("term"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc)
        .limit(vocabSize)
        .select(col("term"))
    )
    val counts = toks
      .join(vocab, "term")
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
    val sources = toks.select(col("source")).distinct()
    val vSize = broadcast(vocab.agg(count(lit(1)).as("v")))
    // dense grid: every (source, vocab term), absent counts = 0
    val dense = sources
      .crossJoin(vocab)
      .join(counts, Seq("source", "term"), "left_outer")
      .select(col("source"), col("term"), coalesce(col("c"), lit(0L)).as("c"))
    val totals = dense.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val probs = dense
      .join(broadcast(totals), "source")
      .crossJoin(vSize)
      .select(
        col("source"),
        col("term"),
        ((col("c") + 1).cast("double") / (col("tot") + col("v"))).as("p")
      )
    val pairs = probs
      .as("a")
      .join(probs.as("b"), col("a.term") === col("b.term")
        && col("a.source") < col("b.source"))
      .select(
        col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        col("a.p").as("p"),
        col("b.p").as("q")
      )
    val m = (col("p") + col("q")) / 2
    pairs
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        round(
          sum(
            col("p") / 2 * log(col("p") / m) + col("q") / 2 * log(col("q") / m)
          ) * 1e6
        ).cast("long").as("js_micro")
      )
  }

  /** q256: boilerplate edge mining — per source, the top-10 repeated
    * 2-token document PREFIXES and SUFFIXES (kind column), kept when
    * ≥ 2 docs share them (the corpus's openings are near-unique, so
    * short edges with a low floor are the demonstrable setting; the
    * edge length and floor are the obvious production knobs). Repeated edges are the signature of
    * template boilerplate (headers, footers, licence stubs, nav
    * crumbs) — the strings a cleaning pass should strip BEFORE
    * dedup, because boilerplate inflates every similarity metric
    * (q21/q22 scores, q140 fingerprints) without being content.
    * Ranked by (doc count DESC, snippet ASC) for determinism.
    *
    * Scale: one tokenize scan emitting two edge snippets per doc,
    * one (source, kind, snippet) count agg (map-side combined), a
    * bounded per-(source, kind) top-10 window.
    */
  def boilerplateEdges(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val edges = Tables
      .documents(spark, dir)
      .select(col("source"), t.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        col("source"),
        explode(
          array(
            struct(
              lit("prefix").as("kind"),
              array_join(slice(col("toks"), 1, 2), " ").as("snippet")
            ),
            struct(
              lit("suffix").as("kind"),
              array_join(slice(col("toks"), -2, 2), " ").as("snippet")
            )
          )
        ).as("e")
      )
      .select(col("source"), col("e.kind").as("kind"), col("e.snippet").as("snippet"))
    val w = Window
      .partitionBy(col("source"), col("kind"))
      .orderBy(col("n_docs").desc, col("snippet").asc)
    edges
      .groupBy(col("source"), col("kind"), col("snippet"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("source"), col("kind"), col("snippet"), col("n_docs"),
        col("rk"))
  }

  /** q266: per-language character entropy — the Shannon entropy of
    * each language's character unigram distribution (micro-nats),
    * plus the distinct-character inventory and char mass. The
    * script-complexity gauge: logographic scripts (zh) run ~3×
    * alphabetic entropy, which drives bytes/token (q146 fertility)
    * and compression-planning assumptions; a sudden DROP for one
    * lang flags mojibake or stripped diacritics upstream. Counts are
    * exact integers; the entropy terms are single divisions.
    *
    * Scale: one char-explode scan → (lang, char) partial agg
    * (map-side combined, bounded by inventory × langs) → |langs|
    * rollup.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    // documentsParallel: the per-code-point explode below is the
    // heaviest per-row map in the registry and ran single-threaded
    // on the one-row-group scan (§2.5 input skew)
    val chars = Tables
      .documentsParallel(spark, dir)
      .filter(length(col("text")) > 0)
      .select(
        col("lang"),
        col("text"),
        explode(sequence(lit(1), length(col("text")))).as("i")
      )
      .select(col("lang"), col("text").substr(col("i"), lit(1)).as("ch"))
    val lc = chars
      .groupBy(col("lang"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .withColumn(
        "tot",
        sum(col("c")).over(Window.partitionBy(col("lang")))
      )
    val p = col("c").cast("double") / col("tot")
    lc.groupBy(col("lang"))
      .agg(
        max(col("tot")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        round(sum(-p * log(p)) * 1e6).cast("long").as("entropy_micro")
      )
  }

  /** q267: standardized type-token ratio — lexical richness on an
    * EQUAL footing across sources: the TTR of each source's first
    * 1000 tokens (doc_id order), so big sources aren't penalized by
    * Heaps-law vocabulary saturation the way raw TTR penalizes them
    * (q188 fits the whole curve; this is the fixed-sample point
    * estimate mix planners actually compare). Exact integers
    * throughout.
    *
    * Scale: one per-source window over doc token counts (bounded by
    * docs per source) assigns global token offsets WITHOUT exploding
    * the corpus; only docs overlapping the first-1000 window explode
    * their tokens.
    */
  def standardizedTtr(
      spark: SparkSession,
      dir: String,
      sample: Int = 1000
  ): DataFrame = {
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("cum", sum(col("n")).over(w))
      .filter(col("cum") - col("n") < sample)
    val toksInWindow = docs
      .select(
        col("source"),
        (col("cum") - col("n")).as("off"),
        posexplode(col("toks")).as(Seq("i", "tok"))
      )
      .filter(col("off") + col("i") < sample)
    toksInWindow
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_sample"),
        countDistinct(col("tok")).as("n_types")
      )
      .select(
        col("source"),
        col("n_sample"),
        col("n_types"),
        graft.functions.IntMath
          .microRatio(col("n_types"), col("n_sample"))
          .as("ttr_micro")
      )
  }

  /** q271: vocabulary coverage strata — terms ranked by corpus
    * frequency and cut into head (cumulative share ≤ 80%), torso
    * (≤ 95%) and tail: per stratum, the term count, token mass and
    * exact coverage. The tokenizer/embedding-table planning sheet:
    * the head is what a small vocab must cover, the tail is what
    * byte-fallback eats — q157's OOV plan and q204's unseen-mass
    * estimate both read against this stratification.
    *
    * Scale: term counts are one agg; the rank is
    * [[Ranking.withGlobalRank]] and the cumulative mass is the q164
    * two-level range cumsum over the ranked vocab — no
    * single-partition window anywhere. Boundaries compare exact
    * integers (cum·100 vs threshold·total).
    */
  def vocabCoverageStrata(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
    val parts = 32
    val ranked = Ranking
      .withGlobalRank(terms, Seq(col("cnt").desc, col("term").asc), "rk", parts)
      .repartitionByRange(parts, col("rk").asc)
      .withColumn("pid", spark_partition_id())
    val wIn = Window.partitionBy(col("pid")).orderBy(col("rk").asc)
    val withCum = ranked
      .withColumn("cum_in", sum(col("cnt")).over(wIn))
      .cacheTracked()
    val offsets = withCum
      .groupBy(col("pid"))
      .agg(max(col("cum_in")).as("ptot"))
      .withColumn(
        "off",
        coalesce(
          sum(col("ptot")).over(
            Window.orderBy(col("pid").asc)
              .rowsBetween(Window.unboundedPreceding, -1)
          ),
          lit(0L)
        )
      )
      .select(col("pid"), col("off"))
    val tot = broadcast(terms.agg(sum(col("cnt")).as("tot")))
    withCum
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("cum", col("cum_in") + col("off"))
      .crossJoin(tot)
      .withColumn(
        "stratum",
        when(col("cum") * 100 <= col("tot") * 80, "head")
          .when(col("cum") * 100 <= col("tot") * 95, "torso")
          .otherwise("tail")
      )
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("cnt")).as("token_mass")
      )
      .crossJoin(tot)
      .select(
        col("stratum"),
        col("n_terms"),
        col("token_mass"),
        graft.functions.IntMath
          .microRatio(col("token_mass"), col("tot"))
          .as("coverage_ppm")
      )
  }

  /** q272: corpus composition cube — document counts and token mass
    * over every combination of (source, lang, content_class), with
    * all CUBE rollups (grouping_id disambiguates genuine NULLs from
    * rollup rows). The one artifact a mix planner actually opens:
    * "how much code is in zh from src3" and every marginal of it,
    * from one pass. Content class = q251's translate()-threshold
    * tagger, so this cube composes two gated operators.
    *
    * Scale: one tag+tokenize scan into a CUBE aggregate — Spark
    * expands 8 grouping sets map-side; output ∝ Π cardinalities.
    */
  def compositionCube(spark: SparkSession, dir: String): DataFrame = {
    val tagged = contentTypeTags(spark, dir)
      .select(col("doc_id"), col("content_class"))
    val base = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        col("source"),
        col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens")
      )
      .join(tagged, "doc_id")
    base
      .cube(col("source"), col("lang"), col("content_class"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens")
      )
      .select(
        col("source"),
        col("lang"),
        col("content_class"),
        col("gid"),
        col("n_docs"),
        col("tokens")
      )
  }

  /** q16: heuristic language ID vs the labeled lang column. */
  def languageId(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        langId(col("text")).as("predicted_lang")
      )

  /** q17: document fingerprints — md5 hex + 60-bit long prefix (the
    * exact-dedup / shard-routing key at scale).
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        fingerprintHex(col("text")).as("fp_hex"),
        fingerprintLong(col("text")).as("fp_long"),
        graft.functions.RollingHash.rollingHash(cleanText(col("text")))
          .as("fp_rolling")
      )

  /** q18: fan-out generator (SURVEY §2.5) re-expressed over documents —
    * 1 doc → 1..3 task rows via conditionally-built array + explode,
    * exactly the reference's transform_issue shape: guarded struct
    * construction, null-compaction, ordered emission.
    */
  def taskFanout(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val nTokens = tokenCount(col("text")).cast("long")
    val taskType = struct(
      lit("token_stats").as("task_type"),
      lit("Count the tokens in this document.").as("instruction"),
      nTokens.cast("string").as("output")
    )
    val summarize = when(
      col("n_chars") > 250,
      struct(
        lit("summarize").as("task_type"),
        lit("Summarize this document in one line.").as("instruction"),
        cleanText(col("text"), 80).as("output")
      )
    )
    val langVerify = when(
      col("lang") =!= "en",
      struct(
        lit("lang_verify").as("task_type"),
        concat(lit("Verify this document is in language: "), col("lang"))
          .as("instruction"),
        col("lang").as("output")
      )
    )
    d.select(
      col("doc_id"),
      explode(
        filter(array(taskType, summarize, langVerify), t => t.isNotNull)
      ).as("task")
    ).select(
      col("doc_id"),
      col("task.task_type").as("task_type"),
      col("task.instruction").as("instruction"),
      col("task.output").as("output")
    )
  }

  /** q19: corpus statistics by language (SURVEY §2.6 A1 + F10) —
    * distribution with share-of-total, the per-project stats analogue.
    */
  def langStats(spark: SparkSession, dir: String): DataFrame = {
    // per-lang mean of the exact-integer micro quality + ppm share —
    // the round-9 integer seam applied to the emission (round-11
    // float purge)
    val perLang = Tables
      .documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("n_tokens"),
        graft.functions.IntMath
          .idivHalfUp(
            sum(graft.functions.TextFunctions.qualityMicro(col("text"))),
            count(lit(1)))
          .as("avg_quality_micro")
      )
    perLang.withColumn(
      "share_ppm",
      graft.functions.IntMath
        .microRatio(col("n_docs"), sum(col("n_docs")).over(Window.partitionBy()))
    )
  }

  /** q51: corpus vocabulary — top-1000 tokens by frequency (BPE/
    * tokenizer-seeding pass). One explode + hash aggregate, then a
    * top-k (`TakeOrderedAndProject`, no global sort materialization):
    * the plan a 100 TB corpus wants — partial counts map-side, k rows
    * to the driver.
    */
  def vocabulary(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(1000)
      // ranking the k survivors: input is bounded to 1000 rows by the
      // limit, so a one-partition window is safe — the constant
      // partition key states that explicitly (an empty window spec
      // would mean "serialize EVERYTHING", which WindowExec rightly
      // warns about)
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(lit(0)).orderBy(col("n").desc, col("token").asc))
      )

  /** q74: TF-IDF top terms per document — the keyword-extraction /
    * quality-signal pass. tf is a (doc, term) hash aggregate; df a
    * term aggregate over it (both partial map-side); idf the smoothed
    * ln((N+1)/(df+1))+1. The doc count joins in as a broadcast single
    * row, the df table shuffles on term (vocabulary-sized, not
    * corpus-sized), and the final top-3 is one window over doc_id —
    * ordering on the ROUNDED score so ranking is reproducible across
    * engines. At 100 TB every stage is a key-shuffle of counts;
    * nothing is ever collected.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        round(
          col("tf") *
            (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) +
              lit(1.0)),
          6
        )
      )
    val w = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(
        col("doc_id"),
        col("term"),
        col("tf"),
        col("df"),
        col("tfidf"),
        col("rank")
      )
  }

  /** q133: BM25 top-k retrieval (Robertson-Spärck Jones probabilistic
    * ranking; the Lucene +1-inside-the-log idf variant, so idf is
    * always positive) — the retrieval operator a curation pipeline
    * runs for retrieval-based decontamination ("which training docs
    * would this eval query retrieve?") and quality-by-retrievability
    * audits. Query set = every doc with doc_id % 250 == 0 (the q73
    * eval-slice convention); each query's DISTINCT tokens score
    * against the corpus term index:
    *
    *   score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avg))
    *   idf(t)     = ln((N − df + 0.5)/(df + 0.5) + 1),  k1=1.2, b=0.75
    *
    * Scale: term frequencies, doc lengths, and document frequencies
    * are one partially-aggregated shuffle each (the same frames an
    * inverted index ships); the query set is corpus/250 rows of
    * (q_id, term) — broadcast; candidates are only (query, doc)
    * pairs SHARING a term (posting-join, never |Q|×|corpus|); the
    * corpus-wide stats ride along as one broadcast row. The rank ≤ k
    * window is rewritten by WindowGroupLimit to per-partition top-k
    * before the exchange. Ranking compares ROUNDED scores (6 places,
    * doc_id tiebreak) so rank membership is engine-exact.
    */
  /** The BM25 index artifact shared by q133/q151/q170/q177: ONE
    * cached (doc, term, tf) pass plus doc lengths, corpus stats, and
    * document frequencies. Plan-identical across callers, so the
    * session shares one materialization (at web scale this is the
    * persisted inverted index).
    */
  private def bm25Index(
      docs: DataFrame
  ): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .cacheTracked()
    val dlen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dlen.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avg_dl")
    )
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    (tf, dlen, stats, dft)
  }

  /** Lucene-variant BM25 idf — ONE definition for every retrieval
    * operator (a tuning change applied here reaches q133, q151,
    * q170, and q177 together).
    */
  private def bm25Idf: Column =
    log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) +
        lit(1.0)
    )

  /** BM25 tf normalization with k1 = 1.2, b = 0.75 (tf·(k1+1) /
    * (tf + k1·(1−b + b·dl/avgdl))) — single maintenance site.
    */
  private def bm25TfNorm: Column =
    col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / col("avg_dl")))

  def bm25TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the term-frequency index is the retrieval artifact: it feeds
    // document frequencies, doc lengths, and the scoring join —
    // materialize the tokenize+count pass once (at web scale this is
    // the persisted inverted index, not an in-memory cache)
    val (tf, dlen, stats, dft) = bm25Index(docs)
    val queries = docs
      .filter(col("doc_id") % 250 === 0)
      .select(
        col("doc_id").as("q_id"),
        explode(array_distinct(tokens(col("text")))).as("term")
      )
    val idf = bm25Idf
    val tfNorm = bm25TfNorm
    val w = Window
      .partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    broadcast(queries)
      .join(tf, Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(dft, Seq("term"))
      .join(dlen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(idf * tfNorm).as("s"))
      .select(
        col("q_id"),
        col("doc_id"),
        round(col("s"), 6).as("score")
      )
      // the (query, doc, score) stream is the inference artifact
      // (the q170 convention): the posting join re-ran per pass
      .cacheTracked()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** q170: self-retrieval MRR@10 — the retrieval-quality eval every
    * index build ships with: probe the BM25 index with each sample
    * document's 8 RAREST terms (lowest document frequency, term-ASC
    * ties — the terms that identify the doc, where a naive
    * first-tokens prefix is all stopwords) and record the reciprocal
    * rank at which the source document comes back (0 if outside the
    * top 10). Probing an index with its own documents' distinctive
    * terms is the standard zero-annotation sanity eval: over a
    * natural corpus a healthy index self-retrieves at MRR ≈ 1
    * (modulo true near-dups, which legitimately outrank), and a drop
    * after an index rebuild is the regression alarm. Note the eval
    * is as much about the CORPUS as the index: on template-generated
    * text where every token is corpus-common (the synthetic test
    * tables: min df ≈ 0.76·N), no unigram probe can identify a doc
    * and MRR ≈ 0 is the faithful verdict — which is exactly the
    * lexical-diversity alarm this probe exists to raise.
    *
    * Scale: the same cached tf index as q133/q151 (plan-identical,
    * so the session shares one materialization); rarest-term
    * selection is a per-query-doc WindowGroupLimit over the df join;
    * the probe join is broadcast-query posting lookup; per-query
    * rank is a WindowGroupLimit top-k.
    */
  def selfRetrievalMrr(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      prefixLen: Int = 8
  ): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (tf, dlen, stats, dft) = bm25Index(docs)
    val wRare = Window
      .partitionBy(col("q_id"))
      .orderBy(col("df").asc, col("term").asc)
    val queries = docs
      .filter(col("doc_id") % 250 === 0)
      .select(
        col("doc_id").as("q_id"),
        explode(array_distinct(tokens(col("text")))).as("term")
      )
      .join(dft, Seq("term"))
      .withColumn("trk", row_number().over(wRare))
      .filter(col("trk") <= prefixLen)
      .select(col("q_id"), col("term"))
    val idf = bm25Idf
    val tfNorm = bm25TfNorm
    val w = Window
      .partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val self = broadcast(queries)
      .join(tf, Seq("term"))
      .join(dft, Seq("term"))
      .join(dlen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(idf * tfNorm), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k && col("doc_id") === col("q_id"))
      .select(col("q_id"), col("rank"))
      // the per-query retrieval ranks are the inference artifact
      // (the nbLangId convention): the posting join + per-query
      // window behind them re-ran per pass (~28 s task-time)
      .cacheTracked()
    queries
      .select(col("q_id"))
      .distinct()
      .join(self, Seq("q_id"), "left")
      .select(
        col("q_id"),
        coalesce(col("rank"), lit(0)).cast("int").as("self_rank"),
        when(col("rank").isNotNull,
          graft.functions.IntMath.idivHalfUp(lit(1000000L), col("rank")))
          .otherwise(lit(0L))
          .as("rr_micro")
      )
  }

  /** q151: reciprocal-rank-fusion hybrid retrieval — the standard way
    * a curation pipeline combines two retrievers with incomparable
    * score scales (here BM25 and TF-IDF cosine; in production, BM25
    * and a dense ANN index): fuse by RANK, not score,
    *   rrf(d) = Σ_rankers 1 / (C + rank_r(d)),  C = 60,
    * over each ranker's top `kRank`, keep the fused top `k`. Used for
    * retrieval-based decontamination and "what would this eval query
    * pull from the training set" audits where either ranker alone has
    * known blind spots.
    *
    * Scale: ONE tokenize+count pass feeds both rankers (the cached
    * term-frequency index — the same artifact q133 ships); each
    * ranker is a posting join against the broadcast query set, never
    * |Q|×|corpus|; the fused list is a full-outer join of two
    * (|Q|·kRank)-row frames — trivially small. Determinism: both
    * rankers rank ROUNDED (6-place) scores with a doc_id tiebreak,
    * and the fused score is a sum of exact IEEE reciprocals of
    * integer ranks, so fusion is engine-exact by construction.
    */
  def hybridRrf(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      kRank: Int = 20,
      rrfC: Int = 60
  ): DataFrame = {
    val scored = retrievalScored(spark, dir)
    def topRanks(scoreCol: Column, rankName: String): DataFrame = {
      val w = Window
        .partitionBy(col("q_id"))
        .orderBy(scoreCol.desc, col("doc_id").asc)
      scored
        .withColumn(rankName, row_number().over(w))
        .filter(col(rankName) <= kRank)
        .select(col("q_id"), col("doc_id"), col(rankName))
    }
    val bm = topRanks(col("bm_score"), "bm25_rank")
    val cos = topRanks(
      round(col("dot") / (col("q_nrm") * col("nrm")), 6),
      "cos_rank"
    )

    // fuse by rank; a doc missing from one list contributes 0 there
    val wFuse = Window
      .partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    bm
      .join(cos, Seq("q_id", "doc_id"), "full_outer")
      .withColumn(
        "rrf",
        round(
          coalesce(lit(1.0) / (lit(rrfC) + col("bm25_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfC) + col("cos_rank")), lit(0.0)),
          6
        )
      )
      .withColumn("rank", row_number().over(wFuse))
      .filter(col("rank") <= k)
      .select(
        col("q_id"),
        col("doc_id"),
        col("rank"),
        col("rrf"),
        col("bm25_rank"),
        col("cos_rank")
      )
  }

  /** The shared two-ranker candidate frame behind q151 and q177:
    * one enriched posting index feeding one broadcast candidate join
    * that aggregates BOTH the BM25 score and the cosine dot per
    * (q_id, doc_id), with document norms joined in. Plan-identical
    * across callers, so the session shares one cached
    * materialization.
    */
  private def retrievalScored(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (tf, dlen, stats, dft) = bm25Index(docs)

    // Both rankers score the SAME candidate set (pairs sharing ≥1
    // term), so one enriched posting index — (doc, term) with tf, df,
    // dl, corpus stats, and the cosine weight — feeds one broadcast
    // candidate join that aggregates BOTH scores per (q_id, doc_id).
    // This halves the heavy term joins vs running the rankers apart;
    // the per-ranker formulas and rounding are byte-identical.
    val idfCos = log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) +
      lit(1.0)
    val enriched = tf
      .join(dft, Seq("term"))
      .join(dlen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("w", col("tf") * idfCos)
      .cacheTracked()
    val norms = enriched
      .groupBy(col("doc_id"))
      .agg(round(sqrt(sum(col("w") * col("w"))), 6).as("nrm"))
    val qside = enriched
      .filter(col("doc_id") % 250 === 0)
      .select(col("doc_id").as("q_id"), col("term"), col("w").as("qwt"))
      .join(
        norms.select(col("doc_id").as("q_id"), col("nrm").as("q_nrm")),
        Seq("q_id")
      )

    // ranker 1 formula: BM25 (the exact q133 scoring chain)
    val idfBm = bm25Idf
    val tfNorm = bm25TfNorm

    val scored = broadcast(qside)
      .join(enriched, Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"), col("q_nrm"))
      .agg(
        round(sum(idfBm * tfNorm), 6).as("bm_score"),
        round(sum(col("qwt") * col("w")), 6).as("dot")
      )
      .join(norms, Seq("doc_id"))
      .cacheTracked()
    scored
  }

  /** q177: retrieve-then-rerank — the canonical two-stage serving
    * shape: a cheap high-recall first stage (BM25 top-20) hands its
    * candidate set to an expensive precise second stage (exact
    * TF-IDF cosine; in production, a cross-encoder) that produces
    * the final top-10 order. The point at scale: the expensive
    * scorer touches ONLY the recall set — |Q|·20 rows — never the
    * corpus.
    *
    * Both scores come off the same shared candidate frame as q151
    * (plan-identical, one session materialization); the rerank is a
    * join of the recall list against its own scores plus one
    * |Q|·20-row window.
    */
  def retrieveRerank(
      spark: SparkSession,
      dir: String,
      kRecall: Int = 20,
      k: Int = 10
  ): DataFrame = {
    val scored = retrievalScored(spark, dir)
    val wBm = Window
      .partitionBy(col("q_id"))
      .orderBy(col("bm_score").desc, col("doc_id").asc)
    val recall = scored
      .withColumn("bm25_rank", row_number().over(wBm))
      .filter(col("bm25_rank") <= kRecall)
      .select(
        col("q_id"),
        col("doc_id"),
        col("bm25_rank"),
        round(col("dot") / (col("q_nrm") * col("nrm")), 6).as("cos_score")
      )
    val wRe = Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos_score").desc, col("doc_id").asc)
    recall
      .withColumn("rerank", row_number().over(wRe))
      .filter(col("rerank") <= k)
      .select(
        col("q_id"),
        col("doc_id"),
        col("rerank"),
        col("cos_score"),
        col("bm25_rank")
      )
  }

  /** q52: sentence chunking — split on terminal punctuation + space,
    * one row per sentence with its 1-based index. The chunking pass
    * that precedes context-window assembly; narrow (no shuffle).
    */
  def sentences(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        posexplode(split(trim(col("text")), "[.!?]+\\s+"))
          .as(Seq("idx", "sentence"))
      )
      .select(
        col("doc_id"),
        (col("idx") + 1).as("sent_idx"),
        col("sentence")
      )

  /** q59: PII scrubbing — redact email addresses and phone-shaped
    * numbers (RE2-compatible patterns so the SQL oracle matches),
    * with per-doc redaction counts. Narrow map, no shuffle.
    */
  def redactPii(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b"
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe,
          "<PHONE>"
        ).as("redacted"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .cast("long")
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0)))
          .cast("long")
          .as("n_phones")
      )
  }

  /** q60: repetition-based quality flags (the Gopher-style filters a
    * pretraining pipeline applies): duplicate-token and duplicate-
    * bigram fractions per document, and the resulting keep/drop flag.
    *
    * Uses the fused [[graft.functions.RepetitionCounts]] expression —
    * one traversal computes all four counts. The HOF column form it
    * replaces ([[repetitionStatsHof]]) re-evaluates `size(tokens(t))`
    * inside the bigram lambda, i.e. re-tokenizes per element
    * (quadratic in document length): 18.2 s → sub-second on the sf0.1
    * corpus once honest (non-pruned) timing exposed it.
    * RepetitionCountsSpec pins the two forms bit-identical; float
    * math stays in Catalyst via `repetitionFromCounts`.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    // exact-integer ppm twins of the float fractions (round-11 float
    // purge): dup_x_ppm = halfUp((n − n_distinct)·10⁶ / n), 0 on
    // empty; the keep thresholds are restated on the ppm scale so
    // the flag derives from the hashed columns themselves
    Tables
      .documents(spark, dir)
      .withColumn(
        "rc",
        graft.functions.RepetitionCounts.repetitionCounts(col("text")))
      .select(
        col("doc_id"),
        col("rc.n_tokens").as("n_tokens"),
        when(col("rc.n_tokens") === 0L, lit(0L))
          .otherwise(microRatio(
            col("rc.n_tokens") - col("rc.n_distinct_tokens"),
            col("rc.n_tokens")))
          .as("dup_token_ppm"),
        when(col("rc.n_bigrams") === 0L, lit(0L))
          .otherwise(microRatio(
            col("rc.n_bigrams") - col("rc.n_distinct_bigrams"),
            col("rc.n_bigrams")))
          .as("dup_bigram_ppm")
      )
      .withColumn(
        "keep",
        col("dup_token_ppm") <= 700000L && col("dup_bigram_ppm") <= 500000L
      )
  }

  /** The higher-order-function formulation q60 shipped with, kept as
    * the differential-testing twin for the fused expression.
    */
  def repetitionStatsHof(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val bigrams = filter(
      transform(t, (w, i) =>
        when(i < size(t) - 1,
          concat(w, lit(" "), element_at(t, i + 2)))),
      b => b.isNotNull
    )
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        size(t).cast("long").as("n_tokens"),
        round(
          when(size(t) === 0, 0.0).otherwise(
            lit(1.0) - size(array_distinct(t)).cast("double") / size(t)),
          6
        ).as("dup_token_frac"),
        round(
          when(size(bigrams) === 0, 0.0).otherwise(
            lit(1.0) -
              size(array_distinct(bigrams)).cast("double") / size(bigrams)),
          6
        ).as("dup_bigram_frac")
      )
      .withColumn(
        "keep",
        col("dup_token_frac") <= 0.7 && col("dup_bigram_frac") <= 0.5
      )
  }

  /** q250: padding-waste curve of the UNPACKED loader across context
    * lengths — for each candidate window length L ∈ {512, 1024,
    * 2048, 4096}, chunk every doc alone into ⌈n/L⌉ windows and pad
    * the last: waste(L) = Σ(⌈n/L⌉·L − n). The context-length
    * decision sheet, and the quantified argument FOR q53's packed
    * layout (whose waste is only the per-language final partial
    * window): read waste_ppm here against q202's packed audit.
    *
    * Scale: one tokenize scan × 4 literal lengths (an exploded
    * constant array, no extra pass), one 4-row agg. Exact integer
    * arithmetic throughout.
    */
  def paddingWasteCurve(spark: SparkSession, dir: String): DataFrame = {
    val lens = Seq(512L, 1024L, 2048L, 4096L)
    Tables
      .documents(spark, dir)
      .select(size(tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("n"), explode(lit(lens.toArray)).as("len"))
      .withColumn("n_windows", ceil(col("n").cast("double") / col("len")).cast("long"))
      .groupBy(col("len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(col("n_windows")).as("n_windows"),
        sum(col("n_windows") * col("len") - col("n")).as("padded_tokens")
      )
      .select(
        col("len"),
        col("n_docs"),
        col("total_tokens"),
        col("n_windows"),
        col("padded_tokens"),
        graft.functions.IntMath
          .microRatio(col("padded_tokens"), col("n_windows") * col("len"))
          .as("waste_ppm")
      )
  }

  /** q53: sequence packing — assign docs to fixed token-budget
    * context windows, greedy by doc_id within language. The window id
    * is floor(start_offset / budget) over the per-lang running token
    * count: deterministic, one shuffle on lang, and each window's
    * docs are contiguous — the layout a packed-pretraining writer
    * needs.
    */
  def packWindows(spark: SparkSession, dir: String, budget: Int = 2048): DataFrame = {
    val byLang = Window
      .partitionBy(col("lang"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        col("lang"),
        tokenCount(col("text")).cast("long").as("n_tokens")
      )
      .withColumn("cum_tokens", sum(col("n_tokens")).over(byLang))
      .withColumn(
        "window_id",
        ((col("cum_tokens") - col("n_tokens")) / budget).cast("long")
      )
  }

  /** q228: span-level packed layout — the q53 assignment taken to
    * its writer artifact: every document becomes one row PER WINDOW
    * IT TOUCHES, with the doc-local token range [tok_start,
    * tok_start+tok_len) that lands in that window. This is the
    * physical layout a packed-pretraining writer emits (window w =
    * concat of its spans in (doc_id) order, docs split exactly at
    * budget boundaries, zero padding between spans) — q53 says WHERE
    * a doc starts, q202 audits the waste, this op emits the actual
    * span map the dataloader consumes.
    *
    * Scale: one pass over the q53 frame; the explode emits
    * (1 + windows-crossed) rows per doc — Σ spans = n_docs +
    * boundary crossings, linear in corpus tokens / budget. No new
    * shuffle beyond q53's per-language cumsum.
    */
  def packSpans(
      spark: SparkSession,
      dir: String,
      budget: Int = 2048
  ): DataFrame = {
    val base = packWindows(spark, dir, budget)
      .filter(col("n_tokens") > 0)
      .withColumn("gstart", col("cum_tokens") - col("n_tokens"))
    base
      .select(
        col("lang"),
        col("doc_id"),
        col("gstart"),
        col("cum_tokens"),
        explode(
          sequence(
            (col("gstart") / budget).cast("long"),
            ((col("cum_tokens") - 1) / budget).cast("long")
          )
        ).as("window_id")
      )
      .withColumn(
        "span_gstart",
        greatest(col("gstart"), col("window_id") * budget))
      .withColumn(
        "span_gend",
        least(col("cum_tokens"), (col("window_id") + 1) * budget))
      .select(
        col("lang"),
        col("window_id"),
        col("doc_id"),
        (col("span_gstart") - col("gstart")).as("tok_start"),
        (col("span_gend") - col("span_gstart")).as("tok_len")
      )
  }

  /** q202: packing-efficiency audit over the q53 layout — per
    * language: window count, mean window fill (Σ tokens ÷ budget),
    * windows whose content overflows the budget (a doc STARTING
    * inside the window runs past its end — the overflow the packer
    * either truncates or spills), and documents that span a window
    * boundary. The padding/truncation-waste dashboard a packed-
    * pretraining writer reads before committing a context budget:
    * low mean fill wastes compute on padding, high overflow wastes
    * tokens on truncation.
    *
    * Scale: one pass over the q53 frame (itself one lang-shuffle),
    * one (lang, window) aggregate, one per-lang rollup — output is
    * |langs| rows at any corpus size.
    */
  def packingAudit(
      spark: SparkSession,
      dir: String,
      budget: Int = 2048
  ): DataFrame = {
    val w = packWindows(spark, dir, budget)
      // feeds the window aggregate and the spanning-doc count
      .cacheTracked()
    val winAgg = w
      .groupBy(col("lang"), col("window_id"))
      .agg(sum(col("n_tokens")).as("win_tokens"))
    val spanning = w
      .filter(col("n_tokens") > 0)
      .filter(
        ((col("cum_tokens") - 1) / budget).cast("long") =!= col("window_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("spanning_docs"))
    winAgg
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_windows"),
        graft.functions.IntMath
          .microRatio(
            sum(col("win_tokens")),
            count(lit(1)) * budget.toLong)
          .as("mean_fill_ppm"),
        sum(when(col("win_tokens") > budget, 1L).otherwise(0L))
          .as("overflow_windows")
      )
      .join(spanning, Seq("lang"), "left")
      .select(
        col("lang"),
        col("n_windows"),
        col("mean_fill_ppm"),
        col("overflow_windows"),
        coalesce(col("spanning_docs"), lit(0L)).as("spanning_docs")
      )
  }

  /** q204: Good-Turing frequency spectrum (Gale & Sampson, "Good-
    * Turing frequency estimation without tears", JQL 1995) over the
    * corpus unigram counts — for each observed count r ≤ maxR: the
    * number of types N_r, the Turing-smoothed adjusted count
    * r* = (r+1)·N_{r+1}/N_r, the probability mass r·N_r/N at that
    * count, and the unseen-event mass P₀ = N₁/N. The estimate an LM
    * builder reads before choosing a smoothing scheme (the q149
    * Kneser-Ney discount is exactly a reparameterized r*) and the
    * standard estimator for "how much vocabulary have we NOT seen" —
    * at 100 TB of web text P₀ tells you whether another crawl is
    * worth tokenizing.
    *
    * `r_star` is NULL at spectrum gaps (no types observed exactly
    * r+1 times) — Good-Turing is undefined there and smoothing
    * implementations fall back to a fitted power law.
    *
    * The output keeps the `maxRows` SMALLEST observed counts rather
    * than a fixed r ≤ cap: the low end of the spectrum is where
    * smoothing decisions live, and its absolute position depends on
    * corpus size (a fixed cap returns nothing once every type clears
    * it).
    *
    * Scale: one tokenize scan → word-count shuffle (partial agg) →
    * count-of-counts shuffle on r; the spectrum is ≤ |distinct
    * counts| rows (vastly smaller than the vocabulary), so the
    * rank-and-keep tail is a single tiny window.
    */
  def goodTuring(
      spark: SparkSession,
      dir: String,
      maxRows: Int = 10
  ): DataFrame = {
    val wc = Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("r"))
    val spec = wc
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n_types"))
      // read three times: the output rows, the r+1 lookup, the totals
      .cacheTracked()
    val tot = spec.agg(
      sum(col("r") * col("n_types")).as("n_total"),
      sum(when(col("r") === 1, col("n_types"))).as("n1")
    )
    val nxt = spec.select(
      (col("r") - 1).as("r"),
      col("n_types").as("n_next")
    )
    spec
      .withColumn(
        "rk",
        row_number().over(Window.orderBy(col("r").asc))
      )
      .filter(col("rk") <= maxRows)
      .drop("rk")
      .join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(
        col("r"),
        col("n_types"),
        // exact micro/ppm integer emissions (round-12 float purge):
        // every Good-Turing statistic is a ratio of exact counts.
        // r_star is NULL when no (r+1) class exists, matching the
        // double form's NULL propagation on both engines.
        graft.functions.IntMath
          .microRatio((col("r") + 1) * col("n_next"), col("n_types"))
          .as("r_star_micro"),
        graft.functions.IntMath
          .microRatio(col("r") * col("n_types"), col("n_total"))
          .as("prob_mass_ppm"),
        graft.functions.IntMath
          .microRatio(coalesce(col("n1"), lit(0L)), col("n_total"))
          .as("p0_ppm")
      )
  }

  /** q220: term burstiness / adaptation (Church & Gale, "Poisson
    * mixtures", 1995): for every term with document frequency ≥ 3,
    * the collection frequency cf, document frequency df, burstiness
    * cf/df (mean occurrences per containing document), and the
    * Poisson-expected document frequency E[df] = D·(1−e^(−cf/D)) with
    * the adaptation ratio E[df]/df. Terms with ratio ≫ 1 occur in far
    * fewer documents than a Poisson scatter of their mass predicts —
    * they are bursty (topical, templated, or boilerplate), and
    * burstiness is what separates a CONTENT term from a frequent
    * function word at equal cf. Feeds stopword discovery (q160) and
    * boilerplate detection from a statistical direction.
    *
    * Scale: one tokenize scan → (term, doc) partial-agg → per-term
    * rollup; one broadcast corpus-count row. Output ∝ vocabulary.
    */
  def termBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("w"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val perTerm = perDoc
      .groupBy(col("w"))
      .agg(sum(col("tf")).as("cf"), count(lit(1)).as("df"))
      .filter(col("df") >= 3)
    val d = docs.agg(count(lit(1)).as("n_docs"))
    // hashed surface is pure integers: cf, df, n_docs, and the exact
    // half-up burstiness ratio. The Poisson adaptation ratio
    // E[df]/df = n_docs·(1−e^(−cf/n_docs))/df needs libm exp — not
    // correctly rounded, so it differs across engines/versions — and
    // therefore lives in Round8dOpsSpec "q220 burstiness…"
    // (recomputed from the emitted exact inputs, asserted within
    // tolerance), never in an emitted column (round-9 convention).
    perTerm
      .crossJoin(broadcast(d))
      .select(
        col("w"),
        col("cf"),
        col("df"),
        col("n_docs"),
        graft.functions.IntMath.microRatio(col("cf"), col("df"))
          .as("burst_micro")
      )
  }

  /** q226: gate-ensemble vote histogram — every document's keep
    * votes across the four quality gates, bucketed by how many gates
    * scored it (the LM gates only score ≥ 3-token documents) and how
    * many voted keep, with the strict-majority ensemble verdict
    * (2·votes > n_gates). The composition the q190/q206 agreement
    * stats exist to justify: once κ says the gates measure different
    * things, majority vote is the standard variance-reducing
    * combiner, and this histogram is its yield table — how much
    * corpus each vote level carries and what the ensemble keeps.
    *
    * Scale: the shared gate-flag frame + one doc_id rollup + one
    * ≤ 10-row histogram aggregate.
    */
  def gateEnsemble(spark: SparkSession, dir: String): DataFrame =
    gateFlags(spark, dir)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_gates"),
        sum(col("f").cast("long")).as("votes")
      )
      .withColumn("kept", (col("votes") * 2 > col("n_gates")).cast("int"))
      .groupBy(col("n_gates"), col("votes"), col("kept"))
      .agg(count(lit(1)).as("n_docs"))

  /** q233: batch-shape planning histogram — documents bucketed by
    * power-of-two token-length class (bucket k holds lengths in
    * [2^k, 2^(k+1)); k derives from the binary representation, pure
    * integer arithmetic), with the padding waste of batching each
    * class to its ceiling: padded = n_docs · 2^(k+1), waste =
    * (padded − Σ tokens)/padded in ppm. The length-bucketing table a
    * dynamic-batching dataloader (or a padded inference server) reads
    * to pick its bucket boundaries: classes with high waste want a
    * finer split, classes with few docs want merging.
    *
    * Scale: one tokenize scan → ≤ 64-row rollup. Nothing else.
    */
  def batchShapeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    Tables
      .documents(spark, dir)
      .select(n.as("n"))
      .filter(col("n") >= 1)
      // bucket = bit-length(n) - 1, via the binary-string length —
      // exact at powers of two where floor(log2) float-drifts
      .withColumn("bucket", (length(bin(col("n"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
      .withColumn(
        "cap",
        expr("CAST(shiftleft(1L, CAST(bucket + 1 AS INT)) AS BIGINT)"))
      .withColumn("padded_tokens", col("n_docs") * col("cap"))
      .withColumn(
        "waste_ppm",
        graft.functions.IntMath.microRatio(
          col("padded_tokens") - col("sum_tokens"),
          col("padded_tokens"))
      )
  }

  /** q229: gate-ablation audit — per gate: how many documents it
    * scored, how many it passes, and its UNIQUE rejection mass (docs
    * it alone drops — every other gate that scored them votes keep).
    * The delete-a-gate decision input: a gate whose unique mass is
    * near zero is redundant with the ensemble and its compute can go;
    * a gate with large unique mass is the only thing standing between
    * those documents and the corpus, so removing it changes the
    * corpus by exactly that mass. Complements q190/q206 (pairwise
    * agreement) with the set-level marginal view.
    *
    * Scale: the shared gate-flag frame + one per-doc vote rollup +
    * one co-partitioned join back + a 4-row aggregate.
    */
  def gateAblation(spark: SparkSession, dir: String): DataFrame = {
    val flags = gateFlags(spark, dir)
    val perDoc = flags
      .groupBy(col("doc_id"))
      .agg(
        sum(col("f").cast("long")).as("votes"),
        count(lit(1)).as("n_gates")
      )
    flags
      .join(perDoc, Seq("doc_id"))
      .groupBy(col("gate"))
      .agg(
        count(lit(1)).as("n_scored"),
        sum(col("f").cast("long")).as("n_pass"),
        sum(
          when(!col("f") && col("votes") === col("n_gates") - 1, 1L)
            .otherwise(0L)
        ).as("n_unique_drop")
      )
  }

  /** q224: distinctive terms via log-odds with an informative
    * Dirichlet prior (Monroe, Colaresi & Quinn, "Fightin' Words",
    * Political Analysis 2008): src0 vs the rest of the corpus, prior
    * α_w = α₀·(pooled frequency share), per-term
    * δ_w = ln((y1+α_w)/(n1+α₀−y1−α_w)) − ln((y2+α_w)/(n2+α₀−y2−α_w)),
    * z = δ/√(1/(y1+α_w) + 1/(y2+α_w)); the top `k` terms in each
    * direction. The corpus-comparison tool that raw frequency ratios
    * get wrong twice (rare terms explode, common terms wash out) —
    * used to characterize WHAT a source contributes before deciding
    * its mix weight, and to spot templated boilerplate (absurd |z|).
    *
    * Scale: one tokenize scan → per-(term, side) partial-agg counts →
    * vocabulary-sized score frame; the two top-k windows run on that
    * vocabulary-bounded frame.
    */
  def fightinWords(
      spark: SparkSession,
      dir: String,
      alpha0: Double = 1000.0,
      k: Int = 10
  ): DataFrame = {
    val counts = Tables
      .documents(spark, dir)
      .select(
        (col("source") === "src0").as("in1"),
        explode(tokens(col("text"))).as("w")
      )
      .groupBy(col("w"))
      .agg(
        sum(when(col("in1"), 1L).otherwise(0L)).as("y1"),
        sum(when(!col("in1"), 1L).otherwise(0L)).as("y2")
      )
    val tot = counts.agg(
      sum(col("y1")).as("n1"),
      sum(col("y2")).as("n2")
    )
    // (α0 · pooled) / total, associated exactly like the oracle text
    val aw = (lit(alpha0) * (col("y1") + col("y2")).cast("double")) /
      (col("n1") + col("n2"))
    val d1 = log((col("y1") + aw) / (col("n1") + alpha0 - col("y1") - aw))
    val d2 = log((col("y2") + aw) / (col("n2") + alpha0 - col("y2") - aw))
    val z = (d1 - d2) /
      sqrt(lit(1.0) / (col("y1") + aw) + lit(1.0) / (col("y2") + aw))
    val scored = counts
      .crossJoin(broadcast(tot))
      .select(
        col("w"),
        col("y1"),
        col("y2"),
        round(z * lit(1e6)).cast("long").as("z_micro")
      )
    val up = Window.orderBy(col("z_micro").desc, col("w").asc)
    val down = Window.orderBy(col("z_micro").asc, col("w").asc)
    scored
      .withColumn("rk", row_number().over(up))
      .filter(col("rk") <= k)
      .withColumn("direction", lit("src0"))
      .unionByName(
        scored
          .withColumn("rk", row_number().over(down))
          .filter(col("rk") <= k)
          .withColumn("direction", lit("rest"))
      )
      .select(
        col("direction"),
        col("rk"),
        col("w"),
        col("y1"),
        col("y2"),
        col("z_micro")
      )
  }

  /** q211: source reputation with empirical-Bayes shrinkage — per
    * source: document count, raw mean quality, and the mean shrunk
    * toward the corpus mean with `pseudo` pseudo-observations
    * (James-Stein-style partial pooling: shrunk = (Σq + k·μ)/(n+k)).
    * The ranking a curation team actually uses to admit or demote a
    * SOURCE: a 30-document domain with a lucky mean must not outrank
    * a 3M-document domain scoring marginally lower, and shrinkage is
    * the standard fix. Per-doc quality is integerized to micro-units
    * first, so every sum is exact integer arithmetic and only the
    * final two divisions touch doubles.
    *
    * Scale: one scored scan → per-source partial-agg (|sources|
    * rows) → one broadcast corpus-total row. No corpus shuffle.
    */
  def sourceReputation(
      spark: SparkSession,
      dir: String,
      pseudo: Int = 20
  ): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .select(col("doc_id"), col("source"))
      .join(qualityMicroScoresFrom(docs), Seq("doc_id"))
    val perSource = scored
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q_micro")).as("sum_qm"))
    val global = perSource.agg(
      sum(col("n_docs")).as("g_n"),
      sum(col("sum_qm")).as("g_sum")
    )
    // exact integer shrinkage: the global mean is itself a half-up
    // integer (one extra deterministic rounding vs the pure rational
    // form (g_n·sum_qm + pseudo·g_sum)/(g_n·(n+pseudo)) — chosen so
    // the products stay under 2^63 at any corpus size)
    perSource
      .crossJoin(broadcast(global))
      .select(
        col("source"),
        col("n_docs"),
        idivHalfUp(col("sum_qm"), col("n_docs")).as("mean_q_micro"),
        idivHalfUp(
          col("sum_qm") +
            lit(pseudo.toLong) * idivHalfUp(col("g_sum"), col("g_n")),
          col("n_docs") + lit(pseudo.toLong)
        ).as("shrunk_q_micro")
      )
  }

  /** q210: prefix-sharing curve — at each probe depth (1, 2, 4, 8,
    * 16 leading tokens), how many distinct prefixes are shared by ≥ 2
    * documents, how many documents sit in a shared-prefix group, and
    * the total prefix tokens a prefix-aware cache would not recompute
    * (Σ (group−1)·depth). The capacity-planning curve for inference-
    * time KV-cache sharing (vLLM-style automatic prefix caching) and
    * for prefix-grouped training batches: templated corpora (chat
    * transcripts, boilerplate headers, few-shot prompts) show heavy
    * shallow sharing that decays with depth, and the knee of this
    * curve is the cache depth worth provisioning.
    *
    * Documents shorter than the probe depth can't share a full
    * prefix of that depth and are excluded from that row.
    *
    * Scale: docs × 5 depths explode (constant factor), one
    * (depth, prefix) partial-agg count, one 5-row rollup. The prefix
    * strings shuffle hashed with their groups — at 100 TB hash the
    * prefix to 64 bits first and carry the string only for reporting.
    */
  def prefixSharing(
      spark: SparkSession,
      dir: String,
      depths: Seq[Int] = Seq(1, 2, 4, 8, 16)
  ): DataFrame = {
    val groups = Tables
      .documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(
        col("doc_id"),
        col("t"),
        explode(lit(depths.toArray)).as("depth")
      )
      .filter(size(col("t")) >= col("depth"))
      .select(
        col("depth").cast("long").as("depth"),
        array_join(slice(col("t"), lit(1), col("depth")), " ").as("prefix")
      )
      .groupBy(col("depth"), col("prefix"))
      .agg(count(lit(1)).as("cnt"))
    groups
      .groupBy(col("depth"))
      .agg(
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_shared_prefixes"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L))
          .as("n_docs_sharing"),
        sum(when(col("cnt") > 1, (col("cnt") - 1) * col("depth"))
          .otherwise(0L)).as("saved_tokens")
      )
  }

  /** GPT-2-style pre-tokenization pattern: contraction suffixes,
    * optional-space letter runs, digit runs, punctuation runs,
    * whitespace runs. Deliberately restricted to constructs with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB): no
    * lookarounds, no backreferences.
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** q66: BPE-ish token counting — the subword-oriented estimate a
    * training pipeline uses for context budgeting (whitespace tokens
    * undercount code/punctuation-heavy text). Counts the GPT-2
    * pre-tokenizer segments per document next to the whitespace count
    * and their ratio. Pure map stage: no shuffle, regex evaluated
    * once per row.
    */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast("long")
          .as("n_bpe_tokens"),
        tokenCount(col("text")).cast("long").as("n_ws_tokens")
      )
      .withColumn(
        "bpe_per_ws_milli",
        when(col("n_ws_tokens") === 0, lit(0L))
          .otherwise(
            graft.functions.IntMath
              .idivHalfUp(col("n_bpe_tokens") * 1000L, col("n_ws_tokens")))
      )

  /** q80: per-language token-count percentiles — exact
    * linear-interpolated quartiles (`percentile`, the SQL-standard
    * PERCENTILE_CONT semantics DuckDB's quantile_cont mirrors) of the
    * document length distribution, the sequence-length profile that
    * sizes context budgets and packing. Exact percentile buffers one
    * count-map per (partition, group) — right for a grouped profile
    * with bounded group count; a 100 TB ungrouped profile would swap
    * in `approx_percentile` (t-digest, mergeable constant-size
    * sketch) at the cost of exactness.
    */
  def langTokenPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("lang"), tokenCount(col("text")).cast("long").as("n"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n, array(0.25D, 0.5D, 0.75D))").as("pct"),
        max(col("n")).as("max_tokens")
      )
      .select(
        col("lang"),
        col("n_docs"),
        round(element_at(col("pct"), 1), 6).as("p25"),
        round(element_at(col("pct"), 2), 6).as("p50"),
        round(element_at(col("pct"), 3), 6).as("p75"),
        col("max_tokens")
      )

  /** q81: corpus quality histogram — fixed-width binning of the
    * quality score into 20 buckets over [0, 1]. The bucket index is
    * integer arithmetic on the ROUNDED score, so bin membership is
    * engine-reproducible (no float-edge flapping); out-of-range
    * scores clamp into the edge bins. groupBy on a computed key:
    * partial counts map-side, 20 rows shuffle. The shape-inspection
    * pass run before choosing curriculum/filter thresholds.
    */
  def qualityHistogram(spark: SparkSession, dir: String): DataFrame =
    qualityMicroScores(spark, dir)
      .select(
        least(
          // bucket = q·20 = q_micro div 50000, exact integers
          graft.functions.IntMath
            .idiv(col("q_micro"), lit(50000L)).cast("int"),
          lit(19)
        ).as("bucket")
      )
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      // bucket width is exactly 0.05 = 5 centi — emit the bounds as
      // exact centi integers (round-11 float purge)
      .withColumn("bucket_lo_centi", col("bucket").cast("long") * 5L)
      .withColumn("bucket_hi_centi", (col("bucket") + 1).cast("long") * 5L)

  /** q84: corpus bigram language model — for every token, the top-3
    * next tokens by conditional probability (count ratio within the
    * w1 group; w2-asc tiebreak). Bigrams come from one in-row
    * `zip_with` of the token array against its own shift (no
    * per-position re-tokenization — the array is computed once per
    * row), then a (w1, w2) hash aggregate; the probability and the
    * rank share ONE w1 partitioning, and the rank≤3 filter gets the
    * WindowGroupLimit pushdown, so no group ever materializes beyond
    * its top-k in the final stage. The n-gram statistics pass of
    * tokenizer/LM corpus prep: shuffle volume is the distinct bigram
    * table, never the corpus.
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    val bi = Tables
      .documents(spark, dir)
      .select(tokens(col("text")).as("t"))
      .filter(size(t) >= 2)
      .select(
        explode(
          zip_with(
            slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))
          )
        ).as("b")
      )
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val byW1 = Window.partitionBy(col("w1"))
    val rankW = byW1.orderBy(col("n").desc, col("w2").asc)
    bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      // exact ppm of the count ratio (round-12 float purge)
      .withColumn(
        "p_ppm",
        graft.functions.IntMath.microRatio(col("n"), sum(col("n")).over(byW1))
      )
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= 3)
  }

  /** q85: fixed-size document chunking — shard each document into
    * 200-character segments with a 1-based index (the context-window
    * splitting pass run before tokenization when documents exceed
    * the model's sequence budget). Pure in-row `sequence` + explode +
    * `substring`: shuffle-free at any scale, and chunk boundaries
    * are content-deterministic (chunk k of a doc is identical on any
    * cluster layout). Last chunk is short, never padded — padding is
    * the packer's job (q53), not the splitter's.
    */
  def docChunks(spark: SparkSession, dir: String, width: Int = 200): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") > 0)
      .select(
        col("doc_id"),
        explode(sequence(lit(0), ((col("len") - 1) / width).cast("int")))
          .as("chunk_idx0"),
        col("text")
      )
      .select(
        col("doc_id"),
        (col("chunk_idx0") + 1).cast("int").as("chunk_idx"),
        // functions.substring takes literal positions only; the
        // SQL form accepts a column start
        expr(s"substring(text, chunk_idx0 * $width + 1, $width)").as("chunk")
      )

  /** q178: contrastive chunk-pair generation — the data side of
    * dense-retriever / contrastive pretraining (DPR's in-document
    * positives, SimCSE's negatives): every pair of ADJACENT q85
    * chunks in a document is an (anchor, positive) pair, and the
    * negative is the first chunk of a deterministically hash-picked
    * OTHER document (md5 arithmetic, so the pairing is reproducible
    * across engines and partitionings — in production the negative
    * comes from the q139 hard-negative miner instead of the uniform
    * hash).
    *
    * Scale: positives are one lead() over a (doc, chunk_idx) window;
    * the negative lookup is a key join against the per-doc
    * first-chunk table. No sampling state, no collect.
    */
  def contrastiveChunkPairs(spark: SparkSession, dir: String): DataFrame = {
    val chunks = docChunks(spark, dir).cacheTracked()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("chunk_idx").asc)
    val pos = chunks
      .withColumn("positive", lead(col("chunk"), 1).over(w))
      .filter(col("positive").isNotNull)
      .select(
        col("doc_id"),
        col("chunk_idx"),
        col("chunk").as("anchor"),
        col("positive")
      )
    // the hash addresses "some other doc" by id directly (doc_ids
    // are dense 0..N-1 in these tables; with sparse ids this would
    // be a dense-rank dimension table maintained at ingest) — no
    // corpus-wide window, just a key join against first chunks
    val firsts = chunks
      .filter(col("chunk_idx") === 1)
      .select(col("doc_id").as("neg_doc_id"), col("chunk").as("negative"))
    val nDocs = Tables.documents(spark, dir)
      .select((max(col("doc_id")) + 1).as("n_docs"))
    pos
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "pick",
        pmod(
          graft.functions.TextFunctions.hash60(
            concat_ws("_", col("doc_id"), col("chunk_idx"))) +
            col("doc_id") + 1,
          col("n_docs"))
      )
      // when the hash pick lands on the anchor's own doc (~1/N of
      // pairs), step to the next doc instead of dropping the whole
      // (anchor, positive) training pair
      .withColumn(
        "neg_doc_id",
        when(col("pick") === col("doc_id"),
          pmod(col("pick") + 1, col("n_docs")))
          .otherwise(col("pick"))
      )
      .join(firsts, Seq("neg_doc_id"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        col("anchor"),
        col("positive"),
        col("neg_doc_id"),
        col("negative")
      )
  }

  /** q82: inverted index posting lists — for each retained token
    * (document frequency in [3, 80% of corpus]: drop hapax noise and
    * near-ubiquitous stopwords — the band is proportional so the
    * operator is SF-stable), the sorted doc_id list, serialized to a
    * string (the driver compare rejects array cells). explode →
    * distinct (token, doc) → one aggregate; posting lists ship as
    * sorted arrays, never through a driver collect. The corpus size
    * joins in as a broadcast single row. The df band is what bounds
    * posting-cell width at corpus scale; a real web-scale index
    * would additionally shard postings by (token, doc_id bucket).
    */
  def postingLists(spark: SparkSession, dir: String): DataFrame = {
    val total = Tables
      .documents(spark, dir)
      .agg(count(lit(1)).as("n_total"))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .distinct()
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings")
      )
      .join(broadcast(total))
      .filter(col("df").between(lit(3), floor(col("n_total") * 0.8)))
      .select(col("token"), col("df"), col("postings"))
  }

  /** q114: BPE pair statistics — corpus-weighted adjacent character-
    * pair counts, i.e. the first merge-candidate table of byte-pair-
    * encoding tokenizer training. Pair counting runs over the
    * DISTINCT-word frequency table (vocabulary-sized), not the raw
    * token stream — the standard trick that makes BPE training
    * feasible at corpus scale: a 100 TB corpus has billions of token
    * instances but only millions of distinct words.
    */
  def bpePairStats(spark: SparkSession, dir: String, k: Int = 30): DataFrame = {
    val words = Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wf"))
    words
      .filter(length(col("w")) >= 2)
      .select(
        col("w"),
        col("wf"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i")
      )
      .select(expr("substring(w, i, 2)").as("pair"), col("wf"))
      .groupBy(col("pair"))
      .agg(sum(col("wf")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** q115: the filter-funnel yield report — how many documents
    * survive each successive cleaning stage (min-length → quality →
    * repetition → PII-free → exact-dup survivor), as one scan
    * computing per-stage booleans and one tiny aggregate. The
    * operational metric a pipeline owner watches: a stage whose yield
    * suddenly drops is a filter bug or a corpus shift.
    */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b"
    val byHash = Window.partitionBy(md5(col("text")))
    val scored = Tables
      .documents(spark, dir)
      .withColumn("rc",
        graft.functions.RepetitionCounts.repetitionCounts(col("text")))
      .withColumn("fr",
        graft.functions.RepetitionCounts.repetitionFromCounts(col("rc")))
      .withColumn("s1", tokenCount(col("text")) >= 10)
      .withColumn("s2", col("s1") && qualityScore(col("text")) >= 0.3)
      .withColumn("s3", col("s2") &&
        col("fr.dup_token_frac") <= 0.7 && col("fr.dup_bigram_frac") <= 0.5)
      .withColumn("s4", col("s3") &&
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))) +
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))) === 0)
      .withColumn("s5", col("s4") &&
        min(col("doc_id")).over(byHash) === col("doc_id"))
    val agg = scored.agg(
      count(lit(1)).as("n0"),
      sum(col("s1").cast("long")).as("n1"),
      sum(col("s2").cast("long")).as("n2"),
      sum(col("s3").cast("long")).as("n3"),
      sum(col("s4").cast("long")).as("n4"),
      sum(col("s5").cast("long")).as("n5")
    )
    val stages = Seq(
      "0_all" -> "n0", "1_minlen" -> "n1", "2_quality" -> "n2",
      "3_repetition" -> "n3", "4_pii_free" -> "n4", "5_unique" -> "n5")
    agg
      .select(
        explode(array(stages.map { case (name, c) =>
          struct(lit(name).as("stage"), col(c).as("n_docs"),
            graft.functions.IntMath.microRatio(col(c), col("n0"))
              .as("yield_ppm"))
        }: _*)).as("s")
      )
      .select(col("s.stage"), col("s.n_docs"), col("s.yield_ppm"))
  }

  /** q328: token-weighted filter funnel — q115's five stages
    * re-accounted in TOKENS: each stage's surviving token mass and
    * its share of the corpus budget. Docs and tokens tell different
    * stories exactly when kill rates correlate with length (q306's
    * heavy tails guarantee they do): a stage that drops 5% of docs
    * can drop 30% of tokens, and the training budget (q164/q304) is
    * spent in tokens. Same stage predicates as q115 — one scan, one
    * aggregate, exact integer sums.
    */
  def tokenFunnel(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b"
    val byHash = Window.partitionBy(md5(col("text")))
    val scored = Tables
      .documents(spark, dir)
      .withColumn("tk", tokenCount(col("text")).cast("long"))
      .withColumn("rc",
        graft.functions.RepetitionCounts.repetitionCounts(col("text")))
      .withColumn("fr",
        graft.functions.RepetitionCounts.repetitionFromCounts(col("rc")))
      .withColumn("s1", col("tk") >= 10)
      .withColumn("s2", col("s1") && qualityScore(col("text")) >= 0.3)
      .withColumn("s3", col("s2") &&
        col("fr.dup_token_frac") <= 0.7 && col("fr.dup_bigram_frac") <= 0.5)
      .withColumn("s4", col("s3") &&
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))) +
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))) === 0)
      .withColumn("s5", col("s4") &&
        min(col("doc_id")).over(byHash) === col("doc_id"))
    val agg = scored.agg(
      sum(col("tk")).as("t0"),
      sum(when(col("s1"), col("tk")).otherwise(0L)).as("t1"),
      sum(when(col("s2"), col("tk")).otherwise(0L)).as("t2"),
      sum(when(col("s3"), col("tk")).otherwise(0L)).as("t3"),
      sum(when(col("s4"), col("tk")).otherwise(0L)).as("t4"),
      sum(when(col("s5"), col("tk")).otherwise(0L)).as("t5"),
      count(lit(1)).as("n0"),
      sum(col("s5").cast("long")).as("n5")
    )
    val stages = Seq(
      "0_all" -> "t0", "1_minlen" -> "t1", "2_quality" -> "t2",
      "3_repetition" -> "t3", "4_pii_free" -> "t4", "5_unique" -> "t5")
    agg
      .select(
        explode(array(stages.map { case (name, c) =>
          struct(lit(name).as("stage"), col(c).as("n_tokens"),
            graft.functions.IntMath.microRatio(col(c), col("t0"))
              .as("token_share_ppm"))
        }: _*)).as("s")
      )
      .select(col("s.stage"), col("s.n_tokens"), col("s.token_share_ppm"))
  }

  /** q109: the corpus summary card — the one-row dataset report every
    * corpus release ships with (counts, language concentration,
    * exact-duplication rate, quality distribution), composed from
    * tiny independent aggregates over one scan each. At 100 TB each
    * input is a partially-aggregated scalar; the final row is a
    * cross join of scalars.
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // shares/rate in exact ppm, mean quality as the exact-integer
    // micro mean (round-11 float purge)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col("text")).cast("long")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(md5(col("text"))).as("n_unique_texts"),
      graft.functions.IntMath
        .idivHalfUp(
          sum(graft.functions.TextFunctions.qualityMicro(col("text"))),
          count(lit(1)))
        .as("mean_quality_micro")
    )
    val topLang = docs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lang").asc)
      .limit(1)
      .select(col("lang").as("top_lang"), col("n").as("top_lang_docs"))
    base
      .crossJoin(broadcast(topLang))
      .select(
        col("n_docs"),
        col("n_tokens"),
        col("n_langs"),
        col("top_lang"),
        graft.functions.IntMath
          .microRatio(col("top_lang_docs"), col("n_docs"))
          .as("top_lang_ppm"),
        graft.functions.IntMath
          .microRatio(col("n_docs") - col("n_unique_texts"), col("n_docs"))
          .as("exact_dup_ppm"),
        col("mean_quality_micro")
      )
  }

  /** q99: PMI collocations — the top-k adjacent token pairs by
    * pointwise mutual information, PMI(x,y) = ln(n_xy·T / (n_x·· n_·y))
    * over bigram slots: the collocation/multi-word-expression detector
    * a tokenizer-training pass runs over the corpus.
    *
    * All inputs derive from one bigram-count aggregate (cached — it
    * feeds the pair, left-marginal, and right-marginal branches);
    * marginals are two further tiny aggregates; T broadcasts as one
    * row. Selection orders by the ROUNDED pmi (then the pair) so
    * top-k membership is engine-exact even where ln() differs in the
    * last ulp.
    */
  def pmiCollocations(
      spark: SparkSession,
      dir: String,
      minCount: Int = 5,
      k: Int = 20
  ): DataFrame = {
    val t = col("t")
    val bi = Tables
      .documents(spark, dir)
      .select(tokens(col("text")).as("t"))
      .filter(size(t) >= 2)
      .select(
        explode(
          zip_with(
            slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))
          )
        ).as("b")
      )
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .cacheTracked()
    val left = bi.groupBy(col("w1")).agg(sum(col("n")).as("n_left"))
    val right = bi.groupBy(col("w2")).agg(sum(col("n")).as("n_right"))
    val total = bi.agg(sum(col("n")).as("t_bi"))
    val pmi = log(
      (col("n").cast("double") * col("t_bi").cast("double")) /
        (col("n_left").cast("double") * col("n_right").cast("double"))
    )
    bi.filter(col("n") >= minCount)
      .join(left, "w1")
      .join(right, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** q100: per-document token Shannon entropy (nats) — the
    * distributional quality signal: word-soup spam has near-maximal
    * entropy, templated/repetitive text near-zero.
    *
    * H = ln(n) − Σ c·ln(c) / n, computed from ONE (doc, token)
    * aggregate: the algebraic form needs only sum(c) and
    * sum(c·ln c), so the per-doc pass is a second partial-agg
    * shuffle, never a re-scan.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        round(
          log(sum(col("c")).cast("double")) -
            sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum(col("c")).cast("double"),
          6
        ).as("entropy")
      )

  /** q103: histogram-quantile audit — the approximate per-group
    * median from a fixed-width 20-bin histogram next to the exact
    * interpolated median. The histogram is the only quantile topology
    * with O(bins) state at 100 TB (one pass + a bins-row cumulative);
    * the exact percentile sorts every group's values. The audit
    * quantifies what the approximation costs on this corpus.
    */
  def histogramMedian(
      spark: SparkSession,
      dir: String,
      bins: Int = 20
  ): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("lang"), tokenCount(col("text")).cast("long").as("x"))
    val stats = docs.agg(
      min(col("x")).as("mn"),
      max(col("x")).as("mx")
    )
    val width = (col("mx") - col("mn") + 1).cast("double") / bins
    val binned = docs
      .crossJoin(broadcast(stats))
      .select(
        col("lang"),
        col("x"),
        floor((col("x") - col("mn")).cast("double") /
          (col("mx") - col("mn") + 1).cast("double") * bins).as("bin"),
        col("mn"),
        col("mx")
      )
    val hist = binned
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("cnt"), first(col("mn")).as("mn"),
        first(col("mx")).as("mx"))
    val w = Window.partitionBy(col("lang")).orderBy(col("bin"))
    val totals = Window.partitionBy(col("lang"))
    val approx = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(totals))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy(col("lang"))
      .agg(
        min(col("bin")).as("median_bin"),
        first(col("mn")).as("mn"),
        first(col("mx")).as("mx"),
        first(col("n")).as("n_docs")
      )
      .select(
        col("lang"),
        col("n_docs"),
        round(col("mn") + (col("median_bin") + 0.5) * width, 6)
          .as("approx_median")
      )
    val exact = docs
      .groupBy(col("lang"))
      .agg(round(expr("percentile(x, 0.5D)"), 6).as("exact_median"))
    approx
      .join(exact, "lang")
      .select(
        col("lang"),
        col("n_docs"),
        col("exact_median"),
        col("approx_median"),
        round(abs(col("approx_median") - col("exact_median")), 6)
          .as("abs_err")
      )
  }

  /** q91: per-document cross-entropy under the corpus bigram LM with
    * add-one smoothing — the model-based quality score next to the
    * heuristic one (q15): documents whose bigrams surprise the corpus
    * LM (high xent, in nats) are outliers/noise; near-duplicates of
    * common boilerplate score low.
    *
    * P(w2|w1) = (n(w1,w2) + 1) / (n(w1·) + |V|), xent(doc) = mean of
    * −ln P over the doc's bigram instances, rounded to 6 (absorbs
    * summation-order drift of the distributed mean).
    *
    * Scale: the doc-bigram frame is aggregated per (doc, bigram)
    * before the LM join, so the join key-shuffle carries counts, not
    * instances; the LM itself is an aggregate of the same corpus
    * (self-sized — broadcast when the vocabulary allows, key-shuffle
    * otherwise, chosen by AQE); |V| joins in as one broadcast row.
    */
  def bigramXent(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    val toksDf = Tables
      .documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    val docBi = toksDf
      .filter(size(t) >= 2)
      .select(
        col("doc_id"),
        explode(
          zip_with(
            slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))
          )
        ).as("b")
      )
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      // the doc-bigram frame feeds three plan branches (LM, context
      // totals, the scoring join) — materialize it once; Spark does
      // not dedupe common subtrees across a DAG
      .cacheTracked()
    val lm = docBi
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("c")).as("n"))
      .cacheTracked()
    val ctx = lm.groupBy(col("w1")).agg(sum(col("n")).as("ctx_n"))
    val vocab = toksDf
      .select(explode(t).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val p = (col("n") + lit(1L)).cast("double") /
      (col("ctx_n") + col("v")).cast("double")
    docBi
      .join(lm, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_bigrams"),
        round(sum(col("c") * -log(p)) / sum(col("c")), 6).as("xent")
      )
  }

  /** q127: interpolated trigram-LM perplexity per document — the
    * CCNet-style quality gate (Wenzek et al., LREC 2020: documents
    * are kept/bucketed by perplexity under an n-gram LM). The LM is
    * trained on the corpus itself in one aggregation pass (trigram /
    * bigram / unigram count tables), then each document is scored by
    * joining its distinct-trigram counts against the count tables:
    *
    *   p(w3|w1,w2) = 0.6·c3/c2ctx + 0.3·cb/cbctx + 0.1·c1/T
    *
    * (fixed interpolation weights; every component is positive
    * because the scored corpus is the training corpus, so no
    * discounting is needed). Output: per-doc trigram count,
    * cross-entropy (nats), perplexity, and the keep flag at the
    * corpus-relative cut (ppl ≤ corpus mean ppl — CCNet buckets by
    * corpus-level quantiles, so the gate must be relative: absolute
    * perplexity scales with corpus size under a self-trained LM).
    *
    * Scale: the doc-trigram frame is pre-aggregated per (doc,
    * trigram) before any join, so join shuffles carry counts, not
    * token instances; the three LM tables are vocabulary-sized
    * aggregates shuffled on their n-gram keys (broadcast when small,
    * chosen by AQE); the corpus total T joins in as one broadcast
    * row. One corpus pass to count, one join pass to score — the
    * standard distributed n-gram-LM filter topology.
    */
  def trigramPerplexity(spark: SparkSession, dir: String): DataFrame =
    trigramPerplexityFrom(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        // the LM chain reads this three times (trigram, bigram,
        // unigram passes) — tokenize once, not thrice
        .cacheTracked()
    )

  /** The interpolated-LM perplexity chain over a prepared (doc_id, t)
    * token frame — the q130 seam. The caller owns materialization:
    * the chain derives trigram, bigram, and unigram counts from it.
    */
  def trigramPerplexityFrom(toksDf: DataFrame): DataFrame =
    // feeds the trigram LM aggregate and the scoring join —
    // materialize once (Spark does not dedupe DAG subtrees)
    trigramPerplexityFrom(toksDf, docTrigramCounts(toksDf).cacheTracked())

  /** The perplexity chain over a CALLER-prepared per-doc trigram
    * count frame — the q194 seam: the four-gate manifest derives
    * (doc_id, w1, w2, w3, c) once and feeds it to both this gate and
    * the Moore-Lewis gate instead of paying two corpus trigram
    * passes. The caller owns `docTri`'s materialization.
    */
  def trigramPerplexityFrom(toksDf: DataFrame, docTri: DataFrame): DataFrame = {
    val t = col("t")
    val tri = docTri
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("c")).as("n3"))
      .cacheTracked()
    val triCtx = tri
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("n3")).as("n2ctx"))
    val bi = toksDf
      .filter(size(t) >= 2)
      .select(
        explode(
          zip_with(
            slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("w2"), b.as("w3"))
          )
        ).as("b")
      )
      .select(col("b.w2"), col("b.w3"))
      .groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("nb"))
      .cacheTracked()
    val biCtx = bi.groupBy(col("w2")).agg(sum(col("nb")).as("nbctx"))
    val uni = toksDf
      .select(explode(t).as("w3"))
      .groupBy(col("w3"))
      .agg(count(lit(1)).as("n1"))
    val tot = uni.agg(sum(col("n1")).cast("double").as("tot"))
    val p = lit(0.6) * col("n3") / col("n2ctx") +
      lit(0.3) * col("nb") / col("nbctx") +
      lit(0.1) * col("n1") / col("tot")
    val scored = docTri
      .join(tri, Seq("w1", "w2", "w3"))
      .join(triCtx, Seq("w1", "w2"))
      .join(bi, Seq("w2", "w3"))
      .join(biCtx, Seq("w2"))
      .join(uni, Seq("w3"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_trigrams"),
        (sum(col("c") * -log(p)) / sum(col("c"))).as("x")
      )
      // feeds the corpus-mean aggregate and the final projection
      .cacheTracked()
    val meanPpl = scored.agg(avg(exp(col("x"))).as("mean_ppl"))
    scored
      .crossJoin(broadcast(meanPpl))
      .select(
        col("doc_id"),
        col("n_trigrams"),
        round(col("x"), 6).as("xent"),
        round(exp(col("x")), 6).as("ppl"),
        (exp(col("x")) <= col("mean_ppl")).cast("int").as("keep")
      )
  }

  /** q129: multinomial naive-Bayes language classifier, trained and
    * evaluated distributed — the trained-classifier counterpart of
    * the q16 n-gram heuristic (the "quality/domain classifier filter"
    * stage of a corpus pipeline, with lang as the label). Training is
    * one aggregation pass (token-per-lang counts, lang totals,
    * doc-count priors, |V|); scoring uses the sparse log-posterior
    * identity with add-1 smoothing:
    *
    *   score(d,l) = ln P(l) − N_d·ln(c_l + V) + Σ_t c_t·ln(c_{t,l}+1)
    *
    * Unseen (token, lang) pairs contribute c_t·ln(1) = 0, so the Σ
    * term needs only the OBSERVED count table — an inner join on
    * token carrying pre-aggregated counts, never a dense vocab×lang
    * cross. Output: per-doc argmax lang, the margin to the runner-up,
    * and the correctness flag against the stored label (the model
    * audits itself on its training corpus).
    *
    * Scale: count tables are vocabulary-sized aggregates; the scoring
    * join shuffles (doc, token, count) rows once; the doc×lang score
    * frame has |langs| rows per doc; the argmax window partitions on
    * doc_id (bounded |langs|-row partitions). The standard sparse NB
    * topology at any corpus size.
    */
  def nbLangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("t"))
    val toks = docs
      .select(col("doc_id"), col("lang"), explode(col("t")).as("w"))
      .cacheTracked()
    val docTok = toks
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val tl = toks
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("ctl"))
      .cacheTracked()
    val langStats = tl
      .groupBy(col("lang"))
      .agg(sum(col("ctl")).as("cl"))
    val priors = toks
      .select(col("doc_id"), col("lang"))
      .distinct()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totDocs = priors.agg(sum(col("n_docs")).cast("double").as("tot"))
    val vocab = tl.select(col("w")).distinct().agg(count(lit(1)).as("v"))
    // per-lang constants: ln prior − (per-token) ln(c_l + V), one
    // broadcastable |langs|-row frame
    val langConst = langStats
      .join(priors, "lang")
      .crossJoin(broadcast(totDocs))
      .crossJoin(broadcast(vocab))
      .select(
        col("lang").as("l"),
        log(col("n_docs") / col("tot")).as("ln_prior"),
        log(col("cl") + col("v")).as("ln_denom")
      )
    val sparseSum = docTok
      .join(tl.select(col("lang").as("l"), col("w"), col("ctl")), "w")
      .groupBy(col("doc_id"), col("l"))
      .agg(sum(col("c") * log(col("ctl") + 1)).as("s1"))
    val docN = docTok.groupBy(col("doc_id")).agg(sum(col("c")).as("n_doc"))
    val scores = docs
      .select(col("doc_id"), col("lang"))
      .join(docN, "doc_id")
      .crossJoin(broadcast(langConst))
      .join(sparseSum, Seq("doc_id", "l"), "left")
      .select(
        col("doc_id"),
        col("lang"),
        col("l"),
        (col("ln_prior") - col("n_doc") * col("ln_denom") +
          coalesce(col("s1"), lit(0.0))).as("score")
      )
    val w = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("l").asc)
    scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("doc_id"))
      .agg(
        first(col("lang")).as("lang"),
        max(when(col("rn") === 1, col("l"))).as("pred_lang"),
        round(
          max(when(col("rn") === 1, col("score"))) -
            max(when(col("rn") === 2, col("score"))),
          6
        ).as("margin")
      )
      .select(
        col("doc_id"),
        col("lang"),
        col("pred_lang"),
        col("margin"),
        (col("pred_lang") === col("lang")).cast("int").as("correct")
      )
      // the per-doc scored stream is the model-inference artifact
      // (the lrQualityGate convention): the vocabulary-sized scoring
      // join + per-doc window behind it re-ran on every steady-state
      // pass of q129/q294 — cache so only the warmup pays it
      .cacheTracked()
  }

  /** q142: the Gopher quality-rule battery (Rae et al. 2021, table A1)
    * — per-document word-count bounds, mean word length, symbol-to-word
    * ratio (`#` and `...`), alphabetic-word fraction, and distinct-
    * stopword presence, each surfaced as its own flag plus the
    * conjunctive keep. Thresholds are Gopher's; the stopword list is
    * the engine's [[graft.functions.TextFunctions.stopwordsEn]] so the
    * rule is live on this corpus.
    *
    * Every column is a built-in higher-order expression over one
    * tokenization — a single narrow scan→map, zero shuffles, fully
    * inside whole-stage codegen; at 100 TB this is the cheapest class
    * of curation pass (embarrassingly parallel, no state).
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesFrom(Tables.documents(spark, dir))

  /** The Gopher battery over a prepared (doc_id, text, …) frame —
    * the q194 seam (one documents scan shared across gates).
    */
  def gopherRulesFrom(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val stops = array(stopwordsEn.map(lit): _*)
    docs
      .select(
        col("doc_id"),
        col("text"),
        size(t).cast("long").as("n_words"),
        round(
          when(size(t) === 0, 0.0).otherwise(
            aggregate(t, lit(0L), (acc, w) => acc + length(w))
              .cast("double") / size(t)),
          6
        ).as("mean_word_len"),
        round(
          when(size(t) === 0, 0.0).otherwise(
            size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") /
              size(t)),
          6
        ).as("alpha_frac"),
        round(
          when(size(t) === 0, 0.0).otherwise(
            ((length(col("text")) -
              length(regexp_replace(col("text"), "#", ""))) +
              (length(col("text")) -
                length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
              .cast("double") / size(t)),
          6
        ).as("symbol_frac"),
        intersectSize(array_distinct(t), stops)
          .cast("long")
          .as("n_stopwords")
      )
      .withColumn(
        "keep",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_frac") <= 0.1 &&
          col("alpha_frac") >= 0.8 &&
          col("n_stopwords") >= 2
      )
      .drop("text")
  }

  /** q147: corpus-level distinct-n diversity — for n ∈ {1,2,3}, total
    * n-gram occurrences, distinct n-gram types, and the distinct
    * ratio (generation-diversity's distinct-n, computed over the
    * corpus rather than per document — per-doc duplication is q60's
    * job). A collapsing distinct-2/3 ratio across snapshots is the
    * canonical symptom of template/boilerplate flooding.
    *
    * The corpus is scanned and TOKENIZED once into a cached token
    * frame (the regex tokenize is the expensive shared work); each n
    * then runs its own slim explode→count-distinct over the cached
    * arrays — partial-aggregated map-side, no sorts; three rows at
    * any corpus size.
    */
  def corpusDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .documents(spark, dir)
      .select(tokens(col("text")).as("t"))
      .cacheTracked()
    def gramsOfN(n: Int): DataFrame =
      toks
        .select(
          explode(
            when(
              size(col("t")) >= n,
              transform(
                sequence(lit(0), size(col("t")) - n),
                i => array_join(slice(col("t"), i + 1, lit(n)), " ")
              )
            ).otherwise(array().cast("array<string>"))
          ).as("g")
        )
        .agg(
          count(lit(1)).as("n_grams"),
          countDistinct(col("g")).as("n_distinct")
        )
        .select(
          lit(n).as("n"),
          col("n_grams"),
          col("n_distinct"),
          graft.functions.IntMath
            .microRatio(col("n_distinct"), col("n_grams"))
            .as("distinct_ppm")
        )
    gramsOfN(1).unionByName(gramsOfN(2)).unionByName(gramsOfN(3))
  }

  /** q148: Zipf rank-frequency fit — least-squares slope of
    * ln(freq) against ln(rank) over the top-1000 vocabulary terms
    * (rank ties broken by term). Natural-language corpora fit slope
    * ≈ −1 with high r²; synthetic or template-heavy corpora bend the
    * curve, making the fit a one-row corpus-health probe.
    *
    * The top-k vocab is `TakeOrdered` (per-partition heaps, no
    * global sort) and the rank window runs over that provably
    * bounded frame; the regression is the closed-form sum formula —
    * one tiny aggregate, mirrored term-for-term in the oracle
    * (no engine-specific regr_* implementation drift).
    */
  def zipfFit(spark: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    val freqs = Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(topK)
    val pts = freqs
      .withColumn(
        "rk",
        row_number().over(
          Window.orderBy(col("freq").desc, col("w").asc))
      )
      .select(
        log(col("rk").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y")
      )
    pts
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy")
      )
      .select(
        col("n").cast("long").as("n_terms"),
        round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")),
          6
        ).as("slope"),
        round(
          (col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n"),
          6
        ).as("intercept"),
        round(
          pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))),
          6
        ).as("r2")
      )
  }

  /** q149: interpolated Kneser-Ney bigram probabilities (D = 0.75)
    * over the corpus's observed bigrams:
    * P(w2|w1) = (c(w1,w2) − D)⁺/c(w1·) + D·N₁₊(w1·)/c(w1·) · Pcont(w2),
    * Pcont(w2) = N₁₊(·w2) / |bigram types|. The continuation counts
    * are what distinguish KN from the q127 count-interpolation: a
    * word seen often but only after one context ("Francisco") gets a
    * small continuation probability despite its high unigram count.
    *
    * All four count tables derive from ONE bigram aggregate; the
    * type total is a broadcast single row. Output is one row per
    * observed bigram type — the LM table a generator ships.
    */
  def knBigram(spark: SparkSession, dir: String): DataFrame = {
    val D = 0.75
    val t = col("t")
    val bi = Tables
      .documents(spark, dir)
      .select(tokens(col("text")).as("t"))
      .filter(size(t) >= 2)
      .select(
        explode(
          zip_with(
            slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))
          )
        ).as("b")
      )
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .cacheTracked()
    val ctx = bi
      .groupBy(col("w1"))
      .agg(
        sum(col("c")).as("c_w1"),
        count(lit(1)).as("n1r")
      )
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1l"))
    val types = bi.agg(count(lit(1)).as("n_types"))
    bi.join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(
        col("w1"),
        col("w2"),
        col("c"),
        round(
          greatest(col("c") - D, lit(0.0)) / col("c_w1") +
            lit(D) * col("n1r") / col("c_w1") *
            (col("n1l").cast("double") / col("n_types")),
          6
        ).as("p_kn"),
        round(col("n1l").cast("double") / col("n_types"), 6).as("p_cont")
      )
  }

  /** q157: tokenizer-vocabulary coverage — fix the vocab to the
    * corpus's top-V words (freq DESC, word ASC ties — the q148 rank
    * convention) and report, per language: total token occurrences,
    * occurrences covered by the vocab, and the OOV rate. The
    * budget-planning probe for a fixed-size tokenizer: a language
    * whose OOV rate explodes at the chosen V is about to get
    * byte-fallback-shredded at training time.
    *
    * Scale: the vocab is a TakeOrdered top-V (per-partition heaps,
    * no global sort) and broadcasts; coverage is one token-stream
    * pass with a broadcast membership probe and a per-lang partial
    * aggregate — 5 rows out at any corpus size.
    */
  def vocabCoverage(
      spark: SparkSession,
      dir: String,
      vocabSize: Int = 1000
  ): DataFrame = {
    val toks = Tables
      .documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      // the vocab build and the coverage probe both read this —
      // tokenize once, not once per consumer
      .cacheTracked()
    val vocab = toks
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(vocabSize)
      .select(col("w"), lit(1).as("in_vocab"))
    toks
      .join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0))).as("n_covered")
      )
      .select(
        col("lang"),
        col("n_tokens"),
        col("n_covered"),
        graft.functions.IntMath
          .microRatio(col("n_tokens") - col("n_covered"), col("n_tokens"))
          .as("oov_ppm")
      )
  }

  /** q160: corpus-specific stopword discovery — the top-k terms by
    * DOCUMENT frequency (highest-df = lowest-IDF), the list a
    * retrieval or keyword-extraction layer should treat as
    * corpus-noise instead of assuming English function words (a
    * code corpus's stopwords are `the return if`, not `the of and`).
    * Emits rank, df, and the ln(N/df) idf so downstream thresholds
    * can cut by value rather than rank.
    *
    * Scale: per-doc distinct terms (array_distinct inside the map
    * side), one partial-aggregated df count, TakeOrdered top-k —
    * never a global sort.
    */
  def stopwordDiscovery(
      spark: SparkSession,
      dir: String,
      k: Int = 30
  ): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val dfTab = docs
      .select(explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)
    dfTab
      .crossJoin(broadcast(nDocs))
      .select(
        col("term"),
        col("df"),
        round(log(col("n_docs").cast("double") / col("df")), 6).as("idf"),
        row_number()
          .over(Window.orderBy(col("df").desc, col("term").asc))
          .as("rank")
      )
  }

  /** q167: quality-score ↔ perplexity calibration — does the cheap
    * heuristic quality score (q15) actually predict the expensive
    * trigram-LM perplexity (q127)? Documents land in fixed-width
    * quality bins (floor(q·10), capped at 9 — fixed thresholds, NOT
    * corpus deciles, so no corpus-wide ordered window exists at any
    * scale) and each bin reports its count and mean perplexity. A
    * non-monotone bin curve means the cheap gate disagrees with the
    * LM and one of them is mis-calibrated for this corpus.
    */
  def qualityPplCalibration(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityMicroScores(spark, dir)
    // per-doc ppl is micro-quantized ONCE (the only transcendental
    // step), then every bin statistic is exact integer arithmetic —
    // a float avg would be summation-order-dependent (round-9 seam)
    val p = trigramPerplexity(spark, dir)
      .select(
        col("doc_id"),
        round(col("ppl") * 1e6).cast("long").as("ppl_micro"))
    q.join(p, "doc_id")
      .withColumn(
        "bin",
        least(
          graft.functions.IntMath.idiv(col("q_micro"), lit(100000L)),
          lit(9L)
        ).cast("int"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        graft.functions.IntMath
          .idivHalfUp(sum(col("q_micro")), count(lit(1)))
          .as("mean_q_micro"),
        graft.functions.IntMath
          .idivHalfUp(sum(col("ppl_micro")), count(lit(1)))
          .as("mean_ppl_micro")
      )
  }

  /** q168: per-source distribution drift — KL(source ‖ corpus) over
    * the unigram token distribution: how far each source's language
    * deviates from the corpus average. The snapshot-over-snapshot /
    * source-mix health probe: a source whose KL jumps between crawls
    * changed its content mix (template flood, spam injection, scope
    * drift) before any human reads a sample.
    *
    * Scale: ONE token pass groups to (source, word) counts; corpus
    * word totals re-aggregate those counts (no second scan); the
    * word-total table joins back word-keyed and the KL sum is a
    * per-source partial aggregate. Every distribution lives as
    * counts, never materialized as a dense vector.
    */
  def sourceKlDrift(spark: SparkSession, dir: String): DataFrame = {
    val sw = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .cacheTracked()
    val st = sw.groupBy(col("source")).agg(sum(col("c")).as("ts"))
    val wt = sw.groupBy(col("w")).agg(sum(col("c")).as("cw"))
    val tot = sw.agg(sum(col("c")).as("n"))
    sw.join(st, Seq("source"))
      .join(wt, Seq("w"))
      .crossJoin(broadcast(tot))
      .groupBy(col("source"), col("ts"))
      .agg(
        round(
          sum(
            (col("c").cast("double") / col("ts")) *
              log(
                (col("c").cast("double") / col("ts")) /
                  (col("cw").cast("double") / col("n")))),
          6
        ).as("kl")
      )
      .select(col("source"), col("ts").as("n_tokens"), col("kl"))
  }

  /** q161: CCNet-style perplexity bucketing (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020 §4.3): per language, split documents into
    * head/middle/tail thirds by trigram-LM perplexity (q127's chain,
    * ROUNDED before ranking, doc_id tiebreak). CCNet trains on head,
    * samples middle, drops tail — the bucket label IS the curation
    * decision.
    *
    * Scale: the LM chain is q127's (count-carrying joins, broadcast
    * count tables); the bucketing adds one ntile window per language
    * partition over (doc, ppl) pairs — rows, not text.
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val ppl = trigramPerplexity(spark, dir)
      .select(col("doc_id"), col("ppl"))
    val lang = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val w = Window
      .partitionBy(col("lang"))
      .orderBy(col("ppl").asc, col("doc_id").asc)
    ppl
      .join(lang, "doc_id")
      .withColumn("t3", ntile(3).over(w))
      .select(
        col("doc_id"),
        col("lang"),
        col("ppl"),
        when(col("t3") === 1, "head")
          .when(col("t3") === 2, "middle")
          .otherwise("tail")
          .as("bucket")
      )
  }

  /** Per-doc trigram counts (doc_id, w1, w2, w3, c) from a prepared
    * (doc_id, t) token frame — docs with < 3 tokens drop out.
    */
  private[operators] def docTrigramCounts(toksDf: DataFrame): DataFrame = {
    val t = col("t")
    val nTri = size(t) - 2
    toksDf
      .filter(size(t) >= 3)
      .select(
        col("doc_id"),
        explode(
          zip_with(
            zip_with(
              slice(t, lit(1), nTri),
              slice(t, lit(2), nTri),
              (a, b) => struct(a.as("w1"), b.as("w2"))
            ),
            slice(t, lit(3), nTri),
            (ab, c3) =>
              struct(
                ab.getField("w1").as("w1"),
                ab.getField("w2").as("w2"),
                c3.as("w3")
              )
          )
        ).as("g")
      )
      .select(col("doc_id"), col("g.w1"), col("g.w2"), col("g.w3"))
      .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c"))
  }

  /** Cross-entropy of each scored doc under an interpolated trigram
    * LM trained on `trainToks`, with a uniform floor so UNSEEN
    * n-grams stay finite (the out-of-domain scoring case
    * [[trigramPerplexityFrom]] never hits, since it scores its own
    * training corpus):
    *
    *   p = 0.55·n3/n2ctx + 0.3·nb/nbctx + 0.1·n1/tot + 0.05/|V|
    *
    * with every missing component contributing 0 (LEFT joins +
    * coalesce). Returns (doc_id, x) with x the per-trigram mean
    * −ln p in nats, unrounded (callers round at the edge).
    */
  private def lmXentWithFloor(
      trainToks: DataFrame,
      scoredTri: DataFrame
  ): DataFrame = {
    val t = col("t")
    val trainTri = docTrigramCounts(trainToks)
    val tri = trainTri
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("c")).as("n3"))
      .cacheTracked()
    val triCtx = tri
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("n3")).as("n2ctx"))
    val bi = trainToks
      .filter(size(t) >= 2)
      .select(
        explode(
          zip_with(
            slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("w2"), b.as("w3"))
          )
        ).as("b")
      )
      .select(col("b.w2"), col("b.w3"))
      .groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("nb"))
      .cacheTracked()
    val biCtx = bi.groupBy(col("w2")).agg(sum(col("nb")).as("nbctx"))
    val uni = trainToks
      .select(explode(t).as("w3"))
      .groupBy(col("w3"))
      .agg(count(lit(1)).as("n1"))
      .cacheTracked()
    val tot = uni.agg(sum(col("n1")).cast("double").as("tot"))
    val v = uni.agg(count(lit(1)).as("v"))
    val p = lit(0.55) * coalesce(col("n3") / col("n2ctx"), lit(0.0)) +
      lit(0.3) * coalesce(col("nb") / col("nbctx"), lit(0.0)) +
      lit(0.1) * coalesce(col("n1") / col("tot"), lit(0.0)) +
      lit(0.05) / col("v")
    scoredTri
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(triCtx, Seq("w1", "w2"), "left")
      .join(bi, Seq("w2", "w3"), "left")
      .join(biCtx, Seq("w2"), "left")
      .join(uni, Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg((sum(col("c") * -log(p)) / sum(col("c"))).as("x"))
  }

  /** q188: Heaps-law vocabulary-growth fit per source — V(N) ≈ k·N^β
    * (Heaps, "Information Retrieval: Computational and Theoretical
    * Aspects", 1978). The growth exponent β is the planning number a
    * corpus team reads next to the Zipf fit (q148): it forecasts how
    * much NEW vocabulary (entities, code identifiers, typos — the
    * stuff dedup and tokenizer budgets care about) another 10× of a
    * source will add. A heavily-duplicated source shows a depressed
    * β — this is the growth-law view of redundancy.
    *
    * Distributed shape: one tokenize pass with positions; global
    * token positions within a source via per-doc offsets (one window
    * over the per-source DOC list, thousands of rows, never the token
    * stream); first occurrence = min global position per (source,
    * word); V sampled at the 10 decile checkpoints of the stream via
    * a broadcast non-equi join of the vocab-sized first-occurrence
    * frame against 10 bounds per source.
    *
    * Emission (round 10): the per-decile EXACT-INTEGER growth curve
    * `(source, d, n_tokens_at, vocab_at)` — positions, checkpoint
    * bounds (floor via pure integer division N·d DIV 10), and vocab
    * counts are all BIGINT, so the hashed surface is engine- and
    * version-independent. The ln-based log-log OLS fit (β, k) is a
    * libm-transcendental — exactly the float class the oracle
    * convention bans from hashed columns — so it lives in
    * [[heapsOls]] and is asserted in Round7bOpsSpec, the same split
    * q367 uses for its Mann-Kendall z.
    */
  def heapsLawFit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("source"), col("doc_id"), tokens(col("text")).as("t"))
    val docLens = docs
      .select(col("source"), col("doc_id"), size(col("t")).cast("long").as("len"))
      .filter(col("len") > 0)
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = docLens
      .withColumn("off", sum(col("len")).over(w) - col("len"))
    val tokG = docs
      .select(col("source"), col("doc_id"), posexplode(col("t")).as(Seq("pos", "w")))
      .join(offsets.select(col("source"), col("doc_id"), col("off")), Seq("source", "doc_id"))
      .select(col("source"), col("w"), (col("off") + col("pos") + 1).as("posg"))
    val first = tokG
      .groupBy(col("source"), col("w"))
      .agg(min(col("posg")).as("fp"))
    val totals = tokG
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"))
    val bounds = totals
      .select(
        col("source"),
        col("n_tokens"),
        explode(sequence(lit(1), lit(10))).as("d0")
      )
      .select(
        col("source"),
        col("d0").cast("long").as("d"),
        expr("(n_tokens * CAST(d0 AS BIGINT)) DIV 10").as("bound")
      )
      .filter(col("bound") >= 1)
    first
      .join(broadcast(bounds), Seq("source"))
      .filter(col("fp") <= col("bound"))
      .groupBy(col("source"), col("d"))
      .agg(
        min(col("bound")).as("n_tokens_at"),
        count(lit(1)).as("vocab_at")
      )
      .select(col("source"), col("d"), col("n_tokens_at"), col("vocab_at"))
  }

  /** The Heaps-law log-log OLS fit over [[heapsLawFit]]'s decile
    * curve: V(N) ≈ k·N^β via least squares on (ln N, ln V). ≤ 10
    * points per source, so this runs driver-side in the spec — it is
    * deliberately NOT part of the hashed q188 surface (ln/exp are
    * libm transcendentals whose last ulp differs across engines).
    */
  def heapsOls(points: Seq[(Long, Long)]): (Double, Double) = {
    val xs = points.map { case (n, _) => math.log(n.toDouble) }
    val ys = points.map { case (_, v) => math.log(v.toDouble) }
    val np = points.size.toDouble
    val sx = xs.sum
    val sy = ys.sum
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum
    val denom = sxx - sx * sx / np
    val beta = if (denom == 0.0) 0.0 else (sxy - sx * sy / np) / denom
    val k = math.exp((sy - beta * sx) / np)
    (beta, k)
  }

  /** q201: corpus composition independence audit — the (lang, source)
    * contingency table with expected counts under independence and
    * per-cell chi-square contributions. The "is my language mix the
    * same in every source" check a corpus team runs before assuming
    * per-source language shares transfer: a large cell contribution
    * flags a source whose language profile diverges from the corpus
    * (a crawl gone single-language, a mislabeled dump).
    *
    * Scale: one groupBy over the scan (|langs|·|sources| aggregated
    * cells), two tiny marginal aggregates broadcast back — nothing
    * grows with the corpus but the first pass.
    */
  def compositionChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    val cells = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val langTot = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
    val srcTot = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_source"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    // exact integer units (round-12 float purge): expected = rt·ct/N
    // in half-up micro; the cell contribution (n−e)²/e reduces over
    // the integers to (n·N − rt·ct)²/(N·rt·ct), one half-up milli
    // division — (n·N)² ≤ ~6·10¹⁴ at sf0.1, far inside BIGINT
    import graft.functions.IntMath.idivHalfUp
    val dev = col("n") * col("n_total") - col("n_lang") * col("n_source")
    cells
      .join(broadcast(langTot), Seq("lang"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(
        col("lang"),
        col("source"),
        col("n"),
        idivHalfUp(
          col("n_lang") * col("n_source") * lit(1000000L),
          col("n_total")
        ).as("expected_micro"),
        idivHalfUp(
          dev * dev * lit(1000L),
          col("n_total") * col("n_lang") * col("n_source")
        ).as("chi2_cell_milli")
      )
  }

  /** q190: quality-gate agreement matrix — Cohen's κ between every
    * pair of the four independent quality gates the engine ships:
    * the Gopher heuristic battery (q142), the corpus-LM perplexity
    * cut (q127), the trained LR curated-vs-crawl gate (q180), and
    * Moore-Lewis cross-entropy-difference selection (q184). This is
    * the methodology check a curation team runs before stacking
    * filters: high κ between two gates means one is redundant; κ
    * near 0 means they cut on genuinely different signals (chance-
    * corrected — raw agreement is inflated when both gates keep
    * almost everything).
    *
    * Composition shape: each gate is the EXISTING operator invoked
    * through its public seam; flags go long-form (doc, gate, keep)
    * and one self-join + aggregate produces all 6 pairs. The oracle
    * embeds each gate's full proven SQL as a subquery — zero
    * re-derivation drift. Pairs involving the LM gates cover the
    * ≥3-token documents those gates score; `n` reports each pair's
    * overlap.
    */
  def gateAgreement(spark: SparkSession, dir: String): DataFrame = {
    val flags = gateFlags(spark, dir)
    val a = flags.select(
      col("doc_id"), col("gate").as("gate_a"), col("f").as("fa"))
    val b = flags.select(
      col("doc_id"), col("gate").as("gate_b"), col("f").as("fb"))
    val pr = a
      .join(b, Seq("doc_id"))
      .filter(col("gate_a") < col("gate_b"))
      .groupBy(col("gate_a"), col("gate_b"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("fa") && col("fb"), 1).otherwise(0)).as("s11"),
        sum(when(!col("fa") && !col("fb"), 1).otherwise(0)).as("s00"),
        sum(when(col("fa"), 1).otherwise(0)).as("sa"),
        sum(when(col("fb"), 1).otherwise(0)).as("sb")
      )
    // exact integer emissions (round-12 float purge): po and pe are
    // rationals over n and n², so kappa = (po−pe)/(1−pe) reduces to
    // the BIGINT ratio ((s11+s00)·n − peNum) / (n² − peNum) with
    // peNum = sa·sb + (n−sa)(n−sb); the pe = 1 degenerate (both
    // gates constant) emits 0 as before. |numerator| ≤ n² ≈ 4·10⁸ at
    // sf0.1, ×10⁶ well inside signed 64-bit.
    val peNum = col("sa") * col("sb") +
      (col("n") - col("sa")) * (col("n") - col("sb"))
    val kNum = (col("s11") + col("s00")) * col("n") - peNum
    val kDen = col("n") * col("n") - peNum
    pr.select(
      col("gate_a"),
      col("gate_b"),
      col("n"),
      graft.functions.IntMath
        .microRatio(col("s11") + col("s00"), col("n"))
        .as("agree_ppm"),
      when(kDen === 0L, 0L)
        .otherwise(
          graft.functions.IntMath
            .idivHalfUpSigned(kNum * lit(1000000L), kDen)
        )
        .as("kappa_ppm")
    )
  }

  /** The gate-flag frame exposed for cross-object compositions
    * (q360's trainable-token ledger lives in Sampling).
    */
  def gateFlagsPublic(spark: SparkSession, dir: String): DataFrame =
    gateFlags(spark, dir)

  /** The long (doc_id, gate, f) flag frame over the four round-7
    * quality gates — shared inputs derived once (same scheme as
    * q194's fourGateManifest): one documents scan, one tokenize pass,
    * one per-doc trigram count feeding both LM gates. Cached: q190
    * reads it on both sides of its pair self-join and q206 replays
    * the same pairing.
    */
  private def gateFlags(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Memoized + checkpointed (mechanism 1): the four-chain union's
    // ANALYZED tree is ~1000 nodes, and each of the nine gate-family
    // consumers re-analyzed it (plus their own composition — q288's
    // tree was 3125 nodes, ~0.4-1.0 s of pure driver time per pass)
    // even with every data-bearing frame cache-hitting. The memo
    // returns one checkpoint-backed frame, so every consumer's plan
    // is a few nodes over a LogicalRDD leaf; the flag table is the
    // derive-once artifact a 100 TB pipeline persists anyway.
    graft.util.Caches.memoizedIn(spark, "gateFlags", Seq(docs)) {
      val toksSrc = docs
        .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
        .cacheTracked()
      val toks = toksSrc.select(col("doc_id"), col("t"))
      val docTri = docTrigramCounts(toks).cacheTracked()
      Seq(
        "gopher" -> gopherRulesFrom(docs)
          .select(col("doc_id"), col("keep").cast("boolean").as("f")),
        "lr" -> QualityLR
          .lrQualityGate(spark, dir)
          .select(col("doc_id"), col("pred_quality").as("f")),
        "ml" -> mooreLewisSelectFromToks(toksSrc, docTri)
          .select(col("doc_id"), (col("keep") === 1).as("f")),
        "ppl" -> trigramPerplexityFrom(toks, docTri)
          .select(col("doc_id"), (col("keep") === 1).as("f"))
      )
        .map { case (n, df) =>
          df.select(col("doc_id"), lit(n).as("gate"), col("f"))
        }
        .reduce(_.unionByName(_))
        .localCheckpoint()
    }
  }

  /** The 16-row (fg, fl, fm, fp) → count pattern frame over the four
    * gate verdicts — the shared seam q300 (Shapley), q319 (Cochran Q)
    * and q354 (ordering plan) all peel their statistics from, each
    * formerly inlining this identical chain (round-10 verdict item 2).
    * Docs missing any verdict are dropped (paired tests need complete
    * rows). Bounded at 16 rows but its lineage is the full four-gate
    * LM chain, so it is cacheTracked: q354's three ordering joins and
    * q300's lattice crossJoin replay it several times, and uncached
    * the chain ran 4x (q354 measured 10s vs ~2.5s before the r9 fix).
    */
  private def gatePatternCounts(
      spark: SparkSession,
      dir: String
  ): DataFrame = {
    val flags = gateFlags(spark, dir)
    graft.util.Caches.memoizedIn(spark, "gatePatternCounts", Seq(flags)) {
      gatePatternCountsFrom(flags)
    }
  }

  private def gatePatternCountsFrom(flags: DataFrame): DataFrame = {
    flags
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("gate") === "gopher", col("f"))).as("fg"),
        max(when(col("gate") === "lr", col("f"))).as("fl"),
        max(when(col("gate") === "ml", col("f"))).as("fm"),
        max(when(col("gate") === "ppl", col("f"))).as("fp")
      )
      .filter(
        col("fg").isNotNull && col("fl").isNotNull &&
          col("fm").isNotNull && col("fp").isNotNull
      )
      .groupBy(col("fg"), col("fl"), col("fm"), col("fp"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
  }

  /** q206: McNemar's paired test over every gate pair — where q190's
    * Cohen's κ measures chance-corrected AGREEMENT, McNemar asks the
    * sharper production question: do two gates disagree
    * SYMMETRICALLY, or is one systematically stricter? Per pair, the
    * discordant counts b = |a keeps, b drops| and c = |a drops,
    * b keeps| and the statistic (b−c)²/(b+c) (χ², 1 dof; ≥ 3.84
    * rejects symmetric disagreement at p < 0.05). A large statistic
    * with a healthy κ means the gates rank alike but one's threshold
    * is tighter — retune the threshold, don't retrain the gate.
    *
    * Scale: the shared gate-flag frame (one scan + LM chains), one
    * doc_id self-join (co-partitioned), one 6-row aggregate.
    */
  def mcnemarGates(spark: SparkSession, dir: String): DataFrame = {
    val flags = gateFlags(spark, dir)
    val a = flags.select(
      col("doc_id"), col("gate").as("gate_a"), col("f").as("fa"))
    val b = flags.select(
      col("doc_id"), col("gate").as("gate_b"), col("f").as("fb"))
    a
      .join(b, Seq("doc_id"))
      .filter(col("gate_a") < col("gate_b"))
      .groupBy(col("gate_a"), col("gate_b"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("fa") && !col("fb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("fa") && col("fb"), 1L).otherwise(0L)).as("n01")
      )
      .select(
        col("gate_a"),
        col("gate_b"),
        col("n"),
        col("n10"),
        col("n01"),
        when(col("n10") + col("n01") === 0, 0.0)
          .otherwise(
            round(
              pow(col("n10") - col("n01"), 2).cast("double") /
                (col("n10") + col("n01")),
              6
            )
          )
          .as("mcnemar_chi2")
      )
  }

  /** q184: Moore-Lewis cross-entropy-difference data selection
    * (Moore & Lewis, "Intelligent Selection of Language Model
    * Training Data", ACL 2010): score every document by
    * H_in(d) − H_gen(d), the cross-entropy under an in-domain LM
    * (trained on the curated source, `src0`) minus the cross-entropy
    * under the general corpus LM. Documents that look more like the
    * curated domain than like the average of the crawl score low and
    * are kept — the selection rule the big pipelines run between the
    * heuristic gates (q142) and the trained classifier (q180).
    *
    * Scale: both LMs are count aggregates over one tokenized corpus
    * pass (the in-domain one over its source slice); scoring is the
    * doc-trigram frame LEFT-joined against each LM's count tables —
    * key shuffles carrying counts, never instances. Unseen n-grams
    * hit the uniform floor term, so out-of-domain text is scored,
    * not dropped. The keep cut is corpus-relative (diff ≤ corpus
    * mean diff) like q127 — absolute thresholds do not transfer
    * across corpus sizes.
    */
  def mooreLewisSelect(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .cacheTracked()
    // the scored trigram frame feeds BOTH LM joins — materialize once
    mooreLewisSelectFromToks(
      toks,
      docTrigramCounts(toks.select(col("doc_id"), col("t"))).cacheTracked())
  }

  /** The Moore-Lewis chain over CALLER-prepared (doc_id, source, t)
    * tokens and per-doc trigram counts — the q194 seam (shares one
    * tokenize pass and one trigram pass with the perplexity gate).
    * The caller owns both frames' materialization.
    */
  def mooreLewisSelectFromToks(
      toks: DataFrame,
      scoredTri: DataFrame
  ): DataFrame = {
    val all = toks.select(col("doc_id"), col("t"))
    val inDomain = toks
      .filter(col("source") === "src0")
      .select(col("doc_id"), col("t"))
    val xIn = lmXentWithFloor(inDomain, scoredTri)
      .withColumnRenamed("x", "xi")
    val xGen = lmXentWithFloor(all, scoredTri)
      .withColumnRenamed("x", "xg")
    val j = xIn.join(xGen, Seq("doc_id")).cacheTracked()
    val mdiff = j.agg(avg(col("xi") - col("xg")).as("md"))
    j.crossJoin(broadcast(mdiff))
      .select(
        col("doc_id"),
        round(col("xi"), 6).as("xent_in"),
        round(col("xg"), 6).as("xent_gen"),
        round(col("xi") - col("xg"), 6).as("ml_score"),
        (col("xi") - col("xg") <= col("md")).cast("int").as("keep")
      )
  }

  /** q286: lead-bias audit — how much of each document's vocabulary
    * lives ONLY in its first 64 tokens. Boilerplate-heavy sources
    * (templated intros, navigation headers) concentrate their
    * distinct terms in the document lead, which inflates
    * head-truncated training examples and fools length-normalized
    * quality scores; a high `lead_ppm` says "train-time truncation
    * keeps most of this source's signal", a low one says truncation
    * destroys it. Per doc: head = first 64 tokens, tail = rest;
    * per-source sums of |head∖tail|, |tail∖head|, |head∩tail| over
    * DISTINCT terms, all exact integers.
    *
    * Scale: pure per-row array arithmetic (slice/distinct/intersect
    * are codegen built-ins) + one map-side-combined agg — a single
    * narrow scan, zero shuffles beyond the |sources|-row agg.
    */
  def leadBias(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val d = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), toks.as("t"))
      .filter(size(col("t")) > 0)
      .select(
        col("source"),
        array_distinct(slice(col("t"), 1, 64)).as("h"),
        array_distinct(
          slice(col("t"), lit(65), greatest(size(col("t")) - 64, lit(0)))
        ).as("tl")
      )
      .select(
        col("source"),
        intersectSize(col("h"), col("tl")).cast("long").as("both"),
        size(col("h")).cast("long").as("nh"),
        size(col("tl")).cast("long").as("nt")
      )
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nh") - col("both")).as("head_only"),
        sum(col("nt") - col("both")).as("tail_only"),
        sum(col("both")).as("both_terms")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("head_only"),
        col("tail_only"),
        col("both_terms"),
        graft.functions.IntMath.microRatio(
          col("head_only"),
          col("head_only") + col("tail_only") + col("both_terms"))
          .as("lead_ppm")
      )
  }

  /** q288: gate-failure mutual-information screen — for each quality
    * gate and each metadata feature (source, lang, token-count digit
    * magnitude), the mutual information I(feature; keep) and the
    * uncertainty coefficient I/H(keep). This is the diagnostic a
    * curation team runs when a gate's kill rate looks wrong: a high
    * NMI against `source` means the gate is a de-facto source filter
    * (retune per source); high against `len_digits` means it's a
    * length proxy (q142's explicit length rules are cheaper); low
    * everywhere means it cuts on signal the metadata can't explain —
    * the gate is earning its keep. Digit magnitude (decimal digit
    * count of the token count) is used instead of log-bucketing
    * because it is EXACT integer arithmetic on both engines.
    *
    * Determinism: each cell's MI summand is nano-quantized to BIGINT
    * before summation (order-free); marginals are exact integers.
    *
    * Scale: the shared gate-flag frame (one scan + the LM chains),
    * one feature explode (3 rows/doc), one co-partitioned doc_id
    * join, then aggregates over |gates|·|features|·|values|·2 cells —
    * bounded, never corpus rows.
    */
  def gateMiScreen(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val x = size(tokens(col("text"))).cast("long")
    val ft = docs.select(
      col("doc_id"),
      explode(
        array(
          struct(lit("source").as("feature"), col("source").as("fval")),
          struct(lit("lang").as("feature"), col("lang").as("fval")),
          struct(
            lit("len_digits").as("feature"),
            length(x.cast("string")).cast("string").as("fval")
          )
        )
      ).as("e")
    ).select(col("doc_id"), col("e.feature"), col("e.fval"))
    val cells = gateFlags(spark, dir)
      .join(ft, "doc_id")
      .groupBy(col("gate"), col("feature"), col("fval"), col("f"))
      .agg(count(lit(1)).as("n_c"))
      // bounded (|gates|·|features|·|values|·2 rows), but its lineage
      // is the gate-flag join + the ft tokenize scan; tot/mf/mk and
      // the MI join all read it — uncached, that lineage runs 4x
      // (the q354 seam trick, commit 138a225)
      .cacheTracked()
    val tot = cells
      .groupBy(col("gate"), col("feature"))
      .agg(sum(col("n_c")).as("n"))
    val mf = cells
      .groupBy(col("gate"), col("feature"), col("fval"))
      .agg(sum(col("n_c")).as("n_f"))
    val mk = cells
      .groupBy(col("gate"), col("feature"), col("f"))
      .agg(sum(col("n_c")).as("n_k"))
    val miTerm = col("n_c").cast("double") / col("n") *
      log(
        col("n_c").cast("double") * col("n") /
          (col("n_f").cast("double") * col("n_k"))
      )
    val mi = cells
      .join(broadcast(tot), Seq("gate", "feature"))
      .join(mf, Seq("gate", "feature", "fval"))
      .join(broadcast(mk), Seq("gate", "feature", "f"))
      .select(
        col("gate"),
        col("feature"),
        round(miTerm * 1e9).cast("long").as("t_nano")
      )
      .groupBy(col("gate"), col("feature"))
      .agg(sum(col("t_nano")).as("mi_nano"))
    val hTerm = lit(-1.0) * col("n_k").cast("double") / col("n") *
      log(col("n_k").cast("double") / col("n"))
    val hk = mk
      .join(broadcast(tot), Seq("gate", "feature"))
      .select(
        col("gate"),
        col("feature"),
        col("n"),
        round(hTerm * 1e9).cast("long").as("h_nano")
      )
      .groupBy(col("gate"), col("feature"))
      .agg(max(col("n")).as("n"), sum(col("h_nano")).as("h_nano"))
    mi.join(hk, Seq("gate", "feature"))
      .select(
        col("gate"),
        col("feature"),
        col("n"),
        graft.functions.IntMath
          .idivHalfUpSigned(col("mi_nano"), lit(1000L)).as("mi_micro"),
        when(col("h_nano") === 0L, lit(0L))
          .otherwise(
            graft.functions.IntMath
              .idivHalfUpSigned(col("mi_nano") * lit(1000000L),
                col("h_nano"))
          ).as("nmi_micro")
      )
  }

  /** q290: truncation-loss curve of the single-window loader — for
    * each max context L ∈ {128…2048}, the tokens LOST if every doc is
    * clipped to its first L tokens (no packing, no continuation
    * windows). The decision-sheet complement of q250: padding waste
    * says what short docs cost, truncation loss says what long docs
    * cost; a loader picks L where the q250 and q290 curves cross,
    * and q286's lead-bias table says how much SIGNAL (not just
    * token count) the clipped tail carried. Exact integer arithmetic
    * throughout.
    *
    * Scale: one tokenize scan × 5 literal lengths (exploded constant
    * array), one 5-row map-side-combined agg — no shuffle of corpus
    * rows, no second pass.
    */
  def truncationLossCurve(spark: SparkSession, dir: String): DataFrame = {
    val lens = Seq(128L, 256L, 512L, 1024L, 2048L)
    Tables
      .documents(spark, dir)
      .select(size(tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("n"), explode(lit(lens.toArray)).as("len"))
      .groupBy(col("len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n") > col("len"), 1L).otherwise(0L))
          .as("docs_truncated"),
        sum(col("n")).as("total_tokens"),
        sum(least(col("n"), col("len"))).as("kept_tokens")
      )
      .select(
        col("len"),
        col("n_docs"),
        col("docs_truncated"),
        col("total_tokens"),
        col("kept_tokens"),
        graft.functions.IntMath
          .microRatio(
            col("total_tokens") - col("kept_tokens"),
            col("total_tokens"))
          .as("lost_ppm")
      )
  }

  /** q294: language-confusion audit — the q129 NB classifier's
    * per-doc (label, prediction, margin) stream aggregated into the
    * confusion matrix with per-cell mean margin and low-margin
    * counts. Off-diagonal cells with HIGH margin are mislabel
    * suspects (the model is confident the tag is wrong — route to
    * q213-style quarantine); diagonal cells with a large low-margin
    * share mark languages whose boundary needs a better model before
    * per-language budgets (q150/q268) can be trusted. Margins are
    * micro-quantized per doc and summed as exact integers; each
    * share is one division.
    *
    * Scale: the NB score topology (vocabulary-sized count tables,
    * one scoring join), then a |langs|²-bounded aggregate.
    */
  def langConfusionAudit(spark: SparkSession, dir: String): DataFrame = {
    val nb = nbLangId(spark, dir)
      .select(
        col("lang"),
        col("pred_lang"),
        round(col("margin") * 1e6).cast("long").as("mm")
      )
    val tr = broadcast(
      nb.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
    )
    nb.groupBy(col("lang"), col("pred_lang"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("mm")).as("mm_sum"),
        sum(when(col("mm") < 1000000L, 1L).otherwise(0L))
          .as("low_margin_n")
      )
      .join(tr, "lang")
      .select(
        col("lang"),
        col("pred_lang"),
        col("n"),
        graft.functions.IntMath.microRatio(col("n"), col("n_true"))
          .as("row_share_ppm"),
        graft.functions.IntMath
          .idivHalfUpSigned(col("mm_sum"), col("n"))
          .as("mean_margin_micro"),
        col("low_margin_n")
      )
  }

  /** q309: PII census — per (source, pii_type ∈ {email, phone, ip,
    * url}): documents affected, total matches, and matched
    * characters (the mass redaction would remove). q59 redacts; this
    * is the AUDIT that decides redaction policy per source — a
    * source at 30% affected docs needs the scrubber in its ingest
    * path, one at 0.01% needs quarantine review (the matches are
    * probably structured content, not PII). Patterns are
    * RE2-compatible (the q59 contract) so the oracle replays them;
    * every output is an exact integer or one division.
    *
    * Scale: one narrow scan, four regexp passes per row fused in
    * codegen, a 4-row-per-doc explode, one (source, type) agg.
    */
  /** q319: Cochran's Q across the four-gate battery — the k-gate
    * omnibus the pairwise McNemar grid (q206) needs in front of it:
    * one test of "do the gates differ in strictness at all" before
    * six pairwise hunts (the q318-before-q283 discipline applied to
    * gates). Q = k(k−1)·Σ_j(C_j − ΣC/k)² / (k·ΣR_i − ΣR_i²) over
    * per-doc pass counts R_i and per-gate pass totals C_j — every
    * term an exact integer off the 16 pass-pattern counts; the χ²₃
    * 5% cut is 7.815. Output: one row per gate (its pass total and
    * share) carrying the shared Q verdict.
    *
    * Scale: the shared gate-flag frame → the SAME bounded pattern
    * agg as q300; everything after is 16-row arithmetic.
    */
  def cochranQ(spark: SparkSession, dir: String): DataFrame = {
    val pat = gatePatternCounts(spark, dir)
    val ri = col("fg").cast("long") + col("fl").cast("long") +
      col("fm").cast("long") + col("fp").cast("long")
    val tot = broadcast(
      pat.agg(
        sum(col("c")).as("n"),
        sum(col("c") * ri).as("sum_r"),
        sum(col("c") * ri * ri).as("sum_r2"),
        sum(when(col("fg"), col("c")).otherwise(0L)).as("cg"),
        sum(when(col("fl"), col("c")).otherwise(0L)).as("cl"),
        sum(when(col("fm"), col("c")).otherwise(0L)).as("cm"),
        sum(when(col("fp"), col("c")).otherwise(0L)).as("cp")
      )
    )
    // Q = (k−1)·(k·ΣC_j² − (ΣC)²) / (k·ΣR − ΣR²), k = 4
    val sumC2 = col("cg") * col("cg") + col("cl") * col("cl") +
      col("cm") * col("cm") + col("cp") * col("cp")
    val qNum = lit(3L) *
      (lit(4L) * sumC2 - col("sum_r") * col("sum_r"))
    val qDen = lit(4L) * col("sum_r") - col("sum_r2")
    val q = qNum.cast("double") / qDen.cast("double")
    val gates = Seq(
      ("gopher", "cg"), ("lr", "cl"), ("ml", "cm"), ("ppl", "cp")
    )
    tot
      .select(
        col("n"),
        when(qDen === 0L, lit(0L))
          .otherwise(graft.functions.IntMath
            .idivHalfUpSigned(qNum * lit(1000L), qDen)).as("q_milli"),
        (q > 7.815).as("gates_differ"),
        explode(
          array(gates.map { case (g, c) =>
            struct(lit(g).as("gate"), col(c).as("n_pass"))
          }: _*)
        ).as("e")
      )
      .select(
        col("e.gate"),
        col("n"),
        col("e.n_pass"),
        graft.functions.IntMath.microRatio(col("e.n_pass"), col("n"))
          .as("pass_ppm"),
        col("q_milli"),
        col("gates_differ")
      )
  }

  /** q356: document-length five-point summary per language — exact
    * min/p25/p50/p75/max token counts via value-domain cumsums. The
    * readable companion to q197's IQR gate and q306's tail index:
    * the five numbers a dataset card prints per language, computed
    * with the same rank-exact machinery as the gates so the card
    * and the gates can never disagree.
    *
    * Scale: one tokenize scan → (lang, count-value) frame (bounded
    * by distinct lengths) → value-domain cumsums.
    */
  def lengthFivePoint(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables
      .documents(spark, dir)
      .select(
        col("lang"),
        size(tokens(col("text"))).cast("long").as("k")
      )
      .groupBy(col("lang"), col("k"))
      .agg(count(lit(1)).as("c"))
    val wc = Window
      .partitionBy(col("lang"))
      .orderBy(col("k").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals
      .withColumn("cumc", sum(col("c")).over(wc))
      .withColumn(
        "n",
        sum(col("c")).over(Window.partitionBy(col("lang")))
      )
    def pick(num: Int, den: Int, name: String): DataFrame =
      cum
        .filter(col("cumc") * den >= col("n") * num)
        .groupBy(col("lang"))
        .agg(min(col("k")).as(name))
    val ext = cum
      .groupBy(col("lang"))
      .agg(
        max(col("n")).as("n_docs"),
        min(col("k")).as("min_toks"),
        max(col("k")).as("max_toks")
      )
    ext
      .join(broadcast(pick(1, 4, "p25_toks")), "lang")
      .join(broadcast(pick(1, 2, "p50_toks")), "lang")
      .join(broadcast(pick(3, 4, "p75_toks")), "lang")
      .select(
        col("lang"),
        col("n_docs"),
        col("min_toks"),
        col("p25_toks"),
        col("p50_toks"),
        col("p75_toks"),
        col("max_toks")
      )
  }

  /** q338: byte economics per language — bytes, characters, and
    * tokens with the conversion ratios (bytes/token, chars/token,
    * bytes/char in milli). Token budgets (q164/q304), storage
    * provisioning, and network planning live in different units,
    * and the exchange rates are per-language facts (CJK spends ~3
    * bytes per character and packs more meaning per token): this is
    * the conversion table read whenever a token budget meets a
    * storage bill. Exact integer sums, three divisions.
    *
    * Scale: one narrow scan, a |langs|-row agg.
    */
  def byteEconomics(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("lang"),
        length(col("text")).cast("long").as("chars"),
        length(col("text").cast("binary")).cast("long").as("bytes"),
        tokenCount(col("text")).cast("long").as("toks")
      )
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("bytes")).as("n_bytes"),
        sum(col("chars")).as("n_chars"),
        sum(col("toks")).as("n_tokens")
      )
      .select(
        col("lang"),
        col("n_docs"),
        col("n_bytes"),
        col("n_chars"),
        col("n_tokens"),
        graft.functions.IntMath
          .idivHalfUp(col("n_bytes") * lit(1000L), col("n_tokens"))
          .as("bytes_per_token_milli"),
        graft.functions.IntMath
          .idivHalfUp(col("n_chars") * lit(1000L), col("n_tokens"))
          .as("chars_per_token_milli"),
        graft.functions.IntMath
          .idivHalfUp(col("n_bytes") * lit(1000L), col("n_chars"))
          .as("bytes_per_char_milli")
      )

  /** q325: vocabulary midpoint drift — the corpus split at the
    * doc_id midpoint (the arrival proxy q253 established) and the
    * top-1000 terms' counts compared across halves: per-term χ²
    * homogeneity contributions, ranked, top-50 emitted. q168 finds
    * SOURCES whose vocabulary diverges from the corpus; this finds
    * TERMS whose usage shifted over the corpus's life — topic
    * drift, a source coming online mid-crawl, or template churn —
    * and the term list is the actionable part (q321's omnibus
    * verdict, at term granularity). Contributions are
    * nano-quantized before ranking so membership is engine-exact.
    *
    * Scale: one token count pass; the top-1000 vocabulary is a
    * bounded rank (q255's construction); per-term cells are exact
    * integers.
    */
  def vocabMidpointDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mid = broadcast(
      docs.agg(
        ((min(col("doc_id")) + max(col("doc_id"))) / 2).cast("long")
          .as("mid")
      )
    )
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .crossJoin(mid)
      .select(
        col("term"),
        when(col("doc_id") <= col("mid"), 1L).otherwise(2L).as("half")
      )
    val counts = toks
      .groupBy(col("term"))
      .agg(
        sum(when(col("half") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("half") === 2L, 1L).otherwise(0L)).as("n2")
      )
    val wTop = Window.orderBy((col("n1") + col("n2")).desc, col("term").asc)
    val top = counts
      .withColumn("vrank", row_number().over(wTop))
      .filter(col("vrank") <= 1000)
    val tots = broadcast(
      top.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    )
    val e1 = (col("n1") + col("n2")).cast("double") * col("t1") /
      (col("t1") + col("t2"))
    val e2 = (col("n1") + col("n2")).cast("double") * col("t2") /
      (col("t1") + col("t2"))
    val contrib = (col("n1") - e1) * (col("n1") - e1) / e1 +
      (col("n2") - e2) * (col("n2") - e2) / e2
    val wr = Window.orderBy(col("c_nano").desc, col("term").asc)
    top
      .crossJoin(tots)
      .select(
        col("term"),
        col("n1"),
        col("n2"),
        round(contrib * 1e9).cast("long").as("c_nano")
      )
      .withColumn("drift_rank", row_number().over(wr).cast("long"))
      .filter(col("drift_rank") <= 50)
      .select(
        col("drift_rank"),
        col("term"),
        col("n1"),
        col("n2"),
        col("c_nano").as("chi2_nano")
      )
  }

  /** q326: quality-component attribution — the q15 score is
    * 0.5·len + 0.4·stop + 0.1·punct; per source, the mean of each
    * WEIGHTED component and the binding one (largest headroom to
    * its weight cap). A low-quality source is fixed differently
    * depending on the binding term: len → concatenate/filter short
    * docs, stop → language or extraction problems (cross-check
    * q294), punct → markup damage (cross-check q313). Components
    * are micro-quantized per doc and summed exactly; means are one
    * division each.
    *
    * Scale: one narrow scan, one |sources|-row agg.
    */
  def qualityComponents(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    // the SAME exact integer terms the composite q_micro is built
    // from (TextFunctions.qualityMicroTerms), weighted in pure
    // integers: 0.5·len → lenM/2, 0.4·stop → 2·stopM/5,
    // 0.1·(1−punct) → (1e6−punctM)/10 (round-9 seam)
    val (lenM, stopM, punctM) =
      graft.functions.TextFunctions.qualityMicroTerms(col("text"))
    val perDoc = Tables
      .documents(spark, dir)
      .select(
        col("source"),
        idivHalfUp(lenM, lit(2L)).as("lm"),
        idivHalfUp(lit(2L) * stopM, lit(5L)).as("sm"),
        idivHalfUp(lit(1000000L) - punctM, lit(10L)).as("pm")
      )
    val agg = perDoc
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        idivHalfUp(sum(col("lm")), count(lit(1))).as("len_micro"),
        idivHalfUp(sum(col("sm")), count(lit(1))).as("stop_micro"),
        idivHalfUp(sum(col("pm")), count(lit(1))).as("punct_micro")
      )
    val hl = lit(500000L) - col("len_micro")
    val hs = lit(400000L) - col("stop_micro")
    val hp = lit(100000L) - col("punct_micro")
    agg.select(
      col("source"),
      col("n"),
      col("len_micro"),
      col("stop_micro"),
      col("punct_micro"),
      (col("len_micro") + col("stop_micro") + col("punct_micro"))
        .as("mean_q_micro"),
      when(hl >= hs && hl >= hp, lit("len"))
        .when(hs >= hp, lit("stop"))
        .otherwise(lit("punct")).as("binding")
    )
  }

  /** q344: gate pass-rate curves by length magnitude — for each
    * gate and each ten-token length bucket (0-9, 10-19, ... 90+),
    * the pass rate. q288's MI says WHETHER a gate is a length
    * proxy; this draws the CURVE — the shape (cliff vs ramp vs
    * U) tells which rule inside the gate binds where, and a
    * non-monotone ppl/lr curve is the signature of a length
    * confounder in the trained model's features. Exact counts, one
    * division per cell.
    *
    * Scale: the shared gate-flag frame + one bounded
    * (gate × digits) agg.
    */
  def gatePassCurves(spark: SparkSession, dir: String): DataFrame = {
    val strata = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        least(
          floor(
            size(tokens(col("text"))).cast("long") / lit(10.0)
          ).cast("long"),
          lit(9L)
        ).as("len_bucket")
      )
    gateFlags(spark, dir)
      .join(strata, "doc_id")
      .groupBy(col("gate"), col("len_bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("f"), 1L).otherwise(0L)).as("n_pass")
      )
      .select(
        col("gate"),
        col("len_bucket"),
        col("n"),
        col("n_pass"),
        graft.functions.IntMath.microRatio(col("n_pass"), col("n"))
          .as("pass_ppm")
      )
  }

  /** q340: gate pass-rate drift — each gate's pass rate on the first
    * vs second half of the corpus (doc_id midpoint, the q325 split)
    * with the pooled two-proportion z. A gate whose rate moves
    * across corpus life is reacting to upstream drift (q325 names
    * the terms; q259 the sources) — and every threshold tuned on
    * last month's corpus is now a different gate. Exact counts; one
    * z per gate; the χ-free verdict at |z| > 3.
    *
    * Scale: the shared gate-flag frame + one broadcast midpoint;
    * 4×2 cells.
    */
  def gatePassDrift(spark: SparkSession, dir: String): DataFrame = {
    val mid = broadcast(
      Tables
        .documents(spark, dir)
        .agg(
          ((min(col("doc_id")) + max(col("doc_id"))) / 2).cast("long")
            .as("mid")
        )
    )
    val cells = gateFlags(spark, dir)
      .crossJoin(mid)
      .groupBy(col("gate"))
      .agg(
        sum(when(col("doc_id") <= col("mid"), 1L).otherwise(0L))
          .as("n1"),
        sum(when(col("doc_id") <= col("mid") && col("f"), 1L)
          .otherwise(0L)).as("k1"),
        sum(when(col("doc_id") > col("mid"), 1L).otherwise(0L))
          .as("n2"),
        sum(when(col("doc_id") > col("mid") && col("f"), 1L)
          .otherwise(0L)).as("k2")
      )
    val p1 = col("k1").cast("double") / col("n1")
    val p2 = col("k2").cast("double") / col("n2")
    val pPool = (col("k1") + col("k2")).cast("double") /
      (col("n1") + col("n2"))
    val se = sqrt(
      pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n1") + lit(1.0) / col("n2"))
    )
    val z = when(se === 0.0, lit(0.0)).otherwise((p1 - p2) / se)
    cells.select(
      col("gate"),
      col("n1"),
      col("k1"),
      col("n2"),
      col("k2"),
      graft.functions.IntMath.microRatio(col("k1"), col("n1"))
        .as("rate1_ppm"),
      graft.functions.IntMath.microRatio(col("k2"), col("n2"))
        .as("rate2_ppm"),
      round(z * 1e3).cast("long").as("z_milli"),
      coalesce(abs(z) > 3.0, lit(false)).as("drifted")
    )
  }

  /** q322: gate fairness battery — for every (gate, source) cell:
    * the source's pass rate vs the rest of the corpus, the
    * two-proportion pooled z, the asymptotic p, and BH step-up
    * rejection across the whole battery (the q284 discipline applied
    * to gates: 4 gates × |sources| tests fire ~5% false alarms under
    * a fixed α). A rejected cell means the gate treats that source
    * differently from the corpus — retune per source (q299 says
    * whether composition explains it) or accept the gate is doing
    * its job on a genuinely different source. p-values are
    * micro-quantized BEFORE the exact-integer step-up.
    *
    * Scale: the shared gate-flag frame joined to the doc→source map
    * once; per-cell counts map-side combined; the step-up runs on
    * the bounded battery frame.
    */
  def gateFairnessBattery(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val cells = gateFlags(spark, dir)
      .join(src, "doc_id")
      .groupBy(col("gate"), col("source"))
      .agg(
        count(lit(1)).as("n_s"),
        sum(when(col("f"), 1L).otherwise(0L)).as("k_s")
      )
      // 4·|sources| rows over the gate-flag join lineage; gateTot,
      // the battery join, the m count, and the BH chain all read it —
      // the q354 seam trick (commit 138a225)
      .cacheTracked()
    val gateTot = cells
      .groupBy(col("gate"))
      .agg(sum(col("n_s")).as("n_g"), sum(col("k_s")).as("k_g"))
    val joined = cells.join(broadcast(gateTot), "gate")
    val nR = (col("n_g") - col("n_s")).cast("double")
    val kR = (col("k_g") - col("k_s")).cast("double")
    val p1 = col("k_s").cast("double") / col("n_s")
    val p2 = kR / nR
    val pPool = col("k_g").cast("double") / col("n_g")
    val se = sqrt(
      pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n_s") + lit(1.0) / nR)
    )
    // a gate that passes nothing or everything has zero pooled
    // variance — no evidence either way, z defined as 0
    val z = when(se === 0.0, lit(0.0)).otherwise((p1 - p2) / se)
    // two-sided normal tail via the Abramowitz-Stegun 7.1.26 erf
    // polynomial — closed form identical on both engines
    val az = abs(z) / sqrt(lit(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * az)
    val erf = lit(1.0) - (lit(0.254829592) * t - lit(0.284496736) * t * t +
      lit(1.421413741) * t * t * t - lit(1.453152027) * t * t * t * t +
      lit(1.061405429) * t * t * t * t * t) * exp(-az * az)
    val p = lit(1.0) - erf
    val withP = joined.select(
      col("gate"),
      col("source"),
      col("n_s"),
      col("k_s"),
      graft.functions.IntMath.microRatio(col("k_s"), col("n_s"))
        .as("rate_ppm"),
      graft.functions.IntMath
        .microRatio(col("k_g") - col("k_s"), col("n_g") - col("n_s"))
        .as("rest_ppm"),
      round(z * 1e3).cast("long").as("z_milli"),
      round(p * 1e6).cast("long").as("p_micro")
    )
      // 4·|sources| rows; the m count and the BH chain both read it
      .cacheTracked()
    val m = broadcast(withP.agg(count(lit(1)).as("m")))
    val wr = Window.orderBy(col("p_micro").asc, col("gate").asc,
      col("source").asc)
    val wall = Window
      .orderBy(col("p_micro").asc, col("gate").asc, col("source").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    withP
      .crossJoin(m)
      .withColumn("bh_rank", row_number().over(wr).cast("long"))
      .withColumn(
        "kmax",
        max(
          when(
            col("p_micro") * col("m") * 20 <= col("bh_rank") * lit(1000000L),
            col("bh_rank")
          )
        ).over(wall)
      )
      .select(
        col("gate"),
        col("source"),
        col("n_s"),
        col("k_s"),
        col("rate_ppm"),
        col("rest_ppm"),
        col("z_milli"),
        col("p_micro"),
        col("bh_rank"),
        (col("bh_rank") <= coalesce(col("kmax"), lit(0L))).as("rejected")
      )
  }

  /** q351: script-lang consistency — the RULE-based mislabel
    * detector next to q294's model-based one: each lang tag expects
    * a script (zh → CJK, everything else here → Latin), and a doc
    * whose expected-script character share falls below 50% of its
    * letter mass is inconsistent. Per (lang): docs checked,
    * inconsistent count and ppm. q294 flags what a trained model
    * doubts; this flags what a one-line invariant PROVES wrong —
    * cheap enough to run in ingest, before any model exists. Exact
    * counts via the q313 length-difference technique.
    *
    * Scale: one narrow scan with two regexp passes, a |langs|-row
    * agg.
    */
  def scriptLangConsistency(spark: SparkSession, dir: String): DataFrame = {
    val cjk = "[\\u4E00-\\u9FFF]"
    val latin = "[A-Za-z]"
    val cjkN = (length(col("text")) -
      length(regexp_replace(col("text"), cjk, ""))).cast("long")
    val latN = (length(col("text")) -
      length(regexp_replace(col("text"), latin, ""))).cast("long")
    val expected = when(col("lang") === "zh", cjkN).otherwise(latN)
    val letters = cjkN + latN
    val perDoc = Tables
      .documents(spark, dir)
      .select(
        col("lang"),
        letters.as("letters"),
        expected.as("expected")
      )
      .filter(col("letters") > 0)
      .select(
        col("lang"),
        (col("expected") * 2 < col("letters")).as("inconsistent")
      )
    perDoc
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("inconsistent"), 1L).otherwise(0L))
          .as("n_inconsistent")
      )
      .select(
        col("lang"),
        col("n_docs"),
        col("n_inconsistent"),
        graft.functions.IntMath
          .microRatio(col("n_inconsistent"), col("n_docs"))
          .as("inconsistent_ppm")
      )
  }

  /** q313's script classes as (name, java-regex, re2-regex) — the
    * char-class RANGES are identical; only the escape syntax differs
    * between Spark's Java regex and DuckDB's RE2, so both columns
    * are generated from this one seq. `\s` is written as an explicit
    * class because Java and RE2 disagree on vertical tab.
    */
  val scriptClasses: Seq[(String, String, String)] = Seq(
    ("latin", "[A-Za-z]", "[A-Za-z]"),
    ("digit", "[0-9]", "[0-9]"),
    ("cjk", "[\\u4E00-\\u9FFF]", "[\\x{4E00}-\\x{9FFF}]"),
    ("cyrillic", "[\\u0400-\\u04FF]", "[\\x{0400}-\\x{04FF}]"),
    ("space", "[ \\t\\n\\r\\f]", "[ \\t\\n\\r\\f]")
  )

  /** q313: script census — per source, the character mass in each
    * writing-system class (Latin, digits, CJK, Cyrillic, whitespace,
    * other) with shares. The multilingual-hygiene twin of q129's
    * label check: a source tagged `en` carrying 30% CJK characters
    * is mislabeled or mis-extracted, and mixed-script mass is where
    * encoding damage (mojibake) concentrates. Counts are exact
    * character counts via length-difference after class removal —
    * one regexp_replace per class inside codegen, no explode of
    * characters.
    *
    * Scale: one narrow scan × 5 regex passes, a |sources|·6 agg.
    */
  def scriptCensus(spark: SparkSession, dir: String): DataFrame = {
    val perClass = scriptClasses.map { case (name, javaRe, _) =>
      struct(
        lit(name).as("script"),
        (length(col("text")) -
          length(regexp_replace(col("text"), javaRe, "")))
          .cast("long").as("n_chars")
      )
    }
    val withOther = Tables
      .documents(spark, dir)
      .select(
        col("source"),
        length(col("text")).cast("long").as("total"),
        array(perClass: _*).as("cls")
      )
      .withColumn(
        "cls2",
        concat(
          col("cls"),
          array(
            struct(
              lit("other").as("script"),
              (col("total") -
                aggregate(col("cls"), lit(0L), (acc, c) =>
                  acc + c.getField("n_chars"))).as("n_chars")
            )
          )
        )
      )
      .select(col("source"), col("total"), explode(col("cls2")).as("e"))
      .select(col("source"), col("total"), col("e.script"),
        col("e.n_chars"))
    withOther
      .groupBy(col("source"), col("script"))
      .agg(
        sum(col("n_chars")).as("n_chars"),
        sum(col("total")).as("total_chars")
      )
      .select(
        col("source"),
        col("script"),
        col("n_chars"),
        when(col("total_chars") === 0L, lit(null).cast("long"))
          .otherwise(graft.functions.IntMath
            .microRatio(col("n_chars"), col("total_chars")))
          .as("share_ppm")
      )
  }

  /** q314: context-length cost frontier — q250's padding waste (the
    * pack-into-⌈n/L⌉-windows loader) and q290's truncation loss (the
    * clip-to-one-window loader) evaluated on the SAME length lattice
    * and reduced to the decision: per L, which design is cheaper,
    * and per design, which L minimizes its waste. The two source
    * curves exist exactly for this sheet; emitting the joined
    * frontier keeps the decision in one artifact (and the argmin
    * flags make regressions visible when the corpus shifts). Exact
    * integer token arithmetic throughout.
    *
    * Scale: one tokenize scan × 6 literal lengths, a 6-row agg, and
    * 6-row window arithmetic.
    */
  def contextCostFrontier(spark: SparkSession, dir: String): DataFrame = {
    val lens = Seq(128L, 256L, 512L, 1024L, 2048L, 4096L)
    val agg = Tables
      .documents(spark, dir)
      .select(size(tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("n"), explode(lit(lens.toArray)).as("len"))
      .withColumn(
        "n_windows",
        ceil(col("n").cast("double") / col("len")).cast("long")
      )
      .groupBy(col("len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(col("n_windows") * col("len") - col("n"))
          .as("padded_tokens"),
        sum(col("n_windows") * col("len")).as("padded_capacity"),
        sum(greatest(col("n") - col("len"), lit(0L)))
          .as("lost_tokens")
      )
    val wAll = Window
      .orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    agg
      .withColumn("min_pad", min(col("padded_tokens")).over(wAll))
      .withColumn("min_lost", min(col("lost_tokens")).over(wAll))
      .select(
        col("len"),
        col("n_docs"),
        col("total_tokens"),
        col("padded_tokens"),
        graft.functions.IntMath
          .microRatio(col("padded_tokens"), col("padded_capacity"))
          .as("pad_waste_ppm"),
        col("lost_tokens"),
        graft.functions.IntMath
          .microRatio(col("lost_tokens"), col("total_tokens"))
          .as("lost_ppm"),
        when(col("padded_tokens") < col("lost_tokens"), lit("pack"))
          .otherwise(lit("truncate")).as("cheaper_design"),
        (col("padded_tokens") === col("min_pad")).as("best_pack_l"),
        (col("lost_tokens") === col("min_lost")).as("best_truncate_l")
      )
  }

  /** The q309 pattern set — public so the oracle SQL is generated
    * from the SAME strings (RE2-compatible, valid in both engines).
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "phone" -> "\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b",
    "ip" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "url" -> "https?://[^\\s]+"
  )

  def piiCensus(spark: SparkSession, dir: String): DataFrame = {
    val patterns = piiPatterns
    val perType = Tables
      .documents(spark, dir)
      .select(
        col("source"),
        explode(
          array(patterns.map { case (name, re) =>
            val ms = regexp_extract_all(col("text"), lit(re), lit(0))
            struct(
              lit(name).as("pii_type"),
              size(ms).cast("long").as("n_matches"),
              aggregate(ms, lit(0L), (acc, m) => acc + length(m))
                .as("n_chars")
            )
          }: _*)
        ).as("e")
      )
      .select(
        col("source"),
        col("e.pii_type"),
        col("e.n_matches"),
        col("e.n_chars")
      )
    perType
      .groupBy(col("source"), col("pii_type"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_matches") > 0, 1L).otherwise(0L))
          .as("docs_affected"),
        sum(col("n_matches")).as("n_matches"),
        sum(col("n_chars")).as("chars_matched")
      )
      .select(
        col("source"),
        col("pii_type"),
        col("docs_affected"),
        col("n_matches"),
        col("chars_matched"),
        graft.functions.IntMath
          .microRatio(col("docs_affected"), col("n_docs"))
          .as("affected_ppm")
      )
  }

  /** q354's lattices, public so the oracle replays identical rows:
    * every nonempty gate subset as a bitmask (gopher=1, lr=2, ml=4,
    * ppl=8) with include flags, and every ordering of the four
    * gates with its three proper prefix masks.
    */
  val gateSubsetLattice: Seq[(Int, Int, Int, Int, Int)] =
    (1 until 16).map { m =>
      (m, m & 1, (m >> 1) & 1, (m >> 2) & 1, (m >> 3) & 1)
    }

  val gateOrderLattice: Seq[(String, Int, Int, Int)] = {
    val bits = Map("gopher" -> 1, "lr" -> 2, "ml" -> 4, "ppl" -> 8)
    Seq("gopher", "lr", "ml", "ppl").permutations.toSeq.map { p =>
      val m1 = bits(p(0))
      val m2 = m1 | bits(p(1))
      val m3 = m2 | bits(p(2))
      (p.mkString(">"), m1, m2, m3)
    }.sortBy(_._1)
  }

  /** q354: gate ordering plan — for each of the 24 evaluation orders
    * of the four gates, the EXACT total number of gate evaluations a
    * short-circuiting pipeline performs (docs entering stage k =
    * docs passing the first k−1 gates), computed from the 16
    * pass-pattern counts — no independence assumption. The cheapest
    * order runs the most selective gate first ONLY if its kills
    * aren't redundant with later gates (the q190/q300 overlap
    * structure decides), so this is the table that turns those
    * diagnostics into a pipeline layout, priced exactly.
    *
    * Scale: the shared pattern agg + constant 15- and 24-row
    * lattice joins.
    */
  def gateOrderingPlan(spark: SparkSession, dir: String): DataFrame = {
    val pat = gatePatternCounts(spark, dir)
    val subsetsDf = broadcast(
      spark
        .range(1)
        .select(
          explode(
            array(gateSubsetLattice.map { case (m, ig, il, im, ip) =>
              struct(
                lit(m).as("mask"),
                lit(ig).as("ig"),
                lit(il).as("il"),
                lit(im).as("im"),
                lit(ip).as("ip")
              )
            }: _*)
          ).as("e")
        )
        .select(col("e.*"))
    )
    val passes = (col("ig") === 0 || col("fg")) &&
      (col("il") === 0 || col("fl")) &&
      (col("im") === 0 || col("fm")) &&
      (col("ip") === 0 || col("fp"))
    val subCounts = broadcast(
      pat
        .crossJoin(subsetsDf)
        .groupBy(col("mask"))
        .agg(sum(when(passes, col("c")).otherwise(0L)).as("pass_c"))
    )
    val nTot = broadcast(pat.agg(sum(col("c")).as("n")))
    val ordersDf = spark
      .range(1)
      .select(
        explode(
          array(gateOrderLattice.map { case (name, m1, m2, m3) =>
            struct(
              lit(name).as("ordering"),
              lit(m1).as("m1"),
              lit(m2).as("m2"),
              lit(m3).as("m3")
            )
          }: _*)
        ).as("e")
      )
      .select(col("e.*"))
    val joined = ordersDf
      .join(
        subCounts.select(col("mask").as("m1"), col("pass_c").as("p1")),
        "m1"
      )
      .join(
        subCounts.select(col("mask").as("m2"), col("pass_c").as("p2")),
        "m2"
      )
      .join(
        subCounts.select(col("mask").as("m3"), col("pass_c").as("p3")),
        "m3"
      )
      .crossJoin(nTot)
      .select(
        col("ordering"),
        (col("n") + col("p1") + col("p2") + col("p3"))
          .as("total_evals")
      )
    val w = Window.orderBy(col("total_evals").asc, col("ordering").asc)
    joined
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("optimal", col("rank") === 1L)
  }

  /** The (gate, include-flags, 24·weight) subset lattice behind
    * q300's exact Shapley computation — public so the DuckDB oracle
    * replays the IDENTICAL rows as a VALUES list. For each gate g
    * and each subset S of the other three gates, the Shapley weight
    * |S|!·(3−|S|)!/4! appears as an integer numerator over 24.
    */
  def gateShapleyLattice: Seq[(String, Int, Int, Int, Int, Int)] = {
    val gates = Seq("gopher", "lr", "ml", "ppl")
    for {
      g <- gates
      mask <- 0 until 8
    } yield {
      val others = gates.filterNot(_ == g)
      val inc = others.zipWithIndex
        .map { case (h, i) => h -> ((mask >> i) & 1) }
        .toMap
      val w24 = Seq(6, 2, 2, 6)(inc.values.sum)
      (
        g,
        inc.getOrElse("gopher", 0),
        inc.getOrElse("lr", 0),
        inc.getOrElse("ml", 0),
        inc.getOrElse("ppl", 0),
        w24
      )
    }
  }

  /** q300: exact Shapley attribution of the four-gate stack's kill
    * count — for each gate, its average marginal contribution to
    * "documents removed" over ALL 2³ arrival orders of the other
    * gates, not just the leave-one-out view q229 reports. Shapley is
    * the only attribution that sums EXACTLY to the stack's total
    * kill (efficiency — asserted in spec), so overlapping gates
    * split shared kills instead of double-counting them; a gate
    * whose Shapley share is far below its solo kill rate is mostly
    * redundant with the rest of the stack. Computed from the 16
    * pass-pattern counts: φ_g·24 = Σ_S w24(|S|)·#{docs passing all
    * of S but killed by g} — every term an exact BIGINT.
    *
    * Scale: the shared gate-flag frame, one 16-row pattern agg, and
    * a 16×32 constant-lattice join — corpus cost is one pass.
    */
  def gateShapley(spark: SparkSession, dir: String): DataFrame = {
    val pat = gatePatternCounts(spark, dir)
    val tot = broadcast(
      pat.agg(
        sum(col("c")).as("n"),
        sum(
          when(!(col("fg") && col("fl") && col("fm") && col("fp")),
            col("c")).otherwise(0L)
        ).as("killed_total")
      )
    )
    val latticeDf = broadcast(
      spark
        .range(1)
        .select(
          explode(
            array(gateShapleyLattice.map {
              case (g, ig, il, im, ip, w) =>
                struct(
                  lit(g).as("gate"),
                  lit(ig).as("ig"),
                  lit(il).as("il"),
                  lit(im).as("im"),
                  lit(ip).as("ip"),
                  lit(w.toLong).as("w24")
                )
            }: _*)
          ).as("e")
        )
        .select(col("e.*"))
    )
    val passesS = (col("ig") === 0 || col("fg")) &&
      (col("il") === 0 || col("fl")) &&
      (col("im") === 0 || col("fm")) &&
      (col("ip") === 0 || col("fp"))
    val ownPass = when(col("gate") === "gopher", col("fg"))
      .when(col("gate") === "lr", col("fl"))
      .when(col("gate") === "ml", col("fm"))
      .otherwise(col("fp"))
    pat
      .crossJoin(latticeDf)
      .groupBy(col("gate"))
      .agg(
        sum(
          when(passesS && !ownPass, col("c") * col("w24")).otherwise(0L)
        ).as("shapley_24ths")
      )
      .crossJoin(tot)
      .select(
        col("gate"),
        col("n"),
        col("killed_total"),
        col("shapley_24ths"),
        graft.functions.IntMath.idivHalfUpSigned(
          col("shapley_24ths") * lit(1000000L), col("n") * lit(24L))
          .as("shapley_ppm")
      )
  }

  /** q361: tokenizer fertility per language — BPE-ish subwords per
    * whitespace word (the q14 `[a-z0-9]+|[^a-z0-9\\s]` proxy), bytes
    * per subword, and the fertility tax vs the English baseline, all
    * in exact integer milli-units. The tokenizer-economics table a
    * multilingual budget holder reads before fixing per-language
    * token quotas (q150/q268): a language at 1.8× English fertility
    * pays 1.8× the compute for the same word mass, and the tax
    * column IS that multiplier. Complements q338 (byte economics —
    * storage) with the compute axis.
    *
    * Scale: one scan computing three per-row integers, a |langs|-row
    * rollup, one broadcast 1-row English baseline. Exact half-up
    * integer divisions end to end (round-9 seam).
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    val perLang = Tables
      .documents(spark, dir)
      .select(
        col("lang"),
        size(tokens(col("text"))).cast("long").as("ws"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe"),
        octet_length(col("text")).cast("long").as("bytes")
      )
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("bytes")).as("n_bytes")
      )
      .withColumn(
        "fertility_milli",
        idivHalfUp(col("bpe_tokens") * lit(1000L), col("ws_tokens")))
      .withColumn(
        "bytes_per_bpe_milli",
        idivHalfUp(col("n_bytes") * lit(1000L), col("bpe_tokens")))
    val en = broadcast(
      perLang
        .filter(col("lang") === "en")
        .select(col("fertility_milli").as("en_fertility_milli")))
    perLang
      .crossJoin(en)
      .select(
        col("lang"),
        col("n_docs"),
        col("ws_tokens"),
        col("bpe_tokens"),
        col("fertility_milli"),
        col("bytes_per_bpe_milli"),
        idivHalfUp(col("fertility_milli") * lit(1000L),
          col("en_fertility_milli")).as("fertility_tax_milli")
      )
  }

  /** q363: stopword-profile drift per source — the 10-stopword
    * function-word profile of each source as exact token-mass ppm,
    * and its L1 distance to the corpus-wide profile. Function-word
    * rates are the cheapest stable stylometric fingerprint: a source
    * whose profile drifts is changing REGISTER (template flood,
    * machine translation, spam), often before the q15 quality score
    * moves, and unlike q168's unigram KL this is a 10-dimension
    * integer profile with no logarithm anywhere — the drift number
    * is exact and version-proof.
    *
    * Scale: one token scan → (source, word) counts for a FIXED
    * 10-word vocabulary (bounded cells), one broadcast corpus
    * profile, a |sources|-row rollup of exact |Δppm| sums.
    */
  def stopwordProfileDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val sw = graft.functions.TextFunctions.stopwordsEn
    val tok = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
    val perSource = tok
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("w").isin(sw: _*), 1L).otherwise(0L)).as("n_stop")
      )
    val cells = tok
      .filter(col("w").isin(sw: _*))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val corpus = broadcast(
      cells
        .groupBy(col("w"))
        .agg(sum(col("c")).as("gc"))
        .crossJoin(tok.agg(count(lit(1)).as("gn")))
        .select(col("w"), microRatio(col("gc"), col("gn")).as("g_ppm"))
    )
    val drift = perSource
      .select(col("source"), col("n_tokens"))
      .crossJoin(broadcast(corpus.select(col("w"), col("g_ppm"))))
      .join(cells, Seq("source", "w"), "left")
      .select(
        col("source"),
        col("w"),
        abs(
          microRatio(coalesce(col("c"), lit(0L)), col("n_tokens")) -
            col("g_ppm")
        ).as("d_ppm")
      )
      .groupBy(col("source"))
      .agg(sum(col("d_ppm")).as("l1_drift_ppm"))
    perSource
      .join(drift, Seq("source"))
      .select(
        col("source"),
        col("n_tokens"),
        microRatio(col("n_stop"), col("n_tokens")).as("stop_mass_ppm"),
        col("l1_drift_ppm")
      )
  }

  /** q364: boilerplate-prefix detector — per source, the top-3
    * 3-token document PREFIXES by frequency with their doc-share in
    * exact ppm. Templated sources (chat exports, scraped forums,
    * generated docs) announce themselves as one prefix owning a
    * large share; that prefix is then the strip-rule input for a
    * cleaning pass, and the share is the before/after gauge. The
    * head-anchored cheap cousin of the q82 boilerplate n-gram scan:
    * one prefix per document instead of every shingle.
    *
    * Scale: one scan emitting a single 3-token prefix per document
    * (docs shorter than 3 tokens are excluded), a (source, prefix)
    * partial-agg count, a per-source top-3 window (WindowGroupLimit
    * heaps under AQE — never a full sort). Exact integer shares.
    */
  def boilerplatePrefixes(
      spark: SparkSession,
      dir: String,
      top: Int = 3
  ): DataFrame = {
    import graft.functions.IntMath.microRatio
    val d = Tables
      .documents(spark, dir)
      .select(
        col("source"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
    val withPrefix = d
      .filter(size(col("t")) >= 3)
      .select(
        col("source"),
        array_join(slice(col("t"), 1, 3), " ").as("prefix"))
    val totals = withPrefix
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("n_prefix").desc, col("prefix").asc)
    withPrefix
      .groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_prefix"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= top)
      .join(totals, Seq("source"))
      .select(
        col("source"),
        col("rank"),
        col("prefix"),
        col("n_prefix"),
        microRatio(col("n_prefix"), col("n_docs")).as("share_ppm")
      )
  }

  /** q370: per-language quality envelope — exact P10/P50/P90 of the
    * integer micro-quality (type-1 rank picks at ⌈q·n⌉ in
    * (q_micro, doc_id) order, the q197 convention) plus the P90−P10
    * spread. The one-line quality summary a mix planner reads per
    * language before setting per-language thresholds (q332's
    * rate-matched cuts): a language whose P10 sits above another's
    * P50 should not share a single global cut. All integers; exact
    * rank statistics replay bit-identically in the oracle.
    *
    * Scale: one scoring scan, one per-language rank window (bounded
    * by the largest language; two-level rank at extreme scale), a
    * |langs|-row rollup.
    */
  def qualityBandsByLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .select(col("doc_id"), col("lang"))
      .join(qualityMicroScoresFrom(docs), "doc_id")
    val w = Window
      .partitionBy(col("lang"))
      .orderBy(col("q_micro").asc, col("doc_id").asc)
    val ranked = scored
      .withColumn("rn", row_number().over(w))
      .withColumn(
        "cnt",
        count(lit(1)).over(Window.partitionBy(col("lang"))))
    def pick(p: Int): Column =
      max(when(col("rn") === ceil(col("cnt") * p / 100), col("q_micro")))
    ranked
      .groupBy(col("lang"))
      .agg(
        max(col("cnt")).as("n_docs"),
        pick(10).as("p10_micro"),
        pick(50).as("p50_micro"),
        pick(90).as("p90_micro")
      )
      .withColumn("spread_micro", col("p90_micro") - col("p10_micro"))
  }

  /** q371: Simpson concentration of each source's token distribution
    * — λ = Σ c(c−1) / (N(N−1)), the exact probability that two
    * tokens drawn without replacement from the source are the SAME
    * type, in ppm; diversity = 1 − λ. A pure integer ratio (the
    * round-9 ideal — the entropy-based diversity gauges need ln,
    * this needs nothing), mergeable across shards (sum the per-type
    * counts), and the repeated-token concentration signal that
    * flags templated/boilerplate sources at a glance: λ rises as a
    * few types dominate.
    *
    * Scale: one token scan → (source, type) partial-agg counts →
    * |sources|-row rollup of Σc(c−1). Headroom: c(c−1) needs the top
    * type's count under ~3e9 per source; past that, compute per
    * shard and merge the exact integer numerators.
    */
  def simpsonConcentration(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val counts = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    counts
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * (col("c") - 1)).as("coincidence_pairs")
      )
      .select(
        col("source"),
        col("n_tokens"),
        col("n_types"),
        col("coincidence_pairs"),
        microRatio(
          col("coincidence_pairs"),
          col("n_tokens") * (col("n_tokens") - 1)).as("simpson_ppm")
      )
  }

  /** q374: Kendall concordance between document length and micro-
    * quality per source, over a deterministic hash sample — the
    * distribution-free complement of q249's Spearman ρ (which rides
    * averaged ranks); Kendall's pair counts are the round-9 ideal
    * form because the statistic is NOTHING BUT integers: concordant,
    * discordant and tie pair counts, with τ's numerator C − D emitted
    * exactly and the normalized τ-b left to the spec (it needs a
    * sqrt). A drop in C − D after a pipeline change means the quality
    * gate stopped tracking length where it should.
    *
    * Sample: bottom-64 docs per source by (md5(text), doc_id) — the
    * same deterministic hash-order sampling the q191/q362 family
    * uses, which Spark executes as WindowGroupLimit (per-partition
    * top-k heaps, no full sort). The pair join is then bounded at
    * 64²/2 pairs per source REGARDLESS of corpus size — the exact-
    * pairs-on-a-deterministic-sample pattern that keeps an O(n²)
    * statistic flat at 100 TB.
    */
  def kendallLengthQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("h"))
      .join(qualityMicroScoresFrom(docs), "doc_id")
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("h").asc, col("doc_id").asc)
    val sampled = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 64)
      .select(col("source"), col("doc_id"),
        col("n_chars").as("x"), col("q_micro").as("y"))
    val a = sampled.as("a")
    val b = sampled.as("b")
    val pairs = a
      .join(b,
        col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.source").as("source"),
        (col("a.x") - col("b.x")).as("dx"),
        (col("a.y") - col("b.y")).as("dy")
      )
    val nSampled = sampled
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"))
    pairs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("dx") =!= 0 && col("dy") =!= 0 &&
          (col("dx") > 0) === (col("dy") > 0), 1L).otherwise(0L))
          .as("concordant"),
        sum(when(col("dx") =!= 0 && col("dy") =!= 0 &&
          (col("dx") > 0) =!= (col("dy") > 0), 1L).otherwise(0L))
          .as("discordant"),
        sum(when(col("dx") === 0 && col("dy") =!= 0, 1L).otherwise(0L))
          .as("ties_x"),
        sum(when(col("dx") =!= 0 && col("dy") === 0, 1L).otherwise(0L))
          .as("ties_y"),
        sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L))
          .as("ties_xy")
      )
      .join(nSampled, "source")
      .select(
        col("source"), col("n_sampled"), col("n_pairs"),
        col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"), col("ties_xy"),
        (col("concordant") - col("discordant")).as("tau_num")
      )
  }

  /** q376: lang × source contingency audit — per cell: observed
    * count, marginals, the expected count under independence in exact
    * integer milli, and the cell's chi-square contribution in exact
    * integer micro via (N·o − r·c)²·10⁶ / (N·r·c) half-up. The
    * corpus-composition independence screen: a large cell
    * contribution means a source is language-skewed relative to the
    * corpus (a crawl partition artifact the per-dimension censuses
    * q19/q313 cannot see). Cramér's V needs a sqrt, so it lives in
    * the spec; every hashed column here is a pure integer.
    *
    * Scale: one groupBy(lang, source) partial agg; the windows run
    * over the provably bounded |langs|×|sources| cell frame.
    * Overflow headroom: the binding term is dev²·10⁶ where
    * dev = N·observed − row_total·col_total — it exceeds 2^63 once
    * |dev| > ~3.0e6, which a single skewed cell reaches well below
    * giant-corpus scale (e.g. N ≈ 6e6 with a cell far from
    * independence). Spark wraps silently while DuckDB raises on
    * BIGINT overflow, so past that bound compute the exact integer
    * numerators per shard and merge (the q371 treatment), or drop
    * the micro scale factor.
    */
  def langSourceContingency(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    val cells = Tables
      .documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("observed"))
    val withMargins = cells
      .withColumn("row_total",
        sum(col("observed")).over(Window.partitionBy(col("lang"))))
      .withColumn("col_total",
        sum(col("observed")).over(Window.partitionBy(col("source"))))
      .withColumn("n_docs",
        sum(col("observed")).over(Window.partitionBy()))
    val dev = col("n_docs") * col("observed") -
      col("row_total") * col("col_total")
    withMargins.select(
      col("lang"),
      col("source"),
      col("observed"),
      col("row_total"),
      col("col_total"),
      col("n_docs"),
      idivHalfUp(col("row_total") * col("col_total") * lit(1000L),
        col("n_docs")).as("expected_milli"),
      idivHalfUp(dev * dev * lit(1000000L),
        col("n_docs") * col("row_total") * col("col_total"))
        .as("cell_chi2_micro")
    )
  }

  /** q377: vocabulary specificity per source — how much of a source's
    * type inventory and token mass is EXCLUSIVE to it (types seen in
    * no other source). High exclusivity marks domain-specific or
    * noisy-vocabulary sources (their tokens won't transfer); near-
    * zero marks redundant crawls of the same register. The cross-
    * source complement of q371's within-source concentration, and
    * pure integers throughout.
    *
    * Scale: token scan → (source, type) partial-agg counts → one
    * groupBy(type) to count carrying sources → rollup per source.
    * All shuffles are on (source, type) / type — no pair joins.
    */
  def vocabSpecificity(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val counts = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val spread = counts
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_sources"))
    counts
      .join(spread, "w")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("n_sources") === 1L, 1L).otherwise(0L))
          .as("excl_types"),
        sum(when(col("n_sources") === 1L, col("c")).otherwise(0L))
          .as("excl_tokens")
      )
      .select(
        col("source"), col("n_types"), col("n_tokens"),
        col("excl_types"), col("excl_tokens"),
        microRatio(col("excl_types"), col("n_types"))
          .as("excl_type_ppm"),
        microRatio(col("excl_tokens"), col("n_tokens"))
          .as("excl_token_ppm")
      )
  }

  /** q381: threshold-transfer audit — what changes if the quality cut
    * is the GLOBAL median instead of each language's own median. For
    * every language: docs admitted under each cut and the two flip
    * populations (admitted per-lang but not globally, and vice
    * versa). Languages whose quality distribution sits below the
    * corpus median lose most of their mass under a global cut — the
    * classic way a single-threshold gate silently de-represents a
    * language; this emits that damage as exact integer counts before
    * anyone trains on it. Both medians are exact type-1 rank picks
    * (the global one via the distributed total order, never a
    * single-partition window).
    */
  def thresholdTransfer(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .select(col("doc_id"), col("lang"))
      .join(qualityMicroScoresFrom(docs), "doc_id")
    val ranked = Ranking.withGlobalRank(
      scored, Seq(col("q_micro").asc, col("doc_id").asc), "rn", 8)
    val tot = scored.agg(count(lit(1)).as("cnt"))
    val gmed = ranked
      .crossJoin(broadcast(tot))
      .filter(col("rn") === ceil(col("cnt") * 50 / 100))
      .select(col("q_micro").as("global_med"))
    val wOrd = Window
      .partitionBy(col("lang"))
      .orderBy(col("q_micro").asc, col("doc_id").asc)
    val lmed = scored
      .withColumn("lrn", row_number().over(wOrd))
      .withColumn("lcnt",
        count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("lrn") === ceil(col("lcnt") * 50 / 100))
      .select(col("lang"), col("q_micro").as("lang_med"))
    scored
      .join(lmed, "lang")
      .crossJoin(broadcast(gmed))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("lang_med")).as("lang_med"),
        max(col("global_med")).as("global_med"),
        sum(when(col("q_micro") > col("global_med"), 1L).otherwise(0L))
          .as("admit_global"),
        sum(when(col("q_micro") > col("lang_med"), 1L).otherwise(0L))
          .as("admit_lang"),
        sum(when(col("q_micro") > col("lang_med") &&
          col("q_micro") <= col("global_med"), 1L).otherwise(0L))
          .as("flips_in"),
        sum(when(col("q_micro") <= col("lang_med") &&
          col("q_micro") > col("global_med"), 1L).otherwise(0L))
          .as("flips_out")
      )
      .select(
        col("lang"), col("n_docs"), col("lang_med"), col("global_med"),
        col("admit_global"), col("admit_lang"),
        col("flips_in"), col("flips_out"),
        microRatio(col("flips_in") + col("flips_out"), col("n_docs"))
          .as("flip_ppm")
      )
  }

  /** q383: cross-document template 8-gram mass per source — what
    * fraction of a source's (doc, 8-gram) incidences use an 8-gram
    * that also appears in ANOTHER doc of the same source. The
    * boilerplate gauge BETWEEN q364 (prefixes only — misses mid-doc
    * templates) and full near-dup pairing (q21 — misses sub-pair-
    * threshold template reuse): legal footers, cookie banners and
    * generated-page skeletons show up here first. Incidences are
    * per-doc-distinct 8-grams (the q73 shingle convention), so a
    * phrase repeated inside ONE doc doesn't count as template mass.
    *
    * Scale: one shingle scan → (source, gram) partial-agg counts →
    * per-source rollup; shuffle keys are (source, gram) — uniform,
    * collision-linear, nothing corpus².
    */
  def templateNgramMass(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val inc = Tables
      .documents(spark, dir)
      .select(col("source"), col("doc_id"),
        explode(shingles(col("text"), 8)).as("g"))
    val counts = inc
      .groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("c"))
    counts
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_incidences"),
        count(lit(1)).as("n_grams"),
        sum(when(col("c") >= 2L, col("c")).otherwise(0L))
          .as("template_incidences"),
        sum(when(col("c") >= 2L, 1L).otherwise(0L))
          .as("template_grams")
      )
      .select(
        col("source"), col("n_incidences"), col("n_grams"),
        col("template_incidences"), col("template_grams"),
        microRatio(col("template_incidences"),
          greatest(col("n_incidences"), lit(1L))).as("template_ppm")
      )
  }

  /** q389: template-gram arrival span — for every cross-doc repeated
    * 8-gram (the q383 template set), HOW FAR APART its occurrences
    * sit in arrival (doc_id) order, banded tight (< 100 ids — a
    * crawl burst / stuck paginator, the q369 shape at phrase
    * granularity), medium (< 1000) and perennial (≥ 1000 — standing
    * boilerplate). Bursts are cheap to fix (dedup the window);
    * perennial templates need the q364/q383 strip list. Spans are
    * exact integer id differences.
    *
    * Scale: the q383 (source, gram) partial agg carrying min/max
    * doc_id alongside the count — same shuffle, two more mergeable
    * aggregates.
    */
  def templateSpan(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables
      .documents(spark, dir)
      .select(col("source"), col("doc_id"),
        explode(shingles(col("text"), 8)).as("g"))
      .groupBy(col("source"), col("g"))
      .agg(
        count(lit(1)).as("c"),
        (max(col("doc_id")) - min(col("doc_id"))).as("span")
      )
      .filter(col("c") >= 2L)
    grams
      .select(
        col("source"),
        when(col("span") < 100L, "tight_burst")
          .when(col("span") < 1000L, "medium")
          .otherwise("perennial").as("span_band"),
        col("c"), col("span")
      )
      .groupBy(col("source"), col("span_band"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("c")).as("n_incidences"),
        min(col("span")).as("min_span"),
        max(col("span")).as("max_span")
      )
  }

  /** q393: dup-vs-clean quality profile — the exact P10/P50/P90
    * micro-quality envelope of near-dup pair members vs untouched
    * docs. THE number behind every "dedup improves quality" claim:
    * if the dup class's envelope sits below the clean class's,
    * deduplication is also a quality filter and survivor budgets can
    * lean on it; if the envelopes coincide, dedup decisions and
    * quality decisions are independent axes. Rank picks are computed
    * on the distributed total order over (class, q_micro, doc_id)
    * with per-class offsets — ONE range shuffle, no per-class
    * single-partition window.
    */
  def dupQualityProfile(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Dedup
      .ngramJaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
    val dupIds = pairs
      .select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .withColumn("is_dup", lit(1L))
    val docs = Tables.documents(spark, dir)
    val classed = docs
      .select(col("doc_id"))
      .join(qualityMicroScoresFrom(docs), "doc_id")
      .join(dupIds, Seq("doc_id"), "left")
      .select(
        when(col("is_dup").isNotNull, "dup_member")
          .otherwise("clean").as("class"),
        col("doc_id"), col("q_micro")
      )
    val ranked = Ranking.withGlobalRank(
      classed,
      Seq(col("class").asc, col("q_micro").asc, col("doc_id").asc),
      "rn", 8)
    val offsets = classed
      .groupBy(col("class"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(
          sum(col("cnt")).over(
            Window.orderBy(col("class").asc)
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
    def pick(p: Int): Column =
      max(when(col("lrn") === ceil(col("cnt") * p / 100), col("q_micro")))
    ranked
      .join(broadcast(offsets), "class")
      .withColumn("lrn", col("rn") - col("off"))
      .groupBy(col("class"))
      .agg(
        max(col("cnt")).as("n_docs"),
        pick(10).as("p10_micro"),
        pick(50).as("p50_micro"),
        pick(90).as("p90_micro")
      )
      .withColumn("spread_micro", col("p90_micro") - col("p10_micro"))
  }

  /** q402: language-ID margin census — per DETECTED language, how
    * decisively the q16 marker-count argmax won: the margin between
    * the best and runner-up marker hit counts. Zero-margin docs are
    * coin flips the tie-break order decided (they inflate whichever
    * language sorts first in the marker table — exactly the bias
    * q294's confusion audit sees from outside); the mean margin says
    * how much headroom the classifier has before a marker-list edit
    * reshuffles assignments. Margins are integer count differences;
    * the mean is exact half-up milli.
    *
    * Scale: one scan computing 5 marker counts + a sort of a 5-long
    * array per doc, one |langs|-row rollup.
    */
  def langIdMargin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    val t = tokens(col("text"))
    val scores = langMarkers.map { case (_, words) =>
      size(filter(t, w => w.isin(words: _*))).cast("long")
    }
    val sorted = sort_array(array(scores: _*), asc = false)
    val margin = element_at(sorted, 1) - element_at(sorted, 2)
    Tables
      .documents(spark, dir)
      .select(
        langId(col("text")).as("detected"),
        margin.as("m"),
        element_at(sorted, 1).as("best")
      )
      .groupBy(col("detected"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("m") === 0L || col("best") <= 0L, 1L)
          .otherwise(0L)).as("n_ambiguous"),
        max(col("m")).as("max_margin"),
        sum(col("m")).as("sum_margin")
      )
      .select(
        col("detected"), col("n_docs"), col("n_ambiguous"),
        col("max_margin"),
        idivHalfUp(col("sum_margin") * lit(1000L), col("n_docs"))
          .as("mean_margin_milli")
      )
  }

  /** q419: quality-component concordance — Kendall pair counts
    * between the three exact integer terms the q15/qualityMicro gate
    * is built from (length, stopword, 1−punctuation), on the
    * deterministic bottom-64-by-md5 sample. High concordance between
    * two components means they gate the SAME documents and one is
    * redundant weight; discordance means they pull apart and the
    * composite's weights actually arbitrate. Sampling is a global
    * TakeOrdered (per-partition heaps — no global sort, no window);
    * the pair set is 64²/2 at ANY corpus size.
    */
  def componentConcordance(spark: SparkSession, dir: String): DataFrame = {
    val (lenM, stopM, punctM) =
      graft.functions.TextFunctions.qualityMicroTerms(col("text"))
    val sampled = Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("h"),
        lenM.as("len_m"),
        stopM.as("stop_m"),
        (lit(1000000L) - punctM).as("punct_ok_m")
      )
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(64)
      .select(col("doc_id"), col("len_m"), col("stop_m"),
        col("punct_ok_m"))
    val a = sampled.as("a")
    val b = sampled.as("b")
    val pairs = a
      .join(b, col("a.doc_id") < col("b.doc_id"))
      .select(
        (col("a.len_m") - col("b.len_m")).as("dl"),
        (col("a.stop_m") - col("b.stop_m")).as("ds"),
        (col("a.punct_ok_m") - col("b.punct_ok_m")).as("dp")
      )
    def ruleAgg(name: String, x: Column, y: Column): DataFrame =
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(x =!= 0 && y =!= 0 && (x > 0) === (y > 0), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when(x =!= 0 && y =!= 0 && (x > 0) =!= (y > 0), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(x === 0 || y === 0, 1L).otherwise(0L)).as("ties")
      ).select(lit(name).as("component_pair"), col("n_pairs"),
        col("concordant"), col("discordant"), col("ties"))
    ruleAgg("len_vs_stop", col("dl"), col("ds"))
      .unionByName(ruleAgg("len_vs_punct", col("dl"), col("dp")))
      .unionByName(ruleAgg("stop_vs_punct", col("ds"), col("dp")))
      .withColumn("tau_num", col("concordant") - col("discordant"))
  }

  /** The (token, distinct-neighbor degree) frame of the adjacency
    * (bigram) graph — one distinct-bigram pass, symmetric explode
    * (left ∪ right neighbors), per-token distinct count. The shared
    * seam under q434's band census and q439's named top-k so the two
    * degree definitions can never diverge.
    */
  private def bigramDegrees(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .documents(spark, dir)
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bigrams = toks
      .select(explode(
        zip_with(
          slice(col("t"), 1, 1000000),
          slice(col("t"), 2, 1000000),
          (a, b) => struct(a.as("w1"), b.as("w2"))
        )).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w2").isNotNull)
      .distinct()
    bigrams
      .select(col("w1").as("w"), col("w2").as("nbr"))
      .union(bigrams.select(col("w2").as("w"), col("w1").as("nbr")))
      .distinct()
      .groupBy(col("w"))
      .agg(count(lit(1)).as("degree"))
  }

  /** q434: bigram-graph degree census — each vocabulary token's
    * distinct-neighbor count in the adjacency (bigram) graph, rolled
    * into degree bands, plus the max degree. Hub tokens (function
    * words, template connectors) have degree ≈ vocabulary size;
    * content words sit in thin bands. The graph-shape audit under
    * the bigram LM (q84) and PMI (q99): a lexicon whose mass sits in
    * the hub band carries little sequence information. Neighbors
    * count both directions (left ∪ right), exactly.
    *
    * Scale: one distinct-bigram pass → symmetric explode → per-token
    * distinct count → a bounded band rollup.
    */
  def bigramDegreeCensus(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val banded = bigramDegrees(spark, dir)
      .select(
        when(col("degree") <= 2, "1_2_leaf")
          .when(col("degree") <= 10, "3_10_content")
          .otherwise("11_plus_hub").as("band"),
        col("degree")
      )
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_tokens"), max(col("degree")).as("max_degree"))
    val tot = banded.agg(sum(col("n_tokens")).as("total"))
    banded
      .crossJoin(broadcast(tot))
      .select(
        col("band"), col("n_tokens"), col("max_degree"),
        microRatio(col("n_tokens"), col("total")).as("token_ppm")
      )
  }

  /** q435: source quality-rank churn — each source's mean-quality
    * quartile in the FIRST arrival half vs the SECOND (exact half-up
    * mean micro per half, ntile(4) over the |sources|-row frame),
    * and whether it moved. Source weights tuned on last month's
    * quality ranking silently misallocate if sources churn quartiles
    * — this emits the churn directly. All windows run over the
    * bounded source frame.
    */
  def sourceRankChurn(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    val docs = Tables.documents(spark, dir)
    val d = docs
      .select(col("doc_id"), col("source"))
      .join(qualityMicroScoresFrom(docs), "doc_id")
    val ranked = Ranking
      .withGlobalRank(d, Seq(col("doc_id").asc), "rn", 8)
    val tot = d.agg(count(lit(1)).as("cnt"))
    val means = ranked
      .crossJoin(broadcast(tot))
      .select(col("source"),
        when(col("rn") * 2 <= col("cnt"), lit("first"))
          .otherwise(lit("second")).as("half"),
        col("q_micro"))
      .groupBy(col("source"), col("half"))
      .agg(idivHalfUp(sum(col("q_micro")), count(lit(1)))
        .as("mean_micro"))
    val wq = Window.orderBy(col("mean_micro").asc, col("source").asc)
    def quartiles(half: String) = means
      .filter(col("half") === half)
      .withColumn("rnk", row_number().over(wq))
      .withColumn("nsrc", count(lit(1)).over(Window.partitionBy()))
      .select(col("source"),
        Ranking.ntileFromRank(col("rnk"), col("nsrc"), 4).cast("long")
          .as(s"q_$half"),
        col("mean_micro").as(s"mean_$half"))
    quartiles("first")
      .join(quartiles("second"), "source")
      .select(
        col("source"), col("mean_first"), col("mean_second"),
        col("q_first"), col("q_second"),
        (col("q_first") =!= col("q_second")).as("moved")
      )
  }

  /** q437: source yield matrix — per source, the token mass that
    * survives the GLOBAL P50 and P75 quality cuts, in exact ppm of
    * the source's tokens. The source-weighting input under a single
    * global gate: q381 counts per-lang flips at the median; this
    * prices each SOURCE at two cut depths in the unit budgets are
    * written in (tokens). Both cuts are exact type-1 rank picks on
    * the distributed total order.
    */
  def sourceYieldMatrix(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("tk"))
      .join(qualityMicroScoresFrom(docs), "doc_id")
    val ranked = Ranking.withGlobalRank(
      scored, Seq(col("q_micro").asc, col("doc_id").asc), "rn", 8)
    val tot = scored.agg(count(lit(1)).as("cnt"))
    def cutAt(p: Int): DataFrame = ranked
      .crossJoin(broadcast(tot))
      .filter(col("rn") === ceil(col("cnt") * p / 100))
      .select(col("q_micro").as(s"cut_$p"))
    scored
      .crossJoin(broadcast(cutAt(50)))
      .crossJoin(broadcast(cutAt(75)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tk")).as("n_tokens"),
        sum(when(col("q_micro") > col("cut_50"), col("tk"))
          .otherwise(0L)).as("tokens_above_p50"),
        sum(when(col("q_micro") > col("cut_75"), col("tk"))
          .otherwise(0L)).as("tokens_above_p75")
      )
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        col("tokens_above_p50"), col("tokens_above_p75"),
        microRatio(col("tokens_above_p50"),
          greatest(col("n_tokens"), lit(1L))).as("yield_p50_ppm"),
        microRatio(col("tokens_above_p75"),
          greatest(col("n_tokens"), lit(1L))).as("yield_p75_ppm")
      )
  }

  /** q438: source length dispersion — per source, the squared
    * coefficient of variation of doc token counts as the exact
    * integer ratio (n·Σx² − (Σx)²)·1000 / (Σx)², half-up. CV² ≈ 0
    * means uniform templated lengths (pagination mills); large CV²
    * means mixed content — and because every term is an exact
    * integer, the number is mergeable across shards by summing
    * (n, Σx, Σx²). Overflow headroom: Σx² needs the longest doc's
    * token count² × docs under 2^63 — per-shard merge past ~10⁹
    * docs·len², the q371 treatment.
    */
  def sourceLengthDispersion(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    Tables
      .documents(spark, dir)
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("x"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("x")).as("sum_x"),
        sum(col("x") * col("x")).as("sum_x2")
      )
      .filter(col("sum_x") > 0)
      .select(
        col("source"), col("n_docs"), col("sum_x"), col("sum_x2"),
        idivHalfUp(
          (col("n_docs") * col("sum_x2") - col("sum_x") * col("sum_x"))
            * lit(1000L),
          col("sum_x") * col("sum_x")).as("cv2_milli")
      )
  }

  /** q439: hub tokens — the top-10 vocabulary tokens by bigram-graph
    * degree (q434's census, resolved to names). Degree-based hub
    * discovery is the robust twin of q160's frequency-based stopword
    * discovery: a burst token (one template repeated verbatim) is
    * frequency-heavy but degree-light, while a true function word
    * connects to everything. Deterministic top-k by
    * (degree DESC, token ASC) → TakeOrderedAndProject.
    */
  def hubTokens(spark: SparkSession, dir: String): DataFrame =
    bigramDegrees(spark, dir)
      .orderBy(col("degree").desc, col("w").asc)
      .limit(10)

  /** q441: token frequency-band mass census — the corpus's token
    * occurrences split into head (the types whose count exceeds
    * N/1000), torso, and tail (singleton types), with type and
    * occurrence mass per band. The Zipf planning card: the head band
    * is what a tiny stopword list already covers, the tail is what
    * embedding vocabularies truncate away — and the split is a pure
    * integer cross-multiplication (count·1000 > N), never a float
    * threshold.
    *
    * Scale: one token count pass + a 3-row rollup; the corpus total
    * joins as one broadcast row.
    */
  def frequencyBandMass(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val counts = Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("n_tokens"))
    val banded = counts
      .crossJoin(broadcast(tot))
      .select(
        when(col("c") * 1000L > col("n_tokens"), "head")
          .when(col("c") === 1L, "tail_singleton")
          .otherwise("torso").as("band"),
        col("c"), col("n_tokens")
      )
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("n_occurrences"),
        max(col("n_tokens")).as("n_tokens")
      )
    banded.select(
      col("band"), col("n_types"), col("n_occurrences"),
      microRatio(col("n_occurrences"), col("n_tokens"))
        .as("occurrence_ppm")
    )
  }

  /** q442: head-token dependence per source — the share of each
    * source's token occurrences that are GLOBAL head types (the q441
    * band: count·1000 > N corpus-wide). A source far above the
    * corpus's head share is function-word padding / template glue; far
    * below is keyword-stuffed or tabular content. Pure integers: the
    * head set is decided by one global cross-multiplication, shares
    * are half-up ppm.
    *
    * Scale: one global token count (head set ≤ 1000 types by
    * construction — broadcastable ALWAYS, since at most 1000 types
    * can each exceed N/1000), one per-source occurrence rollup.
    */
  def headTokenDependence(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val occ = Tables
      .documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
    val global = occ.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = global.agg(sum(col("c")).as("n_tokens"))
    val headSet = global
      .crossJoin(broadcast(tot))
      .filter(col("c") * 1000L > col("n_tokens"))
      .select(col("w"), lit(1L).as("is_head"))
    occ
      .join(broadcast(headSet), Seq("w"), "left")
      .na
      .fill(0L, Seq("is_head"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        sum(col("is_head")).as("head_occurrences")
      )
      .select(
        col("source"), col("n_occurrences"), col("head_occurrences"),
        microRatio(col("head_occurrences"),
          greatest(col("n_occurrences"), lit(1L)))
          .as("head_ppm")
      )
  }

  /** q443: staged quality funnel — the corpus's exact mean micro-
    * quality at three pipeline stages: raw, after near-dup survivor
    * selection (the q78 keep-best policy on the q72 closure), and
    * after the per-lang median gate on those survivors. The
    * quality-axis companion of q200's doc/token funnel: retention
    * says how much is left, this says how much BETTER what's left
    * is, stage by stage, in the same exact integer units.
    */
  def qualityFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .select(col("doc_id"), col("lang"))
      .join(qualityMicroScoresFrom(docs), "doc_id")
      .cacheTracked()
    // stage 2: q72 labels, q78 keep-best-quality survivor per cluster
    val labels = graft.operators.Dedup
      .dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val best = labels
      .join(scored.select(col("doc_id"), col("q_micro")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("q_micro"), (-col("doc_id")).as("nid")))
        .as("b"))
      .select((-col("b.nid")).as("doc_id"))
    // docs outside the label set (no shingles) survive by default
    val survivors = scored
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
      .union(best)
    val surviving = scored.join(survivors, "doc_id")
    val wOrd = Window
      .partitionBy(col("lang"))
      .orderBy(col("q_micro").asc, col("doc_id").asc)
    val lmed = surviving
      .withColumn("lrn", row_number().over(wOrd))
      .withColumn("lcnt",
        count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("lrn") === ceil(col("lcnt") * 50 / 100))
      .select(col("lang"), col("q_micro").as("lang_med"))
    val gated = surviving
      .join(lmed, "lang")
      .filter(col("q_micro") > col("lang_med"))
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum(col("q_micro")).as("s"))
        .select(lit(name).as("stage"), col("n_docs"),
          idivHalfUp(col("s"), greatest(col("n_docs"), lit(1L)))
            .as("mean_micro"))
    stage("1_raw", scored)
      .unionByName(stage("2_survivors", surviving))
      .unionByName(stage("3_gated", gated.select(col("doc_id"),
        col("q_micro"))))
  }

  /** q384: borderline-band census — how many docs sit within ±w of
    * each language's median micro-quality, for w ∈ {10k, 50k, 100k}
    * micro. The FRAGILITY complement of the q381 transfer audit: a
    * fat band means tiny threshold drift (retrained gate, new
    * stopword list) re-labels a big population, so the gate's
    * decisions are unstable even if today's pass rate looks fine.
    * Pure integers: the median is the q370 type-1 rank pick, the
    * band test is an integer absolute difference.
    */
  def borderlineBand(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .select(col("doc_id"), col("lang"))
      .join(qualityMicroScoresFrom(docs), "doc_id")
    val wOrd = Window
      .partitionBy(col("lang"))
      .orderBy(col("q_micro").asc, col("doc_id").asc)
    val lmed = scored
      .withColumn("lrn", row_number().over(wOrd))
      .withColumn("lcnt",
        count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("lrn") === ceil(col("lcnt") * 50 / 100))
      .select(col("lang"), col("q_micro").as("med_micro"))
    scored
      .join(lmed, "lang")
      .crossJoin(
        spark.range(0, 3).select(
          element_at(
            array(lit(10000L), lit(50000L), lit(100000L)),
            (col("id") + 1).cast("int")).as("band_micro")))
      .groupBy(col("lang"), col("band_micro"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("med_micro")).as("med_micro"),
        sum(when(abs(col("q_micro") - col("med_micro"))
          <= col("band_micro"), 1L).otherwise(0L)).as("n_within")
      )
      .select(
        col("lang"), col("band_micro"), col("med_micro"),
        col("n_docs"), col("n_within"),
        microRatio(col("n_within"), col("n_docs")).as("within_ppm")
      )
  }

  /** q375: Wald–Wolfowitz runs test of micro-quality around the per-
    * source median, in storage (doc_id) order — the randomness audit
    * UNDER every "shuffle once, stream in storage order" training
    * plan (q191): too FEW runs means quality drifts or clumps along
    * the crawl (adjacent batches see correlated quality), too MANY
    * means an unnatural alternation. Docs AT the median are excluded
    * (the standard treatment); everything hashed is an integer count
    * — n_above, n_below, the observed run count and the longest run —
    * while the normal z-approximation lives in the spec.
    *
    * Scale: the median is an exact type-1 rank pick (one window
    * partitioned by source), runs are a lag + running-sum pass over
    * the same partitioning — two linear shuffles, no joins wider than
    * |sources| rows.
    */
  def qualityRunsTest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = docs
      .select(col("doc_id"), col("source"))
      .join(qualityMicroScoresFrom(docs), "doc_id")
    val wOrd = Window
      .partitionBy(col("source"))
      .orderBy(col("q_micro").asc, col("doc_id").asc)
    val wSrc = Window.partitionBy(col("source"))
    val med = scored
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(wSrc))
      .filter(col("rn") === ceil(col("cnt") * 50 / 100))
      .select(col("source"), col("q_micro").as("med_micro"))
    val signs = scored
      .join(med, "source")
      .filter(col("q_micro") =!= col("med_micro"))
      .select(col("source"), col("doc_id"),
        when(col("q_micro") > col("med_micro"), 1L).otherwise(0L)
          .as("above"))
    val wSeq = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
    val runs = signs
      .withColumn("brk",
        when(lag(col("above"), 1).over(wSeq) === col("above"), 0L)
          .otherwise(1L))
      .withColumn("run_id",
        sum(col("brk")).over(
          wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("source"), col("run_id"))
      .agg(count(lit(1)).as("run_len"), max(col("above")).as("above"))
    runs
      .groupBy(col("source"))
      .agg(
        sum(when(col("above") === 1L, col("run_len")).otherwise(0L))
          .as("n_above"),
        sum(when(col("above") === 0L, col("run_len")).otherwise(0L))
          .as("n_below"),
        count(lit(1)).as("n_runs"),
        max(col("run_len")).as("longest_run")
      )
  }

  /** Value-domain double-ranks: for each (source, value) the integer
    * `2·r̄` where r̄ is the tie-averaged rank of that value within its
    * source — `2·cum_before + tie_count + 1`, always an exact BIGINT
    * (half-ranks never materialize). The rank frame is the DISTINCT
    * (source, value) set, so the cumsum window is value-domain
    * bounded, never corpus-scale (the q356/q410 convention).
    */
  private def doubleRanks(
      df: DataFrame,
      vcol: String,
      out: String
  ): DataFrame = {
    val g = df
      .groupBy(col("source"), col(vcol))
      .agg(count(lit(1)).as("c"))
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col(vcol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum", sum(col("c")).over(w))
      .select(
        col("source"),
        col(vcol),
        (lit(2L) * (col("cum") - col("c")) + col("c") + lit(1L))
          .as(out)
      )
  }

  /** q446: Spearman rank correlation between document length
    * (n_chars) and the integer micro-quality score, per source — the
    * monotone-association companion to q249's Pearson-style
    * length/quality correlation and q374's Kendall τ. Hashed surface
    * is pure BIGINT: n_docs, the tie-averaged squared rank-difference
    * sum Σ(2·r̄_len − 2·r̄_q)² (quarter-units ×4), and the classic
    * ρ = 1 − 6Σd²/(n(n²−1)) in signed half-up milli (the d²-form is
    * exact under tie-broken ranks and the standard approximation
    * under tie-averaged ranks — documented, identical on both
    * engines). A source where quality is just length in disguise
    * (|ρ|→1000) tells the gate designer q15's signals collapsed.
    *
    * Scale: two value-domain rank frames (bounded by distinct
    * lengths / distinct micro-scores, never N) + two hash joins back
    * to the docs + one per-source aggregate. No per-row window over
    * the corpus. Milli emission headroom: 6000·n³ < 2⁶³ holds to
    * n ≈ 1.1e5 docs/source; the Σd² and n components are exact far
    * beyond that.
    */
  def spearmanLengthQuality(
      spark: SparkSession,
      dir: String
  ): DataFrame = {
    import graft.functions.IntMath.idivHalfUpSigned
    val base = Tables
      .documents(spark, dir)
      .select(
        col("source"),
        col("n_chars").as("lv"),
        qualityMicro(col("text")).as("qv")
      )
      .cacheTracked()
    val lr = doubleRanks(base, "lv", "rl2")
    val qr = doubleRanks(base, "qv", "rq2")
    val d = base
      .join(lr, Seq("source", "lv"))
      .join(qr, Seq("source", "qv"))
      .select(
        col("source"),
        ((col("rl2") - col("rq2")) * (col("rl2") - col("rq2")))
          .as("d2")
      )
    val agg = d
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("d2")).as("sum_d2_x4")
      )
    val den = col("n_docs") * (col("n_docs") * col("n_docs") - lit(1L))
    agg.select(
      col("source"),
      col("n_docs"),
      col("sum_d2_x4"),
      idivHalfUpSigned(
        lit(1000L) * den - lit(1500L) * col("sum_d2_x4"),
        greatest(den, lit(1L))
      ).as("rho_milli")
    )
  }

  /** q454: Cliff's delta of each source's quality distribution
    * against the rest of the corpus — the ordinal effect size
    * δ = (#{x>y} − #{x<y}) / (n_s·n_rest) over all cross pairs
    * (Cliff, "Dominance statistics", Psych. Bull. 1993), exact
    * integer pair counts and a signed half-up milli. The q322
    * fairness battery says WHETHER a source's gate rates differ;
    * δ says HOW MUCH the quality distribution itself dominates —
    * |δ| < 147 is Romano's "negligible" band, and a source at
    * δ ≤ −500 is pulling the corpus down across most of its mass,
    * whatever its mean says (robust to the heavy tails that make
    * mean gaps lie).
    *
    * Scale: NO pairwise work — the greater/less pair counts come
    * from the value-domain identity gt_s = Σ_v c_s(v)·rest_below(v)
    * over the distinct (source, q_micro) frame, with rest-cumsums
    * derived from one global and one per-source value-domain cumsum
    * (both bounded by the quantized micro-score domain, never N).
    * Milli emission headroom: 1000·n_s·n_rest < 2⁶³ to ~3e7 docs; the
    * counts themselves are exact far beyond.
    */
  def cliffDeltaBySource(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.idivHalfUpSigned
    val base = Tables
      .documents(spark, dir)
      .select(col("source"), qualityMicro(col("text")).as("v"))
    val g = base
      .groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
      .cacheTracked()
    val gv = g.groupBy(col("v")).agg(sum(col("c")).as("ct"))
    val wg = Window
      .orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gcum = gv
      .withColumn("gle", sum(col("ct")).over(wg))
      .select(col("v"), col("ct"), (col("gle") - col("ct")).as("gb"))
    val ws = Window
      .partitionBy(col("source"))
      .orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scum = g
      .withColumn("sle", sum(col("c")).over(ws))
      .select(
        col("source"),
        col("v"),
        col("c"),
        (col("sle") - col("c")).as("sb")
      )
    val nTot = base.agg(count(lit(1)).as("n_total"))
    val nSrc = g.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val terms = scum
      .join(gcum, Seq("v"))
      .join(broadcast(nSrc), Seq("source"))
      .crossJoin(broadcast(nTot))
      .select(
        col("source"),
        col("n_s"),
        (col("n_total") - col("n_s")).as("n_rest"),
        (col("c") * (col("gb") - col("sb"))).as("gt_term"),
        (col("c") *
          ((col("n_total") - col("gb") - col("ct")) -
            (col("n_s") - col("sb") - col("c")))).as("lt_term")
      )
    terms
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_s"),
        max(col("n_rest")).as("n_rest"),
        sum(col("gt_term")).as("n_gt"),
        sum(col("lt_term")).as("n_lt")
      )
      .select(
        col("source"),
        col("n_s"),
        col("n_rest"),
        col("n_gt"),
        col("n_lt"),
        idivHalfUpSigned(
          lit(1000L) * (col("n_gt") - col("n_lt")),
          greatest(col("n_s") * col("n_rest"), lit(1L))
        ).as("delta_milli")
      )
  }

  /** q457: Hodges-Lehmann shift estimator of document length, each
    * language vs the rest of the corpus — the weighted lower median
    * of ALL n₁·n₂ pairwise differences (Hodges & Lehmann, AMS 1963),
    * the location shift the Mann-Whitney machinery (q283) implicitly
    * tests. Means shift with one long document; the HL estimator
    * moves only when the BULK of the mass moves, which is what a
    * per-language packing budget (q53/q314) should key on.
    *
    * Scale: never materializes n₁·n₂ pairs — the difference
    * distribution lives on the |V_lang| × |V_rest| DISTINCT-value
    * product frame with integer weights c₁·c₂, and the median is a
    * weighted value-domain pick over the distinct-diff frame (both
    * bounded by the length value domain squared, never N²).
    */
  def hodgesLehmannShift(spark: SparkSession, dir: String): DataFrame = {
    val lens = Tables
      .documents(spark, dir)
      .select(col("lang"), col("n_chars").as("v"))
    val g1 = lens
      .groupBy(col("lang"), col("v"))
      .agg(count(lit(1)).as("c1"))
      .cacheTracked()
    val gv = lens.groupBy(col("v")).agg(count(lit(1)).as("ct"))
    val langs = lens.select(col("lang")).distinct()
    val g2 = langs
      .crossJoin(gv.withColumnRenamed("v", "w"))
      .join(
        g1.select(col("lang"), col("v").as("w"), col("c1").as("own")),
        Seq("lang", "w"),
        "left"
      )
      .select(
        col("lang"),
        col("w"),
        (col("ct") - coalesce(col("own"), lit(0L))).as("c2")
      )
      .filter(col("c2") > 0L)
    val diffs = g1
      .join(g2, Seq("lang"))
      .groupBy(col("lang"), (col("v") - col("w")).as("diff"))
      .agg(sum(col("c1") * col("c2")).as("wt"))
    val wl = Window
      .partitionBy(col("lang"))
      .orderBy(col("diff").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = diffs
      .withColumn("cw", sum(col("wt")).over(wl))
      .withColumn(
        "tot",
        sum(col("wt")).over(Window.partitionBy(col("lang")))
      )
    val hl = cum
      .filter(col("cw") * 2 >= col("tot"))
      .groupBy(col("lang"))
      .agg(min(col("diff")).as("hl_shift"))
    cum
      .groupBy(col("lang"))
      .agg(
        max(col("tot")).as("n_pairs"),
        min(col("diff")).as("min_diff"),
        max(col("diff")).as("max_diff")
      )
      .join(broadcast(hl), Seq("lang"))
      .select(
        col("lang"),
        col("n_pairs"),
        col("hl_shift"),
        col("min_diff"),
        col("max_diff")
      )
  }

  /** q458: median absolute deviation of document length per
    * language — the robust scale twin of q356's five-point: the
    * lower-median length, then the lower-median of |length − median|,
    * both exact weighted value-domain picks (Hampel's MAD; the
    * scale estimate with a 50% breakdown point, vs 0% for the
    * q438 CV² and ~25% for the q197 IQR). The number that sizes a
    * robust z-gate (|x − med| > k·MAD) that one pathological crawl
    * batch cannot widen.
    *
    * Scale: two chained value-domain picks over the distinct
    * (lang, length) and (lang, deviation) frames — both bounded by
    * the length domain; no corpus-scale window, no collect.
    */
  def lengthMad(spark: SparkSession, dir: String): DataFrame = {
    val lens = Tables
      .documents(spark, dir)
      .select(col("lang"), col("n_chars").as("v"))
    val g = lens
      .groupBy(col("lang"), col("v"))
      .agg(count(lit(1)).as("c"))
      .cacheTracked()
    val wl = Window
      .partitionBy(col("lang"))
      .orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("cw", sum(col("c")).over(wl))
      .withColumn(
        "n",
        sum(col("c")).over(Window.partitionBy(col("lang")))
      )
    val med = cum
      .filter(col("cw") * 2 >= col("n"))
      .groupBy(col("lang"))
      .agg(min(col("v")).as("med"), max(col("n")).as("n_docs"))
    val dev = g
      .join(broadcast(med), Seq("lang"))
      .groupBy(col("lang"), abs(col("v") - col("med")).as("d"))
      .agg(sum(col("c")).as("c"))
    val wd = Window
      .partitionBy(col("lang"))
      .orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = dev
      .withColumn("cw", sum(col("c")).over(wd))
      .withColumn(
        "n",
        sum(col("c")).over(Window.partitionBy(col("lang")))
      )
      .filter(col("cw") * 2 >= col("n"))
      .groupBy(col("lang"))
      .agg(min(col("d")).as("mad"))
    med
      .join(broadcast(mad), Seq("lang"))
      .select(
        col("lang"),
        col("n_docs"),
        col("med").as("median_len"),
        col("mad").as("mad_len")
      )
  }

  /** q461: conditional median quality per length decile — the
    * rank-exact median micro-quality within each global length
    * decile (decile bounds from the q89 value-domain pick, medians
    * from per-decile value-domain picks). q446's Spearman ρ reports
    * ONE number for the length/quality association; this is the
    * curve behind it — where the association lives, whether it
    * saturates, and whether a gate keyed on quality silently becomes
    * a length gate in some band. The gate designer reads this table
    * before trusting q249/q446.
    *
    * Scale: decile assignment via a broadcast 10-row bound table
    * (no per-row window); per-decile medians over the distinct
    * (decile, q_micro) frame — value-domain bounded, partitioned on
    * the decile key.
    */
  def conditionalMedianQuality(
      spark: SparkSession,
      dir: String
  ): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .select(
        col("n_chars").as("len"),
        qualityMicro(col("text")).as("q")
      )
      .cacheTracked()
    val g = base.groupBy(col("len")).agg(count(lit(1)).as("c"))
    val wg = Window
      .orderBy(col("len").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("cw", sum(col("c")).over(wg))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
      // ten decile-bound picks read this frame — derive once
      .cacheTracked()
    // upper bound of decile d = min len with cw*10 >= n*d; only
    // b1..b9 are read (the decile CASE falls through to 10), so the
    // tenth scalar pass is never built
    val bounds = (1 to 9)
      .map { dd =>
        cum
          .filter(col("cw") * 10 >= col("n") * dd)
          .agg(min(col("len")).as(s"b$dd"))
      }
      .reduce(_.crossJoin(_))
    val withDecile = base
      .crossJoin(broadcast(bounds))
      .select(
        (1 to 9)
          .foldRight(lit(10L): Column) { case (dd, acc) =>
            when(col("len") <= col(s"b$dd"), lit(dd.toLong))
              .otherwise(acc)
          }
          .as("decile"),
        col("len"),
        col("q")
      )
    val qg = withDecile
      .groupBy(col("decile"), col("q"))
      .agg(count(lit(1)).as("c"))
    val wq = Window
      .partitionBy(col("decile"))
      .orderBy(col("q").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qcum = qg
      .withColumn("cw", sum(col("c")).over(wq))
      .withColumn(
        "n",
        sum(col("c")).over(Window.partitionBy(col("decile")))
      )
    val medq = qcum
      .filter(col("cw") * 2 >= col("n"))
      .groupBy(col("decile"))
      .agg(min(col("q")).as("med_q_micro"))
    val lens = withDecile
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("len")).as("len_lo"),
        max(col("len")).as("len_hi")
      )
    lens
      .join(broadcast(medq), Seq("decile"))
      .select(
        col("decile"),
        col("n_docs"),
        col("len_lo"),
        col("len_hi"),
        col("med_q_micro")
      )
  }

  /** q464: 5%-winsorized mean document length per source — the P5
    * and P95 length picks (value-domain, rank-exact), every length
    * clipped into [p5, p95], and both the raw and winsorized means
    * in exact half-up milli (Tukey/Dixon winsorization; the robust
    * mean that keeps the sample size, unlike trimming — q292 is the
    * TRIMMED twin). The gap between raw_mean and wins_mean is a
    * one-number tail-contamination alarm per source: a big gap
    * with a stable median (q458) means a few monster documents are
    * steering every mean-based dashboard.
    *
    * Scale: one (source, length) value-domain frame drives the
    * picks; clipping is a broadcast join of the 2-column bound
    * table; means are one aggregate. No corpus-scale window.
    */
  def winsorizedMeanLength(
      spark: SparkSession,
      dir: String
  ): DataFrame = {
    import graft.functions.IntMath.idivHalfUp
    val lens = Tables
      .documents(spark, dir)
      .select(col("source"), col("n_chars").as("v"))
      .cacheTracked()
    val g = lens
      .groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("cw", sum(col("c")).over(w))
      .withColumn(
        "n",
        sum(col("c")).over(Window.partitionBy(col("source")))
      )
      .cacheTracked()
    def pick(num: Int, den: Int, name: String): DataFrame =
      cum
        .filter(col("cw") * den >= col("n") * num)
        .groupBy(col("source"))
        .agg(min(col("v")).as(name))
    val bounds = pick(1, 20, "p5").join(pick(19, 20, "p95"), "source")
    lens
      .join(broadcast(bounds), Seq("source"))
      .select(
        col("source"),
        col("v"),
        greatest(col("p5"), least(col("p95"), col("v"))).as("cv"),
        col("p5"),
        col("p95")
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("p5")).as("p5_len"),
        max(col("p95")).as("p95_len"),
        idivHalfUp(lit(1000L) * sum(col("v")), count(lit(1)))
          .as("raw_mean_milli"),
        idivHalfUp(lit(1000L) * sum(col("cv")), count(lit(1)))
          .as("wins_mean_milli")
      )
  }

  /** q472: positional skew of head tokens — for the top-20 tokens by
    * occurrence count, how their occurrences distribute across the
    * ten WITHIN-DOCUMENT position deciles (decile = 10·idx DIV len),
    * emitted as the occurrence count, the heaviest decile and its
    * share, and the exact integer chi-square statistic vs uniform in
    * half-up milli (Σ(10·o_d − n)²/(10n), absent cells contributing
    * n² to the sum — overflow-safe past 10⁶ occurrences per token).
    * Function words spread flat;
    * template/boilerplate tokens pile into the first or last decile
    * — this is the positional evidence behind the q364
    * boilerplate-prefix and q389 template-span findings, per token.
    *
    * Scale: one tokenize scan with `posexplode` (narrow), one
    * (token, decile) aggregate; the top-20 head set comes from a
    * TakeOrdered (per-partition heaps) and broadcasts. The decile
    * frame per token is 10 cells — bounded.
    */
  def positionalSkew(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.{idiv, idivHalfUp, microRatio}
    val withLen = Tables
      .documents(spark, dir)
      .select(
        posexplode(tokens(col("text"))).as(Seq("i", "w")),
        size(tokens(col("text"))).as("len")
      )
      .select(
        col("w"),
        idiv(col("i").cast("long") * 10L, col("len").cast("long"))
          .as("d")
      )
      .cacheTracked()
    val top = withLen
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("w").asc)
      .limit(20)
    val cells = withLen
      .join(broadcast(top), Seq("w"))
      .groupBy(col("w"), col("d"))
      .agg(count(lit(1)).as("o"), max(col("n_occ")).as("n_occ"))
      .cacheTracked()
    val heaviest = cells
      .groupBy(col("w"))
      .agg(
        max(col("n_occ")).as("n_occ"),
        max(struct(col("o").as("o"), (-col("d")).as("nd"))).as("hv")
      )
      .select(
        col("w"),
        col("n_occ"),
        (-col("hv.nd")).as("top_decile"),
        microRatio(col("hv.o"), col("n_occ")).as("top_decile_ppm")
      )
    // chi-square vs uniform: S = sum over the 10 deciles of
    // (10*o_d - n)^2, absent cells contributing n^2; the statistic
    // is S / (10n), emitted in exact half-up milli = 100*S / n
    val dev = cells
      .groupBy(col("w"))
      .agg(
        max(col("n_occ")).as("n_occ"),
        sum((col("o") * 10L - col("n_occ")) *
          (col("o") * 10L - col("n_occ"))).as("s_present"),
        count(lit(1)).as("n_cells")
      )
      .select(
        col("w"),
        idivHalfUp(
          lit(100L) *
            (col("s_present") +
              (lit(10L) - col("n_cells")) * col("n_occ") *
              col("n_occ")),
          col("n_occ")
        ).as("uniform_dev_milli")
      )
    heaviest
      .join(dev, Seq("w"))
      .select(
        col("w").as("token"),
        col("n_occ"),
        col("top_decile"),
        col("top_decile_ppm"),
        col("uniform_dev_milli")
      )
  }

  /** q466: lexical islands — connected components of the bigram
    * co-occurrence graph restricted to pairs seen ≥ 3 times
    * (occurrence-counted, unlike q434's distinct adjacency), as the
    * one-row census (tokens, edges, components, largest island and
    * its ppm share). The repeated-bigram backbone is the corpus's
    * function-word/template skeleton: one giant island means a
    * connected phrasal core (normal prose); many islands mean
    * disjoint boilerplate families — the lexical mirror of q459's
    * document-level percolation.
    *
    * Scale: bigram counting is one map-side-combinable aggregate;
    * token ids come from `Ranking.withGlobalRank` over the
    * qualifying vocabulary (range shuffle + zipWithIndex — no
    * single-partition window, and the component census is invariant
    * to the id assignment); components via the q72 pointer-doubling
    * CC.
    */
  def lexiconIslands(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntMath.microRatio
    val toks = Tables
      .documents(spark, dir)
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val pairs = toks
      .select(
        explode(
          zip_with(
            slice(col("t"), 1, 1000000),
            slice(col("t"), 2, 1000000),
            (a, b) => struct(a.as("w1"), b.as("w2"))
          )
        ).as("bg")
      )
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w2").isNotNull && col("w1") =!= col("w2"))
      .select(
        least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b")
      )
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 3L)
      .cacheTracked()
    val vocab = pairs
      .select(col("a").as("w"))
      .unionByName(pairs.select(col("b").as("w")))
      .distinct()
    val ids = Ranking
      .withGlobalRank(vocab, Seq(col("w").asc), "id", 32)
      .cacheTracked()
    val edges = pairs
      .join(ids.select(col("w").as("a"), col("id").as("src")),
        Seq("a"))
      .join(ids.select(col("w").as("b"), col("id").as("dst")),
        Seq("b"))
      .select(col("src"), col("dst"))
    val sizes = ConnectedComponents
      .run(ids.select(col("id")), edges)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("sz"))
    sizes
      .agg(
        coalesce(sum(col("sz")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("n_islands"),
        coalesce(max(col("sz")), lit(0L)).as("max_island")
      )
      .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_edges"))))
      .select(
        col("n_tokens"),
        col("n_edges"),
        col("n_islands"),
        col("max_island"),
        microRatio(col("max_island"), greatest(col("n_tokens"),
          lit(1L))).as("giant_ppm")
      )
  }
}
