package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text functions (SURVEY.md §2.4) as Column compositions and
  * codegen'd Catalyst expressions — zero UDFs, so everything stays
  * inside whole-stage codegen and the optimizer can push/prune around
  * them.
  *
  * Reference semantics: `clean_text` (/root/reference/utils.py:84-105)
  * collapses every whitespace run to one space, trims, maps null→"",
  * and truncates to maxLen + "..." when over limit (result length
  * maxLen+3).
  */
object TextFunctions {

  /** Whitespace-collapse + trim + null→"" (utils.py:99): one fused
    * [[CleanText]] pass. Whitespace is exactly Python's `str.split()`
    * set, [[CleanText.PythonWhitespace]] — Java's `(?U)\s` plus
    * U+001C–U+001F (SURVEY §7.5 risk 1).
    */
  def cleanText(c: Column): Column = CleanText.cleanText(c, -1)

  /** cleanText with the reference's truncate-and-ellipsis contract
    * (utils.py:102-103): text of more than maxLen code points after
    * cleaning becomes exactly its first maxLen + "...".
    */
  def cleanText(c: Column, maxLen: Int): Column = {
    require(maxLen >= 0, s"maxLen must be >= 0, got $maxLen")
    CleanText.cleanText(c, maxLen)
  }

  /** Whitespace tokenization; empty/blank input → empty array (mirrors
    * Python `"".split() == []`, not `[""]`).
    */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "(?U)\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** English-ish stopword list used by quality scoring and language ID.
    * Small on purpose: it broadcasts as a literal array into codegen.
    */
  val stopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Fraction of tokens that are stopwords; 0.0 for empty docs. */
  def stopwordRatio(c: Column, stops: Seq[String] = stopwordsEn): Column = {
    val t = tokens(c)
    val hits = size(filter(t, w => w.isin(stops: _*)))
    when(size(t) === 0, lit(0.0)).otherwise(hits.cast("double") / size(t))
  }

  /** Count of punctuation characters (fixed class, engine-portable via
    * translate-drop).
    */
  def punctCount(c: Column): Column =
    length(c) - length(translate(c, ".,!?;:", ""))

  /** Mean token length; 0.0 for empty docs. */
  def avgTokenLength(c: Column): Column = {
    val t = tokens(c)
    when(size(t) === 0, lit(0.0))
      .otherwise(
        aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") /
          size(t)
      )
  }

  /** Composite quality score in [0,1] — the shape of a pretraining
    * quality filter: reward length (saturating at 200 tokens), penalize
    * stopword-free word soup and punctuation soup.
    */
  def qualityScore(c: Column): Column = {
    val t = tokenCount(c).cast("double")
    val lengthTerm = least(t / 200.0, lit(1.0))
    val stopTerm = least(stopwordRatio(c) * 5.0, lit(1.0))
    val punctTerm = when(length(c) === 0, lit(0.0))
      .otherwise(punctCount(c).cast("double") / length(c))
    round(lit(0.5) * lengthTerm + lit(0.4) * stopTerm +
      lit(0.1) * (lit(1.0) - least(punctTerm * 10.0, lit(1.0))), 6)
  }

  /** Pure-BIGINT micro-quality — the round-9 integer twin of
    * [[qualityScore]], and the ONLY quality representation allowed in
    * hashed, ordered, or grouped output columns. Same three signals
    * and weights, but every term is an exact integer in micro-units
    * ([[IntMath.idivHalfUp]] for the two ratios, which are exact at
    * every half-boundary where the double version is
    * engine-dependent):
    *
    *   len_m   = min(n_tokens * 5000, 1e6)            // min(n/200,1)
    *   stop_m  = min(halfUp(5e6 * n_stop, n_tokens), 1e6)
    *   punct_m = min(halfUp(1e7 * n_punct, n_chars), 1e6)
    *   q_micro = halfUp(5*len_m + 4*stop_m + (1e6 - punct_m), 10)
    *
    * DuckDB twin: SparkEntry.qMicroCte. The double [[qualityScore]]
    * stays for spec-level sanity checks only; `|q_micro/1e6 − q| ≤
    * 2e-6` is pinned by Round9OpsSpec "qualityMicro is the integer
    * twin of the double quality score".
    */
  def qualityMicro(c: Column): Column = {
    import IntMath.idivHalfUp
    val (lenM, stopM, punctM) = qualityMicroTerms(c)
    idivHalfUp(
      lit(5L) * lenM + lit(4L) * stopM + (lit(1000000L) - punctM),
      lit(10L)
    )
  }

  /** The three exact integer micro-terms of [[qualityMicro]] —
    * exposed so component-level audits (q326) decompose the SAME
    * integers the composite score is built from.
    */
  def qualityMicroTerms(c: Column): (Column, Column, Column) = {
    import IntMath.idivHalfUp
    val t = tokenCount(c).cast("long")
    val nStop = size(filter(tokens(c), w => w.isin(stopwordsEn: _*)))
      .cast("long")
    val nPunct = punctCount(c).cast("long")
    val nChars = length(c).cast("long")
    val lenM = least(t * lit(5000L), lit(1000000L))
    val stopM = when(t === 0, lit(0L))
      .otherwise(least(idivHalfUp(lit(5000000L) * nStop, t), lit(1000000L)))
    val punctM = when(nChars === 0, lit(0L))
      .otherwise(
        least(idivHalfUp(lit(10000000L) * nPunct, nChars), lit(1000000L)))
    (lenM, stopM, punctM)
  }

  /** Per-language marker words for the n-gram/stopword language-ID
    * heuristic. Deterministic tie-break = list order below.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "la", "y", "los", "es"),
    "zh" -> Seq("的", "是", "了", "在", "我")
  )

  /** Heuristic language ID: argmax of marker-word hit counts, "und"
    * (undetermined) when no marker hits. Ties resolve in langMarkers
    * order.
    */
  def langId(c: Column): Column = {
    val t = tokens(c)
    val scores = langMarkers.map { case (lang, words) =>
      lang -> size(filter(t, w => w.isin(words: _*)))
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Document fingerprint: md5 of the cleaned, lowercased text plus a
    * 60-bit integer prefix (cheap join/partition key for exact dedup at
    * scale — 60 bits keeps it in a long on both engines).
    */
  def fingerprintHex(c: Column): Column = md5(lower(cleanText(c)))

  def fingerprintLong(c: Column): Column =
    Md5Prefix60.md5Prefix60(lower(cleanText(c)))

  /** 60-bit md5-prefix hash of an arbitrary key — the one hash
    * convention shared by the train/test split (q49), the KMV sketch
    * (q58), and the fingerprint family (q17): DuckDB mirrors it as
    * `('0x' || substr(md5(x::VARCHAR), 1, 15))::BIGINT`.
    */
  def hash60(c: Column): Column =
    Md5Prefix60.md5Prefix60(c.cast("string"))

  /** The composed-builtin form hash60 shipped with (one digest, a
    * 32-char hex materialization, a base-16 parse) — kept as the
    * differential twin for [[Md5Prefix60]].
    */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Filename sanitization (utils.py:215-228, SURVEY §2.4 F6):
    * replace the filesystem-reserved characters with underscores.
    */
  def filenameSafe(c: Column): Column =
    translate(c, "<>:\"/\\|?*", "_________")

  /** Word n-gram shingles (distinct), the MinHash/Jaccard input.
    * Docs with fewer than n tokens yield an empty set. Fused codegen
    * expression ([[Shingles]]) — one tokenizer pass per row.
    */
  def shingles(c: Column, n: Int): Column =
    Shingles.shingles(c, n)

  /** The composed HOF form shingles shipped with — the lambda body
    * re-evaluates the `tokens()` subtree per element (n
    * re-tokenizations per shingle position when interpreted). Kept as
    * the differential twin for [[Shingles]].
    */
  def shinglesHof(c: Column, n: Int): Column = {
    val t = tokens(c)
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(
        array_distinct(
          transform(
            sequence(lit(0), size(t) - n),
            i =>
              concat_ws(
                " ",
                (0 until n).map(k => element_at(t, i + k + 1)): _*
              )
          )
        )
      )
  }
}
