package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Session-extensions entry point: registers the engine's custom
  * Catalyst expressions and the as-of join planner strategy on every
  * session created with
  *
  * {{{
  *   --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * This is the cluster-deployment path (no per-session registration
  * calls): `vec_dot` (codegen'd float-vector dot product),
  * `vec_cosine` (cosine similarity composed from it, same
  * left-to-right double accumulation the oracles mirror),
  * `rolling_hash` (codegen'd document fingerprint), and `jira_tasks`
  * (the LATERAL VIEW fan-out generator) become available in plain SQL
  * everywhere. `vec_cosine` and `jira_tasks` are the Column-DSL forms
  * themselves (`VectorMath.vecCosine`, `JiraGenerators.tasks`), turned
  * into Catalyst trees by `ColumnBridge.expression`.
  *
  * It injects no optimizer rule: operators call the fused kernels
  * through their Column builders (`Md5Prefix60.md5Prefix60`,
  * `VectorMath.vecSqDist` / `vecDot`, `ArrayIntersectSize.intersectSize`),
  * so a kernel enters the plan where the operator writes it, never by
  * a rewrite of a composed form.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  /** A foldable, non-null integer literal argument — NULL is foldable
    * too, so a bare eval().intValue() would NPE out of the builder.
    */
  private def intLit(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    val v = e.eval()
    require(v != null, s"$what must be a non-null integer literal")
    v.asInstanceOf[Number].intValue()
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator extension: the native backward as-of join
    // (logical AsOfJoin → AsOfJoinExec sorted merge)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectFunction(
      (
        FunctionIdentifier("vec_dot"),
        info("vec_dot", "vec_dot(a, b) - dot product of float arrays"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "vec_dot(arrayA, arrayB)")
          functions.VectorDot(exprs(0), exprs(1))
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("vec_cosine"),
        info("vec_cosine", "vec_cosine(a, b) - cosine similarity of float arrays"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "vec_cosine(arrayA, arrayB)")
          ColumnBridge.expression(functions.VectorMath.vecCosine(
            ColumnBridge.column(exprs(0)), ColumnBridge.column(exprs(1))))
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("vec_sq_dist"),
        info("vec_sq_dist",
          "vec_sq_dist(x, c) - squared L2 distance, float x double arrays"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "vec_sq_dist(floatArray, doubleArray)")
          functions.VectorSqDist(exprs(0), exprs(1))
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("minhash_sig"),
        info("minhash_sig",
          "minhash_sig(shingles, k) - single-pass k-minima MinHash signature"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "minhash_sig(arrayOfString, numHashes)")
          functions.MinHashSig(exprs(0), intLit(exprs(1), "numHashes"))
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("minhash_text"),
        info("minhash_text",
          "minhash_text(text, n, k) - fused tokenize/shingle/MinHash signature"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 3, "minhash_text(text, shingleN, numHashes)")
          functions.MinHashText(
            exprs(0),
            intLit(exprs(1), "shingleN"),
            intLit(exprs(2), "numHashes")
          )
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("simhash_text"),
        info("simhash_text",
          "simhash_text(text, bits) - in-row SimHash signature, no shuffle"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "simhash_text(text, bits)")
          functions.SimHashText(exprs(0), intLit(exprs(1), "bits"))
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("text_stats"),
        info("text_stats",
          "text_stats(s) - single-pass token/stopword/punct/char counts"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, "text_stats(str)")
          functions.TextStats(exprs.head)
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("lang_counts"),
        info("lang_counts",
          "lang_counts(s) - per-language marker-word hit counts"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, "lang_counts(str)")
          functions.LangCounts(exprs.head)
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("repetition_counts"),
        info("repetition_counts",
          "repetition_counts(s) - token/bigram totals and distincts"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, "repetition_counts(str)")
          functions.RepetitionCounts(exprs.head)
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("shingles"),
        info("shingles",
          "shingles(text, n) - distinct word n-grams, fused tokenizer"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "shingles(text, n)")
          functions.Shingles(exprs(0), intLit(exprs(1), "n"))
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("hash60"),
        info("hash60",
          "hash60(s) - 60-bit md5-prefix content hash (split/shard key)"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, "hash60(str)")
          functions.Md5Prefix60(exprs.head)
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("rolling_hash"),
        info("rolling_hash", "rolling_hash(s) - polynomial rolling fingerprint mod 1e9+7"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, "rolling_hash(str)")
          functions.RollingHash(exprs.head)
        }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("jira_tasks"),
        info("jira_tasks", "jira_tasks(issueStruct) - training-task fan-out"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, "jira_tasks(issueStruct)")
          jira.JiraGenerators.tasks(exprs.head)
        }
      )
    )
  }
}
