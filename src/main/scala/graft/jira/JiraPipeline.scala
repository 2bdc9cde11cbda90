package graft.jira

import graft.functions.JiraDecode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end Jira pipeline (main.py:17-137 semantics; SURVEY §3 EP1):
  * raw JSON → flatten → fan-out → ordered corpus + statistics.
  *
  * The total corpus order (SURVEY §2.10) is explicit: project rank
  * (config order) → created ASC → issue_key → within-issue task rank.
  * The sort keys ride along the plan; an ordered single-file write is
  * `orderedCorpus(...).coalesce(1)` at the sink, while the unordered
  * corpus keeps full parallelism for analytical consumers.
  */
object JiraPipeline {

  val FixtureDir = "/root/repo/src/test/resources/jira"

  /** One row per raw line that is a JSON object: the raw issue columns
    * (`key`, `id`, `fields`) and two key sets
    * ([[JiraFlatten.ProbeFieldsKeys]]/[[JiraFlatten.ProbeTopKeys]]).
    * Spark's JSON parser maps an absent key and an explicit JSON null
    * both to null, but the reference treats them oppositely (absent →
    * default, null → crash-drop; scraper.py:217,316-318), so the key
    * sets ride along the same scan. One [[JiraDecode]] pass per line
    * gives both: it tokenizes the line once and converts the values as
    * `from_json` does. It is a generator (`explode` over zero or one
    * decoded issue), so flatten's drop Filter sits above it and cannot
    * evaluate the decode again. The generator emits the issue as one
    * struct column, which that Filter and flatten's Project each read
    * whole, so whole-stage codegen gives each of them its own method;
    * `inline` emitted five columns and left all three operators in one
    * method, which took the JIT longer to compile (PERF.md, "One decode
    * per issue"). A line the decode finds no object in
    * (blank, malformed, a JSON scalar or array) yields no row; see
    * [[quarantined]]. The `jira` source decodes each issue of a page
    * with the same kernel.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(explode(JiraDecode.decode(col("value"))).as("issue"))
      .select(col("issue.*"))

  /** The lines [[readRaw]] skips, verbatim in one `value` column: every
    * non-blank line the decode finds no object in (malformed, a scalar
    * or an array). At corpus scale a bad-records rate is an SLO, not an
    * exception: these are kept for replay and debugging, never fail
    * the read. Lazy like any scan; nothing is cached.
    */
  def quarantined(spark: SparkSession, path: String): DataFrame =
    spark.read
      .text(path)
      .filter(trim(col("value"), " \t") =!= "" &&
        size(JiraDecode.decode(col("value"))) === 0)

  /** Flattened issues for a list of (project, rawJsonPath), tagged
    * with project_rank to preserve config order.
    */
  def flattenedIssues(
      spark: SparkSession,
      projects: Seq[(String, String)]
  ): DataFrame =
    projects.zipWithIndex
      .map { case ((proj, path), rank) =>
        JiraFlatten
          .flatten(readRaw(spark, path), proj)
          .withColumn("project_rank", lit(rank))
      }
      .reduce(_.unionByName(_))

  /** Training-example corpus with ordering keys. */
  def corpus(spark: SparkSession, projects: Seq[(String, String)]): DataFrame =
    projects.zipWithIndex
      .map { case ((proj, path), rank) =>
        JiraGenerators
          .generate(JiraFlatten.flatten(readRaw(spark, path), proj))
          .withColumn("project_rank", lit(rank))
      }
      .reduce(_.unionByName(_))

  /** Corpus in the reference's total emission order. */
  def orderedCorpus(
      spark: SparkSession,
      projects: Seq[(String, String)]
  ): DataFrame =
    corpus(spark, projects).orderBy(
      col("project_rank"),
      col("created"),
      col("issue_key"),
      col("task_rank")
    )

  /** Default fixture pipeline (two projects, config order). */
  def fixtureProjects: Seq[(String, String)] = Seq(
    "TEST" -> s"$FixtureDir/raw_issues_TEST.jsonl",
    "TEST2" -> s"$FixtureDir/raw_issues_TEST2.jsonl"
  )
}
