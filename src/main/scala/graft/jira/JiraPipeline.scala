package graft.jira

import graft.functions.JsonKeyProbe
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

  /** One row per raw line that is a JSON object: the `from_json`
    * parse of the line, plus two presence probes read from the raw
    * text ([[JiraFlatten.ProbeFieldsKeys]]/[[JiraFlatten.ProbeTopKeys]]).
    * Spark's JSON parser maps an absent key and an explicit JSON null
    * both to null, but the reference treats them oppositely (absent →
    * default, null → crash-drop; scraper.py:217,316-318), so the key
    * sets ride along the same scan — one text read, no second pass
    * over the file, no shuffle. Both key sets come from one
    * [[JsonKeyProbe]] pass over the line that skips every value but
    * the `fields` object's keys. A line the probe finds no object in
    * (blank, malformed, a JSON scalar or array) yields no row; see
    * [[quarantined]]. The `jira` source decodes each issue of a page
    * the same way.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .text(path)
      .select(col("value"), JsonKeyProbe.keyProbe(col("value")).as("p"))
      // one row per line the probe finds an object in, as a generator
      // over the probe column (a Filter would be pushed below the
      // projection and evaluate the probe a second time); only those
      // lines are parsed
      .select(col("value"), explode(when(
        col("p").getField(JsonKeyProbe.TopKeys).isNotNull, array(col("p"))))
        .as("p"))
      .select(from_json(col("value"), JiraSchemas.rawIssueSchema).as("j"),
        col("p"))
      .select(col("j.*"),
        col("p").getField(JsonKeyProbe.FieldsKeys).as(JiraFlatten.ProbeFieldsKeys),
        col("p").getField(JsonKeyProbe.TopKeys).as(JiraFlatten.ProbeTopKeys))

  /** The lines [[readRaw]] skips, verbatim in one `value` column: every
    * non-blank line that is not a JSON object (malformed, a scalar or
    * an array). At corpus scale a bad-records rate is an SLO, not an
    * exception: these are kept for replay and debugging, never fail
    * the read. Lazy like any scan; nothing is cached.
    */
  def quarantined(spark: SparkSession, path: String): DataFrame =
    spark.read
      .text(path)
      .filter(trim(col("value"), " \t") =!= "" &&
        JsonKeyProbe.keyProbe(col("value")).getField(JsonKeyProbe.TopKeys).isNull)

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
