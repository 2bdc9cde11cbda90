package graft.jira

import graft.functions.TextFunctions.cleanText
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Flatten stage: raw nested issue → 20-column IssueRecord
  * (scraper.py:190-259 semantics; SURVEY §2.3 P1-P5).
  *
  * One wide `select` — Catalyst prunes the nested reads to exactly the
  * accessed struct fields, so at scale this is a streaming map with no
  * shuffle.
  *
  * Replicated reference quirks:
  *  - P5: issues whose `status`/`priority`/`issuetype`/`comment`/
  *    `components`/`versions`/`fixVersions` value is EXPLICIT JSON
  *    null are dropped entirely (the reference's per-issue try/except
  *    swallows the AttributeError/TypeError the null raises —
  *    scraper.py:217,316-318), while an ABSENT key is kept and
  *    defaulted (`fields.get("status", {})` → `{}` → "Unknown").
  *    Spark's JSON parser maps both cases to null, so [[JiraPipeline
  *    .readRaw]] rides the key sets of the issue and of its `fields`
  *    object along the scan ([[ProbeFieldsKeys]]/[[ProbeTopKeys]],
  *    one `JsonKeyProbe` pass per line; the jira source fills the
  *    same columns from its own parse); when the probe columns are
  *    present, only explicit nulls drop. Raw frames
  *    without probes (schema-only readers) fall back to dropping all
  *    three null core objects — the pre-probe behavior. The "Unknown"
  *    default still applies to an empty object `{}` or a null `name`
  *    inside a present object; explicit-null `labels` passes through
  *    as null (the reference emits `"labels": null` — no method call
  *    touches it, so no crash).
  *  - P4: comments whose cleaned body is empty are dropped before
  *    comment_count is taken.
  *  - description capped at 20,000 chars (+"..."), comment bodies at
  *    10,000 (config.py:43-44). Title, description and every comment
  *    body go through the fused `cleanText` kernel (`CleanText`).
  */
object JiraFlatten {

  val JiraBaseUrl = "https://issues.apache.org/jira"
  val MaxDescriptionLength = 20000
  val MaxCommentLength = 10000

  /** Probe columns [[JiraPipeline.readRaw]] attaches: the key sets of
    * the issue object and its `fields` object, read from the raw line
    * so absent-key and explicit-null are distinguishable after
    * parsing.
    */
  val ProbeFieldsKeys = "_fields_keys"
  val ProbeTopKeys = "_top_keys"

  /** Fields whose EXPLICIT JSON null crashes the reference's
    * per-issue extract (AttributeError on `.get`, TypeError on
    * iteration) and therefore drops the issue.
    */
  private val CrashNullFields = Seq("status", "priority", "issuetype",
    "comment", "components", "versions", "fixVersions")

  private def userName(u: Column): Column =
    when(u.isNull, lit("Unknown"))
      .otherwise(coalesce(u.getField("displayName"), u.getField("name"),
        lit("Unknown")))

  private def names(arr: Column): Column =
    coalesce(
      transform(arr, o => coalesce(o.getField("name"), lit(""))),
      array().cast("array<string>")
    )

  def flatten(raw: DataFrame, project: String): DataFrame = {
    val f = col("fields")
    val hasProbes = raw.columns.contains(ProbeFieldsKeys)
    // present-in-JSON AND parsed-to-null ⇒ the value was an explicit
    // JSON null (a type-mismatched scalar also parses to null and also
    // crashes the reference — same verdict either way)
    def explicitNull(field: String): Column =
      coalesce(array_contains(col(ProbeFieldsKeys), field), lit(false)) &&
        f.getField(field).isNull
    val dropRow =
      if (hasProbes)
        CrashNullFields.map(explicitNull).reduce(_ || _) ||
          (coalesce(array_contains(col(ProbeTopKeys), "fields"),
            lit(false)) && f.isNull)
      else
        f.getField("status").isNull || f.getField("priority").isNull ||
          f.getField("issuetype").isNull
    val labelsCol = {
      val defaulted =
        coalesce(f.getField("labels"), array().cast("array<string>"))
      if (hasProbes)
        when(explicitNull("labels"), lit(null).cast("array<string>"))
          .otherwise(defaulted)
      else defaulted
    }
    val cleanedComments = filter(
      transform(
        coalesce(
          f.getField("comment").getField("comments"),
          array().cast("array<struct<author:struct<displayName:string,name:string>,created:string,body:string>>")
        ),
        c =>
          struct(
            userName(c.getField("author")).as("author"),
            coalesce(c.getField("created"), lit("")).as("created"),
            cleanText(c.getField("body"), MaxCommentLength).as("body")
          )
      ),
      c => length(c.getField("body")) > 0
    )
    raw
      .filter(!dropRow)
      .select(
        coalesce(col("key"), lit("")).as("issue_key"),
        coalesce(col("id"), lit("")).as("issue_id"),
        lit(project).as("project"),
        concat(lit(s"$JiraBaseUrl/browse/"), coalesce(col("key"), lit("")))
          .as("url"),
        cleanText(f.getField("summary")).as("title"),
        cleanText(f.getField("description"), MaxDescriptionLength)
          .as("description"),
        coalesce(f.getField("status").getField("name"), lit("Unknown"))
          .as("status"),
        coalesce(f.getField("priority").getField("name"), lit("Unknown"))
          .as("priority"),
        coalesce(f.getField("issuetype").getField("name"), lit("Unknown"))
          .as("issue_type"),
        userName(f.getField("reporter")).as("reporter"),
        userName(f.getField("assignee")).as("assignee"),
        coalesce(f.getField("created"), lit("")).as("created"),
        coalesce(f.getField("updated"), lit("")).as("updated"),
        coalesce(f.getField("resolutiondate"), lit("")).as("resolved"),
        labelsCol.as("labels"),
        names(f.getField("components")).as("components"),
        names(f.getField("versions")).as("versions"),
        names(f.getField("fixVersions")).as("fix_versions"),
        cleanedComments.as("comments"),
        size(cleanedComments).as("comment_count")
      )
  }
}
