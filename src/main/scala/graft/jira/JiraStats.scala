package graft.jira

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistics stage (transformer.py:316-357, main.py:99-106;
  * SURVEY §2.6).
  *
  * Distinct-value lists are sorted (`sort_array∘collect_set`) — the
  * reference's Python set iteration order is nondeterministic, so the
  * deterministic sorted form is the comparable one (SURVEY §2.10).
  * Both aggregations are partial-aggregated map-side; the distribution
  * map is built with map_from_entries over a sorted entry list so the
  * map's key order is deterministic too (`sort_array`: the entries are
  * null-free orderable structs, so no lambda comparator is needed).
  */
object JiraStats {

  /** Per-project dataset statistics over generated examples. */
  def perProject(examples: DataFrame): DataFrame = {
    val byType = examples
      .groupBy(col("metadata.project").as("project"), col("task_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("project"))
      .agg(
        sum(col("n")).as("total_examples"),
        map_from_entries(
          sort_array(collect_list(struct(col("task_type"), col("n"))))
        ).as("task_type_distribution")
      )
    val sets = examples
      .groupBy(col("metadata.project").as("project"))
      .agg(
        sort_array(collect_set(col("metadata.project"))).as("projects"),
        sort_array(collect_set(col("metadata.issue_type"))).as("issue_types"),
        sort_array(collect_set(col("metadata.priority"))).as("priorities"),
        sort_array(collect_set(col("metadata.status"))).as("statuses")
      )
    byType.join(sets, Seq("project"))
  }

  /** Combined stats across projects (main.py:99-106). `issueCounts`
    * carries (project, raw_issues_count) from the flatten stage.
    * Field-set parity with the reference's combined_statistics.json:
    * `per_project_stats` embeds each project's full stats record
    * (incl. project + raw_issues_count, as main.py:68-69 injects
    * them), ordered by project name (the deterministic form of the
    * reference's config-order list — array_sort with an explicit
    * comparator because the embedded distribution map is not
    * order-comparable); `processing_time_seconds` is the driver wall
    * time the caller measured (main.py:105).
    */
  def combined(
      perProjectStats: DataFrame,
      issueCounts: DataFrame,
      processingTimeSeconds: Option[Double] = None
  ): DataFrame = {
    val joined = perProjectStats.join(issueCounts, Seq("project"), "left")
    val record = struct(joined.columns.map(col): _*)
    val agg = joined.agg(
      sum(col("total_examples")).as("total_examples"),
      sum(col("raw_issues_count")).as("total_issues"),
      count(lit(1)).as("projects_processed"),
      sort_array(collect_list(col("project"))).as("projects"),
      array_sort(
        collect_list(record),
        (l, r) =>
          when(l.getField("project") < r.getField("project"), -1)
            .when(l.getField("project") > r.getField("project"), 1)
            .otherwise(0)
      ).as("per_project_stats")
    )
    processingTimeSeconds
      .map(t => agg.withColumn("processing_time_seconds", lit(t)))
      .getOrElse(agg)
  }
}
