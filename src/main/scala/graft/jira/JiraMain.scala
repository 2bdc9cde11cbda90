package graft.jira

import graft.io.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EP1 — the full corpus build (main.py:17-137) as one Spark job:
  * per-project raw read → flatten → fan-out → per-project JSONL +
  * stats, then ordered merged corpus + combined stats.
  *
  * Differences from the reference are purely executional: each
  * project is one lazy plan evaluated with two actions (corpus write,
  * stats), the merge is a unionByName with an explicit project-rank
  * key instead of file concatenation, and every stage runs
  * distributed. Emission order (§2.10) is preserved end to end.
  *
  * Run: tools/run.sh graft.JiraMain <outDir> — defaults to the
  * checked-in fixture projects.
  */
object JiraMain {

  case class Result(
      outDir: String,
      perProjectCounts: Map[String, Long],
      mergedCount: Long,
      combined: org.apache.spark.sql.Row,
      fileSizeMb: Double,
      processingTimeSeconds: Double
  )

  def run(
      spark: SparkSession,
      projects: Seq[(String, String)],
      outDir: String
  ): Result = {
    // driver wall clock — the reference's start_time → combined
    // stats' processing_time_seconds (main.py:33,105)
    val t0 = System.nanoTime()
    val corpusKeys = Seq("project_rank", "created", "issue_key", "task_rank")
    val exampleShape =
      Seq("task_type", "instruction", "input", "output", "metadata")

    val perProject = projects.zipWithIndex.map { case ((proj, path), rank) =>
      val flat = JiraFlatten.flatten(JiraPipeline.readRaw(spark, path), proj)
      val examples = JiraGenerators
        .generate(flat)
        .withColumn("project_rank", lit(rank))
        .cache()
      Sinks.writeJsonlSingleFile(
        examples,
        s"$outDir/${proj}_examples.jsonl",
        corpusKeys,
        projectTo = exampleShape
      )
      (proj, flat.count(), examples)
    }

    val merged = perProject
      .map(_._3)
      .reduce(_.unionByName(_))
    val mergedPath = s"$outDir/merged_corpus.jsonl"
    Sinks.writeJsonlSingleFile(merged, mergedPath,
      corpusKeys, projectTo = exampleShape)
    val mergedCount = merged.count()
    // F7: the reference logs the merged corpus size in MB
    // (main.py:115-121, utils.py:185-198)
    val fileSizeMb = Sinks.fileSizeMb(mergedPath)

    val stats = JiraStats.perProject(merged)
    Sinks.writeStatsJson(stats, s"$outDir/per_project_stats.json")

    val issueCounts = {
      import spark.implicits._
      perProject.map { case (p, n, _) => (p, n) }.toDF("project",
        "raw_issues_count")
    }
    // measured before the combined-stats write, like the reference
    // (elapsed covers scrape+transform+merge — main.py:105)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    val combined = JiraStats.combined(stats, issueCounts, Some(elapsedSec))
    Sinks.writeStatsJson(combined, s"$outDir/combined_stats.json")

    Result(
      outDir,
      perProject.map { case (p, _, ex) => p -> ex.count() }.toMap,
      mergedCount,
      combined.collect()(0),
      fileSizeMb,
      elapsedSec
    )
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/jira_corpus")
    val spark = graft.Sessions.local()
    val r = run(spark, JiraPipeline.fixtureProjects, outDir)
    // pipeline summary (main.py:108-123): counts + corpus size MB +
    // total wall time
    println(
      s"""{"metric":"jira_corpus_build","merged_examples":${r.mergedCount},""" +
        s""""per_project":{${r.perProjectCounts
            .map { case (k, v) => s""""$k":$v""" }
            .mkString(",")}},"file_size_mb":${f"${r.fileSizeMb}%.4f"},""" +
        s""""processing_time_seconds":${f"${r.processingTimeSeconds}%.2f"},""" +
        s""""out":"${r.outDir}"}"""
    )
    spark.stop()
  }
}
