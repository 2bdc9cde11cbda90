package graft.jira

import graft.io.Sinks
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** EP1 — the full corpus build (main.py:17-137) as one Spark job:
  * per-project raw read → flatten → fan-out → per-project JSONL +
  * stats, then ordered merged corpus + combined stats.
  *
  * Differences from the reference are purely executional. Each
  * project's examples are cached, and the project's JSONL write is the
  * one action that reads and parses its raw file. The merge is a
  * unionByName of those caches with an explicit project-rank key
  * instead of file concatenation, and the per-project stats are
  * aggregated once, cached, and read by both stats files. Every count
  * in [[Result]] and `raw_issues_count` is an `Observation` on a write
  * (no counting action), and `run` unpersists what it cached before
  * it returns. Emission order (§2.10) is preserved end to end.
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
    // the row count of `df` as the action that consumes it reports it
    def counted(df: DataFrame): (DataFrame, Observation) = {
      val o = Observation()
      (df.observe(o, count(lit(1)).as("n")), o)
    }
    def n(o: Observation): Long = o.get("n").asInstanceOf[Long]
    val cached = mutable.Buffer.empty[DataFrame]
    try {
      val perProject = projects.zipWithIndex.map { case ((proj, path), rank) =>
        // flattened issues after the P5 drops, observed inside the
        // cached plan: the write that fills the cache reports it
        val (flat, issues) =
          counted(JiraFlatten.flatten(JiraPipeline.readRaw(spark, path), proj))
        val examples = JiraGenerators.generate(flat)
          .withColumn("project_rank", lit(rank)).cache()
        cached += examples
        val (out, written) = counted(examples)
        Sinks.writeJsonlSingleFile(out, s"$outDir/${proj}_examples.jsonl",
          corpusKeys, projectTo = exampleShape)
        (proj, issues, written, examples)
      }

      val merged = perProject.map(_._4).reduce(_.unionByName(_))
      val mergedPath = s"$outDir/merged_corpus.jsonl"
      val (mergedOut, mergedCount) = counted(merged)
      Sinks.writeJsonlSingleFile(mergedOut, mergedPath,
        corpusKeys, projectTo = exampleShape)
      // F7: the reference logs the merged corpus size in MB
      // (main.py:115-121, utils.py:185-198)
      val fileSizeMb = Sinks.fileSizeMb(mergedPath)

      // one row per project, read by both stats files
      val stats = JiraStats.perProject(merged).cache()
      cached += stats
      Sinks.writeJsonlSingleFile(stats, s"$outDir/per_project_stats.json",
        Seq("project"))

      // Observation.get blocks until an action reports, so the counts
      // are read only once the writes that observe them succeeded
      val issueCounts = {
        import spark.implicits._
        perProject.map { case (p, i, _, _) => (p, n(i)) }
          .toDF("project", "raw_issues_count")
      }
      // measured before the combined-stats write, like the reference
      // (elapsed covers scrape+transform+merge — main.py:105)
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      val combined = JiraStats.combined(stats, issueCounts, Some(elapsedSec))
      Sinks.writeStatsJson(combined, s"$outDir/combined_stats.json")

      Result(
        outDir,
        perProject.map { case (p, _, w, _) => p -> n(w) }.toMap,
        n(mergedCount),
        combined.collect()(0),
        fileSizeMb,
        elapsedSec
      )
    } finally {
      // the stats cache first: uncaching an example cache re-plans the
      // caches built over it that are not loaded yet
      cached.reverseIterator.foreach(_.unpersist())
    }
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
