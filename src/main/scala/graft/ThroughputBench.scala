package graft

import graft.jira.{JiraFlatten, JiraGenerators, JiraPipeline}
import org.apache.spark.sql.functions._

/** Pipeline throughput benchmark against the reference's own ceiling.
  *
  * The reference processes ≈10 issues/s single-node — its per-issue
  * politeness sleep alone caps the scrape (BASELINE.md), and the
  * transform is a serial row-at-a-time Python loop. This main
  * replicates the fixture issues to a large corpus (unique keys),
  * runs the full flatten → fan-out pipeline, and reports issues/s and
  * examples/s. Run: tools/run.sh graft.ThroughputBench [nIssues]
  */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val nIssues = args.headOption.map(_.toInt).getOrElse(200000)
    val cpus = Sessions.cpus
    val spark = Sessions.local()

    val base = JiraPipeline
      .readRaw(spark, s"${JiraPipeline.FixtureDir}/raw_issues_TEST.jsonl")
    val reps = math.max(1, nIssues / 8)
    val corpus = base
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("key", concat(col("key"), lit("-"), col("rep")))
      .withColumn("id", concat(col("id"), lit("-"), col("rep")))
      .drop("rep")
      .repartition(cpus)
      .cache()
    val total = corpus.count() // materialize input outside the timing

    // Bench.force, not count(): count() lets Catalyst prune every
    // flattened column, so cleanText and the generators never run
    def run(): (Long, Double) = {
      val t0 = System.nanoTime()
      val examples = Bench.force(
        JiraGenerators.generate(JiraFlatten.flatten(corpus, "TEST")))
      (examples, (System.nanoTime() - t0) / 1e9)
    }
    run() // warmup
    val (examples, sec) = run()
    val issuesPerSec = total / sec
    println(
      s"""{"metric":"jira_pipeline_issues_per_sec","value":${issuesPerSec.round},""" +
        s""""issues":$total,"examples":$examples,"sec":$sec,""" +
        s""""reference_ceiling_issues_per_sec":10}"""
    )
    spark.stop()
  }
}
