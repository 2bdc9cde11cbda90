package graft.sources.jira

import graft.SparkSpec
import graft.jira.JiraPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-resume test (SURVEY §2.1 S7 / §2.2 K6): the reference
  * resumes a scrape from its checkpoint counter; the connector resumes
  * from Spark's offset log. A restarted query must read ONLY issues
  * that arrived after the committed offset — never re-reading pages.
  */
class JiraStreamRecoverySpec extends AnyFunSuite with SparkSpec {

  private def rawIssueLines: Seq[String] =
    Files
      .readAllLines(
        Paths.get(s"${JiraPipeline.FixtureDir}/raw_issues_TEST.jsonl")
      )
      .toArray(Array.empty[String])
      .toSeq

  private def writePage(
      dir: String,
      startAt: Int,
      total: Int,
      issues: Seq[String]
  ): Unit =
    Files.write(
      Paths.get(dir, s"search_$startAt.json"),
      s"""{"startAt":$startAt,"maxResults":3,"total":$total,"issues":[${issues
          .mkString(",")}]}""".getBytes("UTF-8")
    )

  /** Drain to a file sink (memory sinks don't support checkpoint
    * recovery) and return the total rows written so far.
    */
  private def drain(stubDir: String, ckpt: String, out: String): Long = {
    val q = spark.readStream
      .format("jira")
      .option("stubDir", stubDir)
      .option("pageSize", 3)
      .option("retrySleepScale", 0.001)
      .load()
      .select(col("key"))
      .writeStream
      .format("json")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    spark.read.json(out).count()
  }

  test("restart resumes from the committed offset, reading only new pages") {
    val work = Files.createTempDirectory("jira_recovery").toString
    val stub = s"$work/stub"
    val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(stub))
    val issues = rawIssueLines
    // epoch 1: 6 issues over 2 pages
    writePage(stub, 0, 6, issues.slice(0, 3))
    writePage(stub, 3, 6, issues.slice(3, 6))
    val out = s"$work/out"
    assert(drain(stub, ckpt, out) == 6L)

    // epoch 2: 2 more issues arrive; totals update, old pages intact
    writePage(stub, 0, 8, issues.slice(0, 3))
    writePage(stub, 3, 8, issues.slice(3, 6))
    writePage(stub, 6, 8, issues.slice(6, 8))
    assert(drain(stub, ckpt, out) == 8L) // cumulative: 6 + ONLY the new page

    // epoch 3: nothing new → empty batch
    assert(drain(stub, ckpt, out) == 8L) // unchanged
  }

  test("a page that grew past the probed total delivers each issue once") {
    val work = Files.createTempDirectory("jira_clip").toString
    val stub = s"$work/stub"
    val ckpt = s"$work/ckpt"
    val out = s"$work/out"
    Files.createDirectories(Paths.get(stub))
    val issues = rawIssueLines
    // epoch 1: page 0 reports total 7, but the last page already
    // holds issues 6 AND 7 — the project grew between probe and read
    writePage(stub, 0, 7, issues.slice(0, 3))
    writePage(stub, 3, 7, issues.slice(3, 6))
    writePage(stub, 6, 7, issues.slice(6, 8))
    assert(drain(stub, ckpt, out) == 7L, "epoch 1 stops at offset 7")
    val batch = spark.read.format("jira").option("stubDir", stub)
      .option("pageSize", 3).option("retrySleepScale", 0.001).load()
    assert(batch.count() == 7L, "the batch scan clips at its probed total")
    // epoch 2: total 8; the next batch starts at offset 7
    writePage(stub, 0, 8, issues.slice(0, 3))
    writePage(stub, 7, 8, issues.slice(7, 8))
    assert(drain(stub, ckpt, out) == 8L)
    val keys = spark.read.json(out).select(col("key")).collect()
    assert(keys.length == 8 && keys.distinct.length == 8,
      "no issue delivered twice")
  }
}
