package graft.jira

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Corrupt-record quarantine on the raw JSON ingest path: malformed
  * lines must become quarantine rows, never job failures, and must
  * not contaminate the parsed frame.
  */
class QuarantineSpec extends AnyFunSuite with SparkSpec {

  test("malformed JSON lines land in quarantine; valid lines parse") {
    // the session is shared by every suite: earlier suites' RDDs
    // (e.g. operator localCheckpoints) may still be persisted
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-quarantine")
      .toFile
    val f = new java.io.File(dir, "raw.jsonl")
    val good1 =
      """{"key":"T-1","id":"1","fields":{"summary":"ok one","status":{"name":"Open"},"priority":{"name":"Major"},"issuetype":{"name":"Bug"}}}"""
    val bad = """{"key":"T-2","id":"2","fields":{BROKEN"""
    val good2 =
      """{"key":"T-3","id":"3","fields":{"summary":"ok two","status":{"name":"Open"},"priority":{"name":"Major"},"issuetype":{"name":"Bug"}}}"""
    java.nio.file.Files.write(
      f.toPath,
      s"$good1\n$bad\n$good2\n".getBytes("UTF-8")
    )
    val parsed = JiraPipeline.readRaw(spark, f.getAbsolutePath)
    val quarantined = JiraPipeline.quarantined(spark, f.getAbsolutePath)
    assert(parsed.count() == 2)
    assert(
      parsed.select("key").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("T-1", "T-3")
    )
    val q = quarantined.collect().map(_.getString(0))
    assert(q.length == 1 && q(0).contains("BROKEN"))
    // the quarantined line is preserved verbatim for replay/debugging
    assert(q(0) == bad)
    // downstream flatten consumes the clean frame untouched
    val flat = JiraFlatten.flatten(parsed, "TEST")
    assert(flat.count() == 2)
    // both reads are plain scans: nothing is cached, nothing to release
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(pinnedBefore))
  }
}
