package graft.sources.jira

import graft.SparkSpec
import graft.jira.{JiraFlatten, JiraPipeline}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 `jira` source spec: batch scan (pagination partitions, column
  * pruning → REST fields param), retry path, and the MicroBatchStream
  * incremental mode — all against the file-backed stub transport
  * (test_scrapper.py:91-113 coverage, SURVEY §2.1/§2.9).
  */
class JiraSourceSpec extends AnyFunSuite with SparkSpec {

  val stubDir = s"${JiraPipeline.FixtureDir}/stub_TEST"

  private def jiraRead =
    spark.read
      .format("jira")
      .option("stubDir", stubDir)
      .option("project", "TEST")
      .option("pageSize", 3)
      .option("retrySleepScale", 0.001)

  test("probe pass degrades gracefully and keys by issues[] index") {
    val decoder = new graft.functions.JiraDecode.Decoder()
    // malformed body: the walk yields no issues, never throws, and
    // counts every issue it was asked for as lost
    assert(JiraResponse.issues("{not json", 3, decoder) == ((Nil, 3)))
    assert(JiraResponse.issue("{not json", decoder) == ((Nil, 1)))
    // one decoded issue per object element, in issues[] order, with its
    // key sets; a non-object element is skipped but holds its index
    val a = """{"key":"A","fields":{"summary":"x"}}"""
    val b = """{"key":"B","fields":{"status":{"name":"Open"}}}"""
    val body = s"""{"issues":[$a,42,
         $b]}"""
    val (p, lost) = JiraResponse.issues(body, 3, decoder)
    assert(lost == 0)
    def keys(r: InternalRow, i: Int) =
      r.getArray(i).toSeq[AnyRef](StringType).map(_.toString)
    assert(p.map(_.getUTF8String(0).toString) == Seq("A", "B"))
    assert(keys(p(0), 3) == Seq("summary") &&
      keys(p(0), 4) == Seq("key", "fields"))
    assert(keys(p(1), 3) == Seq("status"))
    // the clip counts elements: B is the third
    assert(JiraResponse.issues(body, 2, decoder)._1.map(_.getUTF8String(0).toString) ==
      Seq("A"))
  }

  test("batch read returns all issues across page partitions") {
    val df = jiraRead.load()
    assert(df.count() == 10L)
    assert(df.rdd.getNumPartitions == 4) // ceil(10/3) pages
    val keys = df.select(col("key")).collect().map(_.getString(0)).sorted
    assert(keys.head == "TEST-1" && keys.length == 10)
  }

  test("source read ≡ file read: flatten parity through the connector") {
    val viaSource = JiraFlatten.flatten(jiraRead.load(), "TEST")
    val viaFile = JiraFlatten.flatten(
      JiraPipeline.readRaw(
        spark,
        s"${JiraPipeline.FixtureDir}/raw_issues_TEST.jsonl"
      ),
      "TEST"
    )
    val a = viaSource.orderBy(col("issue_key")).collect()
    val b = viaFile.orderBy(col("issue_key")).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("stub pages ≡ raw JSONL: the qj04 oracle's fixture-identity premise") {
    // qj04's DuckDB oracle replays the flatten over raw_issues_TEST.jsonl
    // while the engine reads the paginated stub — that compare is only
    // meaningful if both fixtures carry the SAME issue objects. Enforced
    // here at the JSON-tree level (Jackson JsonNode equality: field-order
    // insensitive, value-exact).
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val fromPages = new java.io.File(stubDir)
      .listFiles()
      .filter(_.getName.startsWith("search_"))
      .flatMap { f =>
        val root = om.readTree(f)
        (0 until root.get("issues").size())
          .map(i => root.get("issues").get(i))
      }
      .map(n => n.get("key").asText() -> n)
      .toMap
    val fromJsonl = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(
        s"${JiraPipeline.FixtureDir}/raw_issues_TEST.jsonl"))
      .toArray(Array.empty[String])
      .map(om.readTree)
      .map(n => n.get("key").asText() -> n)
      .toMap
    assert(fromPages.keySet == fromJsonl.keySet)
    fromPages.foreach { case (k, n) => assert(n == fromJsonl(k), k) }
  }

  test("column pruning reaches the scan (pushed fields)") {
    val df = jiraRead.load().select(col("key"), col("fields.summary"))
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    // pruned read schema: only key + fields.summary survive
    val schema = scan.schema.catalogString
    assert(schema.contains("key") && schema.contains("summary"))
    assert(!schema.contains("comment"))
    assert(df.count() == 10L)
  }

  test("key equality pushes down to the single-issue endpoint") {
    val df = jiraRead.load().filter(col("key") === "TEST-3")
    // pushed filter → one lookup partition, not a paginated scan
    assert(df.rdd.getNumPartitions == 1)
    val rows = df.select(col("key"), col("fields.status.name")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("TEST-3"))
    assert(rows.head.getString(1) == "Resolved")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || !plan.contains("Filter("),
      "key filter should be pushed")
    // IN-list pushes too; unknown keys behave as 404 → no row
    val in = jiraRead.load()
      .filter(col("key").isin("TEST-1", "TEST-4", "NOPE-9"))
      .select(col("key")).collect().map(_.getString(0)).sorted
    assert(in.toSeq == Seq("TEST-1", "TEST-4"))
  }

  test("transient failures are retried with backoff") {
    val df = jiraRead.option("simulateFailures", 2).load()
    assert(df.count() == 10L) // 2 simulated 429s absorbed by retry
  }

  test("retry gives up after max attempts") {
    intercept[Exception] {
      JiraRetry.withRetry(maxRetries = 3, sleepScale = 0.001) {
        throw new JiraTransientError("always down")
      }
    }
  }

  test("backoff: exponential min(2^n, 60), Retry-After honored over it") {
    // utils.py:144-156 exponential curve
    assert(JiraRetry.backoffSeconds(1, None) == 2.0)
    assert(JiraRetry.backoffSeconds(3, None) == 8.0)
    assert(JiraRetry.backoffSeconds(6, None) == 60.0) // capped
    assert(JiraRetry.backoffSeconds(20, None) == 60.0)
    // scraper.py:123-127: server-supplied wait wins at any attempt
    assert(JiraRetry.backoffSeconds(1, Some(17.0)) == 17.0)
    assert(JiraRetry.backoffSeconds(6, Some(1.0)) == 1.0)
  }

  test("429 with Retry-After header is absorbed (test_scrapper.py 429 path)") {
    // two rate-limited responses carrying Retry-After: 1, then success
    val df = jiraRead
      .option("simulateFailures", 2)
      .load()
    assert(df.count() == 10L)
    // direct transport-level mirror: the error carries the header
    val flaky = new FlakyTransport(
      new FileStubTransport(stubDir), 1, retryAfterSec = Some(1.0))
    val t0 = System.nanoTime()
    val body = JiraRetry.withRetry(sleepScale = 0.01)(
      flaky.fetch(0, 3, Nil))
    val waitedMs = (System.nanoTime() - t0) / 1e6
    assert(body.contains("TEST-1"))
    // honored wait ≈ 1s × 0.01 scale (+ ≤10% jitter), NOT the 2s
    // exponential first step
    assert(waitedMs >= 10.0 && waitedMs < 25.0)
  }

  test("micro-batch stream delivers the full corpus via offset pages") {
    // maxPagesPerTrigger=1 forces one page per micro-batch (the rate
    // control of SURVEY §2.9); AvailableNow still drains everything
    val stream = spark.readStream
      .format("jira")
      .option("stubDir", stubDir)
      .option("project", "TEST")
      .option("pageSize", 3)
      .option("maxPagesPerTrigger", 1)
      .option("retrySleepScale", 0.001)
      .load()
    val q = stream
      .select(col("key"), col("fields.status.name").as("status"))
      .writeStream
      .format("memory")
      .queryName("jira_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val got = spark.table("jira_stream").collect()
    assert(got.length == 10)
    assert(got.map(_.getString(0)).distinct.length == 10)
  }
}
