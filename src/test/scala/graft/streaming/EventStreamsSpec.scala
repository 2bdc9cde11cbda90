package graft.streaming

import graft.SparkSpec
import graft.operators.Events
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ≡ batch equivalence over the static events table driven
  * through the file streaming source (SURVEY §2.9).
  */
class EventStreamsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def runToMemory(
      df: org.apache.spark.sql.DataFrame,
      name: String,
      mode: String
  ): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
  }

  test("streaming windowed counts == batch tumbling counts") {
    runToMemory(
      EventStreams.windowedCounts(EventStreams.readEvents(spark, dir)),
      "win_counts",
      "complete"
    )
    val streaming = spark
      .table("win_counts")
      .orderBy("window_start", "event_type")
      .collect()
    val batch = Events
      .tumblingCounts(spark, dir)
      .orderBy("window_start", "event_type")
      .collect()
    assert(streaming.toSeq == batch.toSeq)
  }

  test("a drain memo keys on what the stream reads") {
    def drain(sf: String) = EventStreams.runAvailableNow(
      EventStreams.windowedCounts(
        EventStreams.readEvents(spark, s"/root/testdata/$sf")),
      "memo_key_counts",
      "complete")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    graft.util.Caches.releaseAll()
    val small = drain("sf0.001")
    assert(drain("sf0.001") eq small, "the same stream must hit the memo")
    // another directory, no releaseAll in between
    val big = rows(drain("sf0.01"))
    graft.util.Caches.releaseAll()
    val fresh = rows(drain("sf0.01"))
    graft.util.Caches.releaseAll()
    assert(big == fresh)
    assert(big != rows(small))
  }

  test("stateful sessionization emits closed sessions matching batch") {
    runToMemory(
      EventStreams.sessionize(EventStreams.readEvents(spark, dir)).toDF(),
      "sessions",
      "append"
    )
    val emitted = spark
      .table("sessions")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    // batch sessions, minus each user's final session (which stays in
    // state — a single AvailableNow batch never advances the watermark
    // past it)
    val batchAll = Events
      .sessionize(spark, dir)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    val lastPerUser = batchAll
      .groupBy(_._1)
      .view
      .mapValues(_.maxBy(_._2.getTime))
      .values
      .toSet
    val nonFinal = batchAll.toSet -- lastPerUser
    // every emitted session is a real batch session (same boundaries),
    // every non-final session was emitted; final sessions may or may
    // not flush depending on how far the watermark advanced
    assert(emitted.subsetOf(batchAll.toSet))
    assert(nonFinal.subsetOf(emitted))
    assert(emitted.nonEmpty)
  }

  test("stream-stream interval join matches the batch range join") {
    runToMemory(
      EventStreams.purchaseErrorJoin(EventStreams.readEvents(spark, dir)),
      "pe_join",
      "append"
    )
    val streamPairs = spark
      .table("pe_join")
      .select("purchase_id", "e_ts")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
      .toSet
    // batch twin: count per purchase must equal the stream's pair count
    val batchCounts = graft.operators.RangeJoin
      .purchasesWithRecentErrors(spark, dir)
      .filter(col("n_recent_errors") > 0)
      .collect()
      .map(r => r.getAs[Long]("purchase_id") -> r.getAs[Long]("n_recent_errors"))
      .toMap
    val streamCounts =
      streamPairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(streamCounts == batchCounts)
    assert(streamPairs.nonEmpty)
  }

  test("stateful dedup is correct across micro-batch boundaries") {
    // split the events into two files and force one file per trigger:
    // state must carry the per-key winner across batches
    val tmp = java.nio.file.Files.createTempDirectory("multi_batch_").toString
    val ev = graft.Tables.events(spark, dir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$tmp/part_a")
    ev.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$tmp/part_b")
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", true)
      .parquet(tmp)
    val q = EventStreams
      .latestByKey(stream, "user_id", "ts")
      .writeStream
      .format("memory")
      .queryName("latest_mb")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000))
    assert(q.recentProgress.length >= 2, "expected multiple micro-batches")
    val got = spark
      .table("latest_mb")
      .groupBy("k")
      .agg(max("latest_ts").as("latest_ts"))
      .collect()
      .map(r => r.getString(0) -> r.getTimestamp(1))
      .toMap
    val batch = ev
      .groupBy(col("user_id").cast("string").as("k"))
      .agg(max("ts").as("m"))
      .collect()
      .map(r => r.getString(0) -> r.getTimestamp(1))
      .toMap
    assert(got == batch)
  }

  test("keyed latest-record dedup keeps max updated per key") {
    runToMemory(
      EventStreams.latestByKey(
        EventStreams.readEvents(spark, dir),
        "user_id",
        "ts"
      ),
      "latest",
      "update"
    )
    val got = spark
      .table("latest")
      .groupBy("k")
      .agg(max("latest_ts").as("latest_ts"))
      .collect()
      .map(r => r.getString(0) -> r.getTimestamp(1))
      .toMap
    val expected = Events
      .sessionize(spark, dir) // reuse batch read
      .sparkSession
      .emptyDataFrame
    val batch = graft.Tables
      .events(spark, dir)
      .groupBy(col("user_id").cast("string").as("k"))
      .agg(max("ts").as("m"))
      .collect()
      .map(r => r.getString(0) -> r.getTimestamp(1))
      .toMap
    assert(got == batch)
  }
}
