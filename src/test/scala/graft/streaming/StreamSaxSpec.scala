package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q471: the streamed window counts + offline symbolization must
  * equal a batch recomputation — drain equivalence for the SAX
  * split.
  */
class StreamSaxSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q471: symbol census matches the batch ground truth; symbol " +
    "masses partition the stream") {
    val rows = StreamSax.streamSaxSymbols(spark, dir).collect()
    assert(rows.nonEmpty)
    val events = Tables
      .events(spark, dir)
      .select((unix_micros(col("ts")) / lit(28800000000L))
        .cast("long").as("w"))
      .groupBy(col("w"))
      .count()
      .collect()
      .map(r => r.getAs[Long]("count"))
    assert(rows.map(_.getAs[Long]("n_windows")).sum ==
      events.length.toLong)
    assert(rows.map(_.getAs[Long]("n_events")).sum == events.sum)
    // quartile symbolization ground truth
    val sorted = events.sorted
    val n = sorted.length
    def pick(p: Int): Long = sorted((n * p + 3) / 4 - 1)
    val (q1, q2, q3) = (pick(1), pick(2), pick(3))
    val want = events
      .map(s =>
        if (s <= q1) 0L else if (s <= q2) 1L
        else if (s <= q3) 2L else 3L)
      .groupBy(identity)
      .map { case (k, vs) => k -> vs.length.toLong }
    val got = rows
      .map(r => r.getAs[Long]("sym") -> r.getAs[Long]("n_windows"))
      .toMap
    assert(got == want, s"got $got want $want")
  }
}
