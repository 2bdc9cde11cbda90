package graft.operators

import graft.{SparkSpec, Tables}
import graft.io.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SinksAndMultimodalSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("ordered parallel JSONL write: files are range-ordered and sorted") {
    val out = Files.createTempDirectory("graft_sink").toString + "/orders"
    Sinks.writeJsonlOrdered(
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice")),
      out,
      Seq("o_orderkey"),
      numFiles = Some(4)
    )
    import spark.implicits._
    // each part file must be internally sorted; file key ranges must
    // not overlap (global order across the file sequence)
    val parts = new java.io.File(out)
      .listFiles()
      .filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    assert(parts.length > 1)
    val ranges = parts.map { f =>
      val keys = spark.read
        .json(f.getPath)
        .select(col("o_orderkey"))
        .as[Long]
        .collect()
      assert(keys.sameElements(keys.sorted), s"${f.getName} not sorted")
      (keys.head, keys.last)
    }
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, "file ranges overlap")
      case _ =>
    }
    // and nothing lost
    val total = spark.read.json(out).count()
    assert(total == Tables.orders(spark, dir).count())
  }

  test("single-file ordered write preserves exact total order") {
    val out = Files.createTempDirectory("graft_sink1").toString + "/top"
    Sinks.writeJsonlSingleFile(
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice")),
      out,
      Seq("o_totalprice", "o_orderkey")
    )
    import spark.implicits._
    val lines = spark.read.json(out).select("o_totalprice").as[Double].collect()
    assert(lines.sameElements(lines.sorted))
  }

  test("unionMerge preserves branch order via rank") {
    val a = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
    val b = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
    val merged = Sinks.unionMerge(Seq(a, b))
    val byRank = merged
      .groupBy("branch_rank")
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    assert(byRank.keySet == Set(0, 1))
    assert(byRank(0) == a.count() && byRank(1) == b.count())
  }

  test("multimodal decode: deterministic stub over binary payloads") {
    val decoded = Multimodal.decodedDocuments(spark, dir)
    val rows = decoded.collect()
    assert(rows.length == 500)
    val r = decoded
      .filter(col("doc_id") === 7)
      .collect()(0)
    // n_bytes equals the text byte length
    val expectedBytes = Tables
      .documents(spark, dir)
      .filter(col("doc_id") === 7)
      .select(length(col("text")).cast("long"))
      .collect()(0)
      .getLong(0)
    assert(r.getAs[Long]("n_bytes") == expectedBytes)
    assert(r.getAs[Int]("width") >= 320 && r.getAs[Int]("width") < 1920)
    assert(r.getAs[Int]("height") >= 240 && r.getAs[Int]("height") < 1080)
    assert(r.getAs[collection.Seq[Float]]("feature").length == 8)
    // determinism: run twice, identical
    val again = Multimodal
      .decodedDocuments(spark, dir)
      .filter(col("doc_id") === 7)
      .collect()(0)
    assert(again == r)
  }

  test("frame sampling: stride covers [0, n_frames) at 24fps timestamps") {
    val frames = Multimodal.frameSample(spark, dir)
    val forDoc = frames
      .filter(col("doc_id") === 7)
      .orderBy(col("frame_idx"))
      .collect()
    assert(forDoc.nonEmpty)
    val n = forDoc.head.getAs[Int]("n_frames")
    val idxs = forDoc.map(_.getAs[Int]("frame_idx")).toSeq
    val stride = math.max(1, n / 8)
    assert(idxs == (0 until n by stride))
    // every frame index maps to floor(idx * 1000 / 24) ms
    forDoc.foreach { r =>
      assert(r.getAs[Long]("ts_ms") ==
        r.getAs[Int]("frame_idx").toLong * 1000 / 24)
    }
    // a doc always yields at least one frame; worst case is
    // n_frames=15 (stride still 1) → 15 samples
    val counts = frames.groupBy("doc_id").count().collect()
    assert(counts.forall(c => c.getLong(1) >= 1 && c.getLong(1) <= 15))
  }

  test("batched decode is output-identical to the row-wise form") {
    val media = Multimodal.mediaFromDocuments(spark, dir)
    def keyed(ds: org.apache.spark.sql.Dataset[Multimodal.DecodedMedia]) =
      ds.collect()
        .map(d => d.doc_id ->
          (d.n_bytes, d.width, d.height, d.channels, d.feature.toSeq))
        .toMap
    val rowWise = keyed(Multimodal.decodeAll(media))
    // batch size 7 forces ragged final batches in every partition
    val batched = keyed(Multimodal.decodeAllBatched(media, batchSize = 7))
    assert(batched == rowWise)
    assert(rowWise.nonEmpty)
  }
}
