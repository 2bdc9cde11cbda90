package graft.io

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hive-partitioned lake layout must (1) prune partitions at scan
  * time — a lang predicate becomes a PartitionFilter and non-matching
  * directories are never read — and (2) support dynamic partition
  * overwrite: rewriting one partition leaves the others' files
  * untouched.
  */
class PartitionedLayoutSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("partitioned write prunes on read; dynamic overwrite is surgical") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_part_")
      .toString + "/docs"
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("lang"))
    Sinks.writePartitionedParquet(docs, out, Seq("lang"))

    val back = spark.read.parquet(out)
    val totalCount = back.count()
    assert(totalCount == docs.count())

    // 1) pruning: the lang predicate must be a partition filter, not a
    // data filter — and the scan's selected partitions shrink
    val filtered = back.filter(col("lang") === "en")
    val scan = filtered.queryExecution.executedPlan.collectLeaves().head
    val scanStr = scan.toString
    assert(scanStr.contains("PartitionFilters"))
    assert(
      scanStr.contains("(lang") || scanStr.contains("lang#"),
      s"lang predicate missing from partition filters: $scanStr"
    )
    assert(!scanStr.contains("PushedFilters: [IsNotNull(lang)"),
      "lang must prune directories, not filter rows")
    val enCount = filtered.count()
    assert(enCount > 0 && enCount < back.count())

    // 2) dynamic overwrite: rewrite ONLY lang=en; other partitions'
    // files must be byte-identical (same names, same mtimes)
    def files(p: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(p)
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(f => f.toString.endsWith(".parquet"))
          .map(f =>
            root.relativize(f).toString ->
              java.nio.file.Files.getLastModifiedTime(f).toMillis)
          .toMap
      } finally s.close()
    }
    val before = files(out)
    val replacement = docs
      .filter(col("lang") === "en")
      .withColumn("n_chars", lit(-1L))
    Sinks.writePartitionedParquet(
      replacement,
      out,
      Seq("lang"),
      dynamicOverwrite = true
    )
    val after = files(out)
    val beforeOther = before.filter(!_._1.startsWith("lang=en"))
    val afterOther = after.filter(!_._1.startsWith("lang=en"))
    assert(afterOther == beforeOther, "non-en partitions were rewritten")
    // `back`/`filtered` hold pre-overwrite file indices and MUST NOT
    // be reused now — their listings reference replaced files; a
    // fresh read (new InMemoryFileIndex) sees the new layout
    val back2 = spark.read.parquet(out)
    assert(back2.filter(col("lang") === "en").count() == enCount)
    assert(
      back2
        .filter(col("lang") === "en")
        .agg(max(col("n_chars")))
        .head()
        .getLong(0) == -1L
    )
    assert(back2.count() == totalCount)
  }

  test("dynamic partition pruning fires on a dim-filtered join") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_dpp_")
      .toString + "/docs"
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("lang"))
    Sinks.writePartitionedParquet(docs, out, Seq("lang"))

    import spark.implicits._
    // dim carries the partition key; the filter is on a NON-key dim
    // column, so static pruning can't see it — only DPP (a runtime
    // subquery on the broadcast side) can skip fact partitions. Two
    // traps pinned here: the dim must be a real (file-backed)
    // relation — a local Seq constant-folds the filter away — and the
    // predicate must be an explicit comparison: a bare boolean
    // attribute fails PartitionPruning's isLikelySelective check and
    // silently disables DPP.
    val dimPath = java.nio.file.Files
      .createTempDirectory("graft_dpp_dim_")
      .toString + "/dim"
    Seq(("en", "keep"), ("de", "drop"), ("fr", "drop"),
      ("es", "drop"), ("zh", "drop"))
      .toDF("lang", "tag")
      .write
      .parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val fact = spark.read.parquet(out)
    val joined = fact
      .join(dim.filter(col("tag") === "keep"), Seq("lang"))
      .agg(count(lit(1)))
    val n = joined.collect()(0).getLong(0)
    assert(n == docs.filter(col("lang") === "en").count())
    val scanStr = joined.queryExecution.executedPlan
      .collectLeaves()
      .map(_.toString)
      .find(_.contains("docs"))
      .getOrElse("")
    assert(scanStr.contains("dynamicpruning"),
      s"expected a dynamic-pruning partition filter in: $scanStr")
  }
}
