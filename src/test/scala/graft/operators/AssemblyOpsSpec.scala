package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural properties of the round-3 assembly operators (the
  * DuckDB gate pins exact values; these pin the contracts).
  */
class AssemblyOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q73: contaminated docs are never eval docs and share >=1 shingle") {
    val rows = Dedup.decontaminate(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(0) % 50 != 0)
      assert(r.getLong(1) >= 1)
      assert(r.getLong(2) >= 1)
    }
  }

  test("q74: exactly <=3 terms per doc, ranks contiguous from 1, df consistent") {
    val df = TextAnalysis.tfidfTopTerms(spark, dir)
    val perDoc = df
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n"),
        min("rank").as("lo"),
        max("rank").as("hi")
      )
      .collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { r =>
      val n = r.getLong(1)
      assert(n <= 3 && r.getInt(2) == 1 && r.getInt(3) == n)
    }
    // a term's df never exceeds the doc count and is >= 1
    val nDocs = graft.Tables.documents(spark, dir).count()
    df.select("df").collect().foreach { r =>
      assert(r.getLong(0) >= 1 && r.getLong(0) <= nDocs)
    }
  }

  test("q75: shards partition the corpus; positions are 1..|shard|") {
    val df = Sampling.shardAssignment(spark, dir)
    val n = graft.Tables.documents(spark, dir).count()
    assert(df.count() == n)
    assert(df.select("doc_id").distinct().count() == n)
    val byShard = df
      .groupBy("shard")
      .agg(
        count(lit(1)).as("sz"),
        min("position").as("lo"),
        max("position").as("hi")
      )
      .collect()
    assert(byShard.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8))
    byShard.foreach { r =>
      assert(r.getInt(2) == 1 && r.getInt(3).toLong == r.getLong(1))
    }
    // determinism: same assignment on recompute
    val a = df.collect().map(_.toSeq).toSet
    val b = Sampling.shardAssignment(spark, dir).collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
