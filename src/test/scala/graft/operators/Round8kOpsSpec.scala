package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the consensus/interleave/cross-lang batch
  * (q244, q245, q246).
  */
class Round8kOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q244 consensus matches a naive 5-NN recount and flags < 2") {
    val vecs = Tables
      .embeddings(spark, dir)
      .collect()
      .map(r =>
        (
          r.getAs[Long]("vec_id"),
          r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray,
          r.getAs[Int]("label")
        )
      )
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = Similarity.labelConsensus(spark, dir).collect()
    assert(rows.length == vecs.length)
    val byId = rows.map(r => r.getAs[Long]("vec_id") -> r).toMap
    // round 9: candidates come from the vector's own IVF list
    // (nprobe = 1) — the exact recount restricts to the same list
    val asg = Similarity
      .ivfAssign(spark, dir, 8)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("cid"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // recount exactly for a sample of 25 vectors
    vecs.take(25).foreach { case (id, v, l) =>
      val top5 = vecs
        .filter(o => o._1 != id && asg(o._1) == asg(id))
        .map { case (rid, rv, rl) => (cos(v, rv), -rid, rl) }
        .sorted(Ordering[(Double, Long, Int)].reverse)
        .take(5)
      val agree = top5.count(_._3 == l)
      val r = byId(id)
      assert(r.getAs[Long]("n_agree") == agree.toLong, s"vec $id")
      assert(r.getAs[Boolean]("suspect") == (agree < 2))
    }
  }

  test("q245 positions are a permutation and round-robin by rank") {
    val rows = Sampling.sourceInterleaveOrder(spark, dir).collect()
    val n = rows.length
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to n))
    // all docs at src_rank r precede all docs at src_rank r+1
    val byPos = rows.sortBy(_.getAs[Long]("pos"))
    val ranksInOrder = byPos.map(_.getAs[Long]("src_rank"))
    ranksInOrder.zip(ranksInOrder.tail).foreach { case (a, b) =>
      assert(a <= b, "interleave must be nondecreasing in src_rank")
    }
    // within one rank tier every source appears at most once
    byPos
      .groupBy(_.getAs[Long]("src_rank"))
      .foreach { case (r, g) =>
        val srcs = g.map(_.getAs[String]("source"))
        assert(srcs.distinct.length == srcs.length, s"tier $r repeats source")
      }
  }

  test("q246 pairs are cross-language and share a real fingerprint") {
    val rows = Dedup.crossLanguageDups(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("lang_a") != r.getAs[String]("lang_b"))
      assert(r.getAs[Long]("n_shared") >= 1L)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
    // consistency with q140: any q140 pair (n_shared >= 2) whose langs
    // differ must appear here with the same n_shared
    val langs = Tables
      .documents(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang"))
      .toMap
    val q140 = Dedup.winnowFingerprints(spark, dir).collect()
    val here = rows
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("n_shared"))
      .toMap
    q140.foreach { r =>
      val a = r.getAs[Long]("doc_a"); val b = r.getAs[Long]("doc_b")
      if (langs(a) != langs(b)) {
        assert(here.get((a, b)).contains(r.getAs[Long]("n_shared")),
          s"pair $a/$b missing or count mismatch")
      }
    }
  }
}
