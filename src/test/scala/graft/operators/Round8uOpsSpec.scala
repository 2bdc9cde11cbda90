package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the anatomy/robust-outlier/novelty batch
  * (q274, q275, q276).
  */
class Round8uOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def tok(t: String): Array[String] = {
    val s = t.trim
    if (s.isEmpty) Array.empty else s.split("\\s+")
  }

  test("q274 anatomy recounts exactly against the raw token arrays") {
    val rows = Dedup.nearDupAnatomy(spark, dir).collect()
    val texts = Tables
      .documents(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> tok(r.getAs[String]("text")))
      .toMap
    rows.foreach { r =>
      val a = texts(r.getAs[Long]("doc_a"))
      val b = texts(r.getAs[Long]("doc_b"))
      val lcp = a.zip(b).takeWhile { case (x, y) => x == y }.length.toLong
      val lcsRaw = a.reverse.zip(b.reverse)
        .takeWhile { case (x, y) => x == y }.length.toLong
      val lcs = math.min(lcsRaw, math.min(a.length, b.length) - lcp)
      assert(r.getAs[Long]("lcp") == lcp)
      assert(r.getAs[Long]("lcs") == lcs)
      assert(r.getAs[Long]("edit_a") == a.length - lcp - lcs)
      assert(r.getAs[Long]("edit_b") == b.length - lcp - lcs)
      assert(r.getAs[Long]("edit_a") >= 0L && r.getAs[Long]("edit_b") >= 0L)
      val shape = r.getAs[String]("shape")
      if (r.getAs[Long]("edit_a") == 0L && r.getAs[Long]("edit_b") == 0L)
        assert(shape == "identical")
    }
  }

  test("q275 medians/MAD recount and flags fire only above 3.5") {
    val rows = Sampling.robustQualityOutliers(spark, dir).collect()
    assert(rows.length.toLong == Tables.documents(spark, dir).count())
    val bySource = rows.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rs) =>
      // one med/mad value per source
      assert(rs.map(_.getAs[Long]("med_micro")).distinct.length == 1)
      assert(rs.map(_.getAs[Long]("mad_micro")).distinct.length == 1)
      // driver recount of the exact rank-ceil(n/2) median of q_micro
      val qs = rs.map(r => (r.getAs[Long]("q_micro"), r.getAs[Long]("doc_id")))
        .sortBy(identity)
      val med = qs((math.ceil(qs.length / 2.0) - 1).toInt)._1
      assert(rs.head.getAs[Long]("med_micro") == med, s"$src median")
      rs.foreach { r =>
        if (!r.isNullAt(r.fieldIndex("z_micro"))) {
          val z = r.getAs[Long]("z_micro")
          assert(r.getAs[Boolean]("outlier") == (math.abs(z) > 3500000L)
            || math.abs(math.abs(z) - 3500000L) < 2L)
        } else assert(!r.getAs[Boolean]("outlier"))
      }
    }
  }

  test("q276 novelty recounts and sums to the distinct shingle total") {
    val rows = Dedup.docNovelty(spark, dir).collect()
    val docs = Tables
      .documents(spark, dir)
      .collect()
      .map { r =>
        val t = tok(r.getAs[String]("text"))
        r.getAs[Long]("doc_id") ->
          (if (t.length < 3) Set.empty[String]
           else t.sliding(3).map(_.mkString(" ")).toSet)
      }
      .filter(_._2.nonEmpty)
      .sortBy(_._1)
    val firstOwner = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (id, sh) =>
      sh.foreach(s => if (!firstOwner.contains(s)) firstOwner(s) = id)
    }
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    docs.foreach { case (id, sh) =>
      val r = byId(id)
      assert(r.getAs[Long]("n_shingles") == sh.size.toLong, s"doc $id")
      val novel = sh.count(s => firstOwner(s) == id).toLong
      assert(r.getAs[Long]("n_novel") == novel, s"doc $id novel")
    }
    // total novel shingles equals the distinct shingle inventory
    assert(rows.map(_.getAs[Long]("n_novel")).sum == firstOwner.size.toLong)
  }
}
