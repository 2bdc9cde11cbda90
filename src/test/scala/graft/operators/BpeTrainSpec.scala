package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge-loop trainer (q125/q126): round structure, the greedy
  * left-to-right non-overlapping merge semantics, and the lossless
  * segmentation invariant (pieces re-concatenate to the word).
  */
class BpeTrainSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("train produces ranked merges with positive pair counts") {
    val m = BpeTrain.train(spark, dir, rounds = 6).collect()
    assert(m.map(_.getInt(0)).toSeq == (1 to 6))
    assert(m.forall(_.getLong(3) > 0))
    // learned symbols grow: later merges may fuse earlier outputs
    assert(m.forall(r => r.getString(1).nonEmpty && r.getString(2).nonEmpty))
  }

  test("segmentation re-concatenates to the original word") {
    val seg = BpeTrain.segmentation(spark, dir, rounds = 6)
    val bad = seg
      .withColumn("glued", concat_ws("", col("pieces")))
      .filter(col("glued") =!= col("w"))
      .count()
    assert(bad == 0L)
    // at least one merge actually applied somewhere: total pieces <
    // total characters
    val agg = seg
      .agg(sum(col("n_pieces")).as("p"), sum(length(col("w"))).as("c"))
      .collect()(0)
    assert(agg.getLong(0) < agg.getLong(1))
  }

  test("merge is greedy left-to-right non-overlapping (aaa → [aa, a])") {
    val toy = java.nio.file.Files.createTempDirectory("bpetoy").toString
    import spark.implicits._
    Seq((0L, "aaa aaa"), (1L, "aaa"))
      .toDF("doc_id", "text")
      .write.mode("overwrite")
      .parquet(s"$toy/documents.parquet")
    val m = BpeTrain.train(spark, toy, rounds = 1).collect()
    // word "aaa" freq 3 → pair (a,a) occurs 2 per word → count 6
    assert(m.length == 1)
    assert((m(0).getString(1), m(0).getString(2), m(0).getLong(3)) ==
      ("a", "a", 6L))
    val seg = BpeTrain.segmentation(spark, toy, rounds = 1).collect()
    val pieces = seg.find(_.getString(0) == "aaa").get
      .getAs[collection.Seq[String]]("pieces")
    assert(pieces.toSeq == Seq("aa", "a"))
  }

  test("merges anchor at symbol boundaries (pair (h,e) must not fuse [th, e])") {
    // Engineered vocab: "th"×10 forces round 1 = (t,h); round 2 ties
    // (h,e)=5 vs (x,h)=5 → lexicographic → (h,e). After round 1 the
    // word "the" is [th, e]: a substring replace of "h·e" would
    // corrupt it to [the]; the boundary-anchored fold must leave it
    // alone (no bare "h" symbol exists there) while "xhe" = [x,h,e]
    // correctly fuses to [x, he].
    val toy = java.nio.file.Files.createTempDirectory("bpebound").toString
    import spark.implicits._
    val docs =
      Seq.fill(10)("th") ++ Seq.fill(3)("the") ++ Seq.fill(5)("xhe")
    docs.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
      .write.mode("overwrite")
      .parquet(s"$toy/documents.parquet")
    val m = BpeTrain.train(spark, toy, rounds = 2).collect()
    assert(m.length == 2)
    assert((m(0).getString(1), m(0).getString(2), m(0).getLong(3)) ==
      ("t", "h", 13L))
    assert((m(1).getString(1), m(1).getString(2), m(1).getLong(3)) ==
      ("h", "e", 5L))
    val seg = BpeTrain.segmentation(spark, toy, rounds = 2).collect()
    def pieces(w: String): Seq[String] = seg.find(_.getString(0) == w).get
      .getAs[collection.Seq[String]]("pieces").toSeq
    assert(pieces("the") == Seq("th", "e")) // the buggy replace gave [the]
    assert(pieces("xhe") == Seq("x", "he"))
    assert(pieces("th") == Seq("th"))
  }
}
