package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the round-6 operators: BM25 retrieval and
  * the trained-BPE corpus application.
  */
class Round6OpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q133 BM25: ranks contiguous per query, scores positive, no self-hit") {
    val out = TextAnalysis.bm25TopK(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("score") > 0.0, "Lucene idf keeps scores positive")
      assert(r.getAs[Long]("q_id") != r.getAs[Long]("doc_id"), "self excluded")
    }
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to rows.length), s"query $q ranks not contiguous")
      assert(rows.length <= 10)
      // ranks follow the rounded score (desc) with doc_id tiebreak
      val sorted = rows.sortBy(r =>
        (-r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length),
        s"query $q rank order drifted from (score desc, doc_id)")
    }
  }

  test("q133 BM25 ranking on an engineered corpus: rarer overlap wins") {
    val toy = java.nio.file.Files.createTempDirectory("bm25toy").toString
    import spark.implicits._
    // query doc 0 mentions "zebra" (rare) and "the" (common).
    // doc 251 shares the rare term, docs 252+ only the common one →
    // 251 must rank first. ids chosen so only doc 0 is a query
    // (doc_id % 250 == 0 and 250 itself would be a query).
    val docs = Seq(
      (0L, "zebra the"),
      (251L, "zebra runs"),
      (252L, "the cat"),
      (253L, "the dog"),
      (254L, "the bird")
    )
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$toy/documents.parquet")
    val out = TextAnalysis.bm25TopK(spark, toy).collect()
      .filter(_.getAs[Long]("q_id") == 0L)
      .sortBy(_.getAs[Int]("rank"))
    assert(out.head.getAs[Long]("doc_id") == 251L,
      s"rare-term doc must rank first, got ${out.toSeq}")
    assert(out.length == 4)
  }

  test("q134 corpus apply: subword counts bounded by words and chars") {
    val out = BpeTrain.corpusApply(spark, dir).cache()
    val n = Tables
      .documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .count()
    assert(out.count() == n, "every tokenizable doc appears")
    val bad = out.filter(
      col("n_subwords") < col("n_words") ||
        col("chars_per_subword_milli") < 1000L
    )
    assert(bad.count() == 0,
      "each word is >= 1 piece and each piece is >= 1 char")
    // the trained merges actually compress somewhere: total subwords
    // < total chars (equality would mean zero effective merges) —
    // reconstruct char mass from the milli ratio (half-up exact
    // enough for a strict < at corpus scale)
    val agg = out
      .agg(sum(col("n_subwords")).as("s"),
        sum(col("chars_per_subword_milli") * col("n_subwords"))
          .as("c_milli"))
      .collect()(0)
    assert(agg.getLong(0) * 1000L < agg.getLong(1))
  }

  test("q134 agrees with the per-word segmentation it derives from") {
    val seg = BpeTrain.segmentation(spark, dir)
      .select(col("w"), col("n_pieces"))
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect()
    val expected = docs.map { r =>
      val ws = r.getString(1).trim match {
        case "" => Array.empty[String]
        case t => t.split("(?U)\\s+")
      }
      r.getLong(0) -> ws.filter(w => w.nonEmpty && seg.contains(w))
        .map(seg(_).toLong).sum
    }.filter(_._2 > 0).toMap
    val got = BpeTrain.corpusApply(spark, dir)
      .select(col("doc_id"), col("n_subwords"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == expected)
  }

  test("q135 SemDeDup agrees with a brute-force within-cluster check") {
    val out = Dedup.semanticDedup(spark, dir).collect()
    val embs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .toMap
    assert(out.map(_.getAs[Long]("vec_id")).distinct.length == embs.size,
      "one verdict row per vector")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = out.groupBy(_.getAs[Int]("cluster"))
    byCluster.values.foreach { rows =>
      val ids = rows.map(_.getAs[Long]("vec_id")).sorted
      rows.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        val lowers = ids.filter(_ < id)
        val expected =
          if (lowers.isEmpty) None
          else Some(BigDecimal(lowers.map(l => cos(embs(l), embs(id))).max)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        val got = Option(r.getAs[java.lang.Double]("max_sim_lower"))
          .map(_.toDouble)
        expected match {
          case None => assert(got.isEmpty, s"vec $id: lone lowest id")
          case Some(e) =>
            assert(got.isDefined && math.abs(got.get - e) < 2e-6,
              s"vec $id: max_sim_lower ${got} vs brute $e")
        }
        val kept = r.getAs[Boolean]("kept")
        expected match {
          case None => assert(kept, s"vec $id: no lower mate must keep")
          case Some(e) if e < 0.35 - 1e-5 =>
            assert(kept, s"vec $id: sim $e below tau must keep")
          case Some(e) if e > 0.35 + 1e-5 =>
            assert(!kept, s"vec $id: sim $e above tau must drop")
          case _ => // within float noise of the threshold: no claim
        }
      }
      // the lowest id of every cluster always survives
      val lowest = rows.minBy(_.getAs[Long]("vec_id"))
      assert(lowest.getAs[Boolean]("kept"), "cluster representative kept")
    }
  }

  test("q136 segment dedup on an engineered corpus keeps first occurrences") {
    val toy = java.nio.file.Files.createTempDirectory("segtoy").toString
    import spark.implicits._
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // 11 tokens → segs [ten, "tail0"]; both first occurrences
      (0L, s"$ten tail0"),
      // repeats doc 0's first segment exactly, unique second segment
      (1L, s"$ten unique tail one two three four five six seven eight9"),
      // entirely unique single short segment
      (2L, "lone doc"),
      // duplicates doc 2's full (sub-10-token) segment
      (3L, "lone doc")
    )
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$toy/documents.parquet")
    val out = Dedup.segmentDedup(spark, toy).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_kept"))))
      .toMap
    assert(out(0L) == ((2L, 2L)), "doc 0 owns both of its segments")
    assert(out(1L) == ((2L, 1L)), "doc 1's copied head segment dropped")
    assert(out(2L) == ((1L, 1L)), "doc 2 owns its segment")
    assert(out(3L) == ((1L, 0L)), "doc 3's copy of doc 2 dropped")
  }

  test("q137 Bloom screen: no false negatives vs q73, audited FPs only") {
    val bloom = Dedup.bloomDecontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bloom_hits"), r.getAs[Long]("n_exact_hits"))))
      .toMap
    val exact = Dedup.decontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_shared_shingles"))
      .toMap
    // a Bloom filter never misses a true member: every exactly-
    // contaminated doc must be flagged, with at least that many hits
    exact.foreach { case (id, nShared) =>
      assert(bloom.contains(id), s"doc $id contaminated but not flagged")
      assert(bloom(id)._1 >= nShared, s"doc $id bloom < exact")
      assert(bloom(id)._2 == nShared,
        s"doc $id audit column disagrees with q73")
    }
    // and the audit column never exceeds the screen
    bloom.values.foreach { case (nb, ne) => assert(nb >= ne) }
    // flagged docs missing from q73 are measurable false positives
    val fps = bloom.keySet -- exact.keySet
    fps.foreach { id =>
      assert(bloom(id)._2 == 0L, s"FP doc $id claims exact hits")
    }
  }

  test("q138 span corruption round-trips: sentinel expansion = original") {
    val out = ExampleGen.spanCorruption(spark, dir).collect()
    val originals = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("(?U)\\s+").toSeq)
      .toMap
    assert(out.nonEmpty)
    val sentinel = "<extra_id_(\\d+)>".r
    var masked = 0L; var total = 0L
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val input = r.getAs[String]("input_text").split(" ").toSeq
      val target = r.getAs[String]("target_text")
      val nSpans = r.getAs[Long]("n_spans")
      masked += r.getAs[Long]("n_masked"); total += r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("n_spans") <= r.getAs[Long]("n_masked"))
      // parse target into span_id -> tokens
      val spanToks = scala.collection.mutable.Map[Int, Vector[String]]()
      var cur = -1
      if (target.nonEmpty) target.split(" ").foreach {
        case sentinel(k) => cur = k.toInt; spanToks(cur) = Vector()
        case t => spanToks(cur) = spanToks(cur) :+ t
      }
      assert(spanToks.keySet == (0 until nSpans.toInt).toSet,
        s"doc $id: target sentinels not 0..${nSpans - 1}")
      val rebuilt = input.flatMap {
        case sentinel(k) => spanToks(k.toInt)
        case t => Seq(t)
      }
      assert(rebuilt == originals(id), s"doc $id does not round-trip")
    }
    val rate = masked.toDouble / total
    assert(rate > 0.12 && rate < 0.18, s"corpus mask rate $rate far from 15%")
  }

  test("q139 hard negatives match a brute-force label-filtered top-3") {
    val embs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Similarity.hardNegatives(spark, dir).collect()
      .groupBy(_.getAs[Long]("anchor_id"))
    embs.filter(_._1 % 100 == 0).foreach { case (aid, albl, avec) =>
      val expected = embs
        .filter { case (id, lbl, _) => id != aid && lbl != albl }
        .map { case (id, _, v) => (id, cos(avec, v)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(3)
      val rows = got(aid).sortBy(_.getAs[Int]("rank"))
      assert(rows.map(_.getAs[Long]("neg_id")).toSeq ==
        expected.map(_._1).toSeq, s"anchor $aid negatives differ")
      rows.zip(expected).foreach { case (r, (_, s)) =>
        assert(math.abs(r.getAs[Double]("sim") - s) < 2e-6)
      }
    }
  }

  test("q136 corpus invariant: kept instances = distinct segments") {
    val out = Dedup.segmentDedup(spark, dir)
    val totalKept = out.agg(sum(col("n_kept"))).collect()(0).getLong(0)
    // independent distinct-segment count over the same segmentation
    val distinctSegs = Tables.documents(spark, dir)
      .select(graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(posexplode(transform(
        sequence(lit(0), floor((size(col("toks")) - 1) / 10).cast("int")),
        i => array_join(slice(col("toks"), i * 10 + 1, lit(10)), " ")
      )).as(Seq("i", "seg")))
      .select(col("seg")).distinct().count()
    assert(totalKept == distinctSegs,
      s"kept $totalKept != distinct $distinctSegs")
    out.collect().foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_segs"))
    }
  }

  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("q140 winnowing matches a brute-force reference on the corpus") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byDoc = docs.flatMap { case (id, text) =>
      val toks =
        if (text.trim.isEmpty) Array.empty[String]
        else text.trim.split("(?U)\\s+")
      if (toks.length < 3) None
      else {
        val hs = (0 to toks.length - 3)
          .map(i => h60(toks.slice(i, i + 3).mkString(" ")))
        val fps = (0 to math.max(hs.length - 4, 0))
          .map(p => hs.slice(p, p + 4).min).toSet
        Some(id -> fps)
      }
    }.toMap
    val expected = (for {
      (a, sa) <- byDoc; (b, sb) <- byDoc if a < b
      shared = (sa & sb).size if shared >= 2
    } yield (a, b) -> {
      // exact half-up ppm, the operator's round-12 integer emission
      val union = (sa.size + sb.size - shared).toLong
      ((shared.toLong, (shared.toLong * 1000000L * 2 + union) / (2 * union)))
    }).toMap
    val got = Dedup.winnowFingerprints(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("n_shared"), r.getAs[Long]("overlap_ppm")))).toMap
    assert(got.nonEmpty)
    assert(got.keySet == expected.keySet, "pair sets differ")
    expected.foreach { case (k, (ns, ov)) =>
      assert(got(k)._1 == ns, s"pair $k shared count differs")
      assert(got(k)._2 == ov, s"pair $k overlap_ppm differs")
    }
  }

  test("q140 winnowing guarantee: a long shared run yields shared fingerprints") {
    val toy = "/tmp/graft_winnow_toy"
    val run = (1 to 30).map(i => s"shared$i").mkString(" ")
    import spark.implicits._
    Seq(
      (0L, s"alpha beta gamma $run delta epsilon"),
      (1L, s"one two three four five $run six seven"),
      (2L, "totally unrelated words with no overlap at all here")
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$toy/documents.parquet")
    val pairs = Dedup.winnowFingerprints(spark, toy).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // 30 shared tokens = 28 shared grams; every w-window fully inside
    // the run selects identically in both docs -> well over the >=2 bar
    assert(pairs.contains((0L, 1L)), "shared-run pair not detected")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "unrelated doc flagged")
  }

  test("q141 JL projection matches a brute-force replay; distortion near 1") {
    val sign = Array.tabulate(16, 64)((j, i) =>
      if (h60(s"jl:$i:$j") % 2 == 0) 1.0 else -1.0)
    val embs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .toMap
    def proj(v: Array[Float]): Array[Double] =
      Array.tabulate(16)(j =>
        (0 until 64).foldLeft(0.0)((acc, i) =>
          acc + v(i).toDouble * sign(j)(i)) / 4.0)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) =>
        acc + (p._1 - p._2) * (p._1 - p._2))
    val got = Similarity.jlProjectDistortion(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val a = r.getAs[Long]("vec_a"); val b = r.getAs[Long]("vec_b")
      assert(a % 100 == 0 && b % 25 == 0 && a < b)
      val ya = proj(embs(a)); val yb = proj(embs(b))
      val d2o = embs(b).zip(embs(a)).foldLeft(0.0)((acc, p) =>
        acc + (p._1.toDouble - p._2.toDouble) * (p._1.toDouble - p._2.toDouble))
      assert(math.abs(r.getAs[Double]("d2_orig") - d2o) < 1e-5)
      assert(math.abs(r.getAs[Double]("d2_proj") - d2(yb, ya)) < 1e-5)
      assert(math.abs(r.getAs[Double]("distortion") - d2(yb, ya) / d2o) < 1e-5)
    }
    // JL with 16 output dims: per-pair distortion std ~ sqrt(2/16);
    // the corpus mean must sit near 1
    val mean = got.map(_.getAs[Double]("distortion")).sum / got.length
    assert(mean > 0.7 && mean < 1.3, s"mean distortion $mean far from 1")
  }
}
