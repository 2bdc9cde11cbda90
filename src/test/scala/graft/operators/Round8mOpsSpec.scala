package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the loader-economics/tagging/readability batch
  * (q250, q251, q252).
  */
class Round8mOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private lazy val texts: Array[(Long, String)] = Tables
    .documents(spark, dir)
    .select(col("doc_id"), col("text"))
    .collect()
    .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))

  private def tok(t: String): Array[String] = {
    val s = t.trim
    if (s.isEmpty) Array.empty else s.split("\\s+")
  }

  test("q250 waste recounts exactly and decreases with shorter windows") {
    val rows = TextAnalysis.paddingWasteCurve(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("len")).sorted.toSeq ==
      Seq(512L, 1024L, 2048L, 4096L))
    val ns = texts.map(t => tok(t._2).length.toLong).filter(_ > 0)
    rows.foreach { r =>
      val len = r.getAs[Long]("len")
      val nw = ns.map(n => (n + len - 1) / len)
      assert(r.getAs[Long]("n_docs") == ns.length.toLong)
      assert(r.getAs[Long]("total_tokens") == ns.sum)
      assert(r.getAs[Long]("n_windows") == nw.sum)
      assert(r.getAs[Long]("padded_tokens") ==
        nw.zip(ns).map { case (w, n) => w * len - n }.sum)
    }
    // waste_ppm is monotone nondecreasing in window length for this
    // corpus shape (bigger windows pad more per short doc)
    val byLen = rows.sortBy(_.getAs[Long]("len")).map(_.getAs[Long]("waste_ppm"))
    byLen.zip(byLen.tail).foreach { case (a, b) => assert(a <= b) }
  }

  test("q251 densities recount exactly and classes follow thresholds") {
    val rows = TextAnalysis.contentTypeTags(spark, dir).collect()
    assert(rows.length == texts.length)
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    texts.take(50).foreach { case (id, t) =>
      val r = byId(id)
      val n = t.length.toLong
      assert(r.getAs[Long]("n_chars") == n)
      if (n == 0) assert(r.getAs[String]("content_class") == "empty")
      else {
        val sym = t.count(c => "{}();=<>[]".contains(c)).toLong
        val dig = t.count(_.isDigit).toLong
        assert(r.getAs[Long]("sym_ppm") == math.round(sym.toDouble * 1e6 / n))
        assert(r.getAs[Long]("digit_ppm") == math.round(dig.toDouble * 1e6 / n))
        val expected =
          if (r.getAs[Long]("sym_ppm") >= 20000L) "code"
          else if (r.getAs[Long]("digit_ppm") >= 50000L) "numeric"
          else "prose"
        assert(r.getAs[String]("content_class") == expected)
      }
    }
  }

  test("q252 Flesch components recount exactly on a sample") {
    val rows = TextAnalysis.readability(spark, dir).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    texts.filter(t => tok(t._2).nonEmpty).take(50).foreach { case (id, t) =>
      val r = byId(id)
      val words = tok(t)
      val sentences = math.max("[.!?]+".r.findAllIn(t).length, 1)
      val vg = "[aeiouy]+".r.findAllIn(t.toLowerCase).length
      val nv = words.count(w => !w.toLowerCase.exists("aeiouy".contains(_)))
      assert(r.getAs[Long]("n_words") == words.length.toLong, s"doc $id words")
      assert(r.getAs[Long]("n_sentences") == sentences.toLong, s"doc $id sents")
      assert(r.getAs[Long]("n_syllables") == (vg + nv).toLong, s"doc $id syl")
      val f = 206.835 - 1.015 * (words.length.toDouble / sentences) -
        84.6 * ((vg + nv).toDouble / words.length)
      assert(math.abs(r.getAs[Long]("flesch_micro") - math.round(f * 1e6)) <= 1L)
    }
    // empty docs excluded
    val nNonEmpty = texts.count(t => tok(t._2).nonEmpty)
    assert(rows.length == nNonEmpty)
  }
}
