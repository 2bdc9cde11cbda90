package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the recall-curve/char-entropy/TTR batch
  * (q265, q266, q267).
  */
class Round8rOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q265 recall is monotone in nprobe and probe-2 matches q106") {
    val rows = Similarity.recallVsProbe(spark, dir).collect()
    val byNp = rows.sortBy(_.getAs[Long]("nprobe"))
    assert(byNp.map(_.getAs[Long]("nprobe")).toSeq.forall(n => n >= 1 && n <= 4))
    val recalls = byNp.map(_.getAs[Long]("recall_ppm"))
    recalls.zip(recalls.tail).foreach { case (a, b) =>
      assert(a <= b, "recall must be monotone in nprobe")
    }
    recalls.foreach(r => assert(r > 0L && r <= 1000000L))
    // probe-2 matches recomputed directly from q106's candidate list
    val exact = Similarity
      .cosineTopK(spark, dir)
      .filter(col("q_id") < 3 && col("rk") <= 5)
      .select(col("q_id"), col("vec_id"))
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .toSet
    val probe2 = Similarity
      .ivfTopKProbe(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .count(exact.contains)
    val row2 = byNp.find(_.getAs[Long]("nprobe") == 2L)
    assert(row2.isDefined && row2.get.getAs[Long]("n_matches") == probe2.toLong)
  }

  test("q266 entropy recounts exactly per language") {
    val rows = TextAnalysis.charEntropy(spark, dir).collect()
    val texts = Tables
      .documents(spark, dir)
      .select(col("lang"), col("text"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("text")))
      .filter(_._2.nonEmpty)
    val byLang = texts.groupBy(_._1).map { case (l, xs) =>
      val counts = xs
        .flatMap(_._2.toSeq.map(_.toString))
        .groupBy(identity)
        .map(_._2.size.toLong)
      val tot = counts.sum.toDouble
      val h = counts.map(c => -(c / tot) * math.log(c / tot)).sum
      l -> (counts.sum, counts.size.toLong, h)
    }
    rows.foreach { r =>
      val l = r.getAs[String]("lang")
      val (n, d, h) = byLang(l)
      assert(r.getAs[Long]("n_chars") == n, s"$l chars")
      assert(r.getAs[Long]("n_distinct_chars") == d, s"$l distinct")
      assert(math.abs(r.getAs[Long]("entropy_micro") - h * 1e6) <= 2.0, s"$l h")
    }
    // every lang's entropy is bounded by ln of its inventory size
    rows.foreach { r =>
      val cap = math.log(r.getAs[Long]("n_distinct_chars").toDouble)
      assert(r.getAs[Long]("entropy_micro") <= math.round(cap * 1e6) + 1)
    }
  }

  test("q267 TTR uses exactly the first 1000 tokens per source") {
    val rows = TextAnalysis.standardizedTtr(spark, dir).collect()
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .collect()
      .map { r =>
        val t = r.getAs[String]("text").trim
        (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
          if (t.isEmpty) Array.empty[String] else t.split("\\s+"))
      }
    val bySource = docs.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val stream = bySource(src).sortBy(_._2).flatMap(_._3).take(1000)
      assert(r.getAs[Long]("n_sample") == stream.length.toLong, s"$src n")
      assert(r.getAs[Long]("n_types") == stream.distinct.length.toLong,
        s"$src types")
      val ttr = stream.distinct.length.toDouble / stream.length
      assert(r.getAs[Long]("ttr_micro") == math.round(ttr * 1e6), s"$src ttr")
    }
  }
}
