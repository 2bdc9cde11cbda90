package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral specs for the embedding-evaluation batch (q238, q239,
  * q240): each distributed statistic is recomputed naively on the
  * driver from the collected vectors and must agree.
  */
class Round8iOpsSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private lazy val vecs: Array[(Long, Array[Double], Int)] = Tables
    .embeddings(spark, dir)
    .collect()
    .map(r =>
      (
        r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray,
        r.getAs[Int]("label")
      )
    )

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  test("q238 ARI matches a naive pair-counting recomputation") {
    val out = Clustering.clusteringAgreement(spark, dir).collect().head
    val asg = Clustering
      .kmeansAssign(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster"))
      .toMap
    val pts = vecs.map { case (id, _, l) => (asg(id), l) }
    // pair counting: same-cluster&same-label / same-cluster / same-label
    var ss = 0L; var sc = 0L; var sl = 0L
    for (i <- pts.indices; j <- (i + 1) until pts.length) {
      val samec = pts(i)._1 == pts(j)._1
      val samel = pts(i)._2 == pts(j)._2
      if (samec) sc += 1
      if (samel) sl += 1
      if (samec && samel) ss += 1
    }
    val n = pts.length.toLong
    val combN = n * (n - 1) / 2
    val exp = sc.toDouble * sl / combN
    val ari = (ss - exp) / ((sc + sl) / 2.0 - exp)
    assert(out.getAs[Long]("n") == n)
    assert(out.getAs[Long]("comb_cells") == ss)
    assert(out.getAs[Long]("comb_a") == sc)
    assert(out.getAs[Long]("comb_b") == sl)
    assert(math.abs(out.getAs[Long]("ari_micro") - ari * 1e6) <= 1.0)
    assert(out.getAs[Long]("ari_micro") >= -1000000L &&
      out.getAs[Long]("ari_micro") <= 1000000L)
  }

  test("q239 global isotropy matches the naive mean pairwise cosine") {
    val rows = Similarity.embeddingIsotropy(spark, dir).collect()
    val global = rows.find(_.getAs[Long]("label") == -1L).get
    val units = vecs.map { case (_, v, _) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    var s = 0.0; var np = 0L
    for (i <- units.indices; j <- (i + 1) until units.length) {
      var d = 0.0; var k = 0
      while (k < units(i).length) { d += units(i)(k) * units(j)(k); k += 1 }
      s += d; np += 1
    }
    val mean = s / np
    assert(global.getAs[Long]("n") == vecs.length.toLong)
    // the operator rounds per-(label,dim) sums to 6 decimals before
    // squaring, so allow a few micro of quantization slack
    assert(math.abs(global.getAs[Long]("mean_cos_micro") - mean * 1e6) <= 5.0)
    // per-label rows: mean cosine within a label should exceed the
    // global mean for at least one label if labels are semantic
    val perLabel = rows.filter(_.getAs[Long]("label") >= 0L)
    assert(perLabel.map(_.getAs[Long]("n")).sum == vecs.length.toLong)
  }

  test("q240 accuracy matches a naive leave-one-out 1-NN") {
    val rows = Similarity.nnLabelEval(spark, dir).collect()
    // round 9: the shipped plan retrieves within the query's own IVF
    // list (nprobe = 1) — the recount restricts to the same list
    val asg = Similarity
      .ivfAssign(spark, dir, 8)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("cid"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val evalSet = vecs.filter(_._1 % 5 == 0)
    val naive = evalSet.flatMap { case (qid, qv, ql) =>
      val cands = vecs
        .filter(o => o._1 != qid && asg(o._1) == asg(qid))
        .map { case (id, v, l) => (cos(qv, v), -id, l) }
      if (cands.isEmpty) None else Some((ql, cands.max._3 == ql))
    }
    val byLabel = naive.groupBy(_._1)
    assert(rows.map(_.getAs[Long]("n_eval")).sum == evalSet.length.toLong)
    rows.foreach { r =>
      val l = r.getAs[Int]("label")
      val g = byLabel(l)
      assert(r.getAs[Long]("n_eval") == g.length.toLong)
      assert(r.getAs[Long]("n_correct") == g.count(_._2).toLong, s"label $l")
      def halfUp(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
      assert(r.getAs[Long]("acc_micro") ==
        halfUp(g.count(_._2).toLong * 1000000L, g.length.toLong))
    }
  }
}
