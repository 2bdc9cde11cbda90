package graft.functions

import graft.SparkSpec
import graft.functions.ArrayIntersectSize.intersectSize
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The counting kernel must give `size(array_intersect(a, b))` over
  * string arrays — same values on every edge case the built-in pair
  * defines (duplicates, nulls inside arrays, null arrays, empties),
  * codegen'd and interpreted — and must reject other element types.
  */
class ArrayIntersectSizeSpec extends AnyFunSuite with SparkSpec {

  private val rows = Seq[(Seq[String], Seq[String])](
    (Seq("a", "b", "c"), Seq("b", "c", "d")),
    (Seq("a", "a", "b"), Seq("a", "b", "b")), // dups count once
    (Seq("a", null, "b"), Seq(null, "x")), // null ∈ both → counts once
    (Seq("a", null, null), Seq("a")), // null only left → not counted
    (Seq.empty[String], Seq("a")),
    (Seq("a"), Seq.empty[String]),
    (null, Seq("a")), // null array → null size
    (Seq("a"), null)
  )

  /** Shingle sets of the corpus: parquet-backed, so nothing folds. */
  private def shingleFrame =
    spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(
        col("doc_id"),
        TextFunctions.shingles(col("text"), 3).as("a"),
        TextFunctions.shingles(col("text"), 2).as("b"))

  test("codegen and interpreted kernels match a recount on string arrays") {
    val q = shingleFrame.select(
      col("a"), col("b"), intersectSize(col("a"), col("b")).as("n"))
    val compiled = q.collect()
    assert(compiled.nonEmpty)
    compiled.foreach { r =>
      val a = r.getSeq[String](0)
      val b = r.getSeq[String](1).toSet
      assert(r.getInt(2) == a.distinct.count(b.contains))
    }
    assert(interpreted(q.collect()).toSeq == compiled.toSeq)
  }

  test("edge-case values match the built-in semantics") {
    import spark.implicits._
    val df = rows.toDF("a", "b")
    def ints(c: org.apache.spark.sql.Column) = df
      .select(c.as("n"))
      .collect()
      .map(r => if (r.isNullAt(0)) null else r.getInt(0))
      .toSeq
    val expected = rows.map { case (a, b) =>
      if (a == null || b == null) null
      else {
        val bs = b.toSet
        a.distinct.count(bs.contains).asInstanceOf[Any]
      }
    }
    val kernel = ints(intersectSize(col("a"), col("b")))
    assert(kernel == expected)
    assert(kernel == ints(size(array_intersect(col("a"), col("b")))))
    assert(interpreted(ints(intersectSize(col("a"), col("b")))) == expected)
  }

  test("the kernel rejects non-string element types") {
    import spark.implicits._
    val df = Seq((Seq(1, 2, 3), Seq(2, 3, 4))).toDF("a", "b")
    val e = intercept[AnalysisException] {
      df.select(intersectSize(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("array_intersect_size"), e.getMessage)
  }

  test("kernel agrees with the built-in on the real shingle frames") {
    // every candidate pair's |A ∩ B| of the q21/q22 verify shape
    val d = shingleFrame
    val pairs = d.select(col("doc_id").as("x"), col("a"))
      .crossJoin(d.select(col("doc_id").as("y"), col("a").as("b")).limit(40))
    val diff = pairs.filter(
      intersectSize(col("a"), col("b")) =!=
        size(array_intersect(col("a"), col("b"))))
    assert(diff.count() == 0L)
    // the dedup operator computes its Jaccard through the kernel; the
    // DuckDB oracle gates its values, here assert the range
    val lsh = graft.operators.Dedup
      .minhashLshPairs(spark, "/root/testdata/sf0.001")
      .collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }
}
