package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused Shingles expression must be bit-identical to the HOF
  * composition it replaces — same elements in the SAME order
  * (array_distinct keeps first occurrence) — on the corpus and on
  * adversarial whitespace/unicode edges the corpus lacks.
  */
class ShinglesSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def diff(n: Int): Unit = {
    import spark.implicits._
    val adversarial = Seq(
      "",
      " ",
      "\t\n",
      "a",
      "a b",
      "a b c",
      "a b c d e f",
      "a  b c d",          // nbsp is (?U)\s
      "x y x y x y x y",        // duplicate shingles
      "héllo wörld 中文 a b c",
      "a b c\n",                // trailing non-space whitespace
      " leading and trailing "
    ).toDF("text")
    val docs = Tables
      .documents(spark, dir)
      .select(col("text"))
      .unionByName(adversarial)
    val rows = docs
      .select(
        TextFunctions.shingles(col("text"), n).as("fast"),
        TextFunctions.shinglesHof(col("text"), n).as("hof")
      )
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(
        r.getSeq[String](0) == r.getSeq[String](1),
        s"n=$n mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"
      )
    }
  }

  test("fused == HOF, order included, n=3")(diff(3))
  test("fused == HOF, order included, n=5")(diff(5))
  test("fused == HOF, order included, n=1")(diff(1))

  test("fused == HOF on 500 seeded random whitespace-heavy strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val alphabet =
      Vector("a", "bb", "héllo", "中", "x", " ", "  ", "\t", "\n", " ",
        " ", ".", "!?")
    val docs = Seq
      .fill(500)(
        (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
      )
      .toDF("text")
    Seq(2, 4).foreach { n =>
      val rows = docs
        .select(
          TextFunctions.shingles(col("text"), n).as("fast"),
          TextFunctions.shinglesHof(col("text"), n).as("hof")
        )
        .collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    }
  }
}
