package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Differential test for the SURVEY §7.5 whitespace risk: the Spark
  * column cleanText must collapse the same characters Python's
  * str.split() does — including Unicode whitespace (NBSP, ideographic
  * space, line/paragraph separators, NEL) that Java's default ASCII
  * `\s` misses, and the information separators U+001C–U+001F that
  * even Java's `(?U)\s` misses.
  */
class CleanTextUnicodeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // Python 3 str.split() splits on exactly the code points for which
  // str.isspace() is true — listed here by hand, so this oracle shares
  // no whitespace definition with the code under test:
  //   [c for c in range(0x110000) if chr(c).isspace()]
  private val pythonWs: Set[Char] = Set(
    '\u0009', '\u000a', '\u000b', '\u000c', '\u000d',
    '\u001c', '\u001d', '\u001e', '\u001f', '\u0020',
    '\u0085', '\u00a0', '\u1680',
    '\u2000', '\u2001', '\u2002', '\u2003', '\u2004', '\u2005',
    '\u2006', '\u2007', '\u2008', '\u2009', '\u200a',
    '\u2028', '\u2029', '\u202f', '\u205f', '\u3000'
  )

  // " ".join(s.split())
  private def pythonClean(s: String): String = {
    val words = scala.collection.mutable.ArrayBuffer[String]()
    val w = new StringBuilder
    s.foreach { c =>
      if (pythonWs(c)) { if (w.nonEmpty) { words += w.toString; w.clear() } }
      else w += c
    }
    if (w.nonEmpty) words += w.toString
    words.mkString(" ")
  }

  private val wsChars: Seq[String] = Seq(
    " ", "\t", "\n", "\r", "\u000b", "\u000c",
    "\u001c", "\u001d", "\u001e", "\u001f", // information separators
    "\u0085", // NEL
    "\u00a0", // NBSP
    "\u1680", // ogham space
    "\u2000", "\u2003", "\u2009", // en quad / em space / thin space
    "\u2028", "\u2029", // line / paragraph separator
    "\u202f", "\u205f", // narrow NBSP / math space
    "\u3000" // ideographic space
  )

  private val chunk: Gen[String] =
    Gen.oneOf(Gen.alphaNumStr.map(_.take(8)), Gen.oneOf(wsChars))

  private val text: Gen[String] = Gen.listOf(chunk).map(_.mkString)

  test("column cleanText matches Python split semantics incl. Unicode ws") {
    import spark.implicits._
    val samples =
      (Gen.listOfN(300, text).sample.get :+ wsChars.mkString :+ "").distinct
    val got = samples
      .toDF("v")
      .select(col("v"), TextFunctions.cleanText(col("v")).as("c"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (in, out) =>
      val hex = in.map(c => f"\\u${c.toInt}%04x").mkString
      assert(out == pythonClean(in), s"mismatch for [$hex]")
    }
  }

  test("filenameSafe replaces all reserved characters") {
    import spark.implicits._
    val got = Seq("""a<b>c:d"e/f\g|h?i*j.json""")
      .toDF("v")
      .select(TextFunctions.filenameSafe(col("v")))
      .collect()(0)
      .getString(0)
    assert(got == "a_b_c_d_e_f_g_h_i_j.json")
  }

  test("specific Unicode whitespace cases") {
    import spark.implicits._
    val cases = Seq(
      "a\u00a0b" -> "a b", // NBSP
      "a\u3000b" -> "a b", // ideographic space
      "a\u2028b" -> "a b", // line separator
      "\u00a0 \u00a0" -> "",
      "a\u0085b" -> "a b", // NEL
      "a\u001cb" -> "a b", // file separator
      "a\u001db" -> "a b", // group separator
      "a\u001eb" -> "a b", // record separator
      "a\u001fb" -> "a b", // unit separator
      "\u001c\u001d x \u001e\u001f" -> "x"
    )
    val got = cases
      .map(_._1)
      .toDF("v")
      .select(TextFunctions.cleanText(col("v")))
      .collect()
      .map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }
}
