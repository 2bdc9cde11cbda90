package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The fused [[CleanText]] kernel must equal the composed-builtin form
  * `cleanText` shipped with (kept below as the reference) on every
  * input outside U+001C–U+001F — the four code points where the
  * composed form's `(?U)\s` and Python's `str.split()` disagree
  * (CleanTextUnicodeSpec covers those). Both the codegen path (a
  * non-local scan) and interpreted `eval` are checked.
  */
class CleanTextSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def composed(c: Column): Column =
    coalesce(trim(regexp_replace(c, "(?U)\\s+", " ")), lit(""))

  private def composed(c: Column, maxLen: Int): Column = {
    val cleaned = composed(c)
    when(length(cleaned) > maxLen,
      concat(substring(cleaned, 1, maxLen), lit("...")))
      .otherwise(cleaned)
  }

  private val MaxLens = Seq(0, 1, 2, 3, 5, 8, 13)

  /** Compares kernel and composed form for every maxLen (and none). */
  private def diff(inputs: Seq[String]): Unit = {
    val rows = spark.sparkContext
      .parallelize(inputs.map(org.apache.spark.sql.Row(_)), 4)
    diffFrame(spark.createDataFrame(rows,
      StructType(Seq(StructField("v", StringType)))), inputs.length)
  }

  /** [[diff]] over a frame's string column `v`, which may hold bytes
    * that are not valid UTF-8.
    */
  private def diffFrame(df: DataFrame, n: Int): Unit = {
    val cols = (TextFunctions.cleanText(col("v")) +: composed(col("v")) +:
      MaxLens.flatMap(l =>
        Seq(TextFunctions.cleanText(col("v"), l), composed(col("v"), l))))
    val got = df.select(col("v").cast("binary") +: cols: _*).collect()
    assert(got.length == n)
    got.foreach { r =>
      val in = Option(r.getAs[Array[Byte]](0)).map(UTF8String.fromBytes).orNull
      val hex = Option(r.getAs[Array[Byte]](0)).map(_.map(b => f"$b%02x").mkString(" "))
      val limits = None +: MaxLens.map(Some(_))
      limits.zipWithIndex.foreach { case (l, k) =>
        val fused = r.getString(1 + 2 * k)
        val ref = r.getString(2 + 2 * k)
        assert(fused == ref, s"codegen maxLen=$l mismatch for bytes [$hex]")
        val interp = CleanText(Literal.create(in, StringType), l.getOrElse(-1))
          .eval().asInstanceOf[UTF8String].toString
        assert(interp == ref, s"interpreted maxLen=$l mismatch for bytes [$hex]")
      }
    }
  }

  // every whitespace class of the composed form except U+001C–U+001F
  private val ws = Seq(" ", "  ", "\t", "\n", "\r\n", "\u000b", "\u000c",
    "\u0085", "\u00a0", "\u1680", "\u2000", "\u200a", "\u2028", "\u2029",
    "\u202f", "\u205f", "\u3000", "\u00a0\u3000 \u2028")

  private val words = Seq("a", "bc", "word", "\u00e9", "\u4e2d\u6587",
    "x\u00e9y", "\ud83d\ude00", "a\ud83d\ude00b", "\ud834\udd1e\ud834\udd1e", "\u200b")

  test("edge cases: null, empty, blank, runs, multi-byte ws, surrogates") {
    diff(Seq(
      null, "", " ", "   ", "\t\n\r", "\u3000\u00a0\u2028", " a", "a ",
      "  a  b  ", "\n\ta\u3000\u3000b\u2029", "a\u00a0\u00a0\u00a0b",
      "\ud83d\ude00", "\ud83d\ude00\ud83d\ude00\ud83d\ude00",
      // surrogate pairs straddling each cut position
      "ab\ud83d\ude00cd", "a\ud83d\ude00\ud83d\ude00\ud83d\ude00 b",
      " \ud83d\ude00 \ud83d\ude00 \ud83d\ude00 \ud83d\ude00 ",
      "\u4e2d\u6587 \u4e2d\u6587 \u4e2d\u6587",
      Seq.fill(14)("\u00e9").mkString(" ")
    ))
  }

  test("cleaned length maxLen - 1, maxLen, maxLen + 1, and trailing ws past maxLen") {
    val cases = for {
      l <- MaxLens.filter(_ > 0)
      n <- Seq(l - 1, l, l + 1)
      if n >= 0
      fill <- Seq("x", "\u00e9", "\ud83d\ude00")
      pad <- Seq("", "   ", "\u3000\t ")
    } yield {
      // n cleaned code points: words of 2 separated by single spaces
      val cps = (0 until n).map(i => if (i % 3 == 2) " " else fill).mkString
      val body = if (cps.endsWith(" ")) cps.dropRight(1) + fill else cps
      pad + body.replace(" ", pad + " ") + pad
    }
    // exactly maxLen after trimming, with trailing whitespace beyond it
    val exact = MaxLens.filter(_ > 0).map(l => "y" * l + " \t\u3000  ")
    diff(cases ++ exact)
  }

  test("property: kernel == composed form on random text") {
    val chunk = Gen.frequency(
      4 -> Gen.oneOf(words),
      3 -> Gen.oneOf(ws),
      2 -> Gen.alphaNumStr.map(_.take(6))
    )
    val text = Gen.listOf(chunk).map(_.mkString)
    val samples = Gen.listOfN(400, text)
      .apply(Gen.Parameters.default.withSize(30), Seed(20261017L)).get
    diff(samples.distinct)
  }

  test("malformed UTF-8 decodes as the composed form does") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val ascii = "ab  c ".getBytes("UTF-8")
    val tails = Seq(
      b(0xff), b(0xc3), b(0xe2, 0x80), b(0xe2, 0x80, 0x20, 0x61),
      b(0xed, 0xa0, 0x80, 0x7a), b(0xf0, 0x9f, 0x98), b(0x80, 0x80, 0x20),
      b(0xc2, 0xa0, 0xff, 0xc2, 0xa0, 0x78), b(0xc3, 0xa9, 0x20, 0xfe, 0x20))
    val inputs = tails.flatMap(t => Seq(t, ascii ++ t, ascii ++ t ++ ascii, b(0x20) ++ t))
    val rows = spark.sparkContext
      .parallelize(inputs.map(org.apache.spark.sql.Row(_)), 4)
    val df = spark.createDataFrame(rows,
      StructType(Seq(StructField("b", BinaryType))))
      .select(col("b").cast(StringType).as("v"))
    diffFrame(df, inputs.length)
  }
}
