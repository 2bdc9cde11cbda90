package graft.functions

import graft.SparkSpec
import graft.jira.JiraFlatten.MaxCommentLength
import graft.jira.JiraSchemas
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[CleanComments]] and [[NameList]] must equal the composed
  * `transform`/`filter` forms JiraFlatten used before them (kept below
  * as the reference), value and type, in generated code (whole-stage
  * codegen over a non-local scan) and in interpreted `eval`.
  *
  * Inputs are JSON lines parsed with `from_json`, so an absent key and
  * an explicit null both reach the kernels as the parser makes them.
  */
class FlattenKernelsSpec extends AnyFunSuite with SparkSpec {

  private def userName(u: Column): Column =
    when(u.isNull, lit("Unknown"))
      .otherwise(coalesce(u.getField("displayName"), u.getField("name"),
        lit("Unknown")))

  private def composedComments(c: Column, maxLen: Int): Column =
    filter(
      transform(
        coalesce(c, array().cast("array<struct<author:struct<displayName:string," +
          "name:string>,created:string,body:string>>")),
        x => struct(
          userName(x.getField("author")).as("author"),
          coalesce(x.getField("created"), lit("")).as("created"),
          TextFunctions.cleanText(x.getField("body"), maxLen).as("body"))),
      x => length(x.getField("body")) > 0)

  private def composedNames(c: Column): Column =
    coalesce(transform(c, o => coalesce(o.getField("name"), lit(""))),
      array().cast("array<string>"))

  private val MaxLens = Seq(MaxCommentLength, 0, 1, 4)

  private val InputType = StructType(Seq(
    StructField("comments", ArrayType(JiraSchemas.rawCommentType)),
    StructField("names", ArrayType(StructType(Seq(StructField("name", StringType)))))))

  private def parsed(lines: Seq[String]): DataFrame = {
    val rows = spark.sparkContext
      .parallelize(lines.zipWithIndex.map { case (l, i) => Row(i, l) }, 4)
    spark.createDataFrame(rows, StructType(Seq(
        StructField("id", IntegerType),
        StructField("line", StringType))))
      .select(col("id"), from_json(col("line"), InputType).as("j"))
  }

  private def kernels(c: Column, n: Column): Seq[Column] =
    NameList.nameList(n) +: MaxLens.map(CleanComments.cleanComments(c, _))

  private def references(c: Column, n: Column): Seq[Column] =
    composedNames(n) +: MaxLens.map(composedComments(c, _))

  private def byId(df: DataFrame): Map[Int, Row] =
    df.collect().map(r => r.getInt(0) -> r).toMap

  /** Kernels == references on every line, codegen'd and interpreted. */
  private def diff(lines: Seq[String]): Unit = {
    val in = parsed(lines)
    val c = col("j.comments")
    val n = col("j.names")
    val ref = in.select(col("id") +: references(c, n): _*)
    // a def: each mode plans afresh under its own settings
    def fused = in.select(col("id") +: kernels(c, n): _*)
    def types(df: DataFrame) = df.schema.drop(1).map(f => f.dataType -> f.nullable)
    assert(types(fused) == types(ref),
      "kernel result types and nullability equal the composed forms'")
    val want = byId(ref)
    assert(want.size == lines.length)

    def check(mode: String, codegen: Boolean): Unit = {
      val df = fused
      val got = byId(df)
      val plan = df.queryExecution.executedPlan
      val inStage = plan.collect { case w: WholeStageCodegenExec => w.child }
        .exists(_.exists(_.isInstanceOf[ProjectExec]))
      assert(inStage == codegen, s"$mode plan:\n$plan")
      lines.indices.foreach { i =>
        assert(got(i) == want(i), s"$mode mismatch for line ${lines(i).take(300)}")
      }
    }
    check("codegen", codegen = true)
    interpreted(check("interpreted", codegen = false))
  }

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case ch if ch < ' ' => sb ++= f"\\u${ch.toInt}%04x"
      case ch => sb += ch
    }
    (sb += '"').toString
  }

  /** A JSON object of the members whose value is not null: a null
    * value leaves the key absent.
    */
  private def obj(members: (String, String)*): String =
    members.collect { case (k, v) if v != null => s""""$k": $v""" }
      .mkString("{", ", ", "}")

  private def line(comments: String, names: String): String =
    obj("comments" -> comments, "names" -> names)

  private def comment(author: String, created: String, body: String): String =
    obj("author" -> author, "created" -> created, "body" -> body)

  test("null, absent and empty arrays; null elements") {
    diff(Seq(
      line(null, null),
      line("null", "null"),
      line("[]", "[]"),
      line("[null]", "[null]"),
      line("[null, null]", "[null, {\"name\": \"core\"}, null]")))
  }

  test("authors: null, name only, display name only, both, neither") {
    val authors = Seq("null", """{"name": "nameonly"}""",
      """{"displayName": "Disp"}""", """{"displayName": "D", "name": "n"}""",
      "{}", """{"displayName": null, "name": null}""", null)
    diff(authors.map(a => line(
      s"[${comment(a, str("2024-01-01"), str("body"))}]", "[]")))
  }

  test("created null or absent; whitespace-only, empty and null bodies") {
    val bodies = Seq(str("   "), str("\t\n\u3000"), str(""), "null", null,
      str("  kept  body "))
    val createds = Seq("null", null, str("2024-02-02"))
    diff(for (b <- bodies; cr <- createds) yield line(
      s"[${comment("""{"displayName": "A"}""", cr, b)}]", "[]"))
    // mixed: dropped comments between kept ones keep the kept order
    diff(Seq(line(Seq(str("one"), str(" "), "null", str("two"), str("\n"), str("three"))
      .map(b => comment("null", str("c"), b)).mkString("[", ", ", "]"), "[]")))
  }

  test("bodies of 10,000 and 10,001 code points; surrogate pair at the cut") {
    val emoji = "\ud83d\ude00"
    val bodies = Seq(
      "a" * MaxCommentLength,
      "a" * (MaxCommentLength + 1),
      "  " + "a" * MaxCommentLength + " \t ",
      "a" * (MaxCommentLength - 1) + emoji,
      "a" * (MaxCommentLength - 1) + emoji + "b",
      "a" * MaxCommentLength + emoji,
      "a" * (MaxCommentLength - 2) + emoji + emoji + emoji,
      (emoji + " ") * (MaxCommentLength / 2))
    diff(bodies.map(b =>
      line(s"[${comment("""{"name": "n"}""", str("t"), str(b))}]", "[]")))
  }

  test("name objects: null name, absent name, empty name, null element") {
    diff(Seq(
      line("[]", """[{"name": null}]"""),
      line("[]", """[{}]"""),
      line("[]", """[{"name": ""}, {"name": "core"}, null, {"name": null}]"""),
      line("[]", """[{"name": "a"}, {"name": "b"}, {"name": "c"}]""")))
  }

  test("property: kernels == composed forms on seeded random arrays") {
    def orNullOrAbsent(g: Gen[String]): Gen[String] =
      Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const("null"), 4 -> g)
    val text = Gen.listOf(Gen.frequency(
        3 -> Gen.alphaNumStr.map(_.take(5)),
        2 -> Gen.oneOf(" ", "  ", "\t", "\n", "\u00a0", "\u3000"),
        1 -> Gen.oneOf("\u00e9", "\ud83d\ude00", "\u4e2d")))
      .map(_.mkString)
    val user = Gen.frequency(
      1 -> Gen.const("null"),
      4 -> (for {
        d <- orNullOrAbsent(Gen.alphaStr.map(s => str(s.take(4))))
        n <- orNullOrAbsent(Gen.alphaStr.map(s => str(s.take(4))))
      } yield obj("displayName" -> d, "name" -> n)))
    val cmt = Gen.frequency(1 -> Gen.const("null"), 8 -> (for {
      a <- orNullOrAbsent(user)
      cr <- orNullOrAbsent(Gen.numStr.map(s => str(s.take(8))))
      b <- orNullOrAbsent(text.map(str))
    } yield comment(a, cr, b)))
    val nameObj = Gen.frequency(1 -> Gen.const("null"),
      5 -> orNullOrAbsent(text.map(s => str(s.take(6))))
        .map(n => if (n == null) "{}" else s"""{"name": $n}"""))
    def arr(g: Gen[String]): Gen[String] =
      orNullOrAbsent(Gen.listOf(g).map(_.take(6).mkString("[", ", ", "]")))
    val lineGen = for { c <- arr(cmt); n <- arr(nameObj) } yield line(c, n)
    val lines = Gen.listOfN(300, lineGen)
      .apply(Gen.Parameters.default.withSize(12), Seed(20261018L)).get
    diff(lines)
  }
}
