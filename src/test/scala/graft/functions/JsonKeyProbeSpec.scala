package graft.functions

import graft.SparkSpec
import graft.jira.JiraPipeline
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass [[JsonKeyProbe]] must equal the composed builtins it
  * replaced (kept below as the reference):
  * `json_object_keys(get_json_object(v, "$.fields"))` and
  * `json_object_keys(v)` — including every quirk of that pair on
  * absent, null, non-object, duplicated and malformed input. Both the
  * codegen path (a non-local scan) and interpreted `eval` are checked.
  */
class JsonKeyProbeSpec extends AnyFunSuite with SparkSpec {

  private def composedFields(v: Column): Column =
    json_object_keys(get_json_object(v, "$.fields"))

  private def composedTop(v: Column): Column = json_object_keys(v)

  private def keys(a: Any): Option[Seq[String]] =
    Option(a).map(_.asInstanceOf[scala.collection.Seq[String]].toSeq)

  private def diff(lines: Seq[String]): Unit = {
    val rows = spark.sparkContext.parallelize(lines.map(Row(_)), 4)
    val df = spark.createDataFrame(rows,
      StructType(Seq(StructField("v", StringType))))
    val probe = JsonKeyProbe.keyProbe(col("v"))
    val got = df
      .select(col("v"),
        probe.getField(JsonKeyProbe.FieldsKeys),
        composedFields(col("v")),
        probe.getField(JsonKeyProbe.TopKeys),
        composedTop(col("v")))
      .collect()
    assert(got.length == lines.length)
    got.foreach { r =>
      val line = r.getString(0)
      assert(keys(r.get(1)) == keys(r.get(2)), s"fields keys of [$line]")
      assert(keys(r.get(3)) == keys(r.get(4)), s"top keys of [$line]")
      val interp = JsonKeyProbe(Literal.create(line, StringType)).eval()
      val (f, t) =
        if (interp == null) (None, None)
        else {
          val row = interp.asInstanceOf[InternalRow]
          def arr(i: Int) =
            if (row.isNullAt(i)) None
            else Some(row.getArray(i).toSeq[AnyRef](StringType).map(_.toString))
          (arr(0), arr(1))
        }
      assert(f == keys(r.get(2)), s"interpreted fields keys of [$line]")
      assert(t == keys(r.get(4)), s"interpreted top keys of [$line]")
    }
  }

  test("absent, null, scalar, array and string-held fields") {
    diff(JsonKeyProbeSpec.FieldsShapes)
  }

  test("duplicate keys at both levels, escaped and quoted key names") {
    diff(JsonKeyProbeSpec.Duplicates)
  }

  test("malformed objects, trailing garbage and non-object lines") {
    diff(JsonKeyProbeSpec.Malformed)
  }

  test("the JIRA fixture lines") {
    val lines = JiraPipeline.fixtureProjects.flatMap { case (_, path) =>
      scala.io.Source.fromFile(path, "UTF-8").getLines().toSeq
    }
    assert(lines.nonEmpty)
    diff(lines)
  }

  test("property: probe == composed pair on random, mutated JSON") {
    diff(JsonKeyProbeSpec.Mutated)
  }
}

/** The key-probe cases, shared with JiraDecodeSpec, which checks the
  * one-pass decode against `from_json` plus this probe on them.
  */
object JsonKeyProbeSpec {
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  val FieldsShapes: Seq[String] = Seq(
    null,
    """{"key":"A-1","id":"1"}""",
    """{"key":"A-1","fields":null}""",
    """{"fields":{}}""",
    """{"fields":1}""",
    """{"fields":true}""",
    """{"fields":"plain text"}""",
    """{"fields":""}""",
    """{"fields":[{"status":null}]}""",
    """{"fields":"{\"status\":null,\"b\":[1,{\"c\":2}]}"}""",
    """{"fields":"[1,2]"}""",
    """{"fields":"{\"a\":1"}""",
    """{"x":{"fields":{"q":1}},"fields":{"r":{"fields":2}}}""",
    """{"key":"A-2","fields":{"status":null,"priority":{"name":"P"},"comment":{"comments":[]}}}"""
  )

  val Duplicates: Seq[String] = Seq(
    """{"a":1,"a":2,"fields":{"x":1,"x":{"y":2}}}""",
    """{"fields":null,"fields":{"s":1}}""",
    """{"fields":{"a":1},"fields":{"b":2}}""",
    """{"fields":{"a":1},"fields":null}""",
    """{"fields":3,"fields":{"b":2}}""",
    """{"fields":{"st\"atus":1,"é":2,"t\\ab":3}}""",
    """{'fields':{'a':1,"b":'x'},'k':'v'}""",
    "{\"fields\":{\"a\":\"line\nbreak\"},\"t\":\"\ttab\"}",
    """{"fields":{"é":1},"ü":"ß","中":{"文":[1]}}"""
  )

  val Malformed: Seq[String] = Seq(
    """{"fields":{"a":1,}}""",
    """{"fields":{"a":1},"b":}""",
    """{"fields":{"a" 1}}""",
    """{"fields":{"a":1}""",
    """{"fields":{"a":1},"b":[1,2}""",
    """{"b":tru,"fields":{"a":1}}""",
    """{"fields":{"a":1}} trailing""",
    """{"a":1}}}""",
    """{"a":1} {"b":2}""",
    """{"fields":{"a":1}},""",
    """[1,2]""",
    """[{"fields":{"a":1}}]""",
    """"str"""",
    "42",
    "null",
    "",
    "   ",
    "{",
    "}",
    "\u0000{\"a\":1}",
    "{\"a\":\"x\u0000y\",\"fields\":{\"b\":1}}",
    "{\"a\":\"ÿ\"}"
  )

  /** 600 random objects (distinct), some cut, spliced or padded. */
  lazy val Mutated: Seq[String] = {
    val keyNames = Gen.oneOf("fields", "fields", "key", "a", "status",
      "x\\\"y", "\\u00e9", "", "comment")
    val scalar = Gen.oneOf("1", "-2.5e3", "true", "false", "null",
      "\"s\"", "\"\"", "\"{\\\"k\\\":1}\"", "'q'")
    def value(depth: Int): Gen[String] =
      if (depth <= 0) scalar
      else Gen.frequency(
        3 -> scalar,
        2 -> obj(depth - 1),
        1 -> Gen.listOf(value(depth - 1)).map(_.take(3).mkString("[", ",", "]"))
      )
    def obj(depth: Int): Gen[String] =
      Gen.listOf(for (k <- keyNames; v <- value(depth)) yield s""""$k":$v""")
        .map(_.take(5).mkString("{", ",", "}"))
    val mutated = for {
      line <- obj(3)
      kind <- Gen.choose(0, 5)
      at <- Gen.choose(0, math.max(0, line.length - 1))
      junk <- Gen.oneOf("}", "{", ",", "]", "\"", ":", "x", " 1")
    } yield kind match {
      case 0 => line.take(at)
      case 1 => line.take(at) + junk + line.drop(at)
      case 2 => line.take(at) + line.drop(at + 1)
      case 3 => line + junk
      case _ => line
    }
    val samples = Gen.listOfN(600, mutated)
      .apply(Gen.Parameters.default.withSize(12), Seed(20261017L)).get
    samples.distinct
  }
}
