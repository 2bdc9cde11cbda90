package graft.jira

import com.fasterxml.jackson.core.JsonToken
import graft.SparkSpec
import graft.functions.{JiraDecode, JsonKeyProbe, JsonKeyProbeSpec}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** One adversarial set of issue texts, read both ways the pipeline
  * reads JIRA data: as JSONL lines through [[JiraPipeline.readRaw]]
  * and as stub pages (plus point lookups) through the `jira` source.
  * Both must decode every issue the same way — same flattened rows,
  * same P5 drops — and neither may invent an issue from a line or
  * page element that is not a JSON object. Both run the one-pass
  * [[JiraDecode]] kernel, checked here against the composed form it
  * replaced: `from_json` for the values and [[JsonKeyProbe]] for the
  * key sets.
  */
class JiraDecodeSpec extends AnyFunSuite with SparkSpec {

  private def issue(key: String, fields: String): String =
    s"""{"key":"$key","id":"${key.drop(2)}","fields":$fields}"""

  private val core =
    """"status":{"name":"Open"},"priority":{"name":"Major"},"issuetype":{"name":"Bug"}"""

  private val valid = issue("T-1", s"""{"summary":"A  leak","description":"in <b>pool</b>",$core,
    "labels":["mem"],"components":[{"name":"core"}],"versions":[],"fixVersions":[{"name":"2.0"}],
    "reporter":{"displayName":"Ann"},"created":"2024-01-02T00:00:00.000+0000",
    "comment":{"comments":[{"author":{"name":"bob"},"created":"c","body":" Fixed  it "}]}}""")
    .replace("\n", "")

  private val malformed = Seq(
    """{"key":"T-90","id":"90","fields":{BROKEN""",
    """{"key":"T-91","id":"91","fields":{"summary":"cut off"""")

  private val nonObjects = Seq("42", "[1,2]", "\"text\"", "null")

  /** Every case, in file order. A syntax error ends its page's walk,
    * so each malformed text sits last in a page of two.
    */
  private val texts: Seq[String] = Seq(
    valid,
    malformed(0),
    issue("T-2", """{"summary":"absent keys default"}"""),
    malformed(1)
  ) ++ Seq("status", "priority", "issuetype", "comment", "components",
    "versions", "fixVersions", "labels").zipWithIndex.map { case (f, i) =>
    issue(s"T-${3 + i}", s"""{"summary":"explicit null $f",$core,"$f":null}""")
  } ++ Seq(
    nonObjects(0),
    issue("T-20", """{"summary":"mismatched","status":"Open"}"""),
    nonObjects(1),
    s"""{"key":"T-21","id":"21","fields":{$core},"fields":{"summary":"no status"}}""",
    nonObjects(2),
    issue("T-22", """{"summary":"dup null first","status":null,"status":{"name":"Open"}}"""),
    nonObjects(3),
    issue("T-23", """{"summary":"dup null last","status":{"name":"Open"},"status":null}"""),
    """{"key":"T-24","id":"24","fields":null,"fields":{"summary":"null then object"}}""",
    issue("T-25", "\"{\\\"status\\\":{\\\"name\\\":\\\"Open\\\"}}\""),
    issue("T-26", "null")
  )

  private val blanks = Seq("", "   ", "\t")

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-decode")
    def write(name: String, body: String): Unit =
      Files.write(d.resolve(name), body.getBytes("UTF-8"))
    write("raw.jsonl", (texts.patch(3, blanks, 0) :+ "").mkString("\n"))
    texts.grouped(2).zipWithIndex.foreach { case (page, i) =>
      write(s"search_${2 * i}.json",
        s"""{"startAt":${2 * i},"maxResults":2,"total":${texts.length},""" +
          s""""issues":[${page.mkString(",")}]}""")
    }
    keys.foreach(k => write(s"issue_$k.json",
      texts.find(_.contains(s""""key":"$k"""")).get))
    d
  }

  private def keys: Seq[String] =
    texts.flatMap(t => """"key":"(T-\d+)"""".r.findFirstMatchIn(t).map(_.group(1)))

  private def source: DataFrame =
    spark.read.format("jira").option("stubDir", dir.toString)
      .option("project", "T").option("pageSize", 2).load()

  private def rows(df: DataFrame) =
    JiraFlatten.flatten(df, "T").orderBy(col("issue_key")).collect().toSeq

  test("source pages, point lookups and readRaw flatten to the same rows") {
    val viaRaw = rows(JiraPipeline.readRaw(spark, dir.resolve("raw.jsonl").toString))
    assert(rows(source) == viaRaw)
    assert(rows(source.where(col("key").isin(keys :+ "T-404": _*))) == viaRaw)
    // no phantom issue from a line or element that is not an object
    assert(!viaRaw.exists(_.getAs[String]("issue_key") == ""))
    // P5: explicit null (or a mismatched type) in a crash field or in
    // `fields` drops the issue; `labels` null passes through; an absent
    // key defaults; duplicate keys take the last value, and the key sets
    // come from the same `fields` member (T-21 keeps its second one,
    // which has no `status`)
    val kept = viaRaw.map(r => r.getAs[String]("issue_key") -> r).toMap
    assert(kept.keySet == Set("T-1", "T-2", "T-10", "T-21", "T-22", "T-24"))
    assert(kept("T-1").getAs[String]("title") == "A leak" &&
      kept("T-1").getAs[Int]("comment_count") == 1)
    assert(kept("T-2").getAs[String]("status") == "Unknown")
    assert(kept("T-10").isNullAt(kept("T-10").fieldIndex("labels")))
    assert(kept("T-21").getAs[String]("status") == "Unknown" &&
      kept("T-21").getAs[String]("title") == "no status")
    assert(kept("T-22").getAs[String]("status") == "Open")
    assert(kept("T-24").getAs[String]("title") == "null then object")
  }

  test("quarantined holds exactly the non-blank lines that are not objects") {
    val q = JiraPipeline.quarantined(spark, dir.resolve("raw.jsonl").toString)
      .collect().map(_.getString(0)).toSeq
    assert(q.sorted == (malformed ++ nonObjects).sorted)
  }

  test("neither read persists an RDD") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    rows(source)
    rows(JiraPipeline.readRaw(spark, dir.resolve("raw.jsonl").toString))
    JiraPipeline.quarantined(spark, dir.resolve("raw.jsonl").toString).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before))
  }

  test("an object without `key` is kept with issue_key \"\" and fans out") {
    // the reference reads issue.get("key", "") and defaults every absent
    // field (scraper.py:204; SURVEY §1.3); no crash field is null, so
    // P5 keeps the issue and transform_issue emits its examples
    val texts = Seq("{}", """{"id":"7","fields":{"summary":"no key"}}""")
    val d = Files.createTempDirectory("graft-keyless")
    Files.write(d.resolve("raw.jsonl"), texts.mkString("\n").getBytes("UTF-8"))
    Files.write(d.resolve("search_0.json"),
      s"""{"startAt":0,"maxResults":2,"total":2,"issues":[${texts.mkString(",")}]}"""
        .getBytes("UTF-8"))
    val flat = JiraFlatten.flatten(
      JiraPipeline.readRaw(spark, d.resolve("raw.jsonl").toString), "T")
    val viaSource = JiraFlatten.flatten(spark.read.format("jira")
      .option("stubDir", d.toString).option("project", "T").load(), "T")
    val byId = flat.orderBy(col("issue_id")).collect().toSeq
    assert(viaSource.orderBy(col("issue_id")).collect().toSeq == byId)
    assert(byId.map(r => (r.getAs[String]("issue_id"), r.getAs[String]("issue_key"),
      r.getAs[String]("title"), r.getAs[String]("status"))) ==
      Seq(("", "", "", "Unknown"), ("7", "", "no key", "Unknown")))
    // {} → the two QA rows that always fire; "no key" adds
    // classification and status_prediction (title set, "Unknown" priority)
    val tasks = JiraGenerators.generate(flat).select(col("task_type"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(tasks == Seq("classification", "question_answering",
      "question_answering", "question_answering", "question_answering",
      "status_prediction"))
  }

  /** Lines with a raw control character inside a string. The composed
    * form's probe accepted them and `from_json` rejected them, giving a
    * row of nulls (dropped by P5, or a phantom issue_key ""); the
    * kernel's walk rejects them, so they are quarantined.
    */
  private val rawControl = Seq(
    "{\"fields\":{\"a\":\"line\nbreak\"},\"t\":\"\ttab\"}",
    "{\"a\":\"x\u0000y\",\"fields\":{\"b\":1}}")

  /** The `fields` key rule on its own: the keys of the last `fields`
    * member holding an object; none after a last JSON null; any other
    * member leaves the earlier verdict.
    */
  private def lastFieldsKeys(line: String): Option[Seq[String]] = {
    val p = JiraDecode.factory.createParser(line)
    try {
      var keys: Option[Seq[String]] = None
      p.nextToken()
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        p.nextToken() match {
          case JsonToken.START_OBJECT if name == "fields" =>
            val ks = Seq.newBuilder[String]
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              ks += p.currentName
              p.nextToken()
              p.skipChildren()
            }
            keys = Some(ks.result())
          case JsonToken.VALUE_NULL if name == "fields" => keys = None
          case _ => p.skipChildren()
        }
      }
      keys
    } finally p.close()
  }

  /** The kernel against the composed form, over a non-local scan in
    * codegen and again interpreted: it emits an issue for exactly the
    * lines the probe finds an object in (less the `rawControl` lines),
    * its values are `from_json`'s, its top keys the probe's, and its
    * `fields` keys follow [[lastFieldsKeys]], which is the probe's
    * rule wherever a line has one `fields` member and it holds no
    * string.
    */
  private def diff(lines: Seq[String]): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(lines.map(Row(_)), 4),
      StructType(Seq(StructField("v", StringType))))
    val v = col("v")
    def run() = df.select(v, JiraDecode.decode(v),
      from_json(v, JiraSchemas.rawIssueSchema), JsonKeyProbe.keyProbe(v)).collect()
    def keys(r: Row, i: Int) = Option(r.getSeq[String](i)).map(_.toSeq)
    for (got <- Seq(run(), interpreted(run()))) {
      assert(got.length == lines.length)
      got.foreach { r =>
        val line = r.getString(0)
        if (line == null) assert(r.isNullAt(1))
        else {
          val issues = r.getSeq[Row](1)
          val probe = r.getStruct(3)
          if (probe.isNullAt(1) || rawControl.contains(line))
            assert(issues.isEmpty, s"an issue from [$line]")
          else {
            assert(issues.length == 1, s"no issue from [$line]")
            val issue = issues.head
            assert(Row(issue.get(0), issue.get(1), issue.get(2)) == r.getStruct(2),
              s"values of [$line]")
            assert(keys(issue, 4) == keys(probe, 1), s"top keys of [$line]")
            assert(keys(issue, 3) == lastFieldsKeys(line), s"fields keys of [$line]")
            val fieldsHeldString = !probe.isNullAt(0) && r.getStruct(2).isNullAt(2)
            if (keys(probe, 1).get.count(_ == "fields") <= 1 && !fieldsHeldString)
              assert(keys(issue, 3) == keys(probe, 0), s"probe fields keys of [$line]")
          }
        }
      }
    }
  }

  test("kernel == from_json + JsonKeyProbe on the adversarial and fixture lines") {
    val fixtures = JiraPipeline.fixtureProjects.flatMap { case (_, path) =>
      scala.io.Source.fromFile(path, "UTF-8").getLines().toSeq
    }
    diff(texts ++ blanks ++ fixtures ++ JsonKeyProbeSpec.FieldsShapes ++
      JsonKeyProbeSpec.Duplicates ++ JsonKeyProbeSpec.Malformed)
  }

  test("kernel == from_json + JsonKeyProbe on 600 random, mutated objects") {
    assert(!JsonKeyProbeSpec.Mutated.exists(_.exists(_ < ' ')))
    diff(JsonKeyProbeSpec.Mutated)
  }

  test("a raw control character inside a string quarantines the line") {
    val d = Files.createTempDirectory("graft-control")
    val path = d.resolve("raw.jsonl")
    // a raw newline would split a JSONL line, so every line holds it
    // escaped; the raw TAB and NUL lines stay malformed
    val escaped = rawControl.head.replace("\n", "\\n").replace("\t", "\\t")
    Files.write(path, (rawControl.map(_.replace("\n", "\\n")) :+ escaped)
      .mkString("\n").getBytes("UTF-8"))
    assert(JiraPipeline.readRaw(spark, path.toString).count() == 1)
    assert(JiraPipeline.quarantined(spark, path.toString).count() == 2)
  }

  test("raw bytes: invalid UTF-8, a BOM and a leading NUL read as from_json reads them") {
    // Spark's text scan keeps a line's bytes as they are; the kernel
    // decodes them to characters as `from_json` does, so a malformed
    // sequence reads as U+FFFD on both
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def obj(summary: Array[Byte]): Array[Byte] =
      """{"key":"B-1","fields":{"summary":"""".getBytes("UTF-8") ++ summary ++
        "\"}}".getBytes("UTF-8")
    val lines = Seq(
      obj("plain é 中 😀".getBytes("UTF-8")),
      obj(bytes(0x61, 0xFF, 0x62)),                // invalid start byte
      obj(bytes(0xC3)),                            // cut sequence
      obj(bytes(0xED, 0xA0, 0x80)),                // encoded surrogate
      obj(bytes(0xC0, 0xAF)),                      // overlong
      bytes(0xEF, 0xBB, 0xBF) ++ obj(bytes(0x78)), // UTF-8 BOM
      bytes(0x7B, 0x00, 0x7D),                     // `{` then NUL
      " ".getBytes("UTF-8") ++ obj(bytes(0x78)))   // leading space
    val path = Files.createTempDirectory("graft-bytes").resolve("raw.jsonl")
    Files.write(path, lines.reduce(_ ++ "\n".getBytes("UTF-8") ++ _))
    val v = col("value")
    def run() = spark.read.text(path.toString)
      .select(JiraDecode.decode(v), from_json(v, JiraSchemas.rawIssueSchema)).collect()
    for (got <- Seq(run(), interpreted(run()))) {
      assert(got.length == lines.length)
      got.zipWithIndex.foreach { case (r, i) =>
        val issues = r.getSeq[Row](0)
        val parsed = r.getStruct(1)
        assert(issues.nonEmpty == (parsed != null && parsed.toSeq.exists(_ != null)), s"line $i: $r")
        if (issues.nonEmpty)
          assert(Row(issues.head.get(0), issues.head.get(1), issues.head.get(2)) == parsed,
            s"line $i: $r")
      }
      // the valid line, the four repaired ones and the indented one
      // decode; `{` then NUL does not
      val decoded = got.map(_.getSeq[Row](0).nonEmpty).toSeq
      assert(decoded.take(5).forall(identity) && !decoded(6) && decoded(7), decoded)
    }
  }

  test("readRaw evaluates the decode once per line") {
    val (proj, path) = JiraPipeline.fixtureProjects.head
    val plan = JiraFlatten.flatten(JiraPipeline.readRaw(spark, path), proj)
      .queryExecution.executedPlan.toString
    assert("jira_decode\\(".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("a syntax error mid-page: the issues it cuts off are a scan metric") {
    val d = Files.createTempDirectory("graft-lost")
    def write(name: String, body: String): Unit =
      Files.write(d.resolve(name), body.getBytes("UTF-8"))
    val ok = (1 to 8).map(i => issue(s"L-$i", s"""{"summary":"s$i"}"""))
    // page 0 breaks inside its third element: L-3 and L-4 are lost
    write("search_0.json", """{"startAt":0,"maxResults":4,"total":8,"issues":[""" +
      Seq(ok(0), ok(1), """{"key":"L-3","fields":{BROKEN}""", ok(3)).mkString(",") + "]}")
    write("search_4.json", """{"startAt":4,"maxResults":4,"total":8,"issues":[""" +
      ok.drop(4).mkString(",") + "]}")
    write("issue_L-1.json", ok(0))
    write("issue_L-9.json", """{"key":"L-9",""")
    def scan(df: DataFrame): (Seq[String], Long, Long) = {
      val q = df.select(col("key"))
      val keys = q.collect().map(_.getString(0)).sorted.toSeq
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val m = plan.collectFirst { case b: BatchScanExec => b.metrics }.get
      (keys, m("issuesRead").value, m("issuesLost").value)
    }
    val pages = spark.read.format("jira").option("stubDir", d.toString)
      .option("project", "L").option("pageSize", 4).load()
    assert(scan(pages) == ((Seq(1, 2, 5, 6, 7, 8).map(i => s"L-$i"), 6L, 2L)))
    // a point lookup whose body is malformed loses its one issue
    assert(scan(pages.where(col("key").isin("L-1", "L-9"))) == ((Seq("L-1"), 1L, 1L)))
  }
}
