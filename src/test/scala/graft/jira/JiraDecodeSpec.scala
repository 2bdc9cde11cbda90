package graft.jira

import graft.SparkSpec
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** One adversarial set of issue texts, read both ways the pipeline
  * reads JIRA data: as JSONL lines through [[JiraPipeline.readRaw]]
  * and as stub pages (plus point lookups) through the `jira` source.
  * Both must decode every issue the same way — same flattened rows,
  * same P5 drops — and neither may invent an issue from a line or
  * page element that is not a JSON object.
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
    // key defaults; duplicate keys take the last value, probes the first
    // non-null `fields` member
    val kept = viaRaw.map(r => r.getAs[String]("issue_key") -> r).toMap
    assert(kept.keySet == Set("T-1", "T-2", "T-10", "T-22", "T-24"))
    assert(kept("T-1").getAs[String]("title") == "A leak" &&
      kept("T-1").getAs[Int]("comment_count") == 1)
    assert(kept("T-2").getAs[String]("status") == "Unknown")
    assert(kept("T-10").isNullAt(kept("T-10").fieldIndex("labels")))
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
}
