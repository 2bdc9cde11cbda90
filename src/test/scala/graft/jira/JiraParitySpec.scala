package graft.jira

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity suite (SURVEY §5.2): every stage of the Jira
  * pipeline is compared against goldens produced by EXECUTING the
  * reference implementation on the checked-in fixtures
  * (tools/make_jira_fixtures.py). Mirrors test_scrapper.py's cases
  * plus the edge-case fixture variants from FIXTURES.md.
  */
class JiraParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = JiraPipeline.FixtureDir

  private def flattenedGolden(proj: String): Seq[IssueRecord] = {
    implicit val enc = Encoders.product[IssueRecord]
    spark.read
      .schema(enc.schema)
      .json(s"$dir/golden_flattened_$proj.jsonl")
      .as[IssueRecord]
      .collect()
      .toSeq
      .sortBy(_.issue_key)
  }

  private def examplesGolden(proj: String): Seq[TrainingExample] = {
    implicit val enc = Encoders.product[TrainingExample]
    spark.read
      .schema(enc.schema)
      .json(s"$dir/golden_examples_$proj.jsonl")
      .as[TrainingExample]
      .collect()
      .toSeq
  }

  private def flattenOurs(proj: String): Seq[IssueRecord] = {
    implicit val enc = Encoders.product[IssueRecord]
    JiraFlatten
      .flatten(
        JiraPipeline.readRaw(spark, s"$dir/raw_issues_$proj.jsonl"),
        proj
      )
      .as[IssueRecord]
      .collect()
      .toSeq
      .sortBy(_.issue_key)
  }

  // --- clean_text parity (test_scrapper.py:32-44) ---

  private def clean(s: String, maxLen: Option[Int] = None): String = {
    import spark.implicits._
    val c = maxLen
      .map(l => TextFunctions.cleanText(col("v"), l))
      .getOrElse(TextFunctions.cleanText(col("v")))
    Seq(s).toDF("v").select(c).as[String].head()
  }

  test("clean_text collapses whitespace and trims") {
    assert(clean("  hello   world  ") == "hello world")
    assert(clean("line1\n\nline2\t\ttab") == "line1 line2 tab")
    assert(clean("") == "")
  }

  test("clean_text truncation appends ellipsis, len == max+3") {
    val r = clean("a" * 50, Some(10))
    assert(r == "a" * 10 + "...")
    assert(r.length == 13)
    assert(clean("short", Some(10)) == "short")
  }

  test("clean_text null → empty string") {
    import spark.implicits._
    val r = Seq[Option[String]](None)
      .toDF("v")
      .select(TextFunctions.cleanText(col("v")))
      .as[String]
      .head()
    assert(r == "")
  }

  // --- flatten parity (scraper.py:190-259) ---

  test("flatten matches reference goldens (TEST)") {
    val ours = flattenOurs("TEST")
    val golden = flattenedGolden("TEST")
    assert(ours.map(_.issue_key) == golden.map(_.issue_key))
    ours.zip(golden).foreach { case (o, g) => assert(o == g, s"\n$o\nvs\n$g") }
  }

  test("flatten matches reference goldens (TEST2, incl. 20k truncation)") {
    val ours = flattenOurs("TEST2")
    val golden = flattenedGolden("TEST2")
    assert(ours == golden)
    val big = ours.find(_.issue_key == "T2-2").get
    assert(big.description.length == JiraFlatten.MaxDescriptionLength + 3)
    assert(big.description.endsWith("..."))
    assert(big.comments.head.body.length == JiraFlatten.MaxCommentLength + 3)
  }

  test("flatten drops null-object issues and filters empty comments") {
    val ours = flattenOurs("TEST")
    assert(!ours.exists(_.issue_key == "TEST-5")) // null priority → drop
    val t7 = ours.find(_.issue_key == "TEST-7").get
    assert(t7.comment_count == 1 && t7.comments.map(_.author) == Seq("Rae"))
    val t6 = ours.find(_.issue_key == "TEST-6").get
    assert(t6.priority == "Unknown") // empty object → default
    assert(t6.reporter == "nameonly") // name-only user object
    assert(t6.title == "hello world") // whitespace collapse
  }

  test("absent key is kept with default; explicit null drops (P5)") {
    val ours = flattenOurs("TEST")
    // TEST-9's `status` KEY is entirely absent: the reference keeps it
    // with "Unknown" (fields.get("status", {}) — scraper.py:217);
    // TEST-5's explicit null crashes the extract and drops.
    val t9 = ours.find(_.issue_key == "TEST-9").get
    assert(t9.status == "Unknown")
    assert(t9.priority == "Minor")
    // TEST-10's `comment` is explicit JSON null → AttributeError in
    // the reference → dropped (scraper.py:316-318).
    assert(!ours.exists(_.issue_key == "TEST-10"))
  }

  // --- generator parity (transformer.py:214-274) ---

  test("generated examples match reference goldens, in order") {
    implicit val enc = Encoders.product[TrainingExample]
    for (proj <- Seq("TEST", "TEST2")) {
      val ours = JiraPipeline
        .orderedCorpus(spark, Seq(proj -> s"$dir/raw_issues_$proj.jsonl"))
        .select(col("task_type"), col("instruction"), col("input"),
          col("output"), col("metadata"))
        .as[TrainingExample]
        .collect()
        .toSeq
      val golden = examplesGolden(proj)
      assert(ours.size == golden.size, s"$proj size")
      ours.zip(golden).zipWithIndex.foreach { case ((o, g), i) =>
        assert(o == g, s"\n$proj[$i]\n$o\nvs\n$g")
      }
    }
  }

  /** Column-expression generator output, asserted equal to the typed
    * flatMap twin's on the same flattened issues.
    */
  private def generateBothWays(flat: DataFrame): Seq[TrainingExample] = {
    implicit val enc = Encoders.product[TrainingExample]
    val colForm = JiraGenerators
      .generate(flat)
      .select(col("task_type"), col("instruction"), col("input"),
        col("output"), col("metadata"))
      .as[TrainingExample]
      .collect()
      .toSeq
      .sortBy(e => (e.metadata.issue_key, e.task_type, e.input))
    val typedForm = JiraGeneratorsTyped
      .generate(flat.as[IssueRecord](Encoders.product[IssueRecord]))
      .collect()
      .toSeq
      .sortBy(e => (e.metadata.issue_key, e.task_type, e.input))
    assert(colForm == typedForm)
    colForm
  }

  test("column-expression generator ≡ typed flatMap twin") {
    for (proj <- Seq("TEST", "TEST2"))
      generateBothWays(JiraFlatten.flatten(
        JiraPipeline.readRaw(spark, s"$dir/raw_issues_$proj.jsonl"),
        proj
      ))
  }

  test("issue_resolution keeps the only comment (≡ typed twin)") {
    val issue = IssueRecord("R-1", "1", "R", "u", "Fix the leak",
      "Leaks on close.", "Resolved", "Major", "Bug", "Ann", "Bob",
      "2024-01-01T00:00:00.000+0000", "2024-01-02T00:00:00.000+0000",
      "2024-01-03T00:00:00.000+0000", Nil, Nil, Nil, Nil,
      Seq(IssueComment("Bob", "2024-01-02T00:00:00.000+0000",
        "Closed the stream in finally.")), 1)
    // a non-local scan, so the generators run as compiled code
    val flat = spark.createDataset(spark.sparkContext.parallelize(Seq(issue)))(
      Encoders.product[IssueRecord]).toDF()
    val out = generateBothWays(flat)
    assert(out.filter(_.task_type == "issue_resolution").map(_.output) ==
      Seq("Closed the stream in finally."))
  }

  test("fan-out per issue is 2..7 rows with fixed emission order") {
    val byIssue = JiraPipeline
      .corpus(spark, JiraPipeline.fixtureProjects)
      .groupBy(col("issue_key"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(byIssue.values.forall(n => n >= 2 && n <= 7))
    assert(byIssue("TEST-3") == 7L) // all generators fire
    assert(byIssue("TEST-2") == 4L) // no summ (no desc/comments), no QA3
  }

  // --- stats parity (transformer.py:316-357) ---

  test("per-project stats match reference goldens") {
    val stats = JiraStats
      .perProject(
        JiraPipeline
          .corpus(spark, JiraPipeline.fixtureProjects)
      )
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    val t = stats("TEST")
    assert(t.getAs[Long]("total_examples") == 45L)
    assert(
      t.getAs[collection.Map[String, Long]]("task_type_distribution").toMap ==
        Map("summarization" -> 7L, "classification" -> 7L,
          "status_prediction" -> 7L, "question_answering" -> 22L,
          "issue_resolution" -> 2L)
    )
    assert(t.getAs[collection.Seq[String]]("statuses").toSeq ==
      Seq("Closed", "In Progress", "Open", "Resolved", "Unknown"))
    val t2 = stats("TEST2")
    assert(t2.getAs[Long]("total_examples") == 13L)
    assert(t2.getAs[collection.Seq[String]]("priorities").toSeq == Seq("Blocker", "Minor"))
  }

  test("combined stats: field-set parity with combined_statistics.json") {
    import org.apache.spark.sql.Row
    import spark.implicits._
    val per = JiraStats.perProject(
      JiraPipeline.corpus(spark, JiraPipeline.fixtureProjects)
    )
    val counts = Seq(("TEST", 8L), ("TEST2", 2L))
      .toDF("project", "raw_issues_count")
    val df = JiraStats.combined(per, counts, Some(1.25))
    // reference combined_statistics.json keys (main.py:99-106)
    assert(df.columns.toSet == Set("total_examples", "total_issues",
      "projects_processed", "projects", "per_project_stats",
      "processing_time_seconds"))
    val c = df.collect()(0)
    assert(c.getAs[Long]("total_examples") == 58L)
    assert(c.getAs[Long]("total_issues") == 10L)
    assert(c.getAs[Long]("projects_processed") == 2L)
    assert(c.getAs[collection.Seq[String]]("projects").toSeq == Seq("TEST", "TEST2"))
    assert(c.getAs[Double]("processing_time_seconds") == 1.25)
    // per_project_stats embeds each project's full stats record
    // (generate_statistics keys + project + raw_issues_count,
    // main.py:66-69), ordered by project
    val pps = c.getAs[collection.Seq[Row]]("per_project_stats")
    assert(pps.map(_.getAs[String]("project")) == Seq("TEST", "TEST2"))
    val t = pps.head
    assert(t.schema.fieldNames.toSet == Set("project", "total_examples",
      "task_type_distribution", "projects", "issue_types", "priorities",
      "statuses", "raw_issues_count"))
    assert(t.getAs[Long]("total_examples") == 45L)
    assert(t.getAs[Long]("raw_issues_count") == 8L)
    assert(pps(1).getAs[Long]("total_examples") == 13L)
    assert(pps(1).getAs[Long]("raw_issues_count") == 2L)
  }

  test("file size MB (F7): bytes / 1024^2, 0.0 when missing") {
    val dir = java.nio.file.Files.createTempDirectory("sizemb")
    val f = dir.resolve("data.jsonl")
    java.nio.file.Files.write(f, new Array[Byte](524288)) // 0.5 MiB
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), new Array[Byte](99))
    assert(graft.io.Sinks.fileSizeMb(f.toString) == 0.5)
    // directory form sums data files, skips marker files
    assert(graft.io.Sinks.fileSizeMb(dir.toString) == 0.5)
    assert(graft.io.Sinks.fileSizeMb(dir.resolve("nope").toString) == 0.0)
  }

  test("JiraMain e2e summary carries size + timing") {
    val out = java.nio.file.Files.createTempDirectory("jira_e2e").toString
    val r = JiraMain.run(spark, JiraPipeline.fixtureProjects, out)
    assert(r.mergedCount == 58L)
    assert(r.fileSizeMb > 0.0)
    assert(r.processingTimeSeconds > 0.0)
    assert(r.combined.getAs[Double]("processing_time_seconds") ==
      r.processingTimeSeconds)
  }
}
