package graft.jira

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, DataFrame, Encoder, Encoders}
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-exposed fan-out (LATERAL VIEW jira_tasks) must produce
  * exactly the typed twin's examples ([[JiraGeneratorsTyped]], the
  * independent reference: `jira_tasks` and the column form share one
  * definition, so comparing them would compare a form with itself).
  */
class JiraTasksGeneratorSpec extends AnyFunSuite with SparkSpec {

  private implicit val enc: Encoder[TrainingExample] =
    Encoders.product[TrainingExample]

  private def sorted(es: Seq[TrainingExample]): Seq[TrainingExample] =
    es.sortBy(e => (e.metadata.issue_key, e.task_type, e.input))

  private def fixture: DataFrame =
    JiraFlatten.flatten(
      JiraPipeline.readRaw(
        spark,
        s"${JiraPipeline.FixtureDir}/raw_issues_TEST.jsonl"
      ),
      "TEST"
    )

  /** The examples of `jira_tasks(arg(cols))` over the rows of `issues`,
    * where `cols` lists their columns in order.
    */
  private def viaSql(issues: DataFrame)(arg: String => String): Seq[TrainingExample] = {
    issues.createOrReplaceTempView("issues_v")
    sorted(spark
      .sql(s"""
        SELECT t.* FROM issues_v
        LATERAL VIEW jira_tasks(${arg(issues.columns.mkString(", "))}) v AS t
      """)
      .as[TrainingExample]
      .collect()
      .toSeq)
  }

  private def typed(issues: DataFrame): Seq[TrainingExample] =
    sorted(JiraGeneratorsTyped
      .generate(issues.as[IssueRecord](Encoders.product[IssueRecord]))
      .collect()
      .toSeq)

  test("LATERAL VIEW jira_tasks ≡ typed twin; fields bind by name") {
    val flat = fixture
    val reversed = flat.columns.reverse.mkString(", ")
    val viaSqlRows = viaSql(flat)(_ => s"struct('x' AS extra, $reversed)")
    assert(viaSqlRows == typed(flat))
    assert(viaSqlRows.size == 45)
  }

  test("jira_tasks cuts at 500 code points (≡ typed twin)") {
    val issue = JiraParitySpec.straddling
    val flat = spark.createDataset(Seq(issue))(Encoders.product[IssueRecord]).toDF()
    val out = viaSql(flat)(cols => s"struct($cols)")
    assert(out == typed(flat))
    assert(out.map(_.task_type).contains("issue_resolution"))
  }

  test("a NULL issue struct yields no rows") {
    val flat = fixture
    val out = viaSql(flat)(cols =>
      s"IF(issue_key = 'TEST-1', NULL, struct($cols))")
    val expected = typed(flat)
    assert(expected.exists(_.metadata.issue_key == "TEST-1"))
    assert(out == expected.filter(_.metadata.issue_key != "TEST-1"))
  }

  test("a struct without a field the fan-out reads fails analysis") {
    val flat = fixture
    val err = intercept[AnalysisException](
      viaSql(flat)(_ => s"struct(${flat.columns.filter(_ != "title").mkString(", ")})"))
    assert(err.getMessage.contains("FIELD_NOT_FOUND"), err.getMessage)
    assert(err.getMessage.contains("`title`"), err.getMessage)
  }
}
