package graft.jira

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-exposed fan-out (LATERAL VIEW jira_tasks) must produce
  * exactly the column-expression generator's examples.
  */
class JiraTasksGeneratorSpec extends AnyFunSuite with SparkSpec {

  test("LATERAL VIEW jira_tasks ≡ column-expression generator") {
    val flat = JiraFlatten.flatten(
      JiraPipeline.readRaw(
        spark,
        s"${JiraPipeline.FixtureDir}/raw_issues_TEST.jsonl"
      ),
      "TEST"
    )
    flat.createOrReplaceTempView("issues_v")
    val cols = flat.columns.mkString(", ")
    implicit val enc = Encoders.product[TrainingExample]
    val viaSql = spark
      .sql(s"""
        SELECT t.task_type AS task_type,
               t.instruction AS instruction,
               t.input AS input, t.output AS output,
               t.metadata AS metadata
        FROM issues_v
        LATERAL VIEW jira_tasks(struct($cols)) v AS t
      """)
      .as[TrainingExample]
      .collect()
      .toSeq
      .sortBy(e => (e.metadata.issue_key, e.task_type, e.input))
    val viaColumns = JiraGenerators
      .generate(flat)
      .select(col("task_type"), col("instruction"), col("input"),
        col("output"), col("metadata"))
      .as[TrainingExample]
      .collect()
      .toSeq
      .sortBy(e => (e.metadata.issue_key, e.task_type, e.input))
    assert(viaSql == viaColumns)
    assert(viaSql.size == 45)
  }
}
