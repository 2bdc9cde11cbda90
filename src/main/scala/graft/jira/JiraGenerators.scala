package graft.jira

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The fan-out stage: 1 flattened issue → 0..7 training examples
  * (transformer.py:214-274; SURVEY §2.5 G1-G6).
  *
  * Primary form: conditionally-built array of example structs +
  * posexplode — pure Catalyst, codegen-friendly, no shuffle; the
  * per-issue emission order (summarization, classification,
  * status_prediction, QA1, QA2, QA3, resolution) is carried as
  * `task_rank` for deterministic ordered writes (SURVEY §2.10).
  *
  * A typed flatMap twin ([[JiraGeneratorsTyped]]) encodes the same
  * semantics imperatively for differential testing.
  */
object JiraGenerators {

  private val QaInstruction =
    "Answer the following question about this software issue:"

  /** metadata struct: 9 base fields ∪ question_type (base values win
    * on collision — transformer.py:243-268; the per-task extras that
    * survive are only question_type).
    */
  private def metadata(questionType: Column): Column =
    struct(
      col("issue_key").as("issue_key"),
      col("project").as("project"),
      col("issue_type").as("issue_type"),
      col("priority").as("priority"),
      col("status").as("status"),
      col("created").as("created"),
      col("url").as("url"),
      col("labels").as("labels"),
      col("components").as("components"),
      questionType.as("question_type")
    )

  private def example(
      taskType: String,
      instruction: String,
      input: Column,
      output: Column,
      questionType: Column = lit(null).cast("string")
  ): Column =
    struct(
      lit(taskType).as("task_type"),
      lit(instruction).as("instruction"),
      input.as("input"),
      output.as("output"),
      metadata(questionType).as("metadata")
    )

  private val desc = col("description")
  private val hasDesc = desc =!= ""
  private val hasComments = size(col("comments")) > 0

  /** G1 — summarization (transformer.py:32-64): description ⊕ first 3
    * comments joined by blank lines; output templates title/status/
    * priority.
    */
  private def summarization: Column = {
    val parts = filter(
      array(
        when(hasDesc, concat(lit("Description: "), desc)),
        when(size(col("comments")) >= 1,
          concat(lit("Comment 1: "), col("comments")(0).getField("body"))),
        when(size(col("comments")) >= 2,
          concat(lit("Comment 2: "), col("comments")(1).getField("body"))),
        when(size(col("comments")) >= 3,
          concat(lit("Comment 3: "), col("comments")(2).getField("body")))
      ),
      p => p.isNotNull
    )
    when(
      hasDesc || hasComments,
      example(
        "summarization",
        "Summarize the following software issue and its discussion:",
        array_join(parts, "\n\n"),
        concat(col("title"), lit(" (Status: "), col("status"),
          lit(", Priority: "), col("priority"), lit(")"))
      )
    )
  }

  /** G2 — priority classification (transformer.py:66-91): title +
    * first 500 description chars (raw slice, no ellipsis).
    */
  private def classification: Column =
    when(
      col("title") =!= "" && col("priority") =!= "",
      example(
        "classification",
        "Classify the priority of this software issue (Blocker, Critical, Major, Minor, Trivial):",
        concat(
          lit("Title: "), col("title"), lit("\n"),
          when(hasDesc, concat(lit("Description: "), substring(desc, 1, 500)))
            .otherwise(lit(""))
        ),
        col("priority")
      )
    )

  /** G3 — status prediction (transformer.py:93-120). */
  private def statusPrediction: Column =
    when(
      col("title") =!= "" && col("status") =!= "",
      example(
        "status_prediction",
        "Predict the current status of this software issue:",
        concat(
          lit("Issue: "), col("title"), lit("\n"),
          lit("Type: "), col("issue_type"), lit("\n"),
          lit("Priority: "), col("priority"), lit("\n"),
          when(hasDesc, concat(lit("Description: "), substring(desc, 1, 500)))
            .otherwise(lit(""))
        ),
        col("status")
      )
    )

  /** G4 — QA fan-out (transformer.py:122-177): Q1 always, Q2 always,
    * Q3 only when the assignee is known.
    */
  private def qa1: Column =
    example(
      "question_answering",
      QaInstruction,
      concat(
        lit("Issue Key: "), col("issue_key"),
        lit("\nTitle: "), col("title"),
        lit("\nDescription: "), desc,
        lit("\n\nQuestion: What is this issue about?")
      ),
      col("title"),
      lit("summary")
    )

  private def qa2: Column =
    example(
      "question_answering",
      QaInstruction,
      concat(
        lit("Issue Key: "), col("issue_key"),
        lit("\nTitle: "), col("title"),
        lit("\n\nQuestion: What is the current status of this issue?")
      ),
      col("status"),
      lit("status")
    )

  private def qa3: Column =
    when(
      col("assignee") =!= "" && col("assignee") =!= "Unknown",
      example(
        "question_answering",
        QaInstruction,
        concat(
          lit("Issue Key: "), col("issue_key"),
          lit("\nTitle: "), col("title"),
          lit("\n\nQuestion: Who is assigned to this issue?")
        ),
        col("assignee"),
        lit("assignee")
      )
    )

  /** G5 — issue resolution (transformer.py:179-212): last 2 comment
    * bodies joined "\n", first 500 chars, only for Resolved/Closed
    * issues with comments.
    */
  private def resolution: Column =
    when(
      hasComments && col("status").isin("Resolved", "Closed"),
      example(
        "issue_resolution",
        "Based on the issue discussion, explain how this issue was resolved:",
        concat(
          lit("Issue: "), col("title"), lit("\n"),
          when(hasDesc,
            concat(lit("Description: "), substring(desc, 1, 500), lit("\n")))
            .otherwise(lit("")),
          lit("\nHow was this issue resolved?")
        ),
        substring(
          array_join(
            transform(
              // last min(2, size) comments: slice(c, -2, 2) is empty
              // for a one-element array, Python's comments[-2:] is not
              slice(col("comments"),
                greatest(-size(col("comments")), lit(-2)), lit(2)),
              c => c.getField("body")),
            "\n"
          ),
          1,
          500
        )
      )
    )

  /** Fan a flattened-issue DataFrame out into training examples.
    * Output columns: issue_key, task_rank (within-issue emission
    * order), task_type, instruction, input, output, metadata.
    */
  def generate(issues: DataFrame): DataFrame =
    issues
      .select(
        col("issue_key"),
        col("created"),
        posexplode(
          filter(
            array(summarization, classification, statusPrediction, qa1, qa2,
              qa3, resolution),
            e => e.isNotNull
          )
        ).as(Seq("task_rank", "ex"))
      )
      .select(
        col("issue_key"),
        col("created"),
        col("task_rank"),
        col("ex.task_type").as("task_type"),
        col("ex.instruction").as("instruction"),
        col("ex.input").as("input"),
        col("ex.output").as("output"),
        col("ex.metadata").as("metadata")
      )
}

/** Typed twin of [[JiraGenerators]]: same semantics as a pure Scala
  * function over case classes, used for differential testing (and as
  * the executable spec of transformer.py:214-274).
  */
object JiraGeneratorsTyped {

  def transformIssue(issue: IssueRecord): Seq[TrainingExample] = {
    val meta = ExampleMetadata(
      issue.issue_key,
      issue.project,
      issue.issue_type,
      issue.priority,
      issue.status,
      issue.created,
      issue.url,
      issue.labels,
      issue.components,
      None
    )
    val out = Seq.newBuilder[TrainingExample]

    if (issue.description.nonEmpty || issue.comments.nonEmpty) {
      val parts =
        (if (issue.description.nonEmpty)
           Seq(s"Description: ${issue.description}")
         else Seq.empty) ++
          issue.comments.take(3).zipWithIndex.map { case (c, i) =>
            s"Comment ${i + 1}: ${c.body}"
          }
      out += TrainingExample(
        "summarization",
        "Summarize the following software issue and its discussion:",
        parts.mkString("\n\n"),
        s"${issue.title} (Status: ${issue.status}, Priority: ${issue.priority})",
        meta
      )
    }

    if (issue.title.nonEmpty && issue.priority.nonEmpty) {
      val input = s"Title: ${issue.title}\n" +
        (if (issue.description.nonEmpty)
           s"Description: ${issue.description.take(500)}"
         else "")
      out += TrainingExample(
        "classification",
        "Classify the priority of this software issue (Blocker, Critical, Major, Minor, Trivial):",
        input,
        issue.priority,
        meta
      )
    }

    if (issue.title.nonEmpty && issue.status.nonEmpty) {
      val input = s"Issue: ${issue.title}\nType: ${issue.issue_type}\n" +
        s"Priority: ${issue.priority}\n" +
        (if (issue.description.nonEmpty)
           s"Description: ${issue.description.take(500)}"
         else "")
      out += TrainingExample(
        "status_prediction",
        "Predict the current status of this software issue:",
        input,
        issue.status,
        meta
      )
    }

    val qaInstr = "Answer the following question about this software issue:"
    out += TrainingExample(
      "question_answering",
      qaInstr,
      s"Issue Key: ${issue.issue_key}\nTitle: ${issue.title}\n" +
        s"Description: ${issue.description}\n\nQuestion: What is this issue about?",
      issue.title,
      meta.copy(question_type = Some("summary"))
    )
    out += TrainingExample(
      "question_answering",
      qaInstr,
      s"Issue Key: ${issue.issue_key}\nTitle: ${issue.title}\n\n" +
        "Question: What is the current status of this issue?",
      issue.status,
      meta.copy(question_type = Some("status"))
    )
    if (issue.assignee.nonEmpty && issue.assignee != "Unknown") {
      out += TrainingExample(
        "question_answering",
        qaInstr,
        s"Issue Key: ${issue.issue_key}\nTitle: ${issue.title}\n\n" +
          "Question: Who is assigned to this issue?",
        issue.assignee,
        meta.copy(question_type = Some("assignee"))
      )
    }

    if (issue.comments.nonEmpty &&
      Seq("Resolved", "Closed").contains(issue.status)) {
      val resolutionContext =
        issue.comments.takeRight(2).map(_.body).mkString("\n")
      val input = s"Issue: ${issue.title}\n" +
        (if (issue.description.nonEmpty)
           s"Description: ${issue.description.take(500)}\n"
         else "") +
        "\nHow was this issue resolved?"
      out += TrainingExample(
        "issue_resolution",
        "Based on the issue discussion, explain how this issue was resolved:",
        input,
        resolutionContext.take(500),
        meta
      )
    }

    out.result()
  }

  def generate(issues: Dataset[IssueRecord]): Dataset[TrainingExample] = {
    import issues.sparkSession.implicits._
    issues.flatMap(transformIssue)
  }
}
