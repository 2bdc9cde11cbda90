package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded raw JIRA input for the JIRA workloads (`jira_ingest`,
  * `corpus_build`, `jira_scrape`): the reference's three projects,
  * served both as raw JSONL (one issue per line, the
  * `JiraPipeline.readRaw` input) and as `search_{startAt}.json` stub
  * pages for the DSv2 `jira` source.
  *
  * Shape of the issues:
  *  - description and comment lengths are log-normal in words, so a
  *    few issues carry very long text (some past the 20,000-char
  *    description cap) while most are short;
  *  - about 15 % of issues have no description (JSON null, absent key
  *    or blank string);
  *  - about 1 % carry an explicit JSON null in a field the reference
  *    crashes on (status, priority, issuetype, comment, components,
  *    versions, fixVersions), so flatten drops them;
  *  - comment bodies include whitespace-only ones (dropped by flatten)
  *    and whitespace runs that `cleanText` collapses.
  *
  * The same seed always gives byte-identical files.
  */
object JiraInputs {

  val Projects: Seq[String] = Seq("KAFKA", "SPARK", "HADOOP")
  /** Small enough that a cold build fits a short run; the pipelines'
    * per-job overhead, not the row count, dominates at this size.
    */
  val IssuesPerProject = 600
  val PageSize = 50

  private val Statuses =
    Array("Open", "In Progress", "Resolved", "Closed", "Reopened", "Patch Available")
  private val Priorities = Array("Blocker", "Critical", "Major", "Minor", "Trivial")
  private val Types =
    Array("Bug", "Improvement", "New Feature", "Task", "Sub-task", "Test")
  private val CrashFields = Array("status", "priority", "issuetype", "comment",
    "components", "versions", "fixVersions")
  private val Words = (
    "the a of to and in is it for on with that this when from broker " +
      "consumer producer partition offset leader replica topic stream " +
      "executor driver shuffle stage task memory spill join query plan " +
      "namenode datanode block yarn container heartbeat timeout retry " +
      "exception null pointer config startup shutdown flaky test build " +
      "upgrade compatibility regression performance latency throughput " +
      "metric endpoint serializer schema parquet json codec compaction " +
      "checkpoint watermark window state store commit rollback lock"
  ).split(" ")
  private val Gaps = Array(" ", " ", " ", " ", " ", " ", "  ", "\n", "\t ", " ")

  /** What one generation produced, for the run's metadata, and the
    * ground truth of flatten: "key|status|comment_count" of every issue
    * it keeps (all but the explicit-null ones; whitespace-only comments
    * not counted), sorted.
    */
  final case class Props(
      issuesPerProject: Map[String, Int],
      rawMb: Double,
      pages: Int,
      noDescriptionShare: Double,
      explicitNullShare: Double,
      descChars: Map[String, Double],
      commentsPerIssue: Map[String, Double],
      sha256: String,
      expected: Seq[String]
  ) {
    def json: String = {
      def obj(m: Iterable[(String, Any)]): String =
        m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      obj(Seq(
        "issues_per_project" -> obj(issuesPerProject),
        "raw_mb" -> f"$rawMb%.3f",
        "pages" -> pages,
        "no_description_share" -> f"$noDescriptionShare%.4f",
        "explicit_null_share" -> f"$explicitNullShare%.4f",
        "description_chars" -> obj(descChars.map { case (k, v) => k -> f"$v%.0f" }),
        "comments_per_issue" -> obj(commentsPerIssue.map { case (k, v) => k -> f"$v%.1f" })
      ))
    }
  }

  def rawPath(dir: Path, project: String): Path = dir.resolve(s"raw/$project.jsonl")
  def stubDir(dir: Path, project: String): Path = dir.resolve(s"stub/$project")

  /** Writes raw JSONL (and, with `pages`, the stub pages) for every
    * project under `dir`.
    */
  def write(dir: Path, seed: Long, pages: Boolean): Props = {
    val rnd = new SplittableRandom(seed)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    var nPages = 0
    var noDesc = 0
    var nulls = 0
    val descLens = ArrayBuffer[Int]()
    val commentCounts = ArrayBuffer[Int]()
    val expected = ArrayBuffer[String]()
    for ((project, p) <- Projects.zipWithIndex) {
      val issues = (1 to IssuesPerProject).map { i =>
        val g = issue(rnd, project, p, i)
        if (g.noDescription) noDesc += 1
        if (g.explicitNull) nulls += 1
        descLens += g.descChars
        commentCounts += g.comments
        if (!g.explicitNull) expected += s"$project-$i|${g.status}|${g.keptComments}"
        g.json
      }
      val raw = rawPath(dir, project)
      Files.createDirectories(raw.getParent)
      val body = issues.mkString("", "\n", "\n").getBytes(UTF_8)
      Files.write(raw, body)
      sha.update(body)
      bytes += body.length
      if (pages) {
        val sd = stubDir(dir, project)
        Files.createDirectories(sd)
        for (start <- issues.indices by PageSize) {
          val page = issues.slice(start, start + PageSize).mkString(
            s"""{"startAt":$start,"maxResults":$PageSize,"total":${issues.size},"issues":[""",
            ",", "]}")
          Files.write(sd.resolve(s"search_$start.json"), page.getBytes(UTF_8))
          nPages += 1
        }
      }
    }
    val total = IssuesPerProject * Projects.size
    def quantiles(xs: Seq[Int]): Map[String, Double] = {
      val s = xs.sorted
      def q(f: Double) = s(math.min(s.size - 1, (f * s.size).toInt)).toDouble
      Map("p50" -> q(0.5), "p90" -> q(0.9), "p99" -> q(0.99), "max" -> s.last.toDouble)
    }
    Props(
      Projects.map(_ -> IssuesPerProject).toMap,
      bytes / (1024.0 * 1024.0),
      nPages,
      noDesc.toDouble / total,
      nulls.toDouble / total,
      quantiles(descLens.toSeq),
      quantiles(commentCounts.toSeq),
      sha.digest().map("%02x".format(_)).mkString,
      expected.sorted.toSeq
    )
  }

  private final case class Generated(
      json: String,
      noDescription: Boolean,
      explicitNull: Boolean,
      descChars: Int,
      comments: Int,
      status: String,
      keptComments: Int
  )

  /** Log-normal word count: median e^mu, long right tail. */
  private def logNormal(rnd: SplittableRandom, mu: Double, sigma: Double, cap: Int): Int = {
    val u1 = math.max(rnd.nextDouble(), 1e-12)
    val u2 = rnd.nextDouble()
    val z = math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    math.min(cap, math.max(1, math.exp(mu + sigma * z).toInt))
  }

  private def text(rnd: SplittableRandom, nWords: Int): String = {
    val sb = new java.lang.StringBuilder(nWords * 7)
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(Gaps(rnd.nextInt(Gaps.length)))
      sb.append(Words(rnd.nextInt(Words.length)))
      i += 1
    }
    sb.toString
  }

  private def quote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 || c > 0x7e => sb.append("\\u%04x".format(c.toInt))
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"').toString
  }

  private def names(rnd: SplittableRandom, prefix: String, max: Int): String =
    (1 to rnd.nextInt(max + 1))
      .map(_ => s"""{"name":${quote(prefix + rnd.nextInt(12))}}""")
      .mkString("[", ",", "]")

  private def user(rnd: SplittableRandom, pool: Int): String = {
    val n = rnd.nextInt(pool)
    if (rnd.nextInt(5) == 0) s"""{"name":"user$n"}"""
    else s"""{"displayName":"User $n","name":"user$n"}"""
  }

  private def ts(minutes: Long): String = {
    val t = java.time.Instant.ofEpochSecond(1483228800L + minutes * 60)
    t.toString.replace("Z", ".000+0000")
  }

  private def issue(rnd: SplittableRandom, project: String, p: Int, i: Int): Generated = {
    val created = i * 437L + rnd.nextInt(300) + p * 7
    val status = Statuses(rnd.nextInt(Statuses.length))
    val resolved = status == "Resolved" || status == "Closed"
    val fields = ArrayBuffer[(String, String)]()
    fields += "summary" -> quote(text(rnd, 3 + rnd.nextInt(10)))
    val descRoll = rnd.nextInt(100)
    var descChars = 0
    if (descRoll < 6) fields += "description" -> "null"
    else if (descRoll < 11) ()
    else if (descRoll < 15) fields += "description" -> quote(" \n ")
    else {
      val d = text(rnd, logNormal(rnd, 4.0, 1.3, 6000))
      descChars = d.length
      fields += "description" -> quote(d)
    }
    fields += "status" -> s"""{"name":${quote(status)}}"""
    if (rnd.nextInt(50) != 0)
      fields += "priority" -> s"""{"name":${quote(Priorities(rnd.nextInt(Priorities.length)))}}"""
    fields += "issuetype" -> s"""{"name":${quote(Types(rnd.nextInt(Types.length)))}}"""
    fields += "project" -> s"""{"key":${quote(project)}}"""
    fields += "reporter" -> user(rnd, 400)
    fields += "assignee" -> (if (rnd.nextInt(10) < 3) "null" else user(rnd, 60))
    fields += "created" -> quote(ts(created))
    fields += "updated" -> quote(ts(created + rnd.nextInt(100000)))
    fields += "resolutiondate" ->
      (if (resolved) quote(ts(created + rnd.nextInt(200000))) else "null")
    fields += "labels" -> (if (rnd.nextInt(200) == 0) "null"
      else (1 to rnd.nextInt(4)).map(_ => quote("label" + rnd.nextInt(30))).mkString("[", ",", "]"))
    fields += "components" -> names(rnd, "comp-", 3)
    fields += "versions" -> names(rnd, "1.", 2)
    fields += "fixVersions" -> names(rnd, "2.", 2)
    val nComments = math.min(40, (-math.log(math.max(rnd.nextDouble(), 1e-12)) * 3).toInt)
    var blank = 0
    val comments = (1 to nComments).map { c =>
      val body =
        if (rnd.nextInt(25) == 0) { blank += 1; " \t " }
        else text(rnd, logNormal(rnd, 3.3, 1.1, 3000))
      s"""{"author":${user(rnd, 400)},"created":${quote(ts(created + c * 90L))},"body":${quote(body)}}"""
    }
    fields += "comment" -> comments.mkString("""{"comments":[""", ",", "]}")
    val explicitNull = rnd.nextInt(100) == 0
    if (explicitNull) {
      val f = CrashFields(rnd.nextInt(CrashFields.length))
      val at = fields.indexWhere(_._1 == f)
      if (at >= 0) fields(at) = f -> "null" else fields += f -> "null"
    }
    val json = fields
      .map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"key":"$project-$i","id":"${p * 1000000 + i}","fields":{""", ",", "}}")
    Generated(json, descChars == 0, explicitNull, descChars, nComments, status,
      nComments - blank)
  }
}
