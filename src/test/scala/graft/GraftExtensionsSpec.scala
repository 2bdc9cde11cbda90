package graft

import org.scalatest.funsuite.AnyFunSuite

/** The extensions entry point must make the custom functions available
  * in SQL on a session built with withExtensions — no manual
  * registration calls.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  test("withExtensions(GraftExtensions) exposes vec_dot and jira_tasks") {
    val d = spark
      .sql(
        "SELECT vec_dot(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d"
      )
      .collect()(0)
      .getDouble(0)
    assert(d == 6.0)
    val cos = spark
      .sql(
        """SELECT vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c"""
      )
      .collect()(0)
      .getDouble(0)
    assert(cos == 1.0)
    // the SQL function must stay bit-identical to the Column path
    // (GraftExtensions builds it from VectorMath.vecCosine)
    val sqlCos = spark
      .sql(
        """SELECT vec_cosine(array(CAST(0.3 AS FLOAT), CAST(-1.7 AS FLOAT), CAST(2.9 AS FLOAT)),
                             array(CAST(1.1 AS FLOAT), CAST(0.2 AS FLOAT), CAST(-0.4 AS FLOAT))) AS c"""
      )
      .collect()(0)
      .getDouble(0)
    import org.apache.spark.sql.functions.{array, lit}
    val colCos = spark
      .range(1)
      .select(
        graft.functions.VectorMath
          .vecCosine(
            array(lit(0.3f), lit(-1.7f), lit(2.9f)),
            array(lit(1.1f), lit(0.2f), lit(-0.4f))
          )
          .as("c")
      )
      .collect()(0)
      .getDouble(0)
    assert(sqlCos == colCos)
    val mh = spark
      .sql("SELECT minhash_sig(array('a b c', 'b c d'), 4) AS sig")
      .collect()(0)
      .getAs[collection.Seq[Long]]("sig")
    assert(mh.length == 4)
    val mt = spark
      .sql("SELECT minhash_text('a b c d', 3, 4) AS sig")
      .collect()(0)
      .getAs[collection.Seq[Long]]("sig")
    assert(mt == mh, "fused text signature == array signature of its shingles")
    val sh = spark
      .sql("SELECT simhash_text('hello world', 16) AS s")
      .collect()(0)
      .getLong(0)
    assert(sh >= 0L && sh < (1L << 16))
    val ts = spark
      .sql("SELECT text_stats('the quick fox.').n_tokens AS n," +
        " text_stats('the quick fox.').n_stop AS st," +
        " lang_counts('the of la').s_en AS en," +
        " repetition_counts('a b a b').n_distinct_bigrams AS db")
      .collect()(0)
    assert(ts.getLong(0) == 3 && ts.getLong(1) == 1)
    assert(ts.getLong(2) == 2)
    assert(ts.getLong(3) == 2)
    val shingled = spark
      .sql("SELECT shingles('a b c d', 3) AS sh")
      .collect()(0)
      .getAs[collection.Seq[String]]("sh")
    assert(shingled == Seq("a b c", "b c d"))
    val h60 = spark
      .sql("SELECT hash60('x') AS h")
      .collect()(0)
      .getLong(0)
    // first 15 hex chars of md5('x') = 9dd4e461268c8034
    assert(h60 == java.lang.Long.parseUnsignedLong("9dd4e461268c803", 16))
    val rh = spark
      .sql("SELECT rolling_hash('abc') AS h")
      .collect()(0)
      .getLong(0)
    // ((0*31+97)*31+98)*31+99 mod 1e9+7
    assert(rh == ((97L * 31 + 98) * 31 + 99) % 1000000007L)
    val flat = jira.JiraFlatten.flatten(
      jira.JiraPipeline.readRaw(
        spark,
        s"${jira.JiraPipeline.FixtureDir}/raw_issues_TEST.jsonl"
      ),
      "TEST"
    )
    flat.createOrReplaceTempView("iss_ext")
    val n = spark
      .sql(
        s"""SELECT count(*) FROM iss_ext
            LATERAL VIEW jira_tasks(struct(${flat.columns.mkString(", ")})) v AS t"""
      )
      .collect()(0)
      .getLong(0)
    assert(n == 45L)
  }

  test("Sessions.local is idempotent and builds the production shape") {
    assert(Sessions.local(4) eq spark)
    assert(Sessions.local() eq spark, "a later call keeps the live session")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    // the injected functions resolve in SQL on the shared session
    assert(spark.sql("SELECT vec_dot(array(CAST(1.0 AS FLOAT)), " +
      "array(CAST(4.0 AS FLOAT)))").collect()(0).getDouble(0) == 4.0)
    assert(spark.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(
        "jira_tasks")))
  }

  private def sources(root: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  /** Code lines matching `pattern` (scaladoc may show the API). */
  private def hits(files: Seq[java.nio.file.Path], pattern: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    files.flatMap { f =>
      java.nio.file.Files.readAllLines(f, java.nio.charset.StandardCharsets.ISO_8859_1)
        .asScala.zipWithIndex.collect {
          case (l, i) if !l.trim.startsWith("*") &&
              !l.trim.startsWith("//") && pattern.r.findFirstIn(l).nonEmpty =>
            s"$f:${i + 1}: ${l.trim}"
        }
    }
  }

  test("sessions are built only by Sessions and never stopped in specs") {
    val main = sources("src/main/scala")
    val test = sources("src/test/scala")
    assert(main.nonEmpty && test.nonEmpty)
    val builders = hits(
      (main ++ test).filterNot(_.getFileName.toString == "Sessions.scala"),
      """SparkSession\s*\.builder|\.builder\(\)""")
    assert(builders.isEmpty, builders.mkString("\n"))
    val stops = hits(test,
      """\.stop\(\)|clear(Active|Default)Session""")
    assert(stops.isEmpty, stops.mkString("\n"))
  }

  test("no optimizer rule, and no composed form of a fused kernel in main") {
    // each shape is the composed form of a fused kernel, slow and
    // rescued by no rule: an operator calls the kernel itself
    // (Md5Prefix60.md5Prefix60, ArrayIntersectSize.intersectSize,
    // VectorMath.vecSqDist / vecDot)
    val shapes = Seq(
      """injectOptimizerRule""",
      """size\(\s*array_intersect\(""",
      """conv\(\s*substring\(\s*md5\(""",
      """aggregate\(\s*zip_with\(""",
      // the reference twins are for specs, never called from main
      """(?<!def\s)\b(?:hash60Composed|dotProductHof|sqDistHof|shinglesHof)\(""")
    // (file, enclosing def or val) allowed to keep a composed form
    val allowed = Set(
      // the reference twins the kernel specs compare against
      "TextFunctions.scala" -> "hash60Composed",
      "Similarity.scala" -> "dotProductHof",
      "Clustering.scala" -> "sqDistHof",
      // folds no kernel takes: float x double and double x double
      // products, a long count
      "Similarity.scala" -> "project",
      "Multimodal.scala" -> "dot",
      "Dedup.scala" -> "withBits")
    val found = sources("src/main/scala").flatMap { f =>
      import scala.jdk.CollectionConverters._
      // comment lines blanked, so line numbers hold and shapes may
      // span lines
      val code = java.nio.file.Files
        .readAllLines(f, java.nio.charset.StandardCharsets.ISO_8859_1)
        .asScala
        .map(l => if (Seq("*", "/*", "//").exists(l.trim.startsWith)) "" else l)
        .mkString("\n")
      shapes.flatMap(_.r.findAllMatchIn(code)).collect {
        case m if !allowed.contains(f.getFileName.toString ->
            """\b(?:def|val)\s+(\w+)""".r
              .findAllMatchIn(code.substring(0, m.start)).map(_.group(1))
              .toSeq.lastOption.getOrElse("")) =>
          s"$f:${code.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the JIRA read paths never parse an issue with from_json") {
    // both readers decode an issue in one JiraDecode pass; a from_json
    // would tokenize it a second time
    val files = Seq("src/main/scala/graft/jira", "src/main/scala/graft/sources",
      "src/main/scala/org/apache/spark/sql/graftbridge").flatMap(sources)
    assert(files.exists(_.getFileName.toString == "JiraSource.scala"))
    val calls = hits(files, """\bfrom_json\s*\(|\bJsonToStructs\b|\bfromJson\s*\(""")
    assert(calls.isEmpty, calls.mkString("\n"))
  }

  test("every spec main cites exists, and main never names the retired scale main") {
    // scaladocs cite the spec that checks a claim; a citation of a
    // spec that does not exist checks nothing
    import scala.jdk.CollectionConverters._
    def text(f: java.nio.file.Path): String = new String(
      java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val defined = sources("src/test/scala").flatMap { f =>
      """\b(?:class|trait|object)\s+(\w+)""".r
        .findAllMatchIn(text(f)).map(_.group(1))
    }.toSet
    val main = sources("src/main/scala")
    val dangling = main.flatMap { f =>
      """\b[A-Z]\w*Spec\b""".r.findAllIn(text(f))
        .filterNot(defined).map(n => s"$f: $n")
    }.distinct
    assert(dangling.isEmpty, dangling.mkString("\n"))
    val deleted = main.flatMap { f =>
      java.nio.file.Files.readAllLines(f,
        java.nio.charset.StandardCharsets.ISO_8859_1).asScala.zipWithIndex
        // [B] keeps this line from matching itself
        .collect { case (l, i) if "Scale[B]ench".r.findFirstIn(l).nonEmpty =>
          s"$f:${i + 1}: ${l.trim}" }
    }
    assert(deleted.isEmpty, deleted.mkString("\n"))
  }

  test("SQL functions are registered only by GraftExtensions") {
    val all = sources("src/main/scala") ++ sources("src/test/scala")
    val registrations = hits(
      all.filterNot(_.getFileName.toString == "GraftExtensions.scala"),
      // [F] keeps this line from matching itself
      """createOrReplaceTemp[F]unction|register[F]unction""")
    assert(registrations.isEmpty, registrations.mkString("\n"))
  }
}
