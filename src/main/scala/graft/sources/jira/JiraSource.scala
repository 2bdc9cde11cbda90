package graft.sources.jira

import java.util

import graft.jira.JiraSchemas
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.graftbridge.JsonBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.JavaConverters._

/** DataSource V2 `jira` format (SURVEY §2.1 S1-S4, §2.9): the
  * reference's paginated, checkpointed REST scan re-expressed as a
  * Spark connector.
  *
  *  - Parallel scan: one InputPartition per page range — the serial
  *    page loop (scraper.py:288-323) becomes N concurrent readers.
  *  - Column pruning is PUSHED TO THE SERVER: the pruned `fields.*`
  *    subfields become the REST `fields=` parameter, exactly the
  *    manual projection the reference hardcodes (config.py:68-85).
  *  - Retry/backoff per request (min(2^n, 60)s, 5 attempts) inside
  *    the reader (scraper.py:96-145, utils.py:144-156).
  *  - Incremental mode: a MicroBatchStream whose offset is the issue
  *    cursor — the reference's checkpoint file (issues_processed,
  *    scraper.py:81-87) maps to Spark's offset log under
  *    checkpointLocation.
  *  - One decode per issue, shared with the file path: each page (or
  *    point-lookup body) is split into issue object texts with their
  *    presence probes ([[JiraResponse]]), and each text is parsed by
  *    `from_json` exactly as [[graft.jira.JiraPipeline.readRaw]] parses
  *    a line. A non-object element or an issue that fails to parse
  *    drops that issue alone, and a syntax error ends its page; none
  *    of these fails the scan or the stream.
  *
  * Usage (stub-backed, zero-egress):
  * {{{
  *   spark.read.format("jira")
  *     .option("stubDir", dir).option("project", "TEST")
  *     .option("pageSize", 3).load()
  * }}}
  */
class JiraTableProvider
    extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "jira"


  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JiraSchemas.rawIssueSchemaWithProbes

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table =
    new JiraTable(schema, new CaseInsensitiveStringMap(properties))
}

object JiraSourceOptions {
  def transport(options: CaseInsensitiveStringMap): JiraTransport = {
    val stubDir = options.get("stubDir")
    require(
      stubDir != null,
      "jira source: 'stubDir' option is required (live HTTPS transport " +
        "is not constructible in this offline environment)"
    )
    val base = new FileStubTransport(stubDir)
    val failures = options.getInt("simulateFailures", 0)
    if (failures > 0) new FlakyTransport(base, failures) else base
  }

  def pageSize(options: CaseInsensitiveStringMap): Int =
    options.getInt("pageSize", 50)

  def sleepScale(options: CaseInsensitiveStringMap): Double =
    options.getDouble("retrySleepScale", 1.0)

  /** Probe the total issue count (reference probes with a
    * maxResults=0 request — scraper.py:275-276).
    */
  def probeTotal(t: JiraTransport, sleepScale: Double): Int = {
    val body = JiraRetry.withRetry(sleepScale = sleepScale)(
      t.fetch(0, 1, Nil)
    )
    JiraResponse.total(body).getOrElse(throw new IllegalStateException(
      "jira source: the total probe response has no integer total"))
  }
}

class JiraTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table
    with SupportsRead {

  override def name(): String =
    s"jira(${Option(options.get("project")).getOrElse("?")})"

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(
      caseInsensitiveOptions: CaseInsensitiveStringMap
  ): ScanBuilder = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ caseInsensitiveOptions.asScala).asJava
    )
    new JiraScanBuilder(tableSchema, merged)
  }
}

class JiraScanBuilder(schema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = schema
  private var keyEqualities: Seq[String] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Predicate pushdown (SURVEY §2.1 S2, §4.1): `key = X` / `key IN`
    * become single-issue endpoint lookups instead of a full paginated
    * scan. Everything else stays a post-scan filter in Spark.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]
  ): Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val (pushed, rest) = filters.partition {
      case EqualTo("key", _: String) => true
      case In("key", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    keyEqualities = pushed.flatMap {
      case EqualTo("key", v: String) => Seq(v)
      case In("key", vs) => vs.toSeq.map(_.asInstanceOf[String])
      case _ => Nil
    }.toSeq
    rest
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    if (keyEqualities.isEmpty) Array.empty
    else Array(org.apache.spark.sql.sources.In("key", keyEqualities.toArray))

  override def build(): Scan =
    new JiraScan(required, options, keyEqualities)
}

sealed trait JiraPartition extends InputPartition

/** One /search page: issue indices [startAt, end), end ≤ startAt +
  * pageSize. The reader keeps only issues below `end`, so a page that
  * grew after the offset probe cannot deliver an issue the next batch
  * (which starts at `end`) delivers again.
  */
case class JiraInputPartition(startAt: Int, pageSize: Int, end: Int)
    extends JiraPartition

object JiraInputPartition {

  /** The pages covering issue indices [start, end). */
  def pages(start: Int, end: Int, pageSize: Int): Array[InputPartition] =
    (start until end by pageSize)
      .map(s => JiraInputPartition(s, pageSize, math.min(s + pageSize, end)))
      .toArray
}

/** Point-lookup partition: pushed `key = X` equalities. */
case class JiraLookupPartition(keys: Seq[String]) extends JiraPartition

class JiraScan(
    required: StructType,
    options: CaseInsensitiveStringMap,
    keyLookups: Seq[String] = Nil
) extends Scan
    with Batch {

  private val pageSize = JiraSourceOptions.pageSize(options)
  private val sleepScale = JiraSourceOptions.sleepScale(options)

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    if (keyLookups.nonEmpty)
      Array(JiraLookupPartition(keyLookups))
    else {
      val t = JiraSourceOptions.transport(options)
      val total = JiraSourceOptions.probeTotal(t, sleepScale)
      JiraInputPartition.pages(0, total, pageSize)
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new JiraReaderFactory(required, options.asCaseSensitiveMap().asScala.toMap)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new JiraMicroBatchStream(required, options)
}

/** Offset = issue cursor, the Spark analogue of the reference's
  * checkpoint `issues_processed` counter.
  */
case class JiraOffset(issueIndex: Int) extends Offset {
  override def json(): String = s"""{"issueIndex":$issueIndex}"""
}

class JiraMicroBatchStream(
    required: StructType,
    options: CaseInsensitiveStringMap
) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  private val pageSize = JiraSourceOptions.pageSize(options)
  private val sleepScale = JiraSourceOptions.sleepScale(options)
  private lazy val transport = JiraSourceOptions.transport(options)

  /** Rate control (reference: 50 req/min + politeness sleep,
    * config.py:38-39): cap pages per micro-batch — the
    * maxOffsetsPerTrigger analogue, via SupportsAdmissionControl.
    * 0 = unbounded.
    */
  private val maxPagesPerTrigger = options.getInt("maxPagesPerTrigger", 0)

  /** Target frozen at Trigger.AvailableNow start; batches keep firing
    * under the per-trigger cap until the cursor reaches it.
    */
  @volatile private var availableNowTarget: Option[Int] = None

  private def probe(): Int =
    availableNowTarget.getOrElse(
      JiraSourceOptions.probeTotal(transport, sleepScale)
    )

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(JiraSourceOptions.probeTotal(transport, sleepScale))

  override def getDefaultReadLimit: ReadLimit =
    if (maxPagesPerTrigger > 0)
      ReadLimit.maxRows(maxPagesPerTrigger.toLong * pageSize)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[JiraOffset].issueIndex
    val total = probe()
    val capped = limit match {
      case m: ReadMaxRows => math.min(total.toLong, s + m.maxRows()).toInt
      case _ => total
    }
    JiraOffset(capped)
  }

  override def reportLatestOffset(): Offset = JiraOffset(probe())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)"
    )

  override def initialOffset(): Offset = JiraOffset(0)

  override def deserializeOffset(json: String): Offset = {
    val m = "\"issueIndex\"\\s*:\\s*(\\d+)".r
    JiraOffset(
      m.findFirstMatchIn(json)
        .map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
    )
  }

  override def planInputPartitions(
      start: Offset,
      end: Offset
  ): Array[InputPartition] = {
    val s = start.asInstanceOf[JiraOffset].issueIndex
    val e = end.asInstanceOf[JiraOffset].issueIndex
    JiraInputPartition.pages(s, e, pageSize)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JiraReaderFactory(required, options.asCaseSensitiveMap().asScala.toMap)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

class JiraReaderFactory(required: StructType, options: Map[String, String])
    extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition
  ): PartitionReader[InternalRow] = {
    val cism = new CaseInsensitiveStringMap(options.asJava)
    val transport = JiraSourceOptions.transport(cism)
    val scale = JiraSourceOptions.sleepScale(cism)
    partition match {
      case p: JiraInputPartition =>
        new JiraPartitionReader(p, required, transport, scale)
      case p: JiraLookupPartition =>
        new JiraLookupReader(p, required, transport, scale)
    }
  }
}

/** The one split of a response body into issues: a streaming Jackson
  * pass that yields each issue object's own JSON text (its character
  * span in the body) with its [[graft.functions.JsonKeyProbe]] row,
  * computed by the same walk. Non-object elements are skipped. A
  * syntax error ends the walk and keeps the objects completed before
  * it, so a malformed body yields nothing and never fails the read.
  * Each text then goes through the `from_json` parse that
  * [[graft.jira.JiraPipeline.readRaw]] runs on a line, so both front
  * ends decode an issue the same way. The page's `total` is read by
  * the same kind of walk, so a bad issue in the probed page cannot
  * fail planning either.
  */
object JiraResponse {
  import com.fasterxml.jackson.core.{JsonParser, JsonProcessingException, JsonToken}
  import graft.functions.JsonKeyProbe
  import scala.collection.mutable.ArrayBuffer

  /** The object elements of a /search body's `issues` array, in order. */
  def issues(body: String): Seq[(String, InternalRow)] = {
    val out = ArrayBuffer.empty[(String, InternalRow)]
    topLevel(body) { (p, name, t) =>
      if (name != "issues" || t != JsonToken.START_ARRAY) false
      else {
        while (p.nextToken() != JsonToken.END_ARRAY)
          if (p.currentToken == JsonToken.START_OBJECT) out += objectText(p, body)
          else p.skipChildren()
        true
      }
    }
    out.toSeq
  }

  /** A GET /issue/{key} body, when it is an object. */
  def issue(body: String): Option[(String, InternalRow)] =
    guarded(body) { p =>
      if (p.nextToken() == JsonToken.START_OBJECT) Some(objectText(p, body)) else None
    }.flatten

  /** The integer `total` of a /search body. */
  def total(body: String): Option[Int] = {
    var n: Option[Int] = None
    topLevel(body) { (p, name, t) =>
      if (name != "total" || t != JsonToken.VALUE_NUMBER_INT) false
      else { n = Some(p.getIntValue); true }
    }
    n
  }

  /** Runs `f` over a parser on `body`; malformed input ends it early. */
  private def guarded[T](body: String)(f: JsonParser => T): Option[T] = {
    val p = JsonKeyProbe.parser(body)
    try Some(f(p))
    catch { case _: JsonProcessingException | _: java.io.IOException => None }
    finally p.close()
  }

  /** Offers each top-level member (name, first value token) of an
    * object body to `member` until it returns true (consumed, done);
    * a member it declines is skipped.
    */
  private def topLevel(body: String)(
      member: (JsonParser, String, JsonToken) => Boolean): Unit =
    guarded(body) { p =>
      var done = p.nextToken() != JsonToken.START_OBJECT
      while (!done && p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        done = member(p, name, p.nextToken())
        if (!done) p.skipChildren()
      }
    }

  private def objectText(p: JsonParser, body: String): (String, InternalRow) = {
    val start = p.currentTokenLocation().getCharOffset.toInt
    val probe = JsonKeyProbe.probe(p)
    (body.substring(start, p.currentTokenLocation().getCharOffset.toInt + 1), probe)
  }
}

/** Reader plumbing shared by the page and point-lookup readers: splits
  * the pruned schema into parsed columns and probe columns, decodes
  * each issue text with one `from_json` parser built per partition,
  * and assembles rows in the pruned order.
  */
abstract class JiraIssueReader(required: StructType)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  /** (object text, probe row) of each issue this partition reads. */
  protected def issueTexts: Iterator[(String, InternalRow)]

  private val probeNames =
    Set(graft.jira.JiraFlatten.ProbeFieldsKeys,
      graft.jira.JiraFlatten.ProbeTopKeys)

  /** Columns the JSON row parser materializes (probes excluded). */
  private val parseSchema: StructType =
    StructType(required.fields.filterNot(f => probeNames(f.name)))

  /** The server-side projection: pruned fields.* subfield names — the
    * REST `fields=` param (pushdown of column pruning to the source).
    */
  protected final val restFields: Seq[String] =
    parseSchema.fields
      .find(_.name == "fields")
      .map(_.dataType.asInstanceOf[StructType].fieldNames.toSeq)
      .getOrElse(Nil)

  private lazy val decode = JsonBridge.fromJson(parseSchema)

  private def assemble(text: String, probe: InternalRow): InternalRow = {
    val row = decode(UTF8String.fromString(text))
    var pi = 0
    val vals = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val f = required.fields(i)
      vals(i) =
        if (f.name == graft.jira.JiraFlatten.ProbeFieldsKeys) probe.getArray(0)
        else if (f.name == graft.jira.JiraFlatten.ProbeTopKeys) probe.getArray(1)
        else {
          val v = row.get(pi, parseSchema.fields(pi).dataType)
          pi += 1
          v
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  private lazy val rows: Iterator[InternalRow] =
    issueTexts.map { case (text, probe) => assemble(text, probe) }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true }
    else false

  override def get(): InternalRow = current

  override def close(): Unit = ()
}

/** Page reader: one /search request per partition. */
class JiraPartitionReader(
    partition: JiraInputPartition,
    required: StructType,
    transport: JiraTransport,
    sleepScale: Double
) extends JiraIssueReader(required) {

  override protected def issueTexts: Iterator[(String, InternalRow)] =
    JiraResponse.issues(JiraRetry.withRetry(sleepScale = sleepScale)(
      transport.fetch(partition.startAt, partition.pageSize, restFields)
    )).iterator.take(partition.end - partition.startAt)
}

/** Point-lookup reader: pushed `key` equalities become single-issue
  * endpoint calls (GET /issue/{key} — scraper.py:171-188); unknown
  * keys (404) yield no row.
  */
class JiraLookupReader(
    partition: JiraLookupPartition,
    required: StructType,
    transport: JiraTransport,
    sleepScale: Double
) extends JiraIssueReader(required) {

  override protected def issueTexts: Iterator[(String, InternalRow)] =
    partition.keys.iterator.flatMap { key =>
      JiraRetry
        .withRetry(sleepScale = sleepScale)(
          transport.fetchIssue(key, restFields)
        )
        .iterator
        .flatMap(JiraResponse.issue)
    }
}
