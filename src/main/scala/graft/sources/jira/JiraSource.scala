package graft.sources.jira

import java.util

import graft.jira.JiraSchemas
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
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
  *  - One decode per issue, shared with the file path: the walk of a
  *    page (or point-lookup body) hands each issue object to the
  *    [[graft.functions.JiraDecode]] kernel that
  *    [[graft.jira.JiraPipeline.readRaw]] runs on a line, which returns
  *    the parsed issue with its presence probes ([[JiraResponse]]). A
  *    non-object element drops that element alone, and a syntax error
  *    ends its page; neither fails the scan or the stream. The issues
  *    read and the issues a syntax error cut off are the scan's custom
  *    metrics (`issuesRead`, `issuesLost`).
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

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new JiraIssuesRead, new JiraIssuesLost)

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

/** The walk of a response body. Each issue object is decoded by
  * [[graft.functions.JiraDecode]] while the walk is on it: one Jackson
  * pass, no copy of its text, no second parse. Non-object elements are
  * skipped. A syntax error ends the walk and keeps the issues decoded
  * before it, so a malformed body yields nothing and never fails the
  * read; the issues it cuts off are counted. The page's `total` is read
  * by the same kind of walk, so a bad issue in the probed page cannot
  * fail planning either.
  */
object JiraResponse {
  import com.fasterxml.jackson.core.{JsonParser, JsonProcessingException, JsonToken}
  import graft.functions.JiraDecode
  import scala.collection.mutable.ArrayBuffer

  /** The decoded object elements among the first `limit` elements of a
    * /search body's `issues` array, in order, and the issues lost: when
    * a syntax error ends the walk, `limit` minus the elements walked
    * before it, else 0.
    */
  def issues(body: String, limit: Int, decoder: JiraDecode.Decoder)
      : (Seq[InternalRow], Int) = {
    val out = ArrayBuffer.empty[InternalRow]
    var walked = 0
    val complete = topLevel(body) { (p, name, t) =>
      if (name != "issues" || t != JsonToken.START_ARRAY) false
      else {
        while (walked < limit && p.nextToken() != JsonToken.END_ARRAY) {
          if (p.currentToken == JsonToken.START_OBJECT) out += decoder.issue(p)
          else p.skipChildren()
          walked += 1
        }
        true
      }
    }
    (out.toSeq, if (complete) 0 else limit - walked)
  }

  /** A GET /issue/{key} body, decoded when it is an object, and 1 lost
    * issue when it is malformed.
    */
  def issue(body: String, decoder: JiraDecode.Decoder): (Seq[InternalRow], Int) =
    guarded(body) { p =>
      if (p.nextToken() == JsonToken.START_OBJECT) Seq(decoder.issue(p)) else Nil
    }.fold((Seq.empty[InternalRow], 1))((_, 0))

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
    val p = JiraDecode.factory.createParser(body)
    try Some(f(p))
    catch { case _: JsonProcessingException | _: java.io.IOException => None }
    finally p.close()
  }

  /** Offers each top-level member (name, first value token) of an
    * object body to `member` until it returns true (consumed, done);
    * a member it declines is skipped. False when a syntax error ended
    * the walk.
    */
  private def topLevel(body: String)(
      member: (JsonParser, String, JsonToken) => Boolean): Boolean =
    guarded(body) { p =>
      var done = p.nextToken() != JsonToken.START_OBJECT
      while (!done && p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        done = member(p, name, p.nextToken())
        if (!done) p.skipChildren()
      }
    }.isDefined
}

/** Reader plumbing shared by the page and point-lookup readers: one
  * [[graft.functions.JiraDecode.Decoder]] per partition decodes each
  * issue into the pruned schema, probe columns included, and the
  * reader reports the issues it read and the issues a syntax error cut
  * off as the scan's custom metrics.
  */
abstract class JiraIssueReader(required: StructType)
    extends PartitionReader[InternalRow] {

  protected final val decoder = new graft.functions.JiraDecode.Decoder(required)

  /** The server-side projection: pruned fields.* subfield names — the
    * REST `fields=` param (pushdown of column pruning to the source).
    */
  protected final def restFields: Seq[String] = decoder.restFields

  /** Each response's decoded issues and the issues it lost. */
  protected def responses: Iterator[(Seq[InternalRow], Int)]

  private var read, lost = 0L

  private lazy val rows: Iterator[InternalRow] =
    responses.flatMap { case (issues, n) => lost += n; issues }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); read += 1; true }
    else false

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(JiraScanMetrics.task(JiraScanMetrics.IssuesRead, read),
      JiraScanMetrics.task(JiraScanMetrics.IssuesLost, lost))

  override def close(): Unit = ()
}

/** The jira scan's custom metrics, summed over its partitions. */
object JiraScanMetrics {

  val IssuesRead = "issuesRead"
  val IssuesLost = "issuesLost"

  def task(metric: String, n: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metric
    override def value(): Long = n
  }
}

/** Issues the scan decoded into rows. */
class JiraIssuesRead extends CustomSumMetric {
  override def name(): String = JiraScanMetrics.IssuesRead
  override def description(): String = "issues read"
}

/** Issues a syntax error cut off: the rest of a /search page after the
  * error, or a malformed point-lookup body.
  */
class JiraIssuesLost extends CustomSumMetric {
  override def name(): String = JiraScanMetrics.IssuesLost
  override def description(): String = "issues lost to a syntax error"
}

/** Page reader: one /search request per partition. */
class JiraPartitionReader(
    partition: JiraInputPartition,
    required: StructType,
    transport: JiraTransport,
    sleepScale: Double
) extends JiraIssueReader(required) {

  override protected def responses: Iterator[(Seq[InternalRow], Int)] =
    Iterator(JiraResponse.issues(JiraRetry.withRetry(sleepScale = sleepScale)(
      transport.fetch(partition.startAt, partition.pageSize, restFields)
    ), partition.end - partition.startAt, decoder))
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

  override protected def responses: Iterator[(Seq[InternalRow], Int)] =
    partition.keys.iterator.flatMap { key =>
      JiraRetry
        .withRetry(sleepScale = sleepScale)(
          transport.fetchIssue(key, restFields)
        )
        .map(JiraResponse.issue(_, decoder))
    }
}
