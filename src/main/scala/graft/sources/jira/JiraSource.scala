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
    val probeSchema = StructType(Seq(StructField("total", IntegerType)))
    val body = JiraRetry.withRetry(sleepScale = sleepScale)(
      t.fetch(0, 1, Nil)
    )
    JsonBridge.parseJson(probeSchema, body).head.getInt(0)
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

case class JiraInputPartition(startAt: Int, pageSize: Int)
    extends JiraPartition

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
      (0 until total by pageSize)
        .map(JiraInputPartition(_, pageSize): InputPartition)
        .toArray
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
    (s until e by pageSize)
      .map(JiraInputPartition(_, pageSize): InputPartition)
      .toArray
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

/** Absent-vs-null presence probes for the connector path: the key
  * sets of each issue object and its `fields` object, read with a
  * plain Jackson tree walk of the same response body the row parser
  * consumed (array order is preserved on both sides, so zip aligns).
  * For well-formed issues without duplicate keys these are the key
  * sets the `JsonKeyProbe` columns of [[graft.jira.JiraPipeline.readRaw]]
  * compute. The tree walk differs where the probe keeps the quirks of
  * `json_object_keys`: it lists a duplicated key once, takes the last
  * `fields` member rather than the first non-null one, and gives null
  * for a `fields` string that holds JSON object text.
  */
object JiraJsonProbe {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

  private val mapper = new ObjectMapper()

  /** (fieldsKeys, topKeys) — null array ≡ the object is absent/null/
    * non-object, matching json_object_keys semantics.
    */
  def issueProbe(node: JsonNode): (Array[String], Array[String]) = {
    val top =
      if (node != null && node.isObject) node.fieldNames().asScala.toArray
      else null
    val f = if (node != null) node.get("fields") else null
    val fk =
      if (f != null && f.isObject) f.fieldNames().asScala.toArray
      else null
    (fk, top)
  }

  /** Per-issue probes of a /search response, in `issues[]` order.
    * A malformed body degrades to no probes (the row parser handles
    * malformed input on its own terms — the probe pass must never be
    * the thing that fails the read).
    */
  def searchProbes(body: String): Vector[(Array[String], Array[String])] =
    try {
      val issues = mapper.readTree(body).get("issues")
      if (issues == null || !issues.isArray) Vector.empty
      else issues.elements().asScala.map(issueProbe).toVector
    } catch { case _: Exception => Vector.empty }

  def singleProbe(body: String): (Array[String], Array[String]) =
    try issueProbe(mapper.readTree(body))
    catch { case _: Exception => (null, null) }
}

/** Shared reader plumbing: splits the pruned schema into parseable
  * columns vs probe columns, and reassembles output rows in the
  * pruned order (probes computed, everything else passed through).
  */
trait JiraProbeAssembly {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  def required: StructType

  private val probeNames =
    Set(graft.jira.JiraFlatten.ProbeFieldsKeys,
      graft.jira.JiraFlatten.ProbeTopKeys)

  /** Columns the JSON row parser materializes (probes excluded). */
  final val parseSchema: StructType =
    StructType(required.fields.filterNot(f => probeNames(f.name)))

  final val wantsProbes: Boolean =
    required.fields.exists(f => probeNames(f.name))

  /** The server-side projection: pruned fields.* subfield names — the
    * REST `fields=` param (pushdown of column pruning to the source).
    */
  final val restFields: Seq[String] =
    parseSchema.fields
      .find(_.name == "fields")
      .map(_.dataType.asInstanceOf[StructType].fieldNames.toSeq)
      .getOrElse(Nil)

  private def keysArray(keys: Array[String]): AnyRef =
    if (keys == null) null
    else new GenericArrayData(keys.map(UTF8String.fromString(_): AnyRef))

  final def assemble(
      row: InternalRow,
      probe: (Array[String], Array[String])
  ): InternalRow = {
    var pi = 0
    val vals = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val f = required.fields(i)
      vals(i) =
        if (f.name == graft.jira.JiraFlatten.ProbeFieldsKeys)
          keysArray(probe._1)
        else if (f.name == graft.jira.JiraFlatten.ProbeTopKeys)
          keysArray(probe._2)
        else {
          val v = row.get(pi, parseSchema.fields(pi).dataType)
          pi += 1
          v
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }
}

class JiraPartitionReader(
    partition: JiraInputPartition,
    val required: StructType,
    transport: JiraTransport,
    sleepScale: Double
) extends PartitionReader[InternalRow]
    with JiraProbeAssembly {

  private lazy val rows: Iterator[InternalRow] = {
    val body = JiraRetry.withRetry(sleepScale = sleepScale)(
      transport.fetch(partition.startAt, partition.pageSize, restFields)
    )
    val responseSchema = StructType(
      Seq(StructField("issues", ArrayType(parseSchema)))
    )
    // probes are keyed by the issue's index in issues[] — carried
    // through the schema'd parse below, NOT positionally zipped
    // across two parsers, so a row the schema'd parser nulls still
    // meets ITS OWN probe; out-of-range / failed-parse indexes get
    // the no-probe default
    lazy val probes = JiraJsonProbe.searchProbes(body)
    def probeAt(i: Int): (Array[String], Array[String]) =
      if (i < probes.length) probes(i) else (null, null)
    JsonBridge.parseJson(responseSchema, body).iterator.flatMap { row =>
      if (row.isNullAt(0)) Iterator.empty
      else {
        val arr = row.getArray(0)
        (0 until arr.numElements()).iterator.map { i =>
          val r = arr.getStruct(i, parseSchema.length).copy()
          if (wantsProbes) assemble(r, probeAt(i)) else r
        }
      }
    }
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true }
    else false

  override def get(): InternalRow = current

  override def close(): Unit = ()
}

/** Point-lookup reader: pushed `key` equalities become single-issue
  * endpoint calls (GET /issue/{key} — scraper.py:171-188); unknown
  * keys (404) yield no row.
  */
class JiraLookupReader(
    partition: JiraLookupPartition,
    val required: StructType,
    transport: JiraTransport,
    sleepScale: Double
) extends PartitionReader[InternalRow]
    with JiraProbeAssembly {

  private lazy val rows: Iterator[InternalRow] =
    partition.keys.iterator.flatMap { key =>
      JiraRetry
        .withRetry(sleepScale = sleepScale)(
          transport.fetchIssue(key, restFields)
        )
        .iterator
        .flatMap { body =>
          val parsed = JsonBridge.parseJson(parseSchema, body)
          if (!wantsProbes) parsed
          else {
            val probe = JiraJsonProbe.singleProbe(body)
            parsed.map(assemble(_, probe))
          }
        }
    }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true }
    else false

  override def get(): InternalRow = current

  override def close(): Unit = ()
}
