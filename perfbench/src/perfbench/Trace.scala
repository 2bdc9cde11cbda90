package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span: a layer call made from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each layer call, kept in memory and written at the
  * end of the run. Spans are recorded only in a traced run.
  * The innermost open span's name is set as the Spark local property
  * [[Tracer.SpanProperty]], so [[ExecListener]] can attribute stages
  * and tasks to the layer that launched them.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(0), System.nanoTime(), 0L)
      nextId += 1
      open = s :: open
      sc.setLocalProperty(Tracer.SpanProperty, name)
      try body
      finally {
        spans += s.copy(endNs = System.nanoTime())
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.name).orNull)
      }
    }

  /** Total seconds of the spans called `name`. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  def json: String = spans
    .map(s => s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    .mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark execution counters for the traced run: jobs, stages, tasks,
  * task busy time, shuffle and spill bytes, GC time, and the worst
  * stage's task skew (longest task ÷ median task). Tasks are also
  * counted per span, through the stage's [[Tracer.SpanProperty]].
  */
final class ExecListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val busyMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  @volatile var maxSkew = 1.0
  private val stageSpan = new ConcurrentHashMap[Int, String]
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]
  val tasksBySpan = new ConcurrentHashMap[String, AtomicLong]

  def reset(): Unit = {
    Seq(jobs, stages, tasks, busyMs, gcMs, shuffleWrite, shuffleRead, spill).foreach(_.set(0))
    maxSkew = 1.0
    tasksBySpan.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
    span.foreach(stageSpan.put(e.stageInfo.stageId, _))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val d = e.taskInfo.duration
    busyMs.addAndGet(d)
    val durations = stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]())
    durations.synchronized { durations += d }
    Option(stageSpan.get(e.stageId)).foreach { s =>
      tasksBySpan.computeIfAbsent(s, _ => new AtomicLong).incrementAndGet()
    }
    val m = e.taskMetrics
    if (m != null) {
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val ds = Option(stageTasks.remove(e.stageInfo.stageId)).map(_.sorted).getOrElse(ArrayBuffer())
    if (ds.size >= 2) {
      val median = math.max(1L, ds(ds.size / 2))
      maxSkew = math.max(maxSkew, ds.last.toDouble / median)
    }
  }
}

/** Catalyst phase times (analysis, optimization, physical planning)
  * of every Dataset action the program runs, from each action's
  * `QueryPlanningTracker`. Frames the benchmark executes through
  * `queryExecution.toRdd` are not actions and are added with
  * [[PlanPhases.add]] instead.
  */
final class PlanPhases extends QueryExecutionListener {
  val analyze = new DoubleAdder
  val optimize = new DoubleAdder
  val physical = new DoubleAdder

  def reset(): Unit = Seq(analyze, optimize, physical).foreach(_.reset())

  def add(t: QueryPlanningTracker): Unit = {
    val p = t.phases
    def sec(k: String) = p.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
    analyze.add(sec(QueryPlanningTracker.ANALYSIS))
    optimize.add(sec(QueryPlanningTracker.OPTIMIZATION))
    physical.add(sec(QueryPlanningTracker.PLANNING))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(qe.tracker)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(qe.tracker)
}

object Instruments {

  /** Waits until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Megabytes of cached RDD blocks held in memory right now. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)
}
