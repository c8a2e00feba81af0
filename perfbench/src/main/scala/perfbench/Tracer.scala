package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Layer counters of one traced unit of work (a query execution or a
  * probe), filled by the listeners below. */
final class Counters {
  var jobs, stages, tasks, exchanges = 0L
  var taskMs, gcMs, shuffleWrite, shuffleRead, spill, scan, rddBlocks = 0L
  var batches, rowsIn, stateRows = 0L
  val batchMs = mutable.ArrayBuffer[Long]()
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()

  /** Wall time of [start, end] not covered by any Spark job, in ms. */
  def driverGapMs(start: Double, end: Double): Double = {
    var covered, reach = 0.0
    reach = start
    for ((s, e) <- jobIntervals.sortBy(_._1)) {
      val lo = math.max(s, reach)
      val hi = math.min(e, end)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    math.max(0.0, (end - start) - covered)
  }

  def toMap(start: Double, end: Double): Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "exchanges" -> exchanges,
    "task_ms" -> taskMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "scan_bytes" -> scan, "rdd_block_bytes" -> rddBlocks,
    "driver_gap_ms" -> driverGapMs(start, end),
    "stream_batches" -> batches, "stream_rows_in" -> rowsIn,
    "stream_state_rows" -> stateRows, "stream_batch_ms" -> batchMs.toSeq)
}

final class Span(val id: Int, val name: String, val parent: Int, val start: Double) {
  @volatile var end: Double = Double.NaN
  def toMap: Map[String, Any] =
    Map("id" -> id, "name" -> name, "parent" -> parent, "start" -> start, "end" -> end)
}

/** In-memory span recorder and layer counters, measured from outside
  * the program: a SparkListener (jobs, stages, tasks, shuffle, spill,
  * GC, stored blocks), a QueryExecutionListener (exchanges and the file
  * bytes of scan nodes in the executed plan) and a
  * StreamingQueryListener (micro-batches).
  *
  * A span's id travels with every Spark job it starts as a local
  * property, which threads started inside the span inherit, so jobs
  * are attributed to the query phase that caused them.
  */
final class Tracer(spark: SparkSession) {
  private val Prop = "perfbench.span"
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  @volatile private var current: Counters = new Counters
  @volatile private var phase: Span = null
  private val spanCounters = new ConcurrentHashMap[Int, Counters]()
  private val stageCounters = new ConcurrentHashMap[Int, Counters]()
  private val jobSpans = new ConcurrentHashMap[Int, (Span, Counters)]()

  private def open(name: String, parent: Span, start: Double = nowMs): Span =
    spans.synchronized {
      val s = new Span(spans.size + 1, name, if (parent == null) 0 else parent.id, start)
      spans += s
      spanCounters.put(s.id, current)
      s
    }

  /** Run `body` as a span under `parent`; Spark jobs it starts become
    * its children. */
  def span[T](name: String, parent: Span)(body: => T): T = {
    val sc = spark.sparkContext
    val s = open(name, parent)
    val prevProp = sc.getLocalProperty(Prop)
    val prevPhase = phase
    sc.setLocalProperty(Prop, s.id.toString)
    phase = s
    try body
    finally {
      s.end = nowMs
      phase = prevPhase
      sc.setLocalProperty(Prop, prevProp)
    }
  }

  /** Run `body` as a root span with fresh counters; returns the root
    * span and its counters once every listener event has arrived. */
  def unit(name: String)(body: Span => Unit): (Span, Counters) = {
    val c = new Counters
    current = c
    var root: Span = null
    try span(name, null) { root = phase; body(root) }
    finally Bus.drain(spark.sparkContext)
    (root, c)
  }

  private def countersOf(props: java.util.Properties): Counters =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => Option(spanCounters.get(id.toInt))).getOrElse(current)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = countersOf(e.properties)
      val parentId = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(0)
      val parent = spans.synchronized(if (parentId > 0) spans(parentId - 1) else null)
      val s = open("job", parent, e.time.toDouble)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(id => stageCounters.put(id, c))
      jobSpans.put(e.jobId, (s, c))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(e.jobId)).foreach { case (s, c) =>
        s.end = e.time.toDouble
        c.synchronized(c.jobIntervals += ((s.start, s.end)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageCounters.get(e.stageInfo.stageId)).foreach(c => c.synchronized(c.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageCounters.get(e.stageId)).foreach { c =>
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.diskBytesSpilled
          }
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid) {
        val c = current
        c.synchronized(c.rddBlocks += b.memSize + b.diskSize)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = current
      val nodes = planNodes(qe.executedPlan)
      val scanned = nodes.collect { case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum
      c.synchronized {
        c.exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
        c.scan += scanned
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Every node of an executed plan, through adaptive query stages and
    * subqueries. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val c = current
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      open("stream.batch", phase, start).end = start + ms
      c.synchronized {
        c.batches += 1
        c.rowsIn += p.numInputRows
        c.stateRows += p.stateOperators.map(_.numRowsTotal).sum
        c.batchMs += ms
      }
    }
  }

  def enable(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def disable(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}
