package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `group` links a Spark job to the operation that
  * submitted it; `parent` links a child span to its enclosing span. Times are
  * wall-clock milliseconds with sub-millisecond resolution where the harness
  * took them itself (listener events carry whole milliseconds). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    group: String, startMs: Double, endMs: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "group" -> group, "start_ms" -> startMs, "end_ms" -> endMs)
}

object Clock {
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** Counters and spans of one measurement epoch.
  *
  * Spark delivers listener events asynchronously, so task-end events of an
  * earlier phase (the warm pass) can arrive after the timed phase began. The
  * harness therefore tags every job it submits with the local property
  * [[Epoch.Key]]; the listener keeps only events whose job or stage carries
  * the current epoch, and the harness drains the bus before it bumps the
  * epoch and before it reads the totals. */
class Epoch {
  @volatile private var current = "0"
  def value: String = current

  /** Start a new epoch on the calling thread: every job submitted from this
    * thread, and from threads it starts afterwards, carries the new tag. */
  def advance(sc: SparkContext): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    current = (current.toInt + 1).toString
    sc.setLocalProperty(Epoch.Key, current)
  }

  def matches(props: java.util.Properties): Boolean =
    props != null && props.getProperty(Epoch.Key) == current
}

object Epoch {
  val Key = "perfbench.epoch"
}

/** Scheduler, task and shuffle totals for the current epoch, plus one span
  * per Spark job. */
class LayerListener(epoch: Epoch) extends SparkListener {
  private val stageEpoch = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Double)]()
  val counts = new ConcurrentHashMap[String, java.lang.Double]()
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** SQL execution ids whose jobs ran in the current epoch. */
  val executions: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  /** Whether the execution that ended last belongs to the current epoch. The
    * execution-end event and the QueryExecutionListener callback for it are
    * delivered one after the other on this listener's bus queue. */
  @volatile var lastEndedInEpoch = false

  def add(k: String, v: Double): Unit = counts.merge(k, v, (a, b) => a + b)
  def get(k: String): Double = Option(counts.get(k)).map(_.doubleValue).getOrElse(0.0)

  def reset(): Unit = {
    counts.clear(); jobSpans.clear(); executions.clear(); jobStart.clear(); stageEpoch.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (epoch.matches(e.properties)) {
      val group = Option(e.properties.getProperty("spark.jobGroup.id")).getOrElse("")
      jobStart.put(e.jobId, (group, e.time.toDouble))
      Option(e.properties.getProperty("spark.sql.execution.id")).foreach(x => executions.add(x.toLong))
      add("exec.jobs", 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (group, t0) =>
      jobSpans.add(Span(-1, -1, "job", s"job ${e.jobId}", group, t0, e.time.toDouble))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionEnd => lastEndedInEpoch = executions.contains(x.executionId)
    case _ => ()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (epoch.matches(e.properties)) {
      stageEpoch.put(e.stageInfo.stageId, epoch.value)
      add("exec.stages", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageEpoch.get(e.stageId) == epoch.value && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      add("exec.tasks", 1)
      add("exec.task_s", m.executorRunTime / 1e3)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.serde_s", (m.executorDeserializeTime + m.resultSerializationTime) / 1e3)
      // Spark UI's scheduler delay: task wall not spent deserializing,
      // running, serializing the result or fetching it
      add("exec.sched_delay_s", math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime) / 1e3)
      add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("scan.bytes", m.inputMetrics.bytesRead)
    }
}

/** Catalyst phase times and scan file counts of every query execution whose
  * jobs belong to the current epoch. Runs on the same listener-bus queue as
  * [[LayerListener]], right after that execution's end event. */
class PlanListener(layers: LayerListener) extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (layers.lastEndedInEpoch) {
      layers.add("plan.count", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        if (Set("analysis", "optimization", "planning")(phase))
          layers.add(s"plan.${phase}_s", s.durationMs / 1e3)
      }
      collectWithSubqueries(qe.executedPlan) { case f: FileSourceScanExec => f }
        .foreach(f => f.metrics.get("numFiles").foreach(m => layers.add("scan.files", m.value.toDouble)))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Micro-batch progress of the streaming queries the harness registered for
  * the current epoch. */
class StreamListener(layers: LayerListener) extends StreamingQueryListener {
  val queries: java.util.Set[java.util.UUID] = ConcurrentHashMap.newKeySet[java.util.UUID]()
  val batchSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (queries.contains(p.id)) {
      layers.add("streaming.batches", 1)
      layers.add("streaming.input_rows", p.numInputRows.toDouble)
      val d = p.durationMs
      Seq("addBatch", "queryPlanning", "latestOffset", "getBatch", "walCommit", "commitOffsets")
        .foreach(k => if (d.containsKey(k)) layers.add(s"streaming.${k}_ms", d.get(k).doubleValue))
      val ops = p.stateOperators.toSeq
      val rows = ops.map(_.numRowsTotal).sum
      layers.add("streaming.state_rows_removed", ops.map(_.numRowsRemoved).sum.toDouble)
      layers.add("streaming.late_rows_dropped", ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
      layers.counts.put("streaming.state_rows_last", rows.toDouble)
      layers.counts.merge("streaming.state_rows_max", rows.toDouble, (a, b) => math.max(a, b))
      layers.counts.put("streaming.state_mem_mb_last", ops.map(_.memoryUsedBytes).sum / 1048576.0)
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = Option(d.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      batchSpans.add(Span(-1, -1, "batch", s"${p.name} #${p.batchId}", p.runId.toString, t0, t0 + dur))
    }
  }
}

/** The traced run's span store and listener set. Nothing is attached to the
  * session unless the run is traced. */
class Tracer(spark: SparkSession, val enabled: Boolean) {
  val epoch = new Epoch
  val layers = new LayerListener(epoch)
  val plans = new PlanListener(layers)
  val streams = new StreamListener(layers)
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L

  if (enabled) {
    spark.sparkContext.addSparkListener(layers)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  /** Drain the bus, open a new epoch and forget everything recorded so far. */
  def begin(): Unit = {
    epoch.advance(spark.sparkContext)
    clear()
  }

  /** Drain the bus and forget everything recorded so far, in the same epoch:
    * for threads that were started in this epoch and keep submitting jobs,
    * such as streaming queries. */
  def clear(): Unit = {
    drain()
    layers.reset(); streams.queries.clear(); streams.batchSpans.clear()
    spans.clear()
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Time `f` as a span of `kind`; a no-op wrapper when tracing is off. */
  def span[A](kind: String, name: String, parent: Long = -1, group: String = "")(f: Long => A): A =
    if (!enabled) f(-1)
    else {
      val id = { nextId += 1; nextId }
      val t0 = Clock.nowMs
      try f(id) finally spans += Span(id, parent, kind, name, group, t0, Clock.nowMs)
    }

  def allSpans: Seq[Span] = {
    drain()
    import scala.jdk.CollectionConverters._
    spans.toSeq ++ layers.jobSpans.asScala ++ streams.batchSpans.asScala
  }
}
