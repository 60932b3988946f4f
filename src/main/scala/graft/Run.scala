package graft

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** The one way to run and measure a query. Bench, Verify and Plans hand it
  * a frame builder and a sink; one call is one rep:
  *   build = Scala-side DataFrame construction (query wiring, fixture memo)
  *   plan  = analysis + optimization + physical planning (executedPlan)
  *   exec  = the sink
  * The returned [[Run.Rep]] carries those three times, the JVM axes over
  * the same span (gc, process cpu, kernel time) and what the scheduler ran
  * for it (jobs, completed stages, tasks, task time, the three stages with
  * the most task time). A build or sink that throws is caught into
  * `Rep.error`, and the cleanup runs either way. */
final class Run(spark: SparkSession) {
  private val tally = new Run.Tally
  spark.sparkContext.addSparkListener(tally)

  def apply(build: => DataFrame)(sink: DataFrame => Unit): Run.Rep = {
    // the listener bus is drained before every reset and every read, so no
    // event of one rep lands in another's counts
    GraftBridge.waitUntilEmpty(spark)
    tally.reset()
    val g0 = Run.gcMs()
    val c0 = Run.cpuNs()
    val k0 = Run.kernelNs()
    var marks = Vector(System.nanoTime())
    def mark(): Unit = marks :+= System.nanoTime()
    val error = try {
      val df = build
      mark()
      df.queryExecution.executedPlan
      mark()
      sink(df)
      None
    } catch { case e: Throwable => Some(e) }
    while (marks.size < 4) mark()
    val gcS = (Run.gcMs() - g0) / 1e3
    val cpuS = if (c0 < 0) -1.0 else (Run.cpuNs() - c0) / 1e9
    val kernelS = if (k0 < 0) -1.0 else (Run.kernelNs() - k0) / 1e9
    GraftBridge.waitUntilEmpty(spark)
    val rep = tally.synchronized {
      val top = tally.stageTaskMs.toSeq.sortBy { case (id, ms) => (-ms, id) }.take(3)
        .map { case (id, ms) => s"s$id ${ms}ms '${tally.stageNames.getOrElse(id, "?")}'" }
      def s(i: Int) = (marks(i + 1) - marks(i)) / 1e9
      Run.Rep(s(0), s(1), s(2), gcS, cpuS, kernelS, tally.jobs, tally.stageNames.size,
        tally.tasks, tally.taskMs / 1e3, top, error)
    }
    // queries persist() intermediates (e.g. LSH signature tables) and
    // localCheckpoint() loop states (graph ranks, contraction rounds);
    // clearCache() drops only the SQL cache — the checkpoint blocks
    // stay pinned in the BlockManager until a full GC lets the
    // ContextCleaner reap them, and across 180 sequential queries that
    // residue filled the old gen (r9: q_pagerank_deep 9 s isolated vs
    // 53 s mid-suite, q_decontaminate 0.6 s vs 12 s). Unpersist every
    // tracked RDD explicitly — every query's result is already in its
    // sink, nothing live depends on them.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    rep
  }
}

object Run {

  /** One rep of one query. Seconds are -1 where the axis is unavailable
    * (cpu and kernel off Linux/HotSpot). */
  final case class Rep(buildS: Double, planS: Double, execS: Double,
      gcS: Double, cpuS: Double, kernelS: Double,
      jobs: Int, stages: Int, tasks: Int, taskS: Double,
      top3: Seq[String], error: Option[Throwable]) {
    def wallS: Double = buildS + planS + execS

    /** The layer profile as the JSON object Bench writes per query. */
    def profile: String =
      s"""{"build_s":${fmt(buildS)},"plan_s":${fmt(planS)},"exec_s":${fmt(execS)},""" +
        s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_s":${fmt(taskS)}}"""

    /** Wall, JVM axes, profile and top 3 stages on one line, for stderr. */
    def line: String = f"$wallS%.3f s (gc $gcS%.3f s, cpu $cpuS%.3f s, kernel $kernelS%.3f s) " +
      s"$profile top3=[${top3.mkString("; ")}]"
  }

  def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Per-rep scheduler tally; [[Run.apply]] drains the bus around it. */
  private final class Tally extends SparkListener {
    var jobs = 0
    var tasks = 0
    var taskMs = 0L
    val stageNames = mutable.Map.empty[Int, String] // completed stages
    val stageTaskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    def reset(): Unit = synchronized {
      jobs = 0; tasks = 0; taskMs = 0L; stageNames.clear(); stageTaskMs.clear()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageNames(e.stageInfo.stageId) = e.stageInfo.name.linesIterator.nextOption().getOrElse("?")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val ms = if (e.taskMetrics == null) 0L else e.taskMetrics.executorRunTime
      tasks += 1; taskMs += ms; stageTaskMs(e.stageId) += ms
    }
  }

  // The JVM attribution axes. gc: stop-the-world time — a duration
  // dominated by its gc share is environment (allocation pressure,
  // co-tenant paging), not plan shape (r11). cpu: process cpu over all
  // threads — wall ≫ cpu with gc ≈ 0 is wall stolen by a co-tenant (r13),
  // cpu > wall the healthy parallel case. kernel: the stime share of that
  // cpu, charged under memory pressure (page reclaim, allocation faults,
  // compaction), which cpu alone cannot tell from compute (r14: 806 cpu-s
  // read on a query that is flat at ~27). -1 where an axis is unavailable.
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs(): Long = {
    var s = 0L
    gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private def cpuNs(): Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }
  private def kernelNs(): Long = try {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")),
      java.nio.charset.StandardCharsets.US_ASCII)
    // stime is field 15, in USER_HZ ticks (the Linux userland ABI pins
    // USER_HZ at 100); comm (field 2) is parenthesized and may contain
    // spaces, so fields 3+ start after the LAST ')' and stime is their 13th
    val after = s.substring(s.lastIndexOf(')') + 2).split(" ")
    after(12).toLong * (1000000000L / 100L)
  } catch { case _: Throwable => -1L }

  /** Absorbs session/JVM warm-up so the first timed query isn't charged for
    * it, and warms the machinery every query otherwise pays for on its first
    * run — Janino/codegen compilation, parquet vectorized reader, broadcast
    * + shuffle exchange, sort/window, typed Encoder kernels, the noop sink —
    * on tiny inputs (region=5, nation=25 rows). On a long-lived cluster
    * these are one-time costs, not per-query ones. A broken `sfDir` is
    * logged, never thrown: the caller's run must still report. */
  def warm(spark: SparkSession, sfDir: String): Unit = try {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id)").collect()
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    val r = spark.read.parquet(s"$sfDir/region.parquet")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("c")).orderBy(col("r_name"))))
      .write.format("noop").mode("overwrite").save()
    val ds = spark.range(1000).map(i => (i, "v" + i)).toDF("id", "v")
    ds.repartition(col("id")).groupBy("v").count()
      .join(ds, "v").write.format("noop").mode("overwrite").save()
    // IVF/ANN plan shapes (typed argmax kernel, element-wise-sum and
    // bounded top-k Aggregators, centroid collect) are unique to those
    // queries — measured 6.6 s first run vs 1.4 s steady-state; compile
    // them on 8 rows so the timed run measures the operator, not Janino
    val tiny = spark.range(8).select(col("id").as("vec_id"),
      array(lit(0.1f), (col("id") % 3).cast("float")).as("embedding"))
    val cents = graft.llm.Ivf.train(tiny, k = 2, iters = 1)
    graft.llm.Ivf.search(graft.llm.Ivf.index(tiny, cents), cents, tiny.limit(2), k = 1, nprobe = 1)
      .write.format("noop").mode("overwrite").save()
    graft.llm.Ann.lshTopKAgg(tiny, tiny.limit(2), "vec_id", "embedding", 1)
      .write.format("noop").mode("overwrite").save()
    // star-contraction loop (localCheckpoint + fingerprint + two grouped
    // mins per round): ~8 distinct plan shapes compiled per round —
    // measured 8.1 s first run in a long session vs 3.2 s steady-state
    graft.llm.Dedup.clusters(
        spark.range(4).select(col("id").as("doc_id")), "doc_id",
        Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
      .write.format("noop").mode("overwrite").save()
  } catch { case e: Throwable => System.err.println(s"[run] warmup failed: ${e.getMessage}") }
}
