package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic-only (not part of the driver contract): decomposes named
  * queries' per-rep cost into the layers the per-query floor is made of —
  * 289 of 319 bench queries run sub-second, so the fixed cost, not
  * operator scaling, dominates the suite. For each rep it prints
  *   build  = Scala-side DataFrame construction (query wiring, fixture memo)
  *   plan   = analysis + optimization + physical planning (executedPlan)
  *   exec   = the noop-sink action
  * with the action's jobs, stages, tasks and summed task time, and the
  * three stages that own the most task time. Rep 1 carries the codegen
  * warm-up; later reps are the steady state. With `planDir` set, each
  * query's formatted (pre-execution) physical plan is written to
  * `planDir/<q>.txt`. Usage:
  *   Probe q_a,q_b [reps] [sfDir] [planDir]
  */
object Probe {

  /** Per-rep tally. The listener bus is drained before every reset and
    * every read, so no event of one rep lands in another's counts. */
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

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: Probe <q1,q2,...> [reps] [sfDir] [planDir]"); sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 4
    val dir = if (args.length > 2) args(2) else "perfbench/data/sf0.01"
    val planDir = args.lift(3)
    val spark = Session("ERROR")
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    // session warmup (same rationale as Bench)
    spark.range(1000000).selectExpr("sum(id)").collect()
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      for (rep <- 1 to reps) {
        GraftBridge.waitUntilEmpty(spark)
        tally.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        if (rep == 1) planDir.foreach { d =>
          val plan = df.queryExecution.explainString(FormattedMode)
          Files.write(Paths.get(d, s"$name.txt"), plan.getBytes("UTF-8"))
        }
        GraftBridge.waitUntilEmpty(spark)
        tally.synchronized {
          val top = tally.stageTaskMs.toSeq.sortBy { case (id, ms) => (-ms, id) }.take(3)
            .map { case (id, ms) => s"s$id ${ms}ms '${tally.stageNames.getOrElse(id, "?")}'" }
          println(f"[probe] $name%s rep $rep: build=${(t1 - t0) / 1e3}%.0f us " +
            f"plan=${(t2 - t1) / 1e3}%.0f us exec=${(t3 - t2) / 1e3}%.0f us " +
            f"jobs=${tally.jobs} stages=${tally.stageNames.size} tasks=${tally.tasks} " +
            f"task_time=${tally.taskMs}%d ms top3=[${top.mkString("; ")}]")
        }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
