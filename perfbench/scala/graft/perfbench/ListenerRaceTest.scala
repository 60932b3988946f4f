package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Listener-bus race check, run by perfbench/tests/test_listener.py: events
  * of an earlier epoch that reach the listener after the epoch changed must
  * not count. The warm phase's own stage and task events are replayed into
  * the listener after the switch, the way a lagging bus would deliver them.
  * Prints "ok" or exits non-zero. */
object ListenerRaceTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.local.dir", args(0)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val stages = new ConcurrentLinkedQueue[SparkListenerStageSubmitted]()
    val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    sc.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.add(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)
    })
    val tracer = new Tracer(spark, enabled = true)
    def check(what: String, got: Double, want: Double): Unit =
      if (got != want) { System.err.println(s"$what: got $got, want $want"); sys.exit(1) }

    tracer.begin() // warm phase
    sc.parallelize(1 to 100, 8).map(_ * 2).count()
    tracer.drain()
    check("warm tasks", tracer.layers.get("exec.tasks"), 8)
    check("recorded warm tasks", tasks.size, 8)

    tracer.begin() // timed phase
    stages.forEach(e => tracer.layers.onStageSubmitted(e))
    tasks.forEach(e => tracer.layers.onTaskEnd(e))
    check("late warm tasks", tracer.layers.get("exec.tasks"), 0)
    check("late warm stages", tracer.layers.get("exec.stages"), 0)

    sc.parallelize(1 to 100, 3).count()
    tracer.drain()
    check("timed tasks", tracer.layers.get("exec.tasks"), 3)
    check("timed jobs", tracer.layers.get("exec.jobs"), 1)
    // the timed phase's own events replayed once more still count once per
    // stage id known to this epoch, so replays of the warm ids stay out
    tasks.forEach(e => if (e.stageId == tasks.peek().stageId) tracer.layers.onTaskEnd(e))
    check("timed tasks after warm replay", tracer.layers.get("exec.tasks"), 3)
    spark.stop()
    println("ok")
  }
}
