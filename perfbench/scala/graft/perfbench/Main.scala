package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Arguments the runner passes to the JVM side of the benchmark. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    dataDir: String, runDir: String, cpus: Int)

/** JVM side of the benchmark: sets up, runs one workload's check pass and
  * timed region, and writes the raw measurements to `<runDir>/result.json`
  * for `perfbench/run.py`, which derives the reported metrics. */
object Main {

  /** The session every workload is verified and timed under: Bench.scala's
    * settings, with scratch space inside the run directory. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Process-wide resource counters, read at both ends of the timed region. */
  final case class Usage(wallS: Double, gcS: Double, jitS: Double, cpuS: Double, kernelS: Double,
      stealS: Double, codegen: Double) {
    def -(o: Usage): Usage = Usage(wallS - o.wallS, gcS - o.gcS, jitS - o.jitS, cpuS - o.cpuS,
      kernelS - o.kernelS, stealS - o.stealS, codegen - o.codegen)
    def toMap: Map[String, Double] = Map("jvm.gc_s" -> gcS, "jvm.jit_s" -> jitS, "jvm.cpu_s" -> cpuS,
      "jvm.kernel_s" -> kernelS, "jvm.wall_minus_cpu_s" -> math.max(0.0, wallS - cpuS),
      "host.steal_s" -> stealS, "codegen.compiles" -> codegen)
  }

  def usage(): Usage = {
    var gc = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => gc += math.max(0L, b.getCollectionTime))
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }
    // /proc/self/stat field 15 is stime and /proc/stat's cpu line field 8 is
    // steal, both in USER_HZ ticks (100 per second on Linux)
    def ticks(path: String, f: String => Long): Double =
      try f(new String(Files.readAllBytes(Paths.get(path)), "US-ASCII")) / 100.0
      catch { case _: Exception => 0.0 }
    val kernel = ticks("/proc/self/stat", s => s.substring(s.lastIndexOf(')') + 2).split(" ")(12).toLong)
    val steal = ticks("/proc/stat", s => s.linesIterator.next().trim.split("\\s+")(8).toLong)
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    // classes compiled by Janino: whole-stage code and projections that
    // missed Spark's code-generation cache
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    Usage(Clock.nowMs / 1e3, gc / 1e3, jit, cpu, kernel, steal, codegen)
  }

  /** Heap still live after a full collection, in MB: the least of three
    * readings, each right after a collection, since threads that keep running
    * (streaming triggers, Spark's cleaner) allocate between the two. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("run"), kv("cpus").toInt)
    val out = mutable.LinkedHashMap[String, Any]()
    a.workload match {
      case "floor" => Floor.run(a, out)
      case "log_stream" => LogStream.run(a, out)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    Files.writeString(Paths.get(s"${a.runDir}/result.json"), Json(out))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Set-up measured `n` times: each repetition builds a fresh session and
    * runs `prepare` on it (warm-up, data registration or log seeding). The
    * last session stays open for the measured phases. */
  def setUp(a: Args, n: Int, out: mutable.Map[String, Any])(prepare: SparkSession => Unit): SparkSession = {
    val times = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to n) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      prepare(spark)
      times += (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = times.toSeq
    spark
  }

  /** The warm-up Bench.scala runs before timing: codegen, the parquet reader,
    * broadcast and shuffle exchanges, windows, typed kernels and the noop sink. */
  def warm(spark: SparkSession, dataDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id)").collect()
    val n = spark.read.parquet(s"$dataDir/nation.parquet")
    val r = spark.read.parquet(s"$dataDir/region.parquet")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("c")).orderBy(col("r_name"))))
      .write.format("noop").mode("overwrite").save()
    val ds = spark.range(1000).map(i => (i, "v" + i)).toDF("id", "v")
    ds.repartition(col("id")).groupBy("v").count()
      .join(ds, "v").write.format("noop").mode("overwrite").save()
  }
}
