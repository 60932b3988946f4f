package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The `floor` workload: closed loop, one client thread, each query of the
  * non-LLM registries built from its registry and written to the noop sink.
  *
  * Each run times a fixed core list in a seed-permuted order, so runs with
  * different seeds measure the same work. The output check, which runs before
  * the timed region and also warms it up, covers the core list; after
  * the timed region it covers a seed-chosen slice of the rest of the
  * workload's registry, so over `slices` consecutive seeds every query of
  * the registry is checked. */
object Floor {
  type Q = (SparkSession, String) => DataFrame

  /** These write to fixed paths under /tmp, outside the benchmark's
    * directory, so the benchmark neither times nor runs them. */
  val writesOutside = Set("q_file_csv_roundtrip", "q_file_json_roundtrip",
    "q_storage_roundtrip", "q_storage_offsets_for_times")

  val families: Seq[(String, Map[String, Q])] = Seq(
    "BatchQueries" -> BatchQueries.queries, "ZSetQueries" -> ZSetQueries.queries,
    "WindowQueries" -> WindowQueries.queries, "TemporalQueries" -> TemporalQueries.queries,
    "SerdeQueries" -> SerdeQueries.queries, "StorageQueries" -> StorageQueries.queries,
    "TpchQueries" -> TpchQueries.queries, "ScaleQueries" -> ScaleQueries.queries)

  /** Timed every run: one to two queries of each floor family. */
  val core = Seq(
    "q_tail", "q_zs_join_chain", "q_zs_groupby_agg", "q_win_session", "q_asof_join",
    "q_serde_json", "q_chunk_roundtrip", "q5_region", "q9_profit", "q_salted_sum")

  /** The 87 queries outside the core are checked in slices of about three,
    * one slice per run. */
  val slices = 29

  def run(a: Args, out: mutable.Map[String, Any]): Unit = {
    val familyOf = families.flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap
    val all: Map[String, Q] = families.flatMap(_._2).toMap -- writesOutside
    require(core.forall(all.contains), s"core query missing: ${core.filterNot(all.contains)}")
    val rest = all.keys.toSeq.filterNot(core.contains).sorted
    val slice = rest.zipWithIndex.collect { case (n, i) if i % slices == Math.floorMod(a.seed, slices.toLong).toInt => n }
    val rnd = new scala.util.Random(a.seed)
    val order = rnd.shuffle(core)
    out("registry_size") = all.size
    out("excluded") = writesOutside.toSeq.sorted

    val spark = Main.setUp(a, 3, out)(s => Main.warm(s, a.dataDir))
    val tracer = new Tracer(spark, a.trace)
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    // output check, outside the timed region and under the same session. The
    // core list is checked before timing: its plans differ from the timed
    // ones only in their sink, so this pass also compiles the code the timed
    // passes run. The seed's slice is checked after timing, so every run's
    // timed passes follow the same history.
    val checked = mutable.ArrayBuffer[Map[String, Any]]()
    def check(names: Seq[String]): Unit = for (name <- names) {
      val c0 = System.nanoTime()
      val err = try {
        all(name)(spark, a.dataDir).write.mode("overwrite").parquet(s"${a.runDir}/out/$name")
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      cleanup()
      checked += Map("name" -> name, "error" -> err, "wall_s" -> (System.nanoTime() - c0) / 1e9)
    }
    check(order)

    // one closed-loop pass over the core list to the noop sink, keeping its
    // per-query measurements
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    def pass(pass: Int): Double = {
      val p0 = System.nanoTime()
      for ((name, i) <- order.zipWithIndex) {
        val group = s"q-$pass-$i"
        spark.sparkContext.setJobGroup(group, name)
        var buildS = 0.0
        val q0 = System.nanoTime()
        val err = tracer.span("query", name, group = group) { qid =>
          try {
            val df = tracer.span("build", name, qid, group) { _ => all(name)(spark, a.dataDir) }
            buildS = (System.nanoTime() - q0) / 1e9
            tracer.span("write", name, qid, group) { _ => df.write.format("noop").mode("overwrite").save() }
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        }
        val wall = (System.nanoTime() - q0) / 1e9
        spark.sparkContext.clearJobGroup()
        cleanup()
        ops += Map("name" -> name, "family" -> familyOf(name), "pass" -> pass,
          "wall_s" -> wall, "build_s" -> buildS, "error" -> err)
      }
      (System.nanoTime() - p0) / 1e9
    }

    // timed region: whole passes over the core list until `seconds` is spent.
    // No full collection first: it shrinks the heap, and the first pass after
    // it ran about 1.3x as slow, faulting the memory back in
    tracer.begin()
    val passes = mutable.ArrayBuffer[Double]()
    val u0 = Main.usage()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < a.seconds) passes += pass(passes.size + 1)
    val usage = Main.usage() - u0
    out("heap_live_mb") = Main.liveHeapMb()
    out("ops") = ops.toSeq
    out("passes") = passes.toSeq
    out("usage") = usage.toMap
    check(rnd.shuffle(slice))
    out("checked") = checked.toSeq
    if (a.trace) {
      val spans = tracer.allSpans
      out("layers") = {
        import scala.jdk.CollectionConverters._
        tracer.layers.counts.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      }
      out("spans") = spans.map(_.toMap)
    }
  }
}
