package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    Run.warm(spark, sfDir)
    // diagnostics: SPARK_GRAFT_ONLY=q_a,q_b restricts the set;
    // SPARK_GRAFT_REPEAT=n times each query up to n times (stderr per-rep
    // lines, JSON records the MIN — the run-to-run minimum is the stable
    // estimator, where ±0.3 s of JIT/GC noise otherwise dominates
    // round-over-round comparison). EVERY query gets its full rep count:
    // r5/r6 both tried a "≥ N s runs once" cutoff to save wall clock and
    // both times the cutoff itself polluted the numbers — precisely the
    // slowest-looking queries (the ones a reader scrutinizes) were the
    // ones recorded cold (r6: q_serde_json 5.87 recorded vs 0.85 steady,
    // q_hits 6.14 vs ~0.9 — first-rep codegen/GC, code unchanged). The
    // extra wall clock is the warm sum (~60 s over 160+ queries), a fair
    // price for numbers that mean what they look like.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    val selected = SparkEntry.all.sortBy(_.name).filter(q => only.forall(_.contains(q.name)))
    val run = new Run(spark)
    // per query: the SELECTED (min-wall) rep and the requeued rep count; a
    // failed query has no selected rep, records -1.0 (never a fake
    // duration) and logs to stderr
    val results = selected.zipWithIndex.map { case (q, qIdx) =>
      var reps = Vector.empty[Run.Rep]
      def runRep(label: String): Unit = {
        // noop sink, not count(): count() lets Catalyst prune every column a
        // map-only query computes, timing an empty scan instead of the work
        val r = run(q.build(spark, sfDir))(_.write.format("noop").mode("overwrite").save())
        reps :+= r
        r.error.foreach(e => System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}"))
        if (repeat > 1 || label.nonEmpty)
          System.err.println(s"[bench] ${q.name} rep ${reps.size}$label: ${r.line}")
      }
      def failed = reps.exists(_.error.nonEmpty)
      while (reps.size < repeat && !failed) runRep("")
      def best = reps.minBy(_.wallS) // the SELECTED rep
      def dt = best.wallS
      // interference requeue (round 15, VERDICT r14 task 3): when even
      // the MIN rep carries the documented box-interference signature —
      // kernel-mode share of cpu > 60% with gc ≈ 0 on a multi-second
      // reading (SCALING.md: page reclaim charged to the process, not
      // engine compute) — requeue up to 2 extra reps so the artifact
      // self-cleans instead of needing a judge-side quiet re-run. The
      // count lands in the durable JSON ("requeued") for transparency.
      def interference: Boolean =
        dt > 2.0 && best.cpuS > 0 && best.kernelS >= 0 && best.kernelS > 0.6 * best.cpuS &&
          best.gcS < 0.1 * dt
      // second trigger (round 16): an UNSTABLE multi-second reading — the
      // reps disagree by more than 40% of the slowest one. The r15-opt
      // baseline recorded q1_pricing at 3.685 s (reps 3.685/6.912) inside a
      // host-steal window where the same query, same code, same box reads
      // 0.6–1.0 s quiet and stable; min-of-2 cannot self-clean when BOTH
      // reps land in the storm, but the disagreement itself is the tell —
      // genuinely slow queries repeat within ~10% (e.g. q_fuzzy_join
      // 2.35/2.4). Bounded at the same 2 extra reps, recorded in
      // "requeued" — this hardens the ESTIMATOR, never the work measured.
      def unstable: Boolean = {
        val slowest = reps.map(_.wallS).max
        dt > 2.0 && slowest > dt && (slowest - dt) > 0.4 * slowest
      }
      while (reps.nonEmpty && !failed && reps.size < repeat + 2 && (interference || unstable)) {
        val triggers = Seq("kernel-share" -> interference, "unstable" -> unstable)
          .collect { case (label, true) => label }
        runRep(triggers.mkString(" (requeue: ", "+", ")"))
      }
      // a periodic full GC drives the ContextCleaner's weak-reference
      // queue, releasing shuffle files and broadcast blocks from completed
      // queries — otherwise they only go when the old gen happens to fill,
      // which is exactly the moment a heavy query can least afford it
      if (qIdx % 25 == 24) System.gc()
      (q.name, if (failed) None else reps.minByOption(_.wallS), math.max(0, reps.size - repeat))
    }
    import Run.fmt
    def qsJson(entries: Seq[(String, Double)]) = entries.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // one per-query map of the selected rep's `f`, `none` for a failed query
    def axis(none: Double)(f: Run.Rep => Double) =
      qsJson(results.map { case (k, sel, _) => k -> sel.fold(none)(f) })
    val requeued = qsJson(results.collect { case (k, _, rq) if rq > 0 => k -> rq.toDouble })
    val profiles = results.collect { case (k, Some(r), _) => s"\"$k\":${r.profile}" }
      .mkString("{", ",", "}")
    val times = results.map { case (k, sel, _) => k -> sel.fold(-1.0)(_.wallS) }
    val total = times.map(_._2).filter(_ >= 0).sum
    // FULL per-query map goes to the durable file — the stdout line cannot
    // hold it: the driver parses the line from a BOUNDED (2 KB) stdout tail,
    // and at 160+ queries the full map alone is ~4 KB (BENCH_r05 lost the
    // first 19 entries; BENCH_r07 "parsed": null — the whole line fell out
    // of the tail). The printed line instead carries the total plus the
    // slowest-N subset that fits in ~1.8 KB (the heavy hitters are what
    // round-over-round comparison scrutinizes) and points at the file.
    // "gc" = stop-the-world seconds inside each query's RECORDED (min) rep;
    // "cpu" = process-cpu seconds inside that same rep; "cpu_kernel" = the
    // stime share of that cpu — a cpu-heavy rep whose kernel share
    // dominates is memory-pressure interference, not engine compute;
    // "wall_minus_cpu" = max(0, wall - cpu) — the stolen-wall diagnosis:
    // positive seconds of recorded wall the process did NOT spend on a CPU
    // (clamped at 0 — parallel compute makes cpu > wall on healthy reps). A
    // large value with gc ≈ 0 means the box, not the engine: exactly the
    // r11/r12 driver-bench anomaly; "profile" = that rep's layers (build,
    // plan and exec seconds; jobs, completed stages, tasks, task seconds),
    // failed queries omitted
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qsJson(times)},""" +
      s""""gc":${axis(0.0)(_.gcS)},"cpu":${axis(-1.0)(_.cpuS)},"cpu_kernel":${axis(-1.0)(_.kernelS)},""" +
      s""""wall_minus_cpu":${axis(-1.0)(r => if (r.cpuS < 0) -1.0 else math.max(0.0, r.wallS - r.cpuS))},""" +
      s""""requeued":$requeued,"profile":$profiles,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_result.json"),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] result file write failed: ${e.getMessage}") }
    val bySlowest = times.sortBy(-_._2)
    // "subset" makes the tail self-describing: the stdout "queries" map is
    // the slowest-N slice, not the suite — the full map is in the file
    def lineFor(n: Int) =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""subset":"slowest_$n","queries_full":"bench_result.json","queries":${qsJson(bySlowest.take(n))},"sf":"$sfDir"}"""
    val line = (bySlowest.size to 0 by -5).iterator.map(lineFor)
      .find(_.length <= 1800).getOrElse(lineFor(0))
    println(line)
    spark.stop()
  }
}
