package graft

/** Diagnostic-only: isolates the fixed per-job cost of the local-mode
  * scheduler from the per-query floor. Runs (a) bare RDD count jobs on a
  * pre-materialized tiny RDD, (b) noop writes of a trivial 1-exchange
  * DataFrame, (c) noop writes of a 2-exchange DataFrame, and prints the
  * steady-state per-action wall so the floor's job-overhead component can
  * be attributed (DAGScheduler/task-binary vs AQE replanning vs commit).
  * Worker threads come from [[Session]] (`SPARK_GRAFT_CPUS`). */
object JobOverheadProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session("ERROR")
    import org.apache.spark.sql.functions._
    spark.range(1000000).selectExpr("sum(id)").collect()
    val rdd = spark.sparkContext.parallelize(1 to 32, 32).cache()
    rdd.count()
    def time(label: String, reps: Int)(f: => Unit): Unit = {
      var i = 0
      while (i < 3) { f; i += 1 } // warm
      val t0 = System.nanoTime()
      i = 0
      while (i < reps) { f; i += 1 }
      val dt = (System.nanoTime() - t0) / 1e6 / reps
      println(f"[joboverhead] $label%s: $dt%.1f ms/action")
    }
    time("bare rdd.count 32 tasks", 30) { rdd.count() }
    time("bare rdd.count 1 task", 30) {
      spark.sparkContext.parallelize(1 to 1, 1).count()
    }
    val one = spark.range(100).selectExpr("id", "id % 7 as k")
    time("noop write map-only", 20) {
      one.write.format("noop").mode("overwrite").save()
    }
    val two = one.groupBy("k").agg(sum("id").as("s"))
    time("noop write 1 exchange", 20) {
      two.write.format("noop").mode("overwrite").save()
    }
    val three = two.groupBy(col("s") % 3).agg(count(lit(1)))
    time("noop write 2 exchanges", 20) {
      three.write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
