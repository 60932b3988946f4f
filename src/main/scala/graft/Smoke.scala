package graft

/** Dev smoke runner mirroring the driver's t1 check: run SparkEntry.entry
  * on sf0.001 and assert rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(10).foreach(r => println(s"[smoke] $r"))
    assert(rows.nonEmpty, "entry returned 0 rows")
    spark.stop()
  }
}
