package graft
import java.nio.file.{Files, Paths}
import graft.serde.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (dev only)]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    val run = new Run(spark)
    SparkEntry.all.filter(q => only.forall(_.contains(q.name))).foreach { q =>
      run(q.build(spark, sfDir))(_.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}"))
        .error.foreach(e => System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}"))
    }
    // quoted by json4s: a tab or CR in an oracle's SQL stays valid JSON
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.map { case (k, v) => k -> Json.quote(v) }))
    spark.stop()
  }
}
