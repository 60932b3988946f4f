package graft.perfbench

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of every query the `floor` workload can
  * check, as a JSON object name -> SQL, to the given path. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val names = Floor.families.flatMap(_._2.keys).toSet
    Files.writeString(Paths.get(args(0)), Json(graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }))
  }
}
