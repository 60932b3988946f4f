package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark build over an sfDir and the DuckDB SQL
  * that recomputes the same rows from the same parquet tables, which
  * `graft.Verify` and `tools/check.py` compare it against. */
final case class Q(name: String, build: (SparkSession, String) => DataFrame, oracle: String) {
  // an oracle that reads a helper val declared after `all` sees null
  require(oracle != null && oracle.nonEmpty, s"$name: oracle SQL is null or empty")
}

/** A family of queries declared once each, as `Q` records. Helpers that an
  * oracle references must be declared before `all` (or be a def or lazy
  * val): the records are built in declaration order. */
trait Registry {
  def all: Seq[Q]
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap
}
