package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.ops.AddOns
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` / `oracleSql` are views of `all`, the `Q` records of the
  * registries under graft.queries: each implemented operator from SURVEY
  * §2 is declared there once, with its Spark build and its DuckDB oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A real multi-operator pipeline: envelope read → JSON decode → compact
    * (last-per-key + tombstones) → broadcast join to customer dim →
    * per-user aggregate.
    */
  /** read → decode → compact → broadcast join → windowed agg. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val env = Envelope.fromEvents(spark, dir)
    val decoded = env.withColumn("k", get_json_object(col("value"), "$.k").cast("long"))
    val compacted = AddOns.compact(decoded)
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    graft.streams.Windows.tumbling(
      compacted.join(broadcast(customer), col("user_id") + 1 === col("c_custkey")),
      col("timestamp"), 7L * 86400000L, Seq(col("c_mktsegment")))(
      count(lit(1)).as("n"), sum("k").as("sum_k"))
  }

  def registries: Seq[Registry] = Seq(BatchQueries, ZSetQueries, WindowQueries,
    SerdeQueries, LlmQueries, StorageQueries, TpchQueries, ScaleQueries,
    TemporalQueries, FuzzyQueries)

  /** Every registry's records in one sequence; a name declared in two
    * registries (or twice in one) stops the program here instead of one
    * record silently replacing the other in the maps below. */
  lazy val all: Seq[Q] = {
    val qs = registries.flatMap(_.all)
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query has one. */
  lazy val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap
}
