package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Envelope, TableCache}
import graft.ops.Skew
import graft.streams.ZSet

/** Scale-technique queries: salting equivalence, Z-set record expansion,
  * and the Q6-style single-scan predicate aggregate. */
object ScaleQueries extends Registry {

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  /** One ANSI SQL text that runs verbatim on BOTH engines — the engine's
    * `spark.sql(...)` surface demonstrated with the oracle being the same
    * string (SURVEY §2.7: the reference has no SQL; Spark gives it free). */
  val PricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Bit-definition replay of ZOrder.interleave: 24 disjoint-bit terms,
    * summed (disjoint bits make + and | coincide). */
  private val zTerms: String = (0 until 12).flatMap(i => Seq(
    s"((((o_custkey % 4096) >> $i) & 1) << ${2 * i})",
    s"((((o_orderkey % 4096) >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  val all: Seq[Q] = Seq(
    // salted two-phase aggregation == plain groupBy (the oracle IS the
    // unsalted form, so the gate proves the equivalence)
    Q("q_salted_sum", (s, dir) =>
      Skew.saltedSum(
        TableCache.parquet(s, s"$dir/lineitem.parquet"),
        Seq("l_returnflag"), dec("l_quantity"), "sum_qty")
        .withColumn("sum_qty", col("sum_qty").cast("double"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // to_records: positive weights replicate, negatives drop
    Q("q_zs_to_records", (s, dir) => {
      val ev = Envelope.readEvents(s, dir)
      val zs = ZSet.fromWeighted(
        ev.select("user_id", "event_type"),
        when(col("event_type") === "error", -1L).otherwise(1L))
      ZSet.toRecords(ZSet.consolidate(zs)).orderBy("user_id", "event_type")
    },
      """SELECT g.user_id, g.event_type
        |FROM (SELECT user_id, event_type, sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) AS w
        |      FROM events GROUP BY 1, 2 HAVING sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) > 0) g,
        |     unnest(generate_series(1, CAST(g.w AS BIGINT))) AS u(i)
        |ORDER BY 1, 2""".stripMargin),

    // spark.sql(...) surface: the oracle is the SAME SQL text
    Q("q_sql_pricing", (s, dir) => {
      TableCache.parquet(s, s"$dir/lineitem.parquet").createOrReplaceTempView("lineitem")
      s.sql(PricingSql)
    },
      PricingSql),

    // LSH bucket-size observability (oracle recomputes the signatures and
    // groups by raw band slices — see HashOracle)
    // bucket identity = equality of the raw 4-slot signature slice (the
    // engine buckets on xxhash64 of the slice; equal slices <=> equal
    // buckets modulo hash collisions)
    Q("q_dedup_bucket_stats", (s, dir) =>
      graft.llm.Dedup.minhashBucketStats(
        TableCache.parquet(s, s"$dir/documents.parquet"), "doc_id", "text"),
      s"""${HashOracle.macros}
         |WITH ${HashOracle.minhashSigRows},
         |slice AS (SELECT doc_id, j // 4 AS band, list(slot ORDER BY j) AS sl
         |  FROM sigrows GROUP BY doc_id, j // 4),
         |buckets AS (SELECT band, sl, count(*) AS n FROM slice GROUP BY band, sl)
         |SELECT CAST(max(n) AS BIGINT) AS max_bucket, avg(n) AS avg_bucket,
         |       CAST(count(*) AS BIGINT) AS n_buckets
         |FROM buckets""".stripMargin),

    // Morton/Z-order clustering key over (custkey, orderkey) low bits —
    // the write-time layout lever: range-partition + sort by zval gives
    // every file a tight min-max envelope in BOTH dimensions
    Q("q_zorder_key", (s, dir) =>
      TableCache.parquet(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          graft.functions.ZOrder.interleave(
            pmod(col("o_custkey"), lit(4096L)),
            pmod(col("o_orderkey"), lit(4096L)), bits = 12).as("zval"))
        .orderBy("o_orderkey"),
      s"""SELECT o_orderkey, CAST($zTerms AS BIGINT) AS zval
         |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Q6-style: one scan, pushed conjunctive predicate, scalar aggregate
    Q("q6_revenue", (s, dir) =>
      TableCache.parquet(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(dec("l_extendedprice") * dec("l_discount")).cast("double").as("revenue"),
          count(lit(1)).as("n")),
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin))
}
