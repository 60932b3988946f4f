package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Envelope, TableCache}
import graft.streams.{Aggregators, Debezium, Linear, TNode, ZSet}

/** Correctness wiring for the Z-set streams core (SURVEY §2.5) in batch mode.
  *
  * The driver events table becomes a Z-set: record = (user_id, event_type,
  * amount), weight = −1 for `error` events (retractions), +1 otherwise —
  * so every operator is exercised WITH retractions in play.
  */
object ZSetQueries extends Registry {

  val zsCte: String =
    """WITH zs AS (
      |  SELECT user_id, event_type, value AS amount,
      |         CAST(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS BIGINT) AS weight
      |  FROM events
      |)""".stripMargin

  private def zs(s: SparkSession, dir: String): DataFrame = {
    val ev = Envelope.readEvents(s, dir).withColumnRenamed("value", "amount")
    ZSet.fromWeighted(
      ev.select("user_id", "event_type", "amount"),
      when(col("event_type") === "error", -1L).otherwise(1L))
  }

  private def zsAB(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val z = zs(s, dir).select("user_id", "event_type", "weight")
    (z.filter(col("user_id") % 2 === 0), z.filter(col("user_id") % 3 === 0))
  }

  private val abCte: String =
    s"""$zsCte, a AS (SELECT user_id, event_type, weight FROM zs WHERE user_id % 2 = 0),
       | b AS (SELECT user_id, event_type, weight FROM zs WHERE user_id % 3 = 0)""".stripMargin

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  /** jamie credits/debits/balance topology (test/streams/jamie/topologies.py:6-51)
    * built on the Topology DSL. */
  private def jamieBalance(s: SparkSession, dir: String): TNode = {
    val ev = Envelope.readEvents(s, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"),
        when(col("event_type") === "purchase", dec("value"))
          .otherwise(-dec("value")).as("amt"))
    val tx = TNode.source("transactions", ZSet.fromRecords(ev))
    val credits = tx.filter(col("amt") > 0).groupBySum(Seq("user_id"), col("amt"), "credit")
    val debits = tx.filter(col("amt") <= 0).groupBySum(Seq("user_id"), col("amt"), "debit")
      .map(col("user_id").as("d_user_id"), col("debit"))
    credits.join(debits, col("user_id") === col("d_user_id"))
      .map(col("user_id"), col("credit"), col("debit"),
        (col("credit") + col("debit")).as("balance"))
  }

  val all: Seq[Q] = Seq(
    Q("q_zs_distinct", (s, dir) =>
      ZSet.distinct(zs(s, dir).select("user_id", "event_type", "weight"))
        .orderBy("user_id", "event_type"),
      s"""$zsCte SELECT user_id, event_type, CAST(1 AS BIGINT) AS weight FROM zs
         |GROUP BY 1, 2 HAVING sum(weight) > 0 ORDER BY 1, 2""".stripMargin),

    Q("q_zs_merge", (s, dir) => {
      val (a, b) = zsAB(s, dir)
      ZSet.merge(a, b).orderBy("user_id", "event_type")
    },
      s"""$abCte SELECT user_id, event_type, CAST(sum(weight) AS BIGINT) AS weight
         |FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
         |GROUP BY 1, 2 HAVING sum(weight) != 0 ORDER BY 1, 2""".stripMargin),

    Q("q_zs_union", (s, dir) => {
      val (a, b) = zsAB(s, dir)
      ZSet.union(a, b).orderBy("user_id", "event_type")
    },
      s"""$abCte SELECT user_id, event_type, CAST(1 AS BIGINT) AS weight
         |FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
         |GROUP BY 1, 2 HAVING sum(weight) > 0 ORDER BY 1, 2""".stripMargin),

    Q("q_zs_minus", (s, dir) => {
      val (a, b) = zsAB(s, dir)
      ZSet.minus(a, b).orderBy("user_id", "event_type")
    },
      s"""$abCte SELECT user_id, event_type, CAST(1 AS BIGINT) AS weight
         |FROM (SELECT * FROM a UNION ALL SELECT user_id, event_type, -weight FROM b)
         |GROUP BY 1, 2 HAVING sum(weight) > 0 ORDER BY 1, 2""".stripMargin),

    Q("q_zs_intersect", (s, dir) => {
      val (a, b) = zsAB(s, dir)
      ZSet.intersect(a, b).orderBy("user_id", "event_type")
    },
      s"""$abCte, da AS (SELECT user_id, event_type FROM a GROUP BY 1, 2 HAVING sum(weight) > 0),
         | db AS (SELECT user_id, event_type FROM b GROUP BY 1, 2 HAVING sum(weight) > 0)
         |SELECT da.user_id, da.event_type, CAST(1 AS BIGINT) AS weight FROM da
         |WHERE EXISTS (SELECT 1 FROM db WHERE db.user_id = da.user_id AND db.event_type = da.event_type)
         |ORDER BY 1, 2""".stripMargin),

    Q("q_zs_join_equi", (s, dir) => {
      val o = ZSet.fromRecords(TableCache.parquet(s, s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey"))
      val c = ZSet.fromRecords(TableCache.parquet(s, s"$dir/customer.parquet")
        .select("c_custkey", "c_name"))
      ZSet.map(ZSet.join(o, broadcast(c), col("o_custkey") === col("c_custkey")))(
        col("o_orderkey"), col("c_name"))
        .orderBy("o_orderkey", "c_name")
    },
      """SELECT o_orderkey, c_name, CAST(1 AS BIGINT) AS weight
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey, c_name""".stripMargin),

    // the reference's flagship multi-join streams topology shape
    // (test/streams/datagen/topologies.py:99-170: per-source map→distinct,
    // then a chain of equi-joins): region ⋈ nation ⋈ customer ⋈ orders,
    // dimension sides broadcast, fact side shuffled once per join key
    Q("q_zs_join_chain", (s, dir) => {
      val r = ZSet.distinct(ZSet.fromRecords(
        TableCache.parquet(s, s"$dir/region.parquet").select("r_regionkey", "r_name")))
      val n = ZSet.distinct(ZSet.fromRecords(
        TableCache.parquet(s, s"$dir/nation.parquet").select("n_nationkey", "n_name", "n_regionkey")))
      val c = ZSet.distinct(ZSet.fromRecords(
        TableCache.parquet(s, s"$dir/customer.parquet").select("c_custkey", "c_nationkey")))
      val o = ZSet.distinct(ZSet.fromRecords(
        TableCache.parquet(s, s"$dir/orders.parquet").select("o_orderkey", "o_custkey")))
      val j1 = ZSet.join(n, broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val j2 = ZSet.join(c, broadcast(j1), col("c_nationkey") === col("n_nationkey"))
      val j3 = ZSet.join(o, j2, col("o_custkey") === col("c_custkey"))
      ZSet.map(j3)(col("o_orderkey"), col("n_name"), col("r_name"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, n_name, r_name, CAST(1 AS BIGINT) AS weight
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |ORDER BY o_orderkey""".stripMargin),

    Q("q_zs_join_theta", (s, dir) => {
      val n = ZSet.fromRecords(TableCache.parquet(s, s"$dir/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey"))
      val r = ZSet.fromRecords(TableCache.parquet(s, s"$dir/region.parquet")
        .select("r_regionkey", "r_name"))
      ZSet.map(ZSet.join(n, broadcast(r), col("n_regionkey") < col("r_regionkey")))(
        col("n_name"), col("r_name"))
        .orderBy("n_name", "r_name")
    },
      """SELECT n_name, r_name, CAST(1 AS BIGINT) AS weight
        |FROM nation JOIN region ON n_regionkey < r_regionkey
        |ORDER BY n_name, r_name""".stripMargin),

    Q("q_zs_groupby_sum", (s, dir) =>
      ZSet.groupBySum(zs(s, dir), Seq("user_id"), dec("amount"), "total")
        .withColumn("total", col("total").cast("double"))
        .orderBy("user_id"),
      s"""$zsCte SELECT user_id, CAST(sum(CAST(amount AS DECIMAL(18,2)) * weight) AS DOUBLE) AS total
         |FROM zs GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q_zs_groupby_count", (s, dir) =>
      ZSet.groupByCount(zs(s, dir), Seq("user_id"), "n").orderBy("user_id"),
      s"""$zsCte SELECT user_id, CAST(sum(weight) AS BIGINT) AS n FROM zs GROUP BY 1 ORDER BY 1"""),

    Q("q_zs_groupby_max", (s, dir) =>
      ZSet.groupByMax(zs(s, dir), Seq("user_id"), col("amount"), "max_amount")
        .orderBy("user_id"),
      s"""$zsCte SELECT user_id, greatest(max(amount), CAST(0 AS DOUBLE)) AS max_amount
         |FROM (SELECT user_id, event_type, amount FROM zs GROUP BY 1, 2, 3 HAVING sum(weight) > 0)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q_zs_groupby_min", (s, dir) =>
      ZSet.groupByMin(zs(s, dir), Seq("user_id"), col("amount"), "min_amount")
        .orderBy("user_id"),
      s"""$zsCte SELECT user_id, least(min(amount), CAST(0 AS DOUBLE)) AS min_amount
         |FROM (SELECT user_id, event_type, amount FROM zs GROUP BY 1, 2, 3 HAVING sum(weight) > 0)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q_zs_groupby_agg", (s, dir) =>
      Aggregators.groupByAggLong(
        TableCache.parquet(s, s"$dir/lineitem.parquet"),
        "l_returnflag", "l_quantity", Aggregators.sumOfSquares, "sum_sq")
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_sq
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // arbitrary-record NON-COMMUTATIVE fold (topologynode.py:448-459): a
    // floor-at-zero running balance b' = max(0, b + cents), folded in
    // (ts, event_id) order over each user's struct records — the order
    // matters, so this exercises the refold path, not a mergeable agg.
    // floor() before the long cast: Spark truncates double→long, DuckDB
    // rounds; floor is identical IEEE arithmetic on both.
    // list_reduce has no initial-value form: prepend the fold's zero
    Q("q_zs_groupby_agg_struct", (s, dir) => {
      val ev = Envelope.readEvents(s, dir)
      val z = ZSet.fromRecords(ev.select(
        col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 100).cast("long").as("cents")))
      val present = ZSet.consolidate(z).filter(col(ZSet.W) > 0).drop(ZSet.W)
      val centsIdx = 2 // struct order: (ts, event_id) ++ rest = (ts, event_id, cents)
      Aggregators.groupByAggRefold(
        present, keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        z = 0L, fold = (b: Long, r: org.apache.spark.sql.Row) =>
          math.max(0L, b + r.getLong(centsIdx)),
        as = "floored_balance", org.apache.spark.sql.types.LongType)
        .orderBy("user_id")
    },
      """WITH r AS (
        |  SELECT user_id, event_id, ts, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id,
        |  list_reduce(list_prepend(0, list(cents ORDER BY ts, event_id)),
        |              (a, b) -> greatest(a + b, 0)) AS floored_balance
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),

    Q("q_zs_global_agg", (s, dir) =>
      ZSet.globalAgg(zs(s, dir))(
        sum(col(ZSet.W)).as("n"),
        sum(dec("amount") * col(ZSet.W)).cast("double").as("total")),
      s"""$zsCte SELECT CAST(sum(weight) AS BIGINT) AS n,
         |CAST(sum(CAST(amount AS DECIMAL(18,2)) * weight) AS DOUBLE) AS total FROM zs""".stripMargin),

    Q("q_integrate", (s, dir) =>
      Linear.integrate(
        Envelope.readEvents(s, dir).withColumnRenamed("value", "amount"),
        Seq("user_id"), col("event_id"), dec("amount"), "running")
        .select(col("event_id"), col("user_id"), col("running").cast("double"))
        .orderBy("event_id"),
      """SELECT event_id, user_id,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM events ORDER BY event_id""".stripMargin),

    Q("q_differentiate", (s, dir) =>
      Linear.differentiate(
        Envelope.readEvents(s, dir).withColumnRenamed("value", "amount"),
        Seq("user_id"), col("event_id"), col("amount"), "delta")
        .select("event_id", "user_id", "delta")
        .orderBy("event_id"),
      """SELECT event_id, user_id,
        |value - coalesce(lag(value) OVER (PARTITION BY user_id ORDER BY event_id), 0) AS delta
        |FROM events ORDER BY event_id""".stripMargin),

    Q("q_delay", (s, dir) =>
      Linear.delay(
        Envelope.readEvents(s, dir).withColumnRenamed("value", "amount"),
        Seq("user_id"), col("event_id"), col("amount"), "prev_amount", zero = lit(0.0))
        .select("event_id", "user_id", "prev_amount")
        .orderBy("event_id"),
      """SELECT event_id, user_id,
        |coalesce(lag(value) OVER (PARTITION BY user_id ORDER BY event_id), 0) AS prev_amount
        |FROM events ORDER BY event_id""".stripMargin),

    Q("q_expire", (s, dir) =>
      Linear.expire(
        Envelope.readEvents(s, dir), Envelope.tsMs(col("ts")), 259200000L)
        .select("event_id", "user_id")
        .orderBy("event_id"),
      """SELECT event_id, user_id FROM events
        |WHERE epoch_ms(ts) >= (SELECT max(epoch_ms(ts)) FROM events) - 259200000
        |ORDER BY event_id""".stripMargin),

    Q("q_wordcount", (s, dir) => {
      // The reference's flagship wc topology (test/streams/wc/topologies.py:5-26)
      // through the Topology DSL: source → flatmap(words) → distinct → count.
      // The record deliberately carries `pos` (the reference emits `position`
      // the same way), so distinct is NOT a dedup on this corpus — it is the
      // Z-set weight normalization to {0,1} the reference applies, and it is
      // semantic when the source carries weights > 1 or retractions.
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
      TNode.source("docs", ZSet.fromRecords(docs.select("doc_id", "text")))
        .flatmap(posexplode(split(col("text"), " ")), col("doc_id"))
        .distinct
        .map(col("col").as("word"))
        .groupByCount(Seq("word"), "n")
        .df.select("word", "n").orderBy("word")
    },
      """SELECT u.word AS word, CAST(count(*) AS BIGINT) AS n
        |FROM documents, unnest(str_split(text, ' ')) AS u(word)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q_jamie_balance", (s, dir) => jamieBalance(s, dir).df
      .select(col("user_id"), col("credit").cast("double"),
        col("debit").cast("double"), col("balance").cast("double"))
      .orderBy("user_id"),
      """WITH tx AS (SELECT user_id,
        |  CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
        |       ELSE -CAST(value AS DECIMAL(18,2)) END AS amt
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        | cr AS (SELECT user_id, sum(amt) AS credit FROM tx WHERE amt > 0 GROUP BY 1),
        | db AS (SELECT user_id, sum(amt) AS debit FROM tx WHERE amt <= 0 GROUP BY 1)
        |SELECT cr.user_id, CAST(credit AS DOUBLE) AS credit, CAST(debit AS DOUBLE) AS debit,
        |       CAST(credit + debit AS DOUBLE) AS balance
        |FROM cr JOIN db ON cr.user_id = db.user_id ORDER BY 1""".stripMargin),

    Q("q_jamie_total", (s, dir) => jamieBalance(s, dir)
      .agg(sum(col("balance") * col(ZSet.W)).cast("double").as("total"))
      .df.select("total"),
      """WITH tx AS (SELECT user_id,
        |  CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
        |       ELSE -CAST(value AS DECIMAL(18,2)) END AS amt
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        | cr AS (SELECT user_id, sum(amt) AS credit FROM tx WHERE amt > 0 GROUP BY 1),
        | db AS (SELECT user_id, sum(amt) AS debit FROM tx WHERE amt <= 0 GROUP BY 1)
        |SELECT CAST(sum(credit + debit) AS DOUBLE) AS total
        |FROM cr JOIN db ON cr.user_id = db.user_id""".stripMargin),

    Q("q_debezium_in", (s, dir) => {
      val ev = Envelope.readEvents(s, dir)
        .withColumn("op",
          when(col("event_type") === "signup", "c")
            .when(col("event_type") === "error", "d")
            .otherwise("u"))
        .withColumn("before", struct(col("user_id")))
        .withColumn("after", struct(col("user_id")))
      ZSet.consolidate(
        Debezium.fromDebezium(ev, col("op"), col("before"), col("after")))
        .orderBy("user_id")
    },
      """SELECT user_id, CAST(sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) AS BIGINT) AS weight
        |FROM events GROUP BY 1 HAVING sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) != 0
        |ORDER BY 1""".stripMargin),

    Q("q_debezium_out", (s, dir) =>
      Debezium.toDebezium(zs(s, dir).select("user_id", "event_type", "weight"))
        .orderBy("user_id", "event_type"),
      s"""$zsCte SELECT user_id, event_type,
         |CASE WHEN sum(weight) > 0 THEN 'c' ELSE 'd' END AS op,
         |CAST(abs(sum(weight)) AS BIGINT) AS multiplicity
         |FROM zs GROUP BY 1, 2 HAVING sum(weight) != 0 ORDER BY 1, 2""".stripMargin))
}
