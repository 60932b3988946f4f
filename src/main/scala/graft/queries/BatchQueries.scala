package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Envelope, TableCache}
import graft.ops.{AddOns, Functional, Shell}

/** Correctness-gate wiring for the batch half (shell / functional / addons).
  *
  * Each query runs a library operator over the driver test tables and is
  * paired with an equivalent DuckDB oracle in [[oracles]]. Conventions that
  * make the hash-compare deterministic:
  *  - every query ends in a total ORDER BY present on both sides;
  *  - integers are BIGINT on both sides, ratios are computed from identical
  *    integer operands (so the IEEE division result is bit-identical);
  *  - double SUMs go through DECIMAL so accumulation order cannot change the
  *    result.
  */
object BatchQueries extends Registry {

  /** DuckDB mirror of Envelope.fromEvents — same partition / offset / key /
    * value (tombstone) derivation. */
  val envCte: String =
    """WITH env AS (
      |  SELECT event_id,
      |         epoch_ms(ts) AS ts_ms,
      |         user_id,
      |         event_type,
      |         value AS amount,
      |         CAST(user_id % 4 AS INTEGER) AS partition,
      |         CAST(row_number() OVER (PARTITION BY user_id % 4 ORDER BY event_id) - 1 AS BIGINT) AS "offset",
      |         CAST(user_id AS VARCHAR) AS key,
      |         CASE WHEN event_type = 'click' THEN NULL ELSE props END AS value
      |  FROM events
      |)""".stripMargin

  private def env(s: SparkSession, dir: String): DataFrame = Envelope.fromEvents(s, dir)

  /** Canonical envelope projection used by query outputs. */
  private def envOut(df: DataFrame): DataFrame =
    df.select(
      col("partition"), col("offset"), col("key"), col("value"),
      Envelope.tsMs(col("timestamp")).as("ts_ms"))

  val all: Seq[Q] = Seq(
    Q("q_cat", (s, dir) => envOut(Shell.cat(env(s, dir))),
      s"""$envCte SELECT partition, "offset", key, value, ts_ms FROM env ORDER BY partition, "offset""""),

    Q("q_head", (s, dir) => envOut(Shell.head(env(s, dir), 12)),
      s"""$envCte SELECT partition, "offset", key, value, ts_ms FROM env
         |WHERE "offset" < (SELECT min(e2."offset") FROM env e2 WHERE e2.partition = env.partition) + 12
         |ORDER BY partition, "offset"""".stripMargin),

    Q("q_tail", (s, dir) => envOut(Shell.tail(env(s, dir), 5)),
      s"""$envCte SELECT partition, "offset", key, value, ts_ms FROM env
         |WHERE "offset" > (SELECT max(e2."offset") FROM env e2 WHERE e2.partition = env.partition) - 5
         |ORDER BY partition, "offset"""".stripMargin),

    Q("q_wc", (s, dir) => Shell.wc(env(s, dir)),
      s"""$envCte SELECT CAST(count(*) AS BIGINT) AS messages,
         |CAST(sum(CASE WHEN value IS NULL THEN 0 ELSE len(str_split(value, ' ')) END) AS BIGINT) AS words,
         |CAST(sum(coalesce(strlen(key),0) + coalesce(strlen(value),0)) AS BIGINT) AS bytes FROM env""".stripMargin),

    Q("q_grep", (s, dir) =>
      envOut(Shell.grep(env(s, dir), "\"k\": 8[0-9]")),
      s"""$envCte SELECT partition, "offset", key, value, ts_ms FROM env
         |WHERE regexp_matches(value, '"k": 8[0-9]') OR regexp_matches(key, '"k": 8[0-9]')
         |ORDER BY partition, "offset"""".stripMargin),

    Q("q_map", (s, dir) =>
      Functional.map(env(s, dir))(
        col("event_id"), upper(col("event_type")).as("etype"),
        (col("amount") * 2).as("amount2"))
        .orderBy("event_id"),
      s"""$envCte SELECT event_id, upper(event_type) AS etype, amount * 2 AS amount2 FROM env ORDER BY event_id"""),

    Q("q_filter", (s, dir) =>
      Functional.filter(env(s, dir))(
        col("amount") > 100.0 && col("event_type") === "purchase")
        .select("event_id", "user_id", "amount")
        .orderBy("event_id"),
      s"""$envCte SELECT event_id, user_id, amount FROM env
         |WHERE amount > 100.0 AND event_type = 'purchase' ORDER BY event_id""".stripMargin),

    Q("q_flatmap", (s, dir) => {
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
      Functional.flatmap(docs)(
        explode(split(col("text"), " ")).as("word"), col("doc_id"))
        .orderBy("doc_id", "word")
    },
      """SELECT doc_id, u.word AS word
        |FROM documents, unnest(str_split(text, ' ')) AS u(word)
        |ORDER BY doc_id, word""".stripMargin),

    Q("q_foldl", (s, dir) => {
      val li = TableCache.parquet(s, s"$dir/lineitem.parquet")
      // fold ≡ aggregation: count + exact decimal sum + ts-range
      li.agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        min(Envelope.tsMs(col("l_shipdate"))).as("min_ship_ms"),
        max(Envelope.tsMs(col("l_shipdate"))).as("max_ship_ms"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(min(epoch_ms(l_shipdate)) AS BIGINT) AS min_ship_ms,
        |CAST(max(epoch_ms(l_shipdate)) AS BIGINT) AS max_ship_ms
        |FROM lineitem""".stripMargin),

    Q("q_cp", (s, dir) =>
      envOut(Shell.cp(env(s, dir), df =>
        df.withColumn("value", upper(col("value")))))
        .orderBy("partition", "offset"),
      s"""$envCte SELECT partition, "offset", key, upper(value) AS value, ts_ms FROM env ORDER BY partition, "offset""""),

    Q("q_compact", (s, dir) =>
      envOut(AddOns.compact(env(s, dir))).orderBy("key"),
      s"""$envCte, last AS (
         |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY "offset" DESC) AS rn FROM env
         |)
         |SELECT partition, "offset", key, value, ts_ms FROM last
         |WHERE rn = 1 AND value IS NOT NULL ORDER BY key""".stripMargin),

    Q("q_collect_value_set", (s, dir) =>
      AddOns.collectValueSet(env(s, dir)).orderBy("value"),
      s"""$envCte SELECT DISTINCT value FROM env WHERE value IS NOT NULL ORDER BY value"""),

    Q("q_message_size_stats", (s, dir) =>
      AddOns.messageSizeStats(env(s, dir)),
      s"""$envCte SELECT CAST(count(*) AS BIGINT) AS messages,
         |CAST(sum(sz) AS BIGINT) AS total_bytes,
         |CAST(sum(sz) AS DOUBLE) / count(*) AS avg_bytes,
         |CAST(min(sz) AS BIGINT) AS min_bytes,
         |CAST(max(sz) AS BIGINT) AS max_bytes
         |FROM (SELECT coalesce(strlen(key),0) + coalesce(strlen(value),0) AS sz FROM env)""".stripMargin),

    // exact p50/p90/p99 of message byte sizes: rows collapse to
    // (value, count) first, rank walk over distinct values only
    // value at 0-based sorted rank floor((n-1)p): rank via row_number,
    // same octet sizes as q_message_size_stats
    Q("q_size_quantiles", (s, dir) =>
      AddOns.quantilesExact(
          env(s, dir).withColumn("__size",
            coalesce(octet_length(col("key")), lit(0)) +
              coalesce(octet_length(col("value")), lit(0))),
          col("__size"), Seq(0.5, 0.9, 0.99))
        .orderBy("p"),
      s"""$envCte, sz AS (SELECT coalesce(strlen(key),0) + coalesce(strlen(value),0) AS v FROM env),
         |rk AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS r FROM sz),
         |nn AS (SELECT count(*) AS n FROM sz)
         |SELECT CAST(p AS DOUBLE) AS p, (SELECT CAST(min(v) AS BIGINT) FROM rk
         |    WHERE r >= floor(((SELECT n FROM nn) - 1) * CAST(p AS DOUBLE))) AS value
         |FROM (VALUES (0.5), (0.9), (0.99)) t(p) ORDER BY p""".stripMargin),

    // the grouped form: per-partition medians/tails, window partitioned by
    // the group so hot groups never serialize through one task
    // per-group row_number ranks, same floor((n-1)p) selection
    Q("q_size_quantiles_by", (s, dir) =>
      AddOns.quantilesExactBy(
          env(s, dir).withColumn("__size",
            coalesce(octet_length(col("key")), lit(0)) +
              coalesce(octet_length(col("value")), lit(0))),
          "partition", col("__size"), Seq(0.5, 0.99))
        .orderBy("partition", "p"),
      s"""$envCte, sz AS (SELECT partition, coalesce(strlen(key),0) + coalesce(strlen(value),0) AS v FROM env),
         |rk AS (SELECT partition, v, row_number() OVER (PARTITION BY partition ORDER BY v) - 1 AS r FROM sz),
         |ng AS (SELECT partition, count(*) AS n FROM sz GROUP BY 1),
         |tg AS (SELECT partition, CAST(p AS DOUBLE) AS p, floor((n - 1) * CAST(p AS DOUBLE)) AS idx
         |  FROM ng, (VALUES (0.5), (0.99)) t(p))
         |SELECT tg.partition, tg.p, CAST(min(rk.v) AS BIGINT) AS value
         |FROM tg JOIN rk ON rk.partition = tg.partition AND rk.r >= tg.idx
         |GROUP BY tg.partition, tg.p ORDER BY tg.partition, tg.p""".stripMargin),

    Q("q_offsets_diff", (s, dir) =>
      // 2024-01-10T00:00:00Z .. 2024-01-20T00:00:00Z
      AddOns.offsetsDiff(env(s, dir), 1704844800000L, 1705708800000L)
        .orderBy("partition"),
      s"""$envCte SELECT partition, CAST(count(*) AS BIGINT) AS n_messages FROM env
         |WHERE ts_ms >= 1704844800000 AND ts_ms < 1705708800000
         |GROUP BY partition ORDER BY partition""".stripMargin),

    Q("q_repeat", (s, dir) =>
      envOut(AddOns.repeat(env(s, dir), 2)).orderBy("partition", "offset"),
      s"""$envCte SELECT partition, "offset" + 2 AS "offset", key, value, ts_ms FROM env
         |WHERE "offset" > (SELECT max(e2."offset") FROM env e2 WHERE e2.partition = env.partition) - 2
         |ORDER BY partition, "offset"""".stripMargin),

    Q("q_watermarks", (s, dir) =>
      AddOns.watermarks(env(s, dir)).orderBy("partition"),
      s"""$envCte SELECT partition, CAST(min("offset") AS BIGINT) AS low,
         |CAST(max("offset") + 1 AS BIGINT) AS high
         |FROM env GROUP BY partition ORDER BY partition""".stripMargin),

    Q("q_topic_diff", (s, dir) => {
      val e = env(s, dir)
      // perturb a deterministic slice: uppercase the value where user_id=7,
      // and drop partition 0's offset 0 — diff must find exactly those
      val b = e.filter(!(col("partition") === 0 && col("offset") === 0))
        .withColumn("value",
          when(col("user_id") === 7, upper(col("value"))).otherwise(col("value")))
      Shell.diff(e, b)
        .select("partition", "offset", "key_a", "key_b", "value_a", "value_b", "side")
        .orderBy("partition", "offset")
    },
      s"""$envCte, b AS (
         |  SELECT partition, "offset", key,
         |         CASE WHEN user_id = 7 THEN upper(value) ELSE value END AS value
         |  FROM env WHERE NOT (partition = 0 AND "offset" = 0)
         |)
         |SELECT env.partition, env."offset",
         |       env.key AS key_a, b.key AS key_b,
         |       env.value AS value_a, b.value AS value_b,
         |       CASE WHEN b.key IS NULL AND b.value IS NULL
         |              AND NOT EXISTS (SELECT 1 FROM b b2 WHERE b2.partition = env.partition AND b2."offset" = env."offset")
         |            THEN 'only_a' ELSE 'both_differ' END AS side
         |FROM env LEFT JOIN b ON env.partition = b.partition AND env."offset" = b."offset"
         |WHERE b.partition IS NULL
         |   OR NOT (env.value IS NOT DISTINCT FROM b.value AND env.key IS NOT DISTINCT FROM b.key)
         |ORDER BY env.partition, env."offset"""".stripMargin),

    Q("q_lags", (s, dir) => {
      val e = env(s, dir)
      // committed = offsets consumed before 2024-01-15 (deterministic group emulation)
      val committed = e
        .filter(Envelope.tsMs(col("timestamp")) < 1705276800000L)
        .groupBy("partition")
        .agg((max("offset") + 1).cast("long").as("committed"))
      AddOns.lags(e, committed).orderBy("partition")
    },
      s"""$envCte, wm AS (
         |  SELECT partition, CAST(min("offset") AS BIGINT) AS low, CAST(max("offset") + 1 AS BIGINT) AS high
         |  FROM env GROUP BY partition
         |), cm AS (
         |  SELECT partition, CAST(max("offset") + 1 AS BIGINT) AS committed
         |  FROM env WHERE ts_ms < 1705276800000 GROUP BY partition
         |)
         |SELECT wm.partition, wm.high, cm.committed, wm.high - coalesce(cm.committed, wm.low) AS lag
         |FROM wm LEFT JOIN cm ON wm.partition = cm.partition ORDER BY wm.partition""".stripMargin))
}
