package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.streams.{Linear, Windows}

/** Correctness wiring for the window operators (SURVEY §2.5 windows) over
  * the events table. All window bounds surface as epoch-millis BIGINTs. */
object WindowQueries extends Registry {

  private val Day = 86400000L
  private val Week = 604800000L

  private def ev(s: SparkSession, dir: String): DataFrame =
    Envelope.readEvents(s, dir).withColumnRenamed("value", "amount")

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  val all: Seq[Q] = Seq(
    Q("q_win_tumbling", (s, dir) =>
      Windows.tumbling(ev(s, dir), col("ts"), Day, Seq(col("event_type")))(
        count(lit(1)).as("n"), sum(dec("amount")).cast("double").as("sum_amount"))
        .select("window_end_ms", "event_type", "n", "sum_amount")
        .orderBy("window_end_ms", "event_type"),
      """SELECT (epoch_ms(ts) // 86400000 + 1) * 86400000 AS window_end_ms, event_type,
        |CAST(count(*) AS BIGINT) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Q("q_win_hopping", (s, dir) =>
      Windows.hopping(ev(s, dir), col("ts"), 2 * Day, Day, Seq(col("event_type")))(
        count(lit(1)).as("n"), sum(dec("amount")).cast("double").as("sum_amount"))
        .select("window_end_ms", "event_type", "n", "sum_amount")
        .orderBy("window_end_ms", "event_type"),
      """SELECT window_end_ms, event_type, CAST(count(*) AS BIGINT) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount
        |FROM (SELECT (epoch_ms(ts) // 86400000 + t.k) * 86400000 AS window_end_ms,
        |             event_type, value
        |      FROM events, unnest([1, 2]) AS t(k))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Q("q_win_cumulative", (s, dir) =>
      Windows.cumulative(ev(s, dir), Envelope.tsMs(col("ts")), Week, Day, Seq(col("event_type")))(
        count(lit(1)).as("n"))
        .select("window_end_ms", "event_type", "n")
        .orderBy("window_end_ms", "event_type"),
      """SELECT u.window_end_ms AS window_end_ms, e.event_type, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT event_type, epoch_ms(ts) AS tms,
        |             epoch_ms(ts) - epoch_ms(ts) % 604800000 AS pstart
        |      FROM events) e,
        |     unnest(generate_series(
        |       e.tms - (e.tms - e.pstart) % 86400000 + 86400000,
        |       e.pstart + 604800000, 86400000)) AS u(window_end_ms)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Q("q_win_session", (s, dir) =>
      Windows.session(ev(s, dir), col("ts"), 1800000L, Seq(col("user_id")))(
        count(lit(1)).as("n"))
        .select("user_id", "session_start_ms", "session_end_ms", "n")
        .orderBy("user_id", "session_start_ms"),
      """WITH t AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
        | m AS (SELECT user_id, tms,
        |   CASE WHEN lag(tms) OVER (PARTITION BY user_id ORDER BY tms) IS NULL
        |          OR tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms) >= 1800000
        |        THEN 1 ELSE 0 END AS brk FROM t),
        | s AS (SELECT user_id, tms,
        |   sum(brk) OVER (PARTITION BY user_id ORDER BY tms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |   FROM m)
        |SELECT user_id, min(tms) AS session_start_ms, max(tms) + 1800000 AS session_end_ms,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_ms""".stripMargin),

    Q("q_win_sliding", (s, dir) =>
      Windows.slidingAgg(
        ev(s, dir).select(col("event_id"), col("user_id"), col("ts"), dec("amount").as("amt")),
        keys = Seq("user_id"), idCols = Seq("event_id"),
        tsMs = Envelope.tsMs(col("ts")), sizeMs = 600000L,
        rightValue = col("amt"))
        .select(col("event_id"), col("user_id"), col("t_ms"),
          col("n_in_window"), col("sum_in_window").cast("double"))
        .orderBy("event_id"),
      """WITH t AS (SELECT event_id, user_id, epoch_ms(ts) AS tms,
        |                  CAST(value AS DECIMAL(18,2)) AS amt FROM events)
        |SELECT a.event_id, a.user_id, a.tms AS t_ms,
        |       CAST(count(*) AS BIGINT) AS n_in_window,
        |       CAST(sum(b.amt) AS DOUBLE) AS sum_in_window
        |FROM t a JOIN t b ON a.user_id = b.user_id
        |  AND b.tms >= a.tms AND b.tms <= a.tms + 600000
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    Q("q_trigger", (s, dir) => {
      val e = ev(s, dir)
      val windowed = Windows.tumbling(e, col("ts"), Day, Seq(col("event_type")))(
        count(lit(1)).as("n"))
      Linear.trigger(windowed, col("window_end_ms"), e, Envelope.tsMs(col("ts")))
        .select("window_end_ms", "event_type", "n")
        .orderBy("window_end_ms", "event_type")
    },
      """SELECT (epoch_ms(ts) // 86400000 + 1) * 86400000 AS window_end_ms, event_type,
        |CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2
        |HAVING (epoch_ms(ts) // 86400000 + 1) * 86400000 <= (SELECT max(epoch_ms(ts)) FROM events)
        |ORDER BY 1, 2""".stripMargin))
}
