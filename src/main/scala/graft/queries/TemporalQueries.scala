package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.ops.Temporal

/** Correctness wiring for the temporal joins. The as-of oracle is DuckDB's
  * native ASOF JOIN — two independent implementations of the operator
  * compared row-for-row. */
object TemporalQueries extends Registry {

  /** Purchases and tie-free clicks (one per user and time) on epoch-millis
    * time `tms`: the inputs of the numeric-time as-of forms. */
  private def purchasesAndClicksMs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Envelope.readEvents(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        Envelope.tsMs(col("ts")).as("tms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "tms")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "tms")
      .agg(max("event_id").as("event_id"))
      .select("event_id", "user_id", "tms")
    (purchases, clicks)
  }

  /** The as-of oracle on epoch-millis time, shared by the bucketed and
    * runtime-dispatched forms. */
  private val asofMsOracle: String =
    """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS tms
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, epoch_ms(ts) AS tms, max(event_id) AS event_id
      |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, c.event_id AS click_id
      |FROM p
      |ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tms >= c.tms
      |ORDER BY p.event_id""".stripMargin

  val all: Seq[Q] = Seq(
    // each purchase matched to the user's latest click at or before it;
    // right side reduced to ONE row per (user_id, ts) — DuckDB's ASOF JOIN
    // picks an arbitrary row on right-timestamp ties, so both engines must
    // see a tie-free right side for the hash compare to be deterministic
    Q("q_asof_join", (s, dir) => {
      val ev = Envelope.readEvents(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("event_id"))
        .select("event_id", "user_id", "ts")
      Temporal.asofJoin(purchases, clicks, Seq("user_id"), "ts", "click_")
        .select(col("event_id"), col("user_id"), col("click_event_id").as("click_id"))
        .orderBy("event_id")
    },
      """SELECT p.event_id, p.user_id, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS event_id
        |                FROM events WHERE event_type = 'click'
        |                GROUP BY user_id, ts) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),

    // each purchase gets the user's click value linearly interpolated
    // between the bracketing clicks — the two-sided as-of; right side
    // pre-aggregated tie-free per (user, ts) for the same determinism
    // reason as q_asof_join, and the oracle is DuckDB's native ASOF in
    // both directions with the identical interpolation formula (same
    // IEEE double sequence — one subtract chain, one multiply, one
    // divide — so the hash compare is exact)
    Q("q_interpolate_join", (s, dir) => {
      val ev = Envelope.readEvents(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          Envelope.tsMs(col("ts")).as("tms"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "tms")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "tms").agg(max("value").as("v"))
      Temporal.interpolateJoin(purchases, clicks, Seq("user_id"), "tms", "v")
        .select("event_id", "user_id", "tms", "interp")
        .orderBy("event_id")
    },
      """WITH p AS (SELECT event_id, user_id, CAST(epoch_ms(ts) AS DOUBLE) AS tms
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(epoch_ms(ts) AS DOUBLE) AS tms, max(value) AS v
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.tms,
        |       CASE WHEN b.tms = f.tms THEN b.v
        |            WHEN b.tms IS NOT NULL AND f.tms IS NOT NULL
        |            THEN b.v + (f.v - b.v) * (p.tms - b.tms) / (f.tms - b.tms)
        |       END AS interp
        |FROM p
        |ASOF LEFT JOIN c AS b ON p.user_id = b.user_id AND p.tms >= b.tms
        |ASOF LEFT JOIN c AS f ON p.user_id = f.user_id AND p.tms <= f.tms
        |ORDER BY p.event_id""".stripMargin),

    // the hot-key-safe bucketed as-of (time axis split into 1-hour
    // buckets, seed rows carry across cuts) against the SAME DuckDB ASOF
    // oracle as q_asof_join — two independent implementations of the
    // operator plus an independent engine, all row-identical; numeric
    // epoch-millis time because bucketing needs arithmetic
    Q("q_asof_join_bucketed", (s, dir) => {
      val (purchases, clicks) = purchasesAndClicksMs(s, dir)
      Temporal.asofJoinBucketed(purchases, clicks, Seq("user_id"), "tms",
          3600000L, "click_")
        .select(col("event_id"), col("user_id"), col("click_event_id").as("click_id"))
        .orderBy("event_id")
    },
      asofMsOracle),

    // the runtime-dispatched form: the slim key/time histogram runs
    // eagerly, the decision rule picks a form (plain here — no events
    // key is near the 10⁶ hot threshold at any sf), and the result must
    // match the SAME DuckDB ASOF oracle regardless of which path fired
    Q("q_asof_join_auto", (s, dir) => {
      val (purchases, clicks) = purchasesAndClicksMs(s, dir)
      Temporal.asofJoinAuto(purchases, clicks, Seq("user_id"), "tms", "click_")
        .select(col("event_id"), col("user_id"), col("click_event_id").as("click_id"))
        .orderBy("event_id")
    },
      asofMsOracle),

    // same-user event pairs within 10 minutes of each other
    Q("q_range_join", (s, dir) => {
      val ev = Envelope.readEvents(s, dir)
        .select(col("event_id"), col("user_id"), Envelope.tsMs(col("ts")).as("tms"))
      Temporal.rangeJoin(ev, ev, Seq("user_id"), "tms", 600000L)
        .filter(col("event_id") < col("r_event_id"))
        .select(col("event_id").as("id_a"), col("r_event_id").as("id_b"))
        .orderBy("id_a", "id_b")
    },
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS tms FROM events)
        |SELECT a.event_id AS id_a, b.event_id AS id_b
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(a.tms - b.tms) <= 600000
        |ORDER BY id_a, id_b""".stripMargin))
}
