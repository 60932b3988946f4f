package graft.streams

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Windowed aggregation — tumbling / hopping / cumulative / sliding / session
  * (topologynode.py:672-963), Spark-first:
  *
  *  - tumbling/hopping → the built-in `window()` (codegen'd expansion,
  *    no join);
  *  - session → the built-in `session_window()` (native merge semantics,
  *    Spark ≥3.2);
  *  - cumulative (CUMULATE) → `explode(sequence(...))` window-end
  *    assignment — the same trick the reference uses
  *    (topologynode.py:689-700);
  *  - sliding (per-record [t, t+size]) → a BUCKETED range self-join: each
  *    probe joins exactly two time buckets, so the shuffle is by
  *    (key, bucket) and no all-pairs comparison ever happens. At 100 TB
  *    this is the difference between a broadcastable banded join and a
  *    quadratic blowup.
  *
  * All outputs expose window bounds as epoch-millis BIGINTs (the reference's
  * native time unit, kafi/helpers.py:30-39).
  */
object Windows {

  /** expire_tumbling/hopping/cumulative/sliding/session
    * (topologynode.py:825-859): the state-retention horizon per window
    * type = max window extent + allowed lateness. Feed the result to
    * `withWatermark` (streaming) or Linear.expire (batch). */
  def expiryDelayMs(windowExtentMs: Long, allowedLatenessMs: Long): Long =
    windowExtentMs + allowedLatenessMs

  /** Window bounds come back as TIMESTAMP or TIMESTAMP_NTZ depending on the
    * input column's type (parquet writers differ); unix_millis only accepts
    * the former. The cast is a no-op for TIMESTAMP and value-preserving for
    * NTZ under the UTC session timezone every graft entry point sets
    * (every session [[graft.Session]] builds pins it).
    * Driver-supplied sessions (SparkEntry) must likewise set
    * spark.sql.session.timeZone=UTC, or NTZ window epochs shift by the
    * JVM's tz offset. */
  private def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** window_tumbling (topologynode.py:888-898). */
  def tumbling(df: DataFrame, ts: Column, sizeMs: Long, keys: Seq[Column])(aggs: Column*): DataFrame =
    df.groupBy(window(ts, s"$sizeMs milliseconds") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_end_ms", epochMs(col("window.end")))
      .drop("window")

  /** window_hopping (topologynode.py:900-910): Spark's sliding window()
    * with slide = hop. */
  def hopping(df: DataFrame, ts: Column, sizeMs: Long, hopMs: Long, keys: Seq[Column])(aggs: Column*): DataFrame =
    df.groupBy(window(ts, s"$sizeMs milliseconds", s"$hopMs milliseconds") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_end_ms", epochMs(col("window.end")))
      .drop("window")

  /** window_cumulative (CUMULATE, topologynode.py:912-922): expanding
    * windows inside a period — each record is assigned every window end
    * from its own bucket to the period end, via explode(sequence(...)). */
  def cumulative(df: DataFrame, tsMs: Column, periodMs: Long, advanceMs: Long, keys: Seq[Column])(aggs: Column*): DataFrame = {
    // Flink CUMULATE requires max_size to be an integral multiple of step;
    // without this, a record in the trailing partial slot would get
    // firstEnd > period end and sequence() would throw mid-scan
    require(periodMs % advanceMs == 0,
      s"periodMs ($periodMs) must be a multiple of advanceMs ($advanceMs)")
    // exact integer arithmetic (t - t % n), never double division
    val t = tsMs.cast("long")
    val pStart = t - pmod(t, lit(periodMs))
    val firstEnd = t - pmod(t - pStart, lit(advanceMs)) + advanceMs
    val assigned = df.withColumn("window_end_ms",
      explode(sequence(firstEnd, pStart + periodMs, lit(advanceMs))))
    assigned.groupBy(col("window_end_ms") +: keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** window_session (topologynode.py:944-963): gap-based sessions with
    * native merge; end = last event + gap, matching the reference's
    * session_end = last_ts + gap. */
  def session(df: DataFrame, ts: Column, gapMs: Long, keys: Seq[Column])(aggs: Column*): DataFrame =
    df.groupBy(session_window(ts, s"$gapMs milliseconds") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start_ms", epochMs(col("session_window.start")))
      .withColumn("session_end_ms", epochMs(col("session_window.end")))
      .drop("session_window")

  /** window_sliding (topologynode.py:926-940): per-record window
    * [t, t+size] — for every probe row, aggregate the same-key rows whose
    * timestamp falls in [t, t+size].
    *
    * Bucketed: right rows land in time buckets of width sizeMs and are
    * exploded into (bucket, bucket+… ) slots so a probe at bucket b only
    * joins buckets {b, b+1}. Equi-join on (key, bucket) + residual range
    * predicate → shuffle-hash/SMJ, never a cross product.
    */
  def slidingAgg(df: DataFrame, keys: Seq[String], idCols: Seq[String], tsMs: Column, sizeMs: Long,
      rightValue: Column): DataFrame = {
    def bucket(t: Column): Column = ((t - pmod(t, lit(sizeMs))) / sizeMs).cast("long")
    val left = df.withColumn("__t", tsMs.cast("long"))
      .withColumn("__b", bucket(col("__t")))
    // right side fully renamed — avoids self-join attribute ambiguity
    val right = df.select(
      keys.map(k => col(k).as(s"__r_$k")) :+
        tsMs.cast("long").as("__tr") :+ rightValue.as("__rv"): _*)
      .withColumn("__jb", explode(array(
        bucket(col("__tr")), bucket(col("__tr")) - 1)))
    val cond = keys.map(k => col(k) === col(s"__r_$k")).reduce(_ && _) &&
      col("__b") === col("__jb") &&
      col("__tr") >= col("__t") && col("__tr") <= col("__t") + sizeMs
    left.join(right, cond)
      .groupBy((idCols ++ keys).map(col) :+ col("__t").as("t_ms"): _*)
      .agg(count(lit(1)).as("n_in_window"), sum(col("__rv")).as("sum_in_window"))
  }
}
