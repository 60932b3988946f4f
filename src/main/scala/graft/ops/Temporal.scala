package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark lacks as built-ins, in their scalable formulations
  * (the brief's "custom operators" tier — composed from existing ops, no
  * custom physical plan needed).
  *
  * Both avoid the naive shapes that die at 100 TB:
  *  - as-of via join-then-argmax explodes |left| × |right-per-key| rows
  *    through a shuffle before discarding all but one per left row;
  *  - range join via theta join is a per-key cross product evaluated by
  *    BroadcastNestedLoopJoin.
  */
object Temporal {

  /** As-of join (backward, inclusive): each left row picks the LATEST right
    * row with rightTime <= leftTime within the same key group.
    *
    * Shape: tag both sides, UNION, one window pass — `last(right payload,
    * ignoreNulls)` over (key) ordered by (time, right-first) carries the
    * most recent right payload forward onto every left row. ONE shuffle on
    * the key, one sort within partitions — the sort-merge formulation every
    * large-scale engine uses for as-of. Right rows sort BEFORE left rows at
    * equal time, making the match inclusive. Among right rows with equal
    * (key, time) the larger payload struct wins (total, deterministic).
    *
    * Right payload columns come back prefixed with `rightPrefix`; left rows
    * with no match carry nulls (left-outer semantics).
    *
    * Hot-key caveat: the window partitions by `keys`, so ONE pathological
    * key (a single instrument carrying 10⁹ ticks) serializes its rows into
    * one task's sort. [[asofJoinBucketed]] is the built-in mitigation.
    *
    * WHICH FORM TO PICK (the measured rule, graft.ScaleProbe as-of rows):
    *  - max rows on any single key ≲ 10⁵–10⁶ AND the per-task sort fits
    *    in executor memory → THIS form. The probe's in-corpus hot key
    *    (~hundreds of thousands of rows) shows parity-or-better for the
    *    plain window: a few-hundred-thousand-row sort in one task costs
    *    less than the bucketed form's extra bucket-summary pass.
    *  - max rows on any single key ≳ 10⁶, or the plain form's hot task
    *    spills (watch "spilled" in the Spark UI task table) →
    *    [[asofJoinBucketed]]. At 20 M ticks with HALF on one key the
    *    probe measures plain 36.2 s vs bucketed 6.1 s (warm min-of-reps,
    *    local[32]) — a ~6× win that grows with per-key volume since the
    *    bucketed per-task sort is capped at span/width rows.
    *  - key histogram unknown at authoring time → [[asofJoinAuto]], which
    *    pays one slim histogram aggregation to apply this rule at
    *    runtime.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, rightPrefix: String = "r_"): DataFrame = {
    val lp = left.columns.filterNot(c => keys.contains(c) || c == timeCol)
    val rp = right.columns.filterNot(c => keys.contains(c) || c == timeCol)
    val lpType = left.select(struct(lp.map(col): _*)).schema.head.dataType
    val rpType = right.select(struct(rp.map(col): _*)).schema.head.dataType
    val lTag = left.select(
      keys.map(col) ++ Seq(
        col(timeCol),
        lit(0).as("__r"),
        struct(lp.map(col): _*).as("__lp"),
        lit(null).cast(rpType).as("__rp")): _*)
    val rTag = right.select(
      keys.map(col) ++ Seq(
        col(timeCol),
        lit(1).as("__r"),
        lit(null).cast(lpType).as("__lp"),
        struct(rp.map(col): _*).as("__rp")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).asc, col("__r").desc, col("__rp").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lTag.unionByName(rTag)
      .withColumn("__m", last(col("__rp"), ignoreNulls = true).over(w))
      .filter(col("__r") === 0)
      .select(
        keys.map(col) ++ Seq(col(timeCol)) ++
          lp.map(c => col(s"__lp.$c").as(c)) ++
          rp.map(c => col(s"__m.$c").as(s"$rightPrefix$c")): _*)
  }

  /** [[asofJoin]] with the hot-key mitigation BUILT IN: the time axis is
    * split into `bucketWidth`-sized ranges and the heavy sort runs per
    * (key, bucket) — a key with 10⁹ ticks spreads over ⌈span/width⌉ tasks
    * instead of serializing into one. Carry-forward across the cut comes
    * from a SEED row per (key, bucket): the latest right payload from any
    * earlier bucket, computed on a bucket-level summary frame (one row per
    * (key, bucket) — the per-key window that remains is over buckets, not
    * ticks) and sorted ahead of the bucket's real rows so any real
    * at-or-before right row beats it, exactly as its earlier true
    * timestamp dictates.
    *
    * Result-identical to [[asofJoin]] (OpsSpec asserts row-for-row
    * equality on random data; the driver oracle is the same DuckDB ASOF):
    * a left row's match is either in its own bucket (found by the
    * within-bucket window, seeds lose ties to real rows) or the latest
    * right row of an earlier bucket (the seed, strictly older than
    * everything in this bucket since buckets partition time).
    *
    * `timeCol` must be numeric (epoch millis) — bucketing needs
    * arithmetic. Extra cost over [[asofJoin]]: one slim (key, bucket)
    * aggregate and a bucket-level window — pay it when key histograms are
    * skewed; the uniform-keyspace default remains [[asofJoin]]. Measured
    * (graft.ScaleProbe's asof_hotkey_xl rows, 20 M ticks with HALF on one
    * key, local[32], warm min-of-reps): plain 36.2 s — the hot key sorts in a single spilling
    * task — vs 6.1 s here at width 10⁶ over a 10⁸ span, a ~6× win that
    * grows with per-key volume since per-task sort size is capped at
    * span/width. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, bucketWidth: Long, rightPrefix: String = "r_"): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val lp = left.columns.filterNot(c => keys.contains(c) || c == timeCol)
    val rp = right.columns.filterNot(c => keys.contains(c) || c == timeCol)
    val lpType = left.select(struct(lp.map(col): _*)).schema.head.dataType
    val rpType = right.select(struct(rp.map(col): _*)).schema.head.dataType
    def bk(t: Column) = floor(t / bucketWidth).cast("long")
    // __sd orders seeds BEFORE real rows at equal (t, side): a seed's true
    // timestamp is strictly older than every row of its bucket, so it must
    // lose to any real at-or-before right row the window finds later
    val lTag = left.select(
      keys.map(col) ++ Seq(
        bk(col(timeCol)).as("__bk"),
        col(timeCol),
        lit(1).as("__sd"),
        lit(0).as("__r"),
        struct(lp.map(col): _*).as("__lp"),
        lit(null).cast(rpType).as("__rp")): _*)
    val rTag = right.select(
      keys.map(col) ++ Seq(
        bk(col(timeCol)).as("__bk"),
        col(timeCol),
        lit(1).as("__sd"),
        lit(1).as("__r"),
        lit(null).cast(lpType).as("__lp"),
        struct(rp.map(col): _*).as("__rp")): _*)
    // bucket-level summary: the max-(time, payload) right row per
    // (key, bucket) — slim, one row per occupied bucket
    val bucketLast = rTag.groupBy((keys :+ "__bk").map(col): _*)
      .agg(max(struct(col(timeCol), col("__rp"))).as("__bl"))
    // bucket domain = every (key, bucket) holding LEFT rows (only those
    // need a seed), carry the latest earlier-bucket payload forward via a
    // window over BUCKET rows per key
    val domain = lTag.select((keys :+ "__bk").map(col): _*).distinct()
      .withColumn("__bl", lit(null).cast(bucketLast.schema("__bl").dataType))
      .unionByName(bucketLast)
    val wSeed = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__bk").asc, col("__bl").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seeds = domain
      .withColumn("__prev",
        last(when(col("__bl").isNotNull,
          struct(col("__bk").as("src_bk"), col("__bl").as("bl"))), ignoreNulls = true).over(wSeed))
      // a seed carries only STRICTLY-earlier buckets' state: a __prev from
      // this same bucket is the bucket's own right rows, which the
      // within-bucket window already sees
      .filter(col("__prev").isNotNull && col("__prev.src_bk") < col("__bk") &&
        col("__bl").isNull) // only left-occupied bucket rows spawn seeds
      .select(
        keys.map(col) ++ Seq(
          col("__bk"),
          (col("__bk") * bucketWidth).cast(left.schema(timeCol).dataType).as(timeCol),
          lit(0).as("__sd"),
          lit(1).as("__r"),
          lit(null).cast(lpType).as("__lp"),
          col("__prev.bl.__rp").as("__rp")): _*)
    val w = Window.partitionBy((keys :+ "__bk").map(col): _*)
      .orderBy(col(timeCol).asc, col("__sd").asc, col("__r").desc, col("__rp").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lTag.unionByName(rTag).unionByName(seeds)
      .withColumn("__m", last(col("__rp"), ignoreNulls = true).over(w))
      .filter(col("__r") === 0)
      .select(
        keys.map(col) ++ Seq(col(timeCol)) ++
          lp.map(c => col(s"__lp.$c").as(c)) ++
          rp.map(c => col(s"__m.$c").as(s"$rightPrefix$c")): _*)
  }

  /** [[asofJoin]] with RUNTIME dispatch between the plain and bucketed
    * forms — for callers who don't know their key histogram at authoring
    * time. One slim aggregation over (keys, time) of BOTH sides (column-
    * pruned scans, map-side partial agg, one row per key then one row
    * total) measures the max single-key row count and the time span;
    * the scaladoc decision rule on [[asofJoin]] then picks:
    *
    *  - max per-key rows < `hotKeyThreshold` (default 10⁶, where the
    *    ScaleProbe's XL as-of rows measured the plain window's single-task
    *    sort start to lose badly) → [[asofJoin]], no extra cost beyond the histogram;
    *  - otherwise → [[asofJoinBucketed]] with width chosen so the
    *    hottest key lands ~`targetBucketRows` rows per (key, bucket)
    *    task (cuts clamped to [16, 4096] so tiny spans don't degenerate
    *    and pathological ones don't explode the bucket domain).
    *
    * NOTE this is an ACTION at composition time (the histogram runs
    * eagerly — two scans of the slim key/time columns), not a lazy
    * plan like the other forms: dispatch needs the numbers. Callers who
    * already know their skew should call the specific form directly and
    * skip the pass; at 100 TB the histogram is affordable (slim columns,
    * partial aggregation) but not free. `timeCol` must be numeric, as in
    * the bucketed form. */
  def asofJoinAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, rightPrefix: String = "r_",
      hotKeyThreshold: Long = 1000000L,
      targetBucketRows: Long = 250000L): DataFrame = {
    val slim = left.select((keys :+ timeCol).map(col): _*)
      .unionByName(right.select((keys :+ timeCol).map(col): _*))
    val stats = slim.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), min(col(timeCol)).as("__lo"), max(col(timeCol)).as("__hi"))
      .agg(max(col("__n")).as("__maxn"), min(col("__lo")).as("__lo"), max(col("__hi")).as("__hi"))
      .head()
    if (stats.isNullAt(0) || stats.getLong(0) < hotKeyThreshold)
      asofJoin(left, right, keys, timeCol, rightPrefix)
    else {
      val maxN = stats.getLong(0)
      val span = math.max(1L,
        stats.getAs[Number](2).longValue() - stats.getAs[Number](1).longValue() + 1L)
      val cuts = math.min(4096L, math.max(16L, maxN / math.max(1L, targetBucketRows)))
      val width = math.max(1L, span / cuts)
      asofJoinBucketed(left, right, keys, timeCol, width, rightPrefix)
    }
  }

  /** Interpolation join — the as-of family's two-sided form: each left row
    * gets the linear interpolation of `valueCol` between its BRACKETING
    * right rows (latest at-or-before and earliest at-or-after, per key).
    * The standard time-series alignment for sensor/metric feeds sampled on
    * their own clocks; the one-sided [[asofJoin]] carries the last value
    * forward, this reconstructs the value AT the query instant.
    *
    * Output: left columns + (`outCol` = v0 + (v1 − v0)·(t − t0)/(t1 − t0)
    * as double). An exact hit (t = t0 = t1: both brackets resolve to the
    * same right row) returns that row's value with no division; left rows
    * OUTSIDE the right side's covered range (missing either bracket) get
    * null — interior interpolation only, extrapolation is the caller's
    * policy. `timeCol` must be NUMERIC on both sides (epoch millis):
    * the forward bracket is the backward as-of on negated time, and
    * negation needs arithmetic.
    *
    * Like DuckDB's ASOF at ties, the bracket choice among right rows with
    * equal (key, time) is only deterministic given a tie-free right side —
    * pre-aggregate right to one value per (key, time) (as the oracle
    * fixture does) when duplicates are possible.
    *
    * Shape: two [[asofJoin]] passes = two key-shuffled window passes over
    * slim (key, t, v) right rows — never a per-key cross product, same
    * sort-merge posture as the one-sided form. */
  def interpolateJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, valueCol: String, outCol: String = "interp"): DataFrame = {
    val r2 = right.select(
      keys.map(col) :+
        col(timeCol).cast("double").as(timeCol) :+
        col(timeCol).cast("double").as("__rt") :+
        col(valueCol).cast("double").as("__rv"): _*)
    val lCast = left.withColumn(timeCol, col(timeCol).cast("double"))
    val back = asofJoin(lCast, r2, keys, timeCol, "__b_")
    val ln = back.withColumn("__negt", -col(timeCol))
    val rn = r2.select(
      keys.map(col) :+ (-col(timeCol)).as("__negt") :+
        col("__rt") :+ col("__rv"): _*)
    asofJoin(ln, rn, keys, "__negt", "__f_")
      .drop("__negt")
      .withColumn(outCol,
        when(col("__b___rt") === col("__f___rt"), col("__b___rv"))
          .otherwise(col("__b___rv") + (col("__f___rv") - col("__b___rv")) *
            (col(timeCol) - col("__b___rt")) / (col("__f___rt") - col("__b___rt"))))
      .drop("__b___rt", "__b___rv", "__f___rt", "__f___rv")
  }

  /** Range join: all (left, right) pairs within the same key group whose
    * time difference is at most `delta` (inclusive, same units as the time
    * columns — typically epoch millis).
    *
    * Shape: bucket time by `delta`; the RIGHT side is replicated into its
    * bucket and both neighbors, the join runs on (key, bucket) equality,
    * and the exact |Δt| <= delta predicate filters candidates. Each true
    * pair matches exactly one replica, so no dedup pass is needed. The
    * shuffle is keyed by (key, bucket) — candidate volume is bounded by
    * bucket co-membership, never a per-key cross product.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, delta: Long, rightPrefix: String = "r_"): DataFrame = {
    require(delta > 0, "delta must be positive")
    val rp = right.columns.filterNot(keys.contains)
    val l = left.withColumn("__bk", floor(col(timeCol) / delta))
    val r = right
      .select(keys.map(col) ++ rp.map(c => col(c).as(s"$rightPrefix$c")): _*)
      .withColumn("__bk",
        explode(array(
          floor(col(s"$rightPrefix$timeCol") / delta) - 1,
          floor(col(s"$rightPrefix$timeCol") / delta),
          floor(col(s"$rightPrefix$timeCol") / delta) + 1)))
    l.join(r, keys :+ "__bk")
      .filter(abs(col(timeCol) - col(s"$rightPrefix$timeCol")) <= delta)
      .drop("__bk")
  }
}
