package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Retraction-correct WINDOWED aggregation — the streams-half capability
  * Spark's built-in windowed aggregation cannot express (SURVEY §7.4's last
  * stretch item): the reference's windows consume a weighted Z-set delta
  * stream (topologynode.py:672-963 over ±w records), so a retraction (−w)
  * arriving inside the lateness horizon must CORRECT the window it falls
  * in, not be treated as a new insert. Spark's `window().agg(sum)` under
  * append mode sums whatever rows arrive — weights would need to ride the
  * values, and a finalized window can never re-emit.
  *
  * Implemented as flatMapGroupsWithState keyed by (key, window_end) — the
  * same state model as [[RetractionDistinct]]:
  *
  *  - state = (Σ weight·value, Σ weight) integrated per (key, window);
  *  - every micro-batch that CHANGES a window's totals re-emits the
  *    corrected (key, window_end_ms, sum_value, n) row — downstream sees
  *    an upsert stream exactly like the reference's `group_by_sum` output
  *    after integrate (latest row per key wins);
  *  - a window whose weights cancel to zero emits the zeroed row (the
  *    Z-set "absent" correction) and drops its state immediately;
  *  - the watermark horizon (EventTimeTimeout once the watermark — which
  *    already lags max event time by the delay — passes window_end) drops
  *    remaining state, so state size is bounded by the number of LIVE
  *    (key, window) pairs inside the horizon — never corpus-bounded.
  *
  * Scale note: state is hash-partitioned by (key, window_end) across
  * executors (RocksDB store in production); each micro-batch touches only
  * the windows present in the batch. 100 TB/day with a 1 h window and a
  * 10 min horizon holds ~7 window-epochs × |keys| state rows.
  */
object RetractionWindow {

  case class WinDelta(key: String, tsMs: Long, value: Long, weight: Long)
  case class WinSum(key: String, windowEndMs: Long, sumValue: Long, n: Long)

  /** [[slidingSum]] output: one row per live ANCHOR timestamp (the
    * reference's per-record window [t, t+size]), upsert-keyed by
    * (key, tsMs). */
  case class WinSlide(key: String, tsMs: Long, windowEndMs: Long,
      sumValue: Long, n: Long)

  /** [[sessionSum]] output: one row per live SESSION, upsert-keyed by
    * (key, sessionStartMs) — the merge-stable identity (a session's start
    * only changes when an earlier event joins it, which re-emits under
    * the new start and zeroes the old). sessionEndMs = last_ts + gap. */
  case class WinSession(key: String, sessionStartMs: Long, sessionEndMs: Long,
      sumValue: Long, n: Long)

  /** Internal plumbing type (public only because Catalyst's generated
    * encoder code cannot touch private classes): WinDelta with the
    * watermark timestamp column materialized — the stateful operator
    * needs the event-time column typed alongside the data. */
  case class WinDeltaTs(key: String, tsMs: Long, value: Long,
      weight: Long, wmTs: java.sql.Timestamp)

  /** [[WinDeltaTs]] plus the assigned grid window end. */
  case class WinDeltaW(key: String, tsMs: Long, value: Long,
      weight: Long, wmTs: java.sql.Timestamp, wend: Long)

  /** The deltas with the event-time column `wmTs` under a `delayMs`
    * watermark. The watermark column must RIDE IN THE VALUES of every
    * stateful form below — projecting it away (e.g. via mapValues) makes
    * the event-time timeout unresolvable. */
  private def watermarked(deltas: Dataset[WinDelta], delayMs: Long): DataFrame =
    deltas.toDF()
      .withColumn("wmTs", timestamp_millis(col("tsMs")))
      .withWatermark("wmTs", s"$delayMs milliseconds")

  /** The one pipeline of the grid-aligned forms (tumbling, hopping,
    * cumulative): assign each delta its window end(s) with `windowEnd`,
    * group by (key, window end) and run [[sumHandler]]. */
  private def gridSum(deltas: Dataset[WinDelta], delayMs: Long,
      windowEnd: Column): Dataset[WinSum] = {
    val spark = deltas.sparkSession
    import spark.implicits._
    watermarked(deltas, delayMs)
      .withColumn("wend", windowEnd)
      .as[WinDeltaW]
      .groupByKey(d => (d.key, d.wend))
      .flatMapGroupsWithState[(Long, Long), WinSum](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(sumHandler)
  }

  /** The shared (key, window) state machine: integrate (Σ w·v, Σ w),
    * re-emit on change, drop state on zero-cancel, event-time timeout once
    * the watermark passes window_end. */
  private def sumHandler(kw: (String, Long), rows: Iterator[WinDeltaW],
      state: GroupState[(Long, Long)]): Iterator[WinSum] = {
    val (key, winEnd) = kw
    if (state.hasTimedOut) {
      // horizon passed: the window can no longer change — drop state.
      // Corrections were emitted eagerly, so nothing re-emits here.
      state.remove()
      Iterator.empty
    } else {
      val (prevSum, prevN) = state.getOption.getOrElse((0L, 0L))
      var dSum = 0L
      var dN = 0L
      rows.foreach { d =>
        dSum += d.weight * d.value
        dN += d.weight
      }
      val (sum, n) = (prevSum + dSum, prevN + dN)
      if (sum == 0L && n == 0L) state.remove()
      else {
        state.update((sum, n))
        // drop state once the watermark passes winEnd: every delta for
        // this window has tsMs < winEnd, so once watermark ≥ winEnd any
        // further delta is watermark-dropped before reaching us — the
        // delay is already inside the watermark, adding it again here
        // would double the retention (state alive until winEnd + 2·delay).
        // Spark requires the timeout strictly past the current watermark;
        // a window already at the horizon edge still gets one tick.
        state.setTimeoutTimestamp(
          math.max(winEnd, state.getCurrentWatermarkMs() + 1))
      }
      if (dSum == 0L && dN == 0L) Iterator.empty
      else Iterator(WinSum(key, winEnd, sum, n))
    }
  }

  /** Merge one delta into a per-key event multiset {ts → (Σ w·v, Σ w)}
    * (the sliding and session forms' state); an entry whose weights cancel
    * to zero leaves it. Returns whether an entry left. */
  private def mergeDelta(st: collection.mutable.Map[Long, (Long, Long)], d: WinDeltaTs): Boolean = {
    val (s0, n0) = st.getOrElse(d.tsMs, (0L, 0L))
    val (s1, n1) = (s0 + d.weight * d.value, n0 + d.weight)
    if (s1 == 0L && n1 == 0L) st.remove(d.tsMs).isDefined
    else { st.update(d.tsMs, (s1, n1)); false }
  }

  /** Tumbling windowed sum+count over a ±weighted delta stream.
    * `delayMs` is the lateness horizon: deltas (inserts OR retractions)
    * older than watermark − delay are dropped by the watermark, everything
    * inside corrects its window. */
  def tumblingSum(deltas: Dataset[WinDelta], sizeMs: Long, delayMs: Long): Dataset[WinSum] =
    gridSum(deltas, delayMs, expr(s"(tsMs div $sizeMs) * $sizeMs + $sizeMs"))

  /** Hopping form: a delta at t falls in size/hop overlapping windows, so
    * a retraction must correct ALL of them. The window-end assignment is
    * the same integer walk as the batch hopping oracle ((t div hop + j)·hop
    * for j = 1..size/hop), exploded BEFORE the group so each (key, window)
    * runs the identical state machine; per-delta state cost is the window
    * multiplicity, exactly as in the batch expansion.
    *
    * Deliberate divergence at the epoch origin: the reference's
    * _assign_hopping drops partial origin windows (window end < size), so
    * a delta with tsMs < sizeMs there falls in fewer than size/hop
    * windows. Here it gets the full walk — matching Spark's batch
    * `window()` (and graft's batch hopping oracle), which emits partial
    * origin windows. Filter `window_end_ms >= sizeMs` downstream for
    * reference-exact output. */
  def hoppingSum(deltas: Dataset[WinDelta], sizeMs: Long, hopMs: Long,
      delayMs: Long): Dataset[WinSum] = {
    require(sizeMs % hopMs == 0, s"sizeMs ($sizeMs) must be a multiple of hopMs ($hopMs)")
    gridSum(deltas, delayMs, explode(expr(
      s"sequence((tsMs div $hopMs + 1) * $hopMs, (tsMs div $hopMs) * $hopMs + $sizeMs, $hopMs)")))
  }

  /** Cumulative (CUMULATE) form: a delta at t is assigned every window end
    * from its own advance-slot to its period's end — the same
    * explode(sequence(...)) walk as the batch [[graft.streams.Windows]]
    * cumulative operator — so a retraction corrects every expanding window
    * that had counted it. Session windows need a different state model —
    * merging windows under retraction requires re-splitting previously
    * merged state, which needs the full event multiset per session — and
    * get it in [[sessionSum]]. */
  def cumulativeSum(deltas: Dataset[WinDelta], periodMs: Long, advanceMs: Long,
      delayMs: Long): Dataset[WinSum] = {
    require(periodMs % advanceMs == 0,
      s"periodMs ($periodMs) must be a multiple of advanceMs ($advanceMs)")
    gridSum(deltas, delayMs, explode(expr(
      s"""sequence(
         |  tsMs - pmod(tsMs, $advanceMs) + $advanceMs,
         |  tsMs - pmod(tsMs, $periodMs) + $periodMs,
         |  $advanceMs)""".stripMargin)))
  }

  /** Sliding form — the reference's per-RECORD windows
    * (topologynode.py:926-940 + _assign_sliding:703-707): every live
    * record at t anchors a window [t, t+size], aggregating every record
    * with ts in that range. Unlike the grid-aligned forms the window ends
    * are DATA-dependent (each anchor's t+size), so the exploded
    * (key, window_end) assignment cannot know them per delta; instead the
    * state is keyed by key alone and holds the integrated live multiset
    * {ts → (Σ w·v, Σ w)} inside the horizon — exactly the event multiset
    * the reference's expire_sliding machinery retracts from
    * (topologynode.py:846-853).
    *
    *  - a batch's deltas merge into the multiset; every live anchor whose
    *    window [u, u+size] contains a changed ts re-emits its corrected
    *    (key, u, u+size, Σ, n) row — an upsert stream keyed by (key, u);
    *  - an anchor whose weights cancel to zero emits the zeroed row (the
    *    Z-set absent correction) and leaves the multiset;
    *  - eviction: an entry at ts is both an anchor (final once the
    *    watermark passes ts+size — any delta that could change it has
    *    ts' ≤ ts+size and is watermark-dropped) and a contributor to
    *    anchors in [ts−size, ts] (whose windows all end ≤ ts+size), so
    *    ONE rule drops it: watermark ≥ ts + size. State per key is
    *    bounded by the distinct live timestamps inside size + delay —
    *    the horizon expire_sliding implies — never stream-bounded.
    *
    * Range semantics match the batch [[graft.streams.Windows.slidingAgg]]:
    * ts ∈ [u, u+size] INCLUSIVE of the right edge. Per-batch work per key
    * is O(live · changed) worst case (every anchor re-summed when every
    * ts changed) — the same per-key sequential shape as the reference's
    * in-memory loop, parallel across keys here. */
  def slidingSum(deltas: Dataset[WinDelta], sizeMs: Long, delayMs: Long): Dataset[WinSlide] = {
    val spark = deltas.sparkSession
    import spark.implicits._
    watermarked(deltas, delayMs)
      .as[WinDeltaTs]
      .groupByKey(_.key)
      .flatMapGroupsWithState[Map[Long, (Long, Long)], WinSlide](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          if (state.hasTimedOut) {
            // horizon passed for the OLDEST entry: evict everything final;
            // corrections were emitted eagerly, nothing re-emits here
            val live = state.get.filter { case (ts, _) => ts + sizeMs > wm }
            if (live.isEmpty) state.remove()
            else {
              state.update(live)
              state.setTimeoutTimestamp(
                math.max(live.keys.min + sizeMs, wm + 1))
            }
            Iterator.empty
          } else {
            val st = collection.mutable.Map.empty[Long, (Long, Long)] ++
              state.getOption.getOrElse(Map.empty)
            val changed = collection.mutable.Set.empty[Long]
            val gone = collection.mutable.Set.empty[Long]
            rows.foreach { d =>
              changed += d.tsMs
              if (mergeDelta(st, d)) gone += d.tsMs
            }
            if (st.isEmpty) state.remove()
            else {
              state.update(st.toMap)
              state.setTimeoutTimestamp(
                math.max(st.keys.min + sizeMs, wm + 1))
            }
            // re-emit every live anchor whose window saw a change, plus the
            // absent correction for anchors that cancelled out
            val out = st.keys.toSeq
              .filter(u => changed.exists(t => t >= u && t <= u + sizeMs))
              .sorted
              .map { u =>
                var s = 0L; var n = 0L
                st.foreach { case (t, (sv, w)) =>
                  if (t >= u && t <= u + sizeMs) { s += sv; n += w }
                }
                WinSlide(key, u, u + sizeMs, s, n)
              }
            val zeroed = gone.toSeq.sorted.map(u => WinSlide(key, u, u + sizeMs, 0L, 0L))
            (out ++ zeroed).iterator
          }
      }
  }

  /** Session-windowed sum+count over a ±weighted delta stream — the NATIVE
    * retraction form of the reference's in-agg session-list merge
    * (topologynode.py:757-819: per-key session dicts that merge on insert
    * and keep the full `records` list). Spark's built-in `session_window`
    * aggregation cannot express this: it stores only the merged aggregate,
    * so retracting the BRIDGING event of a merged session (−w) could never
    * re-split it. The state here is the same live event multiset the
    * reference's records list holds — {tsMs → (Σ w·v, Σ w)} per key —
    * and sessions are DERIVED from it each batch (sort, split where the
    * inter-event gap ≥ `gapMs`), so merge and un-merge are both just
    * recomputation over the multiset:
    *
    *  - output is an upsert stream keyed by (key, session_start_ms):
    *    every batch emits the sessions whose (start, end, Σ, n) changed,
    *    plus a zeroed row for each previously-live session start that
    *    vanished (merged into an earlier one, or drained) — the Z-set
    *    absent correction, exactly the sliding form's posture;
    *  - merge boundary is STRICT (`ts2 − ts1 < gap` merges), matching
    *    Spark's `session_window` overlap rule and graft's batch
    *    [[graft.streams.Windows.session]] (the oracle twin). The
    *    reference merges at exactly `gap` too (inclusive,
    *    topologynode.py:765) — at that single boundary instant this form
    *    sides with its own batch oracle;
    *  - eviction: a session is FINAL once the watermark passes
    *    last_ts + gap — an accepted new event has ts ≥ watermark, too far
    *    right to connect, and a retraction of a member event is
    *    watermark-dropped (member ts < last_ts < watermark). The
    *    event-time timeout fires at the earliest live session's
    *    last_ts + gap and drops final sessions' entries wholesale, so
    *    state per key is bounded by the events of OPEN sessions inside
    *    the horizon — the same shape as the reference's records lists
    *    (an eternally-active session grows there too; that is inherent
    *    to un-mergeable-without-the-multiset semantics, not a Spark
    *    artifact);
    *  - GROWTH CONTRACT: an ETERNALLY-ACTIVE key (events forever closer
    *    than `gapMs` apart) therefore grows its multiset without bound —
    *    size the gap/watermark so real sessions close, or set
    *    `maxEventsPerKey` to trade boundary precision for a hard state
    *    bound. When the cap trips, the two entries whose merge leaves
    *    the TIGHTEST surrounding span coalesce into the earlier
    *    timestamp, choosing ONLY among pairs already inside one session
    *    (inter-pair gap < gapMs) while any exist — so a merge never
    *    straddles a session boundary, and session starts plus the
    *    last-event timestamp that drives finality never move, as long
    *    as at least one intra-session interior pair exists. Only a
    *    chain whose interior pairs are ALL ≥ gapMs apart (every interior
    *    event its own session — far outside the dense always-on case
    *    the cap exists for) falls back to a cross-hole merge, which
    *    absorbs a singleton session into its predecessor's timestamp
    *    (that session's start and aggregate shift — the strongest
    *    distortion, confined to this degenerate shape).
    *    AGGREGATES STAY EXACT — a later retraction of a coalesced
    *    event lands as a negative singleton that nets correctly — but
    *    boundaries coarsen, in two documented ways: (a) a retraction
    *    that would have re-split a merged session can no longer split
    *    it (the bridge's weight now lives at a neighbor ts, and the
    *    negative entry keeps the chain connected); (b) on a SPARSE
    *    chain — every adjacent pair ≥ gap/2 apart — even the tightest
    *    merge can open an inter-event gap ≥ `gapMs` and the session
    *    artificially splits at the merge point. Dense always-on keys
    *    (the case the cap exists for) have tight interior pairs and
    *    never hit (b). */
  def sessionSum(deltas: Dataset[WinDelta], gapMs: Long, delayMs: Long,
      maxEventsPerKey: Int = Int.MaxValue): Dataset[WinSession] = {
    require(gapMs > 0, "gapMs must be > 0")
    require(maxEventsPerKey >= 2, "maxEventsPerKey must be >= 2")
    val spark = deltas.sparkSession
    import spark.implicits._

    // derive (start, lastTs, Σ, n) spans from the multiset: sorted walk,
    // new session when the inter-event gap reaches gapMs
    def sessionsOf(st: Iterable[(Long, (Long, Long))]): Seq[(Long, Long, Long, Long)] = {
      val sorted = st.toSeq.sortBy(_._1)
      val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      sorted.foreach { case (ts, (sv, w)) =>
        if (out.nonEmpty && ts - out.last._2 < gapMs) {
          val (s0, _, sum0, n0) = out.last
          out(out.length - 1) = (s0, ts, sum0 + sv, n0 + w)
        } else out += ((ts, ts, sv, w))
      }
      out.toSeq
    }

    // the optional per-key event cap: fold the interior pair whose merge
    // leaves the tightest surrounding span into the EARLIER ts (session
    // starts and the finality-driving last ts never move); O(cap) per
    // merge and merges only happen on overflow
    def compact(m: Map[Long, (Long, Long)]): Map[Long, (Long, Long)] = {
      if (m.size <= maxEventsPerKey) return m
      val buf = collection.mutable.ArrayBuffer.empty[(Long, (Long, Long))]
      buf ++= m.toSeq.sortBy(_._1)
      while (buf.size > maxEventsPerKey) {
        // two-tier candidate selection (round-13 fix): only pairs that
        // are ALREADY in the same session (gap < gapMs) may merge while
        // any exist — merging across a >= gapMs hole would absorb the
        // first event of a LATER session into the preceding one,
        // shifting that session's start AND its aggregates between
        // sessions, a stronger distortion than boundary coarsening.
        // Only a fully-sparse chain (every interior pair >= gapMs
        // apart) falls back to cross-hole merges, which is documented
        // case (b).
        var best = -1; var bestSpan = Long.MaxValue
        var i = 0
        while (i + 2 < buf.size) {
          if (buf(i + 1)._1 - buf(i)._1 < gapMs) {
            val span = buf(i + 2)._1 - buf(i)._1
            if (span < bestSpan) { bestSpan = span; best = i }
          }
          i += 1
        }
        if (best < 0) {
          best = 0; bestSpan = Long.MaxValue; i = 0
          while (i + 2 < buf.size) {
            val span = buf(i + 2)._1 - buf(i)._1
            if (span < bestSpan) { bestSpan = span; best = i }
            i += 1
          }
        }
        val (t0, (s0, n0)) = buf(best)
        val (_, (s1, n1)) = buf(best + 1)
        buf(best) = (t0, (s0 + s1, n0 + n1))
        buf.remove(best + 1)
      }
      buf.toMap
    }

    watermarked(deltas, delayMs)
      .as[WinDeltaTs]
      .groupByKey(_.key)
      .flatMapGroupsWithState[Map[Long, (Long, Long)], WinSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          def arm(st: Map[Long, (Long, Long)]): Unit = {
            val open = sessionsOf(st).filter(_._2 + gapMs > wm)
            val next =
              if (open.isEmpty) wm + 1 // only final sessions left: evict next tick
              else open.map(_._2 + gapMs).min
            state.setTimeoutTimestamp(math.max(next, wm + 1))
          }
          if (state.hasTimedOut) {
            // horizon passed the earliest session's end: drop every FINAL
            // session's entries wholesale. Corrections were emitted
            // eagerly, so nothing re-emits here (the sliding contract).
            val st = state.get
            val keepSpans = sessionsOf(st).filter(_._2 + gapMs > wm)
            val keep = st.filter { case (ts, _) =>
              keepSpans.exists(s => ts >= s._1 && ts <= s._2) }
            if (keep.isEmpty) state.remove()
            else { state.update(keep); arm(keep) }
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(Map.empty[Long, (Long, Long)])
            val prevSess = sessionsOf(prev).map(s => s._1 -> s).toMap
            val st = collection.mutable.Map.empty[Long, (Long, Long)] ++ prev
            rows.foreach(mergeDelta(st, _))
            val now = compact(st.toMap)
            if (now.isEmpty) state.remove()
            else { state.update(now); arm(now) }
            val newSess = sessionsOf(now).map(s => s._1 -> s).toMap
            // upsert diff: changed/new sessions re-emit, vanished starts zero
            val changed = newSess.collect {
              case (s0, s) if !prevSess.get(s0).contains(s) =>
                WinSession(key, s0, s._2 + gapMs, s._3, s._4)
            }.toSeq.sortBy(_.sessionStartMs)
            val gone = (prevSess.keySet -- newSess.keySet).toSeq.sorted.map { s0 =>
              WinSession(key, s0, prevSess(s0)._2 + gapMs, 0L, 0L)
            }
            (changed ++ gone).iterator
          }
      }
  }
}
