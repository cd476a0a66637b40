package graft.streaming

import graft.functions.GeoFunctions
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag

/** Structured Streaming re-expression of the reference pipeline
  * (SURVEY.md §2 A4, A5, D1-D4).
  *
  * The reference keys by trip id, holds events in a GlobalWindow and
  * fires+purges on an inactivity timer (ProcessingTimeTrigger.kt) —
  * i.e. sessionization with an inactivity gap, aggregating
  * incrementally (TripAggregatorApplication.kt:58-164).
  *
  * Two Spark-native forms:
  *  - `sessionWindowAgg`: declarative `session_window` + watermark —
  *    Catalyst/streaming state store handle merging and eviction.
  *  - `statefulTripAggregate`: `flatMapGroupsWithState` with a
  *    ProcessingTimeTimeout — the literal analog of the reference's
  *    min/max-retention trigger, but with O(1) state per key (running
  *    sums + last point) instead of the reference's per-trip TreeSets
  *    — the difference between "fits in the state store at 100 TB"
  *    and "OOMs on a long trip".
  */
object SessionPipeline extends Serializable {

  /** One telemetry reading (the events-table shape). */
  case class Reading(user_id: Long, tsec: Long, lat: Double, lon: Double,
      speed: Double, value: Double)

  /** Closed-session result — mirrors the reference TripAggregation
    * fields (TripAggregation.kt:16-25).
    */
  case class TripSession(user_id: Long, n_events: Long, start_s: Long,
      end_s: Long, total_s: Long, stopped_s: Long, moving_s: Long,
      distance_km: Double, sum_value: Double)

  /** O(1) running state per open session. `deadlineMs` carries the
    * trigger's armed cleanup time across batches (the reference keeps
    * it in `cleanupTimeStateDescription` partitioned state,
    * ProcessingTimeTrigger.kt:13-14).
    */
  case class TripState(nEvents: Long, startS: Long, lastS: Long,
      lastLat: Double, lastLon: Double, lastSpeed: Double,
      stoppedS: Long, distanceKm: Double, sumValue: Double,
      deadlineMs: Long = 0L)

  /** The reference trigger's re-arm hysteresis
    * (ProcessingTimeTrigger.kt:30-42): on an element at `nowMs`, the
    * cleanup timer is re-armed to now+max ONLY when now+min crosses
    * the currently armed deadline — elements arriving well before the
    * deadline leave it untouched, so a steady trickle of events does
    * not push the purge out forever beyond max-retention hops.
    */
  private[graft] def nextDeadline(nowMs: Long, deadlineMs: Long,
      minRetentionMs: Long, maxRetentionMs: Long): Long =
    if (deadlineMs == 0L || nowMs + minRetentionMs > deadlineMs)
      nowMs + maxRetentionMs
    else deadlineMs

  /** Declarative event-time session windows (gap = inactivity). */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("tsec")))
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_s"),
        unix_timestamp(col("session_window.end")).as("end_s"),
        col("n_events"), col("sum_value"))

  /** The reference's incremental AggregateFunction + inactivity
    * trigger as a stateful streaming operator. Emits a TripSession
    * when a key sees no events for the processing-time timeout
    * (== the trigger's FIRE_AND_PURGE on the retention timer).
    *
    * `minRetentionMs`/`maxRetentionMs` reproduce the reference
    * trigger's knobs (TripAggregatorApplication.kt:208-210 arms them
    * at 10 ms / 4 s): the purge deadline re-arms to now+max only when
    * now+min crosses it — see [[nextDeadline]].
    */
  def statefulTripAggregate(readings: Dataset[Reading],
      maxRetentionMs: Long = 4000, lowSpeed: Double = 5.0,
      minRetentionMs: Long = 10): Dataset[TripSession] = {
    import readings.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[Reading],
        state: GroupState[TripState]): Iterator[TripSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(TripSession(
          userId, s.nEvents, s.startS, s.lastS, s.lastS - s.startS,
          s.stoppedS, (s.lastS - s.startS) - s.stoppedS,
          s.distanceKm, s.sumValue))
      } else {
        val sorted = rows.toSeq.sortBy(r => (r.tsec, r.value))
        var s = state.getOption.getOrElse {
          val h = sorted.head
          TripState(0L, h.tsec, h.tsec, h.lat, h.lon, h.speed, 0L, 0.0, 0.0)
        }
        sorted.foreach { r =>
          val stoppedDelta =
            if (s.nEvents > 0 && r.speed < lowSpeed && s.lastSpeed < lowSpeed)
              r.tsec - s.lastS
            else 0L
          val legKm =
            if (s.nEvents > 0) GeoFunctions.haversineKm(s.lastLat, s.lastLon, r.lat, r.lon)
            else 0.0
          s = s.copy(
            nEvents = s.nEvents + 1,
            startS = math.min(s.startS, r.tsec), lastS = math.max(s.lastS, r.tsec),
            lastLat = r.lat, lastLon = r.lon, lastSpeed = r.speed,
            stoppedS = s.stoppedS + stoppedDelta, distanceKm = s.distanceKm + legKm,
            sumValue = s.sumValue + r.value)
        }
        val nowMs = state.getCurrentProcessingTimeMs()
        val deadline = nextDeadline(nowMs, s.deadlineMs, minRetentionMs, maxRetentionMs)
        state.update(s.copy(deadlineMs = deadline))
        // always (re)declare the timeout so the armed deadline is
        // independent of state-store timeout persistence semantics
        state.setTimeoutDuration(math.max(1L, deadline - nowMs))
        Iterator.empty
      }
    }

    readings
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(update)
  }

  /** An event of an event-time stateful operator: its second `tsec`,
    * tie-broken by `event_id` — the (tsec, event_id) order every fold
    * and sessionizer here processes rows in.
    */
  trait Stamped { def event_id: Long; def tsec: Long }

  /** `events` watermarked `delayS` seconds behind their `tsec` stamps
    * and grouped by `key` — the wiring every event-time stateful
    * operator here shares (the buffered folds, both D2 sessionizers,
    * the D34 pattern operator).
    */
  private[streaming] def keyedByEventTime[E <: Stamped : Encoder, K : Encoder](
      events: Dataset[E], delayS: Long)(key: E => K): KeyValueGroupedDataset[K, E] =
    events
      .withColumn("ts", timestamp_seconds(col("tsec")))
      .withWatermark("ts", s"$delayS seconds")
      .as[E]
      .groupByKey(key)

  /** One event for the event-time sessionizer. */
  case class SessEvent(user_id: Long, event_id: Long, tsec: Long, value: Double)
      extends Stamped

  /** One closed session. */
  case class SessOut(user_id: Long, start_s: Long, end_s: Long,
      n_events: Long, sum_value: Double)

  case class SessState(startS: Long, lastS: Long, nEv: Long, sumV: Double) {
    /** `end_s` is last_event + gap (session_window convention). */
    def close(uid: Long, gapS: Long): SessOut =
      SessOut(uid, startS, lastS + gapS, nEv, sumV)
  }

  /** The D2 in-batch session step both event-time sessionizers share
    * (`statefulSessionizeEventTime`, `TwsSessionProcessor`): folds rows
    * sorted by (tsec, event_id) into the `open` session — a row more
    * than `gapS` after the session's last event closes it and opens the
    * next, any other row extends it. Returns the sessions closed, in
    * order, and the session left open.
    */
  private[graft] def sessionStep(open: Option[SessState], sorted: Seq[SessEvent],
      gapS: Long): (Seq[SessState], Option[SessState]) =
    sorted.foldLeft((Vector.empty[SessState], open)) {
      case ((closed, Some(s)), r) if r.tsec - s.lastS <= gapS =>
        (closed, Some(SessState(s.startS, math.max(s.lastS, r.tsec),
          s.nEv + 1, s.sumV + r.value)))
      case ((closed, prev), r) =>
        (closed ++ prev, Some(SessState(r.tsec, r.tsec, 1L, r.value)))
    }

  /** Custom stateful sessionizer with EVENT-TIME timeout — the
    * deterministic form of the reference's inactivity trigger
    * (ProcessingTimeTrigger.kt), suitable for replay verification:
    * a session closes when a later event of the same key arrives
    * after the gap, or when the watermark passes last_event + gap.
    * Emission is therefore a pure function of the data:
    * every non-final session of a key is emitted; a key's final
    * session is emitted iff (last_event + gap) < final watermark.
    * `end_s` is last_event + gap (session_window convention).
    */
  def statefulSessionizeEventTime(events: Dataset[SessEvent],
      gapS: Long, delayS: Long): Dataset[SessOut] = {
    import events.sparkSession.implicits._

    def update(uid: Long, rows: Iterator[SessEvent],
        state: GroupState[SessState]): Iterator[SessOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(s.close(uid, gapS))
      } else {
        val sorted = rows.toSeq.sortBy(r => (r.tsec, r.event_id))
        val (closed, open) = sessionStep(state.getOption, sorted, gapS)
        val expired = open.flatMap { s =>
          val deadlineMs = (s.lastS + gapS) * 1000L
          if (deadlineMs <= state.getCurrentWatermarkMs()) {
            // already expired relative to the current watermark
            state.remove()
            Some(s)
          } else {
            state.update(s)
            state.setTimeoutTimestamp(deadlineMs)
            None
          }
        }
        (closed ++ expired).iterator.map(_.close(uid, gapS))
      }
    }

    keyedByEventTime(events, delayS)(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** D4: streaming dedup within the watermark horizon. */
  def streamingDedup(events: DataFrame, idCols: Seq[String],
      tsCol: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** The buffered folds' shared timer and remove tail: a timed-out key
    * whose buffer has drained is removed; otherwise `next` is stored and
    * the event-time timer re-armed STRICTLY above the current watermark
    * (Spark rejects anything else) — just past the oldest held row, or
    * 1 s on when none is held — so a quiet key still drains.
    */
  private def rearm[S](state: GroupState[S], next: S, oldestHeldS: Option[Long]): Unit =
    if (oldestHeldS.isEmpty && state.hasTimedOut) state.remove()
    else {
      state.update(next)
      val wmMs = state.getCurrentWatermarkMs()
      state.setTimeoutTimestamp(
        oldestHeldS.fold(wmMs + 1000L)(t => math.max(t * 1000L + 1L, wmMs + 1L)))
    }

  /** A buffered fold's state: the fold accumulator and the rows still
    * at/above the watermark. */
  case class Buffered[A, E](acc: A, buffered: Seq[E])

  /** The D23 buffered-fold kernel: an ORDERED, non-decomposable per-key
    * fold over an out-of-order stream. Each key buffers its rows in
    * state and folds them into `zero` with `step` in (tsec, event_id)
    * order ONLY below the watermark — the horizon below which no earlier
    * row can still arrive; rows at/above it stay buffered for the next
    * batch, and the event-time timer ([[rearm]]) drains a quiet key.
    * Emission is update-mode: `out(key, acc)` once per call that folded
    * a row; the fold's counter grows strictly, so consumers take the
    * max-counter row per key, which over an AvailableNow replay equals
    * the batch fold over every row strictly below the final watermark.
    */
  private def bufferedFold[E <: Product with Stamped : TypeTag, K : Encoder,
      A <: Product : TypeTag, O <: Product : TypeTag](
      events: Dataset[E], delayS: Long, key: E => K, zero: A)(
      step: (A, E) => A)(out: (K, A) => O): Dataset[O] = {
    def update(k: K, rows: Iterator[E],
        state: GroupState[Buffered[A, E]]): Iterator[O] = {
      val wmS = state.getCurrentWatermarkMs() / 1000L
      val st = state.getOption.getOrElse(Buffered(zero, Seq.empty[E]))
      val all = if (state.hasTimedOut) st.buffered else st.buffered ++ rows
      val (ready, hold) = all.partition(_.tsec < wmS)
      val acc = ready.sortBy(r => (r.tsec, r.event_id)).foldLeft(st.acc)(step)
      rearm(state, Buffered(acc, hold), hold.map(_.tsec).minOption)
      if (ready.isEmpty) Iterator.empty else Iterator.single(out(k, acc))
    }

    keyedByEventTime(events, delayS)(key)(Encoders.product[E], implicitly[Encoder[K]])
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        update)(Encoders.product[Buffered[A, E]], Encoders.product[O])
  }

  case class BalDelta(user_id: Long, event_id: Long, tsec: Long, cents: Long)
      extends Stamped
  case class BalState(balance: Long, nFolded: Long)
  case class BalOut(user_id: Long, n_folded: Long, balance_cents: Long)

  case class DebEvent(user_id: Long, event_id: Long, tsec: Long) extends Stamped
  /** lastKept = Long.MinValue ⇒ nothing kept yet (the fold seed). */
  case class DebState(lastKept: Long, nSeen: Long, nKept: Long, idSum: Long)
  case class DebOut(user_id: Long, n_seen: Long, n_kept: Long,
      kept_id_sum: Long)

  /** D41: STREAMING ROLLING DEBOUNCE — B119's cooldown fold (keep an
    * event iff ≥ `cooldownS` since the last KEPT event of its key)
    * over an out-of-order stream. Like the D23 balance fold, the
    * rule is a genuine ordered NON-DECOMPOSABLE fold (survival
    * depends on which earlier events survived), so it runs on the
    * [[bufferedFold]] kernel. Emission (update mode): one running
    * (n_seen, n_kept, kept_id_sum) row per fold step — consumers
    * take the max-n_seen row per key (the D23 convention).
    */
  def statefulDebounceFold(events: Dataset[DebEvent], delayS: Long,
      cooldownS: Long = 300L): Dataset[DebOut] = {
    import events.sparkSession.implicits._
    bufferedFold(events, delayS, (e: DebEvent) => e.user_id,
        DebState(Long.MinValue, 0L, 0L, 0L)) { (s, r) =>
      if (s.lastKept == Long.MinValue || r.tsec - s.lastKept >= cooldownS)
        DebState(r.tsec, s.nSeen + 1, s.nKept + 1, s.idSum + r.event_id)
      else s.copy(nSeen = s.nSeen + 1)
    } { (uid, s) => DebOut(uid, s.nSeen, s.nKept, s.idSum) }
  }

  /** D23: streaming NON-DECOMPOSABLE ordered fold — the floored
    * running balance (balance = max(0, balance + Δ), B71) over an
    * out-of-order stream. The fold has no partial-aggregation or
    * prefix shortcut (order matters irreducibly), so the stream
    * buffers each key's deltas in state and folds them in event-time
    * order ONLY up to the watermark — the horizon below which no
    * earlier row can still arrive; rows at/above it stay buffered
    * (exactly the event-time-timeout sessionizer's discipline).
    * Emission is update-mode: the latest (n_folded, balance) per key;
    * over an AvailableNow replay the final row per key equals the
    * batch fold over every delta strictly below the final watermark.
    */
  def statefulBalanceFold(deltas: Dataset[BalDelta],
      delayS: Long): Dataset[BalOut] = {
    import deltas.sparkSession.implicits._
    bufferedFold(deltas, delayS, (d: BalDelta) => d.user_id, BalState(0L, 0L)) {
      (s, r) => BalState(math.max(s.balance + r.cents, 0L), s.nFolded + 1)
    } { (uid, s) => BalOut(uid, s.nFolded, s.balance) }
  }

  case class AnomEvent(event_type: String, event_id: Long, tsec: Long,
      cents: Long) extends Stamped
  case class AnomState(n: Long, s: Long, q: Long, nAnom: Long)
  case class AnomOut(event_type: String, n_folded: Long,
      n_anomalies: Long, sum_cents: Long)

  /** D44: STREAMING PREFIX Z-SCORE ANOMALY GATE — per key, each event
    * is tested against the running mean/variance of all PRIOR events
    * (the live telemetry outlier monitor; Welford's recurrence kept
    * as additive integer sufficient statistics n/Σc/Σc² instead of
    * the float mean/M2 form, so replay is exact). The prefix rule
    * makes this a genuine ORDERED fold — which events count as
    * "prior" is order-determined — so it rides the D23 machinery:
    * buffer below-watermark rows in state, fold in (tsec, event_id)
    * order. The anomaly test is EXACT integer arithmetic, no doubles
    * and no sqrt: |v − S/n| > 3·σ  ⟺  (v·n − S)²·(n−1) > 9·n·(n·Q − S²)
    * (sample variance), evaluated in BigInt; warm-up: prior n ≥ 30.
    * Σc² stays in a Long — c ≤ 10⁵ cents ⇒ c² ≤ 10¹⁰, safe to ~10⁸
    * events/key (the stated bound; the ×1000 clone corpus holds
    * ~1.4·10⁷/key). State is 4 longs + the below-watermark buffer.
    */
  def statefulAnomalyFold(events: Dataset[AnomEvent],
      delayS: Long): Dataset[AnomOut] = {
    import events.sparkSession.implicits._

    def anomalous(st: AnomState, c: Long): Boolean = {
      if (st.n < 30) false
      else {
        val n = BigInt(st.n); val s = BigInt(st.s); val q = BigInt(st.q)
        val dev = BigInt(c) * n - s
        dev * dev * (n - 1) > 9 * n * (n * q - s * s)
      }
    }

    bufferedFold(events, delayS, (e: AnomEvent) => e.event_type,
        AnomState(0L, 0L, 0L, 0L)) { (cur, r) =>
      val hit = if (anomalous(cur, r.cents)) 1L else 0L
      AnomState(cur.n + 1, cur.s + r.cents, cur.q + r.cents * r.cents, cur.nAnom + hit)
    } { (key, s) => AnomOut(key, s.n, s.nAnom, s.s) }
  }

  // Round-13 optimization (guide §2.3 "narrower types", applied to
  // the STATE encoder): the below-watermark buffer is three parallel
  // primitive arrays (tsec, event_id, cents) instead of
  // Seq[AnomEvent] — at the ×100 replay the whole corpus sits in
  // this buffer for one batch, and the per-row product encoding
  // (incl. a redundant event_type string per row — it equals the
  // key) dominated the state commit. Array[Long] fields encode as
  // three binary blobs. Fold order and emissions are unchanged: the
  // ready set is still sorted by (tsec, event_id) before folding.
  // It therefore keeps its own buffer handling and shares only the
  // wiring and the [[rearm]] tail with the [[bufferedFold]] kernel.
  case class ConfState(n: Long, hist: Seq[Long], nAlarms: Long,
      hiMass: Long, bufT: Array[Long], bufI: Array[Long], bufC: Array[Long])
  case class ConfOut(event_type: String, n_folded: Long, n_alarms: Long,
      hi_mass: Long)

  /** D53: STREAMING CONFORMAL p-VALUE GATE (round 13; split/
    * prequential conformal prediction — Vovk et al. 2005; Shafer &
    * Vovk JMLR 2008) — the DISTRIBUTION-FREE anomaly monitor beside
    * D44's parametric z-gate: each event's nonconformity score is
    * its value band, and its prequential p-value is the exact rank
    * statistic p = (1 + #{prior events with band ≥ mine}) / (n + 1)
    * over everything folded so far — valid (P(p ≤ α) ≤ α) under
    * exchangeability with NO distributional assumption, which is
    * precisely what the z-gate cannot promise on skewed telemetry.
    * Alarm at α = 1/16 as the exact integer test
    * 16·(1 + cnt_ge) ≤ n + 1 after a 30-event warm-up.
    *
    * BOUNDED STATE: the prefix multiset is kept as a 64-counter band
    * histogram (band = clamp(cents div 1000, 0..63) — $10 bands,
    * clamped so any value range fits), so per-key state is 64 longs
    * + the below-watermark buffer regardless of stream length — the
    * D33/D35 histogram-state discipline. The prefix rule makes the
    * fold ORDERED (which events are "prior" is order-determined), so
    * it rides the D23/D44 buffered-fold machinery: buffer
    * below-watermark rows, fold in (tsec, event_id) order. Exact
    * integers end to end; the oracle replays the same prefix ranks
    * with a bounded band-threshold union trick (each event
    * contributes one row per band ≤ its own; a per-(key, band)
    * running count then reads cnt_ge off a plain window).
    */
  def statefulConformalFold(events: Dataset[AnomEvent],
      delayS: Long): Dataset[ConfOut] = {
    import events.sparkSession.implicits._

    def band(c: Long): Int =
      math.min(63L, math.max(0L, c / 1000L)).toInt

    def foldReady(key: String, st: ConfState,
        wmS: Long): (ConfState, Option[ConfOut]) = {
      val nb = st.bufT.length
      var nReady = 0
      var i = 0
      while (i < nb) { if (st.bufT(i) < wmS) nReady += 1; i += 1 }
      if (nReady == 0) (st, None)
      else {
        val ready = new Array[Integer](nReady)
        val holdT = new Array[Long](nb - nReady)
        val holdI = new Array[Long](nb - nReady)
        val holdC = new Array[Long](nb - nReady)
        var r = 0; var o = 0; i = 0
        while (i < nb) {
          if (st.bufT(i) < wmS) { ready(r) = i; r += 1 }
          else { holdT(o) = st.bufT(i); holdI(o) = st.bufI(i)
            holdC(o) = st.bufC(i); o += 1 }
          i += 1
        }
        java.util.Arrays.sort(ready, (a: Integer, b: Integer) => {
          val c = java.lang.Long.compare(st.bufT(a), st.bufT(b))
          if (c != 0) c else java.lang.Long.compare(st.bufI(a), st.bufI(b))
        })
        var n = st.n
        var alarms = st.nAlarms
        var hi = st.hiMass
        val h = st.hist.toArray
        var j = 0
        while (j < nReady) {
          val b = band(st.bufC(ready(j)))
          var cntGe = 0L
          var k = b
          while (k < 64) { cntGe += h(k); k += 1 }
          if (n >= 30 && 16L * (1L + cntGe) <= n + 1L) alarms += 1
          if (b >= 32) hi += 1
          h(b) += 1
          n += 1
          j += 1
        }
        val next = ConfState(n, h.toSeq, alarms, hi, holdT, holdI, holdC)
        (next, Some(ConfOut(key, n, alarms, hi)))
      }
    }

    def update(key: String, rows: Iterator[AnomEvent],
        state: GroupState[ConfState]): Iterator[ConfOut] = {
      val wmS = state.getCurrentWatermarkMs() / 1000L
      val st0 = state.getOption
        .getOrElse(ConfState(0L, Seq.fill(64)(0L), 0L, 0L,
          Array.emptyLongArray, Array.emptyLongArray, Array.emptyLongArray))
      val withNew =
        if (state.hasTimedOut) st0
        else {
          val bt = scala.collection.mutable.ArrayBuilder.make[Long]
          val bi = scala.collection.mutable.ArrayBuilder.make[Long]
          val bc = scala.collection.mutable.ArrayBuilder.make[Long]
          rows.foreach { e => bt += e.tsec; bi += e.event_id; bc += e.cents }
          st0.copy(bufT = st0.bufT ++ bt.result(),
            bufI = st0.bufI ++ bi.result(),
            bufC = st0.bufC ++ bc.result())
        }
      val (next, out) = foldReady(key, withNew, wmS)
      rearm(state, next, next.bufT.minOption)
      out.iterator
    }

    keyedByEventTime(events, delayS)(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class PhState(n: Long, s: Long, m: Long, minM: Long, maxPh: Long,
      nAlarms: Long)
  case class PhOut(event_type: String, n_folded: Long, max_ph_e6: Long,
      n_alarms: Long)

  /** D47: STREAMING PAGE-HINKLEY DRIFT ALARM — the classic online
    * mean-shift detector (Page Biometrika 1954; Hinkley 1971), per
    * key: m_t = Σ_{i≤t} (x_i − x̄_i), PH_t = m_t − min_{i≤t} m_i
    * (min including the initial 0), alarm when PH_t > λ. The running
    * mean makes the fold genuinely ORDERED, so it rides the D23/D44
    * buffered-fold machinery. FULLY exact integers: the per-step
    * deviation is dev_e6 = c·10⁶ − (S_t·10⁶) // t (integer floor
    * division — S·10⁶ stays in a Long to ~9·10¹² cents/key), so m,
    * minM and PH are exact BIGINTs both engines replay bit-for-bit
    * with prefix windows. λ = 5000 cents · 10⁶ (a 50-dollar sustained
    * mean lift). State per key: 6 longs + the below-watermark buffer.
    */
  def statefulPageHinkley(events: Dataset[AnomEvent], delayS: Long,
      lambdaE6: Long = 5000L * 1000000): Dataset[PhOut] = {
    import events.sparkSession.implicits._
    bufferedFold(events, delayS, (e: AnomEvent) => e.event_type,
        PhState(0L, 0L, 0L, 0L, 0L, 0L)) { (cur, r) =>
      val n = cur.n + 1
      val s = cur.s + r.cents
      val dev = r.cents * 1000000L - (s * 1000000L) / n
      val m = cur.m + dev
      val minM = math.min(cur.minM, m)
      val ph = m - minM
      PhState(n, s, m, minM, math.max(cur.maxPh, ph),
        cur.nAlarms + (if (ph > lambdaE6) 1L else 0L))
    } { (key, s) => PhOut(key, s.n, s.maxPh, s.nAlarms) }
  }

  case class SprtEvent(shard: Long, event_id: Long, tsec: Long, x: Int)
      extends Stamped
  case class SprtState(n: Long, n1: Long, decision: Int, nAt: Long,
      n1At: Long)
  case class SprtOut(shard: Long, n_seen: Long, n1: Long, decision: String,
      n_at_decision: Long, n1_at_decision: Long)

  /** D48: STREAMING SPRT — Wald's sequential probability ratio test
    * (Wald 1945) run LIVE per traffic shard: each shard walks its
    * events in (tsec, event_id) order testing H0: P(purchase) = 0.10
    * vs H1: P = 0.15 at α = β = 0.05, freezing its decision at the
    * first ±ln(0.95/0.05) boundary crossing (the group-sequential
    * "stop the experiment early" monitor; the batch twin is B157
    * sprt_decision). The prefix LLR makes the fold ORDERED, so it
    * rides the D23/D44 buffered-fold machinery. State per shard is
    * five longs + the below-watermark buffer; the LLR uses the SAME
    * pinned double log-literals as B157 (exact-integer counts ×
    * pinned constants — no live libm), so the oracle replays the
    * crossing bit-for-bit with prefix windows.
    */
  def statefulSprt(events: Dataset[SprtEvent],
      delayS: Long): Dataset[SprtOut] = {
    import events.sparkSession.implicits._
    val C1 = 0.4054651081081642      // ln(0.15/0.10), pinned
    val C0 = -0.05715841383994864    // ln(0.85/0.90), pinned
    val Bound = 2.9444389791664403   // ln(0.95/0.05), pinned

    bufferedFold(events, delayS, (e: SprtEvent) => e.shard,
        SprtState(0L, 0L, 0, 0L, 0L)) { (cur, r) =>
      val n = cur.n + 1
      val n1 = cur.n1 + r.x
      if (cur.decision != 0) cur.copy(n = n, n1 = n1)
      else {
        val llr = n1 * C1 + (n - n1) * C0
        if (llr >= Bound) SprtState(n, n1, 1, n, n1)
        else if (llr <= -Bound) SprtState(n, n1, 2, n, n1)
        else SprtState(n, n1, 0, cur.nAt, cur.n1At)
      }
    } { (key, s) =>
      val decision = s.decision match {
        case 1 => "accept_h1"; case 2 => "accept_h0"; case _ => "continue"
      }
      SprtOut(key, s.n, s.n1, decision, s.nAt, s.n1At)
    }
  }
}
