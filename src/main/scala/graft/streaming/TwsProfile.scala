package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Arbitrary stateful processing on Spark 4's `transformWithState`
  * API (the successor of `flatMapGroupsWithState`, with TYPED
  * COMPOSITE state primitives — ValueState/ListState/MapState —
  * instead of one opaque state object).
  *
  * Per-user live profile: a `MapState[event_type, (n, cents)]` holds
  * one entry per event type the user has produced; each micro-batch
  * updates only the touched entries and emits their refreshed rows
  * (update semantics). Both maintained aggregates are
  * ORDER-INDEPENDENT (count, sum), so the final row per
  * (user, event_type) is batch-split-invariant and equals the batch
  * image — the oracle states it directly. State size: one map entry
  * per (user, type) — bounded by the type vocabulary, not the
  * stream.
  */
case class TwsEvent(user_id: Long, event_type: String, cents: Long)
case class TwsProfileRow(user_id: Long, event_type: String,
    n_events: Long, cents_sum: Long)

class TwsProfileProcessor
    extends StatefulProcessor[Long, TwsEvent, TwsProfileRow] {

  @transient private var counts: MapState[String, (Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, (Long, Long)]("counts",
      Encoders.STRING,
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
      timerValues: TimerValues): Iterator[TwsProfileRow] = {
    // Round-13 optimization (guide §1.2 "per-task work"): fold the
    // batch's deltas in a plain in-memory map FIRST, then touch the
    // state store ONCE per touched type — the r12 spelling did a
    // containsKey + getValue + updateValue round-trip PER INPUT ROW
    // (3 state ops/row; at the ×100 replay that is ~180M RocksDB
    // calls). Count and sum are associative, and the emitted row per
    // touched type is the post-batch refreshed value in both
    // spellings, so the update-mode emission set is IDENTICAL under
    // any batch split.
    val delta = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    rows.foreach { e =>
      val (dn, dc) = delta.getOrElse(e.event_type, (0L, 0L))
      delta.update(e.event_type, (dn + 1L, dc + e.cents))
    }
    delta.iterator.map { case (t, (dn, dc)) =>
      val (n, c) =
        if (counts.containsKey(t)) counts.getValue(t) else (0L, 0L)
      counts.updateValue(t, (n + dn, c + dc))
      TwsProfileRow(key, t, n + dn, c + dc)
    }
  }
}

object TwsProfile {
  /** events(user_id, event_type, cents) → live per-(user, type)
    * profile rows, update semantics.
    */
  def profile(events: Dataset[TwsEvent]): Dataset[TwsProfileRow] = {
    implicit val outEnc = Encoders.product[TwsProfileRow]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TwsProfileProcessor,
        TimeMode.None(), OutputMode.Update(), outEnc)
  }
}

/** Bounded per-key top-k in `ListState` — the third TWS state
  * primitive (ValueState: D28 deadlines; MapState: D27 profiles).
  * State holds AT MOST k cents values per user (sorted desc,
  * truncated on every update — the bounded-state contract that keeps
  * per-key state O(k) no matter how long the stream runs), plus a
  * strictly-growing seen-count that makes the LAST update-mode
  * emission per key identifiable under any batch split. The top-k
  * MULTISET is order-independent, so the final emission equals the
  * batch image.
  */
case class TwsTopkRow(user_id: Long, n_seen: Long,
    top1: Long, top2: Long, top3: Long)

class TwsTopkProcessor(k: Int)
    extends StatefulProcessor[Long, TwsEvent, TwsTopkRow] {
  // The output row shape (TwsTopkRow.top1..top3) is fixed at 3
  // ranks; a k ≠ 3 would silently truncate or misreport the state
  // the processor maintains, so refuse it at construction.
  require(k == 3, s"TwsTopkProcessor emits exactly 3 ranks (TwsTopkRow); got k=$k")

  @transient private var top: ListState[Long] = _
  @transient private var seen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    top = getHandle.getListState[Long]("top", Encoders.scalaLong, TTLConfig.NONE)
    seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
      timerValues: TimerValues): Iterator[TwsTopkRow] = {
    val batch = rows.toSeq
    val merged = (top.get().toSeq ++ batch.map(_.cents))
      .sorted(Ordering[Long].reverse).take(k)
    top.put(merged.toArray)
    val n = (if (seen.exists()) seen.get() else 0L) + batch.size
    seen.update(n)
    val p = merged.padTo(3, -1L)
    Iterator.single(TwsTopkRow(key, n, p(0), p(1), p(2)))
  }
}

object TwsTopk {
  /** Per-user bounded top-3 purchase cents, update semantics. */
  def topk(events: Dataset[TwsEvent]): Dataset[TwsTopkRow] = {
    implicit val outEnc = Encoders.product[TwsTopkRow]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TwsTopkProcessor(3),
        TimeMode.None(), OutputMode.Update(), outEnc)
  }
}

/** The D2 event-time inactivity sessionizer re-expressed on
  * `transformWithState` with EXPLICIT EVENT-TIME TIMERS — semantics
  * identical to `SessionPipeline.statefulSessionizeEventTime` (same
  * emission rule, same oracle): a session closes when a later event
  * of its key crosses the gap in-batch, or when its registered timer
  * (last_event + gap) fires under the advancing watermark. Unlike the
  * flatMapGroupsWithState timeout (one implicit timer per key), TWS
  * timers are explicit: each batch deletes the superseded deadline
  * and registers the new one, and `handleExpiredTimer` cross-checks
  * the stored deadline so a stale timer can never close a live
  * session.
  */
class TwsSessionProcessor(gapS: Long) extends StatefulProcessor[
    Long, SessionPipeline.SessEvent, SessionPipeline.SessOut] {
  import SessionPipeline.{SessEvent, SessOut, SessState}

  @transient private var sess: ValueState[SessState] = _
  @transient private var deadline: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    sess = getHandle.getValueState[SessState]("sess",
      Encoders.product[SessState], TTLConfig.NONE)
    deadline = getHandle.getValueState[Long]("deadline",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  private def dropTimerIfAny(): Unit =
    if (deadline.exists()) { getHandle.deleteTimer(deadline.get()); deadline.clear() }

  override def handleInputRows(key: Long, rows: Iterator[SessEvent],
      timerValues: TimerValues): Iterator[SessOut] = {
    val sorted = rows.toSeq.sortBy(r => (r.tsec, r.event_id))
    val (closed, open) = SessionPipeline.sessionStep(
      if (sess.exists()) Some(sess.get()) else None, sorted, gapS)
    val expired = open.flatMap { s =>
      val deadlineMs = (s.lastS + gapS) * 1000L
      dropTimerIfAny()
      if (deadlineMs <= timerValues.getCurrentWatermarkInMs()) {
        sess.clear()
        Some(s)
      } else {
        sess.update(s)
        deadline.update(deadlineMs)
        getHandle.registerTimer(deadlineMs)
        None
      }
    }
    (closed ++ expired).iterator.map(_.close(key, gapS))
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessOut] =
    if (sess.exists() && deadline.exists() &&
        deadline.get() == expiredTimerInfo.getExpiryTimeInMs()) {
      val s = sess.get()
      sess.clear(); deadline.clear()
      Iterator.single(s.close(key, gapS))
    } else Iterator.empty
}

object TwsSessions {
  /** Same contract as statefulSessionizeEventTime, on the TWS API. */
  def sessionize(events: Dataset[SessionPipeline.SessEvent],
      gapS: Long, delayS: Long): Dataset[SessionPipeline.SessOut] = {
    implicit val outEnc = Encoders.product[SessionPipeline.SessOut]
    SessionPipeline.keyedByEventTime(events, delayS)(_.user_id)(
        Encoders.product[SessionPipeline.SessEvent], Encoders.scalaLong)
      .transformWithState(new TwsSessionProcessor(gapS),
        TimeMode.EventTime(), OutputMode.Append(), outEnc)
  }
}
