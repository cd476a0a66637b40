package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming CEP: per-session event-pattern sequences on
  * `transformWithState` — the B106 MATCH_RECOGNIZE-lite operator
  * (each session's ordered event-type initials form one small string)
  * running INSIDE streaming state instead of over a batch groupBy.
  *
  * Session semantics are contract-identical to `TwsSessionProcessor`
  * (same gap rule, same event-time timers, same close conditions), so
  * the emission set follows the D2 rule: every non-final session
  * emitted, the final session iff (last + gap) falls under the final
  * watermark. On top, the state carries the session's (tsec,
  * event_id, initial) triples in a `ListState`; at close the list is
  * sorted and concatenated — the same bounded per-session collect+sort
  * as batch B106 (B45 small-group rule), here bounded by the SESSION,
  * with the same loud ceiling as `Guards.boundedSeries` instead of an
  * OOM when a power key blows the contract.
  *
  * The emitted row is (user, session_seq, seq): the session_seq
  * counter lives in `ValueState` and increments once per close —
  * per-key sessions close in time order (an in-batch close precedes
  * the successor session; a timer close is cross-checked against the
  * stored deadline), so it equals the batch oracle's cumulative
  * session index. Pattern signals (conversion paths, error-before-
  * purchase, view streaks) are computed AFTER the stream on the
  * emitted seq strings with the same Spark SQL regexp expressions as
  * B106 — one regexp contract for both the batch and streaming forms.
  */
case class PatEv(user_id: Long, event_id: Long, tsec: Long, ini: String)
    extends SessionPipeline.Stamped
case class PatOut(user_id: Long, session_seq: Long, seq: String)

class TwsPatternProcessor(gapS: Long, maxLen: Int)
    extends StatefulProcessor[Long, PatEv, PatOut] {

  @transient private var evs: ListState[PatEv] = _
  // (startS, lastS, nEv) of the open session; session_seq counter of
  // the NEXT close; the registered timer deadline (ms)
  @transient private var bounds: ValueState[(Long, Long, Long)] = _
  @transient private var seqNo: ValueState[Long] = _
  @transient private var deadline: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    evs = getHandle.getListState[PatEv]("evs",
      Encoders.product[PatEv], TTLConfig.NONE)
    bounds = getHandle.getValueState[(Long, Long, Long)]("bounds",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)
    seqNo = getHandle.getValueState[Long]("seqNo",
      Encoders.scalaLong, TTLConfig.NONE)
    deadline = getHandle.getValueState[Long]("deadline",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  /** Timer-path close: the open session's events live in state (the
    * batch path below persists the full open session at batch end),
    * so the timer close reads/clears the list once — bounded by the
    * number of closes, never by input rows.
    */
  private def close(uid: Long): PatOut = {
    val sorted = evs.get().toSeq.sortBy(e => (e.tsec, e.event_id))
    val n = (if (seqNo.exists()) seqNo.get() else 0L) + 1L
    seqNo.update(n)
    persistOpen(openIsFromState = false, hadOpenAtStart = true, Nil)
    PatOut(uid, n, sorted.iterator.map(_.ini).mkString)
  }

  /** The one place the state list follows the open session — the
    * invariant "evs holds exactly the events of the open session, and
    * is empty when `bounds` is" lives here alone. `pending` are the
    * open session's events from this batch (empty when no session
    * stays open); `openIsFromState` says its earlier events are already
    * in the list; `hadOpenAtStart` says the list may be non-empty. The
    * list is touched at most once by clear and once by appendList (the
    * round-14 touch pattern below).
    */
  private def persistOpen(openIsFromState: Boolean, hadOpenAtStart: Boolean,
      pending: collection.Seq[PatEv]): Unit = {
    if (hadOpenAtStart && !openIsFromState) evs.clear()
    if (pending.nonEmpty) evs.appendList(pending.toArray)
  }

  private def guardLen(nEv: Long): Unit =
    if (nEv > maxLen)
      throw new IllegalStateException(
        s"streaming_pattern_match: per-session collected series length " +
          s"$nEv exceeds ${graft.functions.Guards.MaxSeriesKey}=$maxLen — " +
          "a power key this size would OOM the state store; raise the " +
          "limit, pre-aggregate, or shard the key upstream")

  private def dropTimerIfAny(): Unit =
    if (deadline.exists()) { getHandle.deleteTimer(deadline.get()); deadline.clear() }

  // Round-14 optimization (guide §1.2/§5 — the TwsProfile batch-local
  // fold, r13): the r13 spelling touched RocksDB once PER INPUT ROW
  // (ListState.appendValue) plus a seqNo get+update and an evs
  // get+clear PER CLOSE. New events now fold into a plain in-memory
  // buffer; per (key, batch) the state store sees at most one
  // evs.get() (lazy — only if the session open at batch start closes
  // in-batch), one evs.clear(), one evs.appendList(), one seqNo read
  // and one seqNo write. The emission set is IDENTICAL: each close
  // sorts the same event multiset (prior-state events ++ this batch's
  // in-memory events) by the same (tsec, event_id) key, and seqNo
  // increments once per close in the same order — StreamingPatternSpec
  // pins batch-split equality.
  override def handleInputRows(key: Long, rows: Iterator[PatEv],
      timerValues: TimerValues): Iterator[PatOut] = {
    val sorted = rows.toSeq.sortBy(e => (e.tsec, e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[PatOut]
    var st = if (bounds.exists()) Some(bounds.get()) else None
    val hadOpenAtStart = st.isDefined
    // events of the CURRENTLY open session that arrived this batch
    val pending = scala.collection.mutable.ArrayBuffer.empty[PatEv]
    // does the open session predate this batch (its earlier events
    // are in the state list)?
    var openIsFromState = hadOpenAtStart
    var stateEvs: Seq[PatEv] = null
    var seqNoVal = 0L
    var anyClose = false
    def closeNow(): PatOut = {
      val all =
        if (openIsFromState) {
          if (stateEvs == null) stateEvs = evs.get().toSeq
          stateEvs ++ pending
        } else pending
      if (!anyClose) { seqNoVal = if (seqNo.exists()) seqNo.get() else 0L; anyClose = true }
      seqNoVal += 1L
      val s = all.sortBy(e => (e.tsec, e.event_id))
      PatOut(key, seqNoVal, s.iterator.map(_.ini).mkString)
    }
    sorted.foreach { e =>
      st match {
        case None =>
          guardLen(1L)
          pending += e
          st = Some((e.tsec, e.tsec, 1L))
        case Some((_, lastS, _)) if e.tsec - lastS > gapS =>
          out += closeNow()
          pending.clear()
          openIsFromState = false
          guardLen(1L)
          pending += e
          st = Some((e.tsec, e.tsec, 1L))
        case Some((startS, lastS, nEv)) =>
          guardLen(nEv + 1L)
          pending += e
          st = Some((startS, math.max(lastS, e.tsec), nEv + 1L))
      }
    }
    st match {
      case Some((_, lastS, _)) =>
        val deadlineMs = (lastS + gapS) * 1000L
        dropTimerIfAny()
        if (deadlineMs <= timerValues.getCurrentWatermarkInMs()) {
          out += closeNow()
          bounds.clear()
          persistOpen(openIsFromState = false, hadOpenAtStart, Nil)
        } else {
          bounds.update(st.get)
          deadline.update(deadlineMs)
          getHandle.registerTimer(deadlineMs)
          // persist the open session so the timer path (and the next
          // batch) sees its full event list in state
          persistOpen(openIsFromState, hadOpenAtStart, pending)
        }
      case None =>
    }
    if (anyClose) seqNo.update(seqNoVal)
    out.iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[PatOut] =
    if (bounds.exists() && deadline.exists() &&
        deadline.get() == expiredTimerInfo.getExpiryTimeInMs()) {
      bounds.clear(); deadline.clear()
      Iterator.single(close(key))
    } else Iterator.empty
}

object TwsPattern {
  /** events(user_id, event_id, tsec, ini) → closed-session pattern
    * strings under the D2 emission rule, append semantics.
    */
  def patterns(events: Dataset[PatEv], gapS: Long, delayS: Long,
      maxLen: Int): Dataset[PatOut] = {
    implicit val outEnc = Encoders.product[PatOut]
    SessionPipeline.keyedByEventTime(events, delayS)(_.user_id)(
        Encoders.product[PatEv], Encoders.scalaLong)
      .transformWithState(new TwsPatternProcessor(gapS, maxLen),
        TimeMode.EventTime(), OutputMode.Append(), outEnc)
  }
}
