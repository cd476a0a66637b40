package graft.queries

import graft.GraftSession
import graft.GraftSession.table
import graft.functions.{TextFunctions => TF}
import graft.streaming.SessionPipeline
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming under the correctness gate (SURVEY.md §2 D1,
  * D6): the events parquet replayed as a file stream, session-window
  * aggregated with a watermark, collected through a memory sink —
  * then compared to a batch oracle that states the append-mode
  * emission rule explicitly (a session is emitted iff
  * last_event + gap < final_watermark = max_event − delay).
  *
  * All event times are floored to whole seconds BEFORE streaming so
  * the emission boundary is integer-exact in both engines.
  */
object StreamingQueries {

  private val GapS = 1800L
  private val DelayS = 3600L

  val all: Seq[Q] = Seq(

    Q("streaming_sessionize",
      s"""WITH e AS (
         |  SELECT user_id, event_id, value,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |lagged AS (
         |  SELECT user_id, event_id, tsec, value,
         |    CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > $GapS
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
         |sess AS (
         |  SELECT user_id, tsec, value,
         |    CAST(sum(is_new) OVER (
         |      PARTITION BY user_id ORDER BY tsec, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         |  FROM lagged),
         |agg AS (
         |  SELECT user_id,
         |    min(tsec) AS start_s,
         |    max(tsec) + $GapS AS end_s,
         |    count(*) AS n_events,
         |    round(sum(value), 2) AS sum_value
         |  FROM sess GROUP BY user_id, session_seq),
         |wm AS (SELECT max(tsec) - $DelayS AS final_watermark FROM e)
         |SELECT user_id, start_s, end_s, n_events, sum_value
         |FROM agg, wm WHERE end_s < final_watermark""".stripMargin) { (s, dir) =>
      val events = eventStream(s, dir).select(
        col("user_id"), col("value"), expr("ts div 1000000000").as("tsec"))
      runToMemory(s, SessionPipeline.sessionWindowAgg(events,
        s"$GapS seconds", s"$DelayS seconds"), "graft_stream_sessions")
    },

    Q("streaming_stateful_sessionize", statefulOracle) { (s, dir) =>
      val sessions = SessionPipeline
        .statefulSessionizeEventTime(sessEvents(s, dir), GapS, DelayS)
        .toDF()
        .withColumn("sum_value", round(col("sum_value"), 2))
      runToMemory(s, sessions, "graft_stream_stateful")
    },

    // D4 under the gate: real streaming dropDuplicatesWithinWatermark
    // replay. Only the dedup KEYS are emitted (which physical row
    // survives is batch-order-dependent; the key set is not), so the
    // batch oracle is exactly DISTINCT keys. Note the semantics gap
    // this gate deliberately tolerates: dropDuplicatesWithinWatermark
    // only drops repeats arriving within the watermark delay, so a
    // multi-batch replay with a key recurring past the delay re-emits
    // it — the trailing .distinct() collapses such re-emissions so the
    // gate checks the KEY SET (the documented contract), not row
    // multiplicity, and stays green under any batch split.
    Q("streaming_dedup",
      "SELECT DISTINCT user_id, event_type FROM events") { (s, dir) =>
      val ev = eventStream(s, dir).select(
        col("user_id"), col("event_type"),
        timestamp_seconds(expr("ts div 1000000000")).as("ts"))
      val deduped = SessionPipeline
        .streamingDedup(ev, Seq("user_id", "event_type"), "ts", s"$DelayS seconds")
        .select(col("user_id"), col("event_type"))
      runToMemory(s, deduped, "graft_stream_dedup").distinct()
    },

    // D7 under the gate: stream-stream inner join (click → purchase
    // within GapS, per user) with watermarks + the event-time range
    // constraint that bounds join state. Inner-join emission over a
    // full AvailableNow replay is exactly the batch join — the oracle
    // states it directly.
    Q("streaming_join",
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events)
         |SELECT a.user_id,
         |  a.event_id AS click_id, b.event_id AS purchase_id,
         |  b.tsec - a.tsec AS lag_s
         |FROM e a JOIN e b ON a.user_id = b.user_id
         |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
         |  AND b.tsec >= a.tsec AND b.tsec <= a.tsec + $GapS""".stripMargin) { (s, dir) =>
      val joined = clickPurchaseJoin(s, dir, "inner")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_timestamp(col("r_ts")) - unix_timestamp(col("l_ts"))).as("lag_s"))
      runToMemory(s, joined, "graft_stream_join")
    },

    // D14: stream-stream LEFT OUTER time-bounded join — the outer
    // form is a genuinely different state machine from D7's inner:
    // an unmatched left row sits in the state store until the global
    // watermark proves no match can arrive (wm > l_ts + gap), then
    // emits null-extended. Oracle = all matched pairs (emitted
    // unconditionally, the D7 rule) UNION unmatched clicks whose
    // match window closed below the final watermark
    // (min of both sides' max event time, minus the delay — Spark's
    // global watermark is the min over watermarked inputs).
    Q("streaming_left_join",
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |c AS (SELECT user_id, event_id, tsec FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id, tsec FROM e WHERE event_type = 'purchase'),
         |wm AS (
         |  SELECT least((SELECT max(tsec) FROM c),
         |               (SELECT max(tsec) FROM p)) - $DelayS AS fw),
         |matched AS (
         |  SELECT c.user_id, c.event_id AS click_id,
         |    p.event_id AS purchase_id, p.tsec - c.tsec AS lag_s
         |  FROM c JOIN p ON c.user_id = p.user_id
         |    AND p.tsec >= c.tsec AND p.tsec <= c.tsec + $GapS),
         |unmatched AS (
         |  SELECT c.user_id, c.event_id AS click_id,
         |    CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS BIGINT) AS lag_s
         |  FROM c, wm
         |  WHERE c.tsec + $GapS < wm.fw AND NOT EXISTS (
         |    SELECT 1 FROM p WHERE p.user_id = c.user_id
         |      AND p.tsec >= c.tsec AND p.tsec <= c.tsec + $GapS))
         |SELECT * FROM matched UNION ALL SELECT * FROM unmatched""".stripMargin) { (s, dir) =>
      val joined = clickPurchaseJoin(s, dir, "leftOuter")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_timestamp(col("r_ts")) - unix_timestamp(col("l_ts"))).as("lag_s"))
      runToMemory(s, joined, "graft_stream_ljoin")
    },

    // D16: stream-stream LEFT SEMI time-bounded join — the
    // "did-it-convert" filter shape: emit each click AT MOST ONCE as
    // soon as any in-window purchase exists, never materializing the
    // match multiplicity (D7's inner join emits one row per matching
    // pair; the semi join's state machine marks the left row matched
    // and emits it once). Over an AvailableNow replay the emitted set
    // is exactly the batch EXISTS — the oracle states it directly.
    // Only left-side columns are emitted (the semi contract).
    Q("streaming_semi_join",
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |c AS (SELECT user_id, event_id, tsec FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, tsec FROM e WHERE event_type = 'purchase')
         |SELECT c.user_id, c.event_id AS click_id, c.tsec AS click_s
         |FROM c WHERE EXISTS (
         |  SELECT 1 FROM p WHERE p.user_id = c.user_id
         |    AND p.tsec >= c.tsec AND p.tsec <= c.tsec + $GapS)""".stripMargin) { (s, dir) =>
      val joined = clickPurchaseJoin(s, dir, "leftSemi")
        .select(col("user_id"), col("click_id"),
          unix_timestamp(col("l_ts")).as("click_s"))
      runToMemory(s, joined, "graft_stream_sjoin")
    },

    // D17: stream-stream FULL OUTER time-bounded join — completes the
    // join-family state machines (D7 inner, D14 left outer, D16 semi):
    // BOTH sides hold unmatched rows in state until the global
    // watermark proves no partner can arrive, then emit null-extended.
    // Emission rules under AvailableNow replay: matched pairs
    // unconditional; an unmatched click emits iff its match window
    // closed (click_s + gap < fw — its latest possible purchase);
    // an unmatched purchase emits iff fw passed its own time
    // (purchase_s < fw — its latest possible click is at purchase_s).
    // fw = min of both sides' max event time, minus the delay.
    Q("streaming_full_join",
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |c AS (SELECT user_id, event_id, tsec FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id, tsec FROM e WHERE event_type = 'purchase'),
         |wm AS (
         |  SELECT least((SELECT max(tsec) FROM c),
         |               (SELECT max(tsec) FROM p)) - $DelayS AS fw),
         |matched AS (
         |  SELECT c.user_id, c.event_id AS click_id,
         |    p.event_id AS purchase_id, p.tsec - c.tsec AS lag_s
         |  FROM c JOIN p ON c.user_id = p.user_id
         |    AND p.tsec >= c.tsec AND p.tsec <= c.tsec + $GapS),
         |unmatched_c AS (
         |  SELECT c.user_id, c.event_id AS click_id,
         |    CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS BIGINT) AS lag_s
         |  FROM c, wm
         |  WHERE c.tsec + $GapS < wm.fw AND NOT EXISTS (
         |    SELECT 1 FROM p WHERE p.user_id = c.user_id
         |      AND p.tsec >= c.tsec AND p.tsec <= c.tsec + $GapS)),
         |unmatched_p AS (
         |  SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id,
         |    p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS lag_s
         |  FROM p, wm
         |  WHERE p.tsec < wm.fw AND NOT EXISTS (
         |    SELECT 1 FROM c WHERE c.user_id = p.user_id
         |      AND p.tsec >= c.tsec AND p.tsec <= c.tsec + $GapS))
         |SELECT * FROM matched
         |UNION ALL SELECT * FROM unmatched_c
         |UNION ALL SELECT * FROM unmatched_p""".stripMargin) { (s, dir) =>
      val joined = clickPurchaseJoin(s, dir, "fullOuter")
        .select(coalesce(col("user_id"), col("r_user")).as("user_id"),
          col("click_id"), col("purchase_id"),
          (unix_timestamp(col("r_ts")) - unix_timestamp(col("l_ts"))).as("lag_s"))
      runToMemory(s, joined, "graft_stream_fjoin")
    },

    // D9 under the gate: stream-static enrichment — the most common
    // production streaming join (events against a slowly-changing
    // dimension). The static side is broadcast: stateless, no
    // watermark, no state store; every micro-batch joins against the
    // same snapshot, so the full AvailableNow replay equals the batch
    // join, which the oracle states directly.
    Q("streaming_enrich",
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin) { (s, dir) =>
      val dim = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val enriched = eventStream(s, dir)
        .select(col("event_id"), col("user_id"))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("segment"))
      runToMemory(s, enriched, "graft_stream_enrich")
    },

    // D24 under the gate: STREAMING SCD2 ENRICHMENT — events joined to
    // the dimension version that was ACTIVE AT EVENT TIME (not the
    // latest snapshot, which streaming_enrich covers). The SCD2 dim is
    // built batch-side from orders (per customer: one version per
    // order second, valid until the next version opens), broadcast,
    // and the stream joins it stateless on (user = custkey) with the
    // validity-interval predicate as the refining filter — each event
    // matches AT MOST one version because the intervals tile time, so
    // no watermark, no state store, and the AvailableNow replay equals
    // the batch image, which the oracle states directly. Events before
    // a customer's first version (or with no customer orders) keep a
    // NULL version — the left-outer contract.
    Q("streaming_scd2_enrich",
      """WITH v0 AS (
        |  SELECT o_custkey AS ck,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS vfrom,
        |    max(o_orderkey) AS version_key
        |  FROM orders GROUP BY 1, 2),
        |v AS (
        |  SELECT ck, version_key, vfrom,
        |    coalesce(lead(vfrom) OVER (PARTITION BY ck ORDER BY vfrom) - 1,
        |      9223372036854775807) AS vto
        |  FROM v0),
        |e AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events)
        |SELECT e.event_id, e.user_id, e.tsec, v.version_key
        |FROM e LEFT JOIN v
        |  ON e.user_id = v.ck AND e.tsec >= v.vfrom AND e.tsec <= v.vto""".stripMargin) { (s, dir) =>
      val vw = org.apache.spark.sql.expressions.Window.partitionBy(col("ck")).orderBy(col("vfrom"))
      val dim = table(s, dir, "orders")
        .select(col("o_custkey").as("ck"),
          expr("unix_seconds(CAST(o_orderdate AS TIMESTAMP))").as("vfrom"),
          col("o_orderkey"))
        .groupBy(col("ck"), col("vfrom"))
        .agg(max(col("o_orderkey")).as("version_key"))
        // per-customer windows over order-version rows: small groups
        // by construction (a customer's order count), the B45 regime
        .withColumn("vto",
          coalesce(lead(col("vfrom"), 1).over(vw) - 1, lit(Long.MaxValue)))
      val enriched = eventStream(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000000000").as("tsec"))
        .join(broadcast(dim),
          col("user_id") === col("ck") &&
            col("tsec") >= col("vfrom") && col("tsec") <= col("vto"),
          "left")
        .select(col("event_id"), col("user_id"), col("tsec"), col("version_key"))
      runToMemory(s, enriched, "graft_stream_scd2")
    },

    // D25 under the gate: STREAMING OHLC BARS — the B95 time bars
    // computed live: per (user, 1-hour tumbling window)
    // open/high/low/close as min_by/max_by over the packed
    // (tsec·2³⁰ + event_id) key in WINDOWED AGGREGATION STATE — a
    // constant-size summary per open window (the sketch-in-state
    // family, with an argmin/argmax pair instead of a sketch), append
    // emission on window close. Emission filter (window end strictly
    // below the final watermark) applied identically on both engines —
    // the streaming_windowed_heavy_hitters convention.
    Q("streaming_ohlc",
      s"""WITH e AS (
         |  SELECT user_id, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |    CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |v AS (SELECT user_id, tsec - tsec % 3600 AS hour_start_s, cents,
         |        tsec * 1073741824 + event_id AS k
         |      FROM e),
         |g AS (
         |  SELECT user_id, hour_start_s,
         |    CAST(arg_min(cents, k) AS BIGINT) AS open_cents,
         |    CAST(max(cents) AS BIGINT) AS high_cents,
         |    CAST(min(cents) AS BIGINT) AS low_cents,
         |    CAST(arg_max(cents, k) AS BIGINT) AS close_cents,
         |    CAST(count(*) AS BIGINT) AS n_trades,
         |    CAST(sum(cents) AS BIGINT) AS vol_cents
         |  FROM v GROUP BY 1, 2)
         |SELECT g.* FROM g, wm WHERE hour_start_s + 3600 < fw""".stripMargin) { (s, dir) =>
      val ev = eventStream(s, dir).select(
        col("user_id"),
        timestamp_seconds(expr("ts div 1000000000")).as("tss"),
        floor(col("value") * 100).cast("long").as("cents"),
        (expr("ts div 1000000000") * 1073741824L + col("event_id")).as("k"))
        .withWatermark("tss", s"$DelayS seconds")
      val agg = ev.groupBy(col("user_id"), window(col("tss"), "1 hour"))
        .agg(min_by(col("cents"), col("k")).as("open_cents"),
          max(col("cents")).as("high_cents"),
          min(col("cents")).as("low_cents"),
          max_by(col("cents"), col("k")).as("close_cents"),
          count(lit(1)).as("n_trades"),
          sum(col("cents")).as("vol_cents"))
        .select(col("user_id"),
          unix_timestamp(col("window.start")).as("hour_start_s"),
          col("open_cents"), col("high_cents"), col("low_cents"),
          col("close_cents"), col("n_trades"), col("vol_cents"))
      val streamed = runToMemory(s, agg, "graft_stream_ohlc")
      val fw = table(s, dir, "events")
        .agg((max(expr("ts div 1000000000")) - DelayS).as("fw"))
      streamed.join(broadcast(fw))
        .filter(col("hour_start_s") + 3600 < col("fw"))
        .drop("fw")
    },

    // D26 under the gate: CHAINED STATEFUL OPERATORS — a stream-stream
    // time-bounded join FEEDING a downstream windowed aggregation in
    // the same query (multiple stateful operators per stream, the
    // Spark 4 capability): last-touch attribution computed LIVE — the
    // D7 join matches each purchase's candidate clicks, the agg picks
    // the latest (max_by over a packed (click_s, click_id) key) per
    // purchase inside its hour window. Emission: the join delays its
    // output watermark by its own state retention, so a window closes
    // one retention interval later than a plain windowed agg — the
    // post-filter states the SAME bound on both engines, making the
    // gate independent of where Spark's chained watermark lands
    // between the tight and delayed bounds.
    Q("streaming_attribution",
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |c AS (SELECT user_id, event_id, tsec FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id, tsec FROM e WHERE event_type = 'purchase'),
         |wm AS (
         |  SELECT least((SELECT max(tsec) FROM c),
         |               (SELECT max(tsec) FROM p)) - $DelayS AS fw),
         |j AS (
         |  SELECT p.event_id AS purchase_id, p.user_id,
         |    p.tsec - p.tsec % 3600 AS hour_start_s,
         |    c.event_id AS click_id, c.tsec AS cs
         |  FROM p JOIN c ON p.user_id = c.user_id
         |    AND c.tsec >= p.tsec - $GapS AND c.tsec <= p.tsec),
         |a AS (
         |  SELECT purchase_id, user_id, hour_start_s,
         |    CAST(max(cs * 1073741824 + click_id) % 1073741824 AS BIGINT)
         |      AS last_click_id,
         |    CAST(count(*) AS BIGINT) AS n_clicks
         |  FROM j GROUP BY 1, 2, 3)
         |SELECT purchase_id, user_id, hour_start_s, last_click_id, n_clicks
         |FROM a, wm WHERE hour_start_s + 3600 + $GapS + $DelayS < fw""".stripMargin) { (s, dir) =>
      val ev = eventStream(s, dir)
      val clicks = watermarkedSide(ev, "click", "user_id", "click_id", "c_ts",
        (expr("ts div 1000000000") * 1073741824L + col("event_id")).as("ck"))
      val purchases = watermarkedSide(ev, "purchase", "p_user", "purchase_id", "p_ts")
      val joined = purchases.join(clicks,
        col("p_user") === col("user_id") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $GapS seconds") &&
          col("c_ts") <= col("p_ts"))
      val agg = joined
        .groupBy(col("purchase_id"), col("user_id"), window(col("p_ts"), "1 hour"))
        .agg(max(col("ck")).as("mk"), count(lit(1)).as("n_clicks"))
        .select(col("purchase_id"), col("user_id"),
          unix_timestamp(col("window.start")).as("hour_start_s"),
          (col("mk") % 1073741824L).as("last_click_id"), col("n_clicks"))
      val streamed = runToMemory(s, agg, "graft_stream_attrib")
      val fwDf = table(s, dir, "events").select(
          col("event_type"), expr("ts div 1000000000").as("tsec"))
      val fw = fwDf.filter(col("event_type") === "click").agg(max("tsec").as("mc"))
        .crossJoin(fwDf.filter(col("event_type") === "purchase").agg(max("tsec").as("mp")))
        .select((least(col("mc"), col("mp")) - DelayS).as("fw"))
      streamed.join(broadcast(fw))
        .filter(col("hour_start_s") + 3600 + GapS + DelayS < col("fw"))
        .drop("fw")
    },

    // D27 under the gate: the Spark 4 `transformWithState` API (the
    // flatMapGroupsWithState successor) with a TYPED MapState — one
    // (n, cents) entry per event type per user, updated incrementally
    // and emitted with update semantics (graft.streaming.TwsProfile).
    // Both maintained aggregates are order-independent, so the LAST
    // emission per (user, type) — selected by the strictly-growing
    // count — equals the batch image under ANY batch split; the
    // oracle states the batch image directly.
    Q("streaming_tws_profile",
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |    CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events)
         |SELECT user_id, event_type,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(cents) AS BIGINT) AS cents_sum
         |FROM e GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = eventStream(s, dir)
        .select(col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
        .as[graft.streaming.TwsEvent]
      val live = graft.streaming.TwsProfile.profile(ev).toDF()
      // keep the final emission per key: n_events strictly grows, so
      // max_by over it is the last update regardless of batch count
      latestPerKey(runToMemory(s, live, "graft_stream_tws", mode = "update",
        rocksDB = true), Seq("user_id", "event_type"), "n_events", "cents_sum")
    },

    // D29 under the gate: TWS ListState — bounded per-key top-k
    // (at most 3 cents values per user survive in state regardless of
    // stream length; the bounded-state contract in the third and last
    // TWS primitive). Final update-mode emission per key selected by
    // the strictly-growing seen-count; the top-k MULTISET is
    // order-independent, so it equals the batch image stated by the
    // oracle (missing ranks padded with -1 in both engines).
    Q("streaming_tws_topk",
      """WITH p AS (
        |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (
        |  SELECT user_id, cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY cents DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM p)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_seen,
        |  CAST(coalesce(max(CASE WHEN rn = 1 THEN cents END), -1) AS BIGINT) AS top1,
        |  CAST(coalesce(max(CASE WHEN rn = 2 THEN cents END), -1) AS BIGINT) AS top2,
        |  CAST(coalesce(max(CASE WHEN rn = 3 THEN cents END), -1) AS BIGINT) AS top3
        |FROM r GROUP BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = eventStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
        .as[graft.streaming.TwsEvent]
      val live = graft.streaming.TwsTopk.topk(ev).toDF()
      latestPerKey(runToMemory(s, live, "graft_stream_twstopk", mode = "update",
        rocksDB = true), Seq("user_id"), "n_seen", "top1", "top2", "top3")
    },

    // D28 under the gate: the D2 sessionizer on transformWithState
    // with EXPLICIT EVENT-TIME TIMERS (register/delete/expire — the
    // TWS timer machinery, vs. flatMapGroupsWithState's one implicit
    // timeout). Semantics are contract-identical to D2, so it runs
    // under D2's ORACLE VERBATIM: every non-final session emitted,
    // final sessions iff (last + gap) < final watermark.
    Q("streaming_tws_sessions", statefulOracle) { (s, dir) =>
      val sessions = graft.streaming.TwsSessions
        .sessionize(sessEvents(s, dir), GapS, DelayS)
        .toDF()
        .withColumn("sum_value", round(col("sum_value"), 2))
      runToMemory(s, sessions, "graft_stream_tws_sess", rocksDB = true)
    },

    // D50: STREAMING STATE-TTL / EVICTION AUDIT (r10 verdict #7 —
    // the 100 TB streaming CAPACITY proof to go with the family's
    // correctness proofs): the D28 timer-evicting sessionizer runs
    // over the full event stream, then the query reads the ACTUAL
    // RocksDB state store back through Spark's statestore data
    // source and counts (a) "sess" ValueState rows, (b) "deadline"
    // ValueState rows, (c) registered timers. Under key churn the
    // contract is that all three track LIVE keys — users whose open
    // session's deadline (last + gap) is still above the final
    // watermark — not all-time keys: an idle key's timer fires, the
    // processor clears both states, and nothing lingers. The oracle
    // computes the live-key count from batch semantics and pins all
    // three counts to it — a state-store row for an evicted key, a
    // leaked timer, or an eviction that failed to clear either state
    // turns this row red. Scale shape: one stateful pass over the
    // stream + three metadata-scale state-store scans; state is
    // O(live keys) by THIS query's own theorem.
    Q("streaming_state_ttl_audit",
      s"""WITH e AS (
         |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS w FROM e),
         |lastev AS (SELECT user_id, max(tsec) AS last_s FROM e GROUP BY 1),
         |live AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_live
         |  FROM lastev, wm WHERE last_s + $GapS > w)
         |SELECT n_live AS n_sess_rows, n_live AS n_deadline_rows,
         |  n_live AS n_timers, n_live AS n_live_expected
         |FROM live""".stripMargin) { (s, dir) =>
      runStream(s, "graft_stream_ttl", rocksDB = true, scratch = Some("graft_ttl_ckpt")) { _ =>
        graft.streaming.TwsSessions.sessionize(sessEvents(s, dir), GapS, DelayS).toDF()
      } { (_, ckpt) =>
        def stateCount(opts: (String, String)*): Long =
          opts.foldLeft(s.read.format("statestore").option("path", ckpt)) {
            case (r, (k, v)) => r.option(k, v)
          }.load().count()
        val sessRows = stateCount("stateVarName" -> "sess")
        val dlRows = stateCount("stateVarName" -> "deadline")
        val timers = stateCount("readRegisteredTimers" -> "true")
        // expected live keys from batch semantics, computed on the
        // SAME table the stream replayed
        val e = table(s, dir, "events")
          .select(col("user_id"), expr("ts div 1000000000").as("tsec"))
        val wm = e.agg((max(col("tsec")) - DelayS).as("w"))
        e.groupBy(col("user_id")).agg(max(col("tsec")).as("last_s"))
          .crossJoin(broadcast(wm))
          .filter(col("last_s") + GapS > col("w"))
          .agg(count(lit(1)).as("n_live_expected"))
          .select(lit(sessRows).as("n_sess_rows"),
            lit(dlRows).as("n_deadline_rows"),
            lit(timers).as("n_timers"),
            col("n_live_expected"))
      }
    },

    // D30 ORACLE-GATED (round 12; r11 verdict #4 — promoted from the
    // WatermarkDropSpec pin the way D50 was): LATE-DATA ACCOUNTING
    // under the watermark, the first observability row a production
    // streaming team asks for (silent late-row loss is an incident;
    // a drop METRIC with reconciled totals is a healthy pipeline).
    // Protocol: the event table is replayed in THREE deterministic
    // arrival waves (user_id % 3 — each wave spans the full time
    // range, so wave 2 arrives heavily behind the watermark wave 0
    // advanced), one single-file wave per micro-batch
    // (maxFilesPerTrigger = 1, file order pinned by explicit
    // mtimes), through a watermarked (delay = 3600 s) streaming
    // dedup on the already-unique (event_id, ets) key — the dedup
    // operator is the ROW-GRAIN ledger: its late filter applies to
    // raw input rows (a windowed agg filters post-partial-agg rows,
    // whose count depends on file splits — measured and rejected),
    // and every kept row is emitted in append mode. The oracle
    // replays Spark's dual-watermark protocol closed-form, measured
    // against the engine (LateAcctDebugSpec-era probe, kept in git
    // history): the late filter of batch k uses the PREVIOUS batch's
    // watermark W(k−1), W(j) = max(tsec over batches ≤ j−1) − delay
    // (watermarks advance over ALL input rows, dropped included) —
    // so wave 1 is never dropped (W(0) = epoch) and wave-2 rows drop
    // iff tsec < max(wave0) − 3600 (strict: the engine predicate is
    // ts ≤ wm − 1 ms on whole-second stamps). Gated numbers: the
    // engine-REPORTED numRowsDroppedByWatermark summed over batches,
    // the emitted-row count and cents mass, and the
    // dropped + emitted = input reconciliation (the operator's whole
    // point — pinned 1). Scale shape: one row-grain stateful pass;
    // the wave split is one hash filter per wave.
    Q("streaming_late_accounting",
      s"""WITH e AS (
         |  SELECT user_id % 3 AS wave,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |    CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |m AS (SELECT max(CASE WHEN wave = 0 THEN tsec END) - $DelayS
         |        AS w1 FROM e),
         |cls AS (
         |  SELECT e.*, CASE WHEN wave = 2 AND tsec < m.w1
         |              THEN 1 ELSE 0 END AS dropped
         |  FROM e, m)
         |SELECT
         |  CAST(count(*) AS BIGINT) AS n_input,
         |  CAST(sum(dropped) AS BIGINT) AS n_dropped,
         |  CAST(count(*) - sum(dropped) AS BIGINT) AS n_on_time,
         |  CAST(sum(CASE WHEN dropped = 0 THEN cents ELSE 0 END)
         |    AS BIGINT) AS on_time_cents,
         |  CAST(1 AS INT) AS reconciled
         |FROM cls""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events").select(col("user_id"),
          col("event_id"), expr("ts div 1000000000").as("tsec"),
          floor(col("value") * 100).cast("long").as("cents"))
      runStream(s, "graft_stream_late", scratch = Some("graft_late_acct")) { tmp =>
        val src = s"$tmp/in"
        val srcPath = new org.apache.hadoop.fs.Path(src)
        val fs = srcPath.getFileSystem(s.sessionState.newHadoopConf())
        // one FILE per wave with pinned ascending mtimes: the file
        // source processes files in mtime order, so batch k = wave k.
        // Round-13 optimization (guide §1.2): ONE pass writes all three
        // waves — `repartition(3, wave)` puts each wave's rows in one
        // task and `partitionBy("wave")` routes them to one file per
        // wave directory, replacing the r12 3× (filter + coalesce(1))
        // chains, each of which ran the whole scan AND the whole write
        // single-threaded, serially. Batch composition is unchanged:
        // the same three single-file waves in the same mtime order.
        ev.withColumn("wave", pmod(col("user_id"), lit(3)))
          .repartition(3, col("wave"))
          .write.partitionBy("wave").mode("overwrite").parquet(src)
        var seen = Set.empty[String]
        (0 until 3).foreach { k =>
          val waveDir = new org.apache.hadoop.fs.Path(src, s"wave=$k")
          fs.listStatus(waveDir).map(_.getPath)
            .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
            .foreach { p => fs.setTimes(p, (k + 1) * 60000L, -1L)
              seen += s"wave=$k/" + p.getName }
        }
        require(seen.size == 3, s"expected 3 wave files, found ${seen.size}")
        val sch = s.read.parquet(src).schema
        s.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .withColumn("ets", timestamp_seconds(col("tsec")))
          .withWatermark("ets", s"$DelayS seconds")
          .dropDuplicates("event_id", "ets")
      } { (q, _) =>
        // the ENGINE-REPORTED late-row ledger, summed over batches
        val dropped = q.recentProgress
          .map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
          .sum
        val nInput = ev.count()
        s.table(q.name)
          .agg(count(lit(1)).as("n_on_time"),
            coalesce(sum(col("cents")), lit(0L)).as("on_time_cents"))
          .select(lit(nInput).as("n_input"), lit(dropped).as("n_dropped"),
            col("n_on_time"), col("on_time_cents"),
            when(lit(dropped) + col("n_on_time") === lit(nInput), 1)
              .otherwise(0).cast("int").as("reconciled"))
      }
    },

    // D52: STREAM-STREAM JOIN STATE AUDIT (round 12) — D50's
    // capacity proof for the OTHER big state family: the symmetric
    // hash join's buffers are the #1 streaming OOM source in
    // production, and the operational contract is that each side
    // retains EXACTLY the rows the time-bound condition can still
    // match. The D7 inner join (clicks × purchases, r_ts ∈ [l_ts,
    // l_ts + gap], both sides watermarked) runs checkpointed over
    // the full stream, then the query reads the ACTUAL join state
    // back through Spark's statestore source (joinSide left/right)
    // and pins both counts to the closed-form retention rule —
    // measured against the engine on boundary plants (left keeps
    // l_ts ≥ W − gap: a click can still match a future purchase
    // until the watermark passes its window end; right keeps r_ts ≥
    // W: a purchase matches only older clicks, so it dies at the
    // watermark itself; W = min(max_l, max_r) − delay, the global
    // watermark over both inputs). A leaked row on either side — an
    // eviction bug, a wrong state watermark derivation — turns this
    // row red. Scale shape: one stream-stream join pass + two
    // metadata-scale state-store scans; state is O(watermark
    // horizon), which is THIS query's own theorem.
    Q("streaming_join_state_audit",
      s"""WITH e AS (
         |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |wm AS (SELECT least(
         |    (SELECT max(tsec) FROM e WHERE event_type = 'click'),
         |    (SELECT max(tsec) FROM e WHERE event_type = 'purchase'))
         |    - $DelayS AS w FROM e LIMIT 1),
         |lx AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e, wm
         |       WHERE event_type = 'click' AND tsec >= w - $GapS),
         |rx AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e, wm
         |       WHERE event_type = 'purchase' AND tsec >= w)
         |SELECT lx.n AS n_left_state, rx.n AS n_right_state,
         |  lx.n AS n_left_expected, rx.n AS n_right_expected
         |FROM lx, rx""".stripMargin) { (s, dir) =>
      runStream(s, "graft_stream_jsa", scratch = Some("graft_jsa_ckpt")) { _ =>
        clickPurchaseJoin(s, dir, "inner")
      } { (_, ckpt) =>
        def sideCount(side: String): Long =
          s.read.format("statestore").option("path", ckpt)
            .option("joinSide", side).load().count()
        val leftN = sideCount("left")
        val rightN = sideCount("right")
        // expected retention from batch semantics on the SAME table
        val e = table(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"), expr("ts div 1000000000").as("tsec"))
          .localCheckpoint() // the watermark and both counts read it
        val wm = e.groupBy(col("event_type")).agg(max(col("tsec")).as("mx"))
          .agg((min(col("mx")) - DelayS).as("w"))
        e.crossJoin(broadcast(wm))
          .agg(sum((col("event_type") === "click" &&
              col("tsec") >= col("w") - GapS).cast("long"))
              .as("n_left_expected"),
            sum((col("event_type") === "purchase" &&
              col("tsec") >= col("w")).cast("long"))
              .as("n_right_expected"))
          .select(lit(leftN).as("n_left_state"),
            lit(rightN).as("n_right_state"),
            col("n_left_expected"), col("n_right_expected"))
      }
    },

    // D34: STREAMING CEP — the B106 MATCH_RECOGNIZE-lite operator
    // (per-session event-initial strings + regex signal extraction)
    // running inside transformWithState state instead of a batch
    // groupBy: a ListState holds the open session's (tsec, event_id,
    // initial) triples (bounded by the SESSION — the B45 rule, with
    // the Guards ceiling failing loudly instead of OOMing the state
    // store on a power key); session close follows the D2 contract
    // verbatim (in-batch gap cross or event-time timer), so emission
    // = every non-final session + final sessions under the final
    // watermark. Pattern signals are computed on the emitted seq
    // strings with the SAME Spark regexp expressions as batch B106 —
    // one regexp contract for both forms; the oracle is B106's
    // session-pattern CTEs + the D2 emission filter.
    Q("streaming_pattern_match",
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |lagged AS (
         |  SELECT user_id, event_id, tsec, event_type,
         |    CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > $GapS
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
         |sess AS (
         |  SELECT user_id, event_id, tsec, event_type,
         |    CAST(sum(is_new) OVER (
         |      PARTITION BY user_id ORDER BY tsec, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_seq
         |  FROM lagged),
         |sq AS (
         |  SELECT user_id, session_seq,
         |    string_agg(upper(substring(event_type, 1, 1)), ''
         |      ORDER BY tsec, event_id) AS seq,
         |    max(tsec) + $GapS AS end_s,
         |    row_number() OVER (PARTITION BY user_id ORDER BY session_seq DESC)
         |      AS rn_desc
         |  FROM sess GROUP BY 1, 2),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e)
         |SELECT user_id, session_seq,
         |  CAST(len(seq) AS BIGINT) AS seq_len,
         |  CAST(len(regexp_extract_all(seq, 'CV*P')) AS BIGINT) AS n_conv_paths,
         |  CAST(CASE WHEN regexp_matches(seq, 'E.*P') THEN 1 ELSE 0 END AS INT)
         |    AS err_before_purchase,
         |  CAST(coalesce(list_max(list_transform(
         |    regexp_extract_all(seq, 'V+'), x -> len(x))), 0) AS BIGINT)
         |    AS max_view_run
         |FROM sq, wm WHERE rn_desc > 1 OR end_s < fw""".stripMargin) { (s, dir) =>
      import s.implicits._
      val maxLen = s.conf.get(graft.functions.Guards.MaxSeriesKey,
        graft.functions.Guards.MaxSeriesDefault.toString).toInt
      val events = eventStream(s, dir).select(
        col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("tsec"),
        upper(substring(col("event_type"), 1, 1)).as("ini"))
        .as[graft.streaming.PatEv]
      val live = graft.streaming.TwsPattern
        .patterns(events, GapS, DelayS, maxLen).toDF()
      runToMemory(s, live, "graft_stream_pattern", rocksDB = true)
        .select(col("user_id"), col("session_seq"),
          length(col("seq")).cast("long").as("seq_len"),
          expr("regexp_count(seq, 'CV*P')").cast("long").as("n_conv_paths"),
          when(col("seq").rlike("E.*P"), 1).otherwise(0).cast("int")
            .as("err_before_purchase"),
          coalesce(
            array_max(expr("transform(regexp_extract_all(seq, 'V+', 0), x -> length(x))")),
            lit(0)).cast("long").as("max_view_run"))
    },

    // D11 under the gate: STREAMING corpus curation — the C-family
    // composed under Structured Streaming (continuous ingest is how a
    // web-scale corpus actually arrives): documents replayed as a file
    // stream → quality filter (the corpus_filter thresholds, stateless
    // codegen exprs) → exact dedup on the 64-bit content fingerprint
    // (dropDuplicates keyed state — 8 B/doc of state, the C1 shuffle
    // economics carried into the state store). Emission = first sight
    // per fingerprint; which clone arrives first is batch-order-
    // dependent, so (the streaming_dedup convention) only KEY-
    // DETERMINED columns are emitted — fp and the token count derived
    // from the (identical) text — and the oracle is the DISTINCT
    // batch image with the HUGEINT mod-2^64 fingerprint replay.
    Q("streaming_corpus_curate",
      s"""WITH f AS (
        |  SELECT
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(string_split_regex(text, ''),
        |          c -> CAST(ord(c) AS HUGEINT))),
        |      (h, b) -> (h * 31 + b) % 18446744073709551616) AS h,
        |    ${TF.tokenCountSql("text")}
        |      AS n_tokens
        |  FROM documents
        |  WHERE n_chars >= 200
        |    AND ${TF.tokenCountSql("text")} >= 30)
        |SELECT DISTINCT
        |  CAST(CASE WHEN h >= 9223372036854775808
        |       THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS fp,
        |  CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM f""".stripMargin) { (s, dir) =>
      import graft.functions.Fingerprint64
      val docs = tableStream(s, dir, "documents")
      // token count computed ONCE per row (filter-after-project —
      // codegen does not CSE across Filter/Project boundaries)
      val curated = docs
        .select(col("n_chars"),
          Fingerprint64.fingerprint64(col("text")).as("fp"),
          TF.tokenCount(col("text")).cast("bigint").as("n_tokens"))
        .filter(col("n_chars") >= 200 && col("n_tokens") >= 30)
        .select(col("fp"), col("n_tokens"))
        .dropDuplicates("fp")
      // NB: no trailing distinct — unwatermarked dropDuplicates state
      // persists for the whole AvailableNow replay, so each fp is
      // emitted exactly once (unlike streaming_dedup's
      // dropDuplicatesWithinWatermark, which can re-emit past the
      // delay).
      runToMemory(s, curated, "graft_stream_curate")
    },

    // D10 under the gate: a CUSTOM mergeable sketch
    // (TypedImperativeAggregate HLL) running inside watermarked
    // streaming state — tumbling 1-hour windows of distinct users.
    // The estimate itself is engine-specific, so the oracle pins the
    // window set, the per-window row counts, the exact distincts,
    // and a |est-exact| <= max(2, 8%*exact) bound on the sketch --
    // the small-cardinality form of hll_distinct_parts' gate. At
    // sf0.01 windows hold ~10-20 distincts (small-range correction
    // wobbles +/-1-2); at sf0.1 they hold ~110-160, where the worst
    // measured window sits at 5.2% (a 2.3-sigma tail of the m=2048
    // estimator) -- 8% ~ 3.5 sigma keeps every data scale green
    // while a state bug (double-merge ~ +100%, lost partial ~ -50%)
    // still lands far outside. Emission:
    // append-mode windows strictly below the final watermark; BOTH
    // sides apply the same closed-form filter, so boundary windows
    // cannot disagree.
    Q("streaming_hll_distinct",
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |w AS (
         |  SELECT tsec - tsec % 3600 AS hour_start_s, user_id FROM e),
         |agg AS (
         |  SELECT hour_start_s,
         |    count(*) AS n_events,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
         |  FROM w GROUP BY hour_start_s)
         |SELECT hour_start_s, n_events, exact_users, CAST(1 AS INT) AS hll_ok
         |FROM agg, wm WHERE hour_start_s + 3600 < fw""".stripMargin) { (s, dir) =>
      val ev = eventStream(s, dir).select(
        col("user_id"),
        timestamp_seconds(expr("ts div 1000000000")).as("tss"))
        .withWatermark("tss", s"$DelayS seconds")
      val agg = ev.groupBy(window(col("tss"), "1 hour"))
        .agg(
          count(lit(1)).as("n_events"),
          graft.functions.HllSketch.hllDistinct(col("user_id")).as("est"))
        .select(unix_timestamp(col("window.start")).as("hour_start_s"),
          col("n_events"), col("est"))
      val streamed = runToMemory(s, agg, "graft_stream_hll")
      // batch companion: exact distincts per window + the shared
      // emission filter (strict <, applied on BOTH engines)
      val batch = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"))
      val fw = batch.agg((max(col("tsec")) - DelayS).as("fw"))
      val exact = batch
        .select((col("tsec") - col("tsec") % 3600).as("hour_start_s"), col("user_id"))
        .distinct()
        .groupBy(col("hour_start_s"))
        .agg(count(lit(1)).as("exact_users"))
      streamed.join(exact, "hour_start_s")
        .join(broadcast(fw))
        .filter(col("hour_start_s") + 3600 < col("fw"))
        .select(col("hour_start_s"), col("n_events"), col("exact_users"),
          when(abs(col("est") - col("exact_users")).cast("double")
            <= greatest(lit(2.0), col("exact_users") * 0.08), 1)
            .otherwise(0).cast("int").as("hll_ok"))
    },

    // D18: the t-digest quantile sketch in WINDOWED streaming state —
    // completing the sketches-in-state family (D10 HLL distincts, D13
    // Misra-Gries top keys): per-hour median event value from a
    // mergeable bounded-size sketch, emitted append-mode on window
    // close. The gate is the tdigest_order_value convention — exact
    // per-window percentile companions (DistributedQuantile ≡
    // quantile_cont bit-identically) + a 2%-relative bound on the
    // sketch — under the shared strict-< emission filter.
    Q("streaming_window_quantiles",
      s"""WITH e AS (
         |  SELECT value, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |w AS (SELECT tsec - tsec % 3600 AS hour_start_s, value FROM e),
         |agg AS (
         |  SELECT hour_start_s,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    round(quantile_cont(value, 0.5), 4) AS p50_exact
         |  FROM w GROUP BY hour_start_s)
         |SELECT hour_start_s, n_events, p50_exact, CAST(1 AS INT) AS td_ok
         |FROM agg, wm WHERE hour_start_s + 3600 < fw""".stripMargin) { (s, dir) =>
      val ev = eventStream(s, dir).select(
        col("value"),
        timestamp_seconds(expr("ts div 1000000000")).as("tss"))
        .withWatermark("tss", s"$DelayS seconds")
      val agg = ev.groupBy(window(col("tss"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
          graft.functions.TDigest.tdigestQuantile(col("value"), 0.5).as("td50"))
        .select(unix_timestamp(col("window.start")).as("hour_start_s"),
          col("n_events"), col("td50"))
      val streamed = runToMemory(s, agg, "graft_stream_tdq")
      val batch = table(s, dir, "events")
        .select(col("value"), expr("ts div 1000000000").as("tsec"))
      val fw = batch.agg((max(col("tsec")) - DelayS).as("fw"))
      val exact = graft.operators.DistributedQuantile
        .quantiles(
          batch.select((col("tsec") - col("tsec") % 3600).as("h"), col("value")),
          "h", "value", Seq("p50" -> 0.5))
        .select(col("g").cast("bigint").as("hour_start_s"),
          round(col("p50"), 4).as("p50_exact"), col("p50"))
      streamed.join(broadcast(exact), "hour_start_s")
        .join(broadcast(fw))
        .filter(col("hour_start_s") + 3600 < col("fw"))
        .select(col("hour_start_s"), col("n_events"), col("p50_exact"),
          when(abs(col("td50") - col("p50")) <=
            greatest(lit(0.01), col("p50") * 0.02), 1)
            .otherwise(0).cast("int").as("td_ok"))
    },

    // D12: the Misra-Gries frequent-items sketch as STREAMING state —
    // a global complete-mode aggregation whose per-partition partials
    // and per-batch state merges all go through the sketch's merge
    // operation. m=64 ≥ the corpus's distinct-token count, so the
    // final snapshot is the exact count table under any merge
    // schedule (the mg_heavy_hitters bit-exact regime), making the
    // streamed top-20 hash-comparable against the batch oracle.
    // State is the ONE bounded sketch (≤2m entries), not a per-token
    // key space — the 100 TB-stream shape for "what's trending".
    Q("streaming_heavy_hitters",
      s"""WITH t AS (
        |  SELECT ${TF.wsTokensSql("text")} AS toks
        |  FROM documents),
        |c AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
        |r AS (
        |  SELECT tok, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT) AS rnk
        |  FROM c)
        |SELECT tok, cnt, rnk FROM r WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      val toks = tableStream(s, dir, "documents").select(
        explode(TF.wsTokens(col("text"))).as("tok"))
      val agg = toks.groupBy()
        .agg(graft.functions.MisraGries.sketch(col("tok"), 64).as("sk"))
      val streamed = runToMemory(s, agg, "graft_stream_mg", mode = "complete")
      streamed.select(posexplode(col("sk")).as(Seq("idx", "e")))
        .select(col("e.item").as("tok"), col("e.cnt").as("cnt"),
          (col("idx") + 1).cast("int").as("rnk"))
        .filter(col("rnk") <= 20)
    },

    // D31: DETERMINISTIC UNIFORM SAMPLE in streaming state — the
    // bottom-k sketch (B34) as a live per-key reservoir: keep the 5
    // event ids with the lowest signed-fmix64 rank per event_type,
    // maintained incrementally across micro-batches. Bottom-k of a
    // set is a lattice (merge = keep the k smallest of a union), so
    // per-partition partials and per-batch state merges commute — the
    // complete-mode snapshot after the AvailableNow replay is exactly
    // the batch aggregate under ANY merge schedule, which is what
    // lets a DuckDB fmix64 replay pin the SAMPLE ITSELF, not just its
    // size. State per key is O(k) — a bounded reservoir, never the
    // stream; the 100 TB-stream shape for "give me a reproducible
    // sample of what's flowing" (debugging taps, canary diffing,
    // training-data spot checks).
    Q("streaming_bottomk_sample",
      s"""WITH sg AS (
         |  ${SamplingQueries.fmix64SignedSql(
              Seq("event_type", "event_id"), "event_id", "events")}),
         |r AS (
         |  SELECT event_type, event_id,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hs) AS rnk
         |  FROM sg)
         |SELECT event_type, CAST(rnk AS INT) AS rnk, event_id
         |FROM r WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val ev = tableStream(s, dir, "events")
        .select(col("event_type"), col("event_id"))
      val agg = ev.groupBy(col("event_type"))
        .agg(graft.functions.BottomKSample.bottomkSample(col("event_id"), 5)
          .as("sample"))
      val streamed = runToMemory(s, agg, "graft_stream_bk", mode = "complete")
      streamed.select(col("event_type"),
          posexplode(col("sample")).as(Seq("pos", "event_id")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rnk"),
          col("event_id"))
    },

    // D32: LIVE per-source MinHash signatures — C2's near-dup
    // signature machinery as streaming state: each source's
    // 16-permutation MinHash signature over the token sets of every
    // document that has flowed so far, maintained incrementally
    // across micro-batches. Each signature slot is min(fmix64(tok ⊕
    // salt_i)) — and MIN over a set is a lattice (commutative,
    // associative, idempotent), so per-partition partials and
    // per-batch state merges commute: the complete-mode snapshot
    // after the AvailableNow replay equals the batch aggregate under
    // ANY batch split, which is what lets DuckDB replay the exact
    // signature closed-form. State per source is O(16) longs — never
    // the stream; at 100 TB this is THE way to keep live
    // cross-source containment/similarity estimates (signature
    // agreement ≈ Jaccard) without ever re-scanning history: the
    // streaming companion of C75's batch cross-source matrix.
    Q("streaming_minhash_sources", {
      s"""WITH t AS (
         |  SELECT source, unnest(regexp_split_to_array(trim(lower(text)),
         |    '\\s+')) AS tok
         |  FROM documents),
         |tf AS (SELECT source, tok FROM t WHERE len(tok) > 0),
         |th AS (
         |  SELECT source,
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |      list_transform(
         |        list_filter(string_split_regex(tok, ''), c -> c <> ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, b) -> (h * 31 + b) % 18446744073709551616) AS h
         |  FROM tf),
         |x AS (
         |  SELECT source, CAST(i AS INT) AS sig_idx,
         |    xor(h, CAST(i * 2654435761 AS HUGEINT)) AS xh
         |  FROM th, (SELECT unnest(range(16)) AS i)),
         |sg AS (
         |  ${SamplingQueries.fmix64SignedSql(
              Seq("source", "sig_idx"), "xh", "x")})
         |SELECT source, sig_idx, CAST(min(hs) AS BIGINT) AS min_hash
         |FROM sg GROUP BY source, sig_idx""".stripMargin
    }) { (s, dir) =>
      val toks = tableStream(s, dir, "documents")
        .select(col("source"),
          explode(TF.wsTokens(col("text")))
            .as("tok"))
        .filter(length(col("tok")) > 0)
      val salted = toks
        .select(col("source"),
          explode(sequence(lit(0), lit(15))).as("sig_idx"),
          graft.functions.Fingerprint64.fingerprint64(col("tok")).as("th"))
        .select(col("source"), col("sig_idx"),
          graft.functions.Fingerprint64.fmix64(
            col("th").bitwiseXOR(col("sig_idx").cast("long")
              * lit(2654435761L))).as("hv"))
      val agg = salted.groupBy(col("source"), col("sig_idx"))
        .agg(min(col("hv")).as("min_hash"))
      runToMemory(s, agg, "graft_stream_mh", mode = "complete")
        .select(col("source"), col("sig_idx"), col("min_hash"))
    },

    // D33: streaming histogram quantiles — the production "p99 of a
    // live metric" shape (DDSketch/HDR-histogram family, done with
    // FIXED equi-width bins so the state is deterministic): per
    // event_type, a 64-bin count histogram over integer-cent values
    // maintained incrementally — counts are ADDITIVE, so per-batch
    // state merges commute and the complete-mode snapshot equals the
    // batch histogram under any batch split. p50/p90/p99 come from
    // the snapshot closed-form: rank = ⌈q·n/100⌉ as (q·n + 99) DIV
    // 100, first bin with cum ≥ rank, INTEGER within-bin linear
    // interpolation ((rank − cum_before)·width DIV bin_count) — every
    // step exact integers, so the estimate itself oracle-checks, not
    // just the counts. State per key is O(64) longs — never the
    // stream; the quantile math runs on the types×64 snapshot table.
    Q("streaming_histogram_quantiles",
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |b AS (SELECT event_type, least(c // 1000, 63) AS bin,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM v GROUP BY event_type, bin),
        |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM b GROUP BY event_type),
        |cum AS (SELECT event_type, bin, cnt,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        |       FROM b),
        |rk AS (SELECT t.event_type, q.q, t.n,
        |        (q.q * t.n + 99) // 100 AS rnk
        |       FROM tot t, (SELECT unnest([50, 90, 99]) AS q) q),
        |pick AS (
        |  SELECT c.event_type, r.q, r.n, r.rnk, min(c.bin) AS bin
        |  FROM cum c JOIN rk r USING (event_type)
        |  WHERE c.cum >= r.rnk GROUP BY c.event_type, r.q, r.n, r.rnk)
        |SELECT p.event_type, CAST(p.q AS INT) AS q, p.n,
        |  CAST(p.bin * 1000
        |    + ((p.rnk - (c.cum - c.cnt)) * 1000) // c.cnt AS BIGINT) AS est_cents
        |FROM pick p JOIN cum c ON p.event_type = c.event_type AND p.bin = c.bin""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = tableStream(s, dir, "events").select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      val binned = ev
        .groupBy(col("event_type"),
          least(expr("c div 1000"), lit(63L)).as("bin"))
        .agg(count(lit(1)).as("cnt"))
      val snap = runToMemory(s, binned, "graft_stream_hist", mode = "complete")
        .localCheckpoint()
      // closed-form quantiles on the model-sized snapshot (≤ 64 bins
      // per type — the windows below sort bounded per-type groups)
      val tot = snap.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
      val cum = snap.withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("bin"))))
      val rk = tot.crossJoin(
          s.range(1).select(explode(array(lit(50L), lit(90L), lit(99L))).as("q")))
        .withColumn("rnk", expr("(q * n + 99) DIV 100"))
      val pick = cum.join(rk, Seq("event_type"))
        .filter(col("cum") >= col("rnk"))
        .groupBy(col("event_type"), col("q"), col("n"), col("rnk"))
        .agg(min(col("bin")).as("bin"))
      pick.join(cum.select(col("event_type"), col("bin"), col("cnt"), col("cum")),
          Seq("event_type", "bin"))
        .select(col("event_type"), col("q").cast("int").as("q"), col("n"),
          (col("bin") * 1000 + expr(
            "((rnk - (cum - cnt)) * 1000) DIV cnt")).as("est_cents"))
    },

    // D35: STREAMING DRIFT DETECTION — Population Stability Index of
    // the LIVE value distribution against a static reference (the
    // production model/feature-drift monitor: a trained model's
    // reference histogram is fixed, the serving stream's histogram is
    // live state, PSI says when to retrain): events before the epoch
    // midpoint form the broadcast reference histogram (batch), events
    // after it stream through the D33 additive bin state; PSI per
    // event_type = Σ_b (p_b − q_b)·ln(p_b/q_b) over the full 64-bin
    // domain with add-one smoothing (no empty-bin infinities, exact
    // integer counts both sides). Distinct from D9 enrichment (row
    // joins a static row): here the STATE ITSELF is compared to the
    // reference after the stream — live aggregate vs frozen baseline.
    // Determinism: counts are exact; p, q and the ln ratio combine
    // exactly-representable doubles in pinned order; the per-type sum
    // is an ordered fold over the ≤64 bins (the ADC precedent), and
    // psi rounds 4dp (the text_pmi ln convention).
    Q("streaming_drift_psi",
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |sp AS (SELECT (min(tsec) + max(tsec)) // 2 AS split FROM e),
        |types AS (SELECT DISTINCT event_type FROM e),
        |dom AS (SELECT event_type, CAST(b AS BIGINT) AS bin
        |        FROM types, unnest(range(64)) AS u(b)),
        |ref AS (SELECT event_type, least(c // 1000, 63) AS bin,
        |          CAST(count(*) AS BIGINT) AS cr
        |        FROM e, sp WHERE tsec < split GROUP BY 1, 2),
        |liv AS (SELECT event_type, least(c // 1000, 63) AS bin,
        |          CAST(count(*) AS BIGINT) AS cl
        |        FROM e, sp WHERE tsec >= split GROUP BY 1, 2),
        |tot AS (
        |  SELECT d.event_type,
        |    CAST(sum(coalesce(cr, 0)) AS BIGINT) AS n_ref,
        |    CAST(sum(coalesce(cl, 0)) AS BIGINT) AS n_live
        |  FROM dom d
        |  LEFT JOIN ref USING (event_type, bin)
        |  LEFT JOIN liv USING (event_type, bin)
        |  GROUP BY 1),
        |terms AS (
        |  SELECT d.event_type, d.bin,
        |    (CAST(coalesce(cr, 0) + 1 AS DOUBLE) / CAST(n_ref + 64 AS DOUBLE)
        |     - CAST(coalesce(cl, 0) + 1 AS DOUBLE) / CAST(n_live + 64 AS DOUBLE))
        |    * ln((CAST(coalesce(cr, 0) + 1 AS DOUBLE) * CAST(n_live + 64 AS DOUBLE))
        |         / (CAST(coalesce(cl, 0) + 1 AS DOUBLE) * CAST(n_ref + 64 AS DOUBLE)))
        |      AS term
        |  FROM dom d
        |  LEFT JOIN ref USING (event_type, bin)
        |  LEFT JOIN liv USING (event_type, bin)
        |  JOIN tot USING (event_type))
        |SELECT t.event_type, n_ref, n_live,
        |  floor(list_reduce(list_prepend(0.0, list(term ORDER BY bin)),
        |    (a, b) -> a + b) * 10000 + 0.5) / 10000 AS psi
        |FROM terms tr JOIN tot t USING (event_type)
        |GROUP BY t.event_type, n_ref, n_live""".stripMargin) { (s, dir) =>
      val batch = GraftSession.table(s, dir, "events").select(
        col("event_type"), expr("ts div 1000000000").as("tsec"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      val split = batch.agg(
          expr("(min(tsec) + max(tsec)) div 2"))
        .head().getLong(0)
      val bin = least(expr("c div 1000"), lit(63L))
      // frozen reference: the batch histogram below the split
      val ref = batch.filter(col("tsec") < split)
        .groupBy(col("event_type"), bin.as("bin"))
        .agg(count(lit(1)).as("cr"))
      // live histogram: D33's additive bin state over the stream
      val live = tableStream(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000000000").as("tsec"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .filter(col("tsec") >= split)
        .groupBy(col("event_type"), bin.as("bin"))
        .agg(count(lit(1)).as("cl"))
      val snap = runToMemory(s, live, "graft_stream_psi", mode = "complete")
      val dom = batch.select(col("event_type")).distinct()
        .select(col("event_type"),
          explode(sequence(lit(0L), lit(63L))).as("bin"))
      val joined = dom
        .join(ref, Seq("event_type", "bin"), "left")
        .join(snap, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"),
          coalesce(col("cr"), lit(0L)).as("cr"),
          coalesce(col("cl"), lit(0L)).as("cl"))
        .localCheckpoint() // totals + terms both read it
      val tot = joined.groupBy(col("event_type"))
        .agg(sum(col("cr")).as("n_ref"), sum(col("cl")).as("n_live"))
      val p = (col("cr") + 1).cast("double") / (col("n_ref") + 64).cast("double")
      val q = (col("cl") + 1).cast("double") / (col("n_live") + 64).cast("double")
      val ratio = ((col("cr") + 1).cast("double") * (col("n_live") + 64).cast("double")) /
        ((col("cl") + 1).cast("double") * (col("n_ref") + 64).cast("double"))
      joined.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("n_ref"), col("n_live"), col("bin"),
          ((p - q) * log(ratio)).as("term"))
        .groupBy(col("event_type"), col("n_ref"), col("n_live"))
        .agg((floor(aggregate(
            sort_array(collect_list(struct(col("bin"), col("term")))),
            lit(0.0), (a, x) => a + x.getField("term")) * 10000 + lit(0.5))
          .cast("double") / 10000).as("psi"))
    },

    // D36: STREAMING TWO-SAMPLE KOLMOGOROV-SMIRNOV GATE — D35's
    // frozen-reference-vs-live-state shape with the OTHER canonical
    // drift statistic: KS = max_b |CDF_ref(b) − CDF_live(b)| over the
    // shared 64-bin domain. Where PSI needs smoothing and the 4dp-ln
    // convention, KS is EXACT-INTEGER all the way to one final
    // division: the CDF difference at bin b is |crc_b·n_live −
    // clc_b·n_ref| in BIGINTs (cumulative counts ≤ n each side; the
    // cross products stay < 2^53 up to ~9·10^7 events per half, three
    // decades past the ×1000 probe corpus), the maximizing bin is an
    // exact integer argmax (ties → min bin), and ks divides the two
    // exact products once in doubles on the 6dp floor. State story
    // identical to D33/D35: the live side is one additive 64-bin
    // histogram per event_type — bytes of state regardless of stream
    // length. The cumulative window sorts ≤ 64 rows per type.
    Q("streaming_drift_ks",
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |sp AS (SELECT (min(tsec) + max(tsec)) // 2 AS split FROM e),
        |types AS (SELECT DISTINCT event_type FROM e),
        |dom AS (SELECT event_type, CAST(b AS BIGINT) AS bin
        |        FROM types, unnest(range(64)) AS u(b)),
        |ref AS (SELECT event_type, least(c // 1000, 63) AS bin,
        |          CAST(count(*) AS BIGINT) AS cr
        |        FROM e, sp WHERE tsec < split GROUP BY 1, 2),
        |liv AS (SELECT event_type, least(c // 1000, 63) AS bin,
        |          CAST(count(*) AS BIGINT) AS cl
        |        FROM e, sp WHERE tsec >= split GROUP BY 1, 2),
        |j AS (
        |  SELECT d.event_type, d.bin,
        |    coalesce(cr, 0) AS cr, coalesce(cl, 0) AS cl
        |  FROM dom d
        |  LEFT JOIN ref USING (event_type, bin)
        |  LEFT JOIN liv USING (event_type, bin)),
        |tot AS (
        |  SELECT event_type, CAST(sum(cr) AS BIGINT) AS n_ref,
        |    CAST(sum(cl) AS BIGINT) AS n_live
        |  FROM j GROUP BY 1),
        |c AS (
        |  SELECT event_type, bin,
        |    CAST(sum(cr) OVER w AS BIGINT) AS crc,
        |    CAST(sum(cl) OVER w AS BIGINT) AS clc
        |  FROM j WINDOW w AS (PARTITION BY event_type ORDER BY bin)),
        |a AS (
        |  SELECT c.event_type, bin, n_ref, n_live,
        |    abs(crc * n_live - clc * n_ref) AS adiff
        |  FROM c JOIN tot USING (event_type)),
        |m AS (SELECT event_type, n_ref, n_live,
        |        CAST(max(adiff) AS BIGINT) AS maxdiff
        |      FROM a GROUP BY 1, 2, 3)
        |SELECT m.event_type, m.n_ref, m.n_live,
        |  CAST(min(a.bin) AS BIGINT) AS ks_bin,
        |  CASE WHEN m.n_ref = 0 OR m.n_live = 0 THEN NULL
        |       ELSE floor(CAST(maxdiff AS DOUBLE)
        |              / (CAST(m.n_ref AS DOUBLE) * CAST(m.n_live AS DOUBLE))
        |              * 1000000 + 0.5) / 1000000 END AS ks
        |FROM m JOIN a ON a.event_type = m.event_type AND a.adiff = m.maxdiff
        |GROUP BY m.event_type, m.n_ref, m.n_live, maxdiff""".stripMargin) { (s, dir) =>
      val batch = GraftSession.table(s, dir, "events").select(
        col("event_type"), expr("ts div 1000000000").as("tsec"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      val split = batch.agg(expr("(min(tsec) + max(tsec)) div 2"))
        .head().getLong(0)
      val bin = least(expr("c div 1000"), lit(63L))
      val ref = batch.filter(col("tsec") < split)
        .groupBy(col("event_type"), bin.as("bin"))
        .agg(count(lit(1)).as("cr"))
      // live histogram: the D33 additive bin state over the stream
      val live = tableStream(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000000000").as("tsec"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .filter(col("tsec") >= split)
        .groupBy(col("event_type"), bin.as("bin"))
        .agg(count(lit(1)).as("cl"))
      val snap = runToMemory(s, live, "graft_stream_ks", mode = "complete")
      val dom = batch.select(col("event_type")).distinct()
        .select(col("event_type"),
          explode(sequence(lit(0L), lit(63L))).as("bin"))
      val joined = dom
        .join(ref, Seq("event_type", "bin"), "left")
        .join(snap, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"),
          coalesce(col("cr"), lit(0L)).as("cr"),
          coalesce(col("cl"), lit(0L)).as("cl"))
        .localCheckpoint() // totals + cumulative both read it
      val tot = joined.groupBy(col("event_type"))
        .agg(sum(col("cr")).as("n_ref"), sum(col("cl")).as("n_live"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("bin"))
      val cum = joined.select(col("event_type"), col("bin"),
        sum(col("cr")).over(w).as("crc"), sum(col("cl")).over(w).as("clc"))
      val a = cum.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("bin"), col("n_ref"), col("n_live"),
          abs(col("crc") * col("n_live") - col("clc") * col("n_ref"))
            .as("adiff"))
        .localCheckpoint() // max + argmax both read it
      val m = a.groupBy(col("event_type"), col("n_ref"), col("n_live"))
        .agg(max(col("adiff")).as("maxdiff"))
      m.join(a.select(col("event_type"), col("bin"), col("adiff")),
          Seq("event_type"))
        .filter(col("adiff") === col("maxdiff"))
        .groupBy(col("event_type"), col("n_ref"), col("n_live"),
          col("maxdiff"))
        .agg(min(col("bin")).as("ks_bin"))
        .select(col("event_type"), col("n_ref"), col("n_live"), col("ks_bin"),
          when(col("n_ref") === 0 || col("n_live") === 0,
              lit(null).cast("double"))
            .otherwise(floor(col("maxdiff").cast("double")
              / (col("n_ref").cast("double") * col("n_live").cast("double"))
              * 1000000 + lit(0.5)).cast("double") / 1000000).as("ks"))
    },

    // D42: streaming drift via EARTH-MOVER'S distance (round 10) —
    // completing the live drift trio on the SAME frozen-reference-vs-
    // live-state shape: PSI (D35) needs smoothing, KS (D36) is the
    // sup-norm (worst single bin), EMD integrates the WHOLE |CDF
    // difference| so it sees how far apart mass sits (C109's batch
    // metric on D33's additive 64-bin state). Exact-integer to one
    // division: EMD·n_ref·n_live = Σ_b |crc_b·n_live − clc_b·n_ref|
    // in BIGINTs (64 bins × products < 2^63 to ~9·10^8 events/half);
    // live side = one additive histogram per event_type — bytes of
    // state regardless of stream length; the read-out windows sort
    // ≤64 rows/type.
    Q("streaming_drift_emd",
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |sp AS (SELECT (min(tsec) + max(tsec)) // 2 AS split FROM e),
        |types AS (SELECT DISTINCT event_type FROM e),
        |dom AS (SELECT event_type, CAST(b AS BIGINT) AS bin
        |        FROM types, unnest(range(64)) AS u(b)),
        |ref AS (SELECT event_type, least(c // 1000, 63) AS bin,
        |          CAST(count(*) AS BIGINT) AS cr
        |        FROM e, sp WHERE tsec < split GROUP BY 1, 2),
        |liv AS (SELECT event_type, least(c // 1000, 63) AS bin,
        |          CAST(count(*) AS BIGINT) AS cl
        |        FROM e, sp WHERE tsec >= split GROUP BY 1, 2),
        |j AS (
        |  SELECT d.event_type, d.bin,
        |    coalesce(cr, 0) AS cr, coalesce(cl, 0) AS cl
        |  FROM dom d
        |  LEFT JOIN ref USING (event_type, bin)
        |  LEFT JOIN liv USING (event_type, bin)),
        |tot AS (
        |  SELECT event_type, CAST(sum(cr) AS BIGINT) AS n_ref,
        |    CAST(sum(cl) AS BIGINT) AS n_live
        |  FROM j GROUP BY 1),
        |c AS (
        |  SELECT event_type, bin,
        |    CAST(sum(cr) OVER w AS BIGINT) AS crc,
        |    CAST(sum(cl) OVER w AS BIGINT) AS clc
        |  FROM j WINDOW w AS (PARTITION BY event_type ORDER BY bin))
        |SELECT c.event_type, n_ref, n_live,
        |  CAST(sum(abs(crc * n_live - clc * n_ref)) AS BIGINT) AS emd_num,
        |  CASE WHEN n_ref = 0 OR n_live = 0 THEN NULL
        |       ELSE floor(CAST(sum(abs(crc * n_live - clc * n_ref))
        |              AS DOUBLE)
        |              / (CAST(n_ref AS DOUBLE) * CAST(n_live AS DOUBLE))
        |              * 1000000 + 0.5) / 1000000 END AS emd_bins
        |FROM c JOIN tot USING (event_type)
        |GROUP BY c.event_type, n_ref, n_live""".stripMargin) { (s, dir) =>
      val batch = GraftSession.table(s, dir, "events").select(
        col("event_type"), expr("ts div 1000000000").as("tsec"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      val split = batch.agg(expr("(min(tsec) + max(tsec)) div 2"))
        .head().getLong(0)
      val bin = least(expr("c div 1000"), lit(63L))
      val ref = batch.filter(col("tsec") < split)
        .groupBy(col("event_type"), bin.as("bin"))
        .agg(count(lit(1)).as("cr"))
      // live histogram: the D33 additive bin state over the stream
      val live = tableStream(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000000000").as("tsec"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .filter(col("tsec") >= split)
        .groupBy(col("event_type"), bin.as("bin"))
        .agg(count(lit(1)).as("cl"))
      val snap = runToMemory(s, live, "graft_stream_emd", mode = "complete")
      val dom = batch.select(col("event_type")).distinct()
        .select(col("event_type"),
          explode(sequence(lit(0L), lit(63L))).as("bin"))
      val joined = dom
        .join(ref, Seq("event_type", "bin"), "left")
        .join(snap, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"),
          coalesce(col("cr"), lit(0L)).as("cr"),
          coalesce(col("cl"), lit(0L)).as("cl"))
        .localCheckpoint() // totals + cumulative both read it
      val tot = joined.groupBy(col("event_type"))
        .agg(sum(col("cr")).as("n_ref"), sum(col("cl")).as("n_live"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("bin"))
      val cum = joined.select(col("event_type"), col("bin"),
        sum(col("cr")).over(w).as("crc"), sum(col("cl")).over(w).as("clc"))
      cum.join(broadcast(tot), Seq("event_type"))
        .groupBy(col("event_type"), col("n_ref"), col("n_live"))
        .agg(sum(abs(col("crc") * col("n_live") - col("clc") * col("n_ref")))
          .as("emd_num"))
        .select(col("event_type"), col("n_ref"), col("n_live"),
          col("emd_num"),
          when(col("n_ref") === 0 || col("n_live") === 0,
              lit(null).cast("double"))
            .otherwise(floor(col("emd_num").cast("double")
              / (col("n_ref").cast("double") * col("n_live").cast("double"))
              * 1000000 + lit(0.5)).cast("double") / 1000000)
            .as("emd_bins"))
    },

    // D43: DYNAMIC-GAP session windows (round 10) — D1's native
    // `session_window` with a PER-EVENT gap expression (Spark 3.2+
    // surface): a purchase closes its session after 900 s, an error
    // after 1800 s, anything else after 3600 s — the
    // "intent-dependent inactivity" rule real sessionizers ship,
    // inexpressible with one static gap. Semantics under test: each
    // event opens [t, t + gap(event)]; touching-or-overlapping
    // intervals merge — an event landing EXACTLY on a session's end
    // still merges (pinned empirically at sf0.1: one boundary event
    // per ~90k sessions — the oracle's first `>=` cut split it);
    // session end = max event end. The oracle replays that with a
    // running max of interval ends per user (new session iff tsec
    // STRICTLY exceeds the max end of all preceding intervals —
    // sessions are time-contiguous so the running max is exactly the
    // open session's end), and the same append-mode emission rule as
    // D1 (end strictly below the final watermark). State per live
    // session is one merged interval + counters.
    Q("streaming_dynamic_sessions",
      s"""WITH e AS (
         |  SELECT user_id, event_id, value,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |    CASE WHEN event_type = 'purchase' THEN 900
         |         WHEN event_type = 'error' THEN 1800
         |         ELSE 3600 END AS gap
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id, tsec, value, gap,
         |    coalesce(max(tsec + gap) OVER (
         |      PARTITION BY user_id ORDER BY tsec, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |      AS prev_end
         |  FROM e),
         |sess AS (
         |  SELECT user_id, tsec, value, gap,
         |    CAST(sum(CASE WHEN prev_end < tsec THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY user_id ORDER BY tsec, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS session_seq
         |  FROM m),
         |agg AS (
         |  SELECT user_id, min(tsec) AS start_s, max(tsec + gap) AS end_s,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    round(sum(value), 2) AS sum_value
         |  FROM sess GROUP BY user_id, session_seq),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e)
         |SELECT user_id, start_s, end_s, n_events, sum_value
         |FROM agg, wm WHERE end_s < fw""".stripMargin) { (s, dir) =>
      val raw = eventStream(s, dir)
      val events = raw.select(col("user_id"), col("event_type"),
        col("value"),
        timestamp_seconds(expr("ts div 1000000000")).as("ts"))
      val gap = when(col("event_type") === "purchase", lit("900 seconds"))
        .when(col("event_type") === "error", lit("1800 seconds"))
        .otherwise(lit("3600 seconds"))
      val sessions = events
        .withWatermark("ts", s"$DelayS seconds")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("start_s"),
          unix_timestamp(col("session_window.end")).as("end_s"),
          col("n_events"), col("sum_value"))
      runToMemory(s, sessions, "graft_stream_dynsessions")
    },

    // D44: streaming prefix z-score anomaly gate — each event tested
    // against the running mean/σ of all PRIOR events of its type
    // (the live telemetry outlier monitor). A genuine ordered fold
    // (what counts as "prior" is order-determined), so it rides the
    // D23 buffered-fold machinery (SessionPipeline.statefulAnomalyFold)
    // with the anomaly predicate in EXACT integer arithmetic — no
    // doubles, no sqrt: (v·n − S)²·(n−1) > 9·n·(n·Q − S²), warm-up
    // n ≥ 30. The oracle replays the identical prefix rule with
    // per-type cumulative windows over exactly the rows below the
    // final watermark (the D23 emission rule), products in HUGEINT.
    Q("streaming_zscore_anomaly",
      s"""WITH e AS (
         |  SELECT event_type, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |r AS (SELECT event_type, event_id, tsec, c
         |      FROM e, wm WHERE tsec < fw),
         |w AS (
         |  SELECT event_type, c,
         |    CAST(row_number() OVER win - 1 AS BIGINT) AS pn,
         |    CAST(sum(c) OVER win - c AS BIGINT) AS ps,
         |    CAST(sum(CAST(c AS HUGEINT) * c) OVER win
         |      - CAST(c AS HUGEINT) * c AS HUGEINT) AS pq
         |  FROM r
         |  WINDOW win AS (PARTITION BY event_type ORDER BY tsec, event_id)),
         |a AS (
         |  SELECT event_type, c,
         |    CASE WHEN pn >= 30 AND
         |      CAST(c * pn - ps AS HUGEINT) * (c * pn - ps) * (pn - 1)
         |        > 9 * pn * (pn * pq - CAST(ps AS HUGEINT) * ps)
         |      THEN 1 ELSE 0 END AS anom
         |  FROM w)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_folded,
         |  CAST(sum(anom) AS BIGINT) AS n_anomalies,
         |  CAST(sum(c) AS BIGINT) AS sum_cents
         |FROM a GROUP BY event_type""".stripMargin) { (s, dir) =>
      val folded = SessionPipeline.statefulAnomalyFold(anomEvents(s, dir), DelayS).toDF()
      latestPerKey(runToMemory(s, folded, "graft_stream_zscore", mode = "update"),
        Seq("event_type"), "n_folded", "n_anomalies", "sum_cents")
    },

    // D53: STREAMING CONFORMAL p-VALUE GATE (round 13) — the
    // DISTRIBUTION-FREE sibling of D44's parametric z-gate
    // (SessionPipeline.statefulConformalFold): per type, each
    // event's prequential conformal p-value is the exact rank
    // statistic (1 + #{prior events in a band ≥ mine}) / (n + 1)
    // over a BOUNDED 64-counter band histogram ($10 bands, clamped),
    // alarm at the exact integer test 16·(1+cnt_ge) ≤ n+1 after a
    // 30-event warm-up — valid under exchangeability alone, which a
    // z-score on skewed telemetry is not. Ordered prefix fold on the
    // D23/D44 buffered machinery; the oracle replays the prefix
    // ranks via the bounded band-threshold UNION trick: each folded
    // event emits one contrib row per band k ≤ its own, so
    // cnt_ge(q) is a plain per-(type, band) running count with the
    // query row sorted BEFORE its own contrib row (m ascending) —
    // O(64·n) rows, no n² self-join.
    Q("streaming_conformal_gate",
      s"""WITH e AS (
         |  SELECT event_type, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |r AS (SELECT event_type, event_id, tsec,
         |        CAST(least(greatest(c // 1000, 0), 63) AS BIGINT) AS band
         |      FROM e, wm WHERE tsec < fw),
         |contrib AS (
         |  SELECT event_type, tsec, event_id, CAST(k AS BIGINT) AS k,
         |    1 AS m
         |  FROM r, unnest(range(64)) AS u(k) WHERE k <= band),
         |qry AS (SELECT event_type, tsec, event_id, band AS k, 0 AS m
         |        FROM r),
         |st AS (
         |  SELECT event_type, tsec, event_id, k, m,
         |    CAST(coalesce(sum(m) OVER (PARTITION BY event_type, k
         |      ORDER BY tsec, event_id, m
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cge
         |  FROM (SELECT * FROM contrib UNION ALL SELECT * FROM qry)),
         |p AS (
         |  SELECT event_type, k AS band, cge AS cnt_ge,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY tsec, event_id) - 1 AS BIGINT) AS pn
         |  FROM st WHERE m = 0),
         |a AS (SELECT event_type, band,
         |        CASE WHEN pn >= 30 AND 16 * (1 + cnt_ge) <= pn + 1
         |          THEN 1 ELSE 0 END AS alarm
         |      FROM p)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_folded,
         |  CAST(sum(alarm) AS BIGINT) AS n_alarms,
         |  CAST(sum(CASE WHEN band >= 32 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hi_mass
         |FROM a GROUP BY event_type""".stripMargin) { (s, dir) =>
      val folded = SessionPipeline.statefulConformalFold(anomEvents(s, dir), DelayS).toDF()
      latestPerKey(runToMemory(s, folded, "graft_stream_conformal", mode = "update"),
        Seq("event_type"), "n_folded", "n_alarms", "hi_mass")
    },

    // D54: STREAMING ISOTONIC CALIBRATION (round 13) — C155's PAVA
    // run LIVE: per $10 value band (16 bands, clamped), the
    // complete-mode streaming agg maintains (n, purchases); the
    // snapshot's monotone-regressed purchase rate comes from PAVA's
    // max-min characterization iso_b = max_{j≤b} min_{k≥b}
    // rate(j..k) on the ≤16-row band relation — EXACT integer
    // (Σpos, Σn) prefix sums, rates as pos·10¹² div n integer keys,
    // micro-unit read-out, NO doubles (the C155 spelling verbatim).
    // The pair (D53 conformal p-values, D54 isotonic rates) is the
    // live calibration stack the r12 verdict named. Oracle: complete
    // mode folds every event, so the replay is the plain batch
    // PAVA over the events table.
    Q("streaming_isotonic_calibration",
      """WITH g AS (
        |  SELECT CAST(least(greatest(
        |      CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000, 0), 15)
        |      AS BIGINT) AS band,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM events GROUP BY 1),
        |pre AS (
        |  SELECT band, n, pos,
        |    CAST(row_number() OVER (ORDER BY band) AS BIGINT) AS i,
        |    CAST(sum(n) OVER (ORDER BY band) AS BIGINT) AS cn,
        |    CAST(sum(pos) OVER (ORDER BY band) AS BIGINT) AS cp
        |  FROM g),
        |iv AS (
        |  SELECT a.i AS j, z.i AS k,
        |    CAST((z.cp - a.cp + a.pos) AS HUGEINT) * 1000000000000
        |      // (z.cn - a.cn + a.n) AS rq
        |  FROM pre a, pre z WHERE a.i <= z.i),
        |mins AS (
        |  SELECT o.i, v.j, min(v.rq) AS mn
        |  FROM pre o JOIN iv v ON v.j <= o.i AND v.k >= o.i
        |  GROUP BY 1, 2),
        |iso AS (SELECT i, CAST(max(mn) AS BIGINT) AS iso_q FROM mins
        |        GROUP BY 1)
        |SELECT p.band, p.n, p.pos,
        |  CAST((p.pos * 1000000) // p.n AS BIGINT) AS raw_micro,
        |  CAST(iso.iso_q // 1000000 AS BIGINT) AS iso_micro
        |FROM pre p JOIN iso ON p.i = iso.i""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val live = eventStream(s, dir)
        .select(
          least(greatest(expr("cast(floor(value * 100 + 0.5) as bigint) div 1000"),
            lit(0L)), lit(15L)).as("band"),
          (col("event_type") === "purchase").cast("long").as("p"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("pos"))
      val g = runToMemory(s, live, "graft_stream_isotonic", mode = "complete")
      val pre = g.select(col("band"), col("n"), col("pos"),
          row_number().over(Window.orderBy(col("band"))).cast("long").as("i"),
          sum(col("n")).over(Window.orderBy(col("band"))).as("cn"),
          sum(col("pos")).over(Window.orderBy(col("band"))).as("cp"))
        .localCheckpoint() // the ≤16-row model relation, read 3x
      val a = pre.select(col("i").as("j"), col("n").as("na"),
        col("cn").as("cna"), col("pos").as("pa"), col("cp").as("cpa"))
      val z = pre.select(col("i").as("k"), col("cn").as("cnz"),
        col("cp").as("cpz"))
      val iv = a.crossJoin(broadcast(z)).filter(col("j") <= col("k"))
        .select(col("j"), col("k"),
          expr("""cast((cpz - cpa + pa) as decimal(38,0)) * 1000000000000
                 |  div (cnz - cna + na)""".stripMargin).as("rq"))
      val mins = pre.select(col("i")).crossJoin(broadcast(iv))
        .filter(col("j") <= col("i") && col("k") >= col("i"))
        .groupBy(col("i"), col("j")).agg(min(col("rq")).as("mn"))
      val iso = mins.groupBy(col("i"))
        .agg(max(col("mn")).cast("decimal(38,0)").as("iso_q"))
      pre.join(broadcast(iso), Seq("i"))
        .select(col("band"), col("n"), col("pos"),
          expr("(pos * 1000000) div n").as("raw_micro"),
          expr("cast(iso_q div 1000000 as bigint)").as("iso_micro"))
    },

    // D45: streaming one-way ANOVA — B131's F statistic computed
    // LIVE across event types from additive per-type sufficient
    // statistics (n, Σc, Σc² — bytes of state per type, the
    // partial-merge-friendly form): the always-on experiment monitor
    // beside the drift trio (PSI/KS/EMD compare distributions to a
    // frozen reference; the live F compares the groups to EACH
    // OTHER). Complete-mode snapshot after AvailableNow replay, then
    // the exact-integer F algebra on the k-row snapshot — identical
    // spellings to B131, cents grain.
    Q("streaming_anova",
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS s,
        |    CAST(sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
        |      * CAST(floor(value * 100 + 0.5) AS BIGINT) AS HUGEINT))
        |      AS HUGEINT) AS q
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(s) AS HUGEINT) AS ss,
        |    CAST(sum(q) AS HUGEINT) AS qq,
        |    CAST(sum(CAST(CAST(s AS HUGEINT) * s // n AS BIGINT))
        |      AS HUGEINT) AS tt
        |  FROM g),
        |f AS (
        |  SELECT k, nn,
        |    greatest(tt - ss * ss // nn, 0) AS ssb,
        |    greatest(qq - tt, 0) AS ssw
        |  FROM t)
        |SELECT k AS n_groups, nn AS n_rows,
        |  CASE WHEN ssw > 0 AND nn > k THEN
        |    floor(CAST(ssb * (nn - k) AS DOUBLE)
        |      / CAST(ssw * (k - 1) AS DOUBLE) * 1000000 + 0.5) / 1000000
        |  END AS f_stat
        |FROM f""".stripMargin) { (s, dir) =>
      val cents = floor(col("value") * 100 + lit(0.5)).cast("long")
      val live = eventStream(s, dir)
        .select(col("event_type"), cents.as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("q"))
      val g = runToMemory(s, live, "graft_stream_anova", mode = "complete")
      val t = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("s").cast("decimal(38,0)")).as("ss"),
        sum(col("q")).as("qq"),
        sum(expr("cast(cast(s as decimal(38,0)) * s div n as decimal(38,0))"))
          .as("tt"))
      t.select(col("k"), col("nn"),
          greatest(col("tt") - expr("ss * ss div nn"), lit(0))
            .cast("decimal(38,0)").as("ssb"),
          greatest(col("qq") - col("tt"), lit(0)).cast("decimal(38,0)")
            .as("ssw"))
        .select(col("k").as("n_groups"), col("nn").as("n_rows"),
          when(col("ssw") > 0 && col("nn") > col("k"),
            floor((col("ssb") * (col("nn") - col("k"))).cast("double")
              / (col("ssw") * (col("k") - 1)).cast("double")
              * 1000000 + lit(0.5)) / 1000000).as("f_stat"))
    },

    // D47: streaming Page-Hinkley drift alarm — the classic online
    // mean-shift detector (Page 1954): per type, m_t = Σ(x_i − x̄_i),
    // PH_t = m_t − min_{i≤t} m_i (min incl. the initial 0), alarm at
    // λ = 50 dollars. The running mean makes the fold ORDERED (D23/
    // D44 machinery, SessionPipeline.statefulPageHinkley); FULLY
    // exact integers — dev_e6 = c·10⁶ − (S·10⁶)//t is an integer
    // floor division, so m/min/PH replay bit-for-bit as prefix
    // windows over exactly the rows below the final watermark.
    Q("streaming_page_hinkley",
      s"""WITH e AS (
         |  SELECT event_type, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |r AS (SELECT event_type, event_id, tsec, c
         |      FROM e, wm WHERE tsec < fw),
         |w AS (
         |  SELECT event_type, c,
         |    CAST(row_number() OVER win AS BIGINT) AS t,
         |    CAST(sum(c) OVER win AS BIGINT) AS s
         |  FROM r
         |  WINDOW win AS (PARTITION BY event_type ORDER BY tsec, event_id)),
         |dv AS (
         |  SELECT event_type, t,
         |    c * 1000000 - (s * 1000000) // t AS dev
         |  FROM w),
         |m AS (
         |  SELECT event_type, t,
         |    CAST(sum(dev) OVER win2 AS BIGINT) AS m
         |  FROM dv
         |  WINDOW win2 AS (PARTITION BY event_type ORDER BY t)),
         |ph AS (
         |  SELECT event_type, t, m,
         |    m - least(CAST(min(m) OVER win3 AS BIGINT), 0) AS ph
         |  FROM m
         |  WINDOW win3 AS (PARTITION BY event_type ORDER BY t))
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_folded,
         |  CAST(max(ph) AS BIGINT) AS max_ph_e6,
         |  CAST(count(*) FILTER (ph > 5000000000) AS BIGINT) AS n_alarms
         |FROM ph GROUP BY event_type""".stripMargin) { (s, dir) =>
      val folded = SessionPipeline.statefulPageHinkley(anomEvents(s, dir), DelayS).toDF()
      latestPerKey(runToMemory(s, folded, "graft_stream_ph", mode = "update"),
        Seq("event_type"), "n_folded", "max_ph_e6", "n_alarms")
    },

    // D48: streaming SPRT — Wald's sequential test run LIVE per
    // traffic shard (user_id % 4), freezing each shard's decision at
    // its first boundary crossing (the "stop the experiment early"
    // monitor; batch twin B157). Ordered prefix fold on the D23/D44
    // machinery (SessionPipeline.statefulSprt); LLR = exact-integer
    // running counts × the SAME pinned log-literals as B157, so the
    // crossing replays bit-for-bit as prefix windows over exactly the
    // rows below the final watermark.
    Q("streaming_sprt",
      s"""WITH e AS (
         |  SELECT user_id % 4 AS shard, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |r AS (SELECT shard, event_id, tsec, x FROM e, wm WHERE tsec < fw),
         |w AS (
         |  SELECT shard,
         |    CAST(row_number() OVER win AS BIGINT) AS n,
         |    CAST(sum(x) OVER win AS BIGINT) AS n1
         |  FROM r
         |  WINDOW win AS (PARTITION BY shard ORDER BY tsec, event_id)),
         |l AS (
         |  SELECT shard, n, n1,
         |    n1 * 0.4054651081081642
         |      + (n - n1) * (-0.05715841383994864) AS llr
         |  FROM w),
         |cr AS (
         |  SELECT shard, min(n) AS nx FROM l
         |  WHERE llr >= 2.9444389791664403 OR llr <= -2.9444389791664403
         |  GROUP BY shard),
         |at AS (
         |  SELECT l.shard, l.n AS n_at, l.n1 AS n1_at, l.llr
         |  FROM l JOIN cr ON l.shard = cr.shard AND l.n = cr.nx),
         |tot AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_seen,
         |    CAST(sum(x) AS BIGINT) AS n1
         |  FROM r GROUP BY shard)
         |SELECT t.shard, t.n_seen, t.n1,
         |  CASE WHEN a.shard IS NULL THEN 'continue'
         |    WHEN a.llr >= 2.9444389791664403 THEN 'accept_h1'
         |    ELSE 'accept_h0' END AS decision,
         |  CAST(coalesce(a.n_at, 0) AS BIGINT) AS n_at_decision,
         |  CAST(coalesce(a.n1_at, 0) AS BIGINT) AS n1_at_decision
         |FROM tot t LEFT JOIN at a ON t.shard = a.shard""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        val ev = eventStream(s, dir)
          .select((col("user_id") % 4).as("shard"), col("event_id"),
            expr("ts div 1000000000").as("tsec"),
            when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
              .cast("int").as("x"))
          .as[SessionPipeline.SprtEvent]
        val folded = SessionPipeline.statefulSprt(ev, DelayS).toDF()
        latestPerKey(runToMemory(s, folded, "graft_stream_sprt", mode = "update"),
          Seq("shard"), "n_seen", "n1", "decision", "n_at_decision", "n1_at_decision")
    },

    // D49: streaming two-proportion z monitor — B167's pooled z-test
    // as a LIVE experiment read-out: per-arm (user_id % 2) additive
    // (n, conversions) state — the partial-merge-friendly shape, two
    // rows total — with the z computed on the complete-mode snapshot
    // (the streaming_chisq convention). This is the "peeking"
    // dashboard number; D48's SPRT is the sequentially-VALID decision
    // — the engine ships both so the contrast is explicit. Exact
    // counts into the same fixed IEEE z expression as B167, 6dp.
    Q("streaming_prop_ztest",
      """WITH a AS (
        |  SELECT user_id % 2 AS arm,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT
        |    max(CASE WHEN arm = 1 THEN n END) AS n1,
        |    max(CASE WHEN arm = 1 THEN y END) AS y1,
        |    max(CASE WHEN arm = 0 THEN n END) AS n0,
        |    max(CASE WHEN arm = 0 THEN y END) AS y0
        |  FROM a)
        |SELECT n1, y1, n0, y0,
        |  floor((CAST(y1 AS DOUBLE) / n1 - CAST(y0 AS DOUBLE) / n0)
        |    / sqrt((CAST(y1 + y0 AS DOUBLE) / (n1 + n0))
        |      * (1 - CAST(y1 + y0 AS DOUBLE) / (n1 + n0))
        |      * (1.0 / n1 + 1.0 / n0))
        |    * 1000000 + 0.5) / 1000000 AS z
        |FROM m""".stripMargin) { (s, dir) =>
      val ev = eventStream(s, dir)
        .groupBy((col("user_id") % 2).as("arm"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L))).as("y"))
      val snap = runToMemory(s, ev, "graft_stream_propz",
        mode = "complete")
      val m = snap.agg(
        max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 1, col("y"))).as("y1"),
        max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 0, col("y"))).as("y0"))
      val p1 = col("y1").cast("double") / col("n1")
      val p0 = col("y0").cast("double") / col("n0")
      val pp = (col("y1") + col("y0")).cast("double") /
        (col("n1") + col("n0"))
      m.select(col("n1"), col("y1"), col("n0"), col("y0"),
        (floor((p1 - p0) /
          sqrt(pp * (lit(1) - pp)
            * (lit(1.0) / col("n1") + lit(1.0) / col("n0")))
          * lit(1000000) + lit(0.5)) / lit(1000000)).as("z"))
    },

    // D46: streaming chi-square independence monitor — the
    // CATEGORICAL drift/dependence gate beside the numeric trio
    // (D35 PSI / D36 KS / D42 EMD compare a numeric distribution to
    // a reference; live chi-square watches whether event TYPE and
    // value BAND stay independent — the "did checkout errors start
    // skewing expensive" alarm). State = the (type × 4-band)
    // contingency grid as additive counts (model-sized,
    // partial-merge-friendly); bands at the fixed 15/36/72 value
    // cuts (the reference quartiles, pinned so the grid is static).
    // Complete-mode snapshot after AvailableNow replay, then B115's
    // exact algebra on the 20-row grid: expected = row·col/N (exact
    // BIGINT product, ONE division), χ² an ordered (type, band)-
    // ascending fold from 0.0 (the ADC convention), 6dp floor.
    Q("streaming_chisq",
      """WITH obs AS (
        |  SELECT event_type,
        |    CASE WHEN value < 15 THEN 0 WHEN value < 36 THEN 1
        |         WHEN value < 72 THEN 2 ELSE 3 END AS band,
        |    CAST(count(*) AS BIGINT) AS observed
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(observed) AS BIGINT) AS row_tot
        |       FROM obs GROUP BY 1),
        |ct AS (SELECT band, CAST(sum(observed) AS BIGINT) AS col_tot
        |       FROM obs GROUP BY 1),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs),
        |t AS (
        |  SELECT o.event_type, o.band, o.observed,
        |    CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.n AS expected
        |  FROM obs o JOIN rt USING (event_type) JOIN ct USING (band), n),
        |chi AS (
        |  SELECT floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((CAST(observed AS DOUBLE) - expected)
        |           * (CAST(observed AS DOUBLE) - expected) / expected
        |        ORDER BY event_type, band)), (a, x) -> a + x)
        |      * 1000000 + 0.5) / 1000000 AS chi2
        |  FROM t)
        |SELECT t.event_type, CAST(t.band AS INT) AS band, t.observed,
        |  floor(t.expected * 1000000 + 0.5) / 1000000 AS expected,
        |  chi.chi2 AS chi2_total
        |FROM t, chi""".stripMargin) { (s, dir) =>
      val band = when(col("value") < 15, lit(0))
        .when(col("value") < 36, lit(1))
        .when(col("value") < 72, lit(2)).otherwise(lit(3))
      val live = eventStream(s, dir)
        .select(col("event_type"), band.as("band"))
        .groupBy(col("event_type"), col("band"))
        .agg(count(lit(1)).as("observed"))
      val obs = runToMemory(s, live, "graft_stream_chisq", mode = "complete")
        .localCheckpoint() // margins + cells read the 20-row snapshot
      val rt = obs.groupBy(col("event_type"))
        .agg(sum(col("observed")).as("row_tot"))
      val ct = obs.groupBy(col("band")).agg(sum(col("observed")).as("col_tot"))
      val n = obs.agg(sum(col("observed")).as("n"))
      val t = obs.join(broadcast(rt), Seq("event_type"))
        .join(broadcast(ct), Seq("band"))
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("band"), col("observed"),
          ((col("row_tot") * col("col_tot")).cast("double") / col("n"))
            .as("expected"))
        .withColumn("term",
          (col("observed").cast("double") - col("expected"))
            * (col("observed").cast("double") - col("expected"))
            / col("expected"))
        .localCheckpoint()
      val chi = t
        .agg(sort_array(collect_list(struct(col("event_type"), col("band"),
          col("term")))).as("ts"))
        .select((floor(aggregate(col("ts"), lit(0.0),
            (acc, x) => acc + x.getField("term")) * lit(1000000) + lit(0.5))
          / lit(1000000)).as("chi2_total"))
      t.crossJoin(broadcast(chi))
        .select(col("event_type"), col("band").cast("int").as("band"),
          col("observed"),
          (floor(col("expected") * lit(1000000) + lit(0.5)) / lit(1000000))
            .as("expected"),
          col("chi2_total"))
    },

    // D15: streaming CDC materialization — the changelog-to-serving-
    // table stream (cdc_merge_latest's batch semantics as a live
    // view): per-key latest-version state via a complete-mode max_by
    // aggregation on the (version, seq) struct. State is one struct
    // per key — the partial-merge-friendly compaction, not a buffer
    // of versions — and the memory-sink snapshot after AvailableNow
    // replay must equal the batch image exactly (key-determined
    // output, no watermark subtleties).
    Q("streaming_cdc_latest",
      """WITH c AS (
        |  SELECT o_custkey AS key,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS v,
        |    o_orderkey AS seq, o_orderstatus AS st,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT key, st, cents FROM (
        |  SELECT key, st, cents,
        |    row_number() OVER (PARTITION BY key ORDER BY v DESC, seq DESC)
        |      AS rn
        |  FROM c) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val o = tableStream(s, dir, "orders").select(
        col("o_custkey").as("key"),
        unix_timestamp(col("o_orderdate")).as("v"),
        col("o_orderkey").as("seq"), col("o_orderstatus").as("st"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val agg = o.groupBy(col("key"))
        .agg(max_by(struct(col("st"), col("cents")),
          struct(col("v"), col("seq"))).as("m"))
      runToMemory(s, agg, "graft_stream_cdc", mode = "complete")
        .select(col("key"), col("m.st").as("st"), col("m.cents").as("cents"))
    },

    // D13: windowed trending keys — the frequent-items sketch in
    // KEYED window state with watermark-driven append emission (D12
    // is the global complete-mode form). One bounded summary per
    // hour window instead of a per-(window, user) key space; windows
    // emit on close. Capacity 1024 ≫ the ≤166 distinct users any
    // hour holds, so every emitted summary is the exact per-hour
    // count table and the top-5 is hash-comparable; the emission
    // filter (strict <) is the streaming_hll_distinct convention,
    // applied identically on both engines.
    Q("streaming_windowed_heavy_hitters",
      s"""WITH e AS (
         |  SELECT CAST(user_id AS VARCHAR) AS uid,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |w AS (SELECT tsec - tsec % 3600 AS hour_start_s, uid FROM e),
         |c AS (
         |  SELECT hour_start_s, uid, CAST(count(*) AS BIGINT) AS cnt
         |  FROM w GROUP BY 1, 2),
         |r AS (
         |  SELECT hour_start_s, uid, cnt,
         |    CAST(row_number() OVER (
         |      PARTITION BY hour_start_s ORDER BY cnt DESC, uid) AS INT) AS rnk
         |  FROM c)
         |SELECT hour_start_s, uid, cnt, rnk
         |FROM r, wm WHERE rnk <= 5 AND hour_start_s + 3600 < fw""".stripMargin) { (s, dir) =>
      val ev = eventStream(s, dir).select(
        col("user_id").cast("string").as("uid"),
        timestamp_seconds(expr("ts div 1000000000")).as("tss"))
        .withWatermark("tss", s"$DelayS seconds")
      val agg = ev.groupBy(window(col("tss"), "1 hour"))
        .agg(graft.functions.MisraGries.sketch(col("uid"), 1024).as("sk"))
        .select(unix_timestamp(col("window.start")).as("hour_start_s"), col("sk"))
      val streamed = runToMemory(s, agg, "graft_stream_mgw")
      val fw = table(s, dir, "events")
        .agg((max(expr("ts div 1000000000")) - DelayS).as("fw"))
      streamed.join(broadcast(fw))
        .filter(col("hour_start_s") + 3600 < col("fw"))
        .select(col("hour_start_s"), posexplode(col("sk")).as(Seq("idx", "e")))
        .select(col("hour_start_s"), col("e.item").as("uid"),
          col("e.cnt").as("cnt"), (col("idx") + 1).cast("int").as("rnk"))
        .filter(col("rnk") <= 5)
    },

    // D19: stream-stream ANTI join — "which clicks did NOT convert".
    // Spark has no native stream-stream left_anti; the composition is
    // the D14 left-outer state machine + a stateless null filter on
    // its output: unmatched left rows emit null-extended once the
    // global watermark proves no in-window partner can arrive, and
    // the filter keeps exactly those. Emission bound is therefore the
    // D14 unmatched rule verbatim: a click emits iff its match window
    // closed strictly below the final watermark (min of both sides'
    // maxima − delay) and no in-window purchase exists.
    Q("streaming_anti_join",
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |c AS (SELECT user_id, event_id, tsec FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, tsec FROM e WHERE event_type = 'purchase'),
         |wm AS (
         |  SELECT least((SELECT max(tsec) FROM c),
         |               (SELECT max(tsec) FROM p)) - $DelayS AS fw)
         |SELECT c.user_id, c.event_id AS click_id, c.tsec AS click_s
         |FROM c, wm
         |WHERE c.tsec + $GapS < wm.fw AND NOT EXISTS (
         |  SELECT 1 FROM p WHERE p.user_id = c.user_id
         |    AND p.tsec >= c.tsec AND p.tsec <= c.tsec + $GapS)""".stripMargin) { (s, dir) =>
      val unconverted = clickPurchaseJoin(s, dir, "leftOuter")
        .filter(col("purchase_id").isNull)
        .select(col("user_id"), col("click_id"),
          unix_timestamp(col("l_ts")).as("click_s"))
      runToMemory(s, unconverted, "graft_stream_anti")
    },

    // D20: the BITMAP EXACT-DISTINCT aggregate (B81) in WINDOWED
    // streaming state — the fourth custom aggregate to run inside a
    // watermarked window after HLL/Misra-Gries/t-digest, and the
    // first EXACT one: per-hour distinct users held as one 8 KiB
    // bitset per window regardless of traffic, so the streamed count
    // EQUALS the batch count(DISTINCT) — an equality gate, not a
    // tolerance bound. Emission: append-mode windows strictly below
    // the final watermark (the streaming_hll_distinct convention,
    // applied identically on both engines).
    Q("streaming_bitmap_distinct",
      s"""WITH e AS (
         |  SELECT user_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |w AS (SELECT tsec - tsec % 3600 AS hour_start_s, user_id FROM e),
         |agg AS (
         |  SELECT hour_start_s,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |  FROM w GROUP BY hour_start_s)
         |SELECT hour_start_s, n_events, n_users
         |FROM agg, wm WHERE hour_start_s + 3600 < fw""".stripMargin) { (s, dir) =>
      val ev = eventStream(s, dir).select(
        col("user_id"),
        timestamp_seconds(expr("ts div 1000000000")).as("tss"))
        .withWatermark("tss", s"$DelayS seconds")
      val agg = ev.groupBy(window(col("tss"), "1 hour"))
        .agg(
          count(lit(1)).as("n_events"),
          graft.functions.BitmapDistinct.bitmapDistinct(col("user_id"), 1 << 16)
            .as("n_users"))
        .select(unix_timestamp(col("window.start")).as("hour_start_s"),
          col("n_events"), col("n_users"))
      val streamed = runToMemory(s, agg, "graft_stream_bitmap")
      val fw = table(s, dir, "events")
        .agg((max(expr("ts div 1000000000")) - DelayS).as("fw"))
      streamed.join(broadcast(fw))
        .filter(col("hour_start_s") + 3600 < col("fw"))
        .select(col("hour_start_s"), col("n_events"), col("n_users"))
    },

    // D21: STREAMING INCREMENTAL DEDUP — the C62 ingestion shape
    // live: the incoming half of the corpus streams in, dedupes
    // within the stream (unwatermarked dropDuplicates keyed state on
    // the 64-bit fingerprint — each fp emitted exactly once, the D11
    // rule) and against the HISTORICAL corpus via a stream-static
    // LEFT ANTI join on the precomputed fingerprint index (8 B/doc;
    // the static side never rescans as text). Output is
    // key-determined (the surviving fingerprint set), so arrival
    // order cannot affect the gate; oracle = the batch NOT-IN image
    // with the HUGEINT mod-2^64 fingerprint replay.
    Q("streaming_incremental_dedup",
      """WITH n AS (
        |  SELECT doc_id, text, (SELECT max(doc_id) // 2 FROM documents) AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, t,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(string_split_regex(text, ''),
        |          c -> CAST(ord(c) AS HUGEINT))),
        |      (h, b) -> (h * 31 + b) % 18446744073709551616) AS h
        |  FROM n),
        |hist AS (SELECT DISTINCT h FROM f WHERE doc_id < t),
        |inc AS (SELECT h FROM f WHERE doc_id >= t)
        |SELECT DISTINCT
        |  CAST(CASE WHEN h >= 9223372036854775808
        |       THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS fp
        |FROM inc WHERE h NOT IN (SELECT h FROM hist)""".stripMargin) { (s, dir) =>
      import graft.functions.Fingerprint64
      val batchDocs = table(s, dir, "documents")
      val t = batchDocs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val hist = batchDocs.filter(col("doc_id") < t)
        .select(Fingerprint64.fingerprint64(col("text")).as("fp"))
        .distinct()
      val incoming = tableStream(s, dir, "documents")
        .filter(col("doc_id") >= t)
        .select(Fingerprint64.fingerprint64(col("text")).as("fp"))
        .dropDuplicates("fp")
        .join(hist, Seq("fp"), "left_anti")
      runToMemory(s, incoming, "graft_stream_incdedup")
    },

    // D22: MULTI-SOURCE UNION under the GLOBAL watermark — two
    // independently-watermarked streams (views and clicks, each its
    // own file source) unioned into one windowed aggregation. Spark's
    // multi-watermark policy takes the MIN across inputs, so a window
    // closes only when BOTH sources have moved past it — the oracle
    // states that bound exactly (fw = min of the two per-source
    // maxima − delay), which is the semantics that keeps a slow
    // source from losing the fast source's late data.
    Q("streaming_union_watermark",
      s"""WITH e AS (
         |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events WHERE event_type IN ('view', 'click')),
         |wm AS (
         |  SELECT least(
         |    (SELECT max(tsec) FROM e WHERE event_type = 'view'),
         |    (SELECT max(tsec) FROM e WHERE event_type = 'click')) - $DelayS AS fw),
         |agg AS (
         |  SELECT tsec - tsec % 3600 AS hour_start_s, event_type,
         |    CAST(count(*) AS BIGINT) AS n_events
         |  FROM e GROUP BY 1, 2)
         |SELECT hour_start_s, event_type, n_events
         |FROM agg, wm WHERE hour_start_s + 3600 < fw""".stripMargin) { (s, dir) =>
      def typed(t: String): DataFrame = eventStream(s, dir)
        .filter(col("event_type") === t)
        .select(col("event_type"),
          timestamp_seconds(expr("ts div 1000000000")).as("tss"))
        .withWatermark("tss", s"$DelayS seconds")
      val unioned = typed("view").unionByName(typed("click"))
      val agg = unioned.groupBy(window(col("tss"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("window.start")).as("hour_start_s"),
          col("event_type"), col("n_events"))
      runToMemory(s, agg, "graft_stream_union")
    },

    // D23: streaming NON-DECOMPOSABLE ordered fold — B71's floored
    // running balance live (balance = max(0, balance + Δ): no partial
    // agg, no prefix shortcut). Each key's deltas buffer in
    // flatMapGroupsWithState state and fold in (tsec, event_id) order
    // only once the watermark proves the prefix complete; the final
    // update-mode row per key (max n_folded — the count is strictly
    // monotone) must equal the batch fold over every delta strictly
    // below the final watermark, which the oracle states directly.
    // Purchases credit, errors debit.
    Q("streaming_balance_fold",
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |    CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('purchase', 'error')),
         |d AS (SELECT user_id, event_id, tsec,
         |        CASE WHEN event_type = 'purchase' THEN cents ELSE -cents END
         |          AS delta
         |      FROM e),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM d),
         |r AS (SELECT user_id, event_id, tsec, delta FROM d, wm WHERE tsec < fw)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_folded,
         |  CAST(list_reduce(
         |    list_prepend(CAST(0 AS BIGINT), list(delta ORDER BY tsec, event_id)),
         |    (a, x) -> greatest(a + x, 0)) AS BIGINT) AS balance_cents
         |FROM r GROUP BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val deltas = eventStream(s, dir)
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000000000").as("tsec"),
          when(col("event_type") === "purchase",
            floor(col("value") * 100).cast("long"))
            .otherwise(-floor(col("value") * 100).cast("long")).as("cents"))
        .as[SessionPipeline.BalDelta]
      val folded = SessionPipeline.statefulBalanceFold(deltas, DelayS).toDF()
      latestPerKey(runToMemory(s, folded, "graft_stream_balance", mode = "update"),
        Seq("user_id"), "n_folded", "balance_cents")
    },

    // D41: STREAMING ROLLING DEBOUNCE — B119's cooldown rule over an
    // out-of-order stream (the CDC noise gate running LIVE). The
    // D23 machinery verbatim (`SessionPipeline.statefulDebounceFold`):
    // survival depends on which earlier events survived — a genuine
    // ordered non-decomposable fold — so each key buffers below-
    // watermark rows in state and folds them in (tsec, event_id)
    // order; the oracle replays the SAME recursive fold over exactly
    // the rows below the final watermark (the D23 emission rule),
    // and the kept id-SUM pins the exact surviving set.
    Q("streaming_debounce",
      s"""WITH RECURSIVE e AS (
         |  SELECT user_id, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |wm AS (SELECT max(tsec) - $DelayS AS fw FROM e),
         |r AS (SELECT user_id, event_id, tsec FROM e, wm WHERE tsec < fw),
         |arr AS (
         |  SELECT user_id,
         |    list(struct_pack(t := tsec, id := event_id)
         |      ORDER BY tsec, event_id) AS xs,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM r GROUP BY user_id),
         |rec AS (
         |  SELECT user_id, CAST(1 AS BIGINT) AS i, xs[1].t AS last_kept,
         |    CAST(1 AS BIGINT) AS n_kept, xs[1].id AS idsum
         |  FROM arr
         |  UNION ALL
         |  SELECT q.user_id, i + 1,
         |    CASE WHEN a.xs[CAST(i + 1 AS INT)].t - last_kept >= 300
         |         THEN a.xs[CAST(i + 1 AS INT)].t ELSE last_kept END,
         |    n_kept + CASE WHEN a.xs[CAST(i + 1 AS INT)].t - last_kept >= 300
         |                  THEN 1 ELSE 0 END,
         |    idsum + CASE WHEN a.xs[CAST(i + 1 AS INT)].t - last_kept >= 300
         |                 THEN a.xs[CAST(i + 1 AS INT)].id ELSE 0 END
         |  FROM rec q JOIN arr a USING (user_id) WHERE i < a.n)
         |SELECT q.user_id, a.n AS n_seen, q.n_kept,
         |  CAST(q.idsum AS BIGINT) AS kept_id_sum
         |FROM rec q JOIN arr a USING (user_id) WHERE q.i = a.n""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      val ev = eventStream(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000000000").as("tsec"))
        .as[SessionPipeline.DebEvent]
      val folded = SessionPipeline.statefulDebounceFold(ev, DelayS).toDF()
      latestPerKey(runToMemory(s, folded, "graft_stream_debounce", mode = "update"),
        Seq("user_id"), "n_seen", "n_kept", "kept_id_sum")
    },

    // D37: STREAMING TIME-DECAYED COUNTS — the "trending now" shape
    // (exponentially decayed event weight, half-life = 1 day) that
    // plain windowed counts (D13) can't express: yesterday counts
    // half of today, last week an eighth of that. State is D33's
    // additive discipline applied to DAYS instead of value bins: per
    // (event_type, day) exact counts — merges commute under any
    // batch split, state is O(active days) per key, never the
    // stream. The decay is applied at READ-OUT on the model-sized
    // snapshot (types × ≤31 days here), decaying every day to the
    // corpus max day T: weight(d) = 2^(d − T), a 32-day horizon
    // (older days weigh 0 — documented cut; 2⁻³² < 1e-9 is already
    // sub-rounding). EXACT: the decayed sum is computed as the
    // scaled BIGINT Σ cnt·2^(32 − (T − d)) — shifts of exact
    // integers, no pow(), no libm — and the 6dp double is that
    // integer divided once by 2³². Overflow-safe by construction:
    // Σcnt·2³² < 2⁶³ up to ~2·10⁹ events per type.
    Q("streaming_decayed_counts",
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |b AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt
        |      FROM e GROUP BY 1, 2),
        |t AS (SELECT max(day) AS td FROM b),
        |s AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_events,
        |    t.td AS t_day,
        |    CAST(sum(CASE WHEN t.td - day <= 32
        |      THEN cnt * (CAST(1 AS BIGINT) << CAST(32 - (t.td - day) AS INT))
        |      ELSE 0 END) AS BIGINT) AS decayed_scaled
        |  FROM b, t GROUP BY event_type, t.td)
        |SELECT event_type, n_events, t_day, decayed_scaled,
        |  round(CAST(decayed_scaled AS DOUBLE) / 4294967296.0, 6) AS decayed
        |FROM s""".stripMargin) { (s, dir) =>
      val ev = tableStream(s, dir, "events").select(col("event_type"),
        expr("ts div 1000000000 div 86400").as("day"))
      val binned = ev.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val snap = runToMemory(s, binned, "graft_stream_decay",
        mode = "complete").localCheckpoint()
      val t = snap.agg(max(col("day")).as("td"))
      snap.crossJoin(broadcast(t))
        .groupBy(col("event_type"), col("td").as("t_day"))
        .agg(sum(col("cnt")).as("n_events"),
          sum(when(col("td") - col("day") <= 32,
            col("cnt") * expr("shiftleft(CAST(1 AS BIGINT), " +
              "CAST(32 - (td - day) AS INT))"))
            .otherwise(0L)).as("decayed_scaled"))
        .select(col("event_type"), col("n_events"), col("t_day"),
          col("decayed_scaled"),
          round(col("decayed_scaled").cast("double") / 4294967296.0, 6)
            .as("decayed"))
    },

    // D51: STREAMING DECAYED TOP-K — the live "who is hot RIGHT NOW"
    // leaderboard (trending users per event type), composing D37's
    // additive day-decay discipline with the B39 bounded-heap top-k:
    // live state is per (type, user, day) exact counts (additive —
    // merges commute under any batch split; O(active user-days),
    // never the raw stream); the read-out decays every user's day
    // histogram to the corpus max day T with the D37 scaled-BIGINT
    // weights (cnt·2^(32−(T−d)), 32-day horizon, shifts not pow —
    // exact), then ranks users per type through TopKPerKey's bounded
    // heaps (map-side combined, never a per-type window sort of the
    // user population). Ties pinned (score desc, user_id). Scale
    // shape: one stateful keyed count + a user-grain decay agg + the
    // bounded-heap top-3.
    Q("streaming_topk_decay",
      """WITH e AS (
        |  SELECT event_type, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |b AS (SELECT event_type, user_id, day,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM e GROUP BY 1, 2, 3),
        |t AS (SELECT max(day) AS td FROM b),
        |s AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(cnt) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN t.td - day <= 32
        |      THEN cnt * (CAST(1 AS BIGINT) << CAST(32 - (t.td - day) AS INT))
        |      ELSE 0 END) AS BIGINT) AS decayed_scaled
        |  FROM b, t GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, user_id, n_events, decayed_scaled,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY decayed_scaled DESC, user_id) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT event_type, rnk, user_id, n_events, decayed_scaled,
        |  round(CAST(decayed_scaled AS DOUBLE) / 4294967296.0, 6) AS decayed
        |FROM r WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      val ev = tableStream(s, dir, "events").select(col("event_type"),
        col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      val binned = ev.groupBy(col("event_type"), col("user_id"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val snap = runToMemory(s, binned, "graft_stream_topkdecay",
        mode = "complete").localCheckpoint()
      val t = snap.agg(max(col("day")).as("td"))
      val scored = snap.crossJoin(broadcast(t))
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("cnt")).as("n_events"),
          sum(when(col("td") - col("day") <= 32,
            col("cnt") * expr("shiftleft(CAST(1 AS BIGINT), " +
              "CAST(32 - (td - day) AS INT))"))
            .otherwise(0L)).as("decayed_scaled"))
      graft.plans.TopK.perKey(scored, Seq("event_type"),
          Seq(("decayed_scaled", false), ("user_id", true)), 3)
        .select(col("event_type"), col("rnk").cast("long").as("rnk"),
          col("user_id"), col("n_events"), col("decayed_scaled"),
          round(col("decayed_scaled").cast("double") / 4294967296.0, 6)
            .as("decayed"))
    },

    // D38: STREAMING DDSketch QUANTILES — B108's relative-error
    // decimal sketch as LIVE per-key state, completing the pair with
    // D33 (fixed equi-width bins, ABSOLUTE error): per event_type the
    // first-2-significant-digit bucket counts of the integer-cent
    // value, maintained incrementally — the sketch relation is
    // additive (merges commute under any batch split, the
    // complete-mode snapshot equals the batch sketch), state O(~90
    // buckets/decade) per key regardless of stream length, bounded
    // RELATIVE error at any magnitude where D33's 64 fixed bins
    // saturate above their range. Read-out = B108's closed-form on
    // the snapshot: rank (q·n + 99) DIV 100, first bucket with cum ≥
    // rank, estimate = bucket lower edge — all exact BIGINTs, so the
    // estimates oracle-check, not just the counts. The cumulative
    // window sorts ≤ ~200 buckets per type (model-sized).
    Q("streaming_ddsketch_quantiles",
      """WITH v AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    CAST(rpad(substring(CAST(cents AS VARCHAR), 1, 2),
        |      CAST(strlen(CAST(cents AS VARCHAR)) AS INT), '0') AS BIGINT)
        |      AS bkt,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM v GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM b GROUP BY event_type),
        |cum AS (SELECT event_type, bkt, cnt,
        |          sum(cnt) OVER (PARTITION BY event_type ORDER BY bkt)
        |            AS cum
        |        FROM b),
        |rk AS (SELECT t.event_type, CAST(q.q AS INT) AS q, t.n,
        |         (q.q * t.n + 99) // 100 AS rnk
        |       FROM tot t, (SELECT unnest([50, 90, 99]) AS q) q)
        |SELECT c.event_type, r.q, r.n,
        |  CAST(min(c.bkt) AS BIGINT) AS est_cents
        |FROM cum c JOIN rk r USING (event_type)
        |WHERE c.cum >= r.rnk
        |GROUP BY c.event_type, r.q, r.n""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = tableStream(s, dir, "events").select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      val binned = ev
        .select(col("event_type"),
          expr("CAST(rpad(substring(CAST(cents AS STRING), 1, 2), " +
            "length(CAST(cents AS STRING)), '0') AS BIGINT)").as("bkt"))
        .groupBy(col("event_type"), col("bkt"))
        .agg(count(lit(1)).as("cnt"))
      val snap = runToMemory(s, binned, "graft_stream_dds",
        mode = "complete").localCheckpoint()
      val tot = snap.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
      val cum = snap.withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("bkt"))))
      val rk = tot.crossJoin(
          s.range(1).select(explode(array(lit(50L), lit(90L), lit(99L)))
            .as("q")))
        .withColumn("rnk", expr("(q * n + 99) DIV 100"))
      cum.join(rk, Seq("event_type"))
        .filter(col("cum") >= col("rnk"))
        .groupBy(col("event_type"), col("q").cast("int").as("q"), col("n"))
        .agg(min(col("bkt")).as("est_cents"))
    },

    // D39: STREAMING BENFORD MONITOR — B113's first-digit fraud/DQ
    // audit as LIVE per-key state (the "is this feed drifting into
    // fabricated values" production monitor, the D35/D36 shape with
    // a THEORETICAL reference instead of a frozen empirical one):
    // per event_type the 9 first-significant-digit counts of the
    // integer-cent value, maintained incrementally — additive state,
    // O(9) longs per key regardless of stream length, snapshot ≡
    // batch counts under any split. Read-out = B113's arithmetic per
    // type on the snapshot: expected = n·p_d with the HARDCODED 6dp
    // Benford constants (Σ exactly 1.000000), chi² an ordered
    // digit-ascending ≤9-term fold from 0.0, 6dp floor form. The
    // LEFT JOIN to the constant digit domain keeps absent digits as
    // exact zeros (a digit the stream never produced still
    // contributes its expected mass).
    Q("streaming_benford",
      """WITH c AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |o AS (SELECT event_type,
        |        CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT)
        |          AS digit,
        |        CAST(count(*) AS BIGINT) AS observed
        |      FROM c GROUP BY 1, 2),
        |types AS (SELECT DISTINCT event_type FROM c),
        |p AS (SELECT CAST(d AS INT) AS digit, pr FROM (VALUES
        |        (1, 0.301030), (2, 0.176091), (3, 0.124939),
        |        (4, 0.096910), (5, 0.079181), (6, 0.066947),
        |        (7, 0.057992), (8, 0.051153), (9, 0.045757)) v(d, pr)),
        |dom AS (SELECT event_type, digit, pr FROM types, p),
        |n AS (SELECT event_type, CAST(sum(observed) AS BIGINT) AS n
        |      FROM o GROUP BY 1),
        |t AS (
        |  SELECT d.event_type, d.digit,
        |    coalesce(o.observed, 0) AS observed, n.n, d.pr,
        |    (CAST(coalesce(o.observed, 0) AS DOUBLE) - n.n * d.pr)
        |      * (CAST(coalesce(o.observed, 0) AS DOUBLE) - n.n * d.pr)
        |      / (n.n * d.pr) AS term
        |  FROM dom d
        |  LEFT JOIN o USING (event_type, digit)
        |  JOIN n USING (event_type)),
        |chi AS (
        |  SELECT event_type,
        |    floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list(term ORDER BY digit)), (a, x) -> a + x)
        |      * 1000000 + 0.5) / 1000000 AS chi2
        |  FROM t GROUP BY event_type)
        |SELECT t.event_type, t.digit, t.observed, t.n,
        |  floor(t.n * t.pr * 1000000 + 0.5) / 1000000 AS expected,
        |  chi.chi2 AS chi2_total
        |FROM t JOIN chi USING (event_type)""".stripMargin) { (s, dir) =>
      val benford = Seq(1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939,
        4 -> 0.096910, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
        8 -> 0.051153, 9 -> 0.045757)
      val ev = tableStream(s, dir, "events").select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      val binned = ev
        .select(col("event_type"),
          substring(col("cents").cast("string"), 1, 1).cast("int")
            .as("digit"))
        .groupBy(col("event_type"), col("digit"))
        .agg(count(lit(1)).as("observed"))
      val snap = runToMemory(s, binned, "graft_stream_benford",
        mode = "complete").localCheckpoint()
      val p = s.range(1).select(explode(array(benford.map { case (d, pr) =>
        struct(lit(d).as("digit"), lit(pr).as("pr")) }: _*)).as("x"))
        .select(col("x.digit").as("digit"), col("x.pr").as("pr"))
      val dom = snap.select(col("event_type")).distinct().crossJoin(p)
      val n = snap.groupBy(col("event_type"))
        .agg(sum(col("observed")).as("n"))
      val t = dom.join(snap, Seq("event_type", "digit"), "left")
        .join(broadcast(n), Seq("event_type"))
        .select(col("event_type"), col("digit"),
          coalesce(col("observed"), lit(0L)).as("observed"), col("n"),
          col("pr"))
        .withColumn("term",
          (col("observed").cast("double") - col("n") * col("pr"))
            * (col("observed").cast("double") - col("n") * col("pr"))
            / (col("n") * col("pr")))
        .localCheckpoint() // the fold and the rows both read it
      val chi = t.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("digit"), col("term"))))
          .as("ts"))
        .select(col("event_type"),
          (floor(aggregate(col("ts"), lit(0.0),
            (acc, x) => acc + x.getField("term")) * lit(1000000)
            + lit(0.5)) / lit(1000000)).as("chi2_total"))
      t.join(broadcast(chi), Seq("event_type"))
        .select(col("event_type"), col("digit"), col("observed"), col("n"),
          (floor(col("n") * col("pr") * lit(1000000) + lit(0.5))
            / lit(1000000)).as("expected"),
          col("chi2_total"))
    },

    // D40: STREAMING HEARTBEAT / LIVENESS MONITOR — the "which
    // devices went quiet" production shape (fleet monitoring, feed
    // SLA alerting): per user the LAST-SEEN event time and event
    // count as live state. last_seen = max(tsec) is a LATTICE (like
    // D32's MinHash mins): per-batch maxes merge commutatively, so
    // the complete-mode snapshot equals the batch aggregate under
    // ANY batch split — state O(1) per key. Read-out on the
    // model-sized snapshot: silence = corpus max tsec − last_seen
    // (the stream's own clock — no wall time, replayable), stale =
    // silence > 2× the global MEDIAN inter-user silence... no —
    // stale = silence > 86400 (one day), a FIXED documented
    // threshold (a data-derived one would gate nothing when all
    // users are quiet together). All exact integers.
    Q("streaming_heartbeat",
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |s AS (SELECT user_id, CAST(max(tsec) AS BIGINT) AS last_seen,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM e GROUP BY user_id),
        |t AS (SELECT max(last_seen) AS now FROM s)
        |SELECT user_id, n_events, last_seen,
        |  CAST(t.now - last_seen AS BIGINT) AS silence_s,
        |  CAST(CASE WHEN t.now - last_seen > 86400 THEN 1 ELSE 0 END
        |    AS INT) AS stale
        |FROM s, t""".stripMargin) { (s, dir) =>
      val ev = tableStream(s, dir, "events").select(col("user_id"),
        expr("ts div 1000000000").as("tsec"))
      val state = ev.groupBy(col("user_id"))
        .agg(max(col("tsec")).as("last_seen"),
          count(lit(1)).as("n_events"))
      val snap = runToMemory(s, state, "graft_stream_hb",
        mode = "complete").localCheckpoint()
      val t = snap.agg(max(col("last_seen")).as("now"))
      snap.crossJoin(broadcast(t))
        .select(col("user_id"), col("n_events"), col("last_seen"),
          (col("now") - col("last_seen")).as("silence_s"),
          (col("now") - col("last_seen") > 86400L).cast("int").as("stale"))
    })

  /** Stateful streaming ops create one state store per shuffle
    * partition and commit each of them every micro-batch; at replay
    * scale the per-store fixed cost (init + delta + commit, ×2 for
    * the final watermark-advancing batch) dominates the row work.
    * Run the replay gates at 8 state partitions instead of the
    * session's 32 — correctness is partition-count-independent, and
    * on a real cluster this knob sizes with state volume, not cores.
    */
  private val StatePartitions = 8

  /** Streams table `tbl` from `dir`, robust to BOTH on-disk layouts:
    * the driver's flat single-file `<dir>/<tbl>.parquet` and a
    * Spark-written DIRECTORY of part files (the bench clone corpora).
    * File sources stream a directory + leaf-file-name glob, so the
    * two layouts need different (root, glob) pairs — with the flat
    * pair on a clone dir the glob matches no leaf (part files are
    * named part-*.parquet) and the stream silently replays ZERO rows,
    * which is how the ×10 probe briefly benched an empty stream.
    */
  private def tableStream(spark: SparkSession, dir: String, tbl: String): DataFrame = {
    // schema() must describe the FILES verbatim; events.ts
    // normalization is re-applied as a stream transform below.
    val batchSchema = GraftSession.rawTable(spark, dir, tbl).schema
    val path = s"$dir/$tbl.parquet"
    // Layout detection goes through the Hadoop FileSystem API, not
    // java.io.File — a URI-prefixed or non-local dir (file://, hdfs://,
    // s3a://) is invisible to java.io and would silently fall back to
    // the flat glob, reproducing the zero-row replay on clone dirs.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val isDir =
      try fs.getFileStatus(hPath).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    val (root, glob) =
      if (isDir) (path, "*.parquet")
      else (dir, s"$tbl.parquet")
    val stream = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", glob)
      .parquet(root)
    if (tbl == "events") GraftSession.normalizeEvents(stream) else stream
  }

  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    tableStream(spark, dir, "events")

  /** The one stream-run point. Runs `build(tmp)` as an AvailableNow
    * query into a memory sink named `<prefix>_<nanos>` — Bench's
    * releaseState drops every graft_stream_* view — at
    * [[StatePartitions]] state partitions; the final no-data batch
    * advances the watermark and flushes everything the watermark has
    * closed. `inspect(q, ckpt)` then reads the terminated query (its
    * `recentProgress`, its sink `spark.table(q.name)`, its state store).
    *
    * With a `scratch` prefix, `tmp` is a fresh dir `<scratch>*` under
    * java.io.tmpdir that `build` may write stream input into, the query
    * checkpoints at `ckpt` = `<tmp>/ckpt`, and the dir is deleted once
    * `inspect` — which must read eagerly whatever it needs from it —
    * returns. Without one, `tmp` and `ckpt` are null and the query
    * uses Spark's own temporary checkpoint. `rocksDB` runs the query
    * on the RocksDB state store (transformWithState needs its multiple
    * state column families), restoring the provider after.
    */
  private def runStream[A](spark: SparkSession, prefix: String,
      mode: String = "append", rocksDB: Boolean = false, scratch: Option[String] = None)(
      build: String => DataFrame)(inspect: (StreamingQuery, String) => A): A = {
    val tmp = scratch.map(java.nio.file.Files.createTempDirectory(_).toFile)
    try {
      val df = build(tmp.map(_.toString).orNull)
      val ckpt = tmp.map(d => s"$d/ckpt").orNull
      val partitionsKey = "spark.sql.shuffle.partitions"
      val prevPartitions = spark.conf.get(partitionsKey)
      val prevProvider =
        if (rocksDB) Some(graft.sources.Sources.useRocksDBStateStore(spark)) else None
      spark.conf.set(partitionsKey, StatePartitions.toString)
      try {
        val w = df.writeStream.outputMode(mode).format("memory")
          .queryName(s"${prefix}_${System.nanoTime()}")
        val q = Option(ckpt).fold(w)(w.option("checkpointLocation", _))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        inspect(q, ckpt)
      } finally {
        spark.conf.set(partitionsKey, prevPartitions)
        prevProvider.foreach(graft.sources.Sources.restoreStateStore(spark, _))
      }
    } finally tmp.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  /** [[runStream]] without scratch: the memory sink's content. */
  private def runToMemory(spark: SparkSession, df: DataFrame, prefix: String,
      mode: String = "append", rocksDB: Boolean = false): DataFrame =
    runStream(spark, prefix, mode, rocksDB)(_ => df)((q, _) => spark.table(q.name))

  /** The D7-family click → purchase fixture. ONE readStream,
    * filter-split into the two sides (a streaming self-join): the
    * micro-batch planner tracks a single source and both branches
    * replay the same batch — vs two independent sources each listing +
    * scanning the parquet on every trigger. The watermarked click side
    * (user_id, click_id, l_ts) joins the purchase side (r_user,
    * purchase_id, r_ts) `how`, on the same user with the purchase at
    * most GapS after the click — the event-time range that bounds join
    * state.
    */
  private def clickPurchaseJoin(s: SparkSession, dir: String, how: String): DataFrame = {
    val ev = eventStream(s, dir)
    watermarkedSide(ev, "click", "user_id", "click_id", "l_ts")
      .join(watermarkedSide(ev, "purchase", "r_user", "purchase_id", "r_ts"),
        col("user_id") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $GapS seconds"), how)
  }

  /** One side of a stream-stream event join: the `eventType` rows of
    * `ev` as (user, id, ts, extra…), watermarked DelayS behind `ts`. */
  private def watermarkedSide(ev: DataFrame, eventType: String, user: String,
      id: String, ts: String, extra: Column*): DataFrame =
    ev.filter(col("event_type") === eventType)
      .select(Seq(col("user_id").as(user), col("event_id").as(id),
        timestamp_seconds(expr("ts div 1000000000")).as(ts)) ++ extra: _*)
      .withWatermark(ts, s"$DelayS seconds")

  /** An update-mode fold's last emission per `keys`: the row with the
    * greatest `counter`, which grows strictly with every emission. */
  private def latestPerKey(df: DataFrame, keys: Seq[String], counter: String,
      rest: String*): DataFrame = {
    val fields = counter +: rest
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(fields.map(col): _*), col(counter)).as("m"))
      .select(keys.map(col) ++ fields.map(f => col(s"m.$f").as(f)): _*)
  }

  /** The events stream as D2 sessionizer input. */
  private def sessEvents(s: SparkSession, dir: String): Dataset[SessionPipeline.SessEvent] = {
    import s.implicits._
    eventStream(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("tsec"), col("value"))
      .as[SessionPipeline.SessEvent]
  }

  /** The events stream as per-type cents input of the D44/D47/D53 folds. */
  private def anomEvents(s: SparkSession, dir: String): Dataset[SessionPipeline.AnomEvent] = {
    import s.implicits._
    eventStream(s, dir)
      .select(col("event_type"), col("event_id"),
        expr("ts div 1000000000").as("tsec"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .as[SessionPipeline.AnomEvent]
  }

  // D2 under the gate: the custom flatMapGroupsWithState sessionizer
  // (event-time timeout — the deterministic form of the reference's
  // inactivity trigger). Emission rule in the oracle: every non-final
  // session of a key, plus final sessions whose (last + gap) is below
  // the final watermark.
  private lazy val statefulOracle =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
       |  FROM events),
       |lagged AS (
       |  SELECT user_id, event_id, tsec, value,
       |    CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w > $GapS
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
       |sess AS (
       |  SELECT user_id, tsec, value,
       |    CAST(sum(is_new) OVER (
       |      PARTITION BY user_id ORDER BY tsec, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM lagged),
       |agg AS (
       |  SELECT user_id, session_seq,
       |    min(tsec) AS start_s,
       |    max(tsec) + $GapS AS end_s,
       |    count(*) AS n_events,
       |    round(sum(value), 2) AS sum_value,
       |    row_number() OVER (PARTITION BY user_id ORDER BY session_seq DESC) AS rn_desc
       |  FROM sess GROUP BY user_id, session_seq),
       |wm AS (SELECT max(tsec) - $DelayS AS final_watermark FROM e)
       |SELECT user_id, start_s, end_s, n_events, sum_value
       |FROM agg, wm WHERE rn_desc > 1 OR end_s < final_watermark""".stripMargin
}
