package graft.queries

import graft.GraftSession.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 statistics wave: rank correlation and autocorrelation —
  * the remaining canonical members of the monitoring/eval families
  * (Spearman beside Kendall B117 and Mann-Whitney B114; ACF beside
  * seasonal decomposition B111 and Holt B109).
  *
  * Shared conventions (AnalyticsQueries): exact BIGINT sums to one
  * pinned double division (+ IEEE sqrt where a variance norm is
  * inherent), 6dp floor form `floor(x*1e6 + 0.5)/1e6` in BOTH
  * engines; day = epoch // 86400; cents = floor(value·100).
  */
object SummitQueries {

  val all: Seq[Q] = Seq(

    // B123: SPEARMAN rank correlation (Spearman 1904) between time
    // and daily revenue — the monotone-trend test that is robust to
    // any monotone transform of the values, completing the rank-test
    // trio (Kendall B117 measures pair concordance, Mann-Whitney B114
    // two-sample location; Spearman is Pearson ON RANKS). Exact
    // spelling: the daily series collapses to the DAY grain (model-
    // sized: one row per calendar day, ≤ a few thousand at any corpus
    // size — stated bound for the windows below), day ranks are
    // 2·row_number (days are distinct), value ranks are tie-averaged
    // DOUBLED ranks on the distinct-cents grain (2r = 2(cum−cnt)+cnt+1
    // — the B114/C101 prefix-sum identity, exact BIGINT). Pearson's
    // sums over doubled ranks stay far inside BIGINT (n ≤ 1e6 days ⇒
    // Σ(2r)² ≤ 4e18); rho = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²) ·
    // √(n·Σy²−(Σy)²)) — exact integers into two IEEE sqrts and one
    // division, 6dp floor. Scale shape: ONE keyed day agg (map-side
    // combined) over orders; everything after is day-grain.
    Q("spearman_daily",
      """WITH d AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |rx AS (
        |  SELECT day, cents,
        |    2 * CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rx2
        |  FROM d),
        |v AS (
        |  SELECT cents, CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY cents),
        |vc AS (
        |  SELECT cents, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum
        |  FROM v),
        |r AS (
        |  SELECT rx.day, rx.rx2,
        |    2 * (vc.cum - vc.cnt) + vc.cnt + 1 AS ry2
        |  FROM rx JOIN vc ON rx.cents = vc.cents),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
        |    CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
        |    CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
        |    CAST(sum(rx2 * ry2) AS BIGINT) AS sxy
        |  FROM r)
        |SELECT n AS n_days,
        |  CASE WHEN n * sxx > sx * sx AND n * syy > sy * sy THEN
        |    floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |      * 1000000 + 0.5) / 1000000 END AS rho
        |FROM s""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
      // day-grain from here on (≤ a few thousand rows at any SF —
      // the unpartitioned windows below run on that bound)
      val rx = d.select(col("day"), col("cents"),
        (row_number().over(Window.orderBy(col("day"))).cast("long") * 2)
          .as("rx2"))
      val vc = d.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum",
          sum(col("cnt")).over(Window.orderBy(col("cents"))))
      val r = rx.join(vc, "cents")
        .select(col("rx2"),
          (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1).as("ry2"))
      r.agg(count(lit(1)).as("n"), sum(col("rx2")).as("sx"),
          sum(col("ry2")).as("sy"),
          sum(col("rx2") * col("rx2")).as("sxx"),
          sum(col("ry2") * col("ry2")).as("syy"),
          sum(col("rx2") * col("ry2")).as("sxy"))
        .select(col("n").as("n_days"),
          when(col("n") * col("sxx") > col("sx") * col("sx") &&
               col("n") * col("syy") > col("sy") * col("sy"),
            floor((col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double")
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"))
                 * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")))
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("rho"))
    },

    // B124: AUTOCORRELATION FUNCTION at lags 1-7 of the zero-filled
    // daily revenue series — the "is this series weekly-periodic /
    // mean-reverting / trending" diagnostic that precedes any
    // forecasting choice (Box & Jenkins 1970 ch.2; B111's seasonal
    // decomposition ASSUMES the period, ACF MEASURES it). The series
    // is the calendar GRID between the first and last order day with
    // missing days as exact 0 (the B45 gap-fill convention — ACF on a
    // gapped series silently misaligns lags). Exactness under the
    // mean-centering: multiply through by n² so every product is an
    // integer — dev_t = n·x_t − S (BIGINT), r_k = Σ dev_t·dev_{t+k} /
    // Σ dev_t² with the products in DECIMAL(38,0) (Spark) / HUGEINT
    // (DuckDB): dev ~ n·cents can reach ~1e13, its square ~1e26 —
    // past BIGINT, exact in 38 digits; both engines convert the same
    // exact integers to double for the ONE division, 6dp floor.
    // Scale shape: one keyed day agg over orders; the grid, the lag
    // self-join (≤ 7·n rows) and the sums are day-grain (model-sized,
    // bound as in B123).
    Q("timeseries_acf",
      """WITH o AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
        |grid AS (
        |  SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
        |  FROM bounds),
        |x AS (
        |  SELECT g.day, CAST(coalesce(o.cents, 0) AS BIGINT) AS v
        |  FROM grid g LEFT JOIN o ON g.day = o.day),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(v) AS BIGINT) AS tot FROM x),
        |dev AS (
        |  SELECT x.day, CAST(s.n * x.v - s.tot AS HUGEINT) AS dv
        |  FROM x, s),
        |den AS (SELECT sum(dv * dv) AS den FROM dev),
        |lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        |num AS (
        |  SELECT l.lag, sum(a.dv * b.dv) AS num
        |  FROM lags l
        |  JOIN dev a ON true
        |  JOIN dev b ON b.day = a.day + l.lag
        |  GROUP BY l.lag)
        |SELECT num.lag, s.n AS n_days,
        |  CASE WHEN den.den > 0 THEN
        |    floor(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS acf
        |FROM num, den, s""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
      val bounds = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      // calendar grid with exact-0 fill (day-grain, model-sized)
      val x = bounds
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(o, Seq("day"), "left")
        .select(col("day"), coalesce(col("cents"), lit(0L)).as("v"))
      val st = x.agg(count(lit(1)).as("n"), sum(col("v")).as("tot"))
      val dev = x.crossJoin(broadcast(st))
        .select(col("day"),
          (col("n") * col("v") - col("tot")).cast("decimal(18,0)").as("dv"),
          col("n"))
      val den = dev.agg(sum(col("dv") * col("dv")).as("den"))
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val a = dev.select(col("day").as("da"), col("dv").as("dva"), col("n"))
      val b = dev.select(col("day").as("db"), col("dv").as("dvb"))
      val num = a.crossJoin(broadcast(lags))
        .join(b, col("db") === col("da") + col("lag"))
        .groupBy(col("lag"))
        .agg(sum(col("dva") * col("dvb")).as("num"), first(col("n")).as("n"))
      num.crossJoin(broadcast(den))
        .select(col("lag"), col("n").as("n_days"),
          when(col("den") > 0,
            floor(col("num").cast("double") / col("den").cast("double")
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("acf"))
    },

    // B125: RANGE window frames over event-time VALUE distance — the
    // frame family B26 (ROWS frames) cannot express: "revenue in the
    // 30 CALENDAR DAYS before this order" counts peers and gaps by
    // the ORDER KEY'S VALUE, not by row position (two orders the same
    // day see identical frames; a quiet month shrinks the frame to
    // the current row). Exact: cents BIGINT sums, day = epoch//86400
    // as the numeric range key. Both directions: trailing [-30, 0]
    // and strictly-forward [1, 30] (empty → exact 0). Scale shape:
    // one partitioned window per customer — Spark sorts within the
    // customer partition only, no global sort, the standard
    // 100 TB-safe window discipline.
    Q("window_range_frames",
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, day,
        |  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cents_30d,
        |  CAST(coalesce(sum(cents) OVER (PARTITION BY o_custkey
        |    ORDER BY day
        |    RANGE BETWEEN 1 FOLLOWING AND 30 FOLLOWING), 0) AS BIGINT)
        |    AS cents_next30
        |FROM o""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val byCust = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      o.select(col("o_orderkey"), col("o_custkey"), col("day"),
        sum(col("cents")).over(byCust.rangeBetween(-30, 0)).as("cents_30d"),
        coalesce(sum(col("cents")).over(byCust.rangeBetween(1, 30)), lit(0L))
          .as("cents_next30"))
    },

    // B126: ZONE-MAP / data-skipping statistics (the parquet
    // row-group-footer contract every 100 TB scan plan lives on:
    // min/max per storage zone decide which zones a predicate can
    // PRUNE without reading — Moerkotte's small materialized
    // aggregates, VLDB'98; the engine-side view of what
    // `.explain`'s PushedFilters consumes). Zones = 256-key orderkey
    // extents (the clustered write order, so zones are value-tight on
    // the cluster key and loose on uncorrelated ones — exactly the
    // effect the stats expose); per zone exact row count, min/max
    // price cents and ship day, and the prune verdicts for two fixed
    // predicates: cents > 9,000,000 (prunable iff max ≤ threshold)
    // and ship day ≥ 10,000 (prunable iff max < cutoff). ONE
    // map-side-combined keyed agg — the same pass a writer takes to
    // emit footer stats.
    Q("zonemap_prune_stats",
      """SELECT l_orderkey // 256 AS zone,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS min_cents,
        |  CAST(max(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS max_cents,
        |  CAST(min(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400)
        |    AS BIGINT) AS min_day,
        |  CAST(max(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400)
        |    AS BIGINT) AS max_day,
        |  CAST(max(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    <= 9000000 AS INT) AS prune_price,
        |  CAST(max(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400)
        |    < 10000 AS INT) AS prune_day
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .select(expr("l_orderkey div 256").as("zone"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"),
          expr("unix_timestamp(l_shipdate) div 86400").as("day"))
        .groupBy(col("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
          min(col("day")).as("min_day"), max(col("day")).as("max_day"))
        .select(col("zone"), col("n_rows"), col("min_cents"),
          col("max_cents"), col("min_day"), col("max_day"),
          (col("max_cents") <= 9000000L).cast("int").as("prune_price"),
          (col("max_day") < 10000L).cast("int").as("prune_day"))
    },

    // B127: POSITION-BASED (U-shaped) attribution — the industry's
    // third canonical credit rule beside last-touch (B79) and linear
    // multi-touch (B94): the FIRST touch (discovery) and the LAST
    // touch (closer) each earn 40%, the middles share the remaining
    // 20% (collapsing to an equal split for ≤ 2 touches — the
    // standard degeneration). Exactness contract (the B78
    // largest-remainder discipline): every percentage is integer
    // floor division of cents with the remainder allocated by
    // position order, so each purchase's credits SUM EXACTLY to its
    // cents — an auditor can re-add the ledger. Scale shape: the B79
    // keyed interval join (RangeJoin bucketed point-in-interval — one
    // keyed exchange, never per-user cross products) + per-purchase
    // windows (purchase-bounded partitions).
    Q("attribution_position", {
      val look = 3600L
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, value,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |p AS (SELECT event_id AS purchase_id, user_id, tsec AS ps,
         |        CAST(floor(value * 100) AS BIGINT) AS cents
         |      FROM e WHERE event_type = 'purchase'),
         |c AS (SELECT event_id AS click_id, user_id, tsec AS cs
         |      FROM e WHERE event_type = 'click'),
         |j AS (SELECT p.purchase_id, p.user_id, p.ps, p.cents,
         |        c.click_id, c.cs
         |      FROM p JOIN c ON p.user_id = c.user_id
         |        AND c.cs >= p.ps - $look AND c.cs <= p.ps),
         |rk AS (SELECT purchase_id, user_id, ps, cents, click_id, cs,
         |        row_number() OVER (PARTITION BY purchase_id
         |          ORDER BY cs, click_id) AS rn,
         |        count(*) OVER (PARTITION BY purchase_id) AS n
         |      FROM j),
         |cr AS (
         |  SELECT purchase_id, user_id, ps, click_id, cs,
         |    CASE
         |      WHEN n = 1 THEN 'solo'
         |      WHEN rn = 1 THEN 'first'
         |      WHEN rn = n THEN 'last'
         |      ELSE 'mid' END AS role,
         |    CASE
         |      WHEN n <= 2 THEN cents // n
         |        + CASE WHEN rn <= cents % n THEN 1 ELSE 0 END
         |      WHEN rn = 1 OR rn = n THEN (cents * 40) // 100
         |      ELSE (cents - 2 * ((cents * 40) // 100)) // (n - 2)
         |        + CASE WHEN rn - 1 <=
         |            (cents - 2 * ((cents * 40) // 100)) % (n - 2)
         |          THEN 1 ELSE 0 END END AS credit_cents
         |  FROM rk)
         |SELECT purchase_id, user_id, ps AS purchase_s, click_id,
         |  cs AS click_s, role, CAST(credit_cents AS BIGINT)
         |    AS credit_cents
         |FROM cr
         |UNION ALL
         |SELECT purchase_id, user_id, ps AS purchase_s,
         |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'direct',
         |  cents
         |FROM p WHERE purchase_id NOT IN (SELECT purchase_id FROM j)"""
        .stripMargin
    }) { (s, dir) =>
      import graft.operators.RangeJoin
      val look = 3600L
      val e = table(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        expr("ts div 1000000000").as("tsec"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("tsec").as("ps"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("lo", col("ps") - look)
        .withColumn("hi", col("ps"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("tsec").as("cs"))
      val joined = RangeJoin.pointInIntervalKeyed(
        clicks, purchases, Seq("user_id"), "cs", "lo", "hi", look)
      val w = Window.partitionBy(col("purchase_id"))
      val first40 = expr("(cents * 40) div 100")
      val midPot = col("cents") - lit(2) * first40
      val attributed = joined
        .withColumn("rn",
          row_number().over(w.orderBy(col("cs"), col("click_id"))))
        .withColumn("n", count(lit(1)).over(w))
        .select(col("purchase_id"), col("user_id"),
          col("ps").as("purchase_s"), col("click_id"),
          col("cs").as("click_s"),
          when(col("n") === 1, lit("solo"))
            .when(col("rn") === 1, lit("first"))
            .when(col("rn") === col("n"), lit("last"))
            .otherwise(lit("mid")).as("role"),
          when(col("n") <= 2,
              expr("cents div n") +
                when(col("rn") <= col("cents") % col("n"), 1L).otherwise(0L))
            .when(col("rn") === 1 || col("rn") === col("n"), first40)
            .otherwise(expr(
              "(cents - 2 * ((cents * 40) div 100)) div (n - 2)") +
              when(col("rn") - 1 <=
                midPot % (col("n") - 2), 1L).otherwise(0L))
            .as("credit_cents"))
      val direct = purchases
        .join(joined.select("purchase_id").distinct(),
          Seq("purchase_id"), "left_anti")
        .select(col("purchase_id"), col("user_id"),
          col("ps").as("purchase_s"),
          lit(null).cast("long").as("click_id"),
          lit(null).cast("long").as("click_s"),
          lit("direct").as("role"),
          col("cents").as("credit_cents"))
      attributed.unionByName(direct)
    },

    // B128: MARKOV REMOVAL-EFFECT attribution (Anderl et al. 2014 —
    // the DATA-DRIVEN attribution model behind Google Analytics'
    // DDA, where B79/B94/B127 are rule-based): per-user journeys
    // (each purchase closes one) become a first-order Markov chain
    // over channel states with absorbing conv/null; a channel's
    // credit is its REMOVAL EFFECT — the drop in the chain's
    // conversion probability when every edge into the channel is
    // redirected to null. Chain solved by a FIXED 32-step power
    // iteration in BOTH engines (the KMeans/PageRank fixed-iteration
    // convention); every probability ONE exact division of BIGINT
    // counts; each step's sums fold edge terms in (from, to) order
    // from 0.0 (the list_reduce ordered-fold convention) so every
    // intermediate double is bit-identical. Scale shape: transition
    // counts are ONE keyed corpus aggregate (journeys via per-user
    // windows); the chain is (channels+3)² — model-sized, the only
    // collect (guarded) — operators/MarkovAttribution.scala.
    Q("attribution_markov",
      """WITH RECURSIVE e AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |ej AS (
        |  SELECT user_id, event_id, event_type, tsec,
        |    coalesce(count(*) FILTER (event_type = 'purchase') OVER (
        |      PARTITION BY user_id ORDER BY tsec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
        |  FROM e),
        |seqs AS (
        |  SELECT user_id, jid,
        |    coalesce(list(event_type ORDER BY tsec, event_id)
        |      FILTER (event_type <> 'purchase'), []) AS chs,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM ej GROUP BY 1, 2),
        |paths AS (
        |  SELECT ['start'] || chs ||
        |    [CASE WHEN conv = 1 THEN 'conv' ELSE 'null' END] AS p
        |  FROM seqs),
        |trans AS (
        |  SELECT p[CAST(i AS INT)] AS frm, p[CAST(i + 1 AS INT)] AS tto,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM paths, unnest(range(1, len(p))) AS u(i)
        |  GROUP BY 1, 2),
        |rowtot AS (
        |  SELECT frm, CAST(sum(cnt) AS BIGINT) AS tot
        |  FROM trans GROUP BY 1),
        |channels AS (
        |  SELECT DISTINCT ch FROM (
        |    SELECT frm AS ch FROM trans
        |    UNION SELECT tto FROM trans)
        |  WHERE ch NOT IN ('start', 'conv', 'null')),
        |variants AS (
        |  SELECT 'base' AS removed
        |  UNION ALL SELECT ch FROM channels),
        |vedges AS (
        |  SELECT v.removed, t.frm,
        |    CASE WHEN t.tto = v.removed THEN 'null' ELSE t.tto END AS tto,
        |    CAST(sum(t.cnt) AS BIGINT) AS cnt
        |  FROM variants v JOIN trans t ON t.frm <> v.removed
        |  GROUP BY 1, 2, 3),
        |pedges AS (
        |  SELECT removed, frm, tto, CAST(cnt AS DOUBLE) / tot AS p
        |  FROM vedges JOIN rowtot USING (frm)
        |  UNION ALL
        |  SELECT v.removed, a.s, a.s, 1.0
        |  FROM variants v, (SELECT unnest(['conv', 'null']) AS s) a),
        |vstates AS (
        |  SELECT v.removed,
        |    list_sort(['start', 'conv', 'null'] ||
        |      coalesce(list(c.ch ORDER BY c.ch) FILTER (c.ch IS NOT NULL),
        |        [])) AS states
        |  FROM variants v LEFT JOIN channels c ON c.ch <> v.removed
        |  GROUP BY v.removed),
        |elist AS (
        |  SELECT p.removed,
        |    list(struct_pack(
        |      fi := list_position(s.states, p.frm),
        |      ti := list_position(s.states, p.tto),
        |      p := p.p) ORDER BY p.frm, p.tto) AS edges,
        |    any_value(s.states) AS states
        |  FROM pedges p JOIN vstates s USING (removed)
        |  GROUP BY p.removed),
        |it AS (
        |  SELECT removed, 0 AS step,
        |    -- CAST: a bare 1.0 is DECIMAL(2,1) and the recursive CTE
        |    -- pins v to the base term's type — every step would
        |    -- quantize to one decimal place (observed: conv = 3.4)
        |    list_transform(states,
        |      x -> CASE WHEN x = 'start' THEN CAST(1.0 AS DOUBLE)
        |           ELSE CAST(0.0 AS DOUBLE) END) AS v,
        |    states, edges
        |  FROM elist
        |  UNION ALL
        |  SELECT removed, step + 1,
        |    list_transform(range(1, len(states) + 1), i ->
        |      list_reduce(
        |        list_prepend(CAST(0.0 AS DOUBLE), list_transform(
        |          list_filter(edges, ed -> ed.ti = i),
        |          ed -> v[CAST(ed.fi AS INT)] * ed.p)),
        |        (a, b) -> a + b)),
        |    states, edges
        |  FROM it WHERE step < 32),
        |fin AS (
        |  SELECT removed, v[CAST(list_position(states, 'conv') AS INT)]
        |    AS conv
        |  FROM it WHERE step = 32),
        |re AS (
        |  SELECT f.removed AS channel, b.conv AS cb, f.conv AS cr,
        |    CASE WHEN b.conv = 0 THEN 0.0
        |         ELSE greatest(0.0, 1.0 - f.conv / b.conv) END AS re_raw
        |  FROM fin f, (SELECT conv FROM fin WHERE removed = 'base') b
        |  WHERE f.removed <> 'base'),
        |tre AS (
        |  SELECT list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE), list(re_raw ORDER BY channel)),
        |    (a, b) -> a + b) AS s
        |  FROM re)
        |SELECT channel,
        |  floor(cb * 1000000 + 0.5) / 1000000 AS conv_base,
        |  floor(cr * 1000000 + 0.5) / 1000000 AS conv_removed,
        |  floor(re_raw * 1000000 + 0.5) / 1000000 AS removal_effect,
        |  floor(CASE WHEN tre.s = 0 THEN 0.0 ELSE re_raw / tre.s END
        |    * 1000000 + 0.5) / 1000000 AS share
        |FROM re, tre""".stripMargin) { (s, dir) =>
      import graft.operators.MarkovAttribution
      val e = table(s, dir, "events").select(col("event_id"),
        col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("tsec"))
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("tsec"), col("event_id"))
      val ej = e.withColumn("jid",
        coalesce(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .localCheckpoint() // chain edges + terminals both read it
      val chans = ej.filter(col("event_type") =!= "purchase")
      val wj = Window.partitionBy(col("user_id"), col("jid"))
        .orderBy(col("tsec"), col("event_id"))
      val chainEdges = chans
        .withColumn("frm",
          coalesce(lag(col("event_type"), 1).over(wj), lit("start")))
        .select(col("frm"), col("event_type").as("tto"))
      val lastCh = chans.groupBy(col("user_id"), col("jid"))
        .agg(max_by(col("event_type"), struct(col("tsec"), col("event_id")))
          .as("last_ch"))
      val terminal = ej.groupBy(col("user_id"), col("jid"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
        .join(lastCh, Seq("user_id", "jid"), "left")
        .select(coalesce(col("last_ch"), lit("start")).as("frm"),
          when(col("conv") === 1, lit("conv")).otherwise(lit("null"))
            .as("tto"))
      // the ONLY collect: the transition matrix — (channels+3)²,
      // model-sized by construction; guard loudly, never OOM
      val transRows = chainEdges.unionByName(terminal)
        .groupBy(col("frm"), col("tto")).agg(count(lit(1)).as("cnt"))
        .collect()
      require(transRows.length <= 400,
        s"attribution_markov: ${transRows.length} transition kinds — " +
          "state space is not model-sized; refusing to solve on the driver")
      val counts = transRows.map(r =>
        (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val channels = counts.keysIterator
        .flatMap { case (f, t) => Iterator(f, t) }
        .filterNot(Set("start", "conv", "null")).toSeq.distinct.sorted
      val res = MarkovAttribution.removalEffects(counts, channels)
      def floor6(x: Double): Double = math.floor(x * 1000000 + 0.5) / 1000000
      import s.implicits._
      res.map(r => (r.channel, floor6(r.convBase), floor6(r.convRemoved),
          floor6(r.removalEffect), floor6(r.share)))
        .toDF("channel", "conv_base", "conv_removed", "removal_effect",
          "share")
    },

    // C111: DEDUP THRESHOLD CURVE — the "how aggressive should my
    // near-dup threshold be" decision table every curation run needs
    // BEFORE committing to a τ (Lee et al. ACL'22 sweep this
    // exactly): per candidate threshold (0.6/0.7/0.8/0.9 Jaccard)
    // the exact duplicate-pair count and the number of documents
    // touched by at least one pair. Built ON the PPJoin exact
    // set-similarity join (B110 — completeness is a theorem, so the
    // curve is exact, not an LSH estimate): one pass at the loosest
    // threshold, then the curve is a model-sized rollup over bands.
    // Scale shape: B110's clone-collapsed prefix-filter join + a
    // broadcast 4-row band join; nothing new touches the corpus.
    Q("dedup_threshold_curve", {
      val base = DedupQueries.all.find(_.name == "setsim_prefix_join").get
        .oracle.get
      s"""WITH base AS ($base),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total
         |        FROM documents),
         |bands AS (SELECT CAST(unnest([600000, 700000, 800000, 900000])
         |            AS BIGINT) AS threshold_ppm),
         |hit AS (
         |  SELECT b.threshold_ppm, base.doc_a, base.doc_b
         |  FROM bands b JOIN base ON base.jac_ppm >= b.threshold_ppm),
         |np AS (SELECT threshold_ppm, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM hit GROUP BY 1),
         |nd AS (
         |  SELECT threshold_ppm, CAST(count(DISTINCT d) AS BIGINT)
         |    AS n_dup_docs
         |  FROM (SELECT threshold_ppm, unnest([doc_a, doc_b]) AS d
         |        FROM hit)
         |  GROUP BY 1)
         |SELECT b.threshold_ppm,
         |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(nd.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
         |  tot.n_docs_total
         |FROM bands b
         |LEFT JOIN np USING (threshold_ppm)
         |LEFT JOIN nd USING (threshold_ppm), tot""".stripMargin
    }) { (s, dir) =>
      val pairs = DedupQueries.all.find(_.name == "setsim_prefix_join").get
        .spark(s, dir)
        .select(col("doc_a"), col("doc_b"), col("jac_ppm"))
        .localCheckpoint() // pair counts + doc counts both read it
      val nTotal = table(s, dir, "documents").count()
      val bands = s.range(0, 4)
        .select((lit(600000L) + col("id") * 100000L).as("threshold_ppm"))
      val hit = pairs.crossJoin(broadcast(bands))
        .filter(col("jac_ppm") >= col("threshold_ppm"))
      // Round-14 (guide §1.2, r13 verdict #9): ONE aggregation pass
      // over the banded pair table instead of two (pair count +
      // distinct docs were separate groupBys, each re-scanning the
      // checkpoint and shuffling). Every pair has doc_a < doc_b, so
      // the exploded view carries exactly 2 rows per pair —
      // n_pairs = count DIV 2, exact.
      val agg = hit
        .select(col("threshold_ppm"),
          explode(array(col("doc_a"), col("doc_b"))).as("d"))
        .groupBy(col("threshold_ppm"))
        .agg(expr("count(1) DIV 2").as("n_pairs"),
          countDistinct(col("d")).as("n_dup_docs"))
      bands.join(agg, Seq("threshold_ppm"), "left")
        .select(col("threshold_ppm"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
          lit(nTotal).as("n_docs_total"))
    },

    // B129: ZONE OVERLAP FACTOR — the CLUSTERING-QUALITY companion to
    // B126's zone maps (the Oracle-DBA "clustering factor", recast
    // for zone pruning): for point predicates along the ship-day
    // domain, how many 256-key zones must a scan actually read
    // because their [min_day, max_day] extent covers the probe? A
    // well-clustered layout touches O(1) zones per probe; a layout
    // uncorrelated with the predicate column touches nearly all of
    // them (lineitem is written in orderkey order, so ship-day
    // extents are wide — exactly what this measures and what a B42
    // Z-order rewrite would fix). Probes = the 8 octile points of the
    // day range (data-derived exact integers, never empty). Zone
    // stats are the same ONE keyed agg as B126; probing is a
    // broadcast 8×zones interval test, model-sized output.
    Q("zonemap_overlap_factor",
      """WITH z AS (
        |  SELECT l_orderkey // 256 AS zone,
        |    min(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400)
        |      AS min_day,
        |    max(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400)
        |      AS max_day
        |  FROM lineitem GROUP BY 1),
        |b AS (SELECT min(min_day) AS d0, max(max_day) AS d1,
        |        CAST(count(*) AS BIGINT) AS n_zones FROM z),
        |probes AS (
        |  SELECT CAST(k AS BIGINT) AS k,
        |    d0 + (d1 - d0) * CAST(k AS BIGINT) // 8 AS probe_day,
        |    n_zones
        |  FROM b, unnest(range(8)) AS u(k))
        |SELECT p.k, p.probe_day, p.n_zones,
        |  CAST(count(*) FILTER (z.min_day <= p.probe_day
        |    AND p.probe_day <= z.max_day) AS BIGINT) AS n_zones_touched,
        |  floor(CAST(count(*) FILTER (z.min_day <= p.probe_day
        |      AND p.probe_day <= z.max_day) AS DOUBLE)
        |    / CAST(p.n_zones AS DOUBLE) * 1000000 + 0.5) / 1000000
        |    AS overlap_factor
        |FROM probes p CROSS JOIN z
        |GROUP BY p.k, p.probe_day, p.n_zones""".stripMargin) { (s, dir) =>
      val z = table(s, dir, "lineitem")
        .select(expr("l_orderkey div 256").as("zone"),
          expr("unix_timestamp(l_shipdate) div 86400").as("day"))
        .groupBy(col("zone"))
        .agg(min(col("day")).as("min_day"), max(col("day")).as("max_day"))
        .localCheckpoint() // bounds + the probe join both read it
      val b = z.agg(min(col("min_day")).as("d0"), max(col("max_day")).as("d1"),
        count(lit(1)).as("n_zones"))
      val probes = b.crossJoin(
          broadcast(s.range(8).select(col("id").as("k"))))
        .select(col("k"),
          (col("d0") + expr("(d1 - d0) * k div 8")).as("probe_day"),
          col("n_zones"))
      probes.crossJoin(z)
        .groupBy(col("k"), col("probe_day"), col("n_zones"))
        .agg(sum(when(col("min_day") <= col("probe_day") &&
            col("probe_day") <= col("max_day"), 1L).otherwise(0L))
          .as("n_zones_touched"))
        .select(col("k"), col("probe_day"), col("n_zones"),
          col("n_zones_touched"),
          (floor(col("n_zones_touched").cast("double")
            / col("n_zones").cast("double") * lit(1000000) + lit(0.5))
            / lit(1000000)).as("overlap_factor"))
    })
}
