package graft.queries

import graft.GraftSession.table
import graft.functions.GeoFunctions
import graft.operators.{DistributedQuantile, RangeJoin, SpatialJoin}
import graft.plans.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 additions (SURVEY.md §2 B93-B101, C74): spatial radius join,
  * multi-touch attribution, grouped multiple regression, OHLC time
  * bars, item co-occurrence top-k, and the decile lift/gains table.
  *
  * Conventions as elsewhere: epoch seconds / cents / counts /
  * micro-units as exact integers so oracle rows compare bit-for-bit;
  * doubles only where BOTH engines compute the identical IEEE
  * expression over identical integer inputs (pinned operation order).
  */
object HorizonQueries {

  private val eventsCte =
    """e AS (
      |  SELECT event_id, user_id, event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      |  FROM events)""".stripMargin

  private def events(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      expr("ts div 1000000000").as("tsec"))

  // geo_radius_join: synthetic station coordinates — a ~55 km square
  // near the equator, lat/lon on decorrelated prime lattices so no
  // two stations coincide below 250k keys. Exact integer arithmetic
  // up to the single final /1000.0, so both engines start from
  // identical doubles.
  private val RadiusKm = 2.0
  private val CellDeg = 0.02 // 2.22 km of latitude ≥ RadiusKm; lon cos φ ≈ 1 here
  private def latSql(k: String) = s"((($k) * 7919) % 499) / 1000.0"
  private def lonSql(k: String) = s"((($k) * 104729) % 503) / 1000.0"

  // attribution lookback (seconds) for the multi-touch credit split
  private val LookbackS = 3600L

  // Shared Cramer solve for the 2-feature OLS: ONE formula string,
  // parsed by both Spark and DuckDB, so the double arithmetic runs in
  // the identical IEEE operation order over identical BIGINT sums —
  // the ab_test_stats convention. Matrix A = [[n,s1,s2],[s1,s11,s12],
  // [s2,s12,s22]], rhs b = [sy,s1y,s2y]; bk = det(A with column k
  // replaced by b) / det(A).
  private object Ols {
    private def d(c: String) = s"CAST($c AS DOUBLE)"
    private val (cn, s1, s2, sy, s11, s12, s22, s1y, s2y) =
      (d("cnt"), d("s1"), d("s2"), d("sy"), d("s11"), d("s12"), d("s22"),
        d("s1y"), d("s2y"))
    val det: String =
      s"($cn * ($s11 * $s22 - $s12 * $s12) - $s1 * ($s1 * $s22 - $s12 * $s2) + $s2 * ($s1 * $s12 - $s11 * $s2))"
    val det0: String =
      s"($sy * ($s11 * $s22 - $s12 * $s12) - $s1 * ($s1y * $s22 - $s12 * $s2y) + $s2 * ($s1y * $s12 - $s11 * $s2y))"
    val det1: String =
      s"($cn * ($s1y * $s22 - $s12 * $s2y) - $sy * ($s1 * $s22 - $s12 * $s2) + $s2 * ($s1 * $s2y - $s1y * $s2))"
    val det2: String =
      s"($cn * ($s11 * $s2y - $s1y * $s12) - $s1 * ($s1 * $s2y - $s1y * $s2) + $sy * ($s1 * $s12 - $s11 * $s2))"
  }

  val all: Seq[Q] = Seq(

    // B93: SPATIAL RADIUS JOIN — all station pairs within 2 km, via
    // grid-cell blocking (SpatialJoin.radiusJoin): each point joins
    // its own cell against the 9-cell neighborhood replica of the
    // other side, so the plan is an EQUI-join keyed on the cell — the
    // spelling that survives 100 TB — while Spark's native plan for
    // the raw distance predicate is a BroadcastNestedLoopJoin. The
    // oracle is the naive O(n²) cross join: it proves the blocking
    // loses NO pair. Both engines run the identical haversine
    // expression over identical doubles; the nearest pair to the 2 km
    // boundary sits ≥ 4.5 m away at every SF (probed), ~9 orders
    // above any transcendental-libm ulp skew.
    Q("geo_radius_join",
      s"""WITH p AS (
         |  SELECT c_custkey AS id,
         |    ${latSql("c_custkey")} AS lat,
         |    ${lonSql("c_custkey")} AS lon
         |  FROM customer)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  round(${GeoFunctions.haversineKmSql("a.lat", "a.lon", "b.lat", "b.lon")}, 4)
         |    AS dist_km4
         |FROM p a JOIN p b ON a.id < b.id
         |WHERE ${GeoFunctions.haversineKmSql("a.lat", "a.lon", "b.lat", "b.lon")}
         |  < $RadiusKm""".stripMargin) { (s, dir) =>
      def pts(suffix: String) = table(s, dir, "customer").select(
        col("c_custkey").as(s"id$suffix"),
        expr(latSql("c_custkey")).as(s"lat$suffix"),
        expr(lonSql("c_custkey")).as(s"lon$suffix"))
      SpatialJoin.radiusJoin(pts("_a"), pts("_b"),
          "lat_a", "lon_a", "lat_b", "lon_b", RadiusKm, CellDeg)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(col("dist_km"), 4).as("dist_km4"))
    },

    // B94: MULTI-TOUCH (LINEAR) ATTRIBUTION — each purchase's cents
    // split EXACTLY across every click in its 1-hour lookback window,
    // Hamilton largest-remainder style (base = cents div n; the first
    // cents mod n clicks in (click_s, click_id) order get +1), so
    // credit conserves to the cent per purchase. The click×window
    // match is RangeJoin.pointInIntervalKeyed — a (user, bucket)
    // equi-join, never a per-purchase range scan of the click stream.
    // Clickless purchases keep full credit on a NULL click row (the
    // "direct" channel). Per-purchase windows are small by
    // construction (one user's clicks in one hour).
    Q("attribution_multi_touch",
      s"""WITH $eventsCte,
         |p AS (SELECT event_id AS purchase_id, user_id, tsec AS ps,
         |        CAST(floor(value * 100) AS BIGINT) AS cents
         |      FROM e WHERE event_type = 'purchase'),
         |c AS (SELECT event_id AS click_id, user_id, tsec AS cs
         |      FROM e WHERE event_type = 'click'),
         |j AS (SELECT p.purchase_id, p.user_id, p.ps, p.cents, c.click_id, c.cs
         |      FROM p JOIN c ON p.user_id = c.user_id
         |        AND c.cs >= p.ps - $LookbackS AND c.cs <= p.ps),
         |rk AS (SELECT purchase_id, user_id, ps, cents, click_id, cs,
         |        row_number() OVER (PARTITION BY purchase_id ORDER BY cs, click_id) AS rn,
         |        count(*) OVER (PARTITION BY purchase_id) AS n
         |      FROM j)
         |SELECT purchase_id, user_id, ps AS purchase_s, click_id,
         |  cs AS click_s,
         |  CAST(cents // n + CASE WHEN rn <= cents % n THEN 1 ELSE 0 END AS BIGINT)
         |    AS credit_cents
         |FROM rk
         |UNION ALL
         |SELECT purchase_id, user_id, ps AS purchase_s,
         |  CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS click_s,
         |  cents AS credit_cents
         |FROM p WHERE purchase_id NOT IN (SELECT purchase_id FROM j)""".stripMargin) { (s, dir) =>
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("tsec").as("ps"), floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("lo", col("ps") - LookbackS)
        .withColumn("hi", col("ps"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("tsec").as("cs"))
      val joined = RangeJoin.pointInIntervalKeyed(
        clicks, purchases, Seq("user_id"), "cs", "lo", "hi", LookbackS)
      val w = Window.partitionBy(col("purchase_id"))
      val attributed = joined
        .withColumn("rn", row_number().over(w.orderBy(col("cs"), col("click_id"))))
        .withColumn("n", count(lit(1)).over(w))
        .select(col("purchase_id"), col("user_id"), col("ps").as("purchase_s"),
          col("click_id"), col("cs").as("click_s"),
          (expr("cents div n") +
            when(col("rn") <= col("cents") % col("n"), 1L).otherwise(0L))
            .as("credit_cents"))
      val direct = purchases
        .join(joined.select("purchase_id").distinct(), Seq("purchase_id"), "left_anti")
        .select(col("purchase_id"), col("user_id"), col("ps").as("purchase_s"),
          lit(null).cast("long").as("click_id"),
          lit(null).cast("long").as("click_s"),
          col("cents").as("credit_cents"))
      attributed.unionByName(direct)
    },

    // B95: GROUPED MULTIPLE REGRESSION — per order-priority OLS of
    // order value (cents) on (lineitem count, order week) through the
    // normal equations. The 100 TB shape: ONE pass accumulates the
    // gram matrix as nine map-side-combinable exact-BIGINT sums
    // (constant rows per group on the exchange regardless of corpus
    // size); the 3×3 Cramer solve then runs on the driver-sized
    // result in doubles, from ONE formula string parsed by both
    // engines — identical IEEE operation order, bit-equal
    // coefficients (the ab_test_stats convention).
    Q("grouped_ols2",
      s"""WITH li AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x1
         |  FROM lineitem GROUP BY l_orderkey),
         |o AS (
         |  SELECT o_orderpriority AS pri,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) AS y,
         |    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 604800 AS x2,
         |    x1
         |  FROM orders JOIN li ON o_orderkey = l_orderkey),
         |g AS (
         |  SELECT pri, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
         |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
         |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
         |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
         |    CAST(sum(x2 * y) AS BIGINT) AS s2y
         |  FROM o GROUP BY pri)
         |SELECT pri, cnt AS n_orders,
         |  ${Ols.det0} / ${Ols.det} AS b0,
         |  ${Ols.det1} / ${Ols.det} AS b1,
         |  ${Ols.det2} / ${Ols.det} AS b2
         |FROM g""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x1"))
      val o = table(s, dir, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("pri"),
          floor(col("o_totalprice") * 100).cast("long").as("y"),
          // o_orderdate arrives TIMESTAMP_NTZ; session TZ is UTC, so
          // the NTZ→TZ cast is shift-free (GraftSession convention)
          expr("unix_seconds(CAST(o_orderdate AS TIMESTAMP)) div 604800").as("x2"),
          col("x1"))
      o.groupBy(col("pri"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
          sum(col("y")).as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"))
        .select(col("pri"), col("cnt").as("n_orders"),
          expr(s"${Ols.det0} / ${Ols.det}").as("b0"),
          expr(s"${Ols.det1} / ${Ols.det}").as("b1"),
          expr(s"${Ols.det2} / ${Ols.det}").as("b2"))
    },

    // B96: OHLC TIME BARS — the market-data downsample: per
    // (user, hour) open/high/low/close/volume in ONE map-side-
    // combinable keyed agg. Open/close are min_by/max_by over a
    // packed (tsec, event_id) BIGINT key (tsec·2³⁰ + event_id —
    // injective while event_id < 2³⁰, which holds with 100× headroom),
    // so ties are impossible and partial aggregation works — never a
    // per-key sort or window over the full stream.
    Q("ohlc_bars",
      s"""WITH $eventsCte,
         |v AS (SELECT user_id, tsec // 3600 AS hr,
         |        CAST(floor(value * 100) AS BIGINT) AS cents,
         |        tsec * 1073741824 + event_id AS k
         |      FROM e)
         |SELECT user_id, hr,
         |  CAST(arg_min(cents, k) AS BIGINT) AS open_cents,
         |  CAST(max(cents) AS BIGINT) AS high_cents,
         |  CAST(min(cents) AS BIGINT) AS low_cents,
         |  CAST(arg_max(cents, k) AS BIGINT) AS close_cents,
         |  CAST(count(*) AS BIGINT) AS n_trades,
         |  CAST(sum(cents) AS BIGINT) AS vol_cents
         |FROM v GROUP BY user_id, hr""".stripMargin) { (s, dir) =>
      events(s, dir)
        .select(col("user_id"), expr("tsec div 3600").as("hr"),
          floor(col("value") * 100).cast("long").as("cents"),
          (col("tsec") * 1073741824L + col("event_id")).as("k"))
        .groupBy(col("user_id"), col("hr"))
        .agg(min_by(col("cents"), col("k")).as("open_cents"),
          max(col("cents")).as("high_cents"),
          min(col("cents")).as("low_cents"),
          max_by(col("cents"), col("k")).as("close_cents"),
          count(lit(1)).as("n_trades"),
          sum(col("cents")).as("vol_cents"))
    },

    // B97: ITEM CO-OCCURRENCE TOP-K — "customers who bought X also
    // bought": distinct (order, part) pairs self-join on the order
    // key (≤ 7 items per order ⇒ ≤ 21 pairs per order — linear in
    // orders, never a part×part matrix), integer-micro lift
    // normalizes by both items' order frequencies, and the top-3
    // per item runs on TopKPerKey's bounded heaps (map-side combine,
    // no per-item window sort). All-integer output; (lift DESC,
    // other ASC) is a total order per item.
    Q("item_cooccurrence_topk",
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |nt AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM lp),
        |f AS (SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM lp GROUP BY pk),
        |pr AS (SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS cnt_pair
        |       FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY a.pk, b.pk),
        |sym AS (SELECT p1 AS item, p2 AS other_item, cnt_pair FROM pr
        |        UNION ALL
        |        SELECT p2 AS item, p1 AS other_item, cnt_pair FROM pr),
        |sc AS (SELECT item, other_item, cnt_pair,
        |         CAST((cnt_pair * 1000000 * nt.n_orders)
        |           // (fa.cnt * fb.cnt) AS BIGINT) AS lift_micro
        |       FROM sym CROSS JOIN nt
        |       JOIN f fa ON sym.item = fa.pk
        |       JOIN f fb ON sym.other_item = fb.pk),
        |rk AS (SELECT item, other_item, cnt_pair, lift_micro,
        |         row_number() OVER (PARTITION BY item
        |           ORDER BY lift_micro DESC, other_item) AS rnk
        |       FROM sc)
        |SELECT item, other_item, cnt_pair, lift_micro, CAST(rnk AS INT) AS rnk
        |FROM rk WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val nOrders = lp.agg(countDistinct(col("ok")).as("n_orders"))
      val freq = lp.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
      val pairs = lp.select(col("ok"), col("pk").as("p1"))
        .join(lp.select(col("ok"), col("pk").as("p2")), Seq("ok"))
        .filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cnt_pair"))
      val sym = pairs.select(col("p1").as("item"), col("p2").as("other_item"), col("cnt_pair"))
        .unionByName(pairs.select(col("p2").as("item"), col("p1").as("other_item"), col("cnt_pair")))
      val scored = sym.crossJoin(broadcast(nOrders))
        .join(broadcast(freq.select(col("pk").as("item"), col("cnt").as("cnt_a"))), Seq("item"))
        .join(broadcast(freq.select(col("pk").as("other_item"), col("cnt").as("cnt_b"))), Seq("other_item"))
        .select(col("item"), col("other_item"), col("cnt_pair"),
          expr("(cnt_pair * 1000000 * n_orders) div (cnt_a * cnt_b)").as("lift_micro"))
      TopK.perKey(scored, Seq("item"),
          Seq(("lift_micro", false), ("other_item", true)), 3)
        .select(col("item"), col("other_item"), col("cnt_pair"),
          col("lift_micro"), col("rnk"))
    },

    // B98: DECILE LIFT / GAINS TABLE — the model-eval staple: score
    // customers (account balance), cut into deciles at the EXACT
    // bracket-rank values (DistributedQuantile.cutValues — rank
    // selection, not interpolation, so the cut is engine-stable by
    // construction; the equidepth_histogram precedent), and report
    // each decile's conversion (customer placed ≥ 1 order) against
    // the global rate as exact integer micro-units. One scan + one
    // broadcast of 9 cut values + one keyed agg.
    Q("decile_lift",
      s"""WITH conv AS (
         |  SELECT c_custkey, c_acctbal,
         |    CASE WHEN c_custkey IN (SELECT o_custkey FROM orders)
         |      THEN 1 ELSE 0 END AS converted
         |  FROM customer),
         |rk AS (
         |  SELECT c_acctbal AS v,
         |    row_number() OVER (ORDER BY c_acctbal) - 1 AS r,
         |    count(*) OVER () AS n
         |  FROM customer),
         |b AS (
         |  SELECT ${(1 to 9).map(k => s"max(CASE WHEN r = ($k*(n-1))//10 THEN v END) AS b$k").mkString(", ")}
         |  FROM rk),
         |d AS (
         |  SELECT CAST(${(1 to 9).map(k => s"(CASE WHEN c_acctbal > b$k THEN 1 ELSE 0 END)").mkString(" + ")} AS INT) AS decile,
         |    converted
         |  FROM conv, b),
         |g AS (
         |  SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
         |    CAST(sum(converted) AS BIGINT) AS n_conv
         |  FROM d GROUP BY decile),
         |t AS (SELECT CAST(sum(n_cust) AS BIGINT) AS t_cust,
         |        CAST(sum(n_conv) AS BIGINT) AS t_conv FROM g)
         |SELECT decile, n_cust, n_conv,
         |  CAST((n_conv * 1000000) // n_cust AS BIGINT) AS conv_micro,
         |  CAST((n_conv * t_cust * 1000000) // (n_cust * t_conv) AS BIGINT) AS lift_micro
         |FROM g, t""".stripMargin) { (s, dir) =>
      val cust = table(s, dir, "customer")
      val conv = cust
        .join(table(s, dir, "orders").select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_acctbal"),
          when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("converted"))
      val bps = DistributedQuantile
        .cutValues(cust.withColumn("_g", lit("all")), "_g", "c_acctbal",
          (1 to 9).map(k => (s"b$k", k, 10)))
        .drop("g").drop((1 to 9).map(k => s"b${k}_rem"): _*)
      val decile = (1 to 9)
        .map(k => (col("c_acctbal") > col(s"b$k")).cast("int"))
        .reduce(_ + _)
      val g = conv.crossJoin(broadcast(bps))
        .select(decile.cast("int").as("decile"), col("converted"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("converted")).as("n_conv"))
      val t = g.agg(sum(col("n_cust")).as("t_cust"), sum(col("n_conv")).as("t_conv"))
      g.crossJoin(broadcast(t))
        .select(col("decile"), col("n_cust"), col("n_conv"),
          expr("(n_conv * 1000000) div n_cust").as("conv_micro"),
          expr("(n_conv * t_cust * 1000000) div (n_cust * t_conv)").as("lift_micro"))
    },

    // B99: RFM SEGMENTATION — the CRM warehouse staple: per customer
    // Recency (last order second), Frequency (order count), Monetary
    // (lifetime cents), each cut into quintiles at the EXACT
    // bracket-rank values (three DistributedQuantile.cutValues
    // passes — rank selection, engine-stable by construction; the
    // decile_lift precedent), then segment cells reported with
    // exact counts and cents. Per-customer metrics are one keyed agg;
    // the 12 cut values broadcast over one pass — no per-customer
    // window, no global sort.
    Q("rfm_segments", {
      def bpSql(metric: String) =
        s"""(SELECT ${(1 to 4).map(k => s"max(CASE WHEN r = ($k*(n-1))//5 THEN v END) AS ${metric}_b$k").mkString(", ")}
           | FROM (SELECT CAST($metric AS DOUBLE) AS v,
           |   row_number() OVER (ORDER BY CAST($metric AS DOUBLE)) - 1 AS r,
           |   count(*) OVER () AS n FROM m)) ${metric}_b""".stripMargin
      def codeSql(metric: String) =
        "1 + " + (1 to 4).map(k => s"(CASE WHEN CAST($metric AS DOUBLE) > ${metric}_b$k THEN 1 ELSE 0 END)")
          .mkString(" + ")
      s"""WITH m AS (
         |  SELECT o_custkey AS ck,
         |    CAST(max(floor(epoch(o_orderdate))) AS BIGINT) AS rec,
         |    CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon
         |  FROM orders GROUP BY 1),
         |b AS (SELECT * FROM ${bpSql("rec")}, ${bpSql("freq")}, ${bpSql("mon")}),
         |coded AS (
         |  SELECT CAST(${codeSql("rec")} AS INT) AS r_code,
         |    CAST(${codeSql("freq")} AS INT) AS f_code,
         |    CAST(${codeSql("mon")} AS INT) AS m_code,
         |    mon
         |  FROM m, b)
         |SELECT r_code, f_code, m_code,
         |  CAST(count(*) AS BIGINT) AS n_cust,
         |  CAST(sum(mon) AS BIGINT) AS cents_sum
         |FROM coded GROUP BY 1, 2, 3""".stripMargin
    }) { (s, dir) =>
      val m = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(max(expr("unix_seconds(CAST(o_orderdate AS TIMESTAMP))")).as("rec"),
          count(lit(1)).as("freq"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("mon"))
      val md = m
        .withColumn("rec_d", col("rec").cast("double"))
        .withColumn("freq_d", col("freq").cast("double"))
        .withColumn("mon_d", col("mon").cast("double"))
      def bps(metric: String) = DistributedQuantile
        .cutValues(md.withColumn("_g", lit("all")), "_g",
          // cuts on the double image of the metric — cast first so
          // both engines rank identical values
          s"${metric}_d",
          (1 to 4).map(k => (s"${metric}_b$k", k, 5)))
        .drop("g").drop((1 to 4).map(k => s"${metric}_b${k}_rem"): _*)
      def code(metric: String) = (1 to 4)
        .map(k => (col(s"${metric}_d") > col(s"${metric}_b$k")).cast("int"))
        .reduce(_ + _) + 1
      md.crossJoin(broadcast(bps("rec")))
        .crossJoin(broadcast(bps("freq")))
        .crossJoin(broadcast(bps("mon")))
        .select(code("rec").cast("int").as("r_code"),
          code("freq").cast("int").as("f_code"),
          code("mon").cast("int").as("m_code"), col("mon"))
        .groupBy(col("r_code"), col("f_code"), col("m_code"))
        .agg(count(lit(1)).as("n_cust"), sum(col("mon")).as("cents_sum"))
    },

    // C74: END-TO-END ENTITY RESOLUTION — the record-linkage families
    // composed into the full pipeline: ED-Join prefix-filtered fuzzy
    // pairs (C28) → hash-min connected components over the match
    // graph (C15b) → one canonical record per entity cluster by
    // highest support (most part rows, ties → smallest name id) via a
    // map-side-combinable max_by — never a per-cluster sort. Names
    // get integral ids (min p_partkey — deterministic, replayable);
    // singletons canonicalize to themselves. Oracle: O(|V|²)
    // levenshtein pair set + recursive-CTE closure (the dedup_clusters
    // convention — the oracle is the quadratic specification, the
    // Spark plan is the filtered one).
    Q("entity_resolution",
      """WITH RECURSIVE n AS (
        |  SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS nid,
        |    CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY p_name),
        |pr AS (
        |  SELECT a.nid AS id_a, b.nid AS id_b
        |  FROM n a JOIN n b ON a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |edges AS (SELECT id_a AS s, id_b AS t FROM pr
        |          UNION SELECT id_b, id_a FROM pr),
        |reach(id, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
        |  UNION
        |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.t = r.id),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |lbl AS (
        |  SELECT n.p_name, n.nid, n.n_parts,
        |    coalesce(cc.cluster_id, n.nid) AS cluster_id
        |  FROM n LEFT JOIN cc ON n.nid = cc.id),
        |canon AS (
        |  SELECT cluster_id, p_name AS canonical_name FROM (
        |    SELECT cluster_id, p_name,
        |      row_number() OVER (PARTITION BY cluster_id
        |        ORDER BY n_parts DESC, nid) AS rn
        |    FROM lbl) WHERE rn = 1)
        |SELECT lbl.p_name AS name, lbl.cluster_id, lbl.n_parts,
        |  canon.canonical_name
        |FROM lbl JOIN canon USING (cluster_id)""".stripMargin) { (s, dir) =>
      val names = table(s, dir, "part")
        .groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("nid"), count(lit(1)).as("n_parts"))
      val pairs = graft.operators.FuzzyJoin
        .editDistancePairs(table(s, dir, "part"), "p_name", maxDist = 2)
        .join(names.select(col("p_name").as("name_a"), col("nid").as("id_a")), Seq("name_a"))
        .join(names.select(col("p_name").as("name_b"), col("nid").as("id_b")), Seq("name_b"))
        .select(col("id_a"), col("id_b"))
      val cc = graft.operators.ConnectedComponents.clusters(pairs)
        .select(col("id"), col("cluster_id").as("cc_label"))
      val labeled = names
        .join(cc, names("nid") === cc("id"), "left")
        .select(col("p_name"), col("nid"), col("n_parts"),
          coalesce(col("cc_label"), col("nid")).as("cluster_id"))
      val canon = labeled.groupBy(col("cluster_id"))
        .agg(max_by(col("p_name"),
          struct(col("n_parts"), (-col("nid")).as("neg"))).as("canonical_name"))
      labeled.join(canon, Seq("cluster_id"))
        .select(col("p_name").as("name"), col("cluster_id"),
          col("n_parts"), col("canonical_name"))
    },

    // B101: MOVING-AVERAGE CROSSOVER — the quant/monitoring signal:
    // per-user daily spend, 7-day vs 28-day trailing means, emit the
    // days where the fast average crosses the slow one. DIVISION-FREE:
    // the mean comparison cross-multiplies exact cent sums by window
    // counts (s7·c28 vs s28·c7 — all BIGINT), so there is no float
    // convention at all. Per-user RANGE-frame windows over DAILY
    // rollup rows — the B45 small-group regime where a window IS the
    // right plan (≤ ~30 rows per frame, never the raw event stream).
    Q("ma_crossover",
      s"""WITH $eventsCte,
         |d AS (
         |  SELECT user_id, tsec // 86400 AS day,
         |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM e GROUP BY 1, 2),
         |w AS (
         |  SELECT user_id, day, cents,
         |    CAST(sum(cents) OVER w7 AS BIGINT) AS s7,
         |    CAST(count(*) OVER w7 AS BIGINT) AS c7,
         |    CAST(sum(cents) OVER w28 AS BIGINT) AS s28,
         |    CAST(count(*) OVER w28 AS BIGINT) AS c28
         |  FROM d
         |  WINDOW w7 AS (PARTITION BY user_id ORDER BY day
         |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
         |    w28 AS (PARTITION BY user_id ORDER BY day
         |      RANGE BETWEEN 27 PRECEDING AND CURRENT ROW)),
         |lagged AS (
         |  SELECT user_id, day, s7, c7, s28, c28,
         |    lag(s7) OVER u AS p7, lag(c7) OVER u AS pc7,
         |    lag(s28) OVER u AS p28, lag(c28) OVER u AS pc28
         |  FROM w WINDOW u AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day,
         |  CASE WHEN s7 * c28 > s28 * c7 THEN 'golden' ELSE 'death' END AS signal
         |FROM lagged
         |WHERE p7 IS NOT NULL AND (
         |  (s7 * c28 > s28 * c7 AND p7 * pc28 <= p28 * pc7) OR
         |  (s7 * c28 < s28 * c7 AND p7 * pc28 >= p28 * pc7))""".stripMargin) { (s, dir) =>
      val d = events(s, dir)
        .select(col("user_id"), expr("tsec div 86400").as("day"),
          floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("v")).as("cents"))
      val w7 = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      val w28 = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rangeBetween(-27, 0)
      val u = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val w = d
        .withColumn("s7", sum(col("cents")).over(w7))
        .withColumn("c7", count(lit(1)).over(w7))
        .withColumn("s28", sum(col("cents")).over(w28))
        .withColumn("c28", count(lit(1)).over(w28))
        .withColumn("p7", lag(col("s7"), 1).over(u))
        .withColumn("pc7", lag(col("c7"), 1).over(u))
        .withColumn("p28", lag(col("s28"), 1).over(u))
        .withColumn("pc28", lag(col("c28"), 1).over(u))
      maCrossoverBody(w)
    },

    // B104: K-ANONYMITY GENERALIZATION AUDIT — the privacy gate a
    // training-data release needs: quasi-identifiers (lang, source,
    // doc length) generalized along a ladder (exact → /10 → /100 →
    // /1000), global recoding picks the SMALLEST level where every
    // equivalence class holds ≥ k=5 rows. ONE pass: each row explodes
    // into its 4 ladder variants, one keyed agg builds every level's
    // class histogram simultaneously (the grouping-sets shape), and
    // the per-level audit + chosen flag reduce driver-sized rows. All
    // integer.
    Q("kanon_generalize",
      """WITH lv AS (
        |  SELECT lang, source, u.level,
        |    CASE u.level WHEN 0 THEN n_chars WHEN 1 THEN n_chars // 10
        |      WHEN 2 THEN n_chars // 100 ELSE n_chars // 1000 END AS bucket
        |  FROM documents, (SELECT unnest([0, 1, 2, 3]) AS level) u),
        |c AS (SELECT level, lang, source, bucket, CAST(count(*) AS BIGINT) AS n
        |      FROM lv GROUP BY 1, 2, 3, 4),
        |a AS (SELECT level, CAST(count(*) AS BIGINT) AS n_classes,
        |        CAST(min(n) AS BIGINT) AS min_class_size,
        |        CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
        |          AS rows_below_k
        |      FROM c GROUP BY level),
        |mq AS (SELECT min(level) AS m FROM a WHERE min_class_size >= 5)
        |SELECT CAST(level AS INT) AS level, n_classes, min_class_size,
        |  rows_below_k,
        |  CAST(CASE WHEN level = (SELECT m FROM mq) THEN 1 ELSE 0 END AS INT)
        |    AS chosen
        |FROM a""".stripMargin) { (s, dir) =>
      val lv = table(s, dir, "documents").select(col("lang"), col("source"),
          explode(array(
            struct(lit(0).as("level"), col("n_chars").as("bucket")),
            struct(lit(1).as("level"), expr("n_chars div 10").as("bucket")),
            struct(lit(2).as("level"), expr("n_chars div 100").as("bucket")),
            struct(lit(3).as("level"), expr("n_chars div 1000").as("bucket"))))
            .as("lb"))
        .select(col("lang"), col("source"), col("lb.level").as("level"),
          col("lb.bucket").as("bucket"))
      val classes = lv.groupBy(col("level"), col("lang"), col("source"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      val audit = classes.groupBy(col("level"))
        .agg(count(lit(1)).as("n_classes"),
          min(col("n")).as("min_class_size"),
          coalesce(sum(when(col("n") < 5, col("n"))), lit(0L)).as("rows_below_k"))
      val mq = audit.filter(col("min_class_size") >= 5).agg(min(col("level")).as("m"))
      audit.crossJoin(broadcast(mq))
        .select(col("level").cast("int").as("level"), col("n_classes"),
          col("min_class_size"), col("rows_below_k"),
          when(col("level") === col("m"), 1).otherwise(0).cast("int").as("chosen"))
    },

    // B105: WINSORIZATION — robust-stats clipping at the [p01, p99]
    // ORDER STATISTICS: lo = the value at rank ⌈0.01·(n−1)⌉, hi = the
    // value at rank ⌊0.99·(n−1)⌋ (DistributedQuantile.cutValues —
    // clamp bounds are actual data doubles selected by rank, so both
    // the comparisons AND the clipped-cents sum are engine-stable by
    // construction; an interpolated bound would put a synthetic
    // double into floor(·*100), the ulp hazard the round-13
    // measurement de-fused). Clipped sums reported as exact integer
    // cents per priority. One scan + a 2-value broadcast.
    Q("winsorize_prices",
      """WITH rk AS (
        |  SELECT o_totalprice AS v,
        |    row_number() OVER (ORDER BY o_totalprice) - 1 AS r,
        |    count(*) OVER () AS n
        |  FROM orders),
        |b AS (
        |  SELECT max(CASE WHEN r = (1*(n-1)+99)//100 THEN v END) AS lo,
        |    max(CASE WHEN r = (99*(n-1))//100 THEN v END) AS hi
        |  FROM rk)
        |SELECT o_orderpriority AS pri,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  CAST(sum(CAST(floor(
        |    least(greatest(o_totalprice, lo), hi) * 100) AS BIGINT)) AS BIGINT)
        |    AS clipped_cents
        |FROM orders, b GROUP BY 1""".stripMargin) { (s, dir) =>
      val orders = table(s, dir, "orders")
      val bps = DistributedQuantile
        .cutValues(orders.withColumn("_g", lit("all")), "_g", "o_totalprice",
          Seq(("lo", 1, 100), ("hi", 99, 100)), ceilNames = Set("lo"))
        .drop("g").drop("lo_rem", "hi_rem")
      orders.crossJoin(broadcast(bps))
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("o_totalprice") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          sum(floor(least(greatest(col("o_totalprice"), col("lo")), col("hi")) * 100)
            .cast("long")).as("clipped_cents"))
    })

  // B101 body split out for readability of the Seq above.
  private def maCrossoverBody(w: DataFrame): DataFrame =
      w.filter(col("p7").isNotNull &&
          ((col("s7") * col("c28") > col("s28") * col("c7") &&
            col("p7") * col("pc28") <= col("p28") * col("pc7")) ||
           (col("s7") * col("c28") < col("s28") * col("c7") &&
            col("p7") * col("pc28") >= col("p28") * col("pc7"))))
        .select(col("user_id"), col("day"),
          when(col("s7") * col("c28") > col("s28") * col("c7"), "golden")
            .otherwise("death").as("signal"))
}
