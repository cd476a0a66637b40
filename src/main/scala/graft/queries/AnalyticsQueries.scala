package graft.queries

import graft.GraftSession.table
import graft.operators.DistributedPrefixSum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-analytics surface (SURVEY.md §2 B58-B64): SCD2 history
  * build, A/B experiment statistics, rolling
  * multi-day distinct counts, hierarchy closure, a data-quality audit
  * pass, and incremental aggregate maintenance.
  *
  * Shared conventions: exact-integer outputs wherever possible (cents
  * = ⌊100·price⌋, epoch seconds, counts) so every oracle row compares
  * bit-for-bit; DuckDB sums CAST back to BIGINT (HUGEINT widening
  * renders as float in the driver's pandas hash otherwise).
  */
object AnalyticsQueries {

  val all: Seq[Q] = Seq(

    // B58: SCD Type-2 history build — turn a changelog (orders as
    // per-customer versions, ordered by (orderdate, orderkey)) into
    // validity intervals: each version is valid [valid_from,
    // valid_to), the latest version is open-ended (is_current). The
    // lag/lead machinery runs per KEY — per-customer groups are small
    // by construction (the B45 rule), so a window is the right plan;
    // the keyed shuffle is the only exchange. Companion to B55
    // (cdc_merge_latest), which keeps only the latest version — SCD2
    // keeps them all with validity.
    Q("scd2_history",
      """WITH c AS (
        |  SELECT o_custkey AS key, o_orderkey AS seq,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS v,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT key, seq, cents, v AS valid_from,
        |  lead(v) OVER (PARTITION BY key ORDER BY v, seq) AS valid_to,
        |  CAST(CASE WHEN lead(v) OVER (PARTITION BY key ORDER BY v, seq)
        |    IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM c""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "orders").select(
        col("o_custkey").as("key"), col("o_orderkey").as("seq"),
        unix_timestamp(col("o_orderdate")).as("v"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("key")).orderBy(col("v"), col("seq"))
      c.withColumn("valid_to", lead(col("v"), 1).over(w))
        .select(col("key"), col("seq"), col("cents"),
          col("v").as("valid_from"), col("valid_to"),
          when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
    },

    // B60: A/B experiment analysis — per-variant sufficient statistics
    // (n, Σx, Σx²) as EXACT integers plus the Welch t statistic
    // computed from them. The per-user metric is the exact-cents event
    // value sum; variant assignment hashes the unit of randomization
    // (user), never the event. Two map-side-combinable exchanges
    // (user rollup, 2-row variant rollup); the t arithmetic runs on a
    // 1-row result in IDENTICAL textual order in both engines (doubles
    // of exact integers + one sqrt — deterministic IEEE), rounded with
    // the explicit floor(x·10⁶ + 0.5) form. Σx² is computed in DOUBLE
    // (Σx up to ~2^31 cents would overflow the BIGINT square at real
    // scale; the variance formula is the textbook one-pass form).
    Q("ab_test_stats", {
      val varA = "(ssq_a - CAST(sum_a AS DOUBLE) * CAST(sum_a AS DOUBLE) / n_a) / (n_a - 1.0)"
      val varB = "(ssq_b - CAST(sum_b AS DOUBLE) * CAST(sum_b AS DOUBLE) / n_b) / (n_b - 1.0)"
      s"""WITH u AS (
         |  SELECT user_id % 2 AS variant,
         |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM events GROUP BY user_id),
         |v AS (
         |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cents) AS BIGINT) AS s,
         |    sum(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE)) AS ss
         |  FROM u GROUP BY variant),
         |p AS (
         |  SELECT
         |    max(CASE WHEN variant = 0 THEN n END) AS n_a,
         |    max(CASE WHEN variant = 1 THEN n END) AS n_b,
         |    max(CASE WHEN variant = 0 THEN s END) AS sum_a,
         |    max(CASE WHEN variant = 1 THEN s END) AS sum_b,
         |    max(CASE WHEN variant = 0 THEN ss END) AS ssq_a,
         |    max(CASE WHEN variant = 1 THEN ss END) AS ssq_b
         |  FROM v)
         |SELECT n_a, n_b, sum_a, sum_b,
         |  floor((CAST(sum_a AS DOUBLE) / n_a - CAST(sum_b AS DOUBLE) / n_b)
         |    / sqrt(($varA) / n_a + ($varB) / n_b) * 1000000 + 0.5) / 1000000
         |    AS welch_t
         |FROM p""".stripMargin
    }) { (s, dir) =>
      val u = table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        .select((col("user_id") % 2).as("variant"), col("cents"))
      val v = u.groupBy(col("variant")).agg(
        count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("cents").cast("double") * col("cents").cast("double")).as("ss"))
      val p = v.agg(
        max(when(col("variant") === 0, col("n"))).as("n_a"),
        max(when(col("variant") === 1, col("n"))).as("n_b"),
        max(when(col("variant") === 0, col("s"))).as("sum_a"),
        max(when(col("variant") === 1, col("s"))).as("sum_b"),
        max(when(col("variant") === 0, col("ss"))).as("ssq_a"),
        max(when(col("variant") === 1, col("ss"))).as("ssq_b"))
      val varA = (col("ssq_a") - col("sum_a").cast("double") * col("sum_a").cast("double") / col("n_a")) /
        (col("n_a") - lit(1.0))
      val varB = (col("ssq_b") - col("sum_b").cast("double") * col("sum_b").cast("double") / col("n_b")) /
        (col("n_b") - lit(1.0))
      val t = (col("sum_a").cast("double") / col("n_a") - col("sum_b").cast("double") / col("n_b")) /
        sqrt(varA / col("n_a") + varB / col("n_b"))
      p.select(col("n_a"), col("n_b"), col("sum_a"), col("sum_b"),
        (floor(t * lit(1000000) + lit(0.5)) / lit(1000000)).as("welch_t"))
    },

    // B61: rolling 7-day distinct users per day — the DAU/WAU-style
    // windowed-distinct metric. A naive per-day window over the event
    // stream re-sorts everything; the scale plan dedups to the
    // (user, day) grain first (one keyed exchange, map-side
    // combinable), then EXPLODES each activity day to the ≤7 target
    // days it contributes to — a bounded 7× row expansion — and
    // counts distinct users per target day. The DuckDB range-join
    // spelling is the specification; the explode is the plan (a
    // bounded fan-out beats a per-day range join replaying the whole
    // activity table).
    Q("rolling_distinct_users",
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud)
        |SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_active_7d
        |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day""".stripMargin) { (s, dir) =>
      val ud = table(s, dir, "events")
        .select(col("user_id"), expr("(ts div 1000000000) div 86400").as("day"))
        .distinct()
      val days = ud.select(col("day")).distinct()
        .select(col("day").as("tday"))
      ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("tday"))
        .join(days, Seq("tday"))
        .groupBy(col("tday").as("day"))
        .agg(countDistinct(col("user_id")).as("n_active_7d"))
    },

    // B62: hierarchy closure + rollup — resolve every node of a
    // parent-pointer forest (customers under parent = key div 10,
    // roots = keys < 10) to its root and depth, then roll up subtree
    // size and max depth per root. The scale spelling is POINTER
    // DOUBLING: each round joins the ancestor table to itself, so
    // ⌈log₂ depth⌉ keyed self-joins resolve ANY depth — never a
    // per-level loop (depth rounds) and never a recursive
    // driver-side walk. The DuckDB recursive CTE is the
    // specification; rounds are computed from the max key (depth ≤
    // ⌈log₁₀ max⌉, so 4 rounds cover a 10¹⁶-key hierarchy).
    Q("hierarchy_rollup",
      """WITH RECURSIVE r AS (
        |  SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
        |  FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, r.root, r.depth + 1
        |  FROM customer c JOIN r ON c.c_custkey // 10 = r.node
        |  WHERE c.c_custkey >= 10)
        |SELECT root, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(max(depth) AS BIGINT) AS max_depth
        |FROM r GROUP BY root""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer").select(col("c_custkey").as("node"))
      val maxKey = c.agg(max(col("node"))).head().getLong(0)
      val depthBound = math.max(1, math.ceil(math.log10(maxKey.toDouble + 1)).toInt)
      val rounds = math.max(1,
        32 - Integer.numberOfLeadingZeros(math.max(1, depthBound - 1)))
      var anc = c.select(col("node"),
        when(col("node") < 10, col("node")).otherwise(expr("node div 10")).as("anc"),
        when(col("node") < 10, lit(0L)).otherwise(lit(1L)).as("d"))
      for (_ <- 1 to rounds) {
        val b = anc.select(col("node").as("bn"), col("anc").as("banc"),
          col("d").as("bd"))
        anc = anc.join(b, col("anc") === col("bn"))
          .select(col("node"), col("banc").as("anc"),
            (col("d") + col("bd")).as("d"))
      }
      anc.groupBy(col("anc").as("root"))
        .agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_depth"))
    },

    // B63: data-quality audit — the constraint-checking pass every
    // production warehouse runs before publishing a table: key
    // uniqueness, referential integrity (both directions), domain
    // checks. Each check is a pruned scan + keyed anti-join or
    // conditional count; the audit composes them into ONE row so a
    // single hash mismatch flags any violated constraint. At 100 TB
    // each anti-join shuffles only the key columns.
    Q("dq_audit",
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                     WHERE c.c_custkey = o.o_custkey))
        |    AS n_orphan_orders,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_custkey = c.c_custkey))
        |    AS n_customers_no_orders,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT o_orderkey FROM orders GROUP BY o_orderkey
        |     HAVING count(*) > 1)) AS n_dup_orderkeys,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_totalprice IS NULL OR o_totalprice <= 0)
        |    AS n_bad_price,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = l.l_orderkey))
        |    AS n_orphan_lineitems,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_quantity IS NULL OR l_quantity <= 0)
        |    AS n_bad_quantity""".stripMargin) { (s, dir) =>
      val orders = table(s, dir, "orders")
      val customer = table(s, dir, "customer")
      val li = table(s, dir, "lineitem")
      val orphanOrders = orders.select(col("o_custkey"))
        .join(customer.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphan_orders"))
      val quietCust = customer.select(col("c_custkey"))
        .join(orders.select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_customers_no_orders"))
      val dupKeys = orders.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("n_dup_orderkeys"))
      val badPrice = orders
        .filter(col("o_totalprice").isNull || col("o_totalprice") <= 0)
        .agg(count(lit(1)).as("n_bad_price"))
      val orphanLi = li.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphan_lineitems"))
      val badQty = li
        .filter(col("l_quantity").isNull || col("l_quantity") <= 0)
        .agg(count(lit(1)).as("n_bad_quantity"))
      orphanOrders.crossJoin(quietCust).crossJoin(dupKeys)
        .crossJoin(badPrice).crossJoin(orphanLi).crossJoin(badQty)
    },

    // B64: incremental aggregate maintenance — the materialized-view
    // refresh pattern: a stored per-month aggregate over the base
    // partition merges with the new delta partition's PARTIAL
    // aggregate (sums and counts are decomposable), never recomputing
    // the base. The query runs the merge AND compares it to the full
    // recompute, emitting matches_full per month — the DuckDB oracle
    // computes the full aggregate directly with constant 1, so any
    // broken merge turns the row red twice (values and flag). All
    // integers exact (cents, counts).
    Q("incremental_agg_merge",
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY month)
        |SELECT month, n_orders, cents, CAST(1 AS BIGINT) AS matches_full
        |FROM m""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders").select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate"))
      val cutoff = "1999-01-01"
      def agg(df: DataFrame): DataFrame =
        df.groupBy(col("month")).agg(count(lit(1)).as("n"),
          sum(col("cents")).as("c"))
      val stored = agg(o.filter(col("o_orderdate") < lit(cutoff).cast("timestamp")))
        .select(col("month"), col("n").as("n_base"), col("c").as("c_base"))
      val delta = agg(o.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp")))
        .select(col("month"), col("n").as("n_delta"), col("c").as("c_delta"))
      val merged = stored.join(delta, Seq("month"), "full_outer")
        .select(col("month"),
          (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("c_base"), lit(0L)) + coalesce(col("c_delta"), lit(0L)))
            .as("cents"))
      val full = agg(o)
        .select(col("month"), col("n").as("n_full"), col("c").as("c_full"))
      merged.join(full, Seq("month"))
        .select(col("month"), col("n_orders"), col("cents"),
          when(col("n_orders") === col("n_full") &&
            col("cents") === col("c_full"), 1L).otherwise(0L)
            .as("matches_full"))
    },

    // B65: event-transition matrix — the user-journey / Markov-chain
    // statistic behind path analysis: for each ordered pair of event
    // types, how often does one IMMEDIATELY follow the other in a
    // user's stream, and with what total gap. One per-user lead()
    // window (small groups by construction — the B45 rule) plus one
    // tiny (types × types) rollup; gap sums are exact integer seconds.
    Q("event_transitions",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |s AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER w AS to_type,
        |    lead(tsec) OVER w - tsec AS gap
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id))
        |SELECT from_type, to_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(gap) AS BIGINT) AS gap_s_sum
        |FROM s WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select(
        col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000000").as("tsec"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
      e.select(col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"),
          (lead(col("tsec"), 1).over(w) - col("tsec")).as("gap"))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"), sum(col("gap")).as("gap_s_sum"))
    },

    // B66: market-basket association rules — top-20 item pairs by
    // lift (co-occurrence within orders, items bucketed to keep the
    // oracle's pair space tractable). Everything is a ratio of exact
    // integers: lift_micro = ⌊n_ab·N·10⁶ / (n_a·n_b)⌋ and conf_micro
    // = ⌊n_ab·10⁶ / n_a⌋ are pure integer floor division (engine-
    // identical), and the top-20 selection orders by (lift_micro,
    // item_a, item_b) — a total order, planned as
    // TakeOrderedAndProject (bounded heaps), never a full sort. Pair
    // counting reuses the triangle machinery: per-order self-join
    // (tiny groups), keyed pair rollup, model-sized item-count joins.
    Q("basket_rules",
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey % 331 AS item
        |  FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM it),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
        |       FROM it GROUP BY item),
        |pr AS (
        |  SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM it a JOIN it b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY ia, ib)
        |SELECT ia AS item_a, ib AS item_b, n_ab,
        |  x.n_item AS n_a, y.n_item AS n_b,
        |  CAST((n_ab * n_orders * 1000000) // (x.n_item * y.n_item) AS BIGINT)
        |    AS lift_micro,
        |  CAST((n_ab * 1000000) // x.n_item AS BIGINT) AS conf_micro
        |FROM pr JOIN ic x ON x.item = pr.ia JOIN ic y ON y.item = pr.ib, n
        |WHERE n_ab >= 3
        |ORDER BY lift_micro DESC, item_a, item_b
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val it = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), (col("l_partkey") % 331).as("item"))
        .distinct()
        .localCheckpoint() // feeds order count, item counts, and pairs
      val n = it.agg(countDistinct(col("ok")).as("n_orders"))
      val ic = it.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      val pr = it.as("a").join(it.as("b"),
          col("a.ok") === col("b.ok") && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("ia"), col("b.item").as("ib"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      pr.join(ic.select(col("item").as("ia"), col("n_item").as("n_a")), Seq("ia"))
        .join(ic.select(col("item").as("ib"), col("n_item").as("n_b")), Seq("ib"))
        .crossJoin(broadcast(n))
        .select(col("ia").as("item_a"), col("ib").as("item_b"), col("n_ab"),
          col("n_a"), col("n_b"),
          expr("(n_ab * n_orders * 1000000) div (n_a * n_b)").as("lift_micro"),
          expr("(n_ab * 1000000) div n_a").as("conf_micro"))
        .orderBy(col("lift_micro").desc, col("item_a"), col("item_b"))
        .limit(20)
    },

    // B67: CUSUM change detection — the classic cumulative-sum
    // statistic over each user's daily series, kept EXACT: with nd
    // days and total T, the mean-centered deviation of day i is
    // nd·dᵢ − T (an integer — no division), and the running CUSUM of
    // those integers is exact in both engines, so max |CUSUM| and its
    // argmax day compare bit-for-bit. Per-user windows are small by
    // construction; the argmax is a map-side-combinable
    // min(struct(−|cusum|, day)) — largest deviation, earliest-day
    // tie — never a second window pass.
    Q("timeseries_cusum",
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT user_id, day, CAST(sum(cents) AS BIGINT) AS dc
        |      FROM e GROUP BY user_id, day),
        |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nd,
        |        CAST(sum(dc) AS BIGINT) AS tot
        |      FROM d GROUP BY user_id),
        |c AS (
        |  SELECT d.user_id, day, nd,
        |    CAST(sum(nd * dc - tot) OVER (
        |      PARTITION BY d.user_id ORDER BY day) AS BIGINT) AS cusum
        |  FROM d JOIN u USING (user_id)),
        |m AS (SELECT user_id, max(nd) AS n_days, max(abs(cusum)) AS mx
        |      FROM c GROUP BY user_id)
        |SELECT m.user_id, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(mx AS BIGINT) AS max_abs_cusum,
        |  CAST(min(c.day) AS BIGINT) AS argmax_day
        |FROM m JOIN c ON c.user_id = m.user_id AND abs(c.cusum) = m.mx
        |GROUP BY m.user_id, n_days, mx""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "events")
        .select(col("user_id"), expr("(ts div 1000000000) div 86400").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("cents")).as("dc"))
      val u = d.groupBy(col("user_id"))
        .agg(count(lit(1)).as("nd"), sum(col("dc")).as("tot"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      d.join(u, Seq("user_id"))
        .withColumn("cusum", sum(col("nd") * col("dc") - col("tot")).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          min(struct((-abs(col("cusum"))).as("na"), col("day").as("dy"))).as("m"))
        .select(col("user_id"), col("n_days"),
          (-col("m.na")).as("max_abs_cusum"), col("m.dy").as("argmax_day"))
    },

    // B68: join-size estimation from count-min sketches — the
    // optimizer-support pass that sizes an equi-join WITHOUT running
    // it: |A ⋈ B| = Σ_k f_A(k)·f_B(k) is the inner product of the two
    // key-frequency vectors, estimated by the counter-wise dot of two
    // 256 KiB CMS sketches (Cormode & Muthukrishnan 2005 §4.2 — never
    // an undercount, over by ≤ e·N_A·N_B/width w.h.p.). Each side is
    // one map-side-combinable sketch agg over a pruned key scan; the
    // estimate itself touches two sketch rows. The oracle checks the
    // EXACT size (computable relationally) plus the estimator's
    // guarantees as flags (the cms_heavy_hitters bound-gate style —
    // DuckDB cannot replay fmix64 bucketing cheaply, but CAN pin the
    // bounds); bound factor 9 > 3.3·e makes the w.h.p. bound a
    // regression floor, not a coin flip.
    Q("join_size_estimate",
      """WITH ec AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS ce
        |            FROM events GROUP BY user_id),
        |oc AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS co
        |       FROM orders GROUP BY o_custkey)
        |SELECT
        |  CAST(coalesce((SELECT sum(ce * co) FROM ec JOIN oc USING (k)), 0)
        |    AS BIGINT) AS exact_join_size,
        |  CAST(1 AS INT) AS never_under,
        |  CAST(1 AS INT) AS bound_ok""".stripMargin) { (s, dir) =>
      import graft.functions.CountMin
      val e = table(s, dir, "events").select(col("user_id").as("k"))
      val o = table(s, dir, "orders").select(col("o_custkey").as("k"))
      val exact = e.groupBy(col("k")).agg(count(lit(1)).as("ce"))
        .join(o.groupBy(col("k")).agg(count(lit(1)).as("co")), Seq("k"))
        .agg(coalesce(sum(col("ce") * col("co")), lit(0L)).as("exact_join_size"))
      val sketches = e.agg(CountMin.countMinSketch(col("k")).as("sa"),
          count(lit(1)).as("n1"))
        .crossJoin(o.agg(CountMin.countMinSketch(col("k")).as("sb"),
          count(lit(1)).as("n2")))
        .select(CountMin.cmsInnerProduct(col("sa"), col("sb")).as("est"),
          col("n1"), col("n2"))
      exact.crossJoin(sketches).select(
        col("exact_join_size"),
        (col("est") >= col("exact_join_size")).cast("int").as("never_under"),
        (col("est") - col("exact_join_size") <=
          expr("(9 * n1 * n2) div 8192")).cast("int").as("bound_ok"))
    },

    // B69: skyline (Pareto frontier) — customers not dominated in
    // (account balance, order count): the multi-objective "best
    // trade-offs" operator. The NOT EXISTS spelling is the oracle; the
    // plan replaces the O(n²) dominance test with a PREFIX MAXIMUM
    // over balance-descending order: b is dominated iff
    // max{y : x > b.x} ≥ b.y or max{y : x ≥ b.x, other rows} > b.y.
    // Distinct balances collapse to one max-y row each (keyed
    // exchange), the exclusive running max rides
    // DistributedPrefixSum.runningMaxExclusive (two streamed
    // range-partitioned passes — a global window would serialize the
    // whole table through one reducer), and rows join back keyed.
    // All integers (cents, counts) — dominance compares exactly.
    Q("skyline_customers",
      """WITH yo AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS y
        |            FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT c_custkey AS custkey,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |    coalesce(y, 0) AS n_orders
        |  FROM customer LEFT JOIN yo ON o_custkey = c_custkey)
        |SELECT custkey, bal_cents, n_orders FROM r b
        |WHERE NOT EXISTS (SELECT 1 FROM r a
        |  WHERE (a.bal_cents > b.bal_cents AND a.n_orders >= b.n_orders)
        |     OR (a.bal_cents >= b.bal_cents AND a.n_orders > b.n_orders))""".stripMargin) { (s, dir) =>
      val rows = table(s, dir, "customer")
        .select(col("c_custkey").as("custkey"),
          floor(col("c_acctbal") * 100).cast("long").as("x"))
        .join(table(s, dir, "orders").groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("yo")),
          col("custkey") === col("o_custkey"), "left")
        .select(col("custkey"), col("x"),
          coalesce(col("yo"), lit(0L)).as("y"))
      val gx = rows.groupBy(col("x")).agg(max(col("y")).as("gmax"))
        .select(lit(0L).as("g"), (-col("x")).as("negx"), col("x"), col("gmax"))
      val pm = DistributedPrefixSum.runningMaxExclusive(
          gx, "g", Seq("negx"), "gmax", "m1")
        .select(col("x"), col("m1"), greatest(col("m1"), col("gmax")).as("m2"))
      // dominated ⇔ m1 ≥ y (someone strictly richer, ≥ orders) or
      // m2 > y (someone ≥ rich with strictly more orders — m2 > y
      // can't be b itself)
      rows.join(pm, Seq("x"))
        .filter(!(col("m1") >= col("y") || col("m2") > col("y")))
        .select(col("custkey"), col("x").as("bal_cents"),
          col("y").as("n_orders"))
    },

    // B70: revenue Pareto cutoff — "how many customers produce 80% of
    // revenue": the concentration statistic behind account tiering.
    // Same scale shape as vocab_coverage: the running total over the
    // GLOBAL revenue-descending order rides DistributedPrefixSum, and
    // the 80% threshold is integer arithmetic ((cum−rev)·5 < total·4)
    // so the counted SET is exact.
    Q("revenue_pareto",
      """WITH rev AS (
        |  SELECT o_custkey AS k,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY o_custkey),
        |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS total,
        |          CAST(count(*) AS BIGINT) AS nc FROM rev),
        |r AS (SELECT rev,
        |        CAST(sum(rev) OVER (ORDER BY rev DESC, k) AS BIGINT) AS cum
        |      FROM rev)
        |SELECT (SELECT nc FROM tot) AS n_customers,
        |  (SELECT total FROM tot) AS total_revenue,
        |  CAST(count(*) FILTER (
        |    WHERE (cum - rev) * 5 < (SELECT total FROM tot) * 4) AS BIGINT)
        |    AS pareto_n,
        |  CAST(coalesce(sum(rev) FILTER (
        |    WHERE (cum - rev) * 5 < (SELECT total FROM tot) * 4), 0) AS BIGINT)
        |    AS pareto_revenue
        |FROM r""".stripMargin) { (s, dir) =>
      val rev = table(s, dir, "orders")
        .groupBy(col("o_custkey").as("k"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("rev"))
      val ordered = rev.select(lit(0L).as("g"), (-col("rev")).as("neg"),
        col("k"), col("rev"))
      val cum = DistributedPrefixSum.running(
        ordered, "g", Seq("neg", "k"), "rev", "cum")
      val tot = rev.agg(sum(col("rev")).as("total"), count(lit(1)).as("nc"))
      val kept = (col("cum") - col("rev")) * 5 < col("total") * 4
      cum.crossJoin(broadcast(tot)).agg(
        max(col("nc")).as("n_customers"),
        max(col("total")).as("total_revenue"),
        sum(when(kept, 1L).otherwise(0L)).as("pareto_n"),
        sum(when(kept, col("rev")).otherwise(0L)).as("pareto_revenue"))
    },

    // B71: floored running balance — inventory/credit semantics:
    // balance_t = max(0, balance_{t−1} + delta_t). The floor makes the
    // fold NON-decomposable (no partial aggregation, no prefix-sum
    // shortcut — order matters irreducibly), so the correct plan is
    // the per-key ordered fold over small groups (the EWMA shape);
    // everything stays in exact integer cents, so the fold is
    // bit-identical in both engines. Daily delta = deposits − a fixed
    // 2000-cent outflow.
    Q("running_balance_floor",
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT user_id, day, CAST(sum(cents) AS BIGINT) AS dc
        |      FROM e GROUP BY user_id, day)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT), list(dc - 2000 ORDER BY day)),
        |    (a, x) -> greatest(a + x, 0)) AS BIGINT) AS final_balance
        |FROM d GROUP BY user_id""".stripMargin) { (s, dir) =>
      table(s, dir, "events")
        .select(col("user_id"), expr("(ts div 1000000000) div 86400").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("cents")).as("dc"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          sort_array(collect_list(struct(col("day"), col("dc")))).as("_dv"))
        .select(col("user_id"), col("n_days"),
          aggregate(col("_dv"), lit(0L), (acc, dv) =>
            greatest(acc + dv.getField("dc") - lit(2000L), lit(0L)))
            .as("final_balance"))
    },

    // B72: geo cell density — spatial binning of the telemetry
    // stream's derived GPS track (the §3 lat/lon convention) into
    // Morton (Z-order) cells: the heat-map / hot-spot primitive the
    // reference's trip domain wants, and a second load-bearing use of
    // the B42 bit-cascade machinery. Quantization floors IDENTICAL
    // doubles in both engines (the trip_aggregation precedent), the
    // interleave replays via the mask cascade, and the per-cell rollup
    // is one map-side-combinable keyed exchange.
    Q("geo_cell_density", {
      def step(shift: Int, mask: Long) =
        s"(x | (x << $shift)) & $mask AS x, (y | (y << $shift)) & $mask AS y"
      s"""WITH e AS (
         |  SELECT user_id,
         |    CAST(floor(value * 100) AS BIGINT) AS cents,
         |    (CAST(floor((value / 10.0 - 20.0) * 8) AS BIGINT) + 512) % 1024
         |      AS x,
         |    (CAST(floor((value / 2.0 - 120.0) * 8) AS BIGINT) + 1024) % 1024
         |      AS y
         |  FROM events),
         |s1 AS (SELECT user_id, cents, ${step(16, 281470681808895L)} FROM e),
         |s2 AS (SELECT user_id, cents, ${step(8, 71777214294589695L)} FROM s1),
         |s3 AS (SELECT user_id, cents, ${step(4, 1085102592571150095L)} FROM s2),
         |s4 AS (SELECT user_id, cents, ${step(2, 3689348814741910323L)} FROM s3),
         |s5 AS (SELECT user_id, cents, ${step(1, 6148914691236517205L)} FROM s4)
         |SELECT x | (y << 1) AS cell,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(cents) AS BIGINT) AS cents_sum
         |FROM s5 GROUP BY cell""".stripMargin
    }) { (s, dir) =>
      val e = table(s, dir, "events").select(
        col("user_id"),
        floor(col("value") * 100).cast("long").as("cents"),
        ((floor((col("value") / 10.0 - 20.0) * 8).cast("long") + 512) % 1024)
          .as("gx"),
        ((floor((col("value") / 2.0 - 120.0) * 8).cast("long") + 1024) % 1024)
          .as("gy"))
      e.select(col("user_id"), col("cents"),
          graft.sources.ZOrder.zValue(col("gx"), col("gy")).as("cell"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("cents_sum"))
    },

    // B73: exact WEIGHTED median — the robust central price weighted
    // by quantity (what "typical unit price" actually means when line
    // items carry different volumes). Plan: collapse to distinct
    // prices (keyed exchange, map-side combinable), one
    // DistributedPrefixSum pass over price-ascending order, pick the
    // smallest price whose doubled running weight reaches the total —
    // never a global sort to one reducer, all integers (cents ×
    // integer-valued quantities).
    Q("weighted_median_price",
      """WITH r AS (
        |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY cents),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
        |          CAST(count(*) AS BIGINT) AS np FROM r),
        |c AS (SELECT cents, w,
        |        CAST(sum(w) OVER (ORDER BY cents) AS BIGINT) AS cum
        |      FROM r)
        |SELECT (SELECT tw FROM tot) AS total_weight,
        |  (SELECT np FROM tot) AS n_distinct_prices,
        |  CAST(min(cents) FILTER (WHERE 2 * cum >= (SELECT tw FROM tot))
        |    AS BIGINT) AS weighted_median_cents
        |FROM c""".stripMargin) { (s, dir) =>
      val r = table(s, dir, "lineitem")
        .select(floor(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("q"))
        .groupBy(col("cents")).agg(sum(col("q")).as("w"))
      val ordered = r.select(lit(0L).as("g"), col("cents"), col("w"))
      val cum = DistributedPrefixSum.running(
        ordered, "g", Seq("cents"), "w", "cum")
      val tot = r.agg(sum(col("w")).as("tw"), count(lit(1)).as("np"))
      cum.crossJoin(broadcast(tot)).agg(
        max(col("tw")).as("total_weight"),
        max(col("np")).as("n_distinct_prices"),
        min(when(lit(2) * col("cum") >= col("tw"), col("cents")))
          .as("weighted_median_cents"))
    },

    // B74: frequent 3-event paths — sequential pattern mining over
    // each user's event-time-ordered stream (the "what journeys
    // dominate" statistic one level past B65's transition matrix).
    // Two lead() calls on the same per-user window (small groups),
    // a keyed path rollup, and a bounded-heap top-10.
    Q("event_trigram_paths",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |s AS (
        |  SELECT event_type AS a,
        |    lead(event_type, 1) OVER w AS b,
        |    lead(event_type, 2) OVER w AS c
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id))
        |SELECT concat(a, '>', b, '>', c) AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE b IS NOT NULL AND c IS NOT NULL
        |GROUP BY path
        |ORDER BY n DESC, path LIMIT 10""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select(
        col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000000").as("tsec"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
      e.select(col("event_type").as("a"),
          lead(col("event_type"), 1).over(w).as("b"),
          lead(col("event_type"), 2).over(w).as("c"))
        .filter(col("b").isNotNull && col("c").isNotNull)
        .select(concat(col("a"), lit(">"), col("b"), lit(">"), col("c")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(10)
    },

    // B75: funnel time-to-convert percentiles — B56's funnel composed
    // with B20's DistributedQuantile: the p25/p50/p90 of view→purchase
    // conversion lag (quantile_cont agrees bit-for-bit on test data —
    // the quantile_bitcheck canary — and the 4dp round is robust to a
    // last-ulp tree divergence: integer-second lags put breakpoints
    // on an exact 1e-4 grid), with
    // the quantile machinery's streamed two-pass plan (only bracketing
    // ranks leave executors — never the unspillable percentile buffer).
    Q("funnel_lag_percentiles",
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |v AS (SELECT user_id, min(tsec) AS tv FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(tsec) AS tc
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE event_type = 'click' AND tsec > tv GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(tsec) AS tp
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE event_type = 'purchase' AND tsec > tc GROUP BY e.user_id),
        |lag AS (SELECT tp - tv AS lag_s FROM p JOIN v USING (user_id))
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  round(quantile_cont(lag_s, 0.25), 4) AS p25_s,
        |  round(quantile_cont(lag_s, 0.5), 4) AS p50_s,
        |  round(quantile_cont(lag_s, 0.9), 4) AS p90_s
        |FROM lag""".stripMargin) { (s, dir) =>
      import graft.operators.DistributedQuantile
      val e = table(s, dir, "events").select(
        col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("tsec"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tsec")).as("tv"))
      val c = e.join(v, "user_id")
        .filter(col("event_type") === "click" && col("tsec") > col("tv"))
        .groupBy(col("user_id")).agg(min(col("tsec")).as("tc"))
      val p = e.join(c, "user_id")
        .filter(col("event_type") === "purchase" && col("tsec") > col("tc"))
        .groupBy(col("user_id")).agg(min(col("tsec")).as("tp"))
      val lag = p.join(v, "user_id")
        .select(lit(0).as("g"), (col("tp") - col("tv")).cast("double").as("lag_s"))
        .localCheckpoint() // the quantile passes + the count share one build
      val qs = DistributedQuantile.quantiles(
        lag, "g", "lag_s",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))
      lag.agg(count(lit(1)).as("n_converted"))
        .crossJoin(broadcast(qs.select(
          round(col("p25"), 4).as("p25_s"),
          round(col("p50"), 4).as("p50_s"),
          round(col("p90"), 4).as("p90_s"))))
    },

    // B76: order-independent table checksum — the cross-engine
    // reconciliation primitive (does a migrated/replicated table hold
    // EXACTLY the same content?): each row canonicalizes to one
    // string, fingerprints to 64 bits, and the checksum is the SUM
    // mod 2⁶⁴ — commutative and associative, so it distributes
    // map-side with no ordering requirement, and any single changed
    // row flips it. The oracle recomputes the same canonical strings
    // and replays the fingerprint + wraparound sum in HUGEINT.
    Q("table_checksum",
      """WITH r AS (
        |  SELECT concat(
        |    CAST(o_orderkey AS VARCHAR), '|', CAST(o_custkey AS VARCHAR), '|',
        |    o_orderstatus, '|',
        |    CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), '|',
        |    CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) AS VARCHAR), '|',
        |    o_orderpriority) AS canon
        |  FROM orders),
        |h AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |    list_transform(string_split_regex(canon, ''),
        |      c -> CAST(ord(c) AS HUGEINT))),
        |    (a, b) -> (a * 31 + b) % 18446744073709551616) AS hu
        |  FROM r),
        |t AS (SELECT sum(hu) % 18446744073709551616 AS s,
        |        CAST(count(*) AS BIGINT) AS n FROM h)
        |SELECT n AS n_rows,
        |  CAST(CASE WHEN s >= 9223372036854775808
        |       THEN s - 18446744073709551616 ELSE s END AS BIGINT)
        |    AS checksum64
        |FROM t""".stripMargin) { (s, dir) =>
      import graft.functions.Fingerprint64
      val canon = concat(
        col("o_orderkey").cast("string"), lit("|"),
        col("o_custkey").cast("string"), lit("|"),
        col("o_orderstatus"), lit("|"),
        floor(col("o_totalprice") * 100).cast("long").cast("string"), lit("|"),
        unix_timestamp(col("o_orderdate")).cast("string"), lit("|"),
        col("o_orderpriority"))
      // wraparound Σ of row fingerprints: Spark ANSI would throw on
      // long-sum overflow, so fold through the same mod-2⁶⁴ ring the
      // oracle uses — sum of (h mod 2⁶⁴) values as unsigned halves:
      // split each hash into hi/lo 32-bit parts, sum exactly in two
      // lanes (no overflow below ~2³² rows), recombine mod 2⁶⁴.
      val h = Fingerprint64.fingerprint64(canon)
      table(s, dir, "orders")
        .select(h.as("h"))
        .select(shiftrightunsigned(col("h"), 32).as("hi"),
          col("h").bitwiseAND(lit(0xffffffffL)).as("lo"))
        .agg(sum(col("hi")).as("shi"), sum(col("lo")).as("slo"),
          count(lit(1)).as("n_rows"))
        .select(col("n_rows"),
          (shiftleft(col("shi") + shiftrightunsigned(col("slo"), 32), 32)
            .bitwiseOR(col("slo").bitwiseAND(lit(0xffffffffL))))
            .as("checksum64"))
    },

    // B77: interval-union coverage — merge each user's overlapping
    // activity intervals ([t, t+1800)) and report total covered
    // seconds + merged-interval count: the utilization/uptime
    // statistic where naive duration sums double-count overlaps. The
    // sweep is the classic gap-and-island pass: an interval starts a
    // new island iff its start exceeds the running max of prior ends
    // — per-user windows (small groups), all integer seconds.
    Q("interval_coverage",
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS en,
        |    event_id
        |  FROM events),
        |m AS (
        |  SELECT user_id, st, en, event_id,
        |    CASE WHEN st > coalesce(max(en) OVER (
        |        PARTITION BY user_id ORDER BY st, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775808) THEN 1 ELSE 0 END AS is_new
        |  FROM e),
        |g AS (
        |  SELECT user_id, st, en,
        |    CAST(sum(is_new) OVER (
        |      PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM m),
        |i AS (
        |  SELECT user_id, island,
        |    max(en) - min(st) AS covered
        |  FROM g GROUP BY user_id, island)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_intervals_merged,
        |  CAST(sum(covered) AS BIGINT) AS covered_s
        |FROM i GROUP BY user_id""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select(
        col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("st"),
        (expr("ts div 1000000000") + 1800).as("en"))
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val m = e.withColumn("is_new",
        when(col("st") > coalesce(max(col("en")).over(wPrev),
          lit(Long.MinValue)), 1L).otherwise(0L))
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      m.withColumn("island", sum(col("is_new")).over(wRun))
        .groupBy(col("user_id"), col("island"))
        .agg((max(col("en")) - min(col("st"))).as("covered"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals_merged"),
          sum(col("covered")).as("covered_s"))
    },

    // B78: largest-remainder proration — distribute each order's
    // 5%-of-total discount (an integer cent amount) across its line
    // items proportionally to extended price, with the
    // largest-remainder (Hamilton) rounding rule so the shares SUM
    // EXACTLY to the allocated amount — the financial-allocation
    // primitive where naive per-line rounding leaks cents. All
    // arithmetic is integer: floor shares from cross-multiplied
    // cents, remainder ranks by (fractional-part numerator DESC,
    // line ASC) inside per-order windows (≤ 7 lines by construction).
    Q("prorate_discounts",
      """WITH l AS (
        |  SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |o AS (
        |  SELECT ok, CAST(sum(cents) AS BIGINT) AS total,
        |    CAST(sum(cents) AS BIGINT) // 20 AS pool
        |  FROM l GROUP BY ok),
        |sh AS (
        |  SELECT l.ok, ln, cents, total, pool,
        |    (cents * pool) // total AS base,
        |    (cents * pool) % total AS frac
        |  FROM l JOIN o ON l.ok = o.ok),
        |rk AS (
        |  SELECT ok, ln, base, frac, pool,
        |    row_number() OVER (PARTITION BY ok
        |      ORDER BY frac DESC, ln, cents) AS rn,
        |    CAST(pool - sum(base) OVER (PARTITION BY ok) AS BIGINT) AS leftover
        |  FROM sh)
        |SELECT ok AS orderkey, ln AS linenumber,
        |  CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS share_cents
        |FROM rk""".stripMargin) { (s, dir) =>
      val l = table(s, dir, "lineitem").select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val o = l.groupBy(col("ok"))
        .agg(sum(col("cents")).as("total"))
        .withColumn("pool", expr("total div 20"))
      val sh = l.join(o, Seq("ok"))
        .withColumn("base", expr("(cents * pool) div total"))
        .withColumn("frac", expr("(cents * pool) % total"))
      val w = Window.partitionBy(col("ok"))
      // (frac, ln) is NOT total here — synthetic linenumbers repeat
      // within an order — so cents joins the tie-break; fully
      // identical lines remain interchangeable, which the row
      // multiset cannot observe.
      val wr = w.orderBy(col("frac").desc, col("ln"), col("cents"))
      sh.withColumn("rn", row_number().over(wr))
        .withColumn("leftover", col("pool") - sum(col("base")).over(w))
        .select(col("ok").as("orderkey"), col("ln").as("linenumber"),
          (col("base") + when(col("rn") <= col("leftover"), 1L).otherwise(0L))
            .as("share_cents"))
    },

    // B114: MANN-WHITNEY U rank-sum test (Mann & Whitney 1947) —
    // B60's nonparametric sibling: does 'purchase' draw from a
    // stochastically larger value distribution than 'view', with NO
    // normality assumption (Welch's t is moved by one wild value;
    // rank statistics are not). The whole test is EXACT integers
    // until two final pinned doubles: joint ranks never materialize
    // per row — group to the distinct-cents grain (cnt, n1_c), one
    // DistributedPrefixSum pass over the value order gives each tie
    // run's cumulative position, and the tie-averaged rank DOUBLED
    // is the integer 2·(cum−cnt) + cnt + 1, so 2·R₁ = Σ n1_c·(…) is
    // an exact BIGINT (overflow-safe: 2R₁ ≤ 2n² < 2⁶³ to ~2·10⁹
    // rows). Tie-corrected variance: σ² = (n₁n₂/12)·((n+1) −
    // Σ(t³−t)/(n(n−1))) with T = Σ(t³−t) exact; z = (U₁ − n₁n₂/2)/σ
    // — each factor ONE division/multiply of exact integers, one
    // IEEE sqrt, 6dp floor form. Scale shape: one keyed agg to the
    // value grain + two streamed range-partitioned passes — never a
    // single-reducer rank window over the corpus.
    Q("mannwhitney_values", {
      val zSql = """(CAST(u1x2 AS DOUBLE) / 2.0
        | - CAST(n1 * n2 AS DOUBLE) / 2.0)
        | / sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
        |   * (CAST(n1 + n2 + 1 AS DOUBLE)
        |      - CAST(tsum AS DOUBLE)
        |        / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))"""
        .stripMargin.replace("\n", "")
      s"""WITH e AS (
        |  SELECT event_type = 'purchase' AS g1,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |v AS (
        |  SELECT c, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(count(*) FILTER (g1) AS BIGINT) AS n1c
        |  FROM e GROUP BY c),
        |w AS (SELECT c, cnt, n1c, sum(cnt) OVER (ORDER BY c) AS cum
        |      FROM v),
        |agg AS (
        |  SELECT CAST(sum(n1c) AS BIGINT) AS n1,
        |    CAST(sum(cnt - n1c) AS BIGINT) AS n2,
        |    CAST(sum(n1c * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS r1x2,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
        |  FROM w),
        |u AS (SELECT n1, n2, r1x2, tsum,
        |        r1x2 - n1 * (n1 + 1) AS u1x2 FROM agg)
        |SELECT n1, n2, r1x2, tsum, u1x2,
        |  floor(($zSql) * 1000000 + 0.5) / 1000000 AS z
        |FROM u""".stripMargin
    }) { (s, dir) =>
      val v = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("g1"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("g1").cast("long")).as("n1c"))
      val w = DistributedPrefixSum.running(
        v.withColumn("_g", lit("all")), "_g", Seq("c"), "cnt", "cum")
      val agg = w.agg(
        sum(col("n1c")).as("n1"),
        sum(col("cnt") - col("n1c")).as("n2"),
        sum(col("n1c") * (lit(2) * (col("cum") - col("cnt"))
          + col("cnt") + 1)).as("r1x2"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tsum"))
      val u = agg.withColumn("u1x2",
        col("r1x2") - col("n1") * (col("n1") + 1))
      val z = (col("u1x2").cast("double") / 2.0
          - (col("n1") * col("n2")).cast("double") / 2.0) /
        sqrt((col("n1") * col("n2")).cast("double") / 12.0
          * ((col("n1") + col("n2") + 1).cast("double")
            - col("tsum").cast("double")
              / ((col("n1") + col("n2"))
                * (col("n1") + col("n2") - 1)).cast("double")))
      u.select(col("n1"), col("n2"), col("r1x2"), col("tsum"), col("u1x2"),
        (floor(z * lit(1000000) + lit(0.5)) / lit(1000000)).as("z"))
    },

    // B122: EXACT LEAST-SQUARES CHANGEPOINT (binary segmentation's
    // single step — Scott & Knott 1974; the offline "WHERE did the
    // metric shift" answer where B67's CUSUM answers "did it"): per
    // event_type, the split day t minimizing within-segment SSE of
    // the daily totals. Exactly the B116 search re-targeted from
    // Gini to variance: with prefix sums (n, Σc, Σc²) at every
    // candidate day, SSE_L + SSE_R = (Q_L − S_L²/n_L) + (Q_R −
    // S_R²/n_R) — minimized ⇔ S_L²/n_L + S_R²/n_R maximized; score =
    // (CAST(S_L² AS DOUBLE)·n_R + S_R²·n_L)/(n_L·n_R) ONE pinned
    // tree over exact BIGINTs (S² up to ~(10⁹)² needs the double
    // cast — deterministic IEEE, the B116 argmax precedent), argmax
    // (score DESC, day ASC). Means and the SSE reduction are then
    // exact ratios, 6dp floor. Scale shape: one keyed agg to (type,
    // day), per-type cumulative windows over the ≤31-day
    // model-sized relation.
    Q("changepoint_value", {
      // f = S_L²/n_L + S_R²/n_R over the common denominator n_L·n_R:
      // (S_L²·n_R + S_R²·n_L)/(n_L·n_R) — the SSE-decomposition
      // objective. (A first cut divided each square by its OWN n
      // before cross-multiplying — that maximizes mean_L² + mean_R²,
      // which is biased toward extreme tiny segments; the planted-
      // step spec caught it splitting 19/1 instead of 10/10.)
      val scoreSql = """(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
        | * CAST(n - nl AS DOUBLE)
        | + CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE)
        | * CAST(nl AS DOUBLE))
        | / (CAST(nl AS DOUBLE) * CAST(n - nl AS DOUBLE))"""
        .stripMargin.replace("\n", "")
      s"""WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT event_type, day,
        |        CAST(count(*) AS BIGINT) AS cnt,
        |        CAST(sum(cents) AS BIGINT) AS sc
        |      FROM e GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, cnt, sc,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY day) AS nl,
        |    sum(sc) OVER (PARTITION BY event_type ORDER BY day) AS sl
        |  FROM d),
        |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |          CAST(sum(sc) AS BIGINT) AS s
        |        FROM d GROUP BY event_type),
        |sc2 AS (
        |  SELECT w.event_type, w.day AS split_day, w.nl, w.sl, t.n, t.s,
        |    $scoreSql AS score
        |  FROM w JOIN tot t USING (event_type) WHERE w.nl < t.n),
        |best AS (
        |  SELECT event_type, split_day, nl, sl, n, s
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY event_type
        |          ORDER BY score DESC, split_day) AS rk
        |        FROM sc2)
        |  WHERE rk = 1)
        |SELECT event_type, split_day,
        |  CAST(nl AS BIGINT) AS n_before, CAST(n - nl AS BIGINT) AS n_after,
        |  floor(CAST(sl AS DOUBLE) / (100.0 * nl) * 1000000 + 0.5)
        |    / 1000000 AS mean_before,
        |  floor(CAST(s - sl AS DOUBLE) / (100.0 * (n - nl)) * 1000000
        |    + 0.5) / 1000000 AS mean_after
        |FROM best""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "events")
        .select(col("event_type"), expr("ts div 1000000000 div 86400")
          .as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sc"))
        .localCheckpoint() // cumulative window + totals read it
      // per-type ≤31-day partitions: the plain window is model-sized
      val w0 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val w = d.withColumn("nl", sum(col("cnt")).over(w0))
        .withColumn("sl", sum(col("sc")).over(w0))
      val tot = d.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n"), sum(col("sc")).as("s"))
      val sc2 = w.join(broadcast(tot), Seq("event_type"))
        .filter(col("nl") < col("n"))
        .select(col("event_type"), col("day").as("split_day"), col("nl"),
          col("sl"), col("n"), col("s"),
          ((col("sl").cast("double") * col("sl").cast("double")
              * (col("n") - col("nl")).cast("double")
            + (col("s") - col("sl")).cast("double")
              * (col("s") - col("sl")).cast("double")
              * col("nl").cast("double"))
            / (col("nl").cast("double")
              * (col("n") - col("nl")).cast("double"))).as("score"))
      sc2.groupBy(col("event_type"))
        .agg(max(struct(col("score"), (-col("split_day")).as("negd"),
          col("nl"), col("sl"), col("n"), col("s"))).as("b"))
        .select(col("event_type"), (-col("b.negd")).as("split_day"),
          col("b.nl").as("n_before"),
          (col("b.n") - col("b.nl")).as("n_after"),
          (floor(col("b.sl").cast("double") / (lit(100.0) * col("b.nl"))
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("mean_before"),
          (floor((col("b.s") - col("b.sl")).cast("double")
            / (lit(100.0) * (col("b.n") - col("b.nl")))
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("mean_after"))
    },

    // B121: WILCOXON SIGNED-RANK test (Wilcoxon 1945) — the PAIRED
    // member completing the rank-test trio (B60 parametric unpaired,
    // B114 rank unpaired, this one paired): did each user's daily
    // spend CHANGE between the first and second half of the
    // observation window, judged on signed ranks of the per-user
    // paired differences (no normality assumption; one user's wild
    // swing gets one rank, not unbounded leverage). Pairs: per-user
    // first-half vs second-half daily-cent means (epoch-midpoint
    // split, the D35 convention) — each a bit-equal pinned double,
    // their difference ONE subtraction; zero diffs dropped (the
    // standard treatment). Ranks of |d| with ties averaged — the
    // B114 grain trick on the |d| DOUBLE values (bit-equal cross-
    // engine, so grouping on them is exact): doubled tie-averaged
    // rank = 2(cum−cnt)+cnt+1 exact BIGINT; 2W⁺ = Σ over positive
    // diffs. Tie-corrected normal approximation: z = (W⁺ −
    // n(n+1)/4)/√(n(n+1)(2n+1)/24 − Σ(t³−t)/48) — exact integers to
    // one sqrt + one division, 6dp floor. Scale shape: one keyed agg
    // to users, one to the |d| grain, one streamed prefix pass.
    Q("wilcoxon_signed_rank", {
      val zSql = """(CAST(wx2 AS DOUBLE) / 2.0
        | - CAST(n * (n + 1) AS DOUBLE) / 4.0)
        | / sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
        |   - CAST(tsum AS DOUBLE) / 48.0)"""
        .stripMargin.replace("\n", "")
      s"""WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |sp AS (SELECT (min(tsec) + max(tsec)) // 2 AS split FROM e),
        |h AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN tsec < split THEN cents ELSE 0 END)
        |      AS BIGINT) AS s1,
        |    CAST(count(*) FILTER (tsec < split) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN tsec >= split THEN cents ELSE 0 END)
        |      AS BIGINT) AS s2,
        |    CAST(count(*) FILTER (tsec >= split) AS BIGINT) AS n2
        |  FROM e, sp GROUP BY user_id),
        |d AS (
        |  SELECT user_id,
        |    CAST(s2 AS DOUBLE) / (100.0 * n2)
        |      - CAST(s1 AS DOUBLE) / (100.0 * n1) AS diff
        |  FROM h WHERE n1 > 0 AND n2 > 0),
        |nz AS (SELECT user_id, diff, abs(diff) AS ad FROM d
        |       WHERE diff <> 0),
        |v AS (SELECT ad, CAST(count(*) AS BIGINT) AS cnt,
        |        CAST(count(*) FILTER (diff > 0) AS BIGINT) AS np
        |      FROM nz GROUP BY ad),
        |w AS (SELECT ad, cnt, np, sum(cnt) OVER (ORDER BY ad) AS cum
        |      FROM v),
        |agg AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(np * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS wx2,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
        |  FROM w)
        |SELECT n, n_pos, wx2, tsum,
        |  floor(($zSql) * 1000000 + 0.5) / 1000000 AS z
        |FROM agg""".stripMargin
    }) { (s, dir) =>
      import graft.operators.DistributedPrefixSum
      val e = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"),
          floor(col("value") * 100).cast("long").as("cents"))
        .localCheckpoint() // the split scalar + the halves read it
      // DIV, not `/`: Column./ on longs is DOUBLE division
      val sp = e.agg(min(col("tsec")).as("_mn"), max(col("tsec")).as("_mx"))
        .select(expr("(_mn + _mx) div 2").as("split"))
      val h = e.crossJoin(broadcast(sp))
        .groupBy(col("user_id"))
        .agg(sum(when(col("tsec") < col("split"), col("cents"))
          .otherwise(0L)).as("s1"),
          sum((col("tsec") < col("split")).cast("long")).as("n1"),
          sum(when(col("tsec") >= col("split"), col("cents"))
            .otherwise(0L)).as("s2"),
          sum((col("tsec") >= col("split")).cast("long")).as("n2"))
      val d = h.filter(col("n1") > 0 && col("n2") > 0)
        .select(col("user_id"),
          (col("s2").cast("double") / (lit(100.0) * col("n2"))
            - col("s1").cast("double") / (lit(100.0) * col("n1")))
            .as("diff"))
        .filter(col("diff") =!= 0)
      val v = d.select(col("diff"), abs(col("diff")).as("ad"))
        .groupBy(col("ad"))
        .agg(count(lit(1)).as("cnt"),
          sum((col("diff") > 0).cast("long")).as("np"))
        .withColumn("_g", lit("all"))
      val w = DistributedPrefixSum.running(v, "_g", Seq("ad"), "cnt", "cum")
      val agg = w.agg(sum(col("cnt")).as("n"), sum(col("np")).as("n_pos"),
        sum(col("np") * (lit(2) * (col("cum") - col("cnt"))
          + col("cnt") + 1)).as("wx2"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tsum"))
      val z = (col("wx2").cast("double") / 2.0
          - (col("n") * (col("n") + 1)).cast("double") / 4.0) /
        sqrt((col("n") * (col("n") + 1) * (lit(2) * col("n") + 1))
          .cast("double") / 24.0
          - col("tsum").cast("double") / 48.0)
      agg.select(col("n"), col("n_pos"), col("wx2"), col("tsum"),
        (floor(z * lit(1000000) + lit(0.5)) / lit(1000000)).as("z"))
    },

    // C103: USER BEHAVIOR PROFILE / bot-likeness evidence (the crawl
    // bot-filter shape every web-corpus pipeline runs before text
    // ever reaches curation — CommonCrawl UA filtering's behavioral
    // cousin): per user (1) burst ceiling = max events in ANY
    // sliding 300 s window — exact via the bounded per-user range
    // self-join (each user's series is B45-bounded, so the fan-out
    // is per-key quadratic-bounded, never corpus×corpus); (2)
    // longest same-type run — the gaps-and-islands double
    // row_number, user-bounded windows; (3) inter-arrival
    // regularity — the exact scaled gap variance n·Σg² − (Σg)²
    // (BIGINT; a metronome bot scores ~0, organic traffic scores
    // large); suspect = longest run ≥ 5 (non-vacuous: 1/11/119
    // users across SFs). All exact integers.
    Q("user_behavior_profile",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events),
        |b AS (
        |  SELECT a.user_id, a.event_id, CAST(count(*) AS BIGINT) AS c
        |  FROM e a JOIN e b ON a.user_id = b.user_id
        |    AND b.t >= a.t AND b.t < a.t + 300
        |  GROUP BY a.user_id, a.event_id),
        |burst AS (SELECT user_id, CAST(max(c) AS BIGINT) AS burst_max
        |          FROM b GROUP BY user_id),
        |rn AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
        |      AS r1,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY t, event_id) AS r2
        |  FROM e),
        |runs AS (SELECT user_id, CAST(count(*) AS BIGINT) AS run
        |         FROM rn GROUP BY user_id, event_type, r1 - r2),
        |lr AS (SELECT user_id, CAST(max(run) AS BIGINT) AS longest_run
        |       FROM runs GROUP BY user_id),
        |gaps AS (
        |  SELECT user_id,
        |    t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |      AS g
        |  FROM e),
        |gs AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(count(*) * sum(g * g) - sum(g) * sum(g) AS BIGINT)
        |      AS gap_var_scaled
        |  FROM gaps WHERE g IS NOT NULL GROUP BY user_id),
        |ne AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |       FROM e GROUP BY user_id)
        |SELECT ne.user_id, ne.n_events, burst.burst_max, lr.longest_run,
        |  coalesce(gs.n_gaps, 0) AS n_gaps,
        |  coalesce(gs.gap_var_scaled, 0) AS gap_var_scaled,
        |  CAST(CASE WHEN lr.longest_run >= 5 THEN 1 ELSE 0 END AS INT)
        |    AS suspect
        |FROM ne
        |JOIN burst USING (user_id)
        |JOIN lr USING (user_id)
        |LEFT JOIN gs USING (user_id)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000000000").as("t"))
        .localCheckpoint() // burst join + windows + counts all read it
      val a = e.select(col("user_id"), col("event_id"), col("t").as("ta"))
      val b2 = e.select(col("user_id").as("ub"), col("t").as("tb"))
      val burst = a.join(b2, col("user_id") === col("ub")
          && col("tb") >= col("ta") && col("tb") < col("ta") + 300)
        .groupBy(col("user_id"), col("event_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id")).agg(max(col("c")).as("burst_max"))
      val w1 = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val w2 = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("t"), col("event_id"))
      val lr = e
        .select(col("user_id"), col("event_type"),
          (row_number().over(w1) - row_number().over(w2)).as("grp"))
        .groupBy(col("user_id"), col("event_type"), col("grp"))
        .agg(count(lit(1)).as("run"))
        .groupBy(col("user_id")).agg(max(col("run")).as("longest_run"))
      val gs = e
        .select(col("user_id"), (col("t") - lag(col("t"), 1).over(w1))
          .as("g"))
        .filter(col("g").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          (count(lit(1)) * sum(col("g") * col("g"))
            - sum(col("g")) * sum(col("g"))).as("gap_var_scaled"))
      val ne = e.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      ne.join(burst, Seq("user_id"))
        .join(lr, Seq("user_id"))
        .join(gs, Seq("user_id"), "left")
        .select(col("user_id"), col("n_events"), col("burst_max"),
          col("longest_run"),
          coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
          coalesce(col("gap_var_scaled"), lit(0L)).as("gap_var_scaled"),
          (col("longest_run") >= 5).cast("int").as("suspect"))
    },

    // B120: EXACT two-sample Kolmogorov-Smirnov test (batch) —
    // D = max_x |ECDF₁(x) − ECDF₂(x)| between 'purchase' and 'view'
    // value distributions, computed EXACTLY on the distinct-cents
    // grain (no binning — D36's streaming variant bins to keep state
    // bounded; batch needs no such concession): one keyed agg to
    // (cnt₁, cnt₂) per value, ONE DistributedPrefixSum pass for both
    // cumulative counts (packed as a single running (cnt₁, cnt₂)
    // pair via two passes), then D_scaled = max |c₁·n₂ − c₂·n₁| in
    // exact BIGINTs (< 2⁶³ to ~3·10⁹ rows/side), argmax value = min
    // cents achieving it (deterministic tie rule), D = D_scaled /
    // (n₁·n₂) ONE pinned division, 6dp floor. The B114 scale shape:
    // value grain + streamed passes, never a corpus sort.
    Q("ks_two_sample_exact",
      """WITH e AS (
        |  SELECT event_type = 'purchase' AS g1,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |v AS (
        |  SELECT c, CAST(count(*) FILTER (g1) AS BIGINT) AS c1,
        |    CAST(count(*) FILTER (NOT g1) AS BIGINT) AS c2
        |  FROM e GROUP BY c),
        |w AS (SELECT c, sum(c1) OVER (ORDER BY c) AS k1,
        |        sum(c2) OVER (ORDER BY c) AS k2
        |      FROM v),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |          CAST(sum(c2) AS BIGINT) AS n2 FROM v),
        |d AS (
        |  SELECT t.n1, t.n2,
        |    CAST(max(abs(k1 * t.n2 - k2 * t.n1)) AS BIGINT) AS d_scaled
        |  FROM w, tot t GROUP BY t.n1, t.n2),
        |arg AS (
        |  SELECT CAST(min(w.c) AS BIGINT) AS at_cents
        |  FROM w, d WHERE abs(w.k1 * d.n2 - w.k2 * d.n1) = d.d_scaled)
        |SELECT d.n1, d.n2, d.d_scaled, arg.at_cents,
        |  floor(CAST(d.d_scaled AS DOUBLE)
        |    / (CAST(d.n1 AS DOUBLE) * CAST(d.n2 AS DOUBLE))
        |    * 1000000 + 0.5) / 1000000 AS ks_d
        |FROM d, arg""".stripMargin) { (s, dir) =>
      val v = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("g1"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("c"))
        .agg(sum(col("g1").cast("long")).as("c1"),
          sum((!col("g1")).cast("long")).as("c2"))
        .withColumn("_g", lit("all"))
        .localCheckpoint() // two prefix passes + the total read it
      val w1 = DistributedPrefixSum.running(v, "_g", Seq("c"), "c1", "k1")
      val w = DistributedPrefixSum.running(w1, "_g", Seq("c"), "c2", "k2")
        .localCheckpoint() // the max and the argmax both read it
      val tot = v.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val wt = w.crossJoin(broadcast(tot))
        .withColumn("dev", abs(col("k1") * col("n2") - col("k2") * col("n1")))
      val d = wt.groupBy(col("n1"), col("n2"))
        .agg(max(col("dev")).as("d_scaled"))
      val arg = wt.join(broadcast(d), Seq("n1", "n2"))
        .filter(col("dev") === col("d_scaled"))
        .groupBy(col("n1"), col("n2"), col("d_scaled"))
        .agg(min(col("c")).as("at_cents"))
      arg.select(col("n1"), col("n2"), col("d_scaled"), col("at_cents"),
        (floor(col("d_scaled").cast("double")
          / (col("n1").cast("double") * col("n2").cast("double"))
          * lit(1000000) + lit(0.5)) / lit(1000000)).as("ks_d"))
    },

    // B115: CHI-SQUARE TEST OF INDEPENDENCE over a categorical
    // contingency table (Pearson 1900) — market segment × region on
    // the customer→nation→region join: is segment mix independent of
    // geography? The categorical companion to B60 (two-group means)
    // and B114 (two-group ranks); B113 is the same statistic against
    // a FIXED expected vector, here the expectation is the product
    // of the margins. Observed counts exact; expected_rc = (row_tot ·
    // col_tot)/n — ONE multiply of exact BIGINTs and ONE division;
    // each term a pinned (obs−exp)²/exp tree; total an ordered
    // (segment, region)-ascending fold from 0.0 (ADC convention),
    // 6dp floor form. Scale shape: one multi-way broadcast join +
    // ONE map-side-combinable 25-group count; margins and the fold
    // live on the 25-row model relation.
    Q("chisq_segment_region",
      """WITH obs AS (
        |  SELECT c_mktsegment AS seg, r_name AS region,
        |    CAST(count(*) AS BIGINT) AS observed
        |  FROM customer
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  GROUP BY 1, 2),
        |rt AS (SELECT seg, CAST(sum(observed) AS BIGINT) AS row_tot
        |       FROM obs GROUP BY seg),
        |ct AS (SELECT region, CAST(sum(observed) AS BIGINT) AS col_tot
        |       FROM obs GROUP BY region),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs),
        |t AS (
        |  SELECT o.seg, o.region, o.observed,
        |    CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.n AS expected
        |  FROM obs o JOIN rt USING (seg) JOIN ct USING (region), n),
        |chi AS (
        |  SELECT floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((CAST(observed AS DOUBLE) - expected)
        |           * (CAST(observed AS DOUBLE) - expected) / expected
        |        ORDER BY seg, region)), (a, x) -> a + x) * 1000000 + 0.5)
        |    / 1000000 AS chi2
        |  FROM t)
        |SELECT t.seg, t.region, t.observed,
        |  floor(t.expected * 1000000 + 0.5) / 1000000 AS expected,
        |  chi.chi2 AS chi2_total
        |FROM t, chi""".stripMargin) { (s, dir) =>
      val obs = table(s, dir, "customer")
        .join(broadcast(table(s, dir, "nation")),
          col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(table(s, dir, "region")),
          col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("r_name").as("region"))
        .agg(count(lit(1)).as("observed"))
        .localCheckpoint() // margins + cells read the 25-row table
      val rt = obs.groupBy(col("seg")).agg(sum(col("observed")).as("row_tot"))
      val ct = obs.groupBy(col("region"))
        .agg(sum(col("observed")).as("col_tot"))
      val n = obs.agg(sum(col("observed")).as("n"))
      val t = obs.join(broadcast(rt), Seq("seg"))
        .join(broadcast(ct), Seq("region"))
        .crossJoin(broadcast(n))
        .select(col("seg"), col("region"), col("observed"),
          ((col("row_tot") * col("col_tot")).cast("double") / col("n"))
            .as("expected"))
        .withColumn("term",
          (col("observed").cast("double") - col("expected"))
            * (col("observed").cast("double") - col("expected"))
            / col("expected"))
        .localCheckpoint()
      val chi = t
        .agg(sort_array(collect_list(struct(col("seg"), col("region"),
          col("term")))).as("ts"))
        .select((floor(aggregate(col("ts"), lit(0.0),
            (acc, x) => acc + x.getField("term")) * lit(1000000) + lit(0.5))
          / lit(1000000)).as("chi2_total"))
      t.crossJoin(broadcast(chi))
        .select(col("seg"), col("region"), col("observed"),
          (floor(col("expected") * lit(1000000) + lit(0.5)) / lit(1000000))
            .as("expected"),
          col("chi2_total"))
    },

    // B116: DECISION STUMP trained in-engine (the 1-split CART tree,
    // Breiman et al. 1984) — the TREE member of the closed-form
    // trained-classifier family (C86 geometric, C96 generative):
    // find the value threshold minimizing weighted Gini impurity for
    // a binary label, exactly. Label = a PLANTED noisy threshold
    // concept (the C86/ann_recall_gate convention): y = (cents ≥
    // 3000) XOR (event_id % 10 = 0) — a known boundary with 10%
    // deterministic label flips, so recovery is meaningful (acc ≈
    // 0.9, threshold lands at the boundary; a majority guesser gets
    // ~0.5). The search never materializes per-row ranks: group to
    // the distinct-cents grain, two DistributedPrefixSum passes give
    // (n_L, pos_L) at every candidate threshold, and minimizing Gini
    // ⇔ maximizing score(t) = P_L/n_L + P_R/n_R with P = pos² +
    // neg² — each P an exact BIGINT, the score ONE pinned double
    // tree, argmax by (score DESC, t ASC) — bit-equal doubles make
    // the tie rule deterministic cross-engine (the dedup_keep_best
    // unrounded-order-key precedent). Thresholds with an empty right
    // side are excluded (no 0-denominator). Scale shape: one keyed
    // agg to the value grain + two streamed range-partitioned
    // passes + a broadcast single-row total — never a corpus sort.
    Q("decision_stump_value", {
      val scoreSql = """(CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
        | / CAST(nl AS DOUBLE)
        | + CAST((npos - pl) * (npos - pl)
        |        + ((n - nl) - (npos - pl)) * ((n - nl) - (npos - pl))
        |     AS DOUBLE) / CAST(n - nl AS DOUBLE))"""
        .stripMargin.replace("\n", "")
      s"""WITH e0 AS (
        |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, event_id
        |  FROM events),
        |e AS (
        |  SELECT c, CASE WHEN (c >= 3000) != (event_id % 10 = 0)
        |                 THEN 1 ELSE 0 END AS y
        |  FROM e0),
        |v AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt,
        |        CAST(sum(y) AS BIGINT) AS pos
        |      FROM e GROUP BY c),
        |w AS (SELECT c, sum(cnt) OVER (ORDER BY c) AS nl,
        |        sum(pos) OVER (ORDER BY c) AS pl
        |      FROM v),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |          CAST(sum(pos) AS BIGINT) AS npos FROM v),
        |sc AS (
        |  SELECT c AS threshold, nl, pl, n, npos, $scoreSql AS score
        |  FROM w, tot WHERE nl < n),
        |best AS (SELECT * FROM sc ORDER BY score DESC, threshold LIMIT 1)
        |SELECT threshold, n, npos,
        |  CAST(nl AS BIGINT) AS n_l, CAST(pl AS BIGINT) AS pos_l,
        |  CAST(n - nl AS BIGINT) AS n_r,
        |  CAST(npos - pl AS BIGINT) AS pos_r,
        |  floor((1.0 - score / CAST(n AS DOUBLE)) * 1000000 + 0.5)
        |    / 1000000 AS gini,
        |  floor(CAST(greatest(pl, nl - pl)
        |      + greatest(npos - pl, (n - nl) - (npos - pl)) AS DOUBLE)
        |    / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS acc
        |FROM best""".stripMargin
    }) { (s, dir) =>
      import graft.operators.DistributedPrefixSum
      // the planted concept: cents ≥ 3000, 10% deterministic flips
      val e = table(s, dir, "events")
        .select(floor(col("value") * 100 + lit(0.5)).cast("long").as("c"),
          col("event_id"))
        .select(col("c"),
          ((col("c") >= 3000) =!= (col("event_id") % 10 === 0))
            .cast("long").as("y"))
      val v = e.groupBy(col("c"))
        .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
        .withColumn("_g", lit("all"))
        .localCheckpoint() // two prefix passes + the total read it
      val w1 = DistributedPrefixSum.running(v, "_g", Seq("c"), "cnt", "nl")
      val w = DistributedPrefixSum.running(w1, "_g", Seq("c"), "pos", "pl")
      val tot = v.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("npos"))
      val sc = w.crossJoin(broadcast(tot))
        .filter(col("nl") < col("n"))
        .select(col("c").as("threshold"), col("nl"), col("pl"), col("n"),
          col("npos"),
          ((col("pl") * col("pl")
              + (col("nl") - col("pl")) * (col("nl") - col("pl")))
            .cast("double") / col("nl").cast("double")
          + ((col("npos") - col("pl")) * (col("npos") - col("pl"))
              + ((col("n") - col("nl")) - (col("npos") - col("pl")))
                * ((col("n") - col("nl")) - (col("npos") - col("pl"))))
            .cast("double") / (col("n") - col("nl")).cast("double"))
            .as("score"))
      // argmax (score DESC, threshold ASC): max over (score, -t)
      val best = sc
        .agg(max(struct(col("score"), (-col("threshold")).as("negt"),
          col("nl"), col("pl"), col("n"), col("npos"))).as("b"))
        .select(col("b.score").as("score"),
          (-col("b.negt")).as("threshold"), col("b.nl").as("nl"),
          col("b.pl").as("pl"), col("b.n").as("n"), col("b.npos").as("npos"))
      best.select(col("threshold"), col("n"), col("npos"),
        col("nl").as("n_l"), col("pl").as("pos_l"),
        (col("n") - col("nl")).as("n_r"),
        (col("npos") - col("pl")).as("pos_r"),
        (floor((lit(1.0) - col("score") / col("n").cast("double"))
          * lit(1000000) + lit(0.5)) / lit(1000000)).as("gini"),
        (floor((greatest(col("pl"), col("nl") - col("pl"))
            + greatest(col("npos") - col("pl"),
              (col("n") - col("nl")) - (col("npos") - col("pl"))))
          .cast("double") / col("n").cast("double")
          * lit(1000000) + lit(0.5)) / lit(1000000)).as("acc"))
    },

    // C102: 5-FOLD CROSS-VALIDATION of the in-engine stump — the
    // model-SELECTION primitive (train on 4/5, score on the held-out
    // 1/5, per fold) that turns B116's training and C101's grading
    // into the full distributed eval loop, with everything exact:
    // fold = event_id % 5 (deterministic, replayable, balanced on
    // dense ids); per fold the B116 search runs on the train split
    // (same prefix-sum grain), the held-out rows are scored with the
    // trained (threshold, left/right-majority) rule — majority =
    // 2·pos ≥ n, ties to 1, spelled identically in both engines —
    // and test accuracy is ONE exact integer ratio, 6dp floor. The
    // planted flips use modulus 7, NOT B116's 10: gcd(5, 7) = 1
    // spreads flips uniformly across folds, so every fold's TEST
    // accuracy sits at ≈ 6/7 — with modulus 10 every flip landed in
    // fold 0 (10 ≡ 0 mod 5), collapsing fold 0 to 0.5 and inflating
    // the rest to 1.0: the fold/noise-correlation trap this comment
    // documents. Scale shape: 5× the B116
    // plan (each fold one keyed agg + two streamed passes + one
    // broadcast-scored test pass); folds are independent.
    Q("crossval_stump", {
      def foldCtes(f: Int): String =
        s"""v$f AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt,
           |        CAST(sum(y) AS BIGINT) AS pos
           |      FROM e WHERE eid % 5 != $f GROUP BY c),
           |w$f AS (SELECT c, cnt, pos, sum(cnt) OVER (ORDER BY c) AS nl,
           |          sum(pos) OVER (ORDER BY c) AS pl
           |        FROM v$f),
           |tot$f AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
           |            CAST(sum(pos) AS BIGINT) AS npos FROM v$f),
           |sc$f AS (
           |  SELECT c AS threshold, nl, pl, n, npos,
           |    (CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
           |       / CAST(nl AS DOUBLE)
           |     + CAST((npos - pl) * (npos - pl)
           |            + ((n - nl) - (npos - pl)) * ((n - nl) - (npos - pl))
           |         AS DOUBLE) / CAST(n - nl AS DOUBLE)) AS score
           |  FROM w$f, tot$f WHERE nl < n),
           |best$f AS (SELECT threshold,
           |    CAST(CASE WHEN 2 * pl >= nl THEN 1 ELSE 0 END AS BIGINT)
           |      AS ml,
           |    CAST(CASE WHEN 2 * (npos - pl) >= n - nl THEN 1 ELSE 0 END
           |      AS BIGINT) AS mr,
           |    n AS n_train
           |  FROM sc$f ORDER BY score DESC, threshold LIMIT 1),
           |row$f AS (
           |  SELECT CAST($f AS INT) AS fold, b.threshold, b.n_train,
           |    CAST(count(*) AS BIGINT) AS n_test,
           |    floor(CAST(sum(CASE WHEN
           |        (CASE WHEN e.c <= b.threshold THEN b.ml ELSE b.mr END)
           |          = e.y THEN 1 ELSE 0 END) AS DOUBLE)
           |      / count(*) * 1000000 + 0.5) / 1000000 AS test_acc
           |  FROM e, best$f b WHERE eid % 5 = $f
           |  GROUP BY b.threshold, b.n_train)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, event_id
         |  FROM events),
         |e AS (
         |  SELECT c, event_id AS eid,
         |    CAST(CASE WHEN (c >= 3000) != (event_id % 7 = 0)
         |         THEN 1 ELSE 0 END AS BIGINT) AS y
         |  FROM e0),
         |${(0 to 4).map(foldCtes).mkString(",\n")}
         |${(0 to 4).map(f => s"SELECT * FROM row$f").mkString("\nUNION ALL\n")}"""
        .stripMargin
    }) { (s, dir) =>
      import graft.operators.DistributedPrefixSum
      // Round-13 optimization (guide §1.2/§2.3): the r12 spelling ran
      // FIVE independent fold chains serially — 5 train groupBys, 5
      // checkpoints, 10 prefix-sum passes, 5 broadcast test scans.
      // All folds now ride ONE pass each: per-(c, fold) counts once;
      // fold f's train counts are the exact integer complement
      // total(c) − fold(c, f) (rows with complement 0 are dropped to
      // reproduce the per-fold groupBy row set exactly); ONE grouped
      // prefix-sum with group = fold ranks all five folds; the five
      // best rows broadcast as one relation into ONE test scan keyed
      // on eid % 5. Identical per-fold arithmetic, identical rows.
      val e = table(s, dir, "events")
        .select(floor(col("value") * 100 + lit(0.5)).cast("long").as("c"),
          col("event_id").as("eid"))
        .select(col("c"), (col("eid") % 5).as("f"),
          ((col("c") >= 3000) =!= (col("eid") % 7 === 0))
            .cast("long").as("y"))
        .localCheckpoint() // the train rollup + the test scan read it
      val cf = e.groupBy(col("c"), col("f"))
        .agg(count(lit(1)).as("cnt_f"), sum(col("y")).as("pos_f"))
        .localCheckpoint() // totals + the 5-fold complement read it
      val totC = cf.groupBy(col("c"))
        .agg(sum(col("cnt_f")).as("cnt_t"), sum(col("pos_f")).as("pos_t"))
      val foldIds = s.range(5).select(col("id").as("f"))
      val v = totC.crossJoin(broadcast(foldIds))
        .join(cf, Seq("c", "f"), "left")
        .select(col("f"), col("c"),
          (col("cnt_t") - coalesce(col("cnt_f"), lit(0L))).as("cnt"),
          (col("pos_t") - coalesce(col("pos_f"), lit(0L))).as("pos"))
        .filter(col("cnt") > 0)
        .localCheckpoint() // prefix sums + per-fold totals read it
      val w1 = DistributedPrefixSum.running(v, "f", Seq("c"), "cnt", "nl")
      val w = DistributedPrefixSum.running(w1, "f", Seq("c"), "pos", "pl")
      val tot = v.groupBy(col("f"))
        .agg(sum(col("cnt")).as("n"), sum(col("pos")).as("npos"))
      val sc = w.join(broadcast(tot), Seq("f"))
        .filter(col("nl") < col("n"))
        .select(col("f"), col("c").as("threshold"), col("nl"), col("pl"),
          col("n"), col("npos"),
          ((col("pl") * col("pl")
              + (col("nl") - col("pl")) * (col("nl") - col("pl")))
            .cast("double") / col("nl").cast("double")
          + ((col("npos") - col("pl")) * (col("npos") - col("pl"))
              + ((col("n") - col("nl")) - (col("npos") - col("pl")))
                * ((col("n") - col("nl")) - (col("npos") - col("pl"))))
            .cast("double") / (col("n") - col("nl")).cast("double"))
            .as("score"))
      val best = sc.groupBy(col("f"))
        .agg(max(struct(col("score"), (-col("threshold")).as("negt"),
          col("nl"), col("pl"), col("n"), col("npos"))).as("b"))
        .select(col("f"), (-col("b.negt")).as("threshold"),
          (lit(2) * col("b.pl") >= col("b.nl")).cast("long").as("ml"),
          (lit(2) * (col("b.npos") - col("b.pl"))
            >= col("b.n") - col("b.nl")).cast("long").as("mr"),
          col("b.n").as("n_train"))
      e.join(broadcast(best), Seq("f"))
        .groupBy(col("f"), col("threshold"), col("n_train"))
        .agg(count(lit(1)).as("n_test"),
          sum((when(col("c") <= col("threshold"), col("ml"))
            .otherwise(col("mr")) === col("y")).cast("long"))
            .as("n_correct"))
        .select(col("f").cast("int").as("fold"), col("threshold"),
          col("n_train"), col("n_test"),
          (floor(col("n_correct").cast("double")
            / col("n_test").cast("double") * lit(1000000) + lit(0.5))
            / lit(1000000)).as("test_acc"))
    })
}
