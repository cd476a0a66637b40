package graft.queries

import graft.GraftSession.table
import graft.functions.{TextFunctions => TF}
import graft.model.TripModel
import graft.operators.{AsOfJoin, DistributedPrefixSum, DistributedQuantile, RangeJoin, SkewJoin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended engine surface: set operators, cube, exact percentiles,
  * regex, null handling, batch tumbling windows, the as-of join, and
  * the full raw-JSON trip ingest pipeline (SURVEY.md §2 A1, B19-B24,
  * D3 batch analog).
  */
object ExtendedQueries {

  private val eventsCte =
    """e AS (
      |  SELECT event_id, user_id, event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      |  FROM events)""".stripMargin

  // Exact-integer-cents daily mean — ONE definition for every
  // time-series query that carries/folds daily values: Σ⌊100·v⌋ is an
  // order-independent integer sum, divided ONCE in doubles, so both
  // engines produce bit-identical means (round(avg, 4) flipped the
  // rounding boundary on 2/40083 groups at sf0.1 — the avg's
  // distributed-sum ulp noise is NOT n×-below any fixed decimal).
  private def centsMeanSql(c: String): String =
    s"CAST(sum(CAST(floor($c * 100) AS BIGINT)) AS DOUBLE) / (100.0 * count(*))"

  private def centsMeanCol(c: String): org.apache.spark.sql.Column =
    sum(floor(col(c) * 100).cast("long")).cast("double") /
      (lit(100.0) * count(lit(1)))

  private val dailyMeanSql = centsMeanSql("value")
  private def dailyMeanCol: org.apache.spark.sql.Column = centsMeanCol("value")

  val all: Seq[Q] = Seq(

    // B19: INTERSECT (distinct set semantics in both engines).
    Q("intersect_nation_keys",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier""".stripMargin) { (s, dir) =>
      table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(table(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
    },

    // B19: EXCEPT — customer keys that are not also supplier keys.
    // Operands chosen so the difference is provably NON-EMPTY at
    // every SF (customers outnumber suppliers ~15:1 and both key
    // spaces start at 0, so |diff| = |customer| − |supplier| > 0):
    // an always-empty EXCEPT implementation cannot pass this gate.
    // (The previous nationkey spelling was vacuous — every nation
    // has both customers and suppliers, so 0 = 0 proved nothing.)
    Q("except_customer_keys",
      """SELECT c_custkey AS key FROM customer
        |EXCEPT
        |SELECT s_suppkey FROM supplier""".stripMargin) { (s, dir) =>
      table(s, dir, "customer").select(col("c_custkey").as("key"))
        .except(table(s, dir, "supplier").select(col("s_suppkey").as("key")))
    },

    // B19b: EXCEPT ALL — bag semantics (multiplicity-preserving
    // difference), the form dedup accounting needs: how many ROWS
    // (not which values) survive removing one occurrence per match.
    Q("except_all_priorities",
      """SELECT o_orderpriority AS priority FROM orders
        |WHERE o_orderstatus = 'O'
        |EXCEPT ALL
        |SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderpriority").as("priority"))
        .exceptAll(o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderpriority").as("priority")))
    },

    // B17: CUBE over status × priority.
    Q("cube_order_stats",
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS value
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("value"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("value"))
    },

    // B17b: arbitrary GROUPING SETS (the general form ROLLUP/CUBE
    // specialize) through the typed Dataset.groupingSets API, with
    // grouping() flags distinguishing a grouped-out NULL from a data
    // NULL. Sums as exact-integer cents — order-independent, so the
    // multi-set expansion is bit-exact in both engines.
    Q("grouping_sets_order_value",
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          // grouping() is resolvable only inside the grouping agg
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"),
          count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("g_status"), col("g_priority"),
          col("n_orders"), col("cents"))
    },

    // B50: key-skew profile — the per-key count distribution folded
    // into power-of-two buckets (bucket b holds keys with 2^b ≤ cnt
    // < 2^(b+1)): the one-page answer to "is this join key skewed,
    // and how badly" that decides broadcast vs salt vs AQE skew
    // hints BEFORE the expensive join runs. Two shuffles: the keyed
    // count (map-side combined) and a distinct-key-sized bucket agg.
    // bucket = length(bin(cnt)) - 1 is pure integer/string work both
    // engines spell identically — no float log2 near power-of-two
    // boundaries.
    Q("skew_key_profile",
      """WITH c AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY o_custkey)
        |SELECT CAST(length(bin(cnt)) - 1 AS INT) AS bucket,
        |  count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  min(cnt) AS min_cnt, max(cnt) AS max_cnt
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
        .groupBy((length(bin(col("cnt"))) - 1).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
          min(col("cnt")).as("min_cnt"), max(col("cnt")).as("max_cnt"))
    },

    // B51: column-statistics profile — the ANALYZE TABLE pass
    // (null count, exact distinct count, min/max per column) that
    // feeds a cost-based optimizer and any data-quality dashboard.
    // One branch per column, each a COLUMN-PRUNED scan → groupBy the
    // value (the distributed exact-NDV shuffle) → a tiny agg over the
    // NDV-sized distinct table. NOT the single wide multi-distinct
    // agg: that plans through Expand (rows × k+1) and merges every
    // column's full distinct SET on one final reducer — measured
    // 7.4 s vs 1.3 s here at sf0.1, and the single-reducer set merge
    // is exactly what falls over at 100 TB.
    // Timestamps profile as epoch seconds and the integral-valued
    // double as floor-bigint so every min/max renders to strings both
    // engines spell identically (no double formatting divergence).
    Q("table_profile",
      """WITH s AS (SELECT
        |    l_orderkey, l_partkey, l_returnflag,
        |    CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ship_s,
        |    CAST(floor(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem)
        |SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
        |  count(l_orderkey) AS n_nonnull,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(min(l_orderkey) AS VARCHAR) AS min_s,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_s FROM s
        |UNION ALL
        |SELECT 'l_partkey', count(*), count(l_partkey),
        |  CAST(count(DISTINCT l_partkey) AS BIGINT),
        |  CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR) FROM s
        |UNION ALL
        |SELECT 'l_quantity', count(*), count(qty),
        |  CAST(count(DISTINCT qty) AS BIGINT),
        |  CAST(min(qty) AS VARCHAR), CAST(max(qty) AS VARCHAR) FROM s
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(l_returnflag),
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT),
        |  min(l_returnflag), max(l_returnflag) FROM s
        |UNION ALL
        |SELECT 'l_shipdate', count(*), count(ship_s),
        |  CAST(count(DISTINCT ship_s) AS BIGINT),
        |  CAST(min(ship_s) AS VARCHAR), CAST(max(ship_s) AS VARCHAR) FROM s""".stripMargin) { (s, dir) =>
      val src = table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_partkey"), col("l_returnflag"),
        unix_timestamp(col("l_shipdate")).as("ship_s"),
        floor(col("l_quantity")).cast("long").as("qty"))
      val shown = Map("qty" -> "l_quantity", "ship_s" -> "l_shipdate")
      Seq("l_orderkey", "l_partkey", "qty", "l_returnflag", "ship_s").map { c =>
        src.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .agg(
            sum(col("cnt")).as("n_rows"),
            coalesce(sum(when(col(c).isNotNull, col("cnt"))), lit(0L))
              .as("n_nonnull"),
            count(when(col(c).isNotNull, lit(1))).as("n_distinct"),
            min(col(c)).cast("string").as("min_s"),
            max(col(c)).cast("string").as("max_s"))
          .select(lit(shown.getOrElse(c, c)).as("col_name"), col("n_rows"),
            col("n_nonnull"), col("n_distinct"), col("min_s"), col("max_s"))
      }.reduce(_ unionByName _)
    },

    // B20: exact interpolated percentiles (both engines: linear
    // interpolation over the sorted set).
    Q("exact_percentiles",
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      // NOT the built-in `percentile` agg: that buffers every group
      // value in one unspillable reducer (OOM with 5 groups at 100 TB).
      // DistributedQuantile streams two sorted passes and ships only
      // the bracketing ranked rows to the driver.
      DistributedQuantile
        .quantiles(table(s, dir, "orders"), "o_orderpriority", "o_totalprice",
          Seq("p50" -> 0.5, "p90" -> 0.9))
        .select(col("g").as("o_orderpriority"),
          round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"))
    },

    // B20c: equi-depth histogram — decile buckets with ~equal row
    // counts, the selectivity-estimation / data-profiling primitive
    // (equi-WIDTH binning is histogram_order_value). The 9 cut values
    // are the EXACT bracket-rank values at rank (k·(n−1)) div 10
    // (DistributedQuantile.cutValues — `v > interpolated_b` ⟺
    // `v > v_lo`, no data value falls strictly between consecutive
    // ranks, so the cut is a pure rank SELECTION and immune to the
    // cross-engine interpolation-tree ulp divergence; round-13
    // measurement in the operator scaladoc), broadcast as one row
    // over one scan; bucket = how many cut values the row strictly
    // exceeds, so edge ties resolve identically in both engines.
    Q("equidepth_histogram",
      s"""WITH rk AS (
         |  SELECT o_totalprice AS v,
         |    row_number() OVER (ORDER BY o_totalprice) - 1 AS r,
         |    count(*) OVER () AS n
         |  FROM orders),
         |b AS (
         |  SELECT ${(1 to 9).map(k => s"max(CASE WHEN r = ($k*(n-1))//10 THEN v END) AS b$k").mkString(", ")}
         |  FROM rk),
         |k AS (
         |  SELECT CAST(${(1 to 9).map(k => s"(CASE WHEN o_totalprice > b$k THEN 1 ELSE 0 END)").mkString(" + ")} AS INT) AS bucket,
         |    o_totalprice
         |  FROM orders, b)
         |SELECT bucket, count(*) AS n_orders,
         |  round(sum(o_totalprice), 2) AS sum_value,
         |  round(min(o_totalprice), 4) AS lo,
         |  round(max(o_totalprice), 4) AS hi
         |FROM k GROUP BY bucket""".stripMargin) { (s, dir) =>
      val orders = table(s, dir, "orders")
      val bps = DistributedQuantile
        .cutValues(orders.withColumn("_g", lit("all")), "_g", "o_totalprice",
          (1 to 9).map(k => (s"b$k", k, 10)))
        .drop("g").drop((1 to 9).map(k => s"b${k}_rem"): _*)
      val bucket = (1 to 9)
        .map(k => (col("o_totalprice") > col(s"b$k")).cast("int"))
        .reduce(_ + _)
      orders.crossJoin(broadcast(bps))
        .select(bucket.cast("int").as("bucket"), col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_value"),
          round(min(col("o_totalprice")), 4).as("lo"),
          round(max(col("o_totalprice")), 4).as("hi"))
    },

    // B54: robust outlier detection — median/MAD z-scores (the
    // telemetry/price-anomaly primitive that mean/stddev z-scores get
    // wrong: one fat outlier inflates stddev and hides its siblings;
    // the median absolute deviation is breakdown-point-0.5 robust).
    // Two DistributedQuantile chains (median of the value, then
    // median of |value − median|), each the scale-safe streamed
    // two-pass — never the unspillable percentile buffer agg — with
    // the group-count-sized statistics broadcast over one scan for
    // the flag count. Both medians are MEDIANS (q = 0.5): the
    // interpolation fraction is 0 or exactly 0.5, whose products are
    // exact halvings, so every interpolation tree yields the same
    // double — the one q where cross-engine bit-identity holds
    // unconditionally (see the DistributedQuantile scaladoc caution);
    // the strict > threshold compare is therefore exact in both
    // engines without rank-based cuts.
    Q("robust_outliers",
      """WITH m AS (
        |  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT o.o_orderpriority, o_totalprice, med,
        |    abs(o_totalprice - med) AS dev
        |  FROM orders o JOIN m USING (o_orderpriority)),
        |s AS (SELECT o_orderpriority, quantile_cont(dev, 0.5) AS mad
        |      FROM d GROUP BY 1)
        |SELECT d.o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(min(d.med), 4) AS median,
        |  round(min(s.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN d.dev > 3 * 1.4826 * s.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN s USING (o_orderpriority)
        |GROUP BY d.o_orderpriority""".stripMargin) { (s, dir) =>
      val orders = table(s, dir, "orders")
      val med = DistributedQuantile
        .quantiles(orders, "o_orderpriority", "o_totalprice", Seq("med" -> 0.5))
        .select(col("g").as("o_orderpriority"), col("med"))
      val dev = orders.join(broadcast(med), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("med"),
          abs(col("o_totalprice") - col("med")).as("dev"))
      val mad = DistributedQuantile
        .quantiles(dev, "o_orderpriority", "dev", Seq("mad" -> 0.5))
        .select(col("g").as("o_orderpriority"), col("mad"))
      dev.join(broadcast(mad), Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_rows"),
          round(min(col("med")), 4).as("median"),
          round(min(col("mad")), 4).as("mad"),
          sum(when(col("dev") > lit(3) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
    },

    // B20b: t-digest quantile sketch (the second mergeable sketch,
    // functions/TDigest.scala) under the oracle — the estimate is
    // engine-specific (accuracy pinned in TDigestSpec); group keys,
    // exact interpolated percentiles, and a 2%-relative-error bound
    // on the sketch are oracle rows.
    Q("tdigest_order_value",
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
        |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95_exact,
        |  CAST(1 AS INT) AS td_p50_ok,
        |  CAST(1 AS INT) AS td_p95_ok
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      def ok(td: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
        when(abs(td - exact) / exact <= 0.02, 1).otherwise(0).cast("int")
      val orders = table(s, dir, "orders")
      // Exact companions come from the scale-safe distributed quantile
      // (see exact_percentiles above), not the buffering `percentile`
      // agg; the t-digest side stays a proper mergeable sketch agg.
      val exact = DistributedQuantile
        .quantiles(orders, "o_orderpriority", "o_totalprice",
          Seq("p50_exact" -> 0.5, "p95_exact" -> 0.95))
        .select(col("g").as("o_orderpriority"),
          round(col("p50_exact"), 4).as("p50_exact"),
          round(col("p95_exact"), 4).as("p95_exact"))
      orders
        .groupBy(col("o_orderpriority"))
        .agg(
          graft.functions.TDigest.tdigestQuantile(col("o_totalprice"), 0.5).as("td50"),
          graft.functions.TDigest.tdigestQuantile(col("o_totalprice"), 0.95).as("td95"))
        .join(broadcast(exact), "o_orderpriority")
        .select(col("o_orderpriority"), col("p50_exact"), col("p95_exact"),
          ok(col("td50"), col("p50_exact")).as("td_p50_ok"),
          ok(col("td95"), col("p95_exact")).as("td_p95_ok"))
    },

    // B21: regex extraction/counting.
    Q("regex_part_fields",
      """SELECT p_partkey,
        |  CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS BIGINT) AS brand_num,
        |  len(regexp_extract_all(p_name, '[aeiou]')) AS n_vowels
        |FROM part""".stripMargin) { (s, dir) =>
      table(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "Brand#([0-9]+)", 1).cast("bigint").as("brand_num"),
        size(regexp_extract_all(col("p_name"), lit("[aeiou]"), lit(0))).cast("bigint").as("n_vowels"))
    },

    // B22: null-handling functions.
    Q("null_funcs_orders",
      """SELECT o_orderkey,
        |  nullif(o_orderstatus, 'O') AS status_or_null,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
        |  CASE WHEN o_totalprice > 250000 THEN o_totalprice END AS big_price
        |FROM orders""".stripMargin) { (s, dir) =>
      table(s, dir, "orders").select(
        col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_label"),
        when(col("o_totalprice") > 250000, col("o_totalprice")).as("big_price"))
    },

    // D3 (batch analog): tumbling 1-hour windows via window().
    Q("tumbling_hourly_events",
      s"""WITH $eventsCte
         |SELECT event_type,
         |  tsec - tsec % 3600 AS hour_start_s,
         |  count(*) AS n,
         |  round(sum(value), 2) AS sum_value
         |FROM e GROUP BY event_type, tsec - tsec % 3600""".stripMargin) { (s, dir) =>
      table(s, dir, "events")
        .select(col("event_type"), col("value"),
          timestamp_seconds(expr("ts div 1000000000")).as("tss"))
        .groupBy(col("event_type"), window(col("tss"), "1 hour"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(
          col("event_type"),
          unix_timestamp(col("window.start")).as("hour_start_s"),
          col("n"), col("sum_value"))
    },

    // B23: backward as-of join — each event enriched with the
    // latest prior purchase of the same user (DuckDB native ASOF
    // JOIN as the oracle; Spark side is the union-sort operator).
    Q("asof_last_purchase",
      s"""WITH $eventsCte,
         |p0 AS (SELECT user_id, tsec, value, event_id FROM e WHERE event_type = 'purchase'),
         |p AS (
         |  SELECT user_id, tsec, value FROM (
         |    SELECT user_id, tsec, value,
         |      row_number() OVER (PARTITION BY user_id, tsec ORDER BY event_id DESC) AS rn
         |    FROM p0) WHERE rn = 1)
         |SELECT e.event_id, e.user_id, e.tsec,
         |  p.tsec AS asof_purchase_s, p.value AS asof_purchase_value
         |FROM e ASOF LEFT JOIN p
         |  ON e.user_id = p.user_id AND e.tsec >= p.tsec""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        expr("ts div 1000000000").as("tsec"))
      val w = Window.partitionBy(col("user_id"), col("tsec")).orderBy(col("event_id").desc)
      val purchases = e.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("tsec").as("purchase_s"), col("value").as("purchase_value"))
        .withColumn("tsec", col("purchase_s"))
      AsOfJoin.asofBackward(
          e.select(col("event_id"), col("user_id"), col("tsec")),
          purchases.select(col("user_id"), col("tsec"), col("purchase_s"), col("purchase_value")),
          keyCol = "user_id", tsCol = "tsec",
          valueCols = Seq("purchase_s", "purchase_value"))
        .select(col("event_id"), col("user_id"), col("tsec"),
          col("asof_purchase_s"), col("asof_purchase_value"))
    },

    // B23b: FORWARD as-of join — each event enriched with the next
    // purchase at or after it (mirror of asof_last_purchase; DuckDB
    // native ASOF with the reversed inequality as the oracle).
    Q("asof_next_purchase",
      s"""WITH $eventsCte,
         |p0 AS (SELECT user_id, tsec, value, event_id FROM e WHERE event_type = 'purchase'),
         |p AS (
         |  SELECT user_id, tsec, value FROM (
         |    SELECT user_id, tsec, value,
         |      row_number() OVER (PARTITION BY user_id, tsec ORDER BY event_id DESC) AS rn
         |    FROM p0) WHERE rn = 1)
         |SELECT e.event_id, e.user_id, e.tsec,
         |  p.tsec AS asof_purchase_s, p.value AS asof_purchase_value
         |FROM e ASOF LEFT JOIN p
         |  ON e.user_id = p.user_id AND e.tsec <= p.tsec""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        expr("ts div 1000000000").as("tsec"))
      val w = Window.partitionBy(col("user_id"), col("tsec")).orderBy(col("event_id").desc)
      val purchases = e.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("tsec").as("purchase_s"), col("value").as("purchase_value"))
        .withColumn("tsec", col("purchase_s"))
      AsOfJoin.asofForward(
          e.select(col("event_id"), col("user_id"), col("tsec")),
          purchases.select(col("user_id"), col("tsec"), col("purchase_s"), col("purchase_value")),
          keyCol = "user_id", tsCol = "tsec",
          valueCols = Seq("purchase_s", "purchase_value"))
        .select(col("event_id"), col("user_id"), col("tsec"),
          col("asof_purchase_s"), col("asof_purchase_value"))
    },

    // B23c: as-of join with MATCH TOLERANCE (kdb+ wj / pandas
    // merge_asof(tolerance=...) semantics): the backward match is
    // kept only when the gap is within 7 days — a stale quote/price
    // must not enrich an event weeks later just because nothing
    // newer exists. Same plan as B23 (the tolerance is a post-match
    // null-out on the enriched columns, zero extra exchanges); the
    // oracle wraps DuckDB's native ASOF join in the same CASE.
    Q("asof_tolerance_purchase",
      s"""WITH $eventsCte,
         |p0 AS (SELECT user_id, tsec, value, event_id FROM e WHERE event_type = 'purchase'),
         |p AS (
         |  SELECT user_id, tsec, value FROM (
         |    SELECT user_id, tsec, value,
         |      row_number() OVER (PARTITION BY user_id, tsec ORDER BY event_id DESC) AS rn
         |    FROM p0) WHERE rn = 1)
         |SELECT e.event_id, e.user_id, e.tsec,
         |  CASE WHEN e.tsec - p.tsec <= 604800 THEN p.tsec END AS asof_purchase_s,
         |  CASE WHEN e.tsec - p.tsec <= 604800 THEN p.value END AS asof_purchase_value
         |FROM e ASOF LEFT JOIN p
         |  ON e.user_id = p.user_id AND e.tsec >= p.tsec""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        expr("ts div 1000000000").as("tsec"))
      val w = Window.partitionBy(col("user_id"), col("tsec")).orderBy(col("event_id").desc)
      val purchases = e.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("tsec").as("purchase_s"), col("value").as("purchase_value"))
        .withColumn("tsec", col("purchase_s"))
      val within = col("tsec") - col("asof_purchase_s") <= 604800L
      AsOfJoin.asofBackward(
          e.select(col("event_id"), col("user_id"), col("tsec")),
          purchases.select(col("user_id"), col("tsec"), col("purchase_s"), col("purchase_value")),
          keyCol = "user_id", tsCol = "tsec",
          valueCols = Seq("purchase_s", "purchase_value"))
        .select(col("event_id"), col("user_id"), col("tsec"),
          when(within, col("asof_purchase_s")).as("asof_purchase_s"),
          when(within, col("asof_purchase_value")).as("asof_purchase_value"))
    },

    // B31: collection aggregation — order-insensitive collect via
    // sorted list, compared as a joined string.
    Q("collect_sorted_priorities",
      """SELECT o_custkey,
        |  array_to_string(list_sort(list(o_orderpriority)), ',') AS priorities,
        |  count(*) AS n
        |FROM orders GROUP BY o_custkey""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          array_join(sort_array(collect_list(col("o_orderpriority"))), ",").as("priorities"),
          count(lit(1)).as("n"))
    },

    // B32: correlated-subquery semantics — orders above their
    // customer's average order value.
    Q("orders_above_cust_avg",
      """SELECT o_orderkey FROM orders o
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders i
        |                      WHERE i.o_custkey = o.o_custkey)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
      table(s, dir, "orders")
        .withColumn("_cust_avg", avg(col("o_totalprice")).over(w))
        .filter(col("o_totalprice") > col("_cust_avg"))
        .select(col("o_orderkey"))
    },

    // B33: second-moment aggregates. Rounding respects double
    // precision at the value's magnitude: var ≈ 2e10 carries ~0.1 of
    // cross-engine accumulation drift, so it rounds to the nearest
    // 1e4; sd ≈ 1e5 rounds to cents.
    Q("moment_stats_orders",
      """SELECT o_orderstatus,
        |  round(stddev_samp(o_totalprice), 2) AS sd,
        |  round(var_samp(o_totalprice), -4) AS var
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(stddev_samp(col("o_totalprice")), 2).as("sd"),
          round(var_samp(col("o_totalprice")), -4).as("var"))
    },

    // B35: unpivot/melt — wide metrics back to long form.
    Q("unpivot_customer_metrics",
      """SELECT c_custkey, metric, val FROM (
        |  SELECT c_custkey,
        |    CAST(c_nationkey AS DOUBLE) AS nationkey,
        |    c_acctbal AS acctbal
        |  FROM customer)
        |UNPIVOT (val FOR metric IN (nationkey, acctbal))""".stripMargin) { (s, dir) =>
      table(s, dir, "customer")
        .select(col("c_custkey"),
          col("c_nationkey").cast("double").as("nationkey"),
          col("c_acctbal").as("acctbal"))
        .unpivot(
          ids = Array(col("c_custkey")),
          values = Array(col("nationkey"), col("acctbal")),
          variableColumnName = "metric",
          valueColumnName = "val")
    },

    // B28: range join — lineitems shipped inside each top-order's
    // 30-day promo window. Spark side runs the bucketed equi-join
    // operator; the oracle states the plain inequality join.
    Q("range_join_promo_lineitems",
      """WITH promo AS (
        |  SELECT o_orderkey AS promo_key,
        |    CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS start_day
        |  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20),
        |li AS (
        |  SELECT l_quantity,
        |    CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT) AS ship_day
        |  FROM lineitem)
        |SELECT promo_key, count(*) AS n_items, round(sum(l_quantity), 2) AS qty
        |FROM li JOIN promo
        |  ON ship_day >= start_day AND ship_day <= start_day + 30
        |GROUP BY promo_key""".stripMargin) { (s, dir) =>
      val promo = table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
        .select(
          col("o_orderkey").as("promo_key"),
          expr("unix_timestamp(o_orderdate) div 86400").as("start_day"))
        .withColumn("end_day", col("start_day") + 30)
      val points = table(s, dir, "lineitem").select(
        col("l_quantity"),
        expr("unix_timestamp(l_shipdate) div 86400").as("ship_day"))
      RangeJoin.pointInInterval(points, promo, "ship_day", "start_day", "end_day", 32L)
        .groupBy(col("promo_key"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("qty"))
    },

    // B28b: the same range join written NAIVELY (pure inequality
    // join) with the RangeJoinRewrite optimizer rule enabled — the
    // engine, not the user, turns it into the bucketed hash join.
    Q("range_join_autorewrite",
      """WITH promo AS (
        |  SELECT o_orderkey AS promo_key,
        |    CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS start_day
        |  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20),
        |li AS (
        |  SELECT l_quantity,
        |    CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT) AS ship_day
        |  FROM lineitem)
        |SELECT promo_key, count(*) AS n_items, round(sum(l_quantity), 2) AS qty
        |FROM li JOIN promo
        |  ON ship_day >= start_day AND ship_day <= start_day + 30
        |GROUP BY promo_key""".stripMargin) { (s, dir) =>
      graft.plans.RangeJoinRewrite.enable(s)
      s.conf.set("spark.graft.rangejoin.bucketWidth", "32")
      val promo = table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
        .select(
          col("o_orderkey").as("promo_key"),
          expr("unix_timestamp(o_orderdate) div 86400").as("start_day"))
        .withColumn("end_day", col("start_day") + 30)
      val points = table(s, dir, "lineitem").select(
        col("l_quantity"),
        expr("unix_timestamp(l_shipdate) div 86400").as("ship_day"))
      points.join(promo,
          col("ship_day") >= col("start_day") && col("ship_day") <= col("end_day"))
        .groupBy(col("promo_key"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("qty"))
    },

    // SQL-string entry point: same engine, spark.sql over registered
    // views (the query text IS the oracle text).
    Q("sql_api_nation_revenue",
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      graft.GraftSession.registerAll(s, dir)
      s.sql(
        """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
          |FROM orders
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin)
    },

    // B25: pivot (wide conditional aggregation).
    Q("pivot_event_counts",
      s"""WITH $eventsCte
         |SELECT user_id,
         |  count(*) FILTER (WHERE event_type = 'click') AS click,
         |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         |  count(*) FILTER (WHERE event_type = 'error') AS error,
         |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
         |  count(*) FILTER (WHERE event_type = 'view') AS view
         |FROM e GROUP BY user_id""".stripMargin) { (s, dir) =>
      val types = Seq("click", "purchase", "error", "signup", "view")
      val wide = table(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      wide.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    },

    // B26: window frames — range frame + first/last value.
    Q("window_frames_orders",
      """SELECT o_orderkey,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS n_similar_price,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  last_value(o_orderkey) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin) { (s, dir) =>
      val byPrice = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
        .rangeBetween(-50000L, Window.currentRow)
      val byDate = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = byDate.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, dir, "orders").select(
        col("o_orderkey"),
        count(lit(1)).over(byPrice).as("n_similar_price"),
        first(col("o_orderkey")).over(byDate).as("first_order"),
        last(col("o_orderkey")).over(full).as("last_order"))
    },

    // B27: custom HLL sketch aggregate (mergeable, 4 KiB/group) under
    // the oracle: the estimate itself is engine-specific (exact values
    // pinned in HllSpec), but the group keys, the exact distincts, and
    // a 5%-relative-error bound on the sketch are all oracle-checkable.
    Q("hll_distinct_parts",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(1 AS INT) AS hll_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      graft.functions.HllSketch.register(s)
      // sketch + exact companion as two pruned passes joined on the
      // group key, not one agg with countDistinct — the latter plans
      // an Expand duplicating every row (see approx_distinct_parts).
      val li = table(s, dir, "lineitem")
      val exact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("exact_parts"))
      val sk = li.groupBy(col("l_returnflag"))
        .agg(graft.functions.HllSketch.hllDistinct(col("l_partkey")).as("hll_parts"))
      sk.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"),
          when(abs(col("hll_parts") - col("exact_parts")).cast("double")
            / col("exact_parts") <= 0.05, 1).otherwise(0).cast("int").as("hll_ok"))
    },

    // A1 end-to-end: serialize events into the reference's JSON
    // message shape, parse with the tolerant TripModel schema, and
    // aggregate — the full Kafka-shaped ingest path under the
    // correctness gate (the oracle computes the same aggregate
    // directly, since serialize→parse is the identity on the fields).
    // avg_speed uses the exact-cents mean (round(avg, 4) flipped the
    // 4dp boundary for one user at sf0.1 — the gapfill find, same
    // class, found by the round-6 sf0.1 sweep).
    Q("trip_pipeline_json",
      s"""WITH $eventsCte
         |SELECT user_id AS trip_id,
         |  count(*) AS n_events,
         |  ${centsMeanSql("value")} AS avg_speed,
         |  min(tsec) AS first_s,
         |  max(tsec) AS last_s
         |FROM e GROUP BY user_id""".stripMargin) { (s, dir) =>
      val raw = table(s, dir, "events").select(
        to_json(struct(struct(
          col("user_id").as("tripNumber"),
          date_format(timestamp_seconds(expr("ts div 1000000000")),
            "yyyy-MM-dd'T'HH:mm:ssXXX").as("timestamp"),
          lit("TripData").as("type"),
          struct(col("value").as("VehicleSpeed")).as("pidData")).as("body"))).as("raw"))
      TripModel.parseRaw(raw, "raw")
        .groupBy(col("trip_id"))
        .agg(
          count(lit(1)).as("n_events"),
          centsMeanCol("speed_kmh").as("avg_speed"),
          min(unix_timestamp(col("ts"))).as("first_s"),
          max(unix_timestamp(col("ts"))).as("last_s"))
    },

    // B37: count-min sketch frequency estimates under the oracle —
    // same bound-style gate as HLL/t-digest: the top-10 exact counts
    // are oracle-computable; the sketch estimate must sit in
    // [exact, exact + 10e·N/width] (Markov bound per hash row, min
    // over depth=4 rows; the sketch is seedless-deterministic, so for
    // fixed data the booleans are fixed, not probabilistic). Exact
    // estimate values pinned in CountMinSpec.
    Q("cms_heavy_hitters",
      """WITH exact AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, exact_cnt,
        |  CAST(1 AS INT) AS cms_ge_exact,
        |  CAST(1 AS INT) AS cms_within_bound
        |FROM exact
        |ORDER BY exact_cnt DESC, l_partkey LIMIT 10""".stripMargin) { (s, dir) =>
      import graft.functions.CountMin
      val li = table(s, dir, "lineitem")
      // one corpus pass builds the 256 KiB sketch; the key list is
      // output-sized, so the lookup join is a 1-row broadcast
      val sketch = li.agg(
        CountMin.countMinSketch(col("l_partkey")).as("sk"),
        count(lit(1)).as("n_rows"))
      val top = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("l_partkey")).limit(10)
      val est = CountMin.cmsEstimate(col("sk"), col("l_partkey"))
      top.join(broadcast(sketch))
        .select(col("l_partkey"), col("exact_cnt"),
          (est >= col("exact_cnt")).cast("int").as("cms_ge_exact"),
          (est.cast("double") <= col("exact_cnt")
            + col("n_rows") * lit(10.0 * math.E / 8192.0))
            .cast("int").as("cms_within_bound"))
        .orderBy(col("exact_cnt").desc, col("l_partkey"))
    },

    // B49: Misra-Gries frequent-items summary — the "which keys
    // dominate" sketch (bounded state at any key cardinality; the
    // skew-detection primitive behind broadcast/salt decisions).
    // Two regimes in one pass over the token stream:
    //  - m=64 ≥ the corpus's distinct-token count → no prune ever
    //    fires, the summary IS the exact count table under ANY
    //    partial-merge order, so item/cnt/rank are BIT-EXACT oracle
    //    columns (same class as the exact-companion convention);
    //  - m=16 < distincts → prunes fire, counts are merge-order-
    //    dependent, but the Mergeable-Summaries guarantees (never
    //    overcount; undercount ≤ N/(m+1)) hold under any schedule —
    //    gated as exact-integer booleans, the cms/hll bound style.
    // Adversarial eviction/merge cases pinned in MisraGriesSpec.
    Q("mg_heavy_hitters",
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
        |SELECT tok, cnt, rnk,
        |  CAST(1 AS INT) AS mg_le_exact,
        |  CAST(1 AS INT) AS mg_within_bound
        |FROM r WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      import graft.functions.MisraGries
      val toks = table(s, dir, "documents").select(
        explode(TF.wsTokens(col("text"))).as("tok"))
      // ONE corpus pass builds both sketches + the exact stream size;
      // everything after runs on the single summary row
      val sk = toks.agg(
        MisraGries.sketch(col("tok"), 64).as("sk64"),
        MisraGries.sketch(col("tok"), 16).as("sk16"),
        count(lit(1)).as("n_toks"))
      sk.select(col("sk16"), col("n_toks"),
          posexplode(col("sk64")).as(Seq("idx", "e")))
        .select(col("e.item").as("tok"), col("e.cnt").as("cnt"),
          (col("idx") + 1).cast("int").as("rnk"), col("sk16"), col("n_toks"))
        .filter(col("rnk") <= 20)
        .withColumn("est16",
          coalesce(expr("get(filter(sk16, x -> x.item = tok), 0).cnt"), lit(0L)))
        .select(col("tok"), col("cnt"), col("rnk"),
          (col("est16") <= col("cnt")).cast("int").as("mg_le_exact"),
          // undercount ≤ N/(m+1): exact-integer spelling, no division
          ((col("cnt") - col("est16")) * lit(17L) <= col("n_toks"))
            .cast("int").as("mg_within_bound"))
    },

    // B38: deterministic stratified sampling — fixed-size per-stratum
    // sample by a seedless integer hash order (the dataset-curation
    // primitive: reproducible across runs, partitionings, and
    // engines). The hash is plain modular integer arithmetic both
    // engines compute identically, so the sampled SET — not just its
    // size — is oracle-exact.
    Q("stratified_sample",
      """WITH h AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    (l_orderkey % 1000003) * 2654435761 + l_linenumber AS hkey
        |  FROM lineitem),
        |r AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY hkey, l_orderkey, l_linenumber) AS rn
        |  FROM h)
        |SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sample_key_sum,
        |  round(sum(l_extendedprice), 2) AS sample_price_sum
        |FROM r WHERE rn <= 200 GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // Bottom-200 per stratum via TopKPerKey (bounded heaps +
      // map-side combine) — the row_number window would sort the
      // whole table in |strata| = 3 tasks. (hkey, orderkey,
      // linenumber) is a total order, so the sampled SET is identical.
      val hashed = table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          ((col("l_orderkey") % 1000003L) * 2654435761L + col("l_linenumber"))
            .as("hkey"))
      graft.plans.TopK.perKey(hashed, Seq("l_returnflag"),
          Seq(("hkey", true), ("l_orderkey", true), ("l_linenumber", true)), 200)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(col("l_orderkey")).as("sample_key_sum"),
          round(sum(col("l_extendedprice")), 2).as("sample_price_sum"))
    },

    // C148: STRATIFIED K-FOLD SPLIT (round 11) — the deterministic
    // 5-fold assignment stratified by source that C102's CV loop and
    // C72's train/eval split presuppose (a fold must be reproducible
    // across runs, partitionings, and engines, and stratification
    // keeps every source's mix constant per fold — random splits
    // leak source skew into fold variance): fold = Knuth-
    // multiplicative hash of doc_id mod 5 (the B38 seedless integer
    // spelling, oracle-exact at the SET level), audited per
    // (source, fold) with doc counts, char mass, and the fold's
    // share of its stratum (ONE division, 6dp). Scale shape: one
    // map-only hash + a keyed count; the audit is sources×5 rows.
    Q("stratified_kfold_split",
      """WITH f AS (
        |  SELECT source, n_chars,
        |    ((doc_id % 1000003) * 2654435761 + 7) % 5 AS fold
        |  FROM documents),
        |c AS (
        |  SELECT source, fold, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM f GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS tot
        |      FROM c GROUP BY source)
        |SELECT c.source, CAST(c.fold AS BIGINT) AS fold, c.n_docs,
        |  c.chars,
        |  floor(CAST(c.n_docs AS DOUBLE) / t.tot * 1000000 + 0.5)
        |    / 1000000 AS share
        |FROM c JOIN t USING (source)""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "documents")
        .select(col("source"), col("n_chars"),
          (((col("doc_id") % 1000003L) * 2654435761L + 7L) % 5L).as("fold"))
        .groupBy(col("source"), col("fold"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .localCheckpoint() // the stratum totals and the audit read it
      val t = c.groupBy(col("source")).agg(sum(col("n_docs")).as("tot"))
      c.join(broadcast(t), Seq("source"))
        .select(col("source"), col("fold").cast("long").as("fold"),
          col("n_docs"), col("chars"),
          (floor(col("n_docs").cast("double") / col("tot") * lit(1000000)
            + lit(0.5)) / lit(1000000)).as("share"))
    },

    // B43: explicit salted skew join — the hot-key escape hatch for
    // when AQE can't split (aggregation-free pipelines,
    // pre-partitioning for a downstream stage). The salted plan emits
    // the SAME row set as a plain shuffle join — the oracle IS the
    // plain join — but every key gets `buckets`-way parallelism: the
    // big side scatters on a hash of a disambiguator column, the
    // small side replicates buckets-fold (8 × |supplier| rows —
    // dimension-sized, trivial at any scale).
    Q("skew_salted_join",
      """SELECT s_nationkey,
        |  count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem").select(
        col("l_suppkey").as("suppkey"), col("l_extendedprice"), col("l_discount"))
      val sup = table(s, dir, "supplier").select(
        col("s_suppkey").as("suppkey"), col("s_nationkey"))
      SkewJoin.saltedInnerJoin(li, sup, "suppkey",
          scatterCol = "l_extendedprice", buckets = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
    },

    // B11+: distribution window functions — ntile quartiles,
    // percent_rank, cume_dist over a per-priority total order. The
    // ORACLE is the window spelling; the PLAN is not: PARTITION BY a
    // 5-value key serializes the whole table through 5 reducers at
    // 100 TB (the same wall pack_documents hit), so the engine
    // derives the per-group rank from DistributedPrefixSum (running
    // count of 1 — two parallel streamed passes, window-free) and
    // computes all three functions closed-form from (rank, n):
    // ntile's unequal-bucket split in integer arithmetic,
    // percent_rank = (rank−1)/(n−1), cume_dist = rank/n (the
    // (o_totalprice, o_orderkey) sort key is unique, so rank ==
    // row_number and ties don't arise). Exact rationals of identical
    // integers in both engines, floor(x·10⁶ + 0.5)/10⁶ rounded (the
    // text_quality boundary-safe convention).
    Q("window_distribution_ranks",
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
        |  floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume_d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, dir) =>
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * lit(1000000) + lit(0.5)).cast("double") / lit(1000000)
      val orders = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val ranked = DistributedPrefixSum.running(
        orders.withColumn("_one", lit(1L)),
        "o_orderpriority", Seq("o_totalprice", "o_orderkey"), "_one", "rnk")
      val counts = orders.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      // ntile(k): the first n % k buckets hold n div k + 1 rows each,
      // the rest n div k — bucket derived from rank in pure integer ops
      val big = col("n") % 4
      val small = expr("n DIV 4")
      val quartile = when(col("rnk") <= big * (small + 1),
          expr("(rnk - 1) DIV (n DIV 4 + 1)") + 1)
        .otherwise(big + expr("(rnk - (n % 4) * (n DIV 4 + 1) - 1) DIV (n DIV 4)") + 1)
      ranked.join(broadcast(counts), Seq("o_orderpriority"))
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          quartile.cast("int").as("quartile"),
          r6(when(col("n") === 1, 0.0)
            .otherwise((col("rnk") - 1).cast("double") / (col("n") - 1)))
            .as("pct_rank"),
          r6(col("rnk").cast("double") / col("n")).as("cume_d"))
    },

    // B47: regression aggregates (the SQL-standard regr_slope /
    // regr_intercept family) — per-priority OLS trend of order value
    // over time, computed closed-form from sufficient statistics
    // (n, Σx, Σy, Σxy, Σx²) in ONE map-side-combinable pass. The
    // bit-exactness trick: x is the epoch day (integer) and y is
    // floor(o_totalprice) (integer), so every sufficient statistic is
    // an EXACT integer sum — order-independent, no ulp drift. The
    // COMBINATIONS (nΣxy − ΣxΣy etc.) are computed in DOUBLES of those
    // exact integers: with x ≈ 10⁴ epoch-days and y ≈ 5·10⁵, n·Σxy
    // overflows int64 once per-group n ≳ 8·10⁴ (≈ SF 0.3) — DuckDB
    // would error loudly, Spark with ANSI off would wrap silently.
    // Identical integers → identical IEEE conversions → identical ops
    // in both engines, still bit-equal, and scale-safe. The naive
    // per-row float formulation would cancel catastrophically (nΣxy
    // and ΣxΣy agree to ~6 digits) and ride summation-order noise
    // straight through any rounding.
    Q("regression_trend",
      """SELECT o_orderpriority,
        |  CAST(n AS BIGINT) AS n_orders,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |  round((CAST(sy AS DOUBLE)
        |      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * CAST(sx AS DOUBLE)) / n, 4)
        |    AS intercept,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        |    6) AS r2
        |FROM (
        |  SELECT o_orderpriority, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM (
        |    SELECT o_orderpriority,
        |      CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS x,
        |      CAST(floor(o_totalprice) AS BIGINT) AS y
        |    FROM orders)
        |  GROUP BY o_orderpriority)""".stripMargin) { (s, dir) =>
      val base = table(s, dir, "orders").select(
        col("o_orderpriority"),
        expr("CAST(floor(unix_timestamp(o_orderdate)) AS BIGINT) div 86400").as("x"),
        floor(col("o_totalprice")).cast("long").as("y"))
      val stats = base.groupBy(col("o_orderpriority")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      // All combinations in doubles of the exact integer sums — n·Σxy
      // and n·Σy² both exceed int64 at larger SFs (loudly in DuckDB /
      // under ANSI, silently wrapped otherwise). Identical integers →
      // identical IEEE ops in both engines → still bit-equal.
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
      val num = nD * col("sxy").cast("double") - sxD * syD
      val den = nD * col("sxx").cast("double") - sxD * sxD
      val deny = nD * col("syy").cast("double") - syD * syD
      stats.select(
        col("o_orderpriority"),
        col("n").as("n_orders"),
        round(num / den, 6).as("slope"),
        round((syD - num / den * sxD) / col("n"), 4).as("intercept"),
        round(num * num / (den * deny), 6).as("r2"))
    },

    // B45: time-series gap fill + forward fill — densify each user's
    // daily activity to a contiguous day range (sequence + explode +
    // left join), zero-fill counts, carry the last observed daily
    // value forward across gaps (last IGNORE NULLS over a per-user
    // window — per-USER partitions are small by construction, so this
    // window is the right tool, unlike the low-cardinality cases
    // rewired through DistributedPrefixSum). Day buckets are integer
    // epoch-days; the carried daily mean is the shared exact-cents
    // fragment (`dailyMeanSql` — see its comment for why round(avg)
    // cannot gate).
    // C82: Z-NORMALIZED SUBSEQUENCE SIMILARITY SEARCH — the
    // time-series query/motif-matching primitive (UCR-suite family;
    // cf. "Time Series Similarity Search for Streaming Data in
    // Distributed Systems", EDBT 2019): find, per user, the w=8
    // windows of the event-value series closest to a fixed
    // z-normalized query pattern under Euclidean distance.
    // Z-normalization makes the match amplitude/offset-invariant —
    // the shape matters, not the scale. Float determinism: every
    // fold (window mean, variance, distance) is a LEFT fold seeded
    // 0.0 in BOTH engines (Spark `aggregate` ≡ DuckDB list_reduce on
    // a 0.0-prepended list), the pattern's z-form is computed once on
    // exact dyadic literals, and the output distance is
    // floor(d·1e6 + 0.5)/1e6 in both. Flat windows (sd = 0) have no
    // z-form and are skipped identically. Scale shape: per-user
    // series are bounded arrays (the event_pattern_match contract),
    // windows explode map-side, and the top-3-per-user comes from
    // TopKPerKey's bounded heaps — never a global sort.
    Q("timeseries_subseq_match", {
      val base = Seq(1.0, 2.0, 3.0, 4.0, 4.0, 3.0, 2.0, 1.0)
      val pm = base.sum / 8.0
      val psd = math.sqrt(base.map(x => (x - pm) * (x - pm)).sum / 8.0)
      val pat = base.map(x => (x - pm) / psd)
      val patSql = pat.mkString("[", ", ", "]")
      s"""WITH e AS (
         |  SELECT user_id, event_id, value,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
         |  FROM events),
         |s AS (
         |  SELECT user_id, list(value ORDER BY tsec, event_id) AS vs
         |  FROM e GROUP BY user_id),
         |wins AS (
         |  SELECT user_id, CAST(i AS BIGINT) AS start,
         |    vs[CAST(i + 1 AS INT):CAST(i + 8 AS INT)] AS w
         |  FROM s, unnest(range(0, len(vs) - 7)) AS u(i)
         |  WHERE len(vs) >= 8),
         |m1 AS (SELECT user_id, start, w,
         |    list_reduce(list_prepend(0.0, w), (a, b) -> a + b) / 8.0 AS m
         |  FROM wins),
         |m2 AS (SELECT user_id, start, w, m,
         |    sqrt(list_reduce(list_prepend(0.0,
         |      list_transform(w, x -> (x - m) * (x - m))), (a, b) -> a + b) / 8.0)
         |      AS sd
         |  FROM m1),
         |d AS (SELECT user_id, start,
         |    floor(list_reduce(list_prepend(0.0,
         |      list_transform(range(1, 9), j ->
         |        ((w[CAST(j AS INT)] - m) / sd - ($patSql)[CAST(j AS INT)])
         |        * ((w[CAST(j AS INT)] - m) / sd - ($patSql)[CAST(j AS INT)]))),
         |      (a, b) -> a + b) * 1000000 + 0.5) / 1000000 AS dist6
         |  FROM m2 WHERE sd <> 0),
         |r AS (SELECT user_id, start, dist6,
         |    row_number() OVER (PARTITION BY user_id ORDER BY dist6, start) AS rnk
         |  FROM d)
         |SELECT user_id, CAST(rnk AS INT) AS rnk, start, dist6
         |FROM r WHERE rnk <= 3""".stripMargin
    }) { (s, dir) =>
      val base = Seq(1.0, 2.0, 3.0, 4.0, 4.0, 3.0, 2.0, 1.0)
      val pm = base.sum / 8.0
      val psd = math.sqrt(base.map(x => (x - pm) * (x - pm)).sum / 8.0)
      val pat = base.map(x => (x - pm) / psd)
      val e = table(s, dir, "events").select(
        col("user_id"), col("event_id"), col("value"),
        expr("ts div 1000000000").as("tsec"))
      val series = e
        .groupBy(col("user_id"))
        .agg(collect_list(struct(col("tsec"), col("event_id"), col("value"))).as("evs"))
        // Loud guard on the bounded-series contract: a power key's
        // series fails with an actionable message instead of OOMing
        // the task (graft.functions.Guards, spark.graft.collect.*).
        .select(col("user_id"),
          graft.functions.Guards.boundedSeries(s,
            expr("transform(array_sort(evs), x -> x.value)"),
            "timeseries_subseq_match").as("vs"))
        .filter(size(col("vs")) >= 8)
      val wins = series
        .select(col("user_id"),
          explode(expr("sequence(0, size(vs) - 8)")).as("start"), col("vs"))
        .select(col("user_id"), col("start").cast("long").as("start"),
          expr("slice(vs, CAST(start + 1 AS INT), 8)").as("w"))
        .withColumn("m", expr("aggregate(w, 0D, (a, x) -> a + x) / 8.0"))
        .withColumn("sd", sqrt(
          expr("aggregate(w, 0D, (a, x) -> a + (x - m) * (x - m)) / 8.0")))
        .filter(col("sd") =!= 0.0)
      val patCol = array(pat.map(lit): _*)
      val dist = wins
        .withColumn("_p", patCol)
        .withColumn("dist6",
          floor(expr(
            "aggregate(zip_with(w, _p, (x, q) -> ((x - m) / sd - q) * ((x - m) / sd - q)), 0D, (a, x) -> a + x)")
            * 1000000 + lit(0.5)) / 1000000)
        .select(col("user_id"), col("start"), col("dist6"))
      graft.plans.TopK.perKey(dist, Seq("user_id"),
          Seq(("dist6", true), ("start", true)), 3)
        .select(col("user_id"), col("rnk").cast("int").as("rnk"),
          col("start"), col("dist6"))
    },

    Q("timeseries_gapfill",
      s"""WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, day, count(*) AS n, $dailyMeanSql AS v
        |  FROM e GROUP BY user_id, day),
        |s AS (SELECT user_id, min(day) AS mn, max(day) AS mx FROM d GROUP BY user_id),
        |dense AS (SELECT user_id, unnest(range(mn, mx + 1)) AS day FROM s),
        |j AS (
        |  SELECT dense.user_id, dense.day, d.n, d.v
        |  FROM dense LEFT JOIN d USING (user_id, day))
        |SELECT user_id, day, CAST(coalesce(n, 0) AS BIGINT) AS n_events,
        |  last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM j""".stripMargin) { (s, dir) =>
      val daily = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"),
          col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n"), dailyMeanCol.as("v"))
      val dense = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dense.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).cast("bigint").as("n_events"),
          last(col("v"), ignoreNulls = true).over(w).as("filled_value"))
    },

    // B48: per-key EWMA (exponential smoothing — the telemetry
    // smoothing the reference's trip domain wants): y₁ = x₁,
    // yₜ = α·xₜ + (1−α)·yₜ₋₁ over each user's day-ordered daily
    // means. The recurrence is a LEFT FOLD in day order: Spark folds
    // a sort_array'd collect_list per user (per-USER partitions are
    // small by construction — the gapfill argument), DuckDB seeds
    // list_reduce with the first element of list(... ORDER BY day) —
    // the same seed, same order, same IEEE ops (α = 0.25 is exact
    // binary; inputs are the shared exact-cents daily means) →
    // bit-equal before the final 6dp round.
    // B53: time-weighted average over IRREGULAR samples — the
    // telemetry/financial mean that point-average gets wrong when
    // sampling is uneven (a sensor that reports rarely while parked
    // must not dominate). Each observation holds until the next one:
    // TWA = Σ value·Δt / ΣΔt per user, last observation carrying no
    // interval. Emitted as the exact-INTEGER numerator (cents ×
    // seconds) and denominator (seconds) rather than their quotient —
    // the exact-integer convention; per-user windows are small by
    // construction (the B45 rule), so lead() is the right plan.
    // B55: CDC merge-latest compaction — apply a changelog to arrive
    // at current state per key (the warehouse MERGE / SCD-1 shape):
    // latest version wins, a delete op as the latest version removes
    // the key. Modeled on orders as a per-customer changelog (version
    // = (orderdate, orderkey) lexicographic; status P = delete). ONE
    // keyed exchange: max_by(struct(version, orderkey), payload) is
    // map-side combinable — each task forwards one candidate per key,
    // the compaction that keeps a 100 TB changelog mergeable without
    // a window sort. All-integer output (exact cents, exact counts).
    Q("cdc_merge_latest",
      """WITH c AS (
        |  SELECT o_custkey AS key,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS v,
        |    o_orderkey AS seq, o_orderstatus AS st,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (
        |  SELECT key, st, cents FROM (
        |    SELECT key, st, cents,
        |      row_number() OVER (PARTITION BY key ORDER BY v DESC, seq DESC)
        |        AS rn
        |    FROM c) WHERE rn = 1)
        |SELECT
        |  CAST(sum(CASE WHEN st <> 'P' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_live_keys,
        |  CAST(sum(CASE WHEN st = 'P' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted_keys,
        |  CAST(sum(CASE WHEN st <> 'P' THEN cents ELSE 0 END) AS BIGINT)
        |    AS live_cents
        |FROM m""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .select(col("o_custkey").as("key"),
          unix_timestamp(col("o_orderdate")).as("v"),
          col("o_orderkey").as("seq"), col("o_orderstatus").as("st"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("key"))
        .agg(max_by(struct(col("st"), col("cents")),
          struct(col("v"), col("seq"))).as("m"))
        .agg(
          sum(when(col("m.st") =!= "P", 1L).otherwise(0L)).as("n_live_keys"),
          sum(when(col("m.st") === "P", 1L).otherwise(0L)).as("n_deleted_keys"),
          sum(when(col("m.st") =!= "P", col("m.cents")).otherwise(0L))
            .as("live_cents"))
    },

    // B56: funnel analysis (view → click → purchase, strictly ordered
    // in event time) — the product-analytics staple. Stage k's
    // timestamp is the user's FIRST stage-k event strictly after
    // their stage-(k−1) time; each stage is one keyed (user) join of
    // the per-user stage table (n_users rows) back onto the events —
    // never a per-user window sort over the full stream. All-integer
    // output; conversion time as an exact second sum.
    Q("funnel_steps",
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |u AS (SELECT count(DISTINCT user_id) AS n FROM e),
        |v AS (SELECT user_id, min(tsec) AS tv FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(tsec) AS tc
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE event_type = 'click' AND tsec > tv GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(tsec) AS tp
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE event_type = 'purchase' AND tsec > tc GROUP BY e.user_id)
        |SELECT (SELECT n FROM u) AS n_users,
        |  (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clicked,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchased,
        |  (SELECT CAST(coalesce(sum(tp - tv), 0) AS BIGINT)
        |   FROM p JOIN v USING (user_id)) AS conversion_s_sum""".stripMargin) { (s, dir) =>
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
      val conv = p.join(v, "user_id")
        .agg(coalesce(sum(col("tp") - col("tv")), lit(0L)).as("conversion_s_sum"))
      e.agg(countDistinct(col("user_id")).as("n_users"))
        .crossJoin(v.agg(count(lit(1)).as("n_viewed")))
        .crossJoin(c.agg(count(lit(1)).as("n_clicked")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchased")))
        .crossJoin(conv)
    },

    // B57: cohort retention — users grouped by first-activity week,
    // counted per week offset (the growth-analytics retention
    // matrix). Two keyed exchanges: the per-user cohort agg and the
    // (cohort, offset) distinct-user count; the cohort table joins
    // back keyed on user, never broadcast-assumed (users are
    // unbounded at 100 TB, AQE may still elect broadcast at this SF).
    Q("cohort_retention",
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |coh AS (SELECT user_id, min(day) // 7 AS cohort_week FROM e
        |        GROUP BY user_id)
        |SELECT cohort_week,
        |  CAST(e.day // 7 - cohort_week AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM e JOIN coh USING (user_id)
        |GROUP BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select(
        col("user_id"), expr("(ts div 1000000000) div 86400").as("day"))
      val coh = e.groupBy(col("user_id"))
        .agg(expr("min(day) div 7").as("cohort_week"))
      e.join(coh, "user_id")
        .groupBy(col("cohort_week"),
          (expr("day div 7") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    },

    Q("timeseries_twa",
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |iv AS (
        |  SELECT user_id, cents, tsec,
        |    lead(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id)
        |      AS next_t
        |  FROM e)
        |SELECT user_id,
        |  CAST(count(next_t) AS BIGINT) AS n_intervals,
        |  CAST(coalesce(sum(cents * (next_t - tsec)), 0) AS BIGINT)
        |    AS num_cents_s,
        |  CAST(coalesce(sum(next_t - tsec), 0) AS BIGINT) AS den_s
        |FROM iv GROUP BY user_id""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select(
        col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("tsec"),
        floor(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
      e.withColumn("next_t", lead(col("tsec"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(
          count(col("next_t")).as("n_intervals"),
          coalesce(sum(col("cents") * (col("next_t") - col("tsec"))), lit(0L))
            .cast("long").as("num_cents_s"),
          coalesce(sum(col("next_t") - col("tsec")), lit(0L))
            .cast("long").as("den_s"))
    },

    Q("timeseries_ewma",
      s"""WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, day, $dailyMeanSql AS v
        |  FROM e GROUP BY user_id, day)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |  round(list_reduce(list(v ORDER BY day),
        |    (a, x) -> 0.25 * x + 0.75 * a), 6) AS ewma
        |FROM d GROUP BY user_id""".stripMargin) { (s, dir) =>
      val daily = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"),
          col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(dailyMeanCol.as("v"))
      daily.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          sort_array(collect_list(struct(col("day"), col("v")))).as("_dv"))
        .select(col("user_id"), col("n_days").cast("bigint").as("n_days"),
          round(aggregate(col("_dv"), lit(null).cast("double"), (acc, dv) =>
            when(acc.isNull, dv.getField("v"))
              .otherwise(lit(0.25) * dv.getField("v") + lit(0.75) * acc)), 6)
            .as("ewma"))
    },

    // B108: DDSketch-style relative-error quantile sketch (Masson,
    // Rim & Lee, VLDB 2019) in DECIMAL flavor: the bucket of a value
    // is its exact integer cents truncated to the first TWO
    // significant digits (zero-padded back to magnitude) — a base-10
    // log-bucket histogram with ≤ 5% relative bucket width. The
    // paper's gamma^i buckets need floor(ln x / ln gamma), whose
    // bucket BOUNDARIES are libm-dependent and not cross-engine
    // exact; first-2-digit bucketing is pure string/integer
    // arithmetic, so the sketch is bit-deterministic while keeping
    // the defining DDSketch property (bounded RELATIVE error at any
    // magnitude, vs the fixed-bin D33 histogram whose error is
    // absolute). Scale shape: the sketch relation IS a
    // map-side-combinable groupBy count — additive, mergeable,
    // ≤ ~90 buckets per decade regardless of n (the production
    // shape: one tiny sketch per partition merged by +). Read-out:
    // cumulative counts over the model-sized bucket relation (the
    // single-partition window is over ≤ a few hundred rows — the
    // allocation-table convention), target rank ceil(p·n) in exact
    // integers, estimate = bucket lower edge. All BIGINTs.
    Q("ddsketch_order_value",
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (
        |  SELECT CAST(rpad(substring(CAST(cents AS VARCHAR), 1, 2),
        |      CAST(strlen(CAST(cents AS VARCHAR)) AS INT), '0') AS BIGINT)
        |      AS bkt,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM c GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS n_buckets FROM b),
        |cum AS (SELECT bkt, cnt, sum(cnt) OVER (ORDER BY bkt) AS cum FROM b),
        |rk AS (SELECT CAST(q AS INT) AS q, n, n_buckets,
        |         CAST((q * n + 99) // 100 AS BIGINT) AS target_rank
        |       FROM n, unnest([50, 90, 99]) AS u(q))
        |SELECT r.q, r.n, r.n_buckets, r.target_rank,
        |  CAST(min(c.bkt) AS BIGINT) AS est_cents
        |FROM cum c JOIN rk r ON c.cum >= r.target_rank
        |GROUP BY r.q, r.n, r.n_buckets, r.target_rank""".stripMargin) { (s, dir) =>
      val sk = table(s, dir, "orders")
        .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("cents"))
        .select(expr("CAST(rpad(substring(CAST(cents AS STRING), 1, 2), " +
          "length(CAST(cents AS STRING)), '0') AS BIGINT)").as("bkt"))
        .groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // totals + cumulative both read the sketch
      val n = sk.agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("n_buckets"))
      // model-sized relation: the unpartitioned window sorts the
      // ≤ few-hundred-row bucket table, never the orders scan
      val cum = sk.withColumn("cum",
        sum(col("cnt")).over(Window.orderBy(col("bkt"))))
      val rk = n.crossJoin(
          s.range(1).select(explode(array(lit(50L), lit(90L), lit(99L))).as("q")))
        .withColumn("target_rank", expr("(q * n + 99) DIV 100"))
      cum.crossJoin(broadcast(rk))
        .filter(col("cum") >= col("target_rank"))
        .groupBy(col("q").cast("int").as("q"), col("n"), col("n_buckets"),
          col("target_rank"))
        .agg(min(col("bkt")).as("est_cents"))
    },

    // B109: Holt's linear-trend double exponential smoothing (Holt
    // 1957) over each user's daily-mean series — the level+trend
    // sibling of B89's single EWMA: l_t = α·v_t + (1−α)(l_{t−1} +
    // b_{t−1}), b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1} with α = 0.5,
    // β = 0.25, seeded l_1 = v_1, b_1 = 0; forecast = l + b. Same
    // bounded-series contract as B89 (the series length is the
    // CALENDAR day span, not the row count). Determinism: daily
    // means are the shared exact-cents fragment; the coupled (l, b)
    // recurrence replays via a RECURSIVE CTE (the MMR greedy-loop
    // convention) with the SAME operation tree Spark's fold runs —
    // NOT a struct-typed list_reduce: DuckDB v1.0.0 mutates struct
    // accumulators in place mid-lambda (a later field sees an
    // earlier field's UPDATED value from fold step 2 on), silently
    // corrupting any coupled-state fold. IEEE double + and × are
    // deterministic, the recursion pins the order; round 6dp at the
    // end, the B89 convention.
    Q("timeseries_holt_trend",
      s"""WITH RECURSIVE e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, day, $dailyMeanSql AS v
        |  FROM e GROUP BY user_id, day),
        |hw AS (SELECT user_id, list(v ORDER BY day) AS vs,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM d GROUP BY user_id),
        |rec AS (
        |  SELECT user_id, CAST(1 AS BIGINT) AS i, vs[1] AS l,
        |    CAST(0.0 AS DOUBLE) AS b
        |  FROM hw
        |  UNION ALL
        |  SELECT r.user_id, i + 1,
        |    0.5 * h.vs[CAST(i + 1 AS INT)] + 0.5 * (l + b),
        |    0.25 * ((0.5 * h.vs[CAST(i + 1 AS INT)] + 0.5 * (l + b)) - l)
        |      + 0.75 * b
        |  FROM rec r JOIN hw h USING (user_id) WHERE i < h.n)
        |SELECT r.user_id, h.n AS n_days,
        |  round(l, 6) AS level, round(b, 6) AS trend,
        |  round(l + b, 6) AS forecast
        |FROM rec r JOIN hw h USING (user_id) WHERE r.i = h.n""".stripMargin) { (s, dir) =>
      val daily = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"),
          col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(dailyMeanCol.as("v"))
      val lNew = (acc: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =>
        lit(0.5) * v + lit(0.5) * (acc.getField("l") + acc.getField("b"))
      daily.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          sort_array(collect_list(struct(col("day"), col("v")))).as("_dv"))
        .select(col("user_id"), col("n_days").cast("bigint").as("n_days"),
          aggregate(col("_dv"),
            struct(lit(null).cast("double").as("l"), lit(0.0).as("b")),
            (acc, dv) => {
              val v = dv.getField("v")
              when(acc.getField("l").isNull,
                  struct(v.as("l"), lit(0.0).as("b")))
                .otherwise(struct(
                  lNew(acc, v).as("l"),
                  (lit(0.25) * (lNew(acc, v) - acc.getField("l"))
                    + lit(0.75) * acc.getField("b")).as("b")))
            }).as("st"))
        .select(col("user_id"), col("n_days"),
          round(col("st.l"), 6).as("level"),
          round(col("st.b"), 6).as("trend"),
          round(col("st.l") + col("st.b"), 6).as("forecast"))
    },

    // B111: CLASSICAL ADDITIVE SEASONAL DECOMPOSITION (the
    // moving-average decomposition behind STL, Cleveland et al. 1990
    // §2 — value = trend + seasonal + residual) of each user's daily
    // total: trend = row-centered 7-day moving average (full windows
    // only, else NULL — row-centered over the OBSERVED sequence; the
    // gapfill op B90 is the regularization step when calendar
    // centering matters), seasonal = the user's day-of-week mean,
    // residual = the rest. Determinism: daily totals are EXACT
    // integer cent sums; trend and seasonal are each ONE division of
    // exact integers (Σ7/7, Σdow/n) — identical doubles both
    // engines; the residual combines them in pinned order; 6dp.
    // Scale shape: one keyed agg to daily totals, a dow rollup of
    // it, and a user-bounded 7-row window — no corpus sort, no
    // unbounded state.
    Q("timeseries_seasonal_decompose",
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT user_id, day, CAST(sum(cents) AS BIGINT) AS c
        |      FROM e GROUP BY 1, 2),
        |s AS (SELECT user_id, day % 7 AS dow, CAST(sum(c) AS BIGINT) AS sc,
        |        CAST(count(*) AS BIGINT) AS nc
        |      FROM d GROUP BY 1, 2),
        |m AS (
        |  SELECT d.user_id, d.day, d.c,
        |    CASE WHEN count(*) OVER w = 7
        |         THEN CAST(sum(d.c) OVER w AS DOUBLE) / 7.0 END AS trend,
        |    CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS seasonal
        |  FROM d JOIN s ON s.user_id = d.user_id AND s.dow = d.day % 7
        |  WINDOW w AS (PARTITION BY d.user_id ORDER BY d.day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        |SELECT user_id, day, c AS cents,
        |  round(trend, 6) AS trend, round(seasonal, 6) AS seasonal,
        |  round((CAST(c AS DOUBLE) - trend) - seasonal, 6) AS resid
        |FROM m""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("cents")).as("c"))
        .localCheckpoint() // dow rollup + the window both read it
      val sDow = d.groupBy(col("user_id"), (col("day") % 7).as("dow"))
        .agg(sum(col("c")).as("sc"), count(lit(1)).as("nc"))
        .withColumnRenamed("user_id", "su")
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(-3, 3)
      val m = d.join(sDow,
          col("su") === col("user_id") && col("dow") === col("day") % 7)
        .select(col("user_id"), col("day"), col("c"),
          when(count(lit(1)).over(w) === 7,
            sum(col("c")).over(w).cast("double") / 7.0).as("trend"),
          (col("sc").cast("double") / col("nc").cast("double"))
            .as("seasonal"))
      m.select(col("user_id"), col("day"), col("c").as("cents"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round((col("c").cast("double") - col("trend")) - col("seasonal"), 6)
          .as("resid"))
    },

    // B112: THEIL-SEN robust trend (Theil 1950 / Sen 1968 — the
    // median-of-pairwise-slopes estimator, the robust sibling of
    // B47's least-squares slope: one wild day moves OLS arbitrarily,
    // Theil-Sen tolerates ~29% outliers). Per user over the shared
    // exact-cents daily means: slope_ij = (v_j − v_i)/(d_j − d_i)
    // for every day pair i < j, estimate = exact interpolated median
    // of the sorted slope list. Determinism: v is the shared
    // bit-equal daily mean; each slope is ONE subtract + ONE divide
    // of identical doubles; the median reads two sorted positions
    // ((n+1) DIV 2 and n DIV 2 + 1, 1-indexed) and averages them —
    // the B20 exact-percentile convention. Scale shape: the pair
    // join is per-user over the BOUNDED calendar-day series (B45
    // contract, ≤ ~30 days here → ≤ 435 pairs/user), then one keyed
    // agg; never a corpus×corpus join.
    Q("theilsen_trend",
      s"""WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, day, $dailyMeanSql AS v
        |  FROM e GROUP BY user_id, day),
        |p AS (
        |  SELECT a.user_id,
        |    (b.v - a.v) / CAST(b.day - a.day AS DOUBLE) AS slope
        |  FROM d a JOIN d b
        |    ON a.user_id = b.user_id AND b.day > a.day),
        |m AS (SELECT user_id, list(slope ORDER BY slope) AS ls,
        |        CAST(count(*) AS BIGINT) AS n_pairs
        |      FROM p GROUP BY user_id)
        |SELECT user_id, n_pairs,
        |  floor((ls[CAST((n_pairs + 1) // 2 AS INT)]
        |       + ls[CAST(n_pairs // 2 + 1 AS INT)]) / 2.0
        |    * 1000000 + 0.5) / 1000000 AS slope_med
        |FROM m""".stripMargin) { (s, dir) =>
      val daily = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"),
          col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(dailyMeanCol.as("v"))
        .localCheckpoint() // both sides of the pair join read it
      val a = daily.select(col("user_id"), col("day").as("da"),
        col("v").as("va"))
      val b = daily.select(col("user_id").as("ub"), col("day").as("db"),
        col("v").as("vb"))
      a.join(b, col("user_id") === col("ub") && col("db") > col("da"))
        .select(col("user_id"),
          ((col("vb") - col("va")) / (col("db") - col("da")).cast("double"))
            .as("slope"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sort_array(collect_list(col("slope"))).as("ls"))
        .select(col("user_id"), col("n_pairs"),
          // explicit floor(x·10⁶ + 0.5)/10⁶, not round(…, 6): the
          // text_quality convention — Spark's round (BigDecimal
          // shortest-string HALF_UP) and DuckDB's (exact binary)
          // disagree on .xxxxxx5 boundaries (hit at sf0.1)
          (floor(((element_at(col("ls"),
              expr("CAST((n_pairs + 1) DIV 2 AS INT)"))
            + element_at(col("ls"), expr("CAST(n_pairs DIV 2 + 1 AS INT)")))
            / 2.0) * lit(1000000) + lit(0.5)).cast("double") / lit(1000000))
            .as("slope_med"))
    },

    // B119: PER-KEY ROLLING DEBOUNCE (the CDC/telemetry
    // noise-suppression primitive: keep an event only if ≥ 300 s
    // have passed since the last KEPT event of that key — a rolling
    // cooldown, NOT a fixed time grid: whether event i survives
    // depends on which earlier events survived, so this is a genuine
    // ordered NON-DECOMPOSABLE fold (the D23 class), not a bucket
    // distinct). Per user over (tsec, event_id)-ordered events
    // (B45 bounded-series contract); emitted per user: event/kept
    // counts + the kept id-SUM (pins the exact kept SET — the
    // corpus_budget_select convention). The oracle replays the fold
    // via RECURSIVE CTE, NOT list_reduce — the struct-accumulator
    // in-place-mutation trap B109 documented applies to ANY
    // multi-field fold state, and this one carries three fields.
    Q("debounce_events",
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    event_id
        |  FROM events),
        |arr AS (
        |  SELECT user_id,
        |    list(struct_pack(t := tsec, id := event_id)
        |      ORDER BY tsec, event_id) AS xs,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY user_id),
        |rec AS (
        |  SELECT user_id, CAST(1 AS BIGINT) AS i, xs[1].t AS last_kept,
        |    CAST(1 AS BIGINT) AS n_kept, xs[1].id AS idsum
        |  FROM arr
        |  UNION ALL
        |  SELECT r.user_id, i + 1,
        |    CASE WHEN a.xs[CAST(i + 1 AS INT)].t - last_kept >= 300
        |         THEN a.xs[CAST(i + 1 AS INT)].t ELSE last_kept END,
        |    n_kept + CASE WHEN a.xs[CAST(i + 1 AS INT)].t - last_kept >= 300
        |                  THEN 1 ELSE 0 END,
        |    idsum + CASE WHEN a.xs[CAST(i + 1 AS INT)].t - last_kept >= 300
        |                 THEN a.xs[CAST(i + 1 AS INT)].id ELSE 0 END
        |  FROM rec r JOIN arr a USING (user_id) WHERE i < a.n)
        |SELECT r.user_id, a.n AS n_events, r.n_kept,
        |  CAST(r.idsum AS BIGINT) AS kept_id_sum
        |FROM rec r JOIN arr a USING (user_id) WHERE r.i = a.n""".stripMargin) {
      (s, dir) =>
      val arr = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000").as("t"),
          col("event_id").as("id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("t"), col("id")))).as("xs"))
      arr.select(col("user_id"), col("n_events"),
          aggregate(col("xs"),
            struct(lit(null).cast("long").as("last_kept"),
              lit(0L).as("n_kept"), lit(0L).as("idsum")),
            (acc, x) => {
              val keep = acc.getField("last_kept").isNull ||
                x.getField("t") - acc.getField("last_kept") >= 300
              struct(
                when(keep, x.getField("t"))
                  .otherwise(acc.getField("last_kept")).as("last_kept"),
                (acc.getField("n_kept") + when(keep, 1L).otherwise(0L))
                  .as("n_kept"),
                (acc.getField("idsum")
                  + when(keep, x.getField("id")).otherwise(0L)).as("idsum"))
            }).as("st"))
        .select(col("user_id"), col("n_events"),
          col("st.n_kept").as("n_kept"),
          col("st.idsum").as("kept_id_sum"))
    },

    // B117: KENDALL TAU-B rank correlation (Kendall 1938) per user —
    // is the user's daily spend TRENDING with time, measured by pair
    // CONCORDANCE instead of a fitted slope (B112 estimates the
    // slope; tau-b says how consistently ordered the series is, in
    // [−1, 1], outlier-immune and scale-free). Over the shared
    // exact-cents daily means: for every day pair i<j, concordant if
    // v_j > v_i, discordant if v_j < v_i, tied if equal (day ties
    // impossible — days are distinct by construction, so the tau-b
    // denominator needs only the value-tie correction): tau_b =
    // (C − D)/√(n₀(n₀ − T)) with n₀ = n(n−1)/2 — C, D, T exact
    // BIGINT counts from the bounded per-user pair join (B45
    // contract), the estimate ONE IEEE sqrt + ONE division, 6dp
    // floor form; NULL when every value ties (zero denominator —
    // stated, not crashed). Scale shape: same bounded pair join as
    // B112 + one keyed agg; never corpus×corpus.
    Q("kendall_tau_daily",
      s"""WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, day, $dailyMeanSql AS v
        |  FROM e GROUP BY user_id, day),
        |p AS (
        |  SELECT a.user_id,
        |    CAST(count(*) FILTER (b.v > a.v) AS BIGINT) AS nc,
        |    CAST(count(*) FILTER (b.v < a.v) AS BIGINT) AS nd,
        |    CAST(count(*) FILTER (b.v = a.v) AS BIGINT) AS nt,
        |    CAST(count(*) AS BIGINT) AS n0
        |  FROM d a JOIN d b
        |    ON a.user_id = b.user_id AND b.day > a.day
        |  GROUP BY a.user_id)
        |SELECT user_id, n0, nc, nd, nt,
        |  CASE WHEN nt < n0 THEN
        |    floor(CAST(nc - nd AS DOUBLE)
        |      / sqrt(CAST(n0 AS DOUBLE) * CAST(n0 - nt AS DOUBLE))
        |      * 1000000 + 0.5) / 1000000 END AS tau_b
        |FROM p""".stripMargin) { (s, dir) =>
      val daily = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"),
          col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(dailyMeanCol.as("v"))
        .localCheckpoint() // both sides of the pair join read it
      val a = daily.select(col("user_id"), col("day").as("da"),
        col("v").as("va"))
      val b = daily.select(col("user_id").as("ub"), col("day").as("db"),
        col("v").as("vb"))
      val p = a.join(b, col("user_id") === col("ub") && col("db") > col("da"))
        .groupBy(col("user_id"))
        .agg(sum((col("vb") > col("va")).cast("long")).as("nc"),
          sum((col("vb") < col("va")).cast("long")).as("nd"),
          sum((col("vb") === col("va")).cast("long")).as("nt"),
          count(lit(1)).as("n0"))
      p.select(col("user_id"), col("n0"), col("nc"), col("nd"), col("nt"),
        when(col("nt") < col("n0"),
          floor((col("nc") - col("nd")).cast("double")
            / sqrt(col("n0").cast("double") * (col("n0") - col("nt"))
              .cast("double"))
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("tau_b"))
    },

    // B113: BENFORD'S-LAW first-digit audit (Benford 1938; the
    // fraud/data-quality screen auditors actually run): observed
    // first-significant-digit counts of the exact order-value cents
    // vs the Benford expectation p_d = log10(1 + 1/d), plus the
    // chi-square statistic. Determinism: digits and counts are pure
    // string/integer ops; the nine p_d constants are HARDCODED 6dp
    // decimal literals (summing to exactly 1.000000) because log10
    // is libm — both engines parse the same literal to the same
    // double; expected = n·p_d (one multiply), each chi² term one
    // pinned (obs − exp)²/exp tree, total an ordered digit-ascending
    // fold from 0.0 (the ADC convention). Scale shape: ONE
    // map-side-combinable 9-group count; everything after is on the
    // 9-row model relation (single-row broadcast for the total).
    Q("benford_first_digit",
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |o AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT)
        |        AS digit, CAST(count(*) AS BIGINT) AS observed
        |      FROM c GROUP BY 1),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM o),
        |p AS (SELECT CAST(d AS INT) AS digit, pr FROM (VALUES
        |        (1, 0.301030), (2, 0.176091), (3, 0.124939),
        |        (4, 0.096910), (5, 0.079181), (6, 0.066947),
        |        (7, 0.057992), (8, 0.051153), (9, 0.045757)) v(d, pr)),
        |t AS (
        |  SELECT p.digit, coalesce(o.observed, 0) AS observed, n.n, p.pr,
        |    (CAST(coalesce(o.observed, 0) AS DOUBLE) - n.n * p.pr)
        |      * (CAST(coalesce(o.observed, 0) AS DOUBLE) - n.n * p.pr)
        |      / (n.n * p.pr) AS term
        |  FROM p LEFT JOIN o USING (digit), n),
        |chi AS (SELECT round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list(term ORDER BY digit)), (a, x) -> a + x), 6) AS chi2
        |        FROM t)
        |SELECT t.digit, t.observed, round(t.n * t.pr, 6) AS expected,
        |  chi.chi2 AS chi2_total
        |FROM t, chi""".stripMargin) { (s, dir) =>
      val benford = Seq(1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939,
        4 -> 0.096910, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
        8 -> 0.051153, 9 -> 0.045757)
      val o = table(s, dir, "orders")
        .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("cents"))
        .select(substring(col("cents").cast("string"), 1, 1).cast("int")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("observed"))
      val n = o.agg(sum(col("observed")).as("n"))
      val p = s.range(1).select(explode(array(benford.map { case (d, pr) =>
        struct(lit(d).as("digit"), lit(pr).as("pr")) }: _*)).as("x"))
        .select(col("x.digit").as("digit"), col("x.pr").as("pr"))
      val t = p.join(o, Seq("digit"), "left")
        .crossJoin(broadcast(n))
        .select(col("digit"),
          coalesce(col("observed"), lit(0L)).as("observed"), col("n"),
          col("pr"))
        .withColumn("term",
          (col("observed").cast("double") - col("n") * col("pr"))
            * (col("observed").cast("double") - col("n") * col("pr"))
            / (col("n") * col("pr")))
        .localCheckpoint() // 9 rows: the fold and the rows both read it
      val chi = t
        .agg(sort_array(collect_list(struct(col("digit"), col("term"))))
          .as("ts"))
        .select(round(aggregate(col("ts"), lit(0.0),
          (acc, x) => acc + x.getField("term")), 6).as("chi2_total"))
      t.crossJoin(broadcast(chi))
        .select(col("digit"), col("observed"),
          round(col("n") * col("pr"), 6).as("expected"), col("chi2_total"))
    })
}
