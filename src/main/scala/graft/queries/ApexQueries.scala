package graft.queries

import graft.GraftSession.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 wave: multiple-testing correction (BH-FDR over a KS-test
  * family) and partial autocorrelation (Durbin-Levinson) — closing
  * the remaining gaps in the test and forecasting-diagnostic
  * families.
  *
  * Shared conventions: exact integer sufficient statistics down to
  * pinned double divisions, 6dp floor form `floor(x*1e6 + 0.5)/1e6`;
  * libm values (exp/ln) quantized to an exact integer grid FIRST
  * (the C34/B133 convention) so cross-row sums are order-independent
  * integer arithmetic; deterministic total-order tie rules on every
  * top-k.
  */
object ApexQueries {

  val all: Seq[Q] = Seq(

    // B137: BENJAMINI-HOCHBERG FDR over a KS-test FAMILY (Benjamini &
    // Hochberg JRSS-B 1995) — the multiple-testing correction every
    // monitoring deployment needs once it runs the B120/B114/B115
    // tests per segment/metric (at α=0.05, five uncorrected tests
    // false-alarm ~23% of the time). Family: for each market segment,
    // the two-sample KS of in-segment vs rest-of-corpus order values,
    // D exact on the cents value grain (the B120 spelling: cum_g and
    // cumAll as integer prefix sums over the value-grain grid,
    // D_scaled = max |cum_g·n_rest − (cumAll−cum_g)·n_in| in BIGINT).
    // P-values from the asymptotic Kolmogorov series Q(λ) =
    // 2·Σ_{k=1..10} (−1)^{k−1} e^{−2k²λ²} with λ² = D_scaled² /
    // (n_in·n_rest·N) — exact integer products (DECIMAL(38,0)/
    // HUGEINT) into ONE double division; each exp term quantized to
    // the exact 1e-6 grid so the alternating sum is exact integer
    // arithmetic, clamped to [0, 1e6]; λ ≤ 0.2 pins p to 1 (below the
    // truncated series' validity floor — unreachable at any tested
    // SF). BH step-up at α = 0.05, m = 5: rank p ascending (ties by
    // segment), k* = max{i : p6_(i) ≤ i·10000} in exact integers,
    // reject ranks ≤ k*. Scale shape: one orders⋈customer keyed join
    // to the (segment, cents) value grain, one segment-partitioned
    // window + one value-grain-bounded global window (stated bound,
    // the B114/B120 discipline), then everything is 5-row model-sized.
    Q("bh_fdr_ks",
      """WITH oc AS (
        |  SELECT c.c_mktsegment AS seg,
        |    CAST(floor(o.o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |vc AS (
        |  SELECT seg, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM oc GROUP BY 1, 2),
        |gc AS (
        |  SELECT c, CAST(sum(cnt) AS BIGINT) AS gcnt,
        |    CAST(sum(sum(cnt)) OVER (ORDER BY c) AS BIGINT) AS cum_all
        |  FROM vc GROUP BY c),
        |segs AS (
        |  SELECT seg, CAST(sum(cnt) AS BIGINT) AS n_in FROM vc GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vc),
        |grid AS (
        |  SELECT s.seg, s.n_in, g.c, g.cum_all, t.n,
        |    CAST(sum(coalesce(v.cnt, 0)) OVER (
        |      PARTITION BY s.seg ORDER BY g.c) AS BIGINT) AS cum_g
        |  FROM segs s CROSS JOIN gc g
        |  LEFT JOIN vc v ON v.seg = s.seg AND v.c = g.c, tot t),
        |d AS (
        |  SELECT seg, n_in, n - n_in AS n_rest, n,
        |    CAST(max(abs(cum_g * (n - n_in) - (cum_all - cum_g) * n_in))
        |      AS BIGINT) AS d_scaled
        |  FROM grid GROUP BY seg, n_in, n),
        |lam AS (
        |  SELECT seg, n_in, n_rest, d_scaled,
        |    CAST(CAST(d_scaled AS HUGEINT) * d_scaled AS DOUBLE)
        |      / CAST(CAST(n_in AS HUGEINT) * n_rest * n AS DOUBLE) AS lam2
        |  FROM d),
        |p AS (
        |  SELECT seg, n_in, n_rest, d_scaled, lam2,
        |    CASE WHEN lam2 <= 0.04 THEN CAST(1000000 AS BIGINT)
        |    ELSE least(CAST(1000000 AS BIGINT), greatest(CAST(0 AS BIGINT),
        |      2 * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, 11), k ->
        |          CASE WHEN k % 2 = 1 THEN 1 ELSE -1 END
        |          * CAST(floor(exp(-2 * k * k * lam2) * 1000000 + 0.5)
        |              AS BIGINT))),
        |        (a, x) -> a + x))) END AS p6
        |  FROM lam),
        |r AS (
        |  SELECT seg, n_in, n_rest, d_scaled, lam2, p6,
        |    CAST(row_number() OVER (ORDER BY p6, seg) AS BIGINT) AS bh_rank
        |  FROM p),
        |kstar AS (
        |  SELECT coalesce(max(bh_rank) FILTER (p6 <= bh_rank * 10000), 0)
        |    AS k FROM r)
        |SELECT seg AS segment, n_in, n_rest, d_scaled,
        |  floor(CAST(d_scaled AS DOUBLE)
        |    / CAST(CAST(n_in AS HUGEINT) * n_rest AS DOUBLE)
        |    * 1000000 + 0.5) / 1000000 AS ks_d,
        |  CAST(p6 AS DOUBLE) / 1000000 AS p_value, bh_rank,
        |  CAST(CASE WHEN bh_rank <= k THEN 1 ELSE 0 END AS INT) AS rejected
        |FROM r, kstar""".stripMargin) { (s, dir) =>
      val oc = table(s, dir, "orders")
        .select(col("o_custkey").as("ck"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .join(table(s, dir, "customer")
          .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg")),
          Seq("ck"))
      val vc = oc.groupBy(col("seg"), col("c")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds the global grain, margins, and the grid
      // global value grain with the unpartitioned prefix sum — bounded
      // by the distinct-cents domain (clone-invariant; the B120 bound)
      val gc = vc.groupBy(col("c")).agg(sum(col("cnt")).as("gcnt"))
        .withColumn("cum_all",
          sum(col("gcnt")).over(Window.orderBy(col("c"))))
      val segs = vc.groupBy(col("seg")).agg(sum(col("cnt")).as("n_in"))
      val tot = vc.agg(sum(col("cnt")).as("n"))
      val grid = broadcast(segs).crossJoin(gc)
        .join(vc, Seq("seg", "c"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("cum_g",
          sum(coalesce(col("cnt"), lit(0L))).over(
            Window.partitionBy(col("seg")).orderBy(col("c"))))
      val d = grid.groupBy(col("seg"), col("n_in"), col("n"))
        .agg(max(abs(col("cum_g") * (col("n") - col("n_in"))
          - (col("cum_all") - col("cum_g")) * col("n_in"))).as("d_scaled"))
        .select(col("seg"), col("n_in"), (col("n") - col("n_in")).as("n_rest"),
          col("n"), col("d_scaled"))
      val lam = d.withColumn("lam2",
        (col("d_scaled").cast("decimal(38,0)") * col("d_scaled"))
          .cast("double")
          / (col("n_in").cast("decimal(38,0)") * col("n_rest") * col("n"))
            .cast("double"))
      val p = lam.withColumn("p6",
        when(col("lam2") <= 0.04, lit(1000000L))
          .otherwise(least(lit(1000000L), greatest(lit(0L),
            lit(2) * aggregate(sequence(lit(1), lit(10)), lit(0L),
              (acc, k) => acc
                + when(k % 2 === 1, lit(1L)).otherwise(lit(-1L))
                * floor(exp(lit(-2.0) * k * k * col("lam2"))
                    * 1000000 + lit(0.5)).cast("long"))))))
      val r = p.withColumn("bh_rank",
        row_number().over(Window.orderBy(col("p6"), col("seg"))).cast("long"))
      val kstar = r.agg(coalesce(
        max(when(col("p6") <= col("bh_rank") * 10000, col("bh_rank"))),
        lit(0L)).as("k"))
      r.crossJoin(broadcast(kstar))
        .select(col("seg").as("segment"), col("n_in"), col("n_rest"),
          col("d_scaled"),
          (floor(col("d_scaled").cast("double")
            / (col("n_in").cast("decimal(38,0)") * col("n_rest"))
              .cast("double") * 1000000 + lit(0.5)) / 1000000).as("ks_d"),
          (col("p6").cast("double") / 1000000).as("p_value"),
          col("bh_rank"),
          when(col("bh_rank") <= col("k"), lit(1)).otherwise(lit(0))
            .cast("int").as("rejected"))
    },

    // B138: PARTIAL AUTOCORRELATION FUNCTION at lags 1-7 via the
    // Durbin-Levinson recursion (Durbin 1960; Box & Jenkins 1970
    // ch.3) on B124's zero-filled daily revenue grid — the AR-order
    // diagnostic ACF alone can't give (ACF of an AR(1) decays
    // geometrically forever; PACF cuts off sharply at the true
    // order — THE plot a forecaster reads before fitting B109/B136).
    // Determinism: the ρ inputs are the B124 exact-integer
    // cross-products (n-scaled deviations, DECIMAL(38,0)/HUGEINT)
    // into one double division each — bit-identical cross-engine;
    // the recursion φ_{k,k} = (ρ_k − Σ_j φ_{k−1,j}·ρ_{k−j}) /
    // (1 − Σ_j φ_{k−1,j}·ρ_j), φ_{k,j} = φ_{k−1,j} − φ_{k,k}·φ_{k−1,k−j}
    // is a pinned-order IEEE fold — Spark `aggregate` over lags
    // carrying the φ vector as an array, DuckDB a RECURSIVE CTE
    // carrying it as a LIST (the B128/B136 state-vector precedent);
    // inner sums fold j-ascending from 0.0 in both engines; a
    // degenerate reflection denominator (= 0) pins φ_{k,k} to 0
    // (unreachable on any non-constant series); 6dp round at the
    // end. Scale shape: one keyed day agg over orders (map-side
    // combined); the grid, the ≤7·n lag self-join and the fold are
    // CALENDAR-sized — constant across corpus scale (the B123/B124
    // day-grain class).
    Q("timeseries_pacf", {
      val sumJ = (body: String) =>
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(range(1, CAST(r.k + 1 AS BIGINT)),
           |    j -> $body)), (a, x) -> a + x)""".stripMargin
      val num = s"rl.rho[CAST(r.k + 1 AS INT)] - ${sumJ(
        "r.phi[CAST(j AS INT)] * rl.rho[CAST(r.k + 1 - j AS INT)]")}"
      val den = s"1.0 - ${sumJ(
        "r.phi[CAST(j AS INT)] * rl.rho[CAST(j AS INT)]")}"
      s"""WITH RECURSIVE o AS (
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
        |den0 AS (SELECT sum(dv * dv) AS den FROM dev),
        |lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        |num0 AS (
        |  SELECT l.lag, sum(a.dv * b.dv) AS num
        |  FROM lags l
        |  JOIN dev a ON true
        |  JOIN dev b ON b.day = a.day + l.lag
        |  GROUP BY l.lag),
        |rl AS (
        |  SELECT list(CAST(num0.num AS DOUBLE) / CAST(den0.den AS DOUBLE)
        |    ORDER BY num0.lag) AS rho,
        |    max(s.n) AS n_days
        |  FROM num0, den0, s),
        |rec AS (
        |  SELECT CAST(1 AS BIGINT) AS k,
        |    [rho[1]] AS phi, [rho[1]] AS pacf
        |  FROM rl
        |  UNION ALL
        |  SELECT k + 1,
        |    list_append(list_transform(range(1, CAST(k + 1 AS BIGINT)),
        |      j -> phi[CAST(j AS INT)]
        |           - pk * phi[CAST(k + 1 - j AS INT)]), pk),
        |    list_append(pacf, pk)
        |  FROM (
        |    SELECT r.k, r.phi, r.pacf,
        |      CASE WHEN ($den) <> 0 THEN ($num) / ($den)
        |           ELSE 0.0 END AS pk
        |    FROM rec r, rl) WHERE k < 7),
        |fin AS (SELECT pacf FROM rec WHERE k = 7)
        |SELECT CAST(l.lag AS BIGINT) AS lag, rl.n_days,
        |  round(rl.rho[CAST(l.lag AS INT)], 6) AS acf,
        |  round(f.pacf[CAST(l.lag AS INT)], 6) AS pacf
        |FROM lags l, rl, fin f""".stripMargin
    }) { (s, dir) =>
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
        .localCheckpoint() // both sides of the lag self-join + the den
      val den = dev.agg(sum(col("dv") * col("dv")).as("den"))
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val a = dev.select(col("day").as("da"), col("dv").as("dva"), col("n"))
      val b = dev.select(col("day").as("db"), col("dv").as("dvb"))
      val num = a.crossJoin(broadcast(lags))
        .join(b, col("db") === col("da") + col("lag"))
        .groupBy(col("lag"))
        .agg(sum(col("dva") * col("dvb")).as("num"), first(col("n")).as("n"))
      // one row carrying (rho[1..7], n) — model-sized from here on
      val rl = num.crossJoin(broadcast(den))
        .select(col("lag"), col("n"),
          (col("num").cast("double") / col("den").cast("double")).as("rho"))
        .agg(transform(sort_array(collect_list(struct(col("lag"), col("rho")))),
            lr => lr.getField("rho")).as("rho"),
          max(col("n")).as("n_days"))
      // Durbin-Levinson fold, k = 2..7, pinned IEEE order (j-ascending
      // inner sums from 0.0 — mirrors the oracle's list_reduce exactly)
      val folded = rl.withColumn("st", expr(
        """aggregate(
          |  sequence(2, 7),
          |  named_struct('phi', array(element_at(rho, 1)),
          |               'pacf', array(element_at(rho, 1))),
          |  (acc, k) -> named_struct(
          |    'phi',
          |    concat(
          |      transform(sequence(1, k - 1),
          |        j -> element_at(acc.phi, j)
          |          - (CASE WHEN (1D - aggregate(sequence(1, k - 1), 0D,
          |                (a, j2) -> a + element_at(acc.phi, j2)
          |                             * element_at(rho, j2))) <> 0D
          |              THEN (element_at(rho, k)
          |                    - aggregate(sequence(1, k - 1), 0D,
          |                        (a, j2) -> a + element_at(acc.phi, j2)
          |                                     * element_at(rho, k - j2)))
          |                   / (1D - aggregate(sequence(1, k - 1), 0D,
          |                        (a, j2) -> a + element_at(acc.phi, j2)
          |                                     * element_at(rho, j2)))
          |              ELSE 0D END)
          |            * element_at(acc.phi, k - j)),
          |      array(CASE WHEN (1D - aggregate(sequence(1, k - 1), 0D,
          |                (a, j2) -> a + element_at(acc.phi, j2)
          |                             * element_at(rho, j2))) <> 0D
          |              THEN (element_at(rho, k)
          |                    - aggregate(sequence(1, k - 1), 0D,
          |                        (a, j2) -> a + element_at(acc.phi, j2)
          |                                     * element_at(rho, k - j2)))
          |                   / (1D - aggregate(sequence(1, k - 1), 0D,
          |                        (a, j2) -> a + element_at(acc.phi, j2)
          |                                     * element_at(rho, j2)))
          |              ELSE 0D END)),
          |    'pacf',
          |    concat(acc.pacf,
          |      array(CASE WHEN (1D - aggregate(sequence(1, k - 1), 0D,
          |                (a, j2) -> a + element_at(acc.phi, j2)
          |                             * element_at(rho, j2))) <> 0D
          |              THEN (element_at(rho, k)
          |                    - aggregate(sequence(1, k - 1), 0D,
          |                        (a, j2) -> a + element_at(acc.phi, j2)
          |                                     * element_at(rho, k - j2)))
          |                   / (1D - aggregate(sequence(1, k - 1), 0D,
          |                        (a, j2) -> a + element_at(acc.phi, j2)
          |                                     * element_at(rho, j2)))
          |              ELSE 0D END))))""".stripMargin))
      folded
        .select(col("n_days"), col("rho"), col("st.pacf").as("pacf"),
          explode(sequence(lit(1L), lit(7L))).as("lag"))
        .select(col("lag"), col("n_days"),
          round(element_at(col("rho"), col("lag").cast("int")), 6).as("acf"),
          round(element_at(col("pacf"), col("lag").cast("int")), 6)
            .as("pacf"))
    },

    // B143: LJUNG-BOX PORTMANTEAU TEST (Ljung & Box Biometrika 1978)
    // over the zero-filled daily revenue grid — the "is this series
    // white noise" omnibus that reads ALL of B124's autocorrelations
    // at once: Q_k = n(n+2)·Σ_{j≤k} ρ_j²/(n−j), emitted cumulatively
    // for k = 1..7 (fitting residuals that fail Q mean the B109/B136
    // model family left structure on the table). Determinism: ρ_j
    // are B124's exact-integer cross-products into one division each
    // (bit-identical); each Q_k is its own j-ascending fold from 0.0
    // (the ADC convention — Spark `aggregate` over sequence, DuckDB
    // list_reduce over range, identical association), one pinned
    // multiply by n(n+2), 6dp floor. Scale shape: the B124 plan —
    // one keyed day agg, calendar-sized everything after.
    Q("ljung_box",
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
        |den0 AS (SELECT sum(dv * dv) AS den FROM dev),
        |lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        |num0 AS (
        |  SELECT l.lag, sum(a.dv * b.dv) AS num
        |  FROM lags l
        |  JOIN dev a ON true
        |  JOIN dev b ON b.day = a.day + l.lag
        |  GROUP BY l.lag),
        |rl AS (
        |  SELECT list(CAST(num0.num AS DOUBLE) / CAST(den0.den AS DOUBLE)
        |    ORDER BY num0.lag) AS rho, max(s.n) AS n
        |  FROM num0, den0, s)
        |SELECT CAST(l.lag AS BIGINT) AS lag, rl.n AS n_days,
        |  round(rl.rho[CAST(l.lag AS INT)], 6) AS acf,
        |  floor(CAST(rl.n * (rl.n + 2) AS DOUBLE)
        |    * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(1, l.lag + 1), j ->
        |          rl.rho[CAST(j AS INT)] * rl.rho[CAST(j AS INT)]
        |            / CAST(rl.n - j AS DOUBLE))),
        |        (a, t) -> a + t) * 1000000 + 0.5) / 1000000 AS q_stat
        |FROM lags l, rl""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
      val bounds = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val x = bounds
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(o, Seq("day"), "left")
        .select(col("day"), coalesce(col("cents"), lit(0L)).as("v"))
      val st = x.agg(count(lit(1)).as("n"), sum(col("v")).as("tot"))
      val dev = x.crossJoin(broadcast(st))
        .select(col("day"),
          (col("n") * col("v") - col("tot")).cast("decimal(18,0)").as("dv"),
          col("n"))
        .localCheckpoint() // both sides of the lag self-join + the den
      val den = dev.agg(sum(col("dv") * col("dv")).as("den"))
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val a = dev.select(col("day").as("da"), col("dv").as("dva"), col("n"))
      val b = dev.select(col("day").as("db"), col("dv").as("dvb"))
      val num = a.crossJoin(broadcast(lags))
        .join(b, col("db") === col("da") + col("lag"))
        .groupBy(col("lag"))
        .agg(sum(col("dva") * col("dvb")).as("num"), first(col("n")).as("n"))
      val rl = num.crossJoin(broadcast(den))
        .select(col("lag"), col("n"),
          (col("num").cast("double") / col("den").cast("double")).as("rho"))
        .agg(transform(sort_array(collect_list(struct(col("lag"), col("rho")))),
            lr => lr.getField("rho")).as("rho"),
          max(col("n")).as("n"))
      rl.select(col("n"), col("rho"),
          explode(sequence(lit(1L), lit(7L))).as("lag"))
        .select(col("lag"), col("n").as("n_days"),
          round(element_at(col("rho"), col("lag").cast("int")), 6).as("acf"),
          (floor((col("n") * (col("n") + 2)).cast("double")
            * expr("""aggregate(sequence(1, cast(lag as int)), 0D,
                     |  (a, j) -> a + element_at(rho, j) * element_at(rho, j)
                     |              / cast(n - j as double))""".stripMargin)
            * 1000000 + lit(0.5)) / 1000000).as("q_stat"))
    },

    // B144: WALD-WOLFOWITZ RUNS TEST (Wald & Wolfowitz 1940) of the
    // daily revenue series against its own median — the
    // distribution-free "is the sequence RANDOM" diagnostic the
    // trend/changepoint family assumes away (too FEW runs = sticky
    // regimes/trend, too MANY = oscillation; B67/B122 find WHERE a
    // shift is, the runs test asks whether ordering matters at all).
    // Exact spelling: the reference cut is the LOWER median of the
    // day values (the B130 prefix-sum convention on the value grain);
    // signs s_t = [v_t > med]; R = 1 + Σ[s_t ≠ s_{t−1}] via one lag
    // window over the calendar-bounded grid — all exact integers;
    // z = (R − μ)/σ with μ = 2n₁n₂/(n₁+n₂) + 1 and σ² =
    // 2n₁n₂(2n₁n₂−n₁−n₂)/((n₁+n₂)²(n₁+n₂−1)) — exact BIGINT products
    // into ONE pinned double tree (sqrt is IEEE-exact), 6dp floor;
    // a one-sided series (n₁ = 0 or n₂ = 0) → NULL. Scale shape: one
    // keyed day agg over orders; everything after day-grain.
    Q("runs_test_daily",
      """WITH o AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM orders GROUP BY 1),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
        |grid AS (
        |  SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
        |  FROM bounds),
        |x AS (
        |  SELECT g.day, CAST(coalesce(o.v, 0) AS BIGINT) AS v
        |  FROM grid g LEFT JOIN o ON g.day = o.day),
        |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY v),
        |cw AS (
        |  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS n
        |  FROM vc),
        |med AS (SELECT CAST(min(v) AS BIGINT) AS med
        |        FROM cw WHERE cum >= (n + 1) // 2),
        |sg AS (
        |  SELECT x.day, CASE WHEN x.v > med.med THEN 1 ELSE 0 END AS s
        |  FROM x, med),
        |ch AS (
        |  SELECT s, lag(s) OVER (ORDER BY day) AS ps FROM sg),
        |agg AS (
        |  SELECT CAST(sum(s) AS BIGINT) AS n1,
        |    CAST(sum(1 - s) AS BIGINT) AS n2,
        |    CAST(1 + sum(CASE WHEN ps IS NOT NULL AND s <> ps
        |      THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM ch)
        |SELECT n1, n2, r AS n_runs,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 THEN
        |    floor((CAST(r AS DOUBLE)
        |        - (CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
        |           + 1))
        |      / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) AS DOUBLE)
        |          / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE))
        |      * 1000000 + 0.5) / 1000000
        |  END AS z
        |FROM agg""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("v"))
      val bounds = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val x = bounds
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(o, Seq("day"), "left")
        .select(col("day"), coalesce(col("v"), lit(0L)).as("v"))
        .localCheckpoint() // feeds the median grain and the sign scan
      // lower median on the day-value grain (calendar-bounded)
      val vc = x.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val cw = vc.select(col("v"),
        sum(col("cnt")).over(Window.orderBy(col("v"))).as("cum"),
        sum(col("cnt")).over(Window.partitionBy()).as("n"))
      val med = cw.filter(col("cum") >= expr("(n + 1) div 2"))
        .agg(min(col("v")).as("med"))
      val sg = x.crossJoin(broadcast(med))
        .select(col("day"),
          when(col("v") > col("med"), lit(1L)).otherwise(lit(0L)).as("s"))
      val ch = sg.select(col("s"),
        lag(col("s"), 1).over(Window.orderBy(col("day"))).as("ps"))
      val agg = ch.agg(sum(col("s")).as("n1"),
        sum(lit(1L) - col("s")).as("n2"),
        (lit(1L) + sum(when(col("ps").isNotNull && col("s") =!= col("ps"),
          lit(1L)).otherwise(lit(0L)))).as("r"))
      agg.select(col("n1"), col("n2"), col("r").as("n_runs"),
        when(col("n1") > 0 && col("n2") > 0 && col("n1") + col("n2") > 1,
          floor((col("r").cast("double")
              - ((lit(2) * col("n1") * col("n2")).cast("double")
                / (col("n1") + col("n2")).cast("double") + lit(1.0)))
            / sqrt((lit(2) * col("n1") * col("n2")
                * (lit(2) * col("n1") * col("n2") - col("n1") - col("n2")))
                .cast("double")
              / ((col("n1") + col("n2")) * (col("n1") + col("n2"))
                * (col("n1") + col("n2") - 1)).cast("double"))
            * 1000000 + lit(0.5)) / 1000000).as("z"))
    },

    // B145: TWO-SAMPLE ANDERSON-DARLING TEST (Scholz & Stephens JASA
    // 1987, the k = 2 rank form without midrank correction) between
    // purchase and view values — the tail-sensitive alternative to
    // B120's KS (KS sees only the worst CDF gap; AD integrates the
    // squared gap with 1/(B(N−B)) weights that blow up in the tails,
    // where distribution shifts that matter for pricing live). Exact
    // spelling on the cents value grain: per distinct value j
    // (excluding the last, where B = N), per sample i, the term
    // t_ij = ((N·M_ij − n_i·B_j)²·10⁶) // (n_i·N·B_j·(N−B_j)) is an
    // EXACT integer floor division (numerator ≤ N⁴·10⁶ —
    // DECIMAL(38,0) holds it to N ~ 4·10⁷, the ×1000 two-type
    // event count; ANSI-loud past that); the per-value contribution
    // l_j·(t_1j + t_2j) and the total are then order-independent
    // BIGINT sums; A² = Σ/10⁶, 6dp floor form. Scale shape: one
    // keyed agg to the value grain + ONE value-grain-bounded global
    // prefix window (the B120 class), map-side combined.
    Q("anderson_darling",
      """WITH e AS (
        |  SELECT event_type = 'purchase' AS g1,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |v AS (
        |  SELECT c, CAST(count(*) AS BIGINT) AS l,
        |    CAST(count(*) FILTER (g1) AS BIGINT) AS l1
        |  FROM e GROUP BY c),
        |w AS (
        |  SELECT c, l, l1,
        |    CAST(sum(l) OVER (ORDER BY c) AS BIGINT) AS b,
        |    CAST(sum(l1) OVER (ORDER BY c) AS BIGINT) AS m1
        |  FROM v),
        |tot AS (SELECT CAST(sum(l1) AS BIGINT) AS n1,
        |          CAST(sum(l - l1) AS BIGINT) AS n2,
        |          CAST(sum(l) AS BIGINT) AS n FROM v),
        |terms AS (
        |  SELECT w.l *
        |    (CAST(CAST(w.m1 * t.n - t.n1 * w.b AS HUGEINT)
        |       * (w.m1 * t.n - t.n1 * w.b) * 1000000
        |       // (CAST(t.n1 AS HUGEINT) * t.n * w.b * (t.n - w.b))
        |       AS BIGINT)
        |     + CAST(CAST((w.b - w.m1) * t.n - t.n2 * w.b AS HUGEINT)
        |       * ((w.b - w.m1) * t.n - t.n2 * w.b) * 1000000
        |       // (CAST(t.n2 AS HUGEINT) * t.n * w.b * (t.n - w.b))
        |       AS BIGINT)) AS contrib
        |  FROM w, tot t WHERE w.b < t.n)
        |SELECT t.n1, t.n2,
        |  floor(CAST(coalesce((SELECT sum(contrib) FROM terms), 0)
        |    AS DOUBLE) / 1000000 * 1000000 + 0.5) / 1000000 AS ad_stat
        |FROM tot t""".stripMargin) { (s, dir) =>
      val v = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("g1"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("l"), sum(col("g1").cast("long")).as("l1"))
        .localCheckpoint() // the prefix pass and the totals read it
      // value-grain-bounded global prefix window (the B120 class)
      val w = v.select(col("c"), col("l"), col("l1"),
        sum(col("l")).over(Window.orderBy(col("c"))).as("b"),
        sum(col("l1")).over(Window.orderBy(col("c"))).as("m1"))
      val tot = v.agg(sum(col("l1")).as("n1"),
        sum(col("l") - col("l1")).as("n2"), sum(col("l")).as("n"))
      val terms = w.crossJoin(broadcast(tot))
        .filter(col("b") < col("n"))
        .select((col("l") * (
          expr("""cast((cast(m1 as decimal(38,0)) * n - cast(n1 as decimal(38,0)) * b)
                 |  * (cast(m1 as decimal(38,0)) * n - cast(n1 as decimal(38,0)) * b) * 1000000
                 |  div (cast(n1 as decimal(38,0)) * n * b * (n - b))
                 |  as bigint)""".stripMargin)
          + expr("""cast((cast(b - m1 as decimal(38,0)) * n - cast(n2 as decimal(38,0)) * b)
                   |  * (cast(b - m1 as decimal(38,0)) * n - cast(n2 as decimal(38,0)) * b) * 1000000
                   |  div (cast(n2 as decimal(38,0)) * n * b * (n - b))
                   |  as bigint)""".stripMargin))).as("contrib"))
      val ad = terms.agg(coalesce(sum(col("contrib")), lit(0L)).as("s"))
      broadcast(tot).crossJoin(broadcast(ad))
        .select(col("n1"), col("n2"),
          (floor(col("s").cast("double") / 1000000 * 1000000 + lit(0.5))
            / 1000000).as("ad_stat"))
    },

    // B177: TWO-SAMPLE CRAMÉR-VON MISES CRITERION (Cramér 1928, von
    // Mises 1931; the two-sample functional form of Anderson 1962)
    // between purchase and view values — the WHOLE-DISTRIBUTION
    // companion to B120's KS (worst single gap) and B145's AD
    // (tail-weighted): T = n₁n₂/N² · Σ_v l_v (F₁(v) − F₂(v))², the
    // squared CDF gap integrated against the POOLED empirical
    // measure — the tie-well-defined spelling on the cents value
    // grain. Exact arithmetic: F₁ − F₂ = (m₁n₂ − m₂n₁)/(n₁n₂), so
    // T = Σ l·d² / (n₁·n₂·N²) with d = m₁n₂ − m₂n₁ an exact BIGINT
    // and l·d² summed in DECIMAL(38,0)/HUGEINT (|d| ≤ n₁n₂ ⇒
    // Σ ≤ N·(n₁n₂)² ≈ 6·10³⁶ at the ×1000 event count — inside 38
    // digits, ANSI-loud past); ONE double division, 6dp floor.
    // Scale shape: the B145 grid verbatim — one keyed agg to the
    // value grain + one value-grain-bounded global prefix window.
    Q("cramer_von_mises",
      """WITH e AS (
        |  SELECT event_type = 'purchase' AS g1,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |v AS (
        |  SELECT c, CAST(count(*) AS BIGINT) AS l,
        |    CAST(count(*) FILTER (g1) AS BIGINT) AS l1
        |  FROM e GROUP BY c),
        |w AS (
        |  SELECT c, l, l1,
        |    CAST(sum(l) OVER (ORDER BY c) AS BIGINT) AS b,
        |    CAST(sum(l1) OVER (ORDER BY c) AS BIGINT) AS m1
        |  FROM v),
        |tot AS (SELECT CAST(sum(l1) AS BIGINT) AS n1,
        |          CAST(sum(l - l1) AS BIGINT) AS n2,
        |          CAST(sum(l) AS BIGINT) AS n FROM v),
        |s AS (
        |  SELECT sum(CAST(w.l AS HUGEINT)
        |    * (w.m1 * t.n2 - (w.b - w.m1) * t.n1)
        |    * (w.m1 * t.n2 - (w.b - w.m1) * t.n1)) AS num
        |  FROM w, tot t)
        |SELECT t.n1, t.n2,
        |  CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
        |    floor(CAST(coalesce(s.num, 0) AS DOUBLE)
        |      / (CAST(t.n1 AS DOUBLE) * t.n2 * t.n * t.n)
        |      * 1000000 + 0.5) / 1000000 END AS cvm_stat
        |FROM tot t, s""".stripMargin) { (s, dir) =>
      val v = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("g1"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("l"), sum(col("g1").cast("long")).as("l1"))
        .localCheckpoint() // the prefix pass and the totals read it
      val w = v.select(col("c"), col("l"), col("l1"),
        sum(col("l")).over(Window.orderBy(col("c"))).as("b"),
        sum(col("l1")).over(Window.orderBy(col("c"))).as("m1"))
      val tot = v.agg(sum(col("l1")).as("n1"),
        sum(col("l") - col("l1")).as("n2"), sum(col("l")).as("n"))
      // d widened to decimal BEFORE the square (the B146 lesson:
      // widen-before-multiply or ANSI throws at clone scale)
      val num = w.crossJoin(broadcast(tot))
        .select((col("l").cast("decimal(38,0)")
          * (col("m1").cast("decimal(38,0)") * col("n2")
            - (col("b") - col("m1")).cast("decimal(38,0)") * col("n1"))
          * (col("m1").cast("decimal(38,0)") * col("n2")
            - (col("b") - col("m1")).cast("decimal(38,0)") * col("n1")))
          .as("term"))
        .agg(sum(col("term")).as("num"))
      broadcast(tot).crossJoin(broadcast(num))
        .select(col("n1"), col("n2"),
          when(col("n1") > 0 && col("n2") > 0,
            floor(coalesce(col("num"), lit(0)).cast("double")
              / (col("n1").cast("double") * col("n2") * col("n") * col("n"))
              * 1000000 + lit(0.5)) / 1000000).as("cvm_stat"))
    },

    // B188: ENERGY DISTANCE two-sample test (Székely & Rizzo 2004)
    // between purchase and view values — the E-statistic family's
    // answer to "do the distributions differ AT ALL" with full
    // metric sensitivity (KS sees the worst CDF gap, CvM the
    // integrated gap; energy distance is a strict metric on
    // distributions: T = 0 iff equal): e = 2·E|X−Y| − E|X−X'| −
    // E|Y−Y'|, T = n₁n₂/(n₁+n₂)·e. Exact spelling: every pairwise
    // |·| sum collapses on the cents value grain via the prefix
    // identity Σ_v cnt_a(v)·(2v·b_b(v) − 2s_b(v) + S_b − v·n_b) —
    // prefix counts AND prefix value-sums of the grid, all
    // DECIMAL(38,0)/HUGEINT integers; the final combination is a
    // PINNED tree of four divisions of exact integers (the B186
    // convention — a single common denominator overflows 38 digits
    // at the ×1000 clone scale), 6dp floors. Scale shape: the B145
    // grid + one value-grain prefix window carrying (count, v·count)
    // prefixes for both samples.
    Q("energy_distance",
      """WITH e AS (
        |  SELECT event_type = 'purchase' AS g1,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |v AS (
        |  SELECT c, CAST(count(*) FILTER (g1) AS BIGINT) AS l1,
        |    CAST(count(*) FILTER (NOT g1) AS BIGINT) AS l2
        |  FROM e GROUP BY c),
        |w AS (
        |  SELECT c, l1, l2,
        |    CAST(sum(l1) OVER (ORDER BY c) AS BIGINT) AS b1,
        |    CAST(sum(l2) OVER (ORDER BY c) AS BIGINT) AS b2,
        |    CAST(sum(c * l1) OVER (ORDER BY c) AS HUGEINT) AS s1,
        |    CAST(sum(c * l2) OVER (ORDER BY c) AS HUGEINT) AS s2
        |  FROM v),
        |tot AS (
        |  SELECT CAST(sum(l1) AS BIGINT) AS n1,
        |    CAST(sum(l2) AS BIGINT) AS n2,
        |    CAST(sum(c * l1) AS HUGEINT) AS t1,
        |    CAST(sum(c * l2) AS HUGEINT) AS t2
        |  FROM v),
        |sums AS (
        |  SELECT
        |    sum(CAST(w.l1 AS HUGEINT)
        |      * (2 * w.c * w.b2 - 2 * w.s2 + t.t2 - w.c * t.n2)) AS axy,
        |    sum(CAST(w.l1 AS HUGEINT)
        |      * (2 * w.c * w.b1 - 2 * w.s1 + t.t1 - w.c * t.n1)) AS axx,
        |    sum(CAST(w.l2 AS HUGEINT)
        |      * (2 * w.c * w.b2 - 2 * w.s2 + t.t2 - w.c * t.n2)) AS ayy
        |  FROM w, tot t)
        |SELECT t.n1, t.n2,
        |  CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
        |    floor((2.0 * (CAST(s.axy AS DOUBLE)
        |        / (CAST(t.n1 AS DOUBLE) * t.n2))
        |      - CAST(s.axx AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * t.n1)
        |      - CAST(s.ayy AS DOUBLE) / (CAST(t.n2 AS DOUBLE) * t.n2))
        |      * 1000000 + 0.5) / 1000000 END AS e_stat,
        |  CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
        |    floor(CAST(t.n1 AS DOUBLE) * t.n2 / (t.n1 + t.n2)
        |      * (2.0 * (CAST(s.axy AS DOUBLE)
        |          / (CAST(t.n1 AS DOUBLE) * t.n2))
        |        - CAST(s.axx AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * t.n1)
        |        - CAST(s.ayy AS DOUBLE) / (CAST(t.n2 AS DOUBLE) * t.n2))
        |      * 1000000 + 0.5) / 1000000 END AS t_stat
        |FROM tot t, sums s""".stripMargin) { (s, dir) =>
      val v = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("g1"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("c"))
        .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("l1"),
          sum(when(!col("g1"), 1L).otherwise(0L)).as("l2"))
        .localCheckpoint() // the prefix pass and the totals read it
      val wDay = Window.orderBy(col("c"))
      val w = v.select(col("c"), col("l1"), col("l2"),
        sum(col("l1")).over(wDay).as("b1"),
        sum(col("l2")).over(wDay).as("b2"),
        sum((col("c") * col("l1")).cast("decimal(38,0)")).over(wDay)
          .as("s1"),
        sum((col("c") * col("l2")).cast("decimal(38,0)")).over(wDay)
          .as("s2"))
      val tot = v.agg(sum(col("l1")).as("n1"), sum(col("l2")).as("n2"),
        sum((col("c") * col("l1")).cast("decimal(38,0)")).as("t1"),
        sum((col("c") * col("l2")).cast("decimal(38,0)")).as("t2"))
      def cross(lCnt: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column, sPre: org.apache.spark.sql.Column,
          t: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        sum(lCnt.cast("decimal(38,0)")
          * (col("c").cast("decimal(38,0)") * b * 2 - sPre * 2 + t
            - col("c").cast("decimal(38,0)") * n))
      val sums = w.crossJoin(broadcast(tot))
        .agg(cross(col("l1"), col("b2"), col("s2"), col("t2"), col("n2"))
            .as("axy"),
          cross(col("l1"), col("b1"), col("s1"), col("t1"), col("n1"))
            .as("axx"),
          cross(col("l2"), col("b2"), col("s2"), col("t2"), col("n2"))
            .as("ayy"))
      val eStat = (lit(2.0) * (col("axy").cast("double")
          / (col("n1").cast("double") * col("n2")))
        - col("axx").cast("double")
          / (col("n1").cast("double") * col("n1"))
        - col("ayy").cast("double")
          / (col("n2").cast("double") * col("n2")))
      broadcast(tot).crossJoin(broadcast(sums))
        .select(col("n1"), col("n2"),
          when(col("n1") > 0 && col("n2") > 0,
            floor(eStat * 1000000 + lit(0.5)) / 1000000).as("e_stat"),
          when(col("n1") > 0 && col("n2") > 0,
            floor(col("n1").cast("double") * col("n2")
              / (col("n1") + col("n2")) * eStat
              * 1000000 + lit(0.5)) / 1000000).as("t_stat"))
    },

    // B180: CLIFF'S DELTA (Cliff, Psychological Bulletin 1993) —
    // the ORDINAL effect size for purchase vs view values: δ =
    // (#(x > y) − #(x < y)) / (n₁n₂) ∈ [−1, 1], the
    // dominance-probability difference the B114 Mann-Whitney z must
    // be read with (z grows with N; δ answers whether the dominance
    // MATTERS — the B147-for-ranks). Exact spelling on the cents
    // grid: #(x > y) = Σ_v l1_v · b2_{v−} (purchases at v beat views
    // strictly below), #(x < y) symmetric, both DECIMAL(38,0)/
    // HUGEINT products summed exactly; ONE division, 6dp floor.
    // Scale shape: the B145 grid verbatim (value-grain prefix pass).
    Q("cliff_delta",
      """WITH e AS (
        |  SELECT event_type = 'purchase' AS g1,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |v AS (
        |  SELECT c, CAST(count(*) AS BIGINT) AS l,
        |    CAST(count(*) FILTER (g1) AS BIGINT) AS l1
        |  FROM e GROUP BY c),
        |w AS (
        |  SELECT c, l, l1, l - l1 AS l2,
        |    CAST(sum(l - l1) OVER (ORDER BY c) AS BIGINT) - (l - l1) AS b2m
        |  FROM v),
        |tot AS (SELECT CAST(sum(l1) AS BIGINT) AS n1,
        |          CAST(sum(l - l1) AS BIGINT) AS n2 FROM v),
        |dom AS (
        |  SELECT sum(CAST(w.l1 AS HUGEINT) * w.b2m) AS gt,
        |    sum(CAST(w.l1 AS HUGEINT) * (t.n2 - w.b2m - w.l2)) AS lt
        |  FROM w, tot t)
        |SELECT t.n1, t.n2,
        |  CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
        |    floor((CAST(coalesce(d.gt, 0) AS DOUBLE)
        |        - CAST(coalesce(d.lt, 0) AS DOUBLE))
        |      / (CAST(t.n1 AS DOUBLE) * t.n2)
        |      * 1000000 + 0.5) / 1000000 END AS cliff_delta
        |FROM tot t, dom d""".stripMargin) { (s, dir) =>
      val v = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("g1"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("l"), sum(col("g1").cast("long")).as("l1"))
        .localCheckpoint()
      val w = v.select(col("c"), col("l1"), (col("l") - col("l1")).as("l2"))
        .withColumn("b2m",
          sum(col("l2")).over(Window.orderBy(col("c"))) - col("l2"))
      val tot = v.agg(sum(col("l1")).as("n1"),
        sum(col("l") - col("l1")).as("n2"))
      val dom = w.crossJoin(broadcast(tot))
        .agg(sum(col("l1").cast("decimal(38,0)") * col("b2m")).as("gt"),
          sum(col("l1").cast("decimal(38,0)")
            * (col("n2") - col("b2m") - col("l2"))).as("lt"))
      broadcast(tot).crossJoin(broadcast(dom))
        .select(col("n1"), col("n2"),
          when(col("n1") > 0 && col("n2") > 0,
            floor((coalesce(col("gt"), lit(0)).cast("double")
                - coalesce(col("lt"), lit(0)).cast("double"))
              / (col("n1").cast("double") * col("n2"))
              * 1000000 + lit(0.5)) / 1000000).as("cliff_delta"))
    },

    // B146: JONCKHEERE-TERPSTRA ORDERED-TREND TEST (Jonckheere
    // Biometrika 1954; Terpstra 1952) of order value across the five
    // priorities IN THEIR NATURAL ORDER — the test B142 cannot be:
    // Kruskal-Wallis asks "do the groups differ at all", JT asks "do
    // they INCREASE along the ordering" (urgent → low), the right
    // alternative when the factor is ordinal. Exact spelling: J2 =
    // Σ_{g<h} (2·#(x_g < y_h) + #(x_g = y_h)) computed on the cents
    // value grain — the grid carries every group's count and prefix
    // at every distinct value (the B137 grid), so each ordered pair
    // (g, h) contributes Σ_v cnt_h(v)·(2·cb_g(v) + cnt_g(v)) in
    // exact BIGINTs; z = (J2/2 − μ)/σ with the untied null moments
    // μ = (N² − Σn_g²)/4, σ² = (N²(2N+3) − Σn_g²(2n_g+3))/72 —
    // exact integer products into ONE pinned double tree (documented
    // spelling: the classic no-tie-correction normal approximation),
    // 6dp floor. Scale shape: the B137 grid (one keyed agg, one
    // segment-partitioned prefix window over the value grain), then
    // a 10-pair × value-grain join, model-sized moments.
    Q("jonckheere_trend",
      """WITH e AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |vc AS (
        |  SELECT g, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM e GROUP BY 1, 2),
        |gc AS (SELECT DISTINCT c FROM vc),
        |segs AS (SELECT DISTINCT g FROM vc),
        |grid AS (
        |  SELECT s.g, gc.c,
        |    CAST(coalesce(v.cnt, 0) AS BIGINT) AS cnt,
        |    CAST(sum(coalesce(v.cnt, 0)) OVER (
        |      PARTITION BY s.g ORDER BY gc.c) AS BIGINT)
        |      - CAST(coalesce(v.cnt, 0) AS BIGINT) AS cb
        |  FROM segs s CROSS JOIN gc
        |  LEFT JOIN vc v ON v.g = s.g AND v.c = gc.c),
        |j AS (
        |  SELECT CAST(sum(b.cnt * (2 * a.cb + a.cnt)) AS HUGEINT) AS j2
        |  FROM grid a JOIN grid b ON a.c = b.c AND a.g < b.g),
        |ns AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS sn2,
        |    CAST(sum(CAST(cnt AS HUGEINT) * cnt * (2 * cnt + 3))
        |      AS HUGEINT) AS sn23
        |  FROM (SELECT g, CAST(sum(cnt) AS BIGINT) AS cnt
        |        FROM vc GROUP BY g))
        |SELECT ns.n AS n_rows, CAST(j.j2 AS BIGINT) AS j2,
        |  CASE WHEN ns.n > 1 THEN
        |    floor((CAST(j.j2 AS DOUBLE) / 2.0
        |        - CAST(CAST(ns.n AS HUGEINT) * ns.n - ns.sn2 AS DOUBLE)
        |          / 4.0)
        |      / sqrt(CAST(CAST(ns.n AS HUGEINT) * ns.n * (2 * ns.n + 3)
        |          - ns.sn23 AS DOUBLE) / 72.0)
        |      * 1000000 + 0.5) / 1000000
        |  END AS z
        |FROM j, ns""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "orders")
        .select(col("o_orderpriority").as("g"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
      val vc = e.groupBy(col("g"), col("c")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds the grid, the value grain, the moments
      val gc = vc.select(col("c")).distinct()
      val segs = vc.select(col("g")).distinct()
      val grid = broadcast(segs).crossJoin(gc)
        .join(vc, Seq("g", "c"), "left")
        .select(col("g"), col("c"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .withColumn("cb",
          sum(col("cnt")).over(
            Window.partitionBy(col("g")).orderBy(col("c"))) - col("cnt"))
      // Round-13 optimization (guide §2.4): the ordered-pair term
      // sums per VALUE over the ≤k(=5)-group slice at that value, so
      // the r12 grid⋈grid self-join (two shuffles + merge of the
      // zero-filled grid) collapses to ONE groupBy(c) + an in-row
      // fold over the sorted (g, cnt, cb) array — identical pair
      // terms (sort_array orders by g first; x before y ⟺ a.g < b.g),
      // identical DECIMAL(38,0) arithmetic.
      val j = grid
        .groupBy(col("c"))
        .agg(sort_array(collect_list(
          struct(col("g"), col("cnt"), col("cb")))).as("arr"))
        .select(explode(expr(
          """flatten(transform(arr, (x, i) ->
            |  transform(slice(arr, i + 2, size(arr)), y ->
            |    CAST(y.cnt AS DECIMAL(38,0)) * (x.cb * 2 + x.cnt))))"""
            .stripMargin)).as("t"))
        .agg(sum(col("t")).as("j2"))
      // widen BEFORE multiplying: n_g³ passes Long at the ×100 clone
      // scale (3e6³ ≈ 3e19 > 2⁶³ — found by the ×100 probe, ANSI-loud)
      val ns = vc.groupBy(col("g")).agg(sum(col("cnt")).as("cnt"))
        .agg(sum(col("cnt")).as("n"),
          sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("sn2"),
          sum(col("cnt").cast("decimal(38,0)") * col("cnt")
            * (col("cnt") * 2 + 3)).as("sn23"))
      broadcast(j).crossJoin(broadcast(ns))
        .select(col("n").as("n_rows"), col("j2").cast("long").as("j2"),
          when(col("n") > 1,
            floor((col("j2").cast("double") / 2.0
                - (col("n").cast("decimal(38,0)") * col("n") - col("sn2"))
                  .cast("double") / 4.0)
              / sqrt((col("n").cast("decimal(38,0)") * col("n")
                  * (col("n") * 2 + 3) - col("sn23")).cast("double") / 72.0)
              * 1000000 + lit(0.5)) / 1000000).as("z"))
    },

    // B186: WELCH'S ANOVA (Welch, Biometrika 1951) of order value
    // across the five priorities — the UNEQUAL-VARIANCE k-group test
    // B131 cannot be (classic ANOVA's pooled variance is wrong the
    // moment group spreads differ — B130 exists precisely to detect
    // that; Welch's F* weights each group by n_g/s²_g and is the
    // test to reach for when B130 rejects). Exactness: per-group
    // sufficient stats (n, Σc, Σc²) are exact integers; w_g =
    // n_g²(n_g−1)/(n_g·Q_g − S_g²) and m_g = S_g/n_g are ONE
    // division each off exact DECIMAL(38,0) terms; everything after
    // runs as g-ASCENDING ORDERED FOLDS from 0.0 (the cramers_v
    // convention — unordered double sums would hang on engine add
    // order): W, Σwm, then A = Σw(m−m̄)²/(k−1) and Λ =
    // Σ(1−w/W)²/(n_g−1), F* = A/(1 + 2(k−2)/(k²−1)·Λ), Welch df2 =
    // (k²−1)/(3Λ); 6dp floors at the end. Groups need n_g ≥ 2 and
    // positive variance (documented precondition; degenerate groups
    // are excluded on both sides). Scale shape: one keyed agg
    // (map-side combined); the folds are k-sized.
    Q("welch_anova",
      """WITH e AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |gs AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
        |  FROM e GROUP BY g),
        |gw AS (
        |  SELECT g, n,
        |    CAST(CAST(n AS HUGEINT) * n * (n - 1) AS DOUBLE)
        |      / CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE) AS w,
        |    CAST(s AS DOUBLE) / n AS m
        |  FROM gs
        |  WHERE n > 1 AND n * q - CAST(s AS HUGEINT) * s > 0),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM gw),
        |f1 AS (
        |  SELECT
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(w ORDER BY g)), (a, v) -> a + v) AS bigw,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(w * m ORDER BY g)), (a, v) -> a + v) AS wm
        |  FROM gw),
        |f2 AS (
        |  SELECT
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(w * (m - f1.wm / f1.bigw) * (m - f1.wm / f1.bigw)
        |        ORDER BY g)), (a, v) -> a + v) AS aterm,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((1.0 - w / f1.bigw) * (1.0 - w / f1.bigw) / (n - 1)
        |        ORDER BY g)), (a, v) -> a + v) AS lam
        |  FROM gw, f1 GROUP BY f1.wm, f1.bigw)
        |SELECT k.k AS n_groups,
        |  CASE WHEN k.k > 1 THEN
        |    floor(f2.aterm / (k.k - 1)
        |      / (1.0 + 2.0 * (k.k - 2) / (CAST(k.k AS DOUBLE) * k.k - 1)
        |        * f2.lam)
        |      * 1000000 + 0.5) / 1000000 END AS f_welch,
        |  CASE WHEN f2.lam > 0 THEN
        |    floor((CAST(k.k AS DOUBLE) * k.k - 1) / (3.0 * f2.lam)
        |      * 1000000 + 0.5) / 1000000 END AS df2
        |FROM k, f2""".stripMargin) { (s, dir) =>
      val gs = table(s, dir, "orders")
        .select(col("o_orderpriority").as("g"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("q"))
      val varNum = (col("n") * col("q")
        - col("s").cast("decimal(38,0)") * col("s"))
      val gw = gs
        .filter(col("n") > 1 && varNum > 0)
        .select(col("g"), col("n"),
          ((col("n").cast("decimal(38,0)") * col("n") * (col("n") - 1))
            .cast("double") / varNum.cast("double")).as("w"),
          (col("s").cast("double") / col("n")).as("m"))
        .localCheckpoint() // k, the folds, and the read-out share it
      // g-ascending ordered folds on the k-row relation
      val arr = gw
        .agg(transform(sort_array(collect_list(struct(col("g"), col("w"),
          col("m"), col("n")))), x => struct(x.getField("w").as("w"),
          x.getField("m").as("m"), x.getField("n").as("n"))).as("gs"),
          count(lit(1)).as("k"))
      val bigw = aggregate(col("gs"), lit(0.0), (a, x) => a + x.getField("w"))
      val wm = aggregate(col("gs"), lit(0.0),
        (a, x) => a + x.getField("w") * x.getField("m"))
      val withW = arr.select(col("gs"), col("k"), bigw.as("bigw"),
        (wm / bigw).as("mbar"))
      val aterm = aggregate(col("gs"), lit(0.0), (a, x) =>
        a + x.getField("w") * (x.getField("m") - col("mbar"))
          * (x.getField("m") - col("mbar")))
      val lam = aggregate(col("gs"), lit(0.0), (a, x) =>
        a + (lit(1.0) - x.getField("w") / col("bigw"))
          * (lit(1.0) - x.getField("w") / col("bigw"))
          / (x.getField("n") - 1))
      withW.select(col("k").as("n_groups"), aterm.as("aterm"),
          lam.as("lam"))
        .select(col("n_groups"),
          when(col("n_groups") > 1,
            floor(col("aterm") / (col("n_groups") - 1)
              / (lit(1.0) + lit(2.0) * (col("n_groups") - 2)
                / (col("n_groups").cast("double") * col("n_groups") - 1)
                * col("lam"))
              * 1000000 + lit(0.5)) / 1000000).as("f_welch"),
          when(col("lam") > 0,
            floor((col("n_groups").cast("double") * col("n_groups") - 1)
              / (lit(3.0) * col("lam"))
              * 1000000 + lit(0.5)) / 1000000).as("df2"))
    },

    // B187: QUADE TEST (Quade, JASA 1979) — the block-design rank
    // test that WEIGHTS blocks by how much is at stake in them:
    // B149's Friedman treats a day where the five types' revenues
    // differ by cents identically to one where they differ by
    // thousands; Quade ranks the days by their value RANGE and
    // weights each day's within-day ranks by that rank — the
    // sensitive alternative when block sizes vary wildly (exactly
    // this corpus). Exact spelling: within-day doubled tie-averaged
    // ranks r2 (the B149 grain) and doubled range-ranks Q2 across
    // days; S' = Q2·(r2 − (k+1)) exact BIGINT (the 1/4 of the
    // textbook S cancels in F), T'_j = Σ_b S'; F = (n−1)·ΣT'² /
    // (n·ΣS'² − ΣT'²) — EXACT HUGEINT integers into ONE division,
    // 6dp floor; all-tied (denominator 0) → NULL. Scale shape: the
    // B149 grid + one day-grain range rank; calendar×k-sized after
    // the keyed agg.
    Q("quade_test",
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type AS ty,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM e),
        |tys AS (SELECT DISTINCT ty FROM e),
        |grid AS (
        |  SELECT d.day, t.ty, CAST(coalesce(e.v, 0) AS BIGINT) AS v
        |  FROM days d CROSS JOIN tys t
        |  LEFT JOIN e ON e.day = d.day AND e.ty = t.ty),
        |vc AS (
        |  SELECT day, v, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(count(*)) OVER (PARTITION BY day ORDER BY v)
        |      AS BIGINT) - CAST(count(*) AS BIGINT) AS cb
        |  FROM grid GROUP BY day, v),
        |r AS (
        |  SELECT g.day, g.ty, 2 * vc.cb + vc.cnt + 1 AS r2
        |  FROM grid g JOIN vc ON vc.day = g.day AND vc.v = g.v),
        |rng AS (
        |  SELECT day, max(v) - min(v) AS rg FROM grid GROUP BY day),
        |rc AS (
        |  SELECT rg, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(count(*)) OVER (ORDER BY rg) AS BIGINT)
        |      - CAST(count(*) AS BIGINT) AS cb
        |  FROM rng GROUP BY rg),
        |qd AS (
        |  SELECT rng.day, 2 * rc.cb + rc.cnt + 1 AS q2
        |  FROM rng JOIN rc USING (rg)),
        |dims AS (
        |  SELECT CAST(count(DISTINCT day) AS BIGINT) AS n,
        |    CAST(count(DISTINCT ty) AS BIGINT) AS k FROM r),
        |sp AS (
        |  SELECT r.ty, CAST(qd.q2 * (r.r2 - (d.k + 1)) AS BIGINT) AS s
        |  FROM r JOIN qd USING (day), dims d),
        |tj AS (SELECT ty, CAST(sum(s) AS BIGINT) AS t FROM sp GROUP BY ty),
        |agg AS (
        |  SELECT
        |    (SELECT CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) FROM sp)
        |      AS ss,
        |    (SELECT CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) FROM tj)
        |      AS st)
        |SELECT d.n AS n_days, d.k AS n_types,
        |  CASE WHEN d.n * agg.ss - agg.st > 0 THEN
        |    floor(CAST((d.n - 1) * agg.st AS DOUBLE)
        |      / CAST(d.n * agg.ss - agg.st AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS f_quade
        |FROM dims d, agg""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(expr("ts div 1000000000 div 86400").as("day"),
          col("event_type").as("ty"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("day"), col("ty")).agg(sum(col("c")).as("v"))
        .localCheckpoint() // feeds days, types, and the grid
      val days = e.select(col("day")).distinct()
      val tys = e.select(col("ty")).distinct()
      val grid = days.crossJoin(broadcast(tys))
        .join(e, Seq("day", "ty"), "left")
        .select(col("day"), col("ty"), coalesce(col("v"), lit(0L)).as("v"))
        .localCheckpoint() // within-day ranks + day ranges read it
      val vc = grid.groupBy(col("day"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cb", sum(col("cnt")).over(
          Window.partitionBy(col("day")).orderBy(col("v"))) - col("cnt"))
      val r = grid.join(vc, Seq("day", "v"))
        .select(col("day"), col("ty"),
          (col("cb") * 2 + col("cnt") + 1).as("r2"))
      val rng = grid.groupBy(col("day"))
        .agg((max(col("v")) - min(col("v"))).as("rg"))
      val rc = rng.groupBy(col("rg")).agg(count(lit(1)).as("cnt"))
        .withColumn("cb",
          sum(col("cnt")).over(Window.orderBy(col("rg"))) - col("cnt"))
      val qd = rng.join(rc, Seq("rg"))
        .select(col("day"), (col("cb") * 2 + col("cnt") + 1).as("q2"))
      val dims = r.agg(countDistinct(col("day")).as("n"),
        countDistinct(col("ty")).as("k"))
      val sp = r.join(qd, Seq("day")).crossJoin(broadcast(dims))
        .select(col("ty"),
          (col("q2") * (col("r2") - (col("k") + 1))).as("s"))
        .localCheckpoint() // feeds ΣS'² and the per-type sums
      val ss = sp.agg(sum(col("s").cast("decimal(38,0)") * col("s")).as("ss"))
      val st = sp.groupBy(col("ty")).agg(sum(col("s")).as("t"))
        .agg(sum(col("t").cast("decimal(38,0)") * col("t")).as("st"))
      broadcast(dims).crossJoin(broadcast(ss)).crossJoin(broadcast(st))
        .select(col("n").as("n_days"), col("k").as("n_types"),
          when(col("n") * col("ss") - col("st") > 0,
            floor(((col("n") - 1) * col("st")).cast("double")
              / (col("n") * col("ss") - col("st")).cast("double")
              * 1000000 + lit(0.5)) / 1000000).as("f_quade"))
    },

    // B183: MOOD'S MEDIAN TEST (Mood 1950; Brown & Mood 1951) of
    // order value across the five priorities — the robust k-group
    // location test that survives what wrecks B131's ANOVA (heavy
    // tails, outliers — it reduces every value to one bit: above the
    // POOLED lower median or not) and complements B142's KW (which
    // uses full ranks; Mood's is the coarser, more outlier-immune
    // cut). Exact spelling: the pooled lower median off the
    // value-grain prefix (rank (N+1)//2 — the B114/B120 grain);
    // per-group above-counts vs expectations as the B115 χ² algebra
    // with per-cell EXACT integer terms (O·N − r·c)²·10⁶ //
    // (N·r·c) in DECIMAL(38,0)/HUGEINT floor division, χ² = Σ/10⁶.
    // Scale shape: one keyed (group, value) agg + one value-grain
    // prefix window; the k×2 table and χ² are model-sized.
    Q("mood_median_test",
      """WITH e AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |v AS (SELECT c, CAST(count(*) AS BIGINT) AS l FROM e GROUP BY c),
        |w AS (SELECT c, CAST(sum(l) OVER (ORDER BY c) AS BIGINT) AS b,
        |        l FROM v),
        |tot AS (SELECT CAST(sum(l) AS BIGINT) AS n FROM v),
        |med AS (
        |  SELECT min(c) AS m FROM w, tot
        |  WHERE b >= (tot.n + 1) // 2),
        |gc AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(CASE WHEN c > (SELECT m FROM med) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a_g
        |  FROM e GROUP BY g),
        |ab AS (SELECT CAST(sum(a_g) AS BIGINT) AS a_tot FROM gc),
        |terms AS (
        |  SELECT
        |    CAST(CAST(gc.a_g * t.n - gc.n_g * ab.a_tot AS HUGEINT)
        |      * (gc.a_g * t.n - gc.n_g * ab.a_tot) * 1000000
        |      // (CAST(t.n AS HUGEINT) * gc.n_g * ab.a_tot) AS BIGINT)
        |    + CAST(CAST((gc.n_g - gc.a_g) * t.n - gc.n_g * (t.n - ab.a_tot)
        |        AS HUGEINT)
        |      * ((gc.n_g - gc.a_g) * t.n - gc.n_g * (t.n - ab.a_tot))
        |      * 1000000
        |      // (CAST(t.n AS HUGEINT) * gc.n_g * (t.n - ab.a_tot))
        |      AS BIGINT) AS contrib
        |  FROM gc, tot t, ab WHERE ab.a_tot > 0 AND ab.a_tot < t.n),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM gc)
        |SELECT t.n AS n_rows, med.m AS median_cents, k.k - 1 AS df,
        |  floor(CAST(coalesce((SELECT sum(contrib) FROM terms), 0)
        |    AS DOUBLE) / 1000000 * 1000000 + 0.5) / 1000000 AS chi2
        |FROM tot t, med, k""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "orders")
        .select(col("o_orderpriority").as("g"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .localCheckpoint() // feeds the grain, the median, the table
      val v = e.groupBy(col("c")).agg(count(lit(1)).as("l"))
      val w = v.select(col("c"),
        sum(col("l")).over(Window.orderBy(col("c"))).as("b"))
      val tot = v.agg(sum(col("l")).as("n"))
      // integer floor division — Column `/` is DOUBLE division, which
      // shifts the rank by 0.5 for even N (caught by the oracle gate)
      val med = w.crossJoin(broadcast(tot))
        .filter(col("b") >= expr("(n + 1) div 2"))
        .agg(min(col("c")).as("m"))
      val gc = e.crossJoin(broadcast(med))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n_g"),
          sum(when(col("c") > col("m"), 1L).otherwise(0L)).as("a_g"))
        .localCheckpoint() // feeds the above-total and the terms
      val ab = gc.agg(sum(col("a_g")).as("a_tot"))
      val terms = gc.crossJoin(broadcast(tot)).crossJoin(broadcast(ab))
        .filter(col("a_tot") > 0 && col("a_tot") < col("n"))
        .select((
          expr("""cast(cast(a_g * n - n_g * a_tot as decimal(38,0))
                 |  * (a_g * n - n_g * a_tot) * 1000000
                 |  div (cast(n as decimal(38,0)) * n_g * a_tot)
                 |  as bigint)""".stripMargin)
          + expr("""cast(cast((n_g - a_g) * n - n_g * (n - a_tot)
                   |    as decimal(38,0))
                   |  * ((n_g - a_g) * n - n_g * (n - a_tot)) * 1000000
                   |  div (cast(n as decimal(38,0)) * n_g * (n - a_tot))
                   |  as bigint)""".stripMargin)).as("contrib"))
      val chi = terms.agg(coalesce(sum(col("contrib")), lit(0L)).as("s"))
      val k = gc.agg(count(lit(1)).as("k"))
      broadcast(tot).crossJoin(broadcast(med)).crossJoin(broadcast(k))
        .crossJoin(broadcast(chi))
        .select(col("n").as("n_rows"), col("m").as("median_cents"),
          (col("k") - 1).as("df"),
          (floor(col("s").cast("double") / 1000000 * 1000000 + lit(0.5))
            / 1000000).as("chi2"))
    },

    // B184: COCHRAN-ARMITAGE TREND TEST (Cochran 1954; Armitage
    // 1955) for a TREND in proportions across ordered groups —
    // "does the purchase share of events rise through the week":
    // groups = weekday 0-6 (Monday 0; epoch day 0 is a THURSDAY —
    // the (day+3)%7 convention), scores s_i = weekday index, outcome
    // = purchase vs not. B115/B147 ask IF the table associates;
    // CA asks if the proportion moves MONOTONICALLY with the score —
    // the dose-response test. Exact spelling: z = (N·Σsr − R·Σsn) ·
    // √N / √(R·(N−R)·(N·Σs²n − (Σsn)²)) — every inner term an exact
    // DECIMAL(38,0)/HUGEINT product of BIGINT sums, two IEEE sqrts,
    // ONE division, 6dp floor. Scale shape: one 7-group keyed agg
    // (map-side combined); everything after is 7 rows.
    Q("cochran_armitage",
      """WITH e AS (
        |  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 3) % 7
        |      AS wd,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
        |  FROM events),
        |g AS (
        |  SELECT wd, CAST(count(*) AS BIGINT) AS n_i,
        |    CAST(sum(x) AS BIGINT) AS r_i
        |  FROM e GROUP BY wd),
        |s AS (
        |  SELECT CAST(sum(n_i) AS BIGINT) AS n,
        |    CAST(sum(r_i) AS BIGINT) AS r,
        |    CAST(sum(wd * r_i) AS BIGINT) AS sr,
        |    CAST(sum(wd * n_i) AS BIGINT) AS sn,
        |    CAST(sum(wd * wd * n_i) AS BIGINT) AS s2n
        |  FROM g)
        |SELECT n AS n_events, r AS n_purchases,
        |  CASE WHEN r > 0 AND r < n
        |    AND CAST(n AS HUGEINT) * s2n - CAST(sn AS HUGEINT) * sn > 0
        |  THEN
        |    floor(CAST(CAST(n AS HUGEINT) * sr - CAST(r AS HUGEINT) * sn
        |        AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
        |      / sqrt(CAST(CAST(r AS HUGEINT) * (n - r)
        |        * (CAST(n AS HUGEINT) * s2n - CAST(sn AS HUGEINT) * sn)
        |        AS DOUBLE))
        |      * 1000000 + 0.5) / 1000000 END AS z
        |FROM s""".stripMargin) { (s, dir) =>
      val g = table(s, dir, "events")
        .select(expr("(ts div 1000000000 div 86400 + 3) % 7").as("wd"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("x"))
        .groupBy(col("wd"))
        .agg(count(lit(1)).as("n_i"), sum(col("x")).as("r_i"))
      val st = g.agg(sum(col("n_i")).as("n"), sum(col("r_i")).as("r"),
        sum(col("wd") * col("r_i")).as("sr"),
        sum(col("wd") * col("n_i")).as("sn"),
        sum(col("wd") * col("wd") * col("n_i")).as("s2n"))
      // parenthesized as ONE expression: a continuation line that
      // STARTS with `-` is a separate discarded unary-minus statement
      // under Scala semicolon inference — the round-11 cochran bug
      // (b silently became n·s2n; caught by the oracle gate)
      val b = (col("n").cast("decimal(38,0)") * col("s2n")
        - col("sn").cast("decimal(38,0)") * col("sn"))
      st.select(col("n").as("n_events"), col("r").as("n_purchases"),
        when(col("r") > 0 && col("r") < col("n") && b > 0,
          floor((col("n").cast("decimal(38,0)") * col("sr")
              - col("r").cast("decimal(38,0)") * col("sn")).cast("double")
            * sqrt(col("n").cast("double"))
            / sqrt((col("r").cast("decimal(38,0)") * (col("n") - col("r"))
              * b).cast("double"))
            * 1000000 + lit(0.5)) / 1000000).as("z"))
    },

    // B147: CRAMÉR'S V EFFECT SIZE (Cramér 1946) for the segment ×
    // region contingency — the statistic the B115 chi-square test
    // should be read WITH (χ² grows with N, so at corpus scale
    // everything is "significant"; V = √(χ²/(N·(min(r,c)−1))) is the
    // scale-free association strength in [0,1] that answers whether
    // the dependence MATTERS). Exact spelling: B115's algebra on the
    // DENSIFIED grid — every (seg, region) cell including the EMPTY
    // ones (a sparse groupBy silently drops zero cells, and a perfect
    // association's χ² lives half in them — pinned by CramersVSpec's
    // 2×2); expected = row·col/N one division, χ² an ordered (seg,
    // region)-ascending fold from 0.0, then V in one pinned sqrt tree
    // off the UNROUNDED χ²; both 6dp floor. Scale shape: one
    // broadcast join + one 25-cell map-side-combined count + a
    // model-sized densifying cross join; everything after model-sized.
    Q("cramers_v",
      """WITH obs0 AS (
        |  SELECT c_mktsegment AS seg, r_name AS region,
        |    CAST(count(*) AS BIGINT) AS observed
        |  FROM customer
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  GROUP BY 1, 2),
        |obs AS (
        |  SELECT s.seg, r.region,
        |    CAST(coalesce(o.observed, 0) AS BIGINT) AS observed
        |  FROM (SELECT DISTINCT seg FROM obs0) s
        |  CROSS JOIN (SELECT DISTINCT region FROM obs0) r
        |  LEFT JOIN obs0 o ON o.seg = s.seg AND o.region = r.region),
        |rt AS (SELECT seg, CAST(sum(observed) AS BIGINT) AS row_tot
        |       FROM obs GROUP BY seg),
        |ct AS (SELECT region, CAST(sum(observed) AS BIGINT) AS col_tot
        |       FROM obs GROUP BY region),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs),
        |dims AS (
        |  SELECT CAST(count(DISTINCT seg) AS BIGINT) AS r,
        |    CAST(count(DISTINCT region) AS BIGINT) AS c
        |  FROM obs),
        |t AS (
        |  SELECT o.seg, o.region, o.observed,
        |    CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.n AS expected
        |  FROM obs o JOIN rt USING (seg) JOIN ct USING (region), n),
        |chi AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((CAST(observed AS DOUBLE) - expected)
        |           * (CAST(observed AS DOUBLE) - expected) / expected
        |        ORDER BY seg, region)), (a, x) -> a + x) AS chi2
        |  FROM t)
        |SELECT n.n, dims.r AS n_rows_dim, dims.c AS n_cols_dim,
        |  floor(chi.chi2 * 1000000 + 0.5) / 1000000 AS chi2,
        |  floor(sqrt(chi.chi2 / (CAST(n.n AS DOUBLE)
        |      * (least(dims.r, dims.c) - 1)))
        |    * 1000000 + 0.5) / 1000000 AS cramers_v
        |FROM chi, n, dims""".stripMargin) { (s, dir) =>
      val obs0 = table(s, dir, "customer")
        .join(broadcast(table(s, dir, "nation")),
          col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(table(s, dir, "region")),
          col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("r_name").as("region"))
        .agg(count(lit(1)).as("observed"))
        .localCheckpoint() // the densify cross join reads it three ways
      // densify: zero cells carry half a perfect association's chi2
      val obs = obs0.select(col("seg")).distinct()
        .crossJoin(obs0.select(col("region")).distinct())
        .join(obs0, Seq("seg", "region"), "left")
        .select(col("seg"), col("region"),
          coalesce(col("observed"), lit(0L)).as("observed"))
        .localCheckpoint() // margins, dims, cells read the dense grid
      val rt = obs.groupBy(col("seg")).agg(sum(col("observed")).as("row_tot"))
      val ct = obs.groupBy(col("region"))
        .agg(sum(col("observed")).as("col_tot"))
      val n = obs.agg(sum(col("observed")).as("n"))
      val dims = obs.agg(countDistinct(col("seg")).as("r"),
        countDistinct(col("region")).as("c"))
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
      val chi = t
        .agg(sort_array(collect_list(struct(col("seg"), col("region"),
          col("term")))).as("ts"))
        .select(aggregate(col("ts"), lit(0.0),
          (acc, x) => acc + x.getField("term")).as("chi2"))
      broadcast(chi).crossJoin(broadcast(n)).crossJoin(broadcast(dims))
        .select(col("n"), col("r").as("n_rows_dim"), col("c").as("n_cols_dim"),
          (floor(col("chi2") * 1000000 + lit(0.5)) / 1000000).as("chi2"),
          (floor(sqrt(col("chi2") / (col("n").cast("double")
              * (least(col("r"), col("c")) - 1)))
            * 1000000 + lit(0.5)) / 1000000).as("cramers_v"))
    },

    // B148: COHEN'S D / HEDGES' G standardized mean difference
    // (Cohen 1969; Hedges 1981) between purchase and view values —
    // the effect size the B60/B114 significance tests should be read
    // with (the "how big in SD units", immune to the N-driven
    // p-value inflation at corpus scale). Exact spelling: per-group
    // sufficient stats (n, Σc, Σc² in BIGINT/DECIMAL(38,0)) feed
    // ONE pinned double tree — means m = S/n, sample variances
    // s² = (Q − S²/n)/(n−1), pooled s_p² = ((n1−1)s1² +
    // (n2−1)s2²)/(n1+n2−2), d = (m1−m2)/√s_p², g = d·(1 −
    // 3/(4(n1+n2)−9)) — 6dp floor; a zero pooled variance → NULL.
    // Scale shape: one map-side-combined 2-row groupBy over events.
    Q("cohens_d", {
      val dSql = """((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        | / sqrt((
        |     (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
        |   + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
        |   / (n1 + n2 - 2)))""".stripMargin.replace("\n", "")
      s"""WITH g AS (
        |  SELECT event_type = 'purchase' AS g1,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS s,
        |    CAST(sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
        |      * CAST(floor(value * 100 + 0.5) AS BIGINT) AS HUGEINT))
        |      AS HUGEINT) AS q
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1),
        |w AS (
        |  SELECT
        |    max(CASE WHEN g1 THEN n END) AS n1,
        |    max(CASE WHEN g1 THEN s END) AS s1,
        |    max(CASE WHEN g1 THEN q END) AS q1,
        |    max(CASE WHEN NOT g1 THEN n END) AS n2,
        |    max(CASE WHEN NOT g1 THEN s END) AS s2,
        |    max(CASE WHEN NOT g1 THEN q END) AS q2
        |  FROM g)
        |SELECT n1, n2,
        |  CASE WHEN n1 + n2 > 2 AND
        |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
        |    + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) > 0
        |  THEN floor($dSql * 1000000 + 0.5) / 1000000 END AS cohens_d,
        |  CASE WHEN n1 + n2 > 2 AND
        |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
        |    + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) > 0
        |  THEN floor($dSql * (1 - 3.0 / (4 * (n1 + n2) - 9))
        |    * 1000000 + 0.5) / 1000000 END AS hedges_g
        |FROM w""".stripMargin
    }) { (s, dir) =>
      val g = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("g1"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("g1"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("q"))
      val w = g.agg(
        max(when(col("g1"), col("n"))).as("n1"),
        max(when(col("g1"), col("s"))).as("s1"),
        max(when(col("g1"), col("q"))).as("q1"),
        max(when(!col("g1"), col("n"))).as("n2"),
        max(when(!col("g1"), col("s"))).as("s2"),
        max(when(!col("g1"), col("q"))).as("q2"))
      val ssw = (col("q1").cast("double")
          - col("s1").cast("double") * col("s1") / col("n1")) +
        (col("q2").cast("double")
          - col("s2").cast("double") * col("s2") / col("n2"))
      val d = (col("s1").cast("double") / col("n1")
          - col("s2").cast("double") / col("n2")) /
        sqrt(ssw / (col("n1") + col("n2") - 2))
      w.select(col("n1"), col("n2"),
        when(col("n1") + col("n2") > 2 && ssw > 0,
          floor(d * 1000000 + lit(0.5)) / 1000000).as("cohens_d"),
        when(col("n1") + col("n2") > 2 && ssw > 0,
          floor(d * (lit(1.0) - lit(3.0)
              / (lit(4) * (col("n1") + col("n2")) - 9))
            * 1000000 + lit(0.5)) / 1000000).as("hedges_g"))
    },

    // B149: FRIEDMAN TEST (Friedman JASA 1937) — the repeated-
    // measures rank test over the (day × event-type) block design:
    // within each day, the five types' revenue totals are ranked
    // (tie-averaged), and χ²_F asks whether any type SYSTEMATICALLY
    // outranks the others across days — the within-block companion
    // to B142 (KW pools all rows; Friedman controls for the day
    // effect, the right test when days differ wildly in volume).
    // Exact spelling: the dense (day, type) grid with 0-filled cells
    // (a type silent on a day ranks lowest, not absent); doubled
    // tie-averaged ranks r2 = 2·cb + cnt + 1 on the within-day value
    // grain (exact integers; ties across types share a day rank);
    // the tie-corrected statistic χ² = (k−1)·Σ_j (R2_j − n(k+1))² /
    // (Σ r2² − n·k·(k+1)²) is EXACT integer algebra into ONE double
    // division, 6dp floor (the doubled-rank substitution cancels
    // every /2 — no rounding anywhere before the final division);
    // all-tied data (denominator 0) → NULL. Scale shape: one keyed
    // (day, type) agg over events (map-side combined); the grid,
    // within-day rank windows (≤ k rows per partition) and moments
    // are calendar×k-sized — constant across corpus scale.
    Q("friedman_test",
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type AS ty,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM e),
        |tys AS (SELECT DISTINCT ty FROM e),
        |grid AS (
        |  SELECT d.day, t.ty, CAST(coalesce(e.v, 0) AS BIGINT) AS v
        |  FROM days d CROSS JOIN tys t
        |  LEFT JOIN e ON e.day = d.day AND e.ty = t.ty),
        |vc AS (
        |  SELECT day, v, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(count(*)) OVER (PARTITION BY day ORDER BY v)
        |      AS BIGINT) - CAST(count(*) AS BIGINT) AS cb
        |  FROM grid GROUP BY day, v),
        |r AS (
        |  SELECT g.day, g.ty, 2 * vc.cb + vc.cnt + 1 AS r2
        |  FROM grid g JOIN vc ON vc.day = g.day AND vc.v = g.v),
        |dims AS (
        |  SELECT CAST(count(DISTINCT day) AS BIGINT) AS n,
        |    CAST(count(DISTINCT ty) AS BIGINT) AS k
        |  FROM r),
        |rj AS (SELECT ty, CAST(sum(r2) AS BIGINT) AS r2j FROM r GROUP BY ty),
        |num AS (
        |  SELECT CAST(sum(CAST(r2j - d.n * (d.k + 1) AS HUGEINT)
        |    * (r2j - d.n * (d.k + 1))) AS HUGEINT) AS n2
        |  FROM rj, dims d),
        |den AS (
        |  SELECT CAST(sum(CAST(r2 AS HUGEINT) * r2) AS HUGEINT)
        |    - CAST(max(d.n) * max(d.k) * (max(d.k) + 1) * (max(d.k) + 1)
        |        AS HUGEINT) AS d2
        |  FROM r, dims d)
        |SELECT d.n AS n_days, d.k AS n_types,
        |  CASE WHEN den.d2 > 0 THEN
        |    floor(CAST((d.k - 1) * num.n2 AS DOUBLE)
        |      / CAST(den.d2 AS DOUBLE) * 1000000 + 0.5) / 1000000
        |  END AS chi2_friedman
        |FROM dims d, num, den""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(expr("ts div 1000000000 div 86400").as("day"),
          col("event_type").as("ty"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("day"), col("ty")).agg(sum(col("c")).as("v"))
        .localCheckpoint() // feeds days, types, and the grid
      val days = e.select(col("day")).distinct()
      val tys = e.select(col("ty")).distinct()
      val grid = days.crossJoin(broadcast(tys))
        .join(e, Seq("day", "ty"), "left")
        .select(col("day"), col("ty"), coalesce(col("v"), lit(0L)).as("v"))
        .localCheckpoint() // feeds the within-day value grain + ranks
      // within-day tie-averaged doubled ranks (≤ k rows per partition)
      val vc = grid.groupBy(col("day"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cb", sum(col("cnt")).over(
          Window.partitionBy(col("day")).orderBy(col("v"))) - col("cnt"))
      val r = grid.join(vc, Seq("day", "v"))
        .select(col("day"), col("ty"),
          (col("cb") * 2 + col("cnt") + 1).as("r2"))
        .localCheckpoint() // feeds dims, rank sums, and the moments
      val dims = r.agg(countDistinct(col("day")).as("n"),
        countDistinct(col("ty")).as("k"))
      val rj = r.groupBy(col("ty")).agg(sum(col("r2")).as("r2j"))
      val num = rj.crossJoin(broadcast(dims))
        .agg(sum(((col("r2j") - col("n") * (col("k") + 1))
          .cast("decimal(38,0)")
          * (col("r2j") - col("n") * (col("k") + 1)))).as("n2"))
      val den = r.crossJoin(broadcast(dims))
        .agg((sum(col("r2").cast("decimal(38,0)") * col("r2"))
          - max(col("n").cast("decimal(38,0)") * col("k")
            * (col("k") + 1) * (col("k") + 1))).as("d2"))
      broadcast(dims).crossJoin(broadcast(num)).crossJoin(broadcast(den))
        .select(col("n").as("n_days"), col("k").as("n_types"),
          when(col("d2") > 0,
            floor(((col("k") - 1) * col("n2")).cast("double")
              / col("d2").cast("double") * 1000000 + lit(0.5)) / 1000000)
            .as("chi2_friedman"))
    },

    // B178: PAGE'S TREND TEST (Page, JASA 1963) — the ORDERED
    // alternative to B149: Friedman asks "does any type differ",
    // Page's L asks "do the types' within-day ranks INCREASE along a
    // hypothesized ordering" — the right test when the factor is
    // ordinal (the B146-vs-B142 distinction lifted to the block
    // design). The hypothesized order is PINNED to the alphabetical
    // event-type order (deterministic and documented; the test's
    // sign says whether revenue rank grows along it). Exact
    // spelling: B149's dense 0-filled grid and doubled tie-averaged
    // within-day ranks verbatim; L2 = Σ_j c_j·R2_j in exact BIGINTs
    // (c_j = 1..k alphabetical; r2 = 2cb + cnt + 1 is TWICE the
    // tie-averaged midrank ⇒ L2 = 2L); z off the DOUBLED-rank null
    // moments μ = 2μ_L = n·k(k+1)²/2, σ² = 4σ²_L =
    // n·k²(k+1)²(k−1)/36 (both pinned by the perfect-order plant
    // landing on z = ±2 exactly; the classic
    // no-tie-correction normal approximation — the B146 convention)
    // in DECIMAL(38,0)/HUGEINT into ONE pinned double tree, 6dp
    // floor. Scale shape: identical to B149 — one keyed (day, type)
    // agg; everything after is calendar×k-sized.
    Q("pages_trend_test",
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type AS ty,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM e),
        |tys AS (SELECT DISTINCT ty FROM e),
        |grid AS (
        |  SELECT d.day, t.ty, CAST(coalesce(e.v, 0) AS BIGINT) AS v
        |  FROM days d CROSS JOIN tys t
        |  LEFT JOIN e ON e.day = d.day AND e.ty = t.ty),
        |vc AS (
        |  SELECT day, v, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(count(*)) OVER (PARTITION BY day ORDER BY v)
        |      AS BIGINT) - CAST(count(*) AS BIGINT) AS cb
        |  FROM grid GROUP BY day, v),
        |r AS (
        |  SELECT g.day, g.ty, 2 * vc.cb + vc.cnt + 1 AS r2
        |  FROM grid g JOIN vc ON vc.day = g.day AND vc.v = g.v),
        |ord AS (
        |  SELECT ty, CAST(row_number() OVER (ORDER BY ty) AS BIGINT) AS cj
        |  FROM tys),
        |dims AS (
        |  SELECT CAST(count(DISTINCT day) AS BIGINT) AS n,
        |    CAST(count(DISTINCT ty) AS BIGINT) AS k
        |  FROM r),
        |rj AS (SELECT ty, CAST(sum(r2) AS BIGINT) AS r2j FROM r GROUP BY ty),
        |l AS (
        |  SELECT CAST(sum(o.cj * rj.r2j) AS BIGINT) AS l2
        |  FROM rj JOIN ord o USING (ty))
        |SELECT d.n AS n_days, d.k AS n_types, l.l2,
        |  CASE WHEN d.k > 1 AND d.n > 0 THEN
        |    floor((CAST(l.l2 AS DOUBLE)
        |        - CAST(CAST(d.n AS HUGEINT) * d.k * (d.k + 1) * (d.k + 1)
        |            AS DOUBLE) / 2.0)
        |      / sqrt(CAST(CAST(d.n AS HUGEINT) * d.k * d.k * (d.k + 1)
        |          * (d.k + 1) * (d.k - 1) AS DOUBLE) / 36.0)
        |      * 1000000 + 0.5) / 1000000 END AS z
        |FROM dims d, l""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(expr("ts div 1000000000 div 86400").as("day"),
          col("event_type").as("ty"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("day"), col("ty")).agg(sum(col("c")).as("v"))
        .localCheckpoint() // feeds days, types, and the grid
      val days = e.select(col("day")).distinct()
      val tys = e.select(col("ty")).distinct()
      val grid = days.crossJoin(broadcast(tys))
        .join(e, Seq("day", "ty"), "left")
        .select(col("day"), col("ty"), coalesce(col("v"), lit(0L)).as("v"))
        .localCheckpoint()
      val vc = grid.groupBy(col("day"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cb", sum(col("cnt")).over(
          Window.partitionBy(col("day")).orderBy(col("v"))) - col("cnt"))
      val r = grid.join(vc, Seq("day", "v"))
        .select(col("day"), col("ty"),
          (col("cb") * 2 + col("cnt") + 1).as("r2"))
        .localCheckpoint()
      val ord = tys.select(col("ty"),
        row_number().over(Window.orderBy(col("ty"))).cast("long").as("cj"))
      val dims = r.agg(countDistinct(col("day")).as("n"),
        countDistinct(col("ty")).as("k"))
      val l = r.groupBy(col("ty")).agg(sum(col("r2")).as("r2j"))
        .join(broadcast(ord), Seq("ty"))
        .agg(sum(col("cj") * col("r2j")).as("l2"))
      broadcast(dims).crossJoin(broadcast(l))
        .select(col("n").as("n_days"), col("k").as("n_types"), col("l2"),
          when(col("k") > 1 && col("n") > 0,
            floor((col("l2").cast("double")
                - (col("n").cast("decimal(38,0)") * col("k")
                  * (col("k") + 1) * (col("k") + 1)).cast("double") / 2.0)
              / sqrt((col("n").cast("decimal(38,0)") * col("k") * col("k")
                  * (col("k") + 1) * (col("k") + 1) * (col("k") - 1))
                .cast("double") / 36.0)
              * 1000000 + lit(0.5)) / 1000000).as("z"))
    },

    // C121: SHOT SEGMENTATION over the sampled frame stream — the
    // step AFTER C115's cut detection in any video-curation pipeline
    // (Rasheed & Shah 2003): consecutive frames between cuts group
    // into SHOTS, the unit video dedup/captioning operates on. Shot
    // id = running count of cuts per doc (one lag + one cumsum
    // window, both doc-partitioned); per shot: frame span, count,
    // and total L1 feature energy — the frame features are exact
    // multiples of 2⁻¹⁶ (the C20 contract), so per-shot energy sums
    // are EXACT dyadic-rational double arithmetic, order-independent,
    // no rounding grid needed. Scale shape: the C20 batched iterator
    // explode (map-only, constant memory) + doc-partitioned windows
    // (frames/doc bounded by payload bytes / 128) + one keyed rollup.
    Q("mm_shot_segments", {
      s"""WITH ${MediaOracle.frameFeatureCtes(step = 2)},
        |fd AS (
        |  SELECT doc_id, f, feats,
        |    lag(feats) OVER (PARTITION BY doc_id ORDER BY f) AS pfeats
        |  FROM ft),
        |cut AS (
        |  SELECT doc_id, f, feats,
        |    CASE WHEN pfeats IS NOT NULL AND
        |      list_reduce(list_prepend(0.0, list_transform(range(8),
        |        j -> abs(feats[CAST(j + 1 AS INT)]
        |               - pfeats[CAST(j + 1 AS INT)]))),
        |        (a, x) -> a + x) > 9.0
        |    THEN 1 ELSE 0 END AS is_cut
        |  FROM fd),
        |sh AS (
        |  SELECT doc_id, f, feats,
        |    CAST(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY f)
        |      AS BIGINT) AS shot_id
        |  FROM cut)
        |SELECT doc_id AS id, shot_id,
        |  CAST(min(f) AS INT) AS first_frame,
        |  CAST(max(f) AS INT) AS last_frame,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  list_reduce(list_prepend(0.0,
        |    list(list_reduce(list_prepend(0.0, feats), (a, x) -> a + x)
        |      ORDER BY f)), (a, x) -> a + x) AS total_energy
        |FROM sh GROUP BY doc_id, shot_id""".stripMargin
    }) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val frames = graft.operators.Multimodal.sampleFrames(s,
        graft.operators.Multimodal.asMedia(docs, "text")
          .select(col("doc_id"), col("media")),
        "doc_id", frameBytes = 64, everyN = 2)
      val w = Window.partitionBy(col("id")).orderBy(col("frame_idx"))
      val cut = frames
        .withColumn("pfeats", lag(col("features"), 1).over(w))
        .withColumn("is_cut",
          when(col("pfeats").isNotNull &&
            aggregate(zip_with(col("features"), col("pfeats"),
              (a, b) => abs(a - b)), lit(0.0), (acc, x) => acc + x) > 9.0,
            lit(1)).otherwise(lit(0)))
      val sh = cut.withColumn("shot_id",
        sum(col("is_cut")).over(w).cast("long"))
      // per-frame energy is a sum of exact 2^-16 multiples — the
      // per-shot rollup folds frame energies in frame order (the
      // oracle's ORDER BY f list fold), dyadic-exact either way
      sh.withColumn("fe",
          aggregate(col("features"), lit(0.0), (acc, x) => acc + x))
        .groupBy(col("id"), col("shot_id"))
        .agg(min(col("frame_idx")).cast("int").as("first_frame"),
          max(col("frame_idx")).cast("int").as("last_frame"),
          count(lit(1)).as("n_frames"),
          aggregate(transform(sort_array(collect_list(
            struct(col("frame_idx"), col("fe")))),
            x => x.getField("fe")), lit(0.0), (acc, x) => acc + x)
            .as("total_energy"))
        .select(col("id"), col("shot_id"), col("first_frame"),
          col("last_frame"), col("n_frames"), col("total_energy"))
    },

    // B151: Q-Q DECILE SHIFT TABLE (Wilk & Gnanadesikan Biometrika
    // 1968's Q-Q plot as a table) between purchase and view values —
    // the WHERE-did-the-distribution-move diagnostic the scalar
    // tests can't give (B120/B145 say THAT it moved, B141 gives one
    // shift number; the Q-Q table shows the shift per decile — tail
    // inflation vs uniform translation vs compression). Exactness:
    // deciles come from DistributedQuantile (streamed sorted passes;
    // quantile_cont agrees bit-for-bit on the test data — the
    // quantile_bitcheck canary — and the 4dp round is robust even to
    // a last-ulp tree divergence because decile breakpoints of
    // cent-grain data land on the exact 1e-4 grid); the shift is one
    // IEEE subtraction of identical doubles. Scale shape: ONE
    // two-group quantile pass (never a per-group buffered
    // percentile), then a 9-row join.
    Q("qq_shift_deciles", {
      val qs = "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]"
      s"""WITH p AS (SELECT quantile_cont(value, $qs) AS q
         |  FROM events WHERE event_type = 'purchase'),
         |v AS (SELECT quantile_cont(value, $qs) AS q
         |  FROM events WHERE event_type = 'view'),
         |d AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS decile)
         |SELECT d.decile,
         |  round(p.q[d.decile], 4) AS q_purchase,
         |  round(v.q[d.decile], 4) AS q_view,
         |  round(p.q[d.decile], 4) - round(v.q[d.decile], 4) AS shift
         |FROM d, p, v""".stripMargin
    }) { (s, dir) =>
      val ev = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
      val q = graft.operators.DistributedQuantile.quantiles(
        ev, "event_type", "value", (1 to 9).map(k => s"d$k" -> k / 10.0))
      def melt(g: String, out: String) = q.filter(col("g") === g)
        .select(posexplode(array((1 to 9).map(k => col(s"d$k")): _*))
          .as(Seq("i", "qv")))
        .select((col("i") + 1).cast("int").as("decile"),
          round(col("qv"), 4).as(out))
      melt("purchase", "q_purchase")
        .join(melt("view", "q_view"), Seq("decile"))
        .select(col("decile"), col("q_purchase"), col("q_view"),
          (col("q_purchase") - col("q_view")).as("shift"))
    },

    // B142: KRUSKAL-WALLIS H TEST (Kruskal & Wallis JASA 1952) of
    // order value across the five priorities — the k-group RANK test
    // completing the test lattice: B131 is the k-group PARAMETRIC
    // member, B114 the 2-group rank member; KW is the nonparametric
    // ANOVA that survives heavy tails B131's F can't. Exact spelling:
    // the B114 doubled tie-averaged-rank identity on the VALUE grain
    // (a value v with global count cnt and cumBefore smaller values
    // carries r2 = 2·cumBefore + cnt + 1), so per-group rank sums
    // R2_g = Σ cnt_{g,v}·r2(v) are exact BIGINTs; Σ R_g²/n_g uses
    // q_g = (R2_g²·10⁶) // (4·n_g) as exact e6-scaled integer floor
    // quotients (DECIMAL(38,0) — R2_g ≤ n_g·2N ≈ 0.4·N² under the
    // balanced 5-priority split, so R2²·10⁶ ≈ 0.16·N⁴·10⁶ holds
    // inside 38 digits to N ~ 1.5·10⁸, the ×1000 clone scale; ANSI
    // overflow past that is loud, not silent; the ≤10⁻⁶-unit floor
    // loss per group is shared and spec-invisible); H = 12·Σq/(10⁶·N(N+1))
    // − 3(N+1) and the tie correction H/C with C = 1 − Σ(t³−t)/(N³−N)
    // fold into ONE pinned double tree over exact integers, 6dp
    // floor; all-tied data (C = 0) → NULL. Scale shape: one keyed agg
    // to the (pri, cents) grain, one value-grain-bounded global
    // prefix window (the B114 class — clones repeat the price
    // domain), then k-row model-sized.
    Q("kruskal_wallis",
      """WITH e AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |vc AS (
        |  SELECT pri, c, CAST(count(*) AS BIGINT) AS cntg
        |  FROM e GROUP BY 1, 2),
        |gc AS (
        |  SELECT c, CAST(sum(cntg) AS BIGINT) AS cnt,
        |    CAST(sum(sum(cntg)) OVER (ORDER BY c) AS BIGINT) AS cum
        |  FROM vc GROUP BY c),
        |r AS (
        |  SELECT v.pri, v.cntg,
        |    2 * (g.cum - g.cnt) + g.cnt + 1 AS r2
        |  FROM vc v JOIN gc g ON v.c = g.c),
        |grp AS (
        |  SELECT pri, CAST(sum(cntg) AS BIGINT) AS n,
        |    CAST(sum(CAST(cntg AS HUGEINT) * r2) AS HUGEINT) AS r2g
        |  FROM r GROUP BY pri),
        |ties AS (
        |  SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
        |    AS HUGEINT) AS tsum FROM gc),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(r2g * r2g * 1000000 // (4 * n)) AS HUGEINT) AS sumq
        |  FROM grp),
        |h AS (
        |  SELECT k, nn, t.tsum,
        |    CAST(12 * sumq AS DOUBLE)
        |      / CAST(CAST(nn AS HUGEINT) * (nn + 1) * 1000000 AS DOUBLE)
        |      - CAST(3 * (nn + 1) AS DOUBLE) AS h_raw,
        |    CAST(CAST(nn AS HUGEINT) * nn * nn - nn AS HUGEINT) AS n3n
        |  FROM agg, ties t)
        |SELECT k AS n_groups, nn AS n_rows,
        |  floor(h_raw * 1000000 + 0.5) / 1000000 AS h_stat,
        |  CASE WHEN n3n > tsum THEN
        |    floor(h_raw * CAST(n3n AS DOUBLE) / CAST(n3n - tsum AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000
        |  END AS h_tie_corrected
        |FROM h""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
      val vc = e.groupBy(col("pri"), col("c")).agg(count(lit(1)).as("cntg"))
        .localCheckpoint() // feeds the global grain and the rank join
      // global value grain + the one unpartitioned prefix window
      // (bounded by the distinct-cents domain — the B114 class)
      val gc = vc.groupBy(col("c")).agg(sum(col("cntg")).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("c"))))
      val r = vc.join(gc, Seq("c"))
        .select(col("pri"), col("cntg"),
          (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1).as("r2"))
      val grp = r.groupBy(col("pri"))
        .agg(sum(col("cntg")).as("n"),
          sum(col("cntg").cast("decimal(38,0)") * col("r2")).as("r2g"))
      val ties = gc.agg(sum(col("cnt").cast("decimal(38,0)") * col("cnt")
        * col("cnt") - col("cnt")).as("tsum"))
      val agg = grp.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(expr("cast(r2g * r2g * 1000000 div " +
          "(4 * cast(n as decimal(38,0))) as decimal(38,0))")).as("sumq"))
      val h = agg.crossJoin(broadcast(ties))
        .select(col("k"), col("nn"), col("tsum"),
          ((col("sumq") * 12).cast("double")
            / (col("nn").cast("decimal(38,0)") * (col("nn") + 1) * 1000000)
              .cast("double")
            - (lit(3) * (col("nn") + 1)).cast("double")).as("h_raw"),
          (col("nn").cast("decimal(38,0)") * col("nn") * col("nn")
            - col("nn")).as("n3n"))
      h.select(col("k").as("n_groups"), col("nn").as("n_rows"),
        (floor(col("h_raw") * 1000000 + lit(0.5)) / 1000000).as("h_stat"),
        when(col("n3n") > col("tsum"),
          floor(col("h_raw") * col("n3n").cast("double")
            / (col("n3n") - col("tsum")).cast("double")
            * 1000000 + lit(0.5)) / 1000000).as("h_tie_corrected"))
    },

    // B141: HODGES-LEHMANN SHIFT ESTIMATOR (Hodges & Lehmann 1963)
    // between purchase and view values — the median of all pairwise
    // differences: the robust "how big is the shift" companion to
    // B114's Mann-Whitney "is there a shift" (the U test's point
    // estimate, insensitive to the tails that wreck a mean
    // difference). Exact spelling: both samples collapse to the
    // DOLLAR value grain (the pairwise-difference multiset is then a
    // cross join of two bounded grains — ~330² cells, constant
    // across clones since clones repeat the price domain); each
    // difference d = a − b carries weight P(a)·V(b) (exact BIGINT);
    // HL = the LOWER weighted median — the smallest d whose
    // cumulative weight reaches (T+1)//2, T = n1·n2 — one
    // diff-grain-bounded prefix window, all exact integers, no
    // doubles anywhere. Scale shape: two map-side-combined value
    // grains, one bounded cross join, one bounded window.
    Q("hodges_lehmann",
      """WITH p AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS a,
        |    CAST(count(*) AS BIGINT) AS pa
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |v AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS vb
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |d AS (
        |  SELECT p.a - v.b AS d, CAST(sum(p.pa * v.vb) AS BIGINT) AS w
        |  FROM p, v GROUP BY 1),
        |t AS (SELECT CAST(sum(pa) AS BIGINT) AS n1 FROM p),
        |u AS (SELECT CAST(sum(vb) AS BIGINT) AS n2 FROM v),
        |cw AS (
        |  SELECT d, CAST(sum(w) OVER (ORDER BY d) AS BIGINT) AS cum
        |  FROM d),
        |hl AS (
        |  SELECT CAST(min(cw.d) AS BIGINT) AS hl_shift
        |  FROM cw, t, u WHERE cw.cum >= (t.n1 * u.n2 + 1) // 2)
        |SELECT t.n1, u.n2, CAST(t.n1 * u.n2 AS BIGINT) AS n_pairs,
        |  hl.hl_shift
        |FROM t, u, hl""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .groupBy(floor(col("value")).cast("long").as("a"))
        .agg(count(lit(1)).as("pa"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(floor(col("value")).cast("long").as("b"))
        .agg(count(lit(1)).as("vb"))
      val d = p.crossJoin(broadcast(v))
        .groupBy((col("a") - col("b")).as("d"))
        .agg(sum(col("pa") * col("vb")).as("w"))
      val t = p.agg(sum(col("pa")).as("n1"))
      val u = v.agg(sum(col("vb")).as("n2"))
      // diff-grain prefix window (bounded by the dollar-domain square)
      val cw = d.withColumn("cum", sum(col("w")).over(Window.orderBy(col("d"))))
      val hl = cw.crossJoin(broadcast(t)).crossJoin(broadcast(u))
        .filter(col("cum") >= expr("(n1 * n2 + 1) div 2"))
        .agg(min(col("d")).as("hl_shift"))
      broadcast(t).crossJoin(broadcast(u)).crossJoin(broadcast(hl))
        .select(col("n1"), col("n2"), (col("n1") * col("n2")).as("n_pairs"),
          col("hl_shift"))
    },

    // B140: LOG-RANK TEST (Mantel 1966; Peto & Peto 1972) comparing
    // signup→purchase conversion survival between the two user
    // parity cohorts (a deterministic A/B assignment hash) — the
    // survival-analysis significance test completing B90's
    // Kaplan-Meier-style curve (B90 DRAWS the curves; log-rank asks
    // whether they differ): censoring done right (users who never
    // convert are censored at the corpus horizon, not dropped — the
    // mistake that biases naive conversion comparisons). Exact
    // spelling: durations on the day grain; at each distinct death
    // day t the at-risk counts n_g(t) come from group-partitioned
    // prefix windows over the (group, day) end-count grain (ended
    // strictly before t are out; same-day deaths/censors still at
    // risk); E1_t = d_t·n1_t·10⁶ // n_t and the hypergeometric
    // V_t = d_t·n1_t·n2_t·(n_t−d_t)·10⁶ // (n_t²·(n_t−1)) are EXACT
    // integer floor divisions (numerators in DECIMAL(38,0)/HUGEINT),
    // so O1, E1, V accumulate as order-independent integers; χ² =
    // (O1·10⁶ − E1)² / (V·10⁶) — ONE double division, 6dp floor.
    // Scale shape: one keyed per-user min/max pass over events
    // (map-side combined), then everything on the calendar-bounded
    // day grain.
    Q("log_rank_conversion",
      """WITH ue AS (
        |  SELECT user_id,
        |    CAST(min(CASE WHEN event_type = 'signup'
        |      THEN floor(epoch(ts)) END) AS BIGINT) AS s_sec,
        |    CAST(max(floor(epoch(ts))) AS BIGINT) AS last_sec
        |  FROM events GROUP BY user_id),
        |tm AS (SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS t_max
        |       FROM events),
        |pu AS (
        |  SELECT e.user_id,
        |    CAST(min(floor(epoch(e.ts))) AS BIGINT) AS p_sec
        |  FROM events e JOIN ue ON e.user_id = ue.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND floor(epoch(e.ts)) >= ue.s_sec
        |  GROUP BY e.user_id),
        |durs AS (
        |  SELECT ue.user_id % 2 AS grp,
        |    CASE WHEN pu.p_sec IS NOT NULL
        |      THEN (pu.p_sec - ue.s_sec) // 86400
        |      ELSE (tm.t_max - ue.s_sec) // 86400 END AS day,
        |    CASE WHEN pu.p_sec IS NOT NULL THEN 1 ELSE 0 END AS died
        |  FROM ue LEFT JOIN pu ON ue.user_id = pu.user_id, tm
        |  WHERE ue.s_sec IS NOT NULL),
        |gd AS (
        |  SELECT grp, day, CAST(count(*) AS BIGINT) AS n_end,
        |    CAST(sum(died) AS BIGINT) AS n_died
        |  FROM durs GROUP BY 1, 2),
        |gtot AS (SELECT grp, CAST(sum(n_end) AS BIGINT) AS n_g
        |         FROM gd GROUP BY grp),
        |deathdays AS (
        |  SELECT day, CAST(sum(n_died) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN grp = 1 THEN n_died ELSE 0 END) AS BIGINT)
        |      AS d1
        |  FROM gd GROUP BY day HAVING sum(n_died) > 0),
        |eb AS (
        |  SELECT dd.day, g.grp, g.n_g,
        |    CAST(coalesce(sum(gd.n_end), 0) AS BIGINT) AS ended
        |  FROM deathdays dd CROSS JOIN gtot g
        |  LEFT JOIN gd ON gd.grp = g.grp AND gd.day < dd.day
        |  GROUP BY dd.day, g.grp, g.n_g),
        |atrisk AS (
        |  SELECT dd.day, dd.d, dd.d1,
        |    CAST(sum(CASE WHEN e.grp = 1 THEN e.n_g - e.ended ELSE 0 END)
        |      AS BIGINT) AS n1t,
        |    CAST(sum(e.n_g - e.ended) AS BIGINT) AS nt
        |  FROM deathdays dd JOIN eb e ON e.day = dd.day
        |  GROUP BY dd.day, dd.d, dd.d1),
        |terms AS (
        |  SELECT day, d, d1, n1t, nt,
        |    CAST(CAST(d AS HUGEINT) * n1t * 1000000 // nt AS BIGINT)
        |      AS e1_e6,
        |    CAST(CASE WHEN nt > 1 THEN
        |      CAST(d AS HUGEINT) * n1t * (nt - n1t) * (nt - d) * 1000000
        |        // (CAST(nt AS HUGEINT) * nt * (nt - 1))
        |      ELSE 0 END AS BIGINT) AS v_e6
        |  FROM atrisk),
        |agg AS (
        |  SELECT CAST(sum(d1) AS BIGINT) AS o1,
        |    CAST(sum(e1_e6) AS BIGINT) AS e1_e6,
        |    CAST(sum(v_e6) AS BIGINT) AS v_e6
        |  FROM terms),
        |gt AS (
        |  SELECT CAST(sum(CASE WHEN grp = 1 THEN n_g ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN grp = 0 THEN n_g ELSE 0 END) AS BIGINT) AS n0
        |  FROM gtot)
        |SELECT gt.n0, gt.n1, agg.o1,
        |  CAST(agg.e1_e6 AS DOUBLE) / 1000000 AS e1,
        |  CASE WHEN agg.v_e6 > 0 THEN
        |    floor(CAST(CAST(agg.o1 * 1000000 - agg.e1_e6 AS HUGEINT)
        |        * (agg.o1 * 1000000 - agg.e1_e6) AS DOUBLE)
        |      / CAST(CAST(agg.v_e6 AS HUGEINT) * 1000000 AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000
        |  END AS chi2_logrank
        |FROM gt, agg""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000000000").as("sec"))
        .localCheckpoint() // feeds the per-user pass, the purchase
                           // pass, and the horizon
      val ue = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("sec")))
          .as("s_sec"))
        .filter(col("s_sec").isNotNull)
      val tm = ev.agg(max(col("sec")).as("t_max"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(ue, Seq("user_id"))
        .filter(col("sec") >= col("s_sec"))
        .groupBy(col("user_id")).agg(min(col("sec")).as("p_sec"))
      val durs = ue.join(pu, Seq("user_id"), "left")
        .crossJoin(broadcast(tm))
        .select((col("user_id") % 2).as("grp"),
          when(col("p_sec").isNotNull,
            expr("(p_sec - s_sec) div 86400"))
            .otherwise(expr("(t_max - s_sec) div 86400")).as("day"),
          when(col("p_sec").isNotNull, lit(1L)).otherwise(lit(0L))
            .as("died"))
      val gd = durs.groupBy(col("grp"), col("day"))
        .agg(count(lit(1)).as("n_end"), sum(col("died")).as("n_died"))
        .localCheckpoint() // feeds totals and the risk window
      val gtot = gd.groupBy(col("grp")).agg(sum(col("n_end")).as("n_g"))
      val deathdays = gd.groupBy(col("day"))
        .agg(sum(col("n_died")).as("d"),
          sum(when(col("grp") === 1, col("n_died")).otherwise(lit(0L)))
            .as("d1"))
        .filter(col("d") > 0)
        .localCheckpoint() // feeds the ends-before join and the rollup
      // at-risk of EVERY group at every death day: ends-strictly-before
      // range join on the calendar-bounded day grain
      val eb = deathdays.select(col("day"))
        .crossJoin(broadcast(gtot))
        .join(gd.select(col("grp"), col("day").as("eday"),
          col("n_end")), Seq("grp"), "left")
        .groupBy(col("day"), col("grp"), col("n_g"))
        .agg(coalesce(sum(when(col("eday") < col("day"), col("n_end"))),
          lit(0L)).as("ended"))
      val atrisk = deathdays.join(eb, Seq("day"))
        .groupBy(col("day"), col("d"), col("d1"))
        .agg(sum(when(col("grp") === 1, col("n_g") - col("ended"))
          .otherwise(lit(0L))).as("n1t"),
          sum(col("n_g") - col("ended")).as("nt"))
      val terms = atrisk.select(col("d1"),
        expr("cast(cast(d as decimal(38,0)) * n1t * 1000000 div nt " +
          "as bigint)").as("e1_e6"),
        expr("cast(case when nt > 1 then cast(d as decimal(38,0)) * n1t " +
          "* (nt - n1t) * (nt - d) * 1000000 " +
          "div (cast(nt as decimal(38,0)) * nt * (nt - 1)) " +
          "else 0 end as bigint)").as("v_e6"))
      val agg = terms.agg(sum(col("d1")).as("o1"),
        sum(col("e1_e6")).as("e1_e6"), sum(col("v_e6")).as("v_e6"))
      val gt = gtot.agg(
        sum(when(col("grp") === 1, col("n_g")).otherwise(lit(0L))).as("n1"),
        sum(when(col("grp") === 0, col("n_g")).otherwise(lit(0L))).as("n0"))
      broadcast(gt).crossJoin(broadcast(agg))
        .select(col("n0"), col("n1"), col("o1"),
          (col("e1_e6").cast("double") / 1000000).as("e1"),
          when(col("v_e6") > 0,
            floor(((col("o1") * 1000000 - col("e1_e6"))
                .cast("decimal(38,0)")
              * (col("o1") * 1000000 - col("e1_e6"))).cast("double")
              / (col("v_e6").cast("decimal(38,0)") * 1000000).cast("double")
              * 1000000 + lit(0.5)) / 1000000).as("chi2_logrank"))
    })
}
