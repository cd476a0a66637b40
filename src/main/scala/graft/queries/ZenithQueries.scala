package graft.queries

import graft.GraftSession.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 statistics wave: the k-group parametric tests and the
  * dependence/concentration measures that close out the monitoring
  * family (ANOVA beside the two-sample t of B60; Brown-Forsythe
  * beside it as the variance-homogeneity gate ANOVA assumes;
  * mutual information beside the chi-square independence test B115;
  * Gini/Lorenz beside the revenue-Pareto concentration B70).
  *
  * Shared conventions (AnalyticsQueries/SummitQueries): exact
  * integer sufficient statistics (BIGINT, DECIMAL(38,0)/HUGEINT for
  * squares) down to ONE pinned double division, 6dp floor form
  * `floor(x*1e6 + 0.5)/1e6`; where a log is inherent (MI), each
  * term is quantized to an exact 1e-4 integer grid FIRST (the C34
  * entropy convention) so the cross-cell sum is order-independent
  * exact-integer arithmetic, immune to double summation order.
  * Dollars (floor(price)) rather than cents where group sums get
  * squared: S_g² must stay inside DECIMAL(38,0) and S_g²/n_g inside
  * BIGINT at the x1000 clone scale.
  */
object ZenithQueries {

  val all: Seq[Q] = Seq(

    // B131: ONE-WAY ANOVA F statistic (Fisher 1925) of order value
    // across the five order priorities — the k-group generalization
    // of B60's two-sample t. Exact spelling: per-group sufficient
    // stats (n_g, S_g = Σ dollars, Q_g = Σ dollars² in DECIMAL(38,0))
    // are map-side-combinable integer sums; the between-group sum of
    // squares uses the identity SSB = Σ_g S_g²//n_g − S²//N with the
    // quotients as exact INTEGER floor divisions (both engines
    // truncate identically on positive operands; the ≤1-unit floor
    // loss per group is deterministic and shared, and SSB in dollar²
    // units is astronomically larger than k units whenever F is
    // meaningful). SSW = Q − Σ_g S_g²//n_g. F = (SSB·(N−k)) /
    // (SSW·(k−1)) — exact integer products into ONE double division,
    // 6dp floor. Scale shape: one map-side-combined groupBy over
    // orders to a k-row relation; everything after is k-grain.
    // Clone note: clones repeat the price domain, so per-group means
    // are clone-invariant and F grows ~linearly with N (the
    // statistic's own behavior, not a plan artifact).
    Q("anova_oneway",
      """WITH g AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      * CAST(floor(o_totalprice) AS BIGINT) AS HUGEINT)) AS HUGEINT)
        |      AS q
        |  FROM orders GROUP BY 1),
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
        |  CAST(ssb AS DOUBLE) AS ssb_dollars2,
        |  CAST(ssw AS DOUBLE) AS ssw_dollars2,
        |  CASE WHEN ssw > 0 AND nn > k THEN
        |    floor(CAST(ssb * (nn - k) AS DOUBLE)
        |      / CAST(ssw * (k - 1) AS DOUBLE) * 1000000 + 0.5) / 1000000
        |  END AS f_stat
        |FROM f""".stripMargin) { (s, dir) =>
      val dollars = floor(col("o_totalprice")).cast("long")
      val g = table(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"), dollars.as("d"))
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n"), sum(col("d")).as("s"),
          sum((col("d") * col("d")).cast("decimal(38,0)")).as("q"))
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
          col("ssb").cast("double").as("ssb_dollars2"),
          col("ssw").cast("double").as("ssw_dollars2"),
          when(col("ssw") > 0 && col("nn") > col("k"),
            floor((col("ssb") * (col("nn") - col("k"))).cast("double")
              / (col("ssw") * (col("k") - 1)).cast("double")
              * 1000000 + lit(0.5)) / 1000000).as("f_stat"))
    },

    // B205: ANOVA EFFECT SIZES — η² and ω² (round 13; Hays 1963 /
    // Olejnik & Algina 2003) for B131's one-way ANOVA: the F
    // statistic says WHETHER priorities differ, these say HOW MUCH
    // of the variance the grouping explains (η² = SSB/SST, biased
    // up in small samples; ω² = (SSB − (k−1)·MSW)/(SST + MSW), the
    // unbiased estimate every methods section now asks for beside
    // the p-value — the B147/B148 effect-size discipline applied to
    // the F family). Exact: rides B131's integer sufficient-sum
    // algebra verbatim (SSB/SSW as exact DECIMAL(38,0)); each
    // effect size fully cross-multiplied to ONE double division —
    // ω² = (SSB·(n−k) − (k−1)·SSW)/(SST·(n−k) + SSW) — 6dp floors.
    // Scale shape: ONE map-side-combinable keyed agg; everything
    // after on the k-row relation.
    Q("anova_effect_size",
      """WITH g AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      * CAST(floor(o_totalprice) AS BIGINT) AS HUGEINT)) AS HUGEINT)
        |      AS q
        |  FROM orders GROUP BY 1),
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
        |  CASE WHEN ssb + ssw > 0 THEN
        |    floor(CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS eta2,
        |  CASE WHEN nn > k AND (ssb + ssw) * (nn - k) + ssw > 0 THEN
        |    floor(CAST(ssb * (nn - k) - (k - 1) * ssw AS DOUBLE)
        |      / CAST((ssb + ssw) * (nn - k) + ssw AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS omega2
        |FROM f""".stripMargin) { (s, dir) =>
      val dollars = floor(col("o_totalprice")).cast("long")
      val g = table(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"), dollars.as("d"))
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n"), sum(col("d")).as("s"),
          sum((col("d") * col("d")).cast("decimal(38,0)")).as("q"))
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
          when(col("ssb") + col("ssw") > 0,
            floor(col("ssb").cast("double")
              / (col("ssb") + col("ssw")).cast("double")
              * 1000000 + lit(0.5)) / 1000000).as("eta2"),
          when(col("nn") > col("k")
              && (col("ssb") + col("ssw")) * (col("nn") - col("k"))
                + col("ssw") > 0,
            floor((col("ssb") * (col("nn") - col("k"))
                - (col("k") - 1) * col("ssw")).cast("double")
              / ((col("ssb") + col("ssw")) * (col("nn") - col("k"))
                + col("ssw")).cast("double")
              * 1000000 + lit(0.5)) / 1000000).as("omega2"))
    },

    // B130: BROWN-FORSYTHE / LEVENE variance-homogeneity test
    // (Brown & Forsythe JASA 1974 — the robust median-centered
    // Levene) across the five order priorities: W = the one-way
    // ANOVA F computed on z = |x − median_g|. It is the gate ANOVA's
    // equal-variance assumption needs, and nothing in the test
    // family (t/U/KS/chi²/F) measures SPREAD homogeneity. Exact
    // spelling: the group median is the LOWER median on the dollar
    // grain (the smallest value whose cumulative count reaches
    // ⌈n_g/2⌉ — an exact integer convention both engines replay; the
    // value-grain window is the B114 prefix-sum identity: distinct
    // dollar values per group, clone-invariant by Heaps-like domain
    // repetition), z is an exact non-negative integer, and the F
    // algebra on (n, Σz, Σz²) is B131's — exact integers into one
    // double division, 6dp floor. Scale shape: one value-grain agg
    // (map-side combined), a k-partition window on the VALUE grain,
    // a broadcast 5-row median join back to orders, then the k-row
    // F. Two passes over orders, no row-grain shuffle sort.
    Q("levene_spread",
      """WITH d AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders),
        |vc AS (
        |  SELECT pri, v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1, 2),
        |cw AS (
        |  SELECT pri, v, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY pri ORDER BY v) AS BIGINT)
        |      AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY pri) AS BIGINT) AS n
        |  FROM vc),
        |med AS (
        |  SELECT pri, CAST(min(v) AS BIGINT) AS med
        |  FROM cw WHERE cum >= (n + 1) // 2 GROUP BY pri),
        |z AS (
        |  SELECT d.pri, abs(d.v - med.med) AS z
        |  FROM d JOIN med ON d.pri = med.pri),
        |g AS (
        |  SELECT pri, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(z) AS BIGINT) AS s,
        |    CAST(sum(CAST(z * z AS HUGEINT)) AS HUGEINT) AS q
        |  FROM z GROUP BY 1),
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
        |  END AS w_stat
        |FROM f""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"),
          floor(col("o_totalprice")).cast("long").as("v"))
      val vc = d.groupBy(col("pri"), col("v")).agg(count(lit(1)).as("cnt"))
      // value-grain window: distinct dollar values per priority —
      // bounded by the price domain, clone-invariant
      val wOrd = Window.partitionBy(col("pri")).orderBy(col("v"))
      val wAll = Window.partitionBy(col("pri"))
      val med = vc
        .select(col("pri"), col("v"), col("cnt"),
          sum(col("cnt")).over(wOrd).as("cum"),
          sum(col("cnt")).over(wAll).as("n"))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy(col("pri")).agg(min(col("v")).as("med"))
      val z = d.join(broadcast(med), Seq("pri"))
        .select(col("pri"), abs(col("v") - col("med")).as("z"))
      val g = z.groupBy(col("pri"))
        .agg(count(lit(1)).as("n"), sum(col("z")).as("s"),
          sum((col("z") * col("z")).cast("decimal(38,0)")).as("q"))
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
              * 1000000 + lit(0.5)) / 1000000).as("w_stat"))
    },

    // B132: GINI COEFFICIENT / Lorenz concentration (Gini 1912) of
    // per-customer revenue within each market segment — the standard
    // inequality measure beside B70's top-share Pareto cut. Exact
    // spelling: the sorted-rank formula G = (2Σᵢ i·xᵢ − (n+1)Σx) /
    // (n·Σx) is evaluated WITHOUT a row-grain sort via the
    // tie-invariant prefix-sum identity on the value grain (the
    // B114/C101 discipline): for a value v occurring cnt times with
    // cumBefore smaller values, its rank block contributes
    // 2Σi·v = v·cnt·(2·cumBefore + cnt + 1) — an exact integer.
    // Numerator and denominator stay in DECIMAL(38,0)/HUGEINT down
    // to ONE double division, 6dp floor. Scale shape: orders joined
    // to customer (broadcastable dimension at test SF; keyed shuffle
    // at cluster scale), one per-customer rollup, then a VALUE-GRAIN
    // window per segment (distinct revenue-cents values — clones
    // repeat customer revenues, so the grain is clone-invariant; in
    // a real corpus it is bounded by the price domain).
    Q("gini_segment",
      """WITH cust AS (
        |  SELECT c.c_mktsegment AS segment, o.o_custkey AS ck,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |vc AS (
        |  SELECT segment, cents, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cust GROUP BY 1, 2),
        |cw AS (
        |  SELECT segment, cents, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY segment ORDER BY cents)
        |      AS BIGINT) - cnt AS cb
        |  FROM vc),
        |g AS (
        |  SELECT segment,
        |    CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(cents * cnt) AS BIGINT) AS sx,
        |    CAST(sum(CAST(cents AS HUGEINT) * cnt * (2 * cb + cnt + 1))
        |      AS HUGEINT) AS two_six
        |  FROM cw GROUP BY 1)
        |SELECT segment, n AS n_customers, sx AS total_cents,
        |  CASE WHEN sx > 0 AND n > 0 THEN
        |    floor(CAST(two_six - (n + 1) * CAST(sx AS HUGEINT) AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * sx AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000
        |  END AS gini
        |FROM g""".stripMargin) { (s, dir) =>
      val cust = table(s, dir, "orders")
        .select(col("o_custkey").as("ck"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .join(table(s, dir, "customer")
          .select(col("c_custkey").as("ck"),
            col("c_mktsegment").as("segment")), Seq("ck"))
        .groupBy(col("segment"), col("ck"))
        .agg(sum(col("c")).as("cents"))
      val vc = cust.groupBy(col("segment"), col("cents"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("segment")).orderBy(col("cents"))
      val cw = vc.select(col("segment"), col("cents"), col("cnt"),
        (sum(col("cnt")).over(w) - col("cnt")).as("cb"))
      cw.groupBy(col("segment"))
        .agg(sum(col("cnt")).as("n"),
          sum(col("cents") * col("cnt")).as("sx"),
          sum((col("cents").cast("decimal(38,0)") * col("cnt")
            * (col("cb") * 2 + col("cnt") + 1)).cast("decimal(38,0)"))
            .as("two_six"))
        .select(col("segment"), col("n").as("n_customers"),
          col("sx").as("total_cents"),
          when(col("sx") > 0 && col("n") > 0,
            floor((col("two_six")
                - ((col("n") + 1).cast("decimal(38,0)") * col("sx")))
                .cast("double")
              / (col("n").cast("decimal(38,0)") * col("sx")).cast("double")
              * 1000000 + lit(0.5)) / 1000000).as("gini"))
    },

    // B206: THEIL T INEQUALITY INDEX (round 13; Theil 1967) of
    // per-customer revenue within each market segment — the
    // DECOMPOSABLE inequality measure beside B132's Gini (Gini ranks,
    // Theil is entropy-based and additively decomposes across
    // subgroups — the concentration number data-mixing reports pair
    // with HHI): T = (1/n)·Σ (x_i/μ)·ln(x_i/μ). Exact spelling: per
    // distinct cents value, ONE ln of the exact rational x·n/S
    // (products ≤ ~1e13 ≪ 2^53 so the double casts are exact — the
    // C58 ln convention), contribution micro-floored per VALUE then
    // multiplied by the value's count (clone-invariant value grain),
    // read-out one mirrored double division, 6dp. Scale shape: one
    // keyed (segment, customer) agg → value grain → k-row read-out.
    Q("theil_index",
      """WITH cust AS (
        |  SELECT c.c_mktsegment AS segment, o.o_custkey AS ck,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |vc AS (
        |  SELECT segment, cents, CAST(count(*) AS BIGINT) AS cnt
        |  FROM cust GROUP BY 1, 2),
        |g AS (SELECT segment, CAST(sum(cnt) AS BIGINT) AS n,
        |        CAST(sum(cents * cnt) AS BIGINT) AS sx
        |      FROM vc GROUP BY 1),
        |ct AS (
        |  SELECT v.segment,
        |    v.cnt * CAST(floor(
        |      CAST(v.cents * g.n AS DOUBLE) / CAST(g.sx AS DOUBLE)
        |      * ln(CAST(v.cents * g.n AS DOUBLE) / CAST(g.sx AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS contrib
        |  FROM vc v JOIN g ON v.segment = g.segment
        |  WHERE v.cents > 0 AND g.sx > 0)
        |SELECT g.segment, g.n AS n_customers, g.sx AS total_cents,
        |  floor(CAST(s.sc AS DOUBLE) / CAST(g.n AS DOUBLE) + 0.5)
        |    / 1000000 AS theil_t
        |FROM g JOIN (SELECT segment, CAST(sum(contrib) AS BIGINT) AS sc
        |             FROM ct GROUP BY 1) s ON g.segment = s.segment""".stripMargin) { (s, dir) =>
      val cust = table(s, dir, "orders")
        .select(col("o_custkey").as("ck"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .join(table(s, dir, "customer")
          .select(col("c_custkey").as("ck"),
            col("c_mktsegment").as("segment")), Seq("ck"))
        .groupBy(col("segment"), col("ck"))
        .agg(sum(col("c")).as("cents"))
      val vc = cust.groupBy(col("segment"), col("cents"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds the totals and the contrib pass
      val g = vc.groupBy(col("segment"))
        .agg(sum(col("cnt")).as("n"), sum(col("cents") * col("cnt")).as("sx"))
      val ct = vc.join(broadcast(g), Seq("segment"))
        .filter(col("cents") > 0 && col("sx") > 0)
        .select(col("segment"), (col("cnt") * expr(
          """CAST(floor(
            |  CAST(cents * n AS DOUBLE) / CAST(sx AS DOUBLE)
            |  * ln(CAST(cents * n AS DOUBLE) / CAST(sx AS DOUBLE))
            |  * 1000000.0) AS BIGINT)""".stripMargin)).as("contrib"))
        .groupBy(col("segment")).agg(sum(col("contrib")).as("sc"))
      broadcast(g).join(broadcast(ct), Seq("segment"))
        .select(col("segment"), col("n").as("n_customers"),
          col("sx").as("total_cents"),
          (floor(col("sc").cast("double") / col("n").cast("double")
            + lit(0.5)) / 1000000).as("theil_t"))
    },

    // B133: MUTUAL INFORMATION (in nats) between market segment and
    // nation over customers — the information-theoretic dependence
    // measure beside B115's chi-square (chi² asks IF the margins are
    // independent; MI measures HOW MANY bits the dependence carries,
    // the feature-selection ranking statistic). Log determinism: the
    // per-cell pointwise-MI ln((N·n_xy)/(n_x·n_y)) is ONE double
    // division of exact BIGINT products followed by one libm ln,
    // quantized to the exact 1e-4 integer grid (the C34 entropy
    // convention — the grid absorbs sub-ulp libm drift); each cell's
    // contribution n_xy·pmi_e4 is then an exact BIGINT, so the
    // cross-cell sum is ORDER-INDEPENDENT integer arithmetic — no
    // double summation-order noise at any grid size. MI = Σterm /
    // (N·10⁴), one double division, 6dp floor. Scale shape: one
    // map-side-combined groupBy over customer to a (segments ×
    // nations) model-sized grid; margins and the total are grid-side
    // broadcast joins.
    Q("mutual_information",
      """WITH cells AS (
        |  SELECT c_mktsegment AS segment,
        |    CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(count(*) AS BIGINT) AS n_xy
        |  FROM customer GROUP BY 1, 2),
        |mx AS (SELECT segment, CAST(sum(n_xy) AS BIGINT) AS n_x
        |       FROM cells GROUP BY 1),
        |my AS (SELECT nation, CAST(sum(n_xy) AS BIGINT) AS n_y
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS nn FROM cells),
        |p AS (
        |  SELECT segment, nation, n_xy, n_x, n_y, nn,
        |    CAST(floor(ln(CAST(nn * n_xy AS DOUBLE)
        |        / CAST(n_x * n_y AS DOUBLE)) * 10000 + 0.5) AS BIGINT)
        |      AS pmi_e4
        |  FROM cells JOIN mx USING (segment) JOIN my USING (nation),
        |    tot),
        |mi AS (
        |  SELECT floor(CAST(sum(n_xy * pmi_e4) AS DOUBLE)
        |    / CAST(max(nn) * 10000 AS DOUBLE) * 1000000 + 0.5) / 1000000
        |    AS mi_nats
        |  FROM p)
        |SELECT segment, nation, n_xy,
        |  CAST(pmi_e4 AS DOUBLE) / 10000 AS pmi, mi_nats
        |FROM p, mi""".stripMargin) { (s, dir) =>
      val cells = table(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("segment"),
          col("c_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("n_xy"))
        .localCheckpoint() // grid feeds margins, total, and the join
      val mx = cells.groupBy(col("segment")).agg(sum(col("n_xy")).as("n_x"))
      val my = cells.groupBy(col("nation")).agg(sum(col("n_xy")).as("n_y"))
      val tot = cells.agg(sum(col("n_xy")).as("nn"))
      val p = cells
        .join(broadcast(mx), Seq("segment"))
        .join(broadcast(my), Seq("nation"))
        .crossJoin(broadcast(tot))
        .select(col("segment"), col("nation"), col("n_xy"),
          floor(log((col("nn") * col("n_xy")).cast("double")
              / (col("n_x") * col("n_y")).cast("double"))
            * 10000 + lit(0.5)).cast("long").as("pmi_e4"),
          col("nn"))
        .localCheckpoint() // cells feed the MI rollup and the output
      val mi = p.agg(
        (floor(sum(col("n_xy") * col("pmi_e4")).cast("double")
          / (max(col("nn")) * 10000).cast("double")
          * 1000000 + lit(0.5)) / 1000000).as("mi_nats"))
      p.crossJoin(broadcast(mi))
        .select(col("segment"), col("nation"), col("n_xy"),
          (col("pmi_e4").cast("double") / 10000).as("pmi"),
          col("mi_nats"))
    },

    // B136: HOLT-WINTERS additive triple exponential smoothing
    // (Winters 1960; Holt 1957) with weekly seasonality over the
    // zero-filled global daily revenue grid — completing the
    // forecasting family: B48 EWMA smooths level, B109 Holt adds
    // trend, B111 decomposition ASSUMES the season and B124 ACF
    // MEASURES it; Holt-Winters forecasts with all three. α=1/2,
    // β=γ=1/4 (exact binary fractions). Determinism: daily values
    // are exact integer cent sums on the B45 calendar grid (missing
    // days = exact 0); the level seed is ONE division of an exact
    // 7-day integer sum; the recursion is a coupled fold whose IEEE
    // ops run in pinned order — Spark folds a sort_array'd series
    // with `aggregate`, DuckDB a RECURSIVE CTE carrying (l, b) as
    // scalars and the 7-slot seasonal vector as a LIST column (the
    // B128 state-vector precedent; struct accumulators are the
    // documented DuckDB fold bug, scalars+list are safe); round 6dp
    // at the end, the B109 convention. The seasonal list is kept
    // with HEAD = next step's season: each step consumes s[1] and
    // appends the re-estimated season at the tail, so horizon-h
    // forecasts read s[h] directly. Scale shape: one keyed day agg
    // over events (map-side combined); the grid, the 30-element
    // series and the fold are CALENDAR-sized — constant across any
    // corpus scale (the day-grain class).
    Q("holt_winters", {
      val l0 = "CAST(vs[1]+vs[2]+vs[3]+vs[4]+vs[5]+vs[6]+vs[7] AS DOUBLE)/7.0"
      val v = "CAST(h.vs[CAST(r.i + 1 AS INT)] AS DOUBLE)"
      val lN = s"0.5*($v - r.s[1]) + 0.5*(r.l + r.b)"
      s"""WITH RECURSIVE e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |d AS (SELECT day, CAST(sum(c) AS BIGINT) AS v FROM e GROUP BY day),
        |sp AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
        |grid AS (SELECT unnest(range(mn, mx + 1)) AS day FROM sp),
        |z AS (
        |  SELECT grid.day, coalesce(d.v, 0) AS v
        |  FROM grid LEFT JOIN d USING (day)),
        |hw AS (SELECT list(v ORDER BY day) AS vs,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM z),
        |rec AS (
        |  SELECT CAST(7 AS BIGINT) AS i, $l0 AS l, CAST(0.0 AS DOUBLE) AS b,
        |    list_transform(range(7),
        |      j -> CAST(vs[CAST(j + 1 AS INT)] AS DOUBLE) - ($l0)) AS s
        |  FROM hw
        |  UNION ALL
        |  SELECT r.i + 1, $lN,
        |    0.25*(($lN) - r.l) + 0.75*r.b,
        |    list_append(r.s[2:], 0.25*($v - ($lN)) + 0.75*r.s[1])
        |  FROM rec r, hw h WHERE r.i < h.n),
        |fin AS (SELECT r.l, r.b, r.s, h.n FROM rec r, hw h WHERE r.i = h.n)
        |SELECT CAST(hz AS BIGINT) AS h, n AS n_days,
        |  round(l, 6) AS level, round(b, 6) AS trend,
        |  round(s[CAST(hz AS INT)], 6) AS seasonal,
        |  round(l + hz * b + s[CAST(hz AS INT)], 6) AS forecast
        |FROM fin, unnest(range(1, 8)) AS u(hz)""".stripMargin
    }) { (s, dir) =>
      val daily = table(s, dir, "events")
        .select(expr("ts div 1000000000 div 86400").as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("v"))
      val grid = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"))).as("day"))
      // calendar-sized from here on: one row carrying the series
      val series = grid.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("v"), lit(0L)).as("v"))
        .agg(transform(
          sort_array(collect_list(struct(col("day"), col("v")))),
          dv => dv.getField("v")).as("vs"))
        .select(col("vs"), size(col("vs")).cast("long").as("n"))
      val folded = series.select(col("n"),
        aggregate(
          expr("slice(vs, 8, greatest(cast(size(vs) as int) - 7, 0))"),
          struct(
            (expr("aggregate(slice(vs, 1, 7), 0L, (a, x) -> a + x)")
              .cast("double") / 7.0).as("l"),
            lit(0.0).as("b"),
            transform(expr("slice(vs, 1, 7)"), x => x.cast("double")
              - expr("aggregate(slice(vs, 1, 7), 0L, (a, x) -> a + x)")
                .cast("double") / 7.0).as("s")),
          (acc, vL) => {
            val v = vL.cast("double")
            val sHead = element_at(acc.getField("s"), 1)
            val lN = lit(0.5) * (v - sHead) +
              lit(0.5) * (acc.getField("l") + acc.getField("b"))
            struct(lN.as("l"),
              (lit(0.25) * (lN - acc.getField("l"))
                + lit(0.75) * acc.getField("b")).as("b"),
              concat(slice(acc.getField("s"), 2, 6),
                array(lit(0.25) * (v - lN) + lit(0.75) * sHead)).as("s"))
          }).as("st"))
      folded.select(col("n"), col("st"),
          explode(sequence(lit(1L), lit(7L))).as("h"))
        .select(col("h"), col("n").as("n_days"),
          round(col("st.l"), 6).as("level"),
          round(col("st.b"), 6).as("trend"),
          round(element_at(col("st.s"), col("h").cast("int")), 6)
            .as("seasonal"),
          round(col("st.l") + col("h") * col("st.b")
            + element_at(col("st.s"), col("h").cast("int")), 6)
            .as("forecast"))
    },

    // B179: FORECAST-ACCURACY TABLE — Theil's U₁ (Theil 1966, the
    // bounded [0,1] inequality form: no division by per-step values,
    // so the zero-filled grid is safe) and MASE (Hyndman & Koehler,
    // IJF 2006) for the NAIVE forecaster (ŷ_t = y_{t−1}) scaled by
    // the SEASONAL-naive MAE (m = 7 — the B136 weekly season),
    // evaluated on the common window day ≥ d₀+7 so both scales see
    // identical rows. The missing judge of the forecasting family:
    // B48/B109/B136 PRODUCE forecasts; this row says whether a
    // forecaster beats the no-skill baselines. Exactness: daily
    // cents are exact integers on the zero-filled grid; MAE/SSE sums
    // are BIGINT/DECIMAL(38,0); MASE is ONE exact-integer division;
    // U₁ = √SSE/(√Σy² + √Σŷ²) — IEEE sqrts of exact integers
    // (unnormalized sums: the /n cancels), one division tree, 6dp
    // floors. Scale shape: one keyed day agg (map-side combined);
    // grid + lags are calendar-bounded (the day-grain class).
    Q("theil_u_forecast",
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |d AS (SELECT day, CAST(sum(c) AS BIGINT) AS v FROM e GROUP BY day),
        |sp AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
        |grid AS (SELECT unnest(range(mn, mx + 1)) AS day FROM sp),
        |z AS (SELECT grid.day, CAST(coalesce(d.v, 0) AS BIGINT) AS v
        |      FROM grid LEFT JOIN d USING (day)),
        |l AS (
        |  SELECT day, v,
        |    lag(v, 1) OVER (ORDER BY day) AS p1,
        |    lag(v, 7) OVER (ORDER BY day) AS p7
        |  FROM z),
        |ev AS (SELECT * FROM l WHERE p7 IS NOT NULL),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(abs(v - p1)) AS BIGINT) AS sae1,
        |    CAST(sum(abs(v - p7)) AS BIGINT) AS sae7,
        |    sum(CAST(v - p1 AS HUGEINT) * (v - p1)) AS sse1,
        |    sum(CAST(v AS HUGEINT) * v) AS ssy,
        |    sum(CAST(p1 AS HUGEINT) * p1) AS ssp
        |  FROM ev)
        |SELECT n AS n_eval,
        |  CASE WHEN n > 0 THEN
        |    floor(CAST(sae1 AS DOUBLE) / n * 1000000 + 0.5) / 1000000
        |  END AS mae_naive,
        |  CASE WHEN n > 0 THEN
        |    floor(CAST(sae7 AS DOUBLE) / n * 1000000 + 0.5) / 1000000
        |  END AS mae_snaive,
        |  CASE WHEN sae7 > 0 THEN
        |    floor(CAST(sae1 AS DOUBLE) / CAST(sae7 AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS mase,
        |  CASE WHEN sqrt(CAST(ssy AS DOUBLE)) + sqrt(CAST(ssp AS DOUBLE))
        |      > 0 THEN
        |    floor(sqrt(CAST(sse1 AS DOUBLE))
        |      / (sqrt(CAST(ssy AS DOUBLE)) + sqrt(CAST(ssp AS DOUBLE)))
        |      * 1000000 + 0.5) / 1000000 END AS theil_u1
        |FROM s""".stripMargin) { (s, dir) =>
      val daily = table(s, dir, "events")
        .select(expr("ts div 1000000000 div 86400").as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("v"))
      val grid = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"))).as("day"))
      val z = grid.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("v"), lit(0L)).as("v"))
      val wDay = Window.orderBy(col("day"))
      val ev = z.select(col("day"), col("v"),
          lag(col("v"), 1).over(wDay).as("p1"),
          lag(col("v"), 7).over(wDay).as("p7"))
        .filter(col("p7").isNotNull)
      val st = ev.agg(count(lit(1)).as("n"),
        sum(abs(col("v") - col("p1"))).as("sae1"),
        sum(abs(col("v") - col("p7"))).as("sae7"),
        sum((col("v") - col("p1")).cast("decimal(38,0)")
          * (col("v") - col("p1"))).as("sse1"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("ssy"),
        sum(col("p1").cast("decimal(38,0)") * col("p1")).as("ssp"))
      val u1den = sqrt(col("ssy").cast("double")) + sqrt(col("ssp").cast("double"))
      st.select(col("n").as("n_eval"),
        when(col("n") > 0,
          floor(col("sae1").cast("double") / col("n") * 1000000 + lit(0.5))
            / 1000000).as("mae_naive"),
        when(col("n") > 0,
          floor(col("sae7").cast("double") / col("n") * 1000000 + lit(0.5))
            / 1000000).as("mae_snaive"),
        when(col("sae7") > 0,
          floor(col("sae1").cast("double") / col("sae7").cast("double")
            * 1000000 + lit(0.5)) / 1000000).as("mase"),
        when(u1den > 0,
          floor(sqrt(col("sse1").cast("double")) / u1den
            * 1000000 + lit(0.5)) / 1000000).as("theil_u1"))
    },

    // B185: SES ALPHA SWEEP — grid model selection for simple
    // exponential smoothing (the missing step between B48's
    // fixed-alpha EWMA and B136's fixed-alpha Holt-Winters: which
    // alpha actually fits THIS series?): eight alpha = a/16,
    // a in {1,2,4,6,8,10,12,14}, each running a one-step-ahead SES
    // fold over the zero-filled daily cents grid (level seeded on
    // day 1, errors scored from day 2), reporting SSE + MAE with the
    // arg-min flagged. EXACT spelling — the INTEGER-QUANTIZED SES
    // recursion l' = ((16-a)*l + a*v) div 16 (floor; level error vs
    // real SES bounded by 1 cent/step, irrelevant to ranking alphas
    // and worth the determinism: a raw double fold diverged by 1 ULP
    // cross-engine at sf0.1, where ULP(SSE~4e12) > the 6dp grid):
    // e = v - l exact BIGINT, SSE = sum e^2 in DECIMAL(38,0)/HUGEINT
    // (~2.4e23 at the x1000 clone scale - inside 38 digits,
    // ANSI-loud past), MAE one exact division 6dp, arg-min decided
    // on exact integers. Scale shape: one keyed day agg; 8
    // calendar-sized folds.
    Q("ewma_alpha_sweep", {
      val v = "h.vs[CAST(r.i + 1 AS INT)]"
      s"""WITH RECURSIVE e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |d AS (SELECT day, CAST(sum(c) AS BIGINT) AS v FROM e GROUP BY day),
        |sp AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
        |grid AS (SELECT unnest(range(mn, mx + 1)) AS day FROM sp),
        |z AS (SELECT grid.day, CAST(coalesce(d.v, 0) AS BIGINT) AS v
        |      FROM grid LEFT JOIN d USING (day)),
        |hw AS (SELECT list(v ORDER BY day) AS vs,
        |         CAST(count(*) AS BIGINT) AS n FROM z),
        |al AS (SELECT unnest([1, 2, 4, 6, 8, 10, 12, 14]) AS a16),
        |rec AS (
        |  SELECT al.a16, CAST(1 AS BIGINT) AS i,
        |    CAST(h.vs[1] AS BIGINT) AS l,
        |    CAST(0 AS HUGEINT) AS sse, CAST(0 AS BIGINT) AS sae
        |  FROM al, hw h
        |  UNION ALL
        |  SELECT r.a16, r.i + 1,
        |    CAST(((16 - r.a16) * r.l + r.a16 * $v) // 16 AS BIGINT),
        |    r.sse + CAST($v - r.l AS HUGEINT) * ($v - r.l),
        |    r.sae + abs($v - r.l)
        |  FROM rec r, hw h WHERE r.i < h.n),
        |fin AS (SELECT r.* FROM rec r, hw h WHERE r.i = h.n),
        |rk AS (
        |  SELECT a16, sse, sae,
        |    row_number() OVER (ORDER BY sse, a16) AS rnk
        |  FROM fin)
        |SELECT a16 / 16.0 AS alpha, h.n AS n_days,
        |  CAST(sse AS DOUBLE) AS sse,
        |  CASE WHEN h.n > 1 THEN
        |    floor(CAST(sae AS DOUBLE) / (h.n - 1) * 1000000 + 0.5)
        |      / 1000000 END AS mae,
        |  CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS INT) AS best
        |FROM rk, hw h""".stripMargin
    }) { (s, dir) =>
      val daily = table(s, dir, "events")
        .select(expr("ts div 1000000000 div 86400").as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("v"))
      val grid = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"))).as("day"))
      val series = grid.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("v"), lit(0L)).as("v"))
        .agg(transform(
          sort_array(collect_list(struct(col("day"), col("v")))),
          dv => dv.getField("v")).as("vs"))
        .select(col("vs"), size(col("vs")).cast("long").as("n"))
      val alphas = Seq(1, 2, 4, 6, 8, 10, 12, 14)
      val swept = series.select(col("vs"), col("n"),
          explode(array(alphas.map(a => lit(a)): _*)).as("a16"))
        .select(col("a16"), col("n"),
          aggregate(
            expr("slice(vs, 2, greatest(cast(size(vs) as int) - 1, 0))"),
            struct(element_at(col("vs"), 1).as("l"),
              lit(BigDecimal(0)).cast("decimal(38,0)").as("sse"),
              lit(0L).as("sae")),
            (acc, v) => {
              val e = v - acc.getField("l")
              struct(
                // floor-div by 16 as a shift (all terms non-negative)
                shiftright((lit(16L) - col("a16")) * acc.getField("l")
                  + col("a16") * v, 4).as("l"),
                (acc.getField("sse") + e.cast("decimal(38,0)") * e)
                  .cast("decimal(38,0)").as("sse"),
                (acc.getField("sae") + abs(e)).as("sae"))
            }).as("st"))
      val rk = swept.withColumn("rnk",
        row_number().over(Window.orderBy(col("st.sse"), col("a16"))))
      rk.select((col("a16") / 16.0).as("alpha"), col("n").as("n_days"),
        col("st.sse").cast("double").as("sse"),
        when(col("n") > 1,
          floor(col("st.sae").cast("double") / (col("n") - 1)
            * 1000000 + lit(0.5)) / 1000000).as("mae"),
        when(col("rnk") === 1, 1).otherwise(0).cast("int").as("best"))
    },

    // B181: CROSTON'S METHOD (Croston, OR Quarterly 1972) — the
    // INTERMITTENT-demand forecaster the smoothing family lacks:
    // B48/B109/B136 all treat zero days as demand of zero, which
    // systematically biases sparse series toward zero; Croston
    // smooths demand SIZE z and demand INTERVAL p as separate
    // exponential folds updated only on demand days, forecasting
    // z/p per day. Run on the PURCHASE daily-cents grid (the sparse
    // series of this corpus). α = 1/4 exact binary; intervals are
    // exact integers (gap+1, first interval = days from grid start
    // to first demand, inclusive — pinned); the coupled fold runs in
    // pinned order (Spark `aggregate` over the sorted series vs
    // DuckDB recursive CTE — the B136 machinery); round 6dp at the
    // end, forecast = z/p ONE division 6dp floor. Scale shape: one
    // keyed day agg (map-side combined); the fold is calendar-sized.
    Q("croston_intermittent", {
      val v = "CAST(h.vs[CAST(r.i + 1 AS INT)] AS DOUBLE)"
      val vPos = s"h.vs[CAST(r.i + 1 AS INT)] > 0"
      s"""WITH RECURSIVE e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |d AS (SELECT day, CAST(sum(c) AS BIGINT) AS v FROM e GROUP BY day),
        |sp AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
        |grid AS (SELECT unnest(range(mn, mx + 1)) AS day FROM sp),
        |z AS (SELECT grid.day, CAST(coalesce(d.v, 0) AS BIGINT) AS v
        |      FROM grid LEFT JOIN d USING (day)),
        |hw AS (SELECT list(v ORDER BY day) AS vs,
        |         CAST(count(*) AS BIGINT) AS n FROM z),
        |rec AS (
        |  SELECT CAST(0 AS BIGINT) AS i, CAST(0.0 AS DOUBLE) AS z,
        |    CAST(0.0 AS DOUBLE) AS p, CAST(0 AS BIGINT) AS gap,
        |    CAST(0 AS BIGINT) AS started, CAST(0 AS BIGINT) AS ndem
        |  FROM hw
        |  UNION ALL
        |  SELECT r.i + 1,
        |    CASE WHEN $vPos THEN
        |      CASE WHEN r.started = 0 THEN $v
        |           ELSE r.z + 0.25 * ($v - r.z) END
        |      ELSE r.z END,
        |    CASE WHEN $vPos THEN
        |      CASE WHEN r.started = 0 THEN CAST(r.gap + 1 AS DOUBLE)
        |           ELSE r.p + 0.25 * (CAST(r.gap + 1 AS DOUBLE) - r.p) END
        |      ELSE r.p END,
        |    CASE WHEN $vPos THEN 0 ELSE r.gap + 1 END,
        |    CASE WHEN $vPos THEN 1 ELSE r.started END,
        |    r.ndem + CASE WHEN $vPos THEN 1 ELSE 0 END
        |  FROM rec r, hw h WHERE r.i < h.n),
        |fin AS (SELECT r.* FROM rec r, hw h WHERE r.i = h.n)
        |SELECT h.n AS n_days, f.ndem AS n_demand_days,
        |  CASE WHEN f.started = 1 THEN round(f.z, 6) END AS level,
        |  CASE WHEN f.started = 1 THEN round(f.p, 6) END AS interval,
        |  CASE WHEN f.started = 1 AND f.p > 0 THEN
        |    floor(f.z / f.p * 1000000 + 0.5) / 1000000 END AS forecast
        |FROM fin f, hw h""".stripMargin
    }) { (s, dir) =>
      val daily = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(expr("ts div 1000000000 div 86400").as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("v"))
      val grid = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"))).as("day"))
      val series = grid.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("v"), lit(0L)).as("v"))
        .agg(transform(
          sort_array(collect_list(struct(col("day"), col("v")))),
          dv => dv.getField("v")).as("vs"))
        .select(col("vs"), size(col("vs")).cast("long").as("n"))
      val folded = series.select(col("n"),
        aggregate(col("vs"),
          struct(lit(0.0).as("z"), lit(0.0).as("p"),
            lit(0L).as("gap"), lit(0L).as("started"), lit(0L).as("ndem")),
          (acc, vL) => {
            val v = vL.cast("double")
            val pos = vL > 0
            val interval = (acc.getField("gap") + 1).cast("double")
            struct(
              when(pos, when(acc.getField("started") === 0, v)
                .otherwise(acc.getField("z")
                  + lit(0.25) * (v - acc.getField("z"))))
                .otherwise(acc.getField("z")).as("z"),
              when(pos, when(acc.getField("started") === 0, interval)
                .otherwise(acc.getField("p")
                  + lit(0.25) * (interval - acc.getField("p"))))
                .otherwise(acc.getField("p")).as("p"),
              when(pos, lit(0L)).otherwise(acc.getField("gap") + 1)
                .as("gap"),
              when(pos, lit(1L)).otherwise(acc.getField("started"))
                .as("started"),
              (acc.getField("ndem") + when(pos, 1L).otherwise(0L))
                .as("ndem"))
          }).as("st"))
      folded.select(col("n").as("n_days"),
        col("st.ndem").as("n_demand_days"),
        when(col("st.started") === 1, round(col("st.z"), 6)).as("level"),
        when(col("st.started") === 1, round(col("st.p"), 6)).as("interval"),
        when(col("st.started") === 1 && col("st.p") > 0,
          floor(col("st.z") / col("st.p") * 1000000 + lit(0.5)) / 1000000)
          .as("forecast"))
    },

    // B182: TRACKING SIGNAL (Trigg, OR Quarterly 1964 — the
    // cumulative-error/MAE form every demand-planning dashboard
    // runs): per event type, TS = Σe / (Σ|e|/n) for the naive
    // one-step forecast over the type's zero-filled daily grid — a
    // forecaster can have fine MAE while drifting systematically
    // one-sided, which is exactly what B179 cannot see and TS exists
    // to catch. Exactness: e_t = v_t − v_{t−1} exact integer cents;
    // TS = n·Σe/Σ|e| in DECIMAL(38,0)/HUGEINT cross products into
    // ONE division, 6dp floor; the |TS| ≥ 4 bias flag is decided on
    // EXACT integers (|n·Σe| ≥ 4·Σ|e|), immune to the floor. Scale
    // shape: one (type, day) keyed agg; grid + lag windows are
    // types×calendar-bounded.
    Q("tracking_signal",
      """WITH e AS (
        |  SELECT event_type AS ty,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |d AS (SELECT ty, day, CAST(sum(c) AS BIGINT) AS v
        |      FROM e GROUP BY 1, 2),
        |sp AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
        |tys AS (SELECT DISTINCT ty FROM d),
        |grid AS (
        |  SELECT t.ty, g.day
        |  FROM tys t CROSS JOIN
        |    (SELECT unnest(range(mn, mx + 1)) AS day FROM sp) g),
        |z AS (
        |  SELECT grid.ty, grid.day, CAST(coalesce(d.v, 0) AS BIGINT) AS v
        |  FROM grid LEFT JOIN d ON d.ty = grid.ty AND d.day = grid.day),
        |l AS (
        |  SELECT ty, day, v,
        |    lag(v) OVER (PARTITION BY ty ORDER BY day) AS p
        |  FROM z),
        |s AS (
        |  SELECT ty, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v - p) AS BIGINT) AS se,
        |    CAST(sum(abs(v - p)) AS BIGINT) AS sae
        |  FROM l WHERE p IS NOT NULL GROUP BY ty)
        |SELECT ty AS event_type, n AS n_eval, se AS sum_err,
        |  sae AS sum_abs_err,
        |  CASE WHEN sae > 0 THEN
        |    floor(CAST(CAST(n AS HUGEINT) * se AS DOUBLE)
        |      / CAST(sae AS DOUBLE) * 1000000 + 0.5) / 1000000
        |  END AS tracking_signal,
        |  CAST(CASE WHEN sae > 0 AND abs(CAST(n AS HUGEINT) * se)
        |    >= 4 * CAST(sae AS HUGEINT) THEN 1 ELSE 0 END AS INT)
        |    AS biased
        |FROM s""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "events")
        .select(col("event_type").as("ty"),
          expr("ts div 1000000000 div 86400").as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("ty"), col("day")).agg(sum(col("c")).as("v"))
        .localCheckpoint() // feeds the span, the type list, the grid
      val sp = d.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val grid = d.select(col("ty")).distinct()
        .crossJoin(broadcast(sp))
        .select(col("ty"), explode(sequence(col("mn"), col("mx"))).as("day"))
      val z = grid.join(d, Seq("ty", "day"), "left")
        .select(col("ty"), col("day"), coalesce(col("v"), lit(0L)).as("v"))
      val l = z.select(col("ty"), col("v"),
          lag(col("v"), 1).over(
            Window.partitionBy(col("ty")).orderBy(col("day"))).as("p"))
        .filter(col("p").isNotNull)
      val st = l.groupBy(col("ty"))
        .agg(count(lit(1)).as("n"), sum(col("v") - col("p")).as("se"),
          sum(abs(col("v") - col("p"))).as("sae"))
      st.select(col("ty").as("event_type"), col("n").as("n_eval"),
        col("se").as("sum_err"), col("sae").as("sum_abs_err"),
        when(col("sae") > 0,
          floor((col("n").cast("decimal(38,0)") * col("se")).cast("double")
            / col("sae").cast("double") * 1000000 + lit(0.5)) / 1000000)
          .as("tracking_signal"),
        when(col("sae") > 0 &&
          abs(col("n").cast("decimal(38,0)") * col("se"))
            >= col("sae").cast("decimal(38,0)") * 4, 1)
          .otherwise(0).cast("int").as("biased"))
    },

    // C115: SCENE-CUT DETECTION over the sampled frame stream — the
    // shot-boundary pass of any video-curation pipeline (threshold on
    // the inter-frame feature distance; Rasheed & Shah ICIP 2003's
    // color-histogram L1 shape on C20's deterministic frame kernel).
    // The frame features are exact multiples of 2⁻¹⁶ (the
    // mm_frame_sample contract), so the 8-dim L1 distance is EXACT
    // dyadic-rational double arithmetic — order-independent, no
    // rounding grid needed anywhere. A transition is a cut when
    // dist > 9.0 (≈ the distance distribution's upper decile — cuts are
    // populated on the synthetic corpus, pinned by spec). Scale
    // shape: the frame explode is the C20 batched iterator transform
    // (constant memory, map-only); the lag window partitions per doc
    // (frames/doc bounded by payload bytes / 128).
    Q("mm_scene_cuts", {
      s"""WITH ${MediaOracle.frameFeatureCtes(step = 2)},
        |fd AS (
        |  SELECT doc_id, f,
        |    lag(f) OVER (PARTITION BY doc_id ORDER BY f) AS pf,
        |    lag(feats) OVER (PARTITION BY doc_id ORDER BY f) AS pfeats,
        |    feats
        |  FROM ft),
        |dist AS (
        |  SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |    CAST(pf AS INT) AS prev_idx,
        |    list_reduce(list_prepend(0.0, list_transform(range(8),
        |      j -> abs(feats[CAST(j + 1 AS INT)]
        |             - pfeats[CAST(j + 1 AS INT)]))),
        |      (a, x) -> a + x) AS dist
        |  FROM fd WHERE pf IS NOT NULL)
        |SELECT doc_id AS id, frame_idx, prev_idx, dist,
        |  CAST(CASE WHEN dist > 9.0 THEN 1 ELSE 0 END AS INT) AS is_cut
        |FROM dist""".stripMargin
    }) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val frames = graft.operators.Multimodal.sampleFrames(s,
        graft.operators.Multimodal.asMedia(docs, "text")
          .select(col("doc_id"), col("media")),
        "doc_id", frameBytes = 64, everyN = 2)
      val w = Window.partitionBy(col("id")).orderBy(col("frame_idx"))
      frames
        .select(col("id"), col("frame_idx"),
          lag(col("frame_idx"), 1).over(w).as("prev_idx"),
          lag(col("features"), 1).over(w).as("pfeats"),
          col("features"))
        .filter(col("prev_idx").isNotNull)
        .select(col("id"), col("frame_idx"), col("prev_idx"),
          aggregate(
            zip_with(col("features"), col("pfeats"), (a, b) => abs(a - b)),
            lit(0.0), (acc, x) => acc + x).as("dist"))
        .select(col("id"), col("frame_idx"), col("prev_idx"), col("dist"),
          when(col("dist") > 9.0, lit(1)).otherwise(lit(0)).cast("int")
            .as("is_cut"))
    })
}
