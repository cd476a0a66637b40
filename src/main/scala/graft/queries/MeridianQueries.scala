package graft.queries

import graft.GraftSession.table
import graft.operators.DistributedPrefixSum
import org.apache.spark.sql.functions._

/** Round-12 statistics wave: the distribution-shape and
  * randomness/changepoint tests that close out the monitoring
  * family's remaining corners — normality (Jarque-Bera beside the
  * rank tests that ASSUME nothing), raw-series randomness (von
  * Neumann beside B163's residual Durbin-Watson), nonparametric
  * changepoint (Pettitt beside B122's least-squares changepoint),
  * and the full-CDF two-sample test (Kuiper beside B120's KS —
  * equally sensitive in both tails).
  *
  * Shared conventions (AnalyticsQueries/ZenithQueries): exact
  * integer sufficient statistics (BIGINT, DECIMAL(38,0)/HUGEINT for
  * products — ALWAYS widened before multiplying) into pinned IEEE
  * expression trees with 6dp floors `floor(x*1e6 + 0.5)/1e6`; day =
  * epoch div 86400 on the B45 zero-filled calendar grid; daily
  * DOLLARS (cents div 100) where 4th powers must stay inside
  * DECIMAL(38,0) at the ×1000 clone scale (dev⁴ at 1e8-dollar days
  * is 1e32·2400 ≈ 2.4e35 — cents would overflow at 1e40).
  */
object MeridianQueries {

  // Shared DuckDB CTE: zero-filled daily order revenue in DOLLARS.
  private val dailyDollarsSql =
    """o AS (
      |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
      |grid AS (
      |  SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
      |  FROM bounds),
      |x AS (
      |  SELECT g.day, CAST(coalesce(o.cents, 0) // 100 AS BIGINT) AS v
      |  FROM grid g LEFT JOIN o ON g.day = o.day)""".stripMargin

  /** Spark side of the shared zero-filled daily-dollars grid. */
  private def dailyDollars(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val o = table(s, dir, "orders")
      .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
    o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(o, Seq("day"), "left")
      .select(col("day"),
        expr("coalesce(cents, 0L) div 100").as("v"))
  }

  val all: Seq[Q] = Seq(

    // B190: JARQUE-BERA NORMALITY TEST (Jarque & Bera 1980/1987) of
    // the zero-filled daily revenue distribution — the moment-based
    // normality screen (JB = n·(S²/6 + (K−3)²/24) ~ χ²₂) that says
    // whether the Gaussian monitoring rules (D44's z-gate, B60's t)
    // are even admissible on this series; the parametric companion
    // to the rank tests that assume nothing. Exact spelling:
    // deviations r = v − (tot div n) about the FLOORED integer mean
    // (documented variant — |bias| < 1 dollar on 1e8-dollar days;
    // the exact-mean central moments need S1⁴, which overflows
    // DECIMAL(38,0) at clone scale); M2/M3/M4 = Σr²/Σr³/Σr⁴ as
    // DECIMAL(38,0) sums of widened products; skew/kurtosis/JB a
    // pinned IEEE tree (three divisions + one sqrt), 6dp floors;
    // reject at the pinned χ²₂(0.95) = 5.991465 literal. Scale
    // shape: one keyed day agg (map-side combined); the grid and
    // moments are calendar-sized.
    Q("jarque_bera", {
      s"""WITH $dailyDollarsSql,
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(v) AS BIGINT) AS tot FROM x),
         |r AS (SELECT CAST(x.v - (s.tot // s.n) AS HUGEINT) AS r, s.n
         |      FROM x, s),
         |m AS (SELECT max(n) AS n,
         |        sum(r * r) AS m2s, sum(r * r * r) AS m3s,
         |        sum(r * r * r * r) AS m4s FROM r),
         |d AS (
         |  SELECT n,
         |    CAST(m2s AS DOUBLE) / n AS m2,
         |    CAST(m3s AS DOUBLE) / n AS m3,
         |    CAST(m4s AS DOUBLE) / n AS m4
         |  FROM m),
         |jb AS (
         |  SELECT n,
         |    m3 / (m2 * sqrt(m2)) AS skew,
         |    m4 / (m2 * m2) AS kurt
         |  FROM d)
         |SELECT n AS n_days,
         |  floor(skew * 1000000 + 0.5) / 1000000 AS skewness,
         |  floor(kurt * 1000000 + 0.5) / 1000000 AS kurtosis,
         |  floor(n * (skew * skew / 6
         |      + (kurt - 3) * (kurt - 3) / 24) * 1000000 + 0.5) / 1000000
         |    AS jb_stat,
         |  CAST(CASE WHEN n * (skew * skew / 6
         |      + (kurt - 3) * (kurt - 3) / 24) > 5.991465
         |    THEN 1 ELSE 0 END AS INT) AS reject_normal
         |FROM jb""".stripMargin }) { (s, dir) =>
      val x = dailyDollars(s, dir)
        .localCheckpoint() // feeds the total and the moment pass
      val st = x.agg(count(lit(1)).as("n"), sum(col("v")).as("tot"))
      val r = x.crossJoin(broadcast(st))
        .select((col("v") - expr("tot div n")).cast("decimal(38,0)")
          .as("r"), col("n"))
      val m = r.agg(max(col("n")).as("n"),
        sum(col("r") * col("r")).as("m2s"),
        sum(col("r") * col("r") * col("r")).as("m3s"),
        sum(col("r") * col("r") * col("r") * col("r")).as("m4s"))
      val d = m.select(col("n"),
        (col("m2s").cast("double") / col("n")).as("m2"),
        (col("m3s").cast("double") / col("n")).as("m3"),
        (col("m4s").cast("double") / col("n")).as("m4"))
      val jb = d.select(col("n"),
        (col("m3") / (col("m2") * sqrt(col("m2")))).as("skew"),
        (col("m4") / (col("m2") * col("m2"))).as("kurt"))
      val stat = col("n") * (col("skew") * col("skew") / 6
        + (col("kurt") - 3) * (col("kurt") - 3) / 24)
      jb.select(col("n").as("n_days"),
        (floor(col("skew") * lit(1000000) + lit(0.5)) / lit(1000000))
          .as("skewness"),
        (floor(col("kurt") * lit(1000000) + lit(0.5)) / lit(1000000))
          .as("kurtosis"),
        (floor(stat * lit(1000000) + lit(0.5)) / lit(1000000)).as("jb_stat"),
        when(stat > 5.991465, 1).otherwise(0).cast("int")
          .as("reject_normal"))
    },

    // B191: VON NEUMANN RATIO (von Neumann 1941) of the zero-filled
    // daily revenue series — the raw-series randomness screen
    // (VN = Σ(Δv)²/Σ(v−v̄)², E[VN] = 2n/(n−1) ≈ 2 under
    // independence; VN ≪ 2 means positive autocorrelation/trend,
    // VN ≫ 2 alternation): B163's Durbin-Watson on REGRESSION
    // residuals, this on the series itself — the one-number "is this
    // metric a random walk or noise" triage before fitting anything.
    // Exact: successive diffs via a day+1 self-join on the grid (no
    // global window), Σ(Δv)² in DECIMAL(38,0); denominator in the
    // n-scaled form Σ(n·v − tot)² = n²·Σdev² (exact — no mean
    // division); VN = num·n²/den ONE double division of exact
    // integers, 6dp floor. Scale shape: one keyed day agg; grid,
    // join and moments calendar-sized.
    Q("von_neumann_ratio", {
      s"""WITH $dailyDollarsSql,
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(v) AS BIGINT) AS tot FROM x),
         |num AS (
         |  SELECT sum(CAST(b.v - a.v AS HUGEINT)
         |    * CAST(b.v - a.v AS HUGEINT)) AS num
         |  FROM x a JOIN x b ON b.day = a.day + 1),
         |den AS (
         |  SELECT sum(CAST(s.n * x.v - s.tot AS HUGEINT)
         |    * CAST(s.n * x.v - s.tot AS HUGEINT)) AS den
         |  FROM x, s)
         |SELECT s.n AS n_days,
         |  CASE WHEN den.den > 0 THEN
         |    floor(CAST(num.num AS DOUBLE) * s.n * s.n
         |      / CAST(den.den AS DOUBLE) * 1000000 + 0.5) / 1000000
         |  END AS von_neumann
         |FROM s, num, den""".stripMargin }) { (s, dir) =>
      val x = dailyDollars(s, dir)
        .localCheckpoint() // feeds totals, diffs, and deviations
      val st = x.agg(count(lit(1)).as("n"), sum(col("v")).as("tot"))
      val a = x.select(col("day").as("da"), col("v").as("va"))
      val b = x.select(col("day").as("db"), col("v").as("vb"))
      val num = a.join(b, col("db") === col("da") + 1)
        .select(((col("vb") - col("va")).cast("decimal(38,0)")
          * (col("vb") - col("va")).cast("decimal(38,0)")).as("sq"))
        .agg(sum(col("sq")).as("num"))
      val den = x.crossJoin(broadcast(st))
        .select(((col("n") * col("v") - col("tot")).cast("decimal(38,0)")
          * (col("n") * col("v") - col("tot")).cast("decimal(38,0)"))
          .as("sq"))
        .agg(sum(col("sq")).as("den"))
      broadcast(st).crossJoin(broadcast(num)).crossJoin(broadcast(den))
        .select(col("n").as("n_days"),
          when(col("den") > 0,
            floor(col("num").cast("double") * col("n") * col("n")
              / col("den").cast("double") * lit(1000000) + lit(0.5))
              / lit(1000000)).as("von_neumann"))
    },

    // B194: PETTITT CHANGEPOINT TEST (Pettitt 1979) on the
    // zero-filled daily revenue series — the NONPARAMETRIC
    // changepoint (rank-based Mann-Whitney sweep: U_t compares
    // {1..t} against {t+1..n} at every split), the outlier-immune
    // companion to B122's least-squares changepoint and B152's
    // monotone-trend Mann-Kendall. Exact spelling: doubled midranks
    // r2 = 2·rank + ties − 1 are exact integers (the B114
    // convention); U2_t = Σ_{i≤t} r2_i − t·(n+1) = 2·U_t via one
    // prefix sum in day order; K = max|U_t| exact (U2 is even);
    // changepoint = earliest argmax day; significance against the
    // pinned −ln(0.025) = 3.688879 literal, FULLY cross-multiplied:
    // K²·6·10⁶ > 3688879·(n³+n²) in HUGEINT/DECIMAL(38,0) — no
    // division anywhere (a /10⁶ would be DuckDB integer-/-to-DOUBLE,
    // lossy past 2^53 at clone scale), no sqrt. Scale
    // shape: one keyed day agg; ranks/prefix on the calendar-sized
    // grid (the day-grain window class).
    Q("pettitt_changepoint", {
      s"""WITH $dailyDollarsSql,
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
         |rnk AS (
         |  SELECT day, v,
         |    CAST(2 * rank() OVER (ORDER BY v)
         |      + count(*) OVER (PARTITION BY v) - 1 AS BIGINT) AS r2
         |  FROM x),
         |u AS (
         |  SELECT day,
         |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         |    CAST(sum(r2) OVER (ORDER BY day) AS BIGINT) AS s2
         |  FROM rnk),
         |uu AS (SELECT day, abs(s2 - t * (s.n + 1)) AS a2 FROM u, s),
         |k AS (SELECT CAST(max(a2) // 2 AS BIGINT) AS k_stat FROM uu),
         |arg AS (
         |  SELECT CAST(min(uu.day) AS BIGINT) AS cp_day
         |  FROM uu, k WHERE uu.a2 // 2 = k.k_stat)
         |SELECT s.n AS n_days, k.k_stat, arg.cp_day,
         |  CAST(CASE WHEN CAST(k.k_stat AS HUGEINT) * k.k_stat * 6 * 1000000
         |      > CAST(3688879 AS HUGEINT) * s.n * s.n * s.n
         |        + CAST(3688879 AS HUGEINT) * s.n * s.n
         |    THEN 1 ELSE 0 END AS INT) AS signif
         |FROM s, k, arg""".stripMargin }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val x = dailyDollars(s, dir)
        .localCheckpoint() // feeds count + the rank/prefix pass
      val st = x.agg(count(lit(1)).as("n"))
      val rnk = x.select(col("day"),
        (lit(2) * rank().over(Window.orderBy(col("v")))
          + count(lit(1)).over(Window.partitionBy(col("v"))) - 1)
          .cast("long").as("r2"))
      val u = rnk.select(col("day"),
        row_number().over(Window.orderBy(col("day"))).cast("long").as("t"),
        sum(col("r2")).over(Window.orderBy(col("day"))).as("s2"))
      val uu = u.crossJoin(broadcast(st))
        .select(col("day"), abs(col("s2") - col("t") * (col("n") + 1))
          .as("a2"), col("n"))
        .localCheckpoint() // the max and the argmax both read it
      val k = uu.agg(expr("max(a2) div 2").as("k_stat"),
        max(col("n")).as("n"))
      val arg = uu.join(broadcast(k.select(col("k_stat"))),
          expr("a2 div 2") === col("k_stat"))
        .agg(min(col("day")).as("cp_day"))
      broadcast(k).crossJoin(broadcast(arg))
        .select(col("n").as("n_days"), col("k_stat"), col("cp_day"),
          // fully cross-multiplied — no division anywhere, so neither
          // engine's integer-/ semantics (DuckDB / on integers yields
          // DOUBLE, lossy past 2^53) can touch the boundary
          when(col("k_stat").cast("decimal(38,0)") * col("k_stat") * 6
                * 1000000
              > lit(3688879).cast("decimal(38,0)")
                  * col("n") * col("n") * col("n")
                + lit(3688879).cast("decimal(38,0)") * col("n") * col("n"),
              1)
            .otherwise(0).cast("int").as("signif"))
    },

    // B207: PERIODOGRAM AT CANDIDATE SEASONAL PERIODS (round 13;
    // Schuster 1898; the DFT power the STL/Holt-Winters family
    // ASSUMES a period for — B136 pins weekly seasonality, this
    // DETECTS it): for each candidate period p ∈ {2, 3, 5, 7, 14},
    // A_p = Σ_t v_t·cos(2π·(day mod p)/p), B_p the sine sum, power
    // = (A² + B²)/n² — the weekly cycle shows up as the argmax.
    // Exact spelling: the trig constants are PINNED integer-micro
    // literals round(cos(2πk/p)·10⁶) generated once and embedded in
    // BOTH engines (the LSH-hyperplane-literal convention — no live
    // trig anywhere), so A/B are exact integer sums (DECIMAL(38,0)/
    // HUGEINT — micro-scaled daily dollars reach ~2e19 at clone
    // scale); the power is ONE pinned double tree (A² would
    // overflow 38 digits at clone scale — square in doubles, the
    // B122 argmax-score precedent), 6dp floor. Scale shape: one
    // keyed day agg; per period one map-side-combinable sum over
    // the calendar grid.
    Q("periodogram_seasonal", {
      def cs(p: Int, fn: Double => Double): String =
        (0 until p).map { k =>
          val c = math.round(fn(2.0 * math.Pi * k / p) * 1e6)
          s"WHEN day % $p = $k THEN $c"
        }.mkString("CASE ", " ", " ELSE 0 END")
      val rows = Seq(2, 3, 5, 7, 14).map { p =>
        s"""SELECT $p AS period,
           |  CAST(sum(CAST(v AS HUGEINT) * (${cs(p, math.cos)}))
           |    AS HUGEINT) AS a6,
           |  CAST(sum(CAST(v AS HUGEINT) * (${cs(p, math.sin)}))
           |    AS HUGEINT) AS b6,
           |  CAST(count(*) AS BIGINT) AS n FROM x""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $dailyDollarsSql,
         |per AS ($rows)
         |SELECT period, CAST(a6 AS DOUBLE) AS a_micro,
         |  CAST(b6 AS DOUBLE) AS b_micro,
         |  floor((CAST(a6 AS DOUBLE) * CAST(a6 AS DOUBLE)
         |    + CAST(b6 AS DOUBLE) * CAST(b6 AS DOUBLE))
         |    / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000000.0
         |    * 1000000 + 0.5) / 1000000 AS power
         |FROM per""".stripMargin
    }) { (s, dir) =>
      val x = dailyDollars(s, dir)
        .localCheckpoint() // five period scans read the same grid
      def cs(p: Int, fn: Double => Double) =
        (0 until p).map { k =>
          val c = math.round(fn(2.0 * math.Pi * k / p) * 1e6)
          s"WHEN day % $p = $k THEN ${c}L"
        }.mkString("CASE ", " ", " ELSE 0L END")
      val per = Seq(2, 3, 5, 7, 14).map { p =>
        x.agg(
          sum(expr(s"cast(v as decimal(38,0)) * (${cs(p, math.cos)})"))
            .cast("decimal(38,0)").as("a6"),
          sum(expr(s"cast(v as decimal(38,0)) * (${cs(p, math.sin)})"))
            .cast("decimal(38,0)").as("b6"),
          count(lit(1)).as("n"))
          .select(lit(p).as("period"), col("a6"), col("b6"), col("n"))
      }.reduce(_ unionByName _)
      per.select(col("period"),
        col("a6").cast("double").as("a_micro"),
        col("b6").cast("double").as("b_micro"),
        (floor((col("a6").cast("double") * col("a6").cast("double")
            + col("b6").cast("double") * col("b6").cast("double"))
          / col("n").cast("double") / col("n").cast("double")
          / lit(1000000000000.0)
          * 1000000 + lit(0.5)) / 1000000).as("power"))
    },

    // B204: VARIANCE-RATIO TEST (Lo & MacKinlay RFS 1988) on the
    // zero-filled daily revenue series at horizon q = 7 — the
    // random-walk/mean-reversion diagnostic the trend family
    // (B152/B199/B202) doesn't cover: VR(7) = Var(7-day overlapping
    // differences)/(7·Var(1-day differences)); ≈1 under a random
    // walk, <1 mean-reverting, >1 trending. Exact: v is integer
    // dollars so both difference families are exact integers; VR as
    // the single cross-multiplied rational (n_q·Q_q − S_q²)·n₁² /
    // (7·n_q²·(n₁·Q₁ − S₁²)) with every inner product in
    // HUGEINT/DECIMAL(38,0) (Σd² reaches ~2e21 at clone scale —
    // BIGINT wraps), ONE pinned double division, 6dp floor. Scale
    // shape: one keyed day agg; the lag joins are self-joins on the
    // calendar-sized grid.
    Q("variance_ratio",
      s"""WITH $dailyDollarsSql,
         |t AS (SELECT v, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
         |        AS t FROM x),
         |d1 AS (SELECT b.v - a.v AS d FROM t a JOIN t b ON b.t = a.t + 1),
         |dq AS (SELECT b.v - a.v AS d FROM t a JOIN t b ON b.t = a.t + 7),
         |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n1,
         |         CAST(sum(d) AS HUGEINT) AS s1s,
         |         CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS q1 FROM d1),
         |sq AS (SELECT CAST(count(*) AS BIGINT) AS nq,
         |         CAST(sum(d) AS HUGEINT) AS sqs,
         |         CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS qq FROM dq),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t)
         |SELECT nn.n AS n_days, s1.n1 AS n_diff1, sq.nq AS n_diff7,
         |  CASE WHEN s1.n1 * s1.q1 - s1.s1s * s1.s1s > 0 AND sq.nq > 0 THEN
         |    floor(CAST(sq.nq * sq.qq - sq.sqs * sq.sqs AS DOUBLE)
         |      * CAST(s1.n1 * s1.n1 AS DOUBLE)
         |      / (7.0 * CAST(sq.nq * sq.nq AS DOUBLE)
         |        * CAST(s1.n1 * s1.q1 - s1.s1s * s1.s1s AS DOUBLE))
         |      * 1000000 + 0.5) / 1000000
         |  END AS vr7
         |FROM nn, s1, sq""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = dailyDollars(s, dir)
        .select(col("v"),
          row_number().over(Window.orderBy(col("day"))).cast("long").as("t"))
        .localCheckpoint() // four readers: two lag joins + the count
      def diffs(lag: Int) = t.select(col("t"), col("v").as("va"))
        .join(t.select((col("t") - lag).as("t"), col("v").as("vb")), Seq("t"))
        .select((col("vb") - col("va")).as("d"))
      def sums(df: org.apache.spark.sql.DataFrame, n: String, ss: String,
          qq: String) =
        df.agg(count(lit(1)).as(n),
          sum(col("d")).cast("decimal(38,0)").as(ss),
          sum(expr("cast(d as decimal(38,0)) * d")).as(qq))
      val s1 = sums(diffs(1), "n1", "s1s", "q1")
      val sq = sums(diffs(7), "nq", "sqs", "qq")
      val nn = t.agg(count(lit(1)).as("n"))
      broadcast(nn).crossJoin(broadcast(s1)).crossJoin(broadcast(sq))
        .select(col("n").as("n_days"), col("n1").as("n_diff1"),
          col("nq").as("n_diff7"),
          when(col("n1") * col("q1") - col("s1s") * col("s1s") > 0
              && col("nq") > 0,
            floor((col("nq") * col("qq") - col("sqs") * col("sqs"))
                .cast("double")
              * (col("n1") * col("n1")).cast("double")
              / (lit(7.0) * (col("nq") * col("nq")).cast("double")
                * (col("n1") * col("q1") - col("s1s") * col("s1s"))
                  .cast("double"))
              * 1000000 + lit(0.5)) / 1000000).as("vr7"))
    },

    // B203: BOWKER SYMMETRY TEST (Bowker JASA 1948 — McNemar's k×k
    // generalization) on the B65 event-transition matrix: is the
    // user-journey flow SYMMETRIC (as many view→purchase as
    // purchase→view transitions, per pair)? χ² = Σ_{i<j}
    // (n_ij − n_ji)²/(n_ij + n_ji) over unordered type pairs with
    // any traffic, df = # such pairs. The directional-flow
    // diagnostic B65 (raw transition counts) and B175 (McNemar, one
    // 2×2) bracket. Exact: per-pair contribution as the integer
    // floor (d²·10⁶) div s (the mood_median contrib convention —
    // identical integer arithmetic both engines), χ² read out at
    // 6dp. Scale shape: the B65 per-user lead window (small groups)
    // → one keyed transition count → the ≤k² model relation
    // self-joined on unordered pairs.
    Q("bowker_symmetry",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |s AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER w AS to_type
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |t AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE to_type IS NOT NULL AND from_type <> to_type
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT a.from_type AS ta, a.to_type AS tb,
        |    a.n AS nij, coalesce(b.n, 0) AS nji
        |  FROM t a LEFT JOIN t b
        |    ON b.from_type = a.to_type AND b.to_type = a.from_type
        |  WHERE a.from_type < a.to_type
        |  UNION ALL
        |  SELECT b.to_type AS ta, b.from_type AS tb, 0 AS nij, b.n AS nji
        |  FROM t b LEFT JOIN t a
        |    ON a.from_type = b.to_type AND a.to_type = b.from_type
        |  WHERE b.from_type > b.to_type AND a.from_type IS NULL),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(CAST(nij - nji AS HUGEINT) * (nij - nji) * 1000000
        |      // (nij + nji)) AS HUGEINT) AS s6
        |  FROM p WHERE nij + nji > 0)
        |SELECT df,
        |  floor(CAST(s6 AS DOUBLE) / 1000000 * 1000000 + 0.5) / 1000000
        |    AS chi2
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = table(s, dir, "events").select(
        col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000000").as("tsec"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsec"), col("event_id"))
      val t = e.select(col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull
          && col("from_type") =!= col("to_type"))
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // the ≤k² model relation, self-joined
      val fwd = t.filter(col("from_type") < col("to_type"))
        .select(col("from_type").as("ta"), col("to_type").as("tb"),
          col("n").as("nij"))
      val rev = t.filter(col("from_type") > col("to_type"))
        .select(col("to_type").as("ta"), col("from_type").as("tb"),
          col("n").as("nji"))
      val p = fwd.join(rev, Seq("ta", "tb"), "full")
        .select(coalesce(col("nij"), lit(0L)).as("nij"),
          coalesce(col("nji"), lit(0L)).as("nji"))
      p.filter(col("nij") + col("nji") > 0)
        .agg(count(lit(1)).as("df"),
          sum(expr("""cast(nij - nji as decimal(38,0)) * (nij - nji)
                     |  * 1000000 div (nij + nji)""".stripMargin))
            .as("s6"))
        .select(col("df"),
          (floor(col("s6").cast("double") / 1000000 * 1000000 + lit(0.5))
            / 1000000).as("chi2"))
    },

    // B200: ANSARI-BRADLEY SCALE TEST (Ansari & Bradley AMS 1960)
    // purchase vs view values — the RANK test for equal DISPERSION
    // (B130 Levene is the moment form; B114 Mann-Whitney tests
    // location, this tests spread): pooled positions score a(j) =
    // min(j, N+1−j) — small at both extremes, large in the middle —
    // so a sample with more mass in the tails scores LOW. Exact
    // spelling on the B114 value grain: per tied cents value the
    // positions [cum−cnt+1, cum] get the exact integer score-block
    // sum via the closed form S(x) = x(x+1)/2 below the fold
    // h = ⌊(N+1)/2⌋ and h(h+1) + (x−h)(N+1) − x(x+1)/2 above it
    // (midrank tie handling — the tie group's AVERAGE score, not the
    // score of the average rank, which differ when a group straddles
    // the fold); per-element score in exact micro-units
    // (gsum·10⁶ div cnt — the repo's integer-floor convention,
    // mirrored literally). AB₁ = Σ n1c·a_e6; E = n1·Σcnt·a_e6 div N;
    // z = (AB₁ − E)/√(n1·n2·(N·Q − S²)/(N²(N−1))) — inner terms
    // exact HUGEINT/DECIMAL(38,0), ONE pinned double tree, 6dp
    // floor. Scale shape: one keyed agg to the value grain + the
    // DistributedPrefixSum streamed pass (the B114 plan verbatim).
    Q("ansari_bradley", {
      val hS = "(nn.n + 1) // 2"
      def sS(x: String) =
        s"""(CASE WHEN $x <= $hS THEN $x * ($x + 1) // 2
           |  ELSE ($hS) * ($hS + 1) + ($x - $hS) * (nn.n + 1)
           |    - $x * ($x + 1) // 2 END)""".stripMargin
      s"""WITH e AS (
         |  SELECT event_type = 'purchase' AS g1,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
         |  FROM events WHERE event_type IN ('purchase', 'view')),
         |v AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt,
         |        CAST(count(*) FILTER (g1) AS BIGINT) AS n1c
         |      FROM e GROUP BY c),
         |w AS (SELECT c, cnt, n1c,
         |        CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) AS cum
         |      FROM v),
         |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
         |         CAST(sum(n1c) AS BIGINT) AS n1 FROM v),
         |sd AS (
         |  SELECT w.cnt, w.n1c,
         |    CAST((${sS("w.cum")} - ${sS("(w.cum - w.cnt)")})
         |      * 1000000 // w.cnt AS BIGINT) AS a_e6
         |  FROM w, nn),
         |agg AS (SELECT
         |    CAST(sum(n1c * a_e6) AS HUGEINT) AS ab1,
         |    CAST(sum(cnt * a_e6) AS HUGEINT) AS s_tot,
         |    CAST(sum(CAST(cnt AS HUGEINT) * a_e6 * a_e6) AS HUGEINT)
         |      AS q_tot
         |  FROM sd)
         |SELECT nn.n1, nn.n - nn.n1 AS n2,
         |  CAST(agg.ab1 AS BIGINT) AS ab1_e6,
         |  CAST(nn.n1 * agg.s_tot // nn.n AS BIGINT) AS e_ab1_e6,
         |  CASE WHEN nn.n > 1 AND nn.n1 > 0 AND nn.n1 < nn.n
         |      AND nn.n * agg.q_tot - agg.s_tot * agg.s_tot > 0 THEN
         |    floor((CAST(agg.ab1 AS DOUBLE)
         |        - CAST(CAST(nn.n1 * agg.s_tot // nn.n AS BIGINT) AS DOUBLE))
         |      / sqrt(CAST(nn.n1 AS DOUBLE) * CAST(nn.n - nn.n1 AS DOUBLE)
         |        * CAST(nn.n * agg.q_tot - agg.s_tot * agg.s_tot AS DOUBLE)
         |        / CAST(nn.n AS DOUBLE) / CAST(nn.n AS DOUBLE)
         |        / CAST(nn.n - 1 AS DOUBLE))
         |      * 1000000 + 0.5) / 1000000
         |  END AS z
         |FROM nn, agg""".stripMargin
    }) { (s, dir) =>
      import graft.operators.DistributedPrefixSum
      val v = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("g1"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("cnt"), sum(col("g1").cast("long")).as("n1c"))
        .localCheckpoint() // feeds the totals and the prefix pass
      val w = DistributedPrefixSum.running(
        v.withColumn("_g", lit("all")), "_g", Seq("c"), "cnt", "cum")
      val nn = v.agg(sum(col("cnt")).as("n"), sum(col("n1c")).as("n1"))
      def sS(x: String) =
        s"""(CASE WHEN $x <= h THEN $x * ($x + 1) div 2
           |  ELSE h * (h + 1) + ($x - h) * (n + 1)
           |    - $x * ($x + 1) div 2 END)""".stripMargin
      val sd = w.crossJoin(broadcast(nn))
        .withColumn("h", expr("(n + 1) div 2"))
        .withColumn("a_e6",
          expr(s"(${sS("cum")} - ${sS("(cum - cnt)")}) * 1000000 div cnt"))
      val agg = sd.agg(
        sum(col("n1c") * col("a_e6")).cast("decimal(38,0)").as("ab1"),
        sum(col("cnt") * col("a_e6")).cast("decimal(38,0)").as("s_tot"),
        sum(expr("cast(cnt as decimal(38,0)) * a_e6 * a_e6")).as("q_tot"))
      broadcast(nn).crossJoin(broadcast(agg))
        .withColumn("e_ab1", expr("cast(n1 * s_tot div n as bigint)"))
        .withColumn("nqs2", expr("n * q_tot - s_tot * s_tot"))
        .select(col("n1"), (col("n") - col("n1")).as("n2"),
          col("ab1").cast("bigint").as("ab1_e6"),
          col("e_ab1").as("e_ab1_e6"),
          when(col("n") > 1 && col("n1") > 0 && col("n1") < col("n")
              && col("nqs2") > 0,
            floor((col("ab1").cast("double") - col("e_ab1").cast("double"))
              / sqrt(col("n1").cast("double")
                * (col("n") - col("n1")).cast("double")
                * col("nqs2").cast("double")
                / col("n").cast("double") / col("n").cast("double")
                / (col("n") - 1).cast("double"))
              * 1000000 + lit(0.5)) / 1000000).as("z"))
    },

    // B202: COX-STUART TREND TEST (Cox & Stuart Biometrika 1955) on
    // the zero-filled daily revenue series — the SIGN-test trend
    // detector beside B152's rank-based Mann-Kendall and B199's
    // turning-point randomness check: pair day t with day t + c,
    // c = ⌈n/2⌉ (odd n drops the middle day), count strictly
    // positive/negative second-half-minus-first-half differences;
    // under no-trend S⁺ ~ Binomial(n', 1/2). Exact: v is integer
    // dollars, diffs exact; significance two-sided at 5% via the
    // pinned z²₀.₉₇₅ = 3.841459 literal fully cross-multiplied —
    // (2S⁺ − n')²·10⁶ > 3841459·n', HUGEINT/DECIMAL(38,0), no
    // division, no sqrt (the pettitt convention). Scale shape: one
    // keyed day agg; the pairing is ONE self-join on the
    // calendar-sized grid.
    Q("cox_stuart_trend",
      s"""WITH $dailyDollarsSql,
         |t AS (SELECT v, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
         |        AS t FROM x),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
         |pr AS (SELECT a.t, b.v - a.v AS d
         |       FROM t a, nn JOIN t b ON b.t = a.t + (nn.n + 1) // 2
         |       WHERE a.t <= nn.n - (nn.n + 1) // 2),
         |s AS (SELECT
         |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS sp,
         |    CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS sm,
         |    CAST(count(*) AS BIGINT) AS np FROM pr)
         |SELECT nn.n AS n_days, s.np AS n_pairs, s.sp AS s_plus,
         |  s.sm AS s_minus,
         |  CAST(CASE WHEN s.sp + s.sm > 0 AND
         |      CAST(2 * s.sp - (s.sp + s.sm) AS HUGEINT)
         |        * (2 * s.sp - (s.sp + s.sm)) * 1000000
         |      > 3841459 * CAST(s.sp + s.sm AS HUGEINT)
         |    THEN 1 ELSE 0 END AS INT) AS signif
         |FROM nn, s""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val x = dailyDollars(s, dir)
      val t = x.select(col("v"),
        row_number().over(Window.orderBy(col("day"))).cast("long").as("t"))
        .localCheckpoint() // both pairing sides + the count read it
      val nn = t.agg(count(lit(1)).as("n"))
      val a = t.select(col("t"), col("v").as("va"))
        .crossJoin(broadcast(nn))
        .filter(col("t") <= col("n") - expr("(n + 1) div 2"))
      val b = t.select(col("t").as("tb"), col("v").as("vb"))
      val pr = a.join(b, col("tb") === col("t") + expr("(n + 1) div 2"))
        .select((col("vb") - col("va")).as("d"))
      val st = pr.agg(
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("sp"),
        sum(when(col("d") < 0, 1L).otherwise(0L)).as("sm"),
        count(lit(1)).as("np"))
      broadcast(nn).crossJoin(broadcast(st))
        .select(col("n").as("n_days"), col("np").as("n_pairs"),
          col("sp").as("s_plus"), col("sm").as("s_minus"),
          when(col("sp") + col("sm") > 0 &&
              (lit(2) * col("sp") - (col("sp") + col("sm")))
                .cast("decimal(38,0)")
                * (lit(2) * col("sp") - (col("sp") + col("sm")))
                * 1000000
              > lit(3841459).cast("decimal(38,0)")
                * (col("sp") + col("sm")), 1)
            .otherwise(0).cast("int").as("signif"))
    },

    // B197: KUIPER TWO-SAMPLE TEST (Kuiper 1960) between purchase
    // and view value distributions — V = D⁺ + D⁻ (sup of F₁−F₂ plus
    // sup of F₂−F₁): where B120's KS sees only the single worst CDF
    // gap (and goes blind in the tails), Kuiper weighs BOTH signed
    // excursions equally — the test of choice when the two
    // directions of drift matter separately (and the cyclic-data
    // standard). Exact: rides B120's machinery verbatim — integer
    // prefix counts on the cents grid, signed sups as
    // cross-multiplied BIGINTs max(k1·n2 − k2·n1)/max(k2·n1 − k1·n2)
    // (each ≥ 0: the diff is 0 at the top of the grid), V ONE
    // division by n1·n2, 6dp floor. Scale shape: one keyed cents agg
    // (map-side combined) + the DistributedPrefixSum pass.
    Q("kuiper_two_sample",
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
        |    CAST(max(k1 * t.n2 - k2 * t.n1) AS BIGINT) AS d_pos,
        |    CAST(max(k2 * t.n1 - k1 * t.n2) AS BIGINT) AS d_neg
        |  FROM w, tot t GROUP BY t.n1, t.n2)
        |SELECT n1, n2, d_pos, d_neg,
        |  floor(CAST(d_pos + d_neg AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    * 1000000 + 0.5) / 1000000 AS kuiper_v
        |FROM d""".stripMargin) { (s, dir) =>
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
      val tot = v.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val d = w.crossJoin(broadcast(tot))
        .groupBy(col("n1"), col("n2"))
        .agg(max(col("k1") * col("n2") - col("k2") * col("n1")).as("d_pos"),
          max(col("k2") * col("n1") - col("k1") * col("n2")).as("d_neg"))
      d.select(col("n1"), col("n2"), col("d_pos"), col("d_neg"),
        (floor((col("d_pos") + col("d_neg")).cast("double")
          / (col("n1").cast("double") * col("n2").cast("double"))
          * lit(1000000) + lit(0.5)) / lit(1000000)).as("kuiper_v"))
    },

    // B192: DIXON'S Q TEST (Dixon 1950/1951, the r10 ratio) on the
    // top-8 daily revenues — the small-sample outlier screen ops
    // teams run on "our biggest days": is the single largest day an
    // outlier against the rest of the top tail, Q = gap/range =
    // (x₍₁₎−x₍₂₎)/(x₍₁₎−x₍₈₎)? The fixed-n companion to B153's
    // Grubbs (which assumes normality and uses all days); Dixon is
    // the ranked-extremes form. Exact: order statistics of the daily
    // cents multiset (tie order irrelevant to the VALUES), integer
    // gap/range, ONE division, 6dp; flag at the pinned n=8 α=0.05
    // critical value 0.526. Scale shape: one keyed day agg + a
    // bounded top-8.
    Q("dixon_q",
      """WITH o AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |t8 AS (SELECT cents FROM o ORDER BY cents DESC, day LIMIT 8),
        |l AS (SELECT list(cents ORDER BY cents DESC) AS xs FROM t8)
        |SELECT CAST(8 AS BIGINT) AS n_top,
        |  xs[1] AS x_max, xs[1] - xs[2] AS gap, xs[1] - xs[8] AS range_,
        |  CASE WHEN xs[1] > xs[8] THEN
        |    floor(CAST(xs[1] - xs[2] AS DOUBLE)
        |      / CAST(xs[1] - xs[8] AS DOUBLE) * 1000000 + 0.5) / 1000000
        |  END AS dixon_q,
        |  CAST(CASE WHEN xs[1] > xs[8] AND
        |      CAST(xs[1] - xs[2] AS DOUBLE) / CAST(xs[1] - xs[8] AS DOUBLE)
        |        > 0.526
        |    THEN 1 ELSE 0 END AS INT) AS outlier
        |FROM l""".stripMargin) { (s, dir) =>
      val top8 = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
        .orderBy(col("cents").desc, col("day")).limit(8)
      val l = top8.agg(
        sort_array(collect_list(col("cents")), asc = false).as("xs"))
      val q = (element_at(col("xs"), 1) - element_at(col("xs"), 2))
        .cast("double") /
        (element_at(col("xs"), 1) - element_at(col("xs"), 8)).cast("double")
      l.select(lit(8L).as("n_top"),
        element_at(col("xs"), 1).as("x_max"),
        (element_at(col("xs"), 1) - element_at(col("xs"), 2)).as("gap"),
        (element_at(col("xs"), 1) - element_at(col("xs"), 8)).as("range_"),
        when(element_at(col("xs"), 1) > element_at(col("xs"), 8),
          floor(q * lit(1000000) + lit(0.5)) / lit(1000000)).as("dixon_q"),
        when(element_at(col("xs"), 1) > element_at(col("xs"), 8) &&
          q > 0.526, 1).otherwise(0).cast("int").as("outlier"))
    },

    // B193: ORDINAL ASSOCIATION — Goodman-Kruskal gamma (1954) and
    // Somers' d_yx (1962) between order priority (ordinal 1-5) and
    // order-value quartile: the ordinal×ordinal dependence measures
    // B117's Kendall tau-b approximates on continuous data and
    // B147's Cramér's V ignores the ORDER of. Gamma uses concordant/
    // discordant pairs only; Somers' D additionally charges pairs
    // tied on the dependent (quartile) axis — the asymmetric
    // "does priority PREDICT value band" form. Exact: quartile cuts
    // at the EXACT bracket-rank values (DistributedQuantile
    // .cutValues — rank selection, engine-stable by construction;
    // the decile_lift precedent); C/D/T_y are sums of widened
    // cell-count products over the ≤20-row contingency relation,
    // RENDERED as BIGINT (they fit far inside int64 at every test
    // SF; a raw DECIMAL(38,0) final column hashes as "123" from
    // Spark parquet but "123.0" through the oracle's pandas bridge —
    // the round-12 red key); two divisions, 6dp floors. Scale shape:
    // ONE map-side-combinable 20-cell count; all pair arithmetic on
    // the model relation.
    Q("ordinal_association",
      """WITH rk AS (
        |  SELECT o_totalprice AS v,
        |    row_number() OVER (ORDER BY o_totalprice) - 1 AS r,
        |    count(*) OVER () AS n
        |  FROM orders),
        |b AS (
        |  SELECT max(CASE WHEN r = (1*(n-1))//4 THEN v END) AS b1,
        |    max(CASE WHEN r = (2*(n-1))//4 THEN v END) AS b2,
        |    max(CASE WHEN r = (3*(n-1))//4 THEN v END) AS b3
        |  FROM rk),
        |cells AS (
        |  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS p,
        |    CAST((CASE WHEN o_totalprice > b1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN o_totalprice > b2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN o_totalprice > b3 THEN 1 ELSE 0 END) AS INT)
        |      AS y,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders, b GROUP BY 1, 2),
        |pairs AS (
        |  SELECT
        |    CAST(sum(CASE WHEN x.p < z.p AND x.y < z.y
        |      THEN CAST(x.n AS HUGEINT) * z.n ELSE 0 END) AS HUGEINT) AS c,
        |    CAST(sum(CASE WHEN x.p < z.p AND x.y > z.y
        |      THEN CAST(x.n AS HUGEINT) * z.n ELSE 0 END) AS HUGEINT) AS d,
        |    CAST(sum(CASE WHEN x.p < z.p AND x.y = z.y
        |      THEN CAST(x.n AS HUGEINT) * z.n ELSE 0 END) AS HUGEINT) AS ty
        |  FROM cells x, cells z)
        |SELECT CAST(c AS BIGINT) AS concordant,
        |  CAST(d AS BIGINT) AS discordant,
        |  CAST(ty AS BIGINT) AS ties_y,
        |  CASE WHEN c + d > 0 THEN
        |    floor(CAST(c - d AS DOUBLE) / CAST(c + d AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS gamma,
        |  CASE WHEN c + d + ty > 0 THEN
        |    floor(CAST(c - d AS DOUBLE) / CAST(c + d + ty AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS somers_d
        |FROM pairs""".stripMargin) { (s, dir) =>
      import graft.operators.DistributedQuantile
      val orders = table(s, dir, "orders")
      val bps = DistributedQuantile.cutValues(
          orders.withColumn("_g", lit("all")), "_g", "o_totalprice",
          Seq(("b1", 1, 4), ("b2", 2, 4), ("b3", 3, 4)))
        .drop("g").drop("b1_rem", "b2_rem", "b3_rem")
      val y = (1 to 3)
        .map(k => (col("o_totalprice") > col(s"b$k")).cast("int"))
        .reduce(_ + _)
      val cells = orders.crossJoin(broadcast(bps))
        .select(substring(col("o_orderpriority"), 1, 1).cast("int").as("p"),
          y.cast("int").as("y"))
        .groupBy(col("p"), col("y")).agg(count(lit(1)).as("n"))
        .localCheckpoint() // the model relation feeds a self-join
      val x = cells.select(col("p").as("px"), col("y").as("yx"),
        col("n").cast("decimal(38,0)").as("nx"))
      val z = cells.select(col("p").as("pz"), col("y").as("yz"),
        col("n").cast("decimal(38,0)").as("nz"))
      val pairs = x.crossJoin(broadcast(z)).agg(
        sum(when(col("px") < col("pz") && col("yx") < col("yz"),
          col("nx") * col("nz")).otherwise(lit(0))).as("c"),
        sum(when(col("px") < col("pz") && col("yx") > col("yz"),
          col("nx") * col("nz")).otherwise(lit(0))).as("d"),
        sum(when(col("px") < col("pz") && col("yx") === col("yz"),
          col("nx") * col("nz")).otherwise(lit(0))).as("ty"))
      pairs.select(col("c").cast("bigint").as("concordant"),
        col("d").cast("bigint").as("discordant"),
        col("ty").cast("bigint").as("ties_y"),
        when(col("c") + col("d") > 0,
          floor((col("c") - col("d")).cast("double")
            / (col("c") + col("d")).cast("double") * lit(1000000)
            + lit(0.5)) / lit(1000000)).as("gamma"),
        when(col("c") + col("d") + col("ty") > 0,
          floor((col("c") - col("d")).cast("double")
            / (col("c") + col("d") + col("ty")).cast("double")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("somers_d"))
    },

    // B196: CHOW STRUCTURAL-BREAK TEST (Chow 1960) of the daily
    // revenue trend at the calendar midpoint — "did the regime
    // change": fit y = a + b·day on the full grid and on each half,
    // F = ((SSR_p − SSR_a − SSR_b)/2)/((SSR_a + SSR_b)/(n−4)); the
    // REGRESSION-form changepoint beside B194's rank form and
    // B122's mean-shift form, and the diagnostic completing the
    // B47/B160/B163/B165 OLS family. Exact spelling: per-segment
    // sufficient sums (n, Σx, Σy, Σx², Σxy, Σy²) as DECIMAL(38,0)
    // integers, pooled = the exact componentwise sum; n-scaled
    // central moments Cxx/Cxy/Cyy exact; SSR = (Cyy − Cxy/Cxx·Cxy)/n
    // a PINNED double tree (Cxy² would overflow 38 digits at clone
    // scale — divide first, the stated order both engines spell);
    // one F expression, 6dp floor; the fit-quality read-out is RMSE
    // = √(SSR/n) rather than raw SSR (dollar² sums overflow the 6dp
    // quantization long at clone scale; RMSE is scale-safe and the
    // number an operator actually reads). Scale shape: one keyed day
    // agg; everything after on a 2-row segment relation.
    Q("chow_test", {
      s"""WITH $dailyDollarsSql,
         |mid AS (SELECT (min(day) + max(day)) // 2 AS m FROM x),
         |seg AS (
         |  SELECT CASE WHEN x.day <= mid.m THEN 0 ELSE 1 END AS sg,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x.day) AS HUGEINT) AS sx,
         |    CAST(sum(x.v) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x.day AS HUGEINT) * x.day) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(x.day AS HUGEINT) * x.v) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(x.v AS HUGEINT) * x.v) AS HUGEINT) AS syy
         |  FROM x, mid GROUP BY 1),
         |ssr AS (
         |  SELECT sg, n,
         |    (CAST(n * syy - sy * sy AS DOUBLE)
         |      - CAST(n * sxy - sx * sy AS DOUBLE)
         |        / CAST(n * sxx - sx * sx AS DOUBLE)
         |        * CAST(n * sxy - sx * sy AS DOUBLE)) / n AS ssr
         |  FROM seg),
         |pool AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n,
         |    (CAST(sum(n) * sum(syy) - sum(sy) * sum(sy) AS DOUBLE)
         |      - CAST(sum(n) * sum(sxy) - sum(sx) * sum(sy) AS DOUBLE)
         |        / CAST(sum(n) * sum(sxx) - sum(sx) * sum(sx) AS DOUBLE)
         |        * CAST(sum(n) * sum(sxy) - sum(sx) * sum(sy) AS DOUBLE))
         |      / sum(n) AS ssr_p
         |  FROM seg),
         |parts AS (SELECT sum(ssr) AS ssr_ab FROM ssr)
         |SELECT pool.n AS n_days, mid.m AS break_day,
         |  floor(sqrt(pool.ssr_p / pool.n) * 1000000 + 0.5) / 1000000
         |    AS rmse_pooled,
         |  floor(sqrt(parts.ssr_ab / pool.n) * 1000000 + 0.5) / 1000000
         |    AS rmse_split,
         |  CASE WHEN parts.ssr_ab > 0 AND pool.n > 4 THEN
         |    floor(((pool.ssr_p - parts.ssr_ab) / 2)
         |      / (parts.ssr_ab / (pool.n - 4)) * 1000000 + 0.5) / 1000000
         |  END AS chow_f
         |FROM pool, parts, mid""".stripMargin }) { (s, dir) =>
      val x = dailyDollars(s, dir)
        .localCheckpoint() // feeds the midpoint and the segment sums
      val mid = x.agg(expr("(min(day) + max(day)) div 2").as("m"))
      val seg = x.crossJoin(broadcast(mid))
        .select(when(col("day") <= col("m"), 0).otherwise(1).as("sg"),
          col("day").cast("decimal(38,0)").as("dd"),
          col("v").cast("decimal(38,0)").as("vv"))
        .groupBy(col("sg"))
        .agg(count(lit(1)).as("n"), sum(col("dd")).as("sx"),
          sum(col("vv")).as("sy"), sum(col("dd") * col("dd")).as("sxx"),
          sum(col("dd") * col("vv")).as("sxy"),
          sum(col("vv") * col("vv")).as("syy"))
        .localCheckpoint() // feeds per-segment AND pooled SSR
      def ssrExpr(n: org.apache.spark.sql.Column,
          sx: org.apache.spark.sql.Column, sy: org.apache.spark.sql.Column,
          sxx: org.apache.spark.sql.Column, sxy: org.apache.spark.sql.Column,
          syy: org.apache.spark.sql.Column) =
        ((n.cast("decimal(38,0)") * syy - sy * sy).cast("double")
          - (n.cast("decimal(38,0)") * sxy - sx * sy).cast("double")
            / (n.cast("decimal(38,0)") * sxx - sx * sx).cast("double")
            * (n.cast("decimal(38,0)") * sxy - sx * sy).cast("double")) / n
      val parts = seg
        .select(ssrExpr(col("n"), col("sx"), col("sy"), col("sxx"),
          col("sxy"), col("syy")).as("ssr"))
        .agg(sum(col("ssr")).as("ssr_ab"))
      val pool = seg.agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
          sum(col("sy")).as("sy"), sum(col("sxx")).as("sxx"),
          sum(col("sxy")).as("sxy"), sum(col("syy")).as("syy"))
        .select(col("n"), ssrExpr(col("n"), col("sx"), col("sy"),
          col("sxx"), col("sxy"), col("syy")).as("ssr_p"))
      broadcast(pool).crossJoin(broadcast(parts)).crossJoin(broadcast(mid))
        .select(col("n").as("n_days"), col("m").as("break_day"),
          (floor(sqrt(col("ssr_p") / col("n")) * lit(1000000) + lit(0.5))
            / lit(1000000)).as("rmse_pooled"),
          (floor(sqrt(col("ssr_ab") / col("n")) * lit(1000000) + lit(0.5))
            / lit(1000000)).as("rmse_split"),
          when(col("ssr_ab") > 0 && col("n") > 4,
            floor(((col("ssr_p") - col("ssr_ab")) / 2)
              / (col("ssr_ab") / (col("n") - 4)) * lit(1000000) + lit(0.5))
              / lit(1000000)).as("chow_f"))
    },

    // B195: YUEN'S TRIMMED-MEANS TEST (Yuen 1974) between purchase
    // and view values — the ROBUST two-sample location test (B60's t
    // breaks under heavy tails, B114's Mann-Whitney changes the
    // hypothesis to stochastic dominance; Yuen keeps "do the means
    // differ" but 20%-trims each side and studentizes with the
    // winsorized variance). Exact spelling on the cents value grain:
    // per group g = n div 5 trimmed from each tail; the trim-window
    // membership of every cents level is exact interval arithmetic
    // on the prefix counts (copies = min(cum, hi) − max(cum−cnt,
    // lo−1) clamped ≥ 0); winsorized sums add L·(lo−1) and
    // U·(n−hi) with L/U the exact order statistics; SSDw =
    // (n·Σw² − (Σw)²)/n and d = SSDw/(h(h−1)) pinned double trees,
    // t ONE subtraction over ONE sqrt, 6dp floors. Scale shape: one
    // keyed cents agg (map-side combined) + the DistributedPrefixSum
    // pass; everything after on the two-row group relation.
    Q("yuen_trimmed_t",
      """WITH e AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 'p' ELSE 'v' END
        |    AS grp,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |v AS (SELECT grp, c, CAST(count(*) AS BIGINT) AS cnt
        |      FROM e GROUP BY 1, 2),
        |w AS (SELECT grp, c, cnt,
        |        CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY c) AS BIGINT)
        |          AS k
        |      FROM v),
        |t AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n,
        |        CAST(sum(cnt) // 5 AS BIGINT) AS g FROM v GROUP BY 1),
        |lu AS (
        |  SELECT t.grp, t.n, t.g,
        |    (SELECT min(c) FROM w WHERE w.grp = t.grp AND w.k >= t.g + 1)
        |      AS lo_v,
        |    (SELECT min(c) FROM w WHERE w.grp = t.grp AND w.k >= t.n - t.g)
        |      AS hi_v
        |  FROM t),
        |sums AS (
        |  SELECT w.grp,
        |    CAST(sum(w.c * greatest(CAST(0 AS BIGINT),
        |      least(w.k, lu.n - lu.g) - greatest(w.k - w.cnt, lu.g)))
        |      AS HUGEINT) AS tsum,
        |    CAST(sum(CAST(w.c AS HUGEINT) * w.c
        |      * greatest(CAST(0 AS BIGINT),
        |        least(w.k, lu.n - lu.g) - greatest(w.k - w.cnt, lu.g)))
        |      AS HUGEINT) AS tsq
        |  FROM w JOIN lu ON w.grp = lu.grp GROUP BY 1),
        |gst AS (
        |  SELECT lu.grp, lu.n, lu.g, lu.n - 2 * lu.g AS h,
        |    CAST(sums.tsum + lu.lo_v * lu.g + lu.hi_v * lu.g AS HUGEINT)
        |      AS ws,
        |    CAST(sums.tsq + CAST(lu.lo_v AS HUGEINT) * lu.lo_v * lu.g
        |      + CAST(lu.hi_v AS HUGEINT) * lu.hi_v * lu.g AS HUGEINT)
        |      AS wss,
        |    CAST(sums.tsum AS DOUBLE) / (lu.n - 2 * lu.g) AS tmean
        |  FROM lu JOIN sums ON lu.grp = sums.grp),
        |d AS (
        |  SELECT grp, n, h, tmean,
        |    (CAST(n * wss - ws * ws AS DOUBLE) / n)
        |      / (CAST(h AS DOUBLE) * (h - 1)) AS dv
        |  FROM gst)
        |SELECT p.n AS n1, v.n AS n2,
        |  floor(p.tmean * 1000000 + 0.5) / 1000000 AS tmean_purchase,
        |  floor(v.tmean * 1000000 + 0.5) / 1000000 AS tmean_view,
        |  CASE WHEN p.dv + v.dv > 0 THEN
        |    floor((p.tmean - v.tmean) / sqrt(p.dv + v.dv)
        |      * 1000000 + 0.5) / 1000000 END AS yuen_t
        |FROM d p, d v WHERE p.grp = 'p' AND v.grp = 'v'""".stripMargin) {
      (s, dir) =>
      val v = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select(when(col("event_type") === "purchase", "p").otherwise("v")
          .as("grp"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("grp"), col("c")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // prefix pass + totals read it
      val w = DistributedPrefixSum.running(v, "grp", Seq("c"), "cnt", "k")
        .localCheckpoint() // L/U lookups + the trim-window sum read it
      val t = v.groupBy(col("grp"))
        .agg(sum(col("cnt")).as("n"), expr("sum(cnt) div 5").as("g"))
      val wt = w.join(broadcast(t), Seq("grp"))
      val loV = wt.filter(col("k") >= col("g") + 1)
        .groupBy(col("grp")).agg(min(col("c")).as("lo_v"))
      val hiV = wt.filter(col("k") >= col("n") - col("g"))
        .groupBy(col("grp")).agg(min(col("c")).as("hi_v"))
      val copies = greatest(lit(0L),
        least(col("k"), col("n") - col("g"))
          - greatest(col("k") - col("cnt"), col("g")))
      val sums = wt.select(col("grp"),
          (col("c").cast("decimal(38,0)") * copies).as("tc"),
          (col("c").cast("decimal(38,0)") * col("c") * copies).as("tc2"))
        .groupBy(col("grp"))
        .agg(sum(col("tc")).as("tsum"), sum(col("tc2")).as("tsq"))
      val gst = t.join(broadcast(loV), Seq("grp"))
        .join(broadcast(hiV), Seq("grp"))
        .join(broadcast(sums), Seq("grp"))
        .select(col("grp"), col("n"), (col("n") - col("g") * 2).as("h"),
          (col("tsum") + col("lo_v").cast("decimal(38,0)") * col("g")
            + col("hi_v").cast("decimal(38,0)") * col("g")).as("ws"),
          (col("tsq")
            + col("lo_v").cast("decimal(38,0)") * col("lo_v") * col("g")
            + col("hi_v").cast("decimal(38,0)") * col("hi_v") * col("g"))
            .as("wss"),
          (col("tsum").cast("double") / (col("n") - col("g") * 2))
            .as("tmean"))
      val d = gst.select(col("grp"), col("n"), col("h"), col("tmean"),
        (((col("n").cast("decimal(38,0)") * col("wss")
          - col("ws") * col("ws")).cast("double") / col("n"))
          / (col("h").cast("double") * (col("h") - 1))).as("dv"))
      val p = d.filter(col("grp") === "p")
        .select(col("n").as("n1"), col("tmean").as("tm1"),
          col("dv").as("dv1"))
      val vv = d.filter(col("grp") === "v")
        .select(col("n").as("n2"), col("tmean").as("tm2"),
          col("dv").as("dv2"))
      broadcast(p).crossJoin(broadcast(vv))
        .select(col("n1"), col("n2"),
          (floor(col("tm1") * lit(1000000) + lit(0.5)) / lit(1000000))
            .as("tmean_purchase"),
          (floor(col("tm2") * lit(1000000) + lit(0.5)) / lit(1000000))
            .as("tmean_view"),
          when(col("dv1") + col("dv2") > 0,
            floor((col("tm1") - col("tm2")) / sqrt(col("dv1") + col("dv2"))
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("yuen_t"))
    },

    // C155: ISOTONIC CALIBRATION (PAVA — Zadrozny & Elkan KDD 2002;
    // Barlow et al. 1972) of the conversion rate against the
    // account-balance decile score: THE production probability-
    // calibration step after any trained filter (C91 DIAGNOSES
    // mis-calibration, this FIXES it — the monotone regression that
    // maps raw scores to honest probabilities). Exact spelling: PAVA
    // computed via its max-min characterization iso_d =
    // max_{j≤d} min_{k≥d} rate(j..k) — on ≤10 bins that is a 55-row
    // interval relation with EXACT integer (Σpos, Σn) prefix sums;
    // rates compared as pos·10¹² div n integer keys (distinct
    // rationals collide only below 1e-12 — both engines quantize
    // identically), read out in exact micro-units (NO doubles
    // anywhere). Deciles at the EXACT bracket-rank cut values
    // (DistributedQuantile.cutValues — rank selection, engine-stable
    // by construction; the decile_lift precedent). Scale shape: one
    // broadcast-cut corpus pass + one anti-joinable converted flag;
    // everything after on the 10-row model relation.
    Q("isotonic_calibration",
      s"""WITH conv AS (
         |  SELECT c_custkey, c_acctbal,
         |    CASE WHEN c_custkey IN (SELECT o_custkey FROM orders)
         |      THEN 1 ELSE 0 END AS pos
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
         |  SELECT CAST(${(1 to 9).map(k => s"(CASE WHEN c_acctbal > b$k THEN 1 ELSE 0 END)").mkString(" + ")} AS INT) AS bin,
         |    pos
         |  FROM conv, b),
         |g AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(pos) AS BIGINT) AS pos
         |  FROM d GROUP BY bin),
         |pre AS (
         |  SELECT bin, n, pos,
         |    CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i,
         |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
         |    CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
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
         |SELECT p.bin AS decile, p.n, p.pos,
         |  CAST((p.pos * 1000000) // p.n AS BIGINT) AS raw_micro,
         |  CAST(iso.iso_q // 1000000 AS BIGINT) AS iso_micro
         |FROM pre p JOIN iso ON p.i = iso.i""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.operators.DistributedQuantile
      val cust = table(s, dir, "customer")
      val conv = cust
        .join(table(s, dir, "orders").select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_acctbal"),
          when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("pos"))
      val bps = DistributedQuantile
        .cutValues(cust.withColumn("_g", lit("all")), "_g", "c_acctbal",
          (1 to 9).map(k => (s"b$k", k, 10)))
        .drop("g").drop((1 to 9).map(k => s"b${k}_rem"): _*)
      val bin = (1 to 9)
        .map(k => (col("c_acctbal") > col(s"b$k")).cast("int"))
        .reduce(_ + _)
      val g = conv.crossJoin(broadcast(bps))
        .select(bin.cast("int").as("bin"), col("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("pos"))
      val pre = g.select(col("bin"), col("n"), col("pos"),
          row_number().over(Window.orderBy(col("bin"))).cast("long").as("i"),
          sum(col("n")).over(Window.orderBy(col("bin"))).as("cn"),
          sum(col("pos")).over(Window.orderBy(col("bin"))).as("cp"))
        .localCheckpoint() // the 10-row model relation, read 3x
      val a = pre.select(col("i").as("j"), col("n").as("na"),
        col("cn").as("cna"), col("pos").as("pa"), col("cp").as("cpa"))
      val z = pre.select(col("i").as("k"), col("n").as("nz"),
        col("cn").as("cnz"), col("pos").as("pz"), col("cp").as("cpz"))
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
        .select(col("bin").as("decile"), col("n"), col("pos"),
          expr("(pos * 1000000) div n").as("raw_micro"),
          expr("cast(iso_q div 1000000 as bigint)").as("iso_micro"))
    },

    // C153: BRADLEY-TERRY PREFERENCE-STRENGTH FIT (Bradley & Terry
    // 1952; the MM algorithm of Hunter 2004) — the model behind
    // reward modeling on pairwise preference data (C120 CONSTRUCTS
    // DPO preference pairs; BT is what you FIT on them to get
    // per-item strengths and Elo-style rankings). Tournament: on
    // each day where both priorities traded, priority i beats j if
    // its daily revenue is strictly higher — exact integer win
    // counts w_ij. Fit: 8 FIXED MM iterations p_i ← W_i / Σ_j
    // g_ij/(p_i+p_j) (g = w_ij + w_ji), each inner sum an ascending-j
    // fold from 0.0 (the B128/ADC ordered-fold convention) so every
    // intermediate double is bit-identical to DuckDB's recursive-CTE
    // replay carrying the 5-strength DOUBLE[] state (the B128
    // list-state precedent — base case CAST, the documented DuckDB
    // literal-typing trap); zero-game items hold their strength
    // (stated CASE, both engines). The 5×5 matrix is the only
    // collect — guarded model-size. Scale shape: one keyed (day,
    // priority) agg + one day-keyed model join; the fit is O(k²·8)
    // on k = 5.
    Q("bradley_terry", {
      val denom = (pv: String) =>
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(range(1, 6), j ->
           |    CASE WHEN j <> i AND m[CAST(i AS INT)][CAST(j AS INT)]
           |        + m[CAST(j AS INT)][CAST(i AS INT)] > 0
           |      THEN CAST(m[CAST(i AS INT)][CAST(j AS INT)]
           |        + m[CAST(j AS INT)][CAST(i AS INT)] AS DOUBLE)
           |        / ($pv[CAST(i AS INT)] + $pv[CAST(j AS INT)])
           |      ELSE CAST(0.0 AS DOUBLE) END)),
           |  (a, b) -> a + b)""".stripMargin
      s"""WITH RECURSIVE o AS (
         |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
         |    CAST(substr(o_orderpriority, 1, 1) AS INT) AS p,
         |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |      AS cents
         |  FROM orders GROUP BY 1, 2),
         |pair AS (
         |  SELECT a.p AS i, b.p AS j,
         |    CAST(count(*) FILTER (a.cents > b.cents) AS BIGINT) AS w
         |  FROM o a JOIN o b ON a.day = b.day AND a.p <> b.p
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT CAST(gi.i AS INT) AS i, CAST(gj.j AS INT) AS j
         |  FROM (SELECT unnest(range(1, 6)) AS i) gi,
         |       (SELECT unnest(range(1, 6)) AS j) gj),
         |cells AS (
         |  SELECT g.i, g.j, CAST(coalesce(pair.w, 0) AS BIGINT) AS w
         |  FROM grid g LEFT JOIN pair ON g.i = pair.i AND g.j = pair.j),
         |rows_ AS (
         |  SELECT i, list(w ORDER BY j) AS wr FROM cells GROUP BY i),
         |base AS (SELECT list(wr ORDER BY i) AS m FROM rows_),
         |it AS (
         |  SELECT 0 AS step,
         |    CAST([1.0, 1.0, 1.0, 1.0, 1.0] AS DOUBLE[]) AS p
         |  UNION ALL
         |  SELECT step + 1,
         |    list_transform(range(1, 6), i ->
         |      CASE WHEN ${denom("it.p")} > 0
         |        THEN CAST(list_sum(m[CAST(i AS INT)]) AS DOUBLE)
         |          / ${denom("it.p")}
         |        ELSE it.p[CAST(i AS INT)] END)
         |  FROM it, base WHERE step < 8),
         |fin AS (SELECT p FROM it WHERE step = 8),
         |stats AS (
         |  SELECT c.i AS priority,
         |    CAST(sum(c.w) AS BIGINT) AS wins,
         |    CAST(sum(c.w) + sum(d.w) AS BIGINT) AS games
         |  FROM cells c JOIN cells d ON c.i = d.j AND c.j = d.i
         |  GROUP BY 1)
         |SELECT s.priority, s.wins, s.games,
         |  floor(f.p[s.priority] * 1000000 + 0.5) / 1000000 AS strength
         |FROM stats s, fin f""".stripMargin }) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("p"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day"), col("p")).agg(sum(col("cents")).as("cents"))
        .localCheckpoint() // both tournament sides read it
      val pair = o.as("a").join(o.as("b"),
          col("a.day") === col("b.day") && col("a.p") =!= col("b.p"))
        .groupBy(col("a.p").as("i"), col("b.p").as("j"))
        .agg(sum((col("a.cents") > col("b.cents")).cast("long")).as("w"))
      // the only collect: the k×k win matrix, model-sized (k = 5)
      val rows = pair.collect()
      require(rows.length <= 25,
        s"bradley_terry: ${rows.length} matrix cells exceed the model bound")
      val w = Array.ofDim[Long](6, 6)
      rows.foreach { r =>
        w(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Long]("w") }
      var p = Array.fill(6)(1.0)
      for (_ <- 1 to 8) {
        val np = new Array[Double](6)
        for (i <- 1 to 5) {
          // ascending-j fold from 0.0 — the exact DuckDB list_reduce
          var denom = 0.0
          for (j <- 1 to 5)
            denom += (if (j != i && w(i)(j) + w(j)(i) > 0)
              (w(i)(j) + w(j)(i)).toDouble / (p(i) + p(j))
            else 0.0)
          val wi = (1 to 5).map(j => w(i)(j)).sum.toDouble
          np(i) = if (denom > 0) wi / denom else p(i)
        }
        p = np
      }
      val out = (1 to 5).map { i =>
        val wins = (1 to 5).map(j => w(i)(j)).sum
        val games = wins + (1 to 5).map(j => w(j)(i)).sum
        (i, wins, games, math.floor(p(i) * 1000000 + 0.5) / 1000000)
      }
      import s.implicits._
      out.toDF("priority", "wins", "games", "strength")
    },

    // C156: UNBIASED pass@k ESTIMATOR (round 12; Chen et al. 2021,
    // the HumanEval appendix formula — THE statistic every LLM code
    // eval reports): pass@k = 1 − C(n−c, k)/C(n, k) per task, which
    // the naive c/n-based plug-in gets wrong (it's biased for k <
    // n). Task = user, attempts = events, successes = purchases,
    // k = 3 pinned. Exact spelling: the combinatorial ratio
    // telescopes to Π_{i<k}(n−c−i)/(n−i) — numerator and denominator
    // as 3-term products WIDENED to HUGEINT/DECIMAL(38,0) before
    // multiplying (the file convention: a raw-BIGINT (n−c)³·10⁶
    // silently wraps in non-ANSI Spark past ~21k events/user while
    // DuckDB raises — wrong answer vs loud error at clone scale),
    // pass in micro-units via ONE
    // integer floor division (n−c < k ⇒ pass = 1 exactly, the
    // stated branch); the corpus mean is an exact integer division
    // of micro-unit sums. Scale shape: ONE map-side-combinable keyed
    // count — nothing after exceeds the task relation.
    Q("pass_at_k",
      """WITH t AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |e AS (SELECT * FROM t WHERE n >= 3),
        |pk AS (
        |  SELECT user_id,
        |    CASE WHEN n - c < 3 THEN CAST(1000000 AS BIGINT)
        |      ELSE CAST(1000000 - (CAST(n - c AS HUGEINT) * (n - c - 1)
        |        * (n - c - 2) * 1000000)
        |        // (CAST(n AS HUGEINT) * (n - 1) * (n - 2)) AS BIGINT)
        |      END AS pass_micro
        |  FROM e)
        |SELECT CAST(3 AS INT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_tasks,
        |  CAST(sum(CASE WHEN pass_micro = 1000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_certain,
        |  CAST(sum(pass_micro) // count(*) AS BIGINT) AS mean_pass_micro
        |FROM pk""".stripMargin) { (s, dir) =>
      val t = table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum((col("event_type") === "purchase").cast("long")).as("c"))
        .filter(col("n") >= 3)
      val pk = t.select(
        when(col("n") - col("c") < 3, lit(1000000L))
          .otherwise(lit(1000000) - expr(
            """(cast(n - c as decimal(38,0)) * (n - c - 1) * (n - c - 2)
              |  * 1000000)
              |  div (cast(n as decimal(38,0)) * (n - 1) * (n - 2))""".stripMargin))
          .as("pass_micro"))
      pk.agg(count(lit(1)).as("n_tasks"),
          sum(when(col("pass_micro") === 1000000L, 1L).otherwise(0L))
            .as("n_certain"),
          expr("sum(pass_micro) div count(*)").as("mean_pass_micro"))
        .select(lit(3).cast("int").as("k"), col("n_tasks"),
          col("n_certain"), col("mean_pass_micro"))
    },

    // B198: CAPTURE-RECAPTURE population estimate (round 12;
    // Lincoln-Petersen with Chapman's 1951 bias correction) — the
    // "how many users exist that we never saw" estimator (ecology's
    // mark-recapture, used in DQ for coverage estimation and in
    // dedup for unseen-duplicate mass): occasion A = users active in
    // the first half of the calendar range, B = second half, N̂ =
    // (n_A+1)(n_B+1)/(m+1) − 1. This corpus KNOWS its ground truth,
    // so the row carries the audit the field method can't have:
    // estimate vs true distinct users (the estimator is unbiased
    // only under equal catchability — the gap IS the finding).
    // Exact: all counts integers, Chapman ONE integer floor
    // division. Scale shape: one keyed per-user min/max day agg.
    Q("capture_recapture",
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |b AS (SELECT (min(day) + max(day)) // 2 AS mid FROM e),
        |u AS (
        |  SELECT user_id,
        |    max(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN day > mid THEN 1 ELSE 0 END) AS in_b
        |  FROM e, b GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
        |    CAST(sum(in_b) AS BIGINT) AS n_b,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
        |    CAST(count(*) AS BIGINT) AS true_users
        |  FROM u)
        |SELECT n_a, n_b, n_both,
        |  CAST(((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 AS BIGINT)
        |    AS chapman_est,
        |  true_users
        |FROM s""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      val b = e.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val u = e.crossJoin(broadcast(b))
        .groupBy(col("user_id"))
        .agg(max(when(col("day") <= col("mid"), 1).otherwise(0)).as("in_a"),
          max(when(col("day") > col("mid"), 1).otherwise(0)).as("in_b"))
      u.agg(sum(col("in_a")).cast("long").as("n_a"),
          sum(col("in_b")).cast("long").as("n_b"),
          sum(col("in_a") * col("in_b")).cast("long").as("n_both"),
          count(lit(1)).as("true_users"))
        .select(col("n_a"), col("n_b"), col("n_both"),
          expr("((n_a + 1) * (n_b + 1)) div (n_both + 1) - 1")
            .as("chapman_est"),
          col("true_users"))
    },

    // B199: TURNING-POINT TEST (round 12; Kendall 1962 §3 — the
    // local-extrema randomness test) on the zero-filled daily
    // revenue series: T = # strict local peaks/troughs, E[T] =
    // 2(n−2)/3, Var = (16n−29)/90 under i.i.d. — the third
    // randomness lens beside B144's median-runs (level crossings)
    // and B191's von Neumann (variance of differences): turning
    // points see OSCILLATION structure both miss. Exact: T is an
    // integer count of sign patterns on exact dollar diffs (ties are
    // never turning points — strict inequalities, stated); z =
    // (3T − 2(n−2)) / 3 / sqrt((16n−29)/90) a pinned double tree
    // with exact integer leaves, 6dp floor. Scale shape: one keyed
    // day agg; the triple join is calendar-sized.
    Q("turning_point_test", {
      s"""WITH $dailyDollarsSql,
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
         |tp AS (
         |  SELECT CAST(count(*) AS BIGINT) AS t FROM x a
         |  JOIN x b ON b.day = a.day + 1
         |  JOIN x c ON c.day = a.day + 2
         |  WHERE (b.v > a.v AND b.v > c.v) OR (b.v < a.v AND b.v < c.v))
         |SELECT s.n AS n_days, tp.t AS turning_points,
         |  CASE WHEN s.n >= 4 THEN
         |    floor((3 * tp.t - 2 * (s.n - 2)) / 3.0
         |      / sqrt((16 * s.n - 29) / 90.0) * 1000000 + 0.5) / 1000000
         |  END AS z
         |FROM s, tp""".stripMargin }) { (s, dir) =>
      val x = dailyDollars(s, dir)
        .localCheckpoint() // the count and the triple join read it
      val st = x.agg(count(lit(1)).as("n"))
      val a = x.select(col("day").as("da"), col("v").as("va"))
      val b = x.select(col("day").as("db"), col("v").as("vb"))
      val c = x.select(col("day").as("dc"), col("v").as("vc"))
      val tp = a.join(b, col("db") === col("da") + 1)
        .join(c, col("dc") === col("da") + 2)
        .filter((col("vb") > col("va") && col("vb") > col("vc")) ||
          (col("vb") < col("va") && col("vb") < col("vc")))
        .agg(count(lit(1)).as("t"))
      broadcast(st).crossJoin(broadcast(tp))
        .select(col("n").as("n_days"), col("t").as("turning_points"),
          when(col("n") >= 4,
            floor((lit(3) * col("t") - lit(2) * (col("n") - 2)) / lit(3.0)
              / sqrt((lit(16) * col("n") - 29) / lit(90.0))
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("z"))
    })
}
