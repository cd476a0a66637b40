package graft.queries

import graft.GraftSession.table
import graft.operators.VectorOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 closing wave 2: regression diagnostics and seasonal trend.
  * Conventions as PinnacleQueries (exact integers → one pinned
  * division, 6dp floor; day = epoch // 86400; cents = floor(v·100)).
  */
object PinnacleQueries2 {

  val all: Seq[Q] = Seq(

    // B160: OLS LEVERAGE / INFLUENCE diagnostics (Hoaglin & Welsch
    // 1978's hat matrix) for the daily-revenue-on-time regression
    // (B73's trend line): h_i = 1/n + (x_i−x̄)²/Σ(x_j−x̄)² — which
    // days DOMINATE the fitted trend; the outlier-vs-influence
    // distinction B153's Grubbs can't make (an extreme y mid-sample
    // has low leverage; a mild y at the calendar edge has high).
    // Exactness: with dev_i = n·x_i − Σx (exact BIGINT, x = day
    // index), h_i = 1/n + dev_i²/Σdev² — two divisions of exact
    // integers (Σdev² in DECIMAL(38,0)/HUGEINT), 6dp floor; flag at
    // the textbook 2p/n = 4/n cut. Scale shape: one keyed day agg;
    // day-grain after (calendar-bounded).
    Q("ols_influence",
      """WITH d AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(day) AS BIGINT) AS sx FROM d),
        |dev AS (
        |  SELECT d.day, d.cents, s.n,
        |    CAST(s.n * d.day - s.sx AS HUGEINT) AS dv
        |  FROM d, s),
        |dd AS (SELECT sum(dv * dv) AS dd FROM dev),
        |h AS (
        |  SELECT dev.day, dev.cents, dev.n,
        |    1.0 / dev.n + CAST(dev.dv * dev.dv AS DOUBLE)
        |      / CAST(dd.dd AS DOUBLE) AS hraw
        |  FROM dev, dd)
        |SELECT day, cents,
        |  floor(hraw * 1000000 + 0.5) / 1000000 AS leverage,
        |  CAST(CASE WHEN hraw > 4.0 / n THEN 1 ELSE 0 END AS INT)
        |    AS high_leverage
        |FROM h""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
        .localCheckpoint() // feeds the moment pass and the dev pass
      val st = d.agg(count(lit(1)).as("n"), sum(col("day")).as("sx"))
      val dev = d.crossJoin(broadcast(st))
        .select(col("day"), col("cents"), col("n"),
          (col("n").cast("decimal(38,0)") * col("day") - col("sx"))
            .as("dv"))
        .localCheckpoint() // feeds Σdev² and the per-day read-out
      val dd = dev.agg(sum(col("dv") * col("dv")).as("dd"))
      dev.crossJoin(broadcast(dd))
        .withColumn("hraw",
          lit(1.0) / col("n")
            + (col("dv") * col("dv")).cast("double") / col("dd").cast("double"))
        .select(col("day"), col("cents"),
          (floor(col("hraw") * 1000000 + lit(0.5)) / 1000000).as("leverage"),
          when(col("hraw") > lit(4.0) / col("n"), lit(1)).otherwise(lit(0))
            .cast("int").as("high_leverage"))
    },

    // B161: SEASONAL MANN-KENDALL (Hirsch & Slack 1984 — the
    // water-quality-monitoring standard): B152's MK run WITHIN each
    // day-of-week sub-series, S and tie-corrected var SUMMED across
    // the 7 seasons — a weekly cycle no longer masquerades as (or
    // masks) a monotone trend. Same exactness contract as B152
    // (BIGINT S/var18, two IEEE ops for z, 6dp); pair joins stay on
    // the calendar-bounded day grain, now 7 sub-series of n/7 each
    // (≈ 7·(n/7)²/2 comparisons — SMALLER than B152's single join).
    Q("seasonal_mann_kendall",
      """WITH d AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 % 7
        |      AS dow,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |s AS (
        |  SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
        |    WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM d a JOIN d b ON a.dow = b.dow AND b.day > a.day),
        |n AS (
        |  SELECT CAST(coalesce(sum(nk * (nk - 1) * (2 * nk + 5)), 0)
        |    AS BIGINT) AS base18
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS nk
        |        FROM d GROUP BY dow) g),
        |ties AS (
        |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
        |    AS BIGINT) AS tie_term
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        |        FROM d GROUP BY dow, cents) tt WHERE t > 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |        CAST(count(DISTINCT dow) AS BIGINT) AS n_seasons FROM d),
        |v AS (
        |  SELECT tot.n_days, tot.n_seasons, s.s_stat,
        |    n.base18 - ties.tie_term AS var18
        |  FROM n, s, ties, tot)
        |SELECT n_days, n_seasons, s_stat, var18 AS var_s_x18,
        |  CASE WHEN var18 > 0 AND s_stat <> 0 THEN
        |    floor((CAST(s_stat AS DOUBLE)
        |        - CASE WHEN s_stat > 0 THEN 1 ELSE -1 END)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000 + 0.5)
        |      / 1000000
        |    ELSE 0.0 END AS z
        |FROM v""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          expr("unix_timestamp(o_orderdate) div 86400 % 7").as("dow"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day"), col("dow")).agg(sum(col("cents")).as("cents"))
        .localCheckpoint() // feeds pairs, season sizes, and ties
      val a = d.select(col("dow"), col("day").as("da"), col("cents").as("ca"))
      val b = d.select(col("dow"), col("day").as("db"), col("cents").as("cb"))
      val st = a.join(b, Seq("dow")).filter(col("db") > col("da"))
        .agg(sum(when(col("cb") > col("ca"), lit(1L))
          .when(col("cb") < col("ca"), lit(-1L)).otherwise(lit(0L)))
          .as("s_stat"))
      val base = d.groupBy(col("dow")).agg(count(lit(1)).as("nk"))
        .agg(coalesce(sum(col("nk") * (col("nk") - 1)
          * (lit(2) * col("nk") + 5)), lit(0L)).as("base18"))
      val ties = d.groupBy(col("dow"), col("cents"))
        .agg(count(lit(1)).as("t")).filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1)
          * (lit(2) * col("t") + 5)), lit(0L)).as("tie_term"))
      val tot = d.agg(count(lit(1)).as("n_days"),
        countDistinct(col("dow")).as("n_seasons"))
      broadcast(tot).crossJoin(broadcast(st)).crossJoin(broadcast(base))
        .crossJoin(broadcast(ties))
        .select(col("n_days"), col("n_seasons"), col("s_stat"),
          (col("base18") - col("tie_term")).as("var18"))
        .select(col("n_days"), col("n_seasons"), col("s_stat"),
          col("var18").as("var_s_x18"),
          when(col("var18") > 0 && col("s_stat") =!= 0,
            floor((col("s_stat").cast("double")
                - when(col("s_stat") > 0, lit(1.0)).otherwise(lit(-1.0)))
              / sqrt(col("var18").cast("double") / 18.0)
              * lit(1000000) + lit(0.5)) / lit(1000000))
            .otherwise(lit(0.0)).as("z"))
    },

    // B162: RESCALED-RANGE (R/S) TABLE (Hurst 1951; Mandelbrot &
    // Wallis 1969) over the zero-filled daily revenue grid — the
    // long-memory diagnostic: per dyadic window size w ∈ {64, 128,
    // 256}, each complete block's R = range of mean-adjusted
    // cumulative deviations, S = block stddev; persistent series
    // grow R/S faster than √w. (The log-log slope is left to the
    // reader — no live log in the determinism contract; the per-size
    // table IS the diagnostic.) Exactness: Z'_t = w·prefix_t − t·S_b
    // is an exact BIGINT (range R = (maxZ'−minZ')/w one division);
    // S via the exact integer w·Σx²−S_b² (DECIMAL(38,0)/HUGEINT)
    // into one sqrt; mean R/S per size is a block-ascending ORDERED
    // fold, 6dp. Scale shape: one keyed day agg; grid/blocks are
    // day-grain (calendar-bounded — block count is CONSTANT in
    // corpus size).
    Q("hurst_rescaled_range",
      """WITH o AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
        |grid AS (
        |  SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) - d0 AS t,
        |    d0 FROM bounds),
        |x AS (
        |  SELECT g.t, CAST(coalesce(o.cents, 0) AS BIGINT) AS v
        |  FROM grid g LEFT JOIN o ON g.t + g.d0 = o.day),
        |ws AS (SELECT CAST(unnest([64, 128, 256]) AS BIGINT) AS w),
        |blk AS (
        |  SELECT ws.w, x.t // ws.w AS b, x.t % ws.w + 1 AS i, x.v
        |  FROM x, ws
        |  WHERE x.t // ws.w < (SELECT (max(t) + 1) // ws.w FROM x)),
        |pre AS (
        |  SELECT w, b, i, v,
        |    CAST(sum(v) OVER (PARTITION BY w, b ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        |  FROM blk),
        |bs AS (
        |  SELECT w, b, CAST(sum(v) AS BIGINT) AS sb,
        |    CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS qb
        |  FROM pre GROUP BY 1, 2),
        |z AS (
        |  SELECT p.w, p.b,
        |    CAST(max(p.w * p.p - p.i * bs.sb) AS BIGINT) AS zmax,
        |    CAST(min(p.w * p.p - p.i * bs.sb) AS BIGINT) AS zmin
        |  FROM pre p JOIN bs ON p.w = bs.w AND p.b = bs.b
        |  GROUP BY 1, 2),
        |rs AS (
        |  SELECT z.w, z.b,
        |    CASE WHEN CAST(z.w AS HUGEINT) * bs.qb
        |        > CAST(bs.sb AS HUGEINT) * bs.sb THEN
        |      (CAST(z.zmax - z.zmin AS DOUBLE) / z.w)
        |        / sqrt(CAST(CAST(z.w AS HUGEINT) * bs.qb
        |            - CAST(bs.sb AS HUGEINT) * bs.sb AS DOUBLE)
        |          / (CAST(z.w AS DOUBLE) * z.w))
        |    END AS rsv
        |  FROM z JOIN bs ON z.w = bs.w AND z.b = bs.b),
        |m AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(coalesce(rsv, 0.0) ORDER BY b)), (a, v) -> a + v)
        |      AS s_rs
        |  FROM rs GROUP BY w)
        |SELECT w AS window_days, n_blocks,
        |  floor(s_rs / n_blocks * 1000000 + 0.5) / 1000000 AS mean_rs
        |FROM m""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
      val bounds = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val x = bounds
        .select(explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"),
          col("d0"))
        .join(o, col("t") + col("d0") === col("day"), "left")
        .select(col("t"), coalesce(col("cents"), lit(0L)).as("v"))
        .localCheckpoint() // day-grain; feeds every window size
      val tmax = x.agg(max(col("t")).as("tm"))
      val ws = s.createDataFrame(Seq(64L, 128L, 256L).map(Tuple1.apply))
        .toDF("w")
      val blk = x.crossJoin(broadcast(ws)).crossJoin(broadcast(tmax))
        .filter(expr("t div w") < expr("(tm + 1) div w"))
        .select(col("w"), expr("t div w").as("b"),
          (col("t") % col("w") + 1).as("i"), col("v"))
      // per-(w, block) windows: block size ≤ 256 rows — bounded
      val pre = blk.withColumn("p",
        sum(col("v")).over(Window.partitionBy(col("w"), col("b"))
          .orderBy(col("i"))))
      val bs = blk.groupBy(col("w"), col("b"))
        .agg(sum(col("v")).as("sb"),
          sum(col("v").cast("decimal(38,0)") * col("v")).as("qb"))
      val z = pre.join(bs, Seq("w", "b"))
        .groupBy(col("w"), col("b"), col("sb"), col("qb"))
        .agg(max(col("w") * col("p") - col("i") * col("sb")).as("zmax"),
          min(col("w") * col("p") - col("i") * col("sb")).as("zmin"))
      val rs = z.select(col("w"), col("b"),
        when(col("w").cast("decimal(38,0)") * col("qb")
          > col("sb").cast("decimal(38,0)") * col("sb"),
          ((col("zmax") - col("zmin")).cast("double") / col("w"))
            / sqrt((col("w").cast("decimal(38,0)") * col("qb")
                - col("sb").cast("decimal(38,0)") * col("sb")).cast("double")
              / (col("w").cast("double") * col("w")))).as("rsv"))
      rs.groupBy(col("w"))
        .agg(count(lit(1)).as("n_blocks"),
          aggregate(transform(sort_array(collect_list(struct(col("b"),
            coalesce(col("rsv"), lit(0.0)).as("r")))),
            v => v.getField("r")), lit(0.0), (a, v) => a + v).as("s_rs"))
        .select(col("w").as("window_days"), col("n_blocks"),
          (floor(col("s_rs") / col("n_blocks") * lit(1000000) + lit(0.5))
            / lit(1000000)).as("mean_rs"))
    },

    // B163: DURBIN-WATSON autocorrelated-residuals test (Durbin &
    // Watson Biometrika 1950) on the daily-revenue trend regression —
    // "is the OLS trend line (B73) even valid": DW = Σ(e_t−e_{t−1})²
    // / Σe_t² ≈ 2(1−ρ₁) of the RESIDUALS (B124's ACF diagnoses the
    // raw series; DW diagnoses what the trend fit leaves behind).
    // Exactness: the scaled residual E_t = dy_t·Σdx² − dx_t·Σdxdy is
    // an exact DECIMAL(38,0)/HUGEINT integer (the common positive
    // scale n·Σdx² cancels in the ratio); E² would pass 38 digits,
    // so both sums run as day-ascending ORDERED double folds over
    // the identical exact integers (the ADC convention), ONE
    // division, 6dp floor. Scale shape: one keyed day agg; the
    // residual array is day-grain (calendar-bounded, clone-constant).
    Q("durbin_watson",
      """WITH d AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(day) AS BIGINT) AS sx,
        |             CAST(sum(cents) AS BIGINT) AS sy FROM d),
        |dev AS (
        |  SELECT d.day,
        |    CAST(s.n * d.day - s.sx AS HUGEINT) AS dx,
        |    CAST(s.n * d.cents - s.sy AS HUGEINT) AS dy
        |  FROM d, s),
        |mm AS (SELECT sum(dx * dx) AS dxx, sum(dx * dy) AS dxy FROM dev),
        |e AS (
        |  SELECT dev.day,
        |    CAST(dev.dy * mm.dxx - dev.dx * mm.dxy AS DOUBLE) AS ev
        |  FROM dev, mm),
        |l AS (SELECT list(ev ORDER BY day) AS es,
        |             CAST(count(*) AS BIGINT) AS n FROM e),
        |f AS (
        |  SELECT n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(2, CAST(n + 1 AS INT)), i ->
        |        (es[CAST(i AS INT)] - es[CAST(i - 1 AS INT)])
        |        * (es[CAST(i AS INT)] - es[CAST(i - 1 AS INT)]))),
        |      (a, v) -> a + v) AS num,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(es, v -> v * v)), (a, v) -> a + v) AS den
        |  FROM l)
        |SELECT n AS n_days,
        |  CASE WHEN den > 0 THEN
        |    floor(num / den * 1000000 + 0.5) / 1000000 END AS dw
        |FROM f""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
        .localCheckpoint() // feeds moments and residuals
      val st = d.agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
        sum(col("cents")).as("sy"))
      val dev = d.crossJoin(broadcast(st))
        .select(col("day"),
          (col("n").cast("decimal(38,0)") * col("day") - col("sx"))
            .as("dx"),
          (col("n").cast("decimal(38,0)") * col("cents") - col("sy"))
            .as("dy"), col("n"))
        .localCheckpoint() // feeds the moment agg and the residuals
      val mm = dev.agg(sum(col("dx") * col("dx")).as("dxx"),
        sum(col("dx") * col("dy")).as("dxy"))
      val e = dev.crossJoin(broadcast(mm))
        .select(col("day"), col("n"),
          (col("dy") * col("dxx") - col("dx") * col("dxy")).cast("double")
            .as("ev"))
      // day-grain ordered folds (the ADC convention): one array of
      // calendar-bounded length, both sums in day order
      val f = e.agg(first(col("n")).as("n"),
          transform(sort_array(collect_list(struct(col("day"), col("ev")))),
            v => v.getField("ev")).as("es"))
        .select(col("n"),
          aggregate(expr(
            """transform(sequence(2, size(es)),
              |  i -> (element_at(es, i) - element_at(es, i - 1))
              |     * (element_at(es, i) - element_at(es, i - 1)))"""
              .stripMargin),
            lit(0.0), (a, v) => a + v).as("num"),
          aggregate(transform(col("es"), v => v * v), lit(0.0),
            (a, v) => a + v).as("den"))
      f.select(col("n").as("n_days"),
        when(col("den") > 0,
          floor(col("num") / col("den") * lit(1000000) + lit(0.5))
            / lit(1000000)).as("dw"))
    },

    // C133: KEYFRAME SELECTION per shot — the representative-frame
    // pick that feeds image dedup/captioning once C121 has segmented
    // shots (Zhuang et al. 1998's change-maximal keyframe rule):
    // within each shot, the frame with the LARGEST L1 distance to its
    // predecessor (the most change-bearing frame), tie-break (dist
    // DESC, frame ASC); a shot's first frame carries dist 0, so
    // single-frame shots select themselves. Distances are exact
    // dyadic rationals (the C20 2⁻¹⁶ contract — the C115 cut metric
    // verbatim), so the argmax replays bit-for-bit. Scale shape: the
    // C20 map-only explode + doc-partitioned bounded windows
    // (frames/doc ≤ payload/128) + one keyed argmax.
    Q("mm_keyframe_select", {
      s"""WITH ${MediaOracle.frameFeatureCtes(step = 2)},
         |fd AS (
         |  SELECT doc_id, f, feats,
         |    lag(feats) OVER (PARTITION BY doc_id ORDER BY f) AS pfeats
         |  FROM ft),
         |cut AS (
         |  SELECT doc_id, f,
         |    CASE WHEN pfeats IS NULL THEN 0.0 ELSE
         |      list_reduce(list_prepend(0.0, list_transform(range(8),
         |        j -> abs(feats[CAST(j + 1 AS INT)]
         |               - pfeats[CAST(j + 1 AS INT)]))),
         |        (a, x) -> a + x) END AS dist,
         |    CASE WHEN pfeats IS NOT NULL AND
         |      list_reduce(list_prepend(0.0, list_transform(range(8),
         |        j -> abs(feats[CAST(j + 1 AS INT)]
         |               - pfeats[CAST(j + 1 AS INT)]))),
         |        (a, x) -> a + x) > 9.0
         |    THEN 1 ELSE 0 END AS is_cut
         |  FROM fd),
         |sh AS (
         |  SELECT doc_id, f, dist,
         |    CAST(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY f)
         |      AS BIGINT) AS shot_id
         |  FROM cut),
         |ranked AS (
         |  SELECT doc_id, shot_id, f, dist,
         |    row_number() OVER (PARTITION BY doc_id, shot_id
         |      ORDER BY dist DESC, f) AS rn,
         |    CAST(count(*) OVER (PARTITION BY doc_id, shot_id) AS BIGINT)
         |      AS n_frames
         |  FROM sh)
         |SELECT doc_id AS id, shot_id, CAST(f AS INT) AS keyframe_idx,
         |  dist, n_frames
         |FROM ranked WHERE rn = 1""".stripMargin
    }) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val frames = graft.operators.Multimodal.sampleFrames(s,
        graft.operators.Multimodal.asMedia(docs, "text")
          .select(col("doc_id"), col("media")),
        "doc_id", frameBytes = 64, everyN = 2)
      val w = Window.partitionBy(col("id")).orderBy(col("frame_idx"))
      val cut = frames
        .withColumn("pfeats", lag(col("features"), 1).over(w))
        .withColumn("dist",
          when(col("pfeats").isNull, lit(0.0))
            .otherwise(aggregate(zip_with(col("features"), col("pfeats"),
              (a, b) => abs(a - b)), lit(0.0), (acc, x) => acc + x)))
        .withColumn("is_cut",
          when(col("pfeats").isNotNull && col("dist") > 9.0, lit(1))
            .otherwise(lit(0)))
      val sh = cut.withColumn("shot_id",
        sum(col("is_cut")).over(w).cast("long"))
      val ws = Window.partitionBy(col("id"), col("shot_id"))
      sh.withColumn("rn",
          row_number().over(ws.orderBy(col("dist").desc, col("frame_idx"))))
        .withColumn("n_frames", count(lit(1)).over(ws))
        .filter(col("rn") === 1)
        .select(col("id"), col("shot_id"),
          col("frame_idx").cast("int").as("keyframe_idx"),
          col("dist"), col("n_frames"))
    },

    // C134: IVF nPROBE RECALL CURVE — the index-tuning sweep run
    // before committing an ANN configuration (the recall-vs-probes
    // trade every IVF deployment publishes — Johnson et al. 2017's
    // faiss nprobe curves): recall@10 of the C7b IVF search against
    // the C6 brute-force truth, for nProbe = 1..8 over the 8-cell
    // codebook. recall = hits / (10·|Q|) — exact integer counts into
    // ONE division, 6dp floor. Scale shape: 8 bounded IVF searches
    // (each the probed ann_ivf shape) + a broadcast top-10 join; the
    // brute-force side is ONE TopKPerKey pass shared by all 8.
    Q("ann_ivf_nprobe_curve", {
      val d2 = "list_dot_product(%s, %s) - 2 * list_dot_product(%s, c.cv) + list_dot_product(c.cv, c.cv)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |asg AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${d2.format("e.v", "e.v", "e.v")}, c.cid) AS rn
         |    FROM e, cent c) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |cr AS (
         |  SELECT query_id, qv, cid,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      ${d2.format("q.qv", "q.qv", "q.qv")}, c.cid) AS crnk
         |  FROM q, cent c),
         |bf AS (
         |  SELECT query_id, id FROM (
         |    SELECT p.query_id, e2.vec_id AS id,
         |      row_number() OVER (PARTITION BY p.query_id ORDER BY
         |        round(list_dot_product(p.qv, e2.v)
         |          / (sqrt(list_dot_product(p.qv, p.qv))
         |             * sqrt(list_dot_product(e2.v, e2.v))), 6) DESC,
         |        e2.vec_id) AS rnk
         |    FROM e e2, q p WHERE e2.vec_id <> p.query_id)
         |  WHERE rnk <= 10),
         |np AS (SELECT CAST(unnest(range(1, 9)) AS BIGINT) AS nprobe),
         |scored AS (
         |  SELECT np.nprobe, c.query_id, a.vec_id AS id,
         |    round(list_dot_product(c.qv, a.v)
         |      / (sqrt(list_dot_product(c.qv, c.qv))
         |         * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
         |  FROM np JOIN cr c ON c.crnk <= np.nprobe
         |  JOIN asg a USING (cid)
         |  WHERE a.vec_id <> c.query_id),
         |ivf AS (
         |  SELECT nprobe, query_id, id FROM (
         |    SELECT nprobe, query_id, id,
         |      row_number() OVER (PARTITION BY nprobe, query_id
         |        ORDER BY cosine DESC, id) AS rnk
         |    FROM scored) WHERE rnk <= 10),
         |hits AS (
         |  SELECT i.nprobe, CAST(count(*) AS BIGINT) AS hits
         |  FROM ivf i JOIN bf ON bf.query_id = i.query_id AND bf.id = i.id
         |  GROUP BY 1),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM q)
         |SELECT np.nprobe, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  nq.nq AS n_queries,
         |  floor(CAST(coalesce(h.hits, 0) AS DOUBLE) / (10 * nq.nq)
         |    * 1000000 + 0.5) / 1000000 AS recall
         |FROM np LEFT JOIN hits h ON np.nprobe = h.nprobe, nq""".stripMargin
    }) { (s, dir) =>
      val vecs = table(s, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 5)
      val centroids = vecs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val bf = VectorOps.bruteForceTopK(
          vecs, probes, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("id"))
        .localCheckpoint() // one brute-force pass shared by all 8
      val ivf = (1 to 8).map { np =>
        VectorOps.ivfTopK(vecs, probes, centroids,
            "vec_id", "embedding", "cid", "cv", k = 10, nProbe = np)
          .select(lit(np.toLong).as("nprobe"), col("query_id"), col("id"))
      }.reduce(_ unionByName _)
      val nq = probes.agg(count(lit(1)).as("nq"))
      val hits = ivf.join(bf, Seq("query_id", "id"))
        .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
      val grid = s.range(1, 9).select(col("id").as("nprobe"))
      grid.join(hits, Seq("nprobe"), "left")
        .crossJoin(broadcast(nq))
        .select(col("nprobe"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          col("nq").as("n_queries"),
          (floor(coalesce(col("hits"), lit(0L)).cast("double")
            / (lit(10) * col("nq")) * lit(1000000) + lit(0.5))
            / lit(1000000)).as("recall"))
    },

    // C135: POISSON BOOTSTRAP CI (Hanley & MacGibbon 2006; Chamandy
    // et al., Google 2012 — THE way to bootstrap on a cluster: iid
    // resampling needs the full dataset per replicate, Poisson(1)
    // weights need one streamed pass for ALL replicates): the mean
    // order value with a 32-replicate bootstrap CI, each row's weight
    // in replicate r drawn as Poisson(1) via the ENGINE's
    // deterministic fingerprint of "orderkey:r" inverse-CDF'd against
    // SEVEN PINNED 2⁶⁴-scaled thresholds (exact integers precomputed
    // from the float CDF of e⁻¹ — both engines compare the same
    // unsigned image, Spark through the sign-bit-XOR trick since ANSI
    // forbids wraparound adds). Replicate means are exact-integer
    // ratios; the SE across 32 replicates runs as replicate-ascending
    // ORDERED folds, 6dp floors. Scale shape: ONE map-only pass over
    // orders×32 (codegen'd fingerprint, no shuffle) into a 32-group
    // keyed agg — the bootstrap that survives 100 TB.
    Q("poisson_bootstrap_ci", {
      val tsUnsigned = Seq("6786177901268885504", "13572355802537771008",
        "16965444753172213760", "18096474403383695360",
        "18379231815936565248", "18435783298447138816",
        "18445208545532233728")
      val wExpr = tsUnsigned.map(t =>
        s"CASE WHEN u >= CAST($t AS HUGEINT) THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH o AS (
         |  SELECT o_orderkey,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |reps AS (SELECT CAST(unnest(range(1, 33)) AS BIGINT) AS rep),
         |t AS (
         |  SELECT o.cents, reps.rep,
         |    list_reduce(
         |      list_prepend(CAST(0 AS HUGEINT),
         |        list_transform(string_split_regex(
         |          CAST(o.o_orderkey AS VARCHAR) || ':'
         |            || CAST(reps.rep AS VARCHAR), ''),
         |          c -> CAST(ord(c) AS HUGEINT))),
         |      (h, b) -> (h * 31 + b) % 18446744073709551616) AS t
         |  FROM o, reps),
         |h AS (
         |  SELECT cents, rep, xor(d, d // 8589934592) AS u
         |  FROM (SELECT cents, rep, ${DedupQueries.mulMod64("c", BigInt("14181476777654086739"))} AS d
         |    FROM (SELECT cents, rep, xor(b, b // 8589934592) AS c
         |      FROM (SELECT cents, rep, ${DedupQueries.mulMod64("a", BigInt("18397679294719823053"))} AS b
         |        FROM (SELECT cents, rep, xor(t, t // 8589934592) AS a
         |              FROM t))))),
         |w AS (SELECT cents, rep, $wExpr AS wt FROM h),
         |rm AS (
         |  SELECT rep,
         |    CASE WHEN sum(wt) > 0 THEN
         |      CAST(sum(CAST(wt AS BIGINT) * cents) AS DOUBLE)
         |        / sum(wt) END AS m
         |  FROM w GROUP BY rep),
         |base AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cents) AS BIGINT) AS s FROM o),
         |mb AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(coalesce(m, 0.0) ORDER BY rep)), (a, v) -> a + v)
         |    / 32 AS mbar
         |  FROM rm),
         |ss AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list((coalesce(m, 0.0) - mb.mbar)
         |        * (coalesce(m, 0.0) - mb.mbar) ORDER BY rep)),
         |      (a, v) -> a + v) / 31 AS v
         |  FROM rm, mb GROUP BY mb.mbar)
         |SELECT base.n AS n_orders,
         |  floor(CAST(base.s AS DOUBLE) / base.n * 1000000 + 0.5)
         |    / 1000000 AS theta,
         |  floor(sqrt(ss.v) * 1000000 + 0.5) / 1000000 AS se_boot,
         |  floor((CAST(base.s AS DOUBLE) / base.n - 1.96 * sqrt(ss.v))
         |    * 1000000 + 0.5) / 1000000 AS ci_lo,
         |  floor((CAST(base.s AS DOUBLE) / base.n + 1.96 * sqrt(ss.v))
         |    * 1000000 + 0.5) / 1000000 AS ci_hi
         |FROM base, ss""".stripMargin
    }) { (s, dir) =>
      // signed images of the seven 2^64-scaled Poisson(1) CDF cuts
      // (threshold − 2^63): unsigned u ≥ t  ⟺  (h XOR sign bit) ≥
      // these, pure comparisons — no wraparound arithmetic in ANSI SQL
      val tsSigned = Seq(-2437194135585890304L, 4348983765682995200L,
        7742072716317437952L, 8873102366528919552L, 9155859779081789440L,
        9212411261592363008L, 9221836508677457920L)
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val reps = o.select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(1L), lit(32L))).as("rep"))
      // fmix64 AFTER the poly fingerprint: a 31-poly of a short key
      // never fills the high 64-bit range (31^12 < 2^63), so raw
      // threshold draws would be degenerate — the finalizer is what
      // makes the unsigned image uniform (Fmix64, codegen'd)
      val img = graft.functions.Fingerprint64.fmix64(
        graft.functions.Fingerprint64.fingerprint64(
          concat(col("o_orderkey").cast("string"), lit(":"),
            col("rep").cast("string"))))
        .bitwiseXOR(lit(Long.MinValue))
      val wt = tsSigned.map(t =>
        when(img >= lit(t), lit(1)).otherwise(lit(0)))
        .reduce(_ + _)
      val rm = reps.withColumn("wt", wt.cast("long"))
        .groupBy(col("rep"))
        .agg(sum(col("wt")).as("sw"), sum(col("wt") * col("cents")).as("swc"))
        .select(col("rep"),
          when(col("sw") > 0, col("swc").cast("double") / col("sw"))
            .as("m"))
      val base = o.agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      // 32-replicate ordered folds (the ADC convention)
      val folded = rm
        .agg(transform(sort_array(collect_list(struct(col("rep"),
          coalesce(col("m"), lit(0.0)).as("mv")))),
          v => v.getField("mv")).as("ms"))
        .select(col("ms"),
          (aggregate(col("ms"), lit(0.0), (a, v) => a + v) / 32).as("mbar"))
        .select((aggregate(transform(col("ms"),
          v => (v - col("mbar")) * (v - col("mbar"))),
          lit(0.0), (a, v) => a + v) / 31).as("v"))
      def dp6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + lit(0.5)) / 1000000
      broadcast(base).crossJoin(broadcast(folded))
        .select(col("n").as("n_orders"),
          dp6(col("s").cast("double") / col("n")).as("theta"),
          dp6(sqrt(col("v"))).as("se_boot"),
          dp6(col("s").cast("double") / col("n") - lit(1.96) * sqrt(col("v")))
            .as("ci_lo"),
          dp6(col("s").cast("double") / col("n") + lit(1.96) * sqrt(col("v")))
            .as("ci_hi"))
    },

    // B164: DIFFERENCE-IN-DIFFERENCES (Card & Krueger AER 1994's
    // design; the marketing-analytics "did the campaign move the
    // treated group more than the control drifted") on purchase
    // values: treatment = user_id % 2, period split at the PINNED
    // calendar midpoint (min+max+1)//2 of the event-day range, DiD =
    // (m_t1 − m_t0) − (m_c1 − m_c0). Four exact-integer cell ratios
    // (one division each) into three IEEE subtractions, 6dp floors.
    // One keyed 4-cell agg — map-side combined, nothing else.
    Q("diff_in_diff",
      """WITH e AS (
        |  SELECT user_id % 2 AS grp,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e),
        |c AS (
        |  SELECT e.grp,
        |    CASE WHEN e.day >= b.mid THEN 1 ELSE 0 END AS post,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        |  FROM e, b GROUP BY 1, 2),
        |m AS (
        |  SELECT
        |    max(CASE WHEN grp = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t1,
        |    max(CASE WHEN grp = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t0,
        |    max(CASE WHEN grp = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c1,
        |    max(CASE WHEN grp = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c0,
        |    CAST(sum(n) AS BIGINT) AS n_events
        |  FROM c)
        |SELECT n_events,
        |  floor(t1 * 1000000 + 0.5) / 1000000 AS m_treat_post,
        |  floor(t0 * 1000000 + 0.5) / 1000000 AS m_treat_pre,
        |  floor(c1 * 1000000 + 0.5) / 1000000 AS m_ctrl_post,
        |  floor(c0 * 1000000 + 0.5) / 1000000 AS m_ctrl_pre,
        |  floor(((t1 - t0) - (c1 - c0)) * 1000000 + 0.5) / 1000000 AS did
        |FROM m""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 2).as("grp"),
          expr("(ts div 1000000000) div 86400").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .localCheckpoint() // feeds the bound and the cells
      val b = e.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
      val c = e.crossJoin(broadcast(b))
        .select(col("grp"),
          when(col("day") >= col("mid"), lit(1)).otherwise(lit(0))
            .as("post"), col("cents"))
        .groupBy(col("grp"), col("post"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      def cell(g: Int, p: Int) =
        max(when(col("grp") === g && col("post") === p,
          col("s").cast("double") / col("n")))
      def dp6(x: org.apache.spark.sql.Column) =
        floor(x * 1000000 + lit(0.5)) / 1000000
      c.agg(cell(1, 1).as("t1"), cell(1, 0).as("t0"),
          cell(0, 1).as("c1"), cell(0, 0).as("c0"),
          sum(col("n")).as("n_events"))
        .select(col("n_events"),
          dp6(col("t1")).as("m_treat_post"),
          dp6(col("t0")).as("m_treat_pre"),
          dp6(col("c1")).as("m_ctrl_post"),
          dp6(col("c0")).as("m_ctrl_pre"),
          dp6((col("t1") - col("t0")) - (col("c1") - col("c0"))).as("did"))
    },

    // B165: BREUSCH-PAGAN heteroskedasticity test (Breusch & Pagan
    // Econometrica 1979; the Koenker studentized LM form) on the
    // daily trend fit — "does the trend's ERROR VARIANCE drift with
    // time" (B163's DW asks about error correlation; BP about error
    // scale — both must pass for the B73 line's SEs to mean
    // anything): regress e² on x, LM = n·R²_aux. Exactness: the
    // scaled residual E_t (the B163 exact integer) converts once to
    // double; g_t = E_t² and the aux-regression moments run as
    // day-ascending ORDERED folds over identical doubles (the ADC
    // convention), one division, 6dp. Day-grain.
    Q("breusch_pagan",
      """WITH d AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(day) AS BIGINT) AS sx,
        |             CAST(sum(cents) AS BIGINT) AS sy FROM d),
        |dev AS (
        |  SELECT d.day,
        |    CAST(s.n * d.day - s.sx AS HUGEINT) AS dx,
        |    CAST(s.n * d.cents - s.sy AS HUGEINT) AS dy
        |  FROM d, s),
        |mm AS (SELECT sum(dx * dx) AS dxx, sum(dx * dy) AS dxy FROM dev),
        |e AS (
        |  SELECT dev.day, CAST(dev.dx AS DOUBLE) AS x,
        |    CAST(dev.dy * mm.dxx - dev.dx * mm.dxy AS DOUBLE) AS ev
        |  FROM dev, mm),
        |l AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    list(x ORDER BY day) AS xs,
        |    list(ev * ev ORDER BY day) AS gs
        |  FROM e),
        |f AS (
        |  SELECT n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), gs),
        |      (a, v) -> a + v) AS sg,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, CAST(n + 1 AS INT)),
        |        i -> xs[CAST(i AS INT)] * gs[CAST(i AS INT)])),
        |      (a, v) -> a + v) AS sxg,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(xs, v -> v * v)), (a, v) -> a + v) AS sxx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(gs, v -> v * v)), (a, v) -> a + v) AS sgg
        |  FROM l)
        |SELECT n AS n_days,
        |  CASE WHEN sxx > 0 AND n * sgg > sg * sg THEN
        |    floor(n * (n * sxg) * (n * sxg)
        |      / (n * sxx * (n * sgg - sg * sg)) * 1000000 + 0.5) / 1000000
        |  END AS lm_stat
        |FROM f""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
        .localCheckpoint()
      val st = d.agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
        sum(col("cents")).as("sy"))
      val dev = d.crossJoin(broadcast(st))
        .select(col("day"),
          (col("n").cast("decimal(38,0)") * col("day") - col("sx"))
            .as("dx"),
          (col("n").cast("decimal(38,0)") * col("cents") - col("sy"))
            .as("dy"), col("n"))
        .localCheckpoint()
      val mm = dev.agg(sum(col("dx") * col("dx")).as("dxx"),
        sum(col("dx") * col("dy")).as("dxy"))
      val e = dev.crossJoin(broadcast(mm))
        .select(col("day"), col("n"), col("dx").cast("double").as("x"),
          (col("dy") * col("dxx") - col("dx") * col("dxy")).cast("double")
            .as("ev"))
      val l = e.agg(first(col("n")).as("n"),
        transform(sort_array(collect_list(struct(col("day"), col("x")))),
          v => v.getField("x")).as("xs"),
        transform(sort_array(collect_list(struct(col("day"),
          (col("ev") * col("ev")).as("g")))), v => v.getField("g"))
          .as("gs"))
      val f = l.select(col("n"),
        aggregate(col("gs"), lit(0.0), (a, v) => a + v).as("sg"),
        aggregate(expr("""transform(sequence(1, size(xs)),
            i -> element_at(xs, i) * element_at(gs, i))"""),
          lit(0.0), (a, v) => a + v).as("sxg"),
        aggregate(transform(col("xs"), v => v * v), lit(0.0),
          (a, v) => a + v).as("sxx"),
        aggregate(transform(col("gs"), v => v * v), lit(0.0),
          (a, v) => a + v).as("sgg"))
      f.select(col("n").as("n_days"),
        when(col("sxx") > 0 &&
          col("n") * col("sgg") > col("sg") * col("sg"),
          floor(col("n") * (col("n") * col("sxg"))
            * (col("n") * col("sxg"))
            / (col("n") * col("sxx")
               * (col("n") * col("sgg") - col("sg") * col("sg")))
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("lm_stat"))
    },

    // B166: COCHRAN'S Q (Cochran Biometrika 1950) — the k-treatment
    // binary repeated-measures test: per user the 0/1 outcome "did
    // this user perform the event type at least once" across the
    // view/cart/purchase funnel stages; Q asks whether stage
    // completion rates differ beyond per-user propensity (McNemar's
    // k-way generalization — the B115 chi-square would ignore the
    // per-user pairing). Q = k(k−1)·Σ_j(C_j − T/k)²·k / (k·T − ΣR_u²)
    // spelled with EXACT integers: numerator ×k² to clear the mean
    // (Σ(k·C_j − T)² — BIGINTs), ONE division, 6dp floor. Scale
    // shape: one (user, type) distinct + one user agg + one type agg
    // — all map-side-combinable.
    Q("cochran_q",
      """WITH stages AS (
        |  SELECT unnest(['view', 'cart', 'purchase']) AS ty),
        |u AS (SELECT DISTINCT user_id FROM events),
        |hit AS (
        |  SELECT u.user_id, s.ty,
        |    CASE WHEN e.user_id IS NOT NULL THEN 1 ELSE 0 END AS x
        |  FROM u CROSS JOIN stages s
        |  LEFT JOIN (SELECT DISTINCT user_id, event_type FROM events) e
        |    ON e.user_id = u.user_id AND e.event_type = s.ty),
        |rw AS (
        |  SELECT user_id, CAST(sum(x) AS BIGINT) AS r
        |  FROM hit GROUP BY 1),
        |cl AS (
        |  SELECT ty, CAST(sum(x) AS BIGINT) AS c
        |  FROM hit GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(r) AS BIGINT) AS t,
        |    CAST(sum(r * r) AS BIGINT) AS r2,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM rw),
        |num AS (
        |  SELECT CAST(sum((3 * c - tot.t) * (3 * c - tot.t)) AS BIGINT)
        |    AS s2
        |  FROM cl, tot GROUP BY tot.t)
        |SELECT tot.n_users, tot.t AS total_hits,
        |  CASE WHEN 3 * tot.t - tot.r2 > 0 THEN
        |    floor(CAST(2 * num.s2 AS DOUBLE)
        |      / CAST(3 * (3 * tot.t - tot.r2) AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000
        |  END AS q_stat
        |FROM tot, num""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
        .localCheckpoint() // feeds users and the stage hits
      val u = ev.select(col("user_id")).distinct()
      val stages = s.createDataFrame(
        Seq("view", "cart", "purchase").map(Tuple1.apply)).toDF("ty")
      val hit = u.crossJoin(broadcast(stages))
        .join(ev.withColumnRenamed("event_type", "ty")
          .withColumn("present", lit(1)), Seq("user_id", "ty"), "left")
        .select(col("user_id"), col("ty"),
          coalesce(col("present"), lit(0)).cast("long").as("x"))
      val rw = hit.groupBy(col("user_id")).agg(sum(col("x")).as("r"))
      val cl = hit.groupBy(col("ty")).agg(sum(col("x")).as("c"))
      val tot = rw.agg(sum(col("r")).as("t"),
        sum(col("r") * col("r")).as("r2"), count(lit(1)).as("n_users"))
      val num = cl.crossJoin(broadcast(tot))
        .agg(sum((lit(3) * col("c") - col("t"))
          * (lit(3) * col("c") - col("t"))).as("s2"),
          first(col("t")).as("t"))
      broadcast(tot).crossJoin(broadcast(num.select(col("s2"))))
        .select(col("n_users"), col("t").as("total_hits"),
          when(lit(3) * col("t") - col("r2") > 0,
            floor((lit(2) * col("s2")).cast("double")
              / (lit(3) * (lit(3) * col("t") - col("r2"))).cast("double")
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("q_stat"))
    },

    // B167: TWO-PROPORTION Z-TEST (the pooled-variance form every
    // A/B readout starts with; Fleiss, Statistical Methods for Rates
    // and Proportions) on conversion (purchase among events) between
    // the user_id%2 arms: z = (p1−p0)/√(p̂(1−p̂)(1/n1+1/n0)). B106
    // tests VALUE means; this tests the RATE — the other half of
    // every experiment readout. Exactness: counts exact; z as a
    // fixed IEEE expression over four integers (two divisions, one
    // sqrt), 6dp floor. One 2-group keyed agg.
    Q("prop_ztest",
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
      val a = table(s, dir, "events")
        .groupBy((col("user_id") % 2).as("arm"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L))).as("y"))
      val m = a.agg(
        max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 1, col("y"))).as("y1"),
        max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 0, col("y"))).as("y0"))
      val p1 = col("y1").cast("double") / col("n1")
      val p0 = col("y0").cast("double") / col("n0")
      val pp = (col("y1") + col("y0")).cast("double") / (col("n1") + col("n0"))
      m.select(col("n1"), col("y1"), col("n0"), col("y0"),
        (floor((p1 - p0)
          / sqrt(pp * (lit(1) - pp)
            * (lit(1.0) / col("n1") + lit(1.0) / col("n0")))
          * lit(1000000) + lit(0.5)) / lit(1000000)).as("z"))
    },

    // C136: JSON KEY PROFILE — schema inference over a semi-
    // structured column (the "what's actually in this JSON blob"
    // audit that precedes every A1-style typed-schema commitment;
    // the profiling half of Spark's own schema-of-JSON machinery,
    // emitted as a TABLE): per key across events.props — document
    // count and the observed type spectrum (int/float/bool/null/
    // string) classified by PINNED regexes identical in both
    // engines. Deterministic: map<string,string> extraction yields
    // the same unquoted value images as json_extract_string; counts
    // exact. PRECONDITION (r10 ADVICE): props values must be FLAT
    // SCALARS and keys must not contain quote characters — nested
    // objects/arrays are re-rendered differently by the two engines
    // (from_json re-serializes, json_extract_string returns the raw
    // image) and a quoted key breaks the '$."k"' path. The events
    // generator emits flat scalar props with identifier keys, so the
    // contract holds on every graft table; profiling foreign JSON
    // with nested values needs a scalar filter on both sides first.
    // Scale shape: one map-only parse + explode + keyed count
    // — the A2 class.
    Q("json_key_profile",
      """WITH kv AS (
        |  SELECT unnest(json_keys(props)) AS k, props FROM events),
        |v AS (
        |  SELECT k, json_extract_string(props, '$."' || k || '"') AS val
        |  FROM kv)
        |SELECT k AS key, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null,
        |  CAST(sum(CASE WHEN val IS NOT NULL
        |    AND regexp_matches(val, '^-?[0-9]+$') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_int,
        |  CAST(sum(CASE WHEN val IS NOT NULL
        |    AND regexp_matches(val, '^-?[0-9]*\.[0-9]+$') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_float,
        |  CAST(sum(CASE WHEN val IN ('true', 'false') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bool,
        |  CAST(sum(CASE WHEN val IS NOT NULL
        |    AND NOT regexp_matches(val, '^-?[0-9]+$')
        |    AND NOT regexp_matches(val, '^-?[0-9]*\.[0-9]+$')
        |    AND val NOT IN ('true', 'false') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_string
        |FROM v GROUP BY k""".stripMargin) { (s, dir) =>
      val kv = table(s, dir, "events")
        .select(explode(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))
          .as(Seq("k", "val")))
      val isInt = col("val").rlike("^-?[0-9]+$")
      val isFloat = col("val").rlike("^-?[0-9]*\\.[0-9]+$")
      val isBool = col("val").isin("true", "false")
      kv.groupBy(col("k").as("key"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("val").isNotNull && isInt, 1L).otherwise(0L))
            .as("n_int"),
          sum(when(col("val").isNotNull && isFloat, 1L).otherwise(0L))
            .as("n_float"),
          sum(when(isBool, 1L).otherwise(0L)).as("n_bool"),
          sum(when(col("val").isNotNull && !isInt && !isFloat && !isBool,
            1L).otherwise(0L)).as("n_string"))
    },

    // C125: RECIPROCAL-RANK FUSION (Cormack, Clarke & Büttcher SIGIR
    // 2009 — THE standard hybrid-search combiner, what every
    // lexical+vector retrieval stack ships): fuse the C7b IVF and C7
    // LSH top-10 lists per query by score = Σ 1/(60+rank), spelled
    // with a PINNED fixed-point weight table w_r = round(1e6/(60+r))
    // (the C123 no-live-libm convention) so the fused score is an
    // exact BIGINT; fused order (score DESC, id), hit-flagged against
    // the C6 brute-force truth. Composition: reuses the three ANN
    // queries' own plans and oracles verbatim (the
    // dedup_threshold_curve convention). Scale shape: three bounded
    // ANN passes + model-sized |Q|·10 joins.
    Q("retrieval_rank_fusion", {
      val ivf = DedupQueries.all.find(_.name == "ann_ivf_topk").get
        .oracle.get
      val lsh = DedupQueries.all.find(_.name == "ann_lsh_topk").get
        .oracle.get
      val bf = DedupQueries.all.find(_.name == "ann_bruteforce_topk").get
        .oracle.get
      val w = Seq(16393L, 16129L, 15873L, 15625L, 15385L, 15152L,
        14925L, 14706L, 14493L, 14286L)
      val wValues = w.zipWithIndex
        .map { case (x, i) => s"(${i + 1}, $x)" }.mkString(", ")
      s"""WITH ivf AS (SELECT * FROM ($ivf)),
         |lsh AS (SELECT * FROM ($lsh)),
         |bf AS (SELECT * FROM ($bf)),
         |w AS (SELECT * FROM (VALUES $wValues) AS t(rnk, wt)),
         |scored AS (
         |  SELECT query_id, id, CAST(sum(wt) AS BIGINT) AS score_e6
         |  FROM (
         |    SELECT i.query_id, i.id, w.wt
         |    FROM ivf i JOIN w ON w.rnk = i.rnk
         |    UNION ALL
         |    SELECT l.query_id, l.id, w.wt
         |    FROM lsh l JOIN w ON w.rnk = l.rnk)
         |  GROUP BY 1, 2),
         |fused AS (
         |  SELECT query_id, id, score_e6,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_e6 DESC, id) AS BIGINT) AS fused_rank
         |  FROM scored)
         |SELECT f.query_id, f.id, f.score_e6, f.fused_rank,
         |  CAST(CASE WHEN b.id IS NOT NULL THEN 1 ELSE 0 END AS INT)
         |    AS in_bf
         |FROM fused f
         |LEFT JOIN bf b ON b.query_id = f.query_id AND b.id = f.id
         |WHERE f.fused_rank <= 10""".stripMargin
    }) { (s, dir) =>
      val w = Seq(16393L, 16129L, 15873L, 15625L, 15385L, 15152L,
        14925L, 14706L, 14493L, 14286L)
      val wArr = array(w.map(lit): _*)
      def ranked(name: String) = DedupQueries.all.find(_.name == name).get
        .spark(s, dir)
        .select(col("query_id"), col("id"),
          element_at(wArr, col("rnk")).as("wt"))
      val scored = ranked("ann_ivf_topk")
        .unionByName(ranked("ann_lsh_topk"))
        .groupBy(col("query_id"), col("id"))
        .agg(sum(col("wt")).as("score_e6"))
      // |Q|·≤20 rows — model-sized keyed window
      val fused = scored.withColumn("fused_rank",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("score_e6").desc, col("id"))).cast("long"))
        .filter(col("fused_rank") <= 10)
      val bf = DedupQueries.all.find(_.name == "ann_bruteforce_topk").get
        .spark(s, dir).select(col("query_id"), col("id"),
          lit(1).as("hit"))
      fused.join(broadcast(bf), Seq("query_id", "id"), "left")
        .select(col("query_id"), col("id"), col("score_e6"),
          col("fused_rank"),
          coalesce(col("hit"), lit(0)).cast("int").as("in_bf"))
    },

    // C145: RECALL@K CURVE — the eval table every ANN deployment
    // reads before picking an index (C123's MRR/MAP/NDCG judge
    // RANKING quality; recall@k judges COVERAGE at each cutoff,
    // which is what IVF probes / LSH bands actually trade): for
    // k ∈ {1, 5, 10} and method ∈ {ivf, lsh}, the fraction of the
    // brute-force top-k the method's top-k recovers, pooled over the
    // query set. Exact: hit counts are integers off the three
    // reused ANN plans/oracles (the C125 composition convention);
    // recall = hits/(k·|Q|) ONE division 6dp. Scale shape: three
    // bounded ANN passes + model-sized |Q|·k joins.
    Q("retrieval_recall_curve", {
      val ivf = DedupQueries.all.find(_.name == "ann_ivf_topk").get
        .oracle.get
      val lsh = DedupQueries.all.find(_.name == "ann_lsh_topk").get
        .oracle.get
      val bf = DedupQueries.all.find(_.name == "ann_bruteforce_topk").get
        .oracle.get
      s"""WITH ivf AS (SELECT * FROM ($ivf)),
         |lsh AS (SELECT * FROM ($lsh)),
         |bf AS (SELECT * FROM ($bf)),
         |ap AS (
         |  SELECT 'ivf' AS method, query_id, id, rnk FROM ivf
         |  UNION ALL
         |  SELECT 'lsh' AS method, query_id, id, rnk FROM lsh),
         |ks AS (SELECT unnest([1, 5, 10]) AS k),
         |nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
         |       FROM bf),
         |hits AS (
         |  SELECT a.method, ks.k, CAST(count(*) AS BIGINT) AS hits
         |  FROM ap a
         |  JOIN ks ON a.rnk <= ks.k
         |  JOIN bf b ON b.query_id = a.query_id AND b.id = a.id
         |    AND b.rnk <= ks.k
         |  GROUP BY 1, 2)
         |SELECT ks.k AS k, m.method, nq.nq AS n_queries,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  floor(CAST(coalesce(h.hits, 0) AS DOUBLE) / (ks.k * nq.nq)
         |    * 1000000 + 0.5) / 1000000 AS recall
         |FROM ks CROSS JOIN (SELECT DISTINCT method FROM ap) m
         |CROSS JOIN nq
         |LEFT JOIN hits h ON h.k = ks.k AND h.method = m.method"""
        .stripMargin
    }) { (s, dir) =>
      def ranked(name: String, tag: String) =
        DedupQueries.all.find(_.name == name).get.spark(s, dir)
          .select(lit(tag).as("method"), col("query_id"), col("id"),
            col("rnk"))
      val ap = ranked("ann_ivf_topk", "ivf")
        .unionByName(ranked("ann_lsh_topk", "lsh"))
      val bf = DedupQueries.all.find(_.name == "ann_bruteforce_topk").get
        .spark(s, dir)
        .select(col("query_id"), col("id"), col("rnk").as("brnk"))
        .localCheckpoint() // nq and the hit join read it
      val ks = s.range(0, 3).select(
        element_at(array(lit(1L), lit(5L), lit(10L)),
          (col("id") + 1).cast("int")).as("k"))
      val nq = bf.agg(countDistinct(col("query_id")).as("nq"))
      val hits = ap.crossJoin(broadcast(ks))
        .filter(col("rnk") <= col("k"))
        .join(bf, Seq("query_id", "id"))
        .filter(col("brnk") <= col("k"))
        .groupBy(col("method"), col("k"))
        .agg(count(lit(1)).as("hits"))
      val frame = ks.crossJoin(
          ap.select(col("method")).distinct())
        .crossJoin(broadcast(nq))
      frame.join(hits, Seq("method", "k"), "left")
        .select(col("k"), col("method"), col("nq").as("n_queries"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (floor(coalesce(col("hits"), lit(0L)).cast("double")
            / (col("k") * col("nq")) * lit(1000000) + lit(0.5))
            / lit(1000000)).as("recall"))
    },

    // C141: BALANCED INTERLEAVING (Joachims SIGKDD 2002) of the C7b
    // IVF and C7 LSH rankings — the ONLINE-eval primitive C125's RRF
    // is the offline half of: RRF fuses two rankings into one list
    // to SERVE; interleaving merges them so user clicks can JUDGE
    // which ranker wins (the merged list alternates contributions,
    // clicks credit the contributing side). Deterministic A-first
    // variant (operators/Interleave.scala — the per-impression coin
    // flip is a serving-time concern); the skip-duplicates process
    // is inherently sequential (a priority-sort closed form provably
    // disagrees once a duplicate skips), so both engines run the
    // SAME bounded fold: Spark `aggregate` over the two ≤10 arrays,
    // DuckDB `list_reduce`, state = one BIGINT list with the source
    // in the low bit. Composition: reuses the two ANN queries' plans
    // and oracles verbatim (the C125 convention). Scale shape: two
    // bounded ANN passes + a model-sized |Q|-row fold.
    Q("interleaved_ranking", {
      val ivf = DedupQueries.all.find(_.name == "ann_ivf_topk").get
        .oracle.get
      val lsh = DedupQueries.all.find(_.name == "ann_lsh_topk").get
        .oracle.get
      def np(side: String) =
        s"list_filter($side, x -> NOT list_contains(list_transform(acc, y -> y // 2), x))"
      val ra = np("ab.a")
      val rb = np("ab.b")
      s"""WITH ivf AS (SELECT * FROM ($ivf)),
         |lsh AS (SELECT * FROM ($lsh)),
         |la AS (SELECT query_id, list(id ORDER BY rnk) AS a
         |       FROM ivf GROUP BY 1),
         |lb AS (SELECT query_id, list(id ORDER BY rnk) AS b
         |       FROM lsh GROUP BY 1),
         |ab AS (SELECT la.query_id, la.a, lb.b
         |       FROM la JOIN lb USING (query_id)),
         |m AS (
         |  SELECT query_id,
         |    list_reduce(
         |      list_prepend(CAST([] AS BIGINT[]),
         |        list_transform(range(len(ab.a) + len(ab.b)),
         |          t -> CAST([] AS BIGINT[]))),
         |      (acc, e) -> CASE
         |        WHEN len($ra) = 0 AND len($rb) = 0 THEN acc
         |        WHEN (len(acc) % 2 = 0 AND len($ra) > 0)
         |          OR len($rb) = 0
         |          THEN list_append(acc, ($ra)[1] * 2)
         |        ELSE list_append(acc, ($rb)[1] * 2 + 1) END) AS enc
         |  FROM ab),
         |ex AS (
         |  SELECT query_id, unnest(enc) AS e,
         |    unnest(range(1, len(enc) + 1)) AS pos
         |  FROM m)
         |SELECT query_id, CAST(pos AS BIGINT) AS pos,
         |  CAST(e // 2 AS BIGINT) AS id,
         |  CASE WHEN e % 2 = 0 THEN 'ivf' ELSE 'lsh' END AS src
         |FROM ex""".stripMargin
    }) { (s, dir) =>
      def rankedIds(name: String, out: String) =
        DedupQueries.all.find(_.name == name).get.spark(s, dir)
          .groupBy(col("query_id"))
          .agg(transform(
            sort_array(collect_list(struct(col("rnk"), col("id")))),
            x => x.getField("id")).as(out))
      val m = rankedIds("ann_ivf_topk", "a")
        .join(rankedIds("ann_lsh_topk", "b"), Seq("query_id"))
        .select(col("query_id"),
          graft.operators.Interleave.merged(col("a"), col("b")).as("enc"))
      m.select(col("query_id"), posexplode(col("enc")).as(Seq("p", "e")))
        .select(col("query_id"), (col("p") + 1).cast("long").as("pos"),
          graft.operators.Interleave.decodeId(col("e")).as("id"),
          graft.operators.Interleave.decodeSrc(col("e"), "ivf", "lsh")
            .as("src"))
    },

    // C142: ATTRIBUTE-FILTERED IVF SEARCH — the production
    // vector-store feature every RAG stack needs ("nearest neighbors
    // WHERE label matches") and the reason stores implement
    // filter-DURING-search natively: post-filtering a k-list returns
    // fewer than k (or misses everything when the filter is
    // selective), pre-filtering rebuilds the index per predicate;
    // in-search filtering prunes the probed candidate scan and still
    // returns the true top-k of the filtered sub-corpus (assignment
    // is per-vector, so the filtered candidates are exactly the
    // filtered cells' members). Predicate pinned: label < 4 (~25%
    // of the corpus). Exactness: the C7b closed-form oracle with the
    // label carried through assignment and the same filter on the
    // candidate side. Scale shape: the probed-cell join with a
    // pruned candidate scan — strictly cheaper than ann_ivf_topk.
    Q("ann_filtered_search", {
      val d2 = "list_dot_product(%s, %s) - 2 * list_dot_product(%s, c.cv) + list_dot_product(c.cv, c.cv)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |asg AS (
         |  SELECT vec_id, v, label, cid FROM (
         |    SELECT e.vec_id, e.v, e.label, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${d2.format("e.v", "e.v", "e.v")}, c.cid) AS rn
         |    FROM e, cent c) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |probes AS (
         |  SELECT query_id, qv, cid FROM (
         |    SELECT q.query_id, q.qv, c.cid,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        ${d2.format("q.qv", "q.qv", "q.qv")}, c.cid) AS rn
         |    FROM q, cent c) WHERE rn <= 3),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS id,
         |    round(list_dot_product(p.qv, a.v)
         |      / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
         |  FROM asg a JOIN probes p USING (cid)
         |  WHERE a.vec_id <> p.query_id AND a.label < 4)
         |SELECT query_id, id, cosine, rnk FROM (
         |  SELECT query_id, id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 10""".stripMargin
    }) { (s, dir) =>
      val vecs = table(s, dir, "embeddings")
      val cents = vecs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      graft.operators.VectorOps.ivfTopKFiltered(
        vecs, vecs.filter(col("vec_id") < 5), cents,
        "vec_id", "embedding", "cid", "cv", k = 10, nProbe = 3,
        carryCols = Seq("label"), keep = col("label") < 4)
    },

    // B169: PARTIAL CORRELATION (Fisher 1924's r_xy·z) between the
    // daily purchase and view series CONTROLLING FOR TIME — "do the
    // two streams co-move beyond both just trending": r_xy·z =
    // (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) over the zero-filled
    // calendar grid with z = day index. The three pairwise
    // correlations come from B154's exact machinery (BIGINT devs,
    // DECIMAL(38,0)/HUGEINT products, two-sqrt denominators); the
    // partial formula is fixed IEEE arithmetic on those three
    // doubles, 6dp floor. One keyed (type, day) agg; day-grain after.
    Q("partial_correlation",
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |d AS (
        |  SELECT day, event_type, CAST(sum(cents) AS BIGINT) AS cents
        |  FROM e GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |x AS (
        |  SELECT g.day,
        |    CAST(coalesce(sum(CASE WHEN d.event_type = 'purchase'
        |      THEN d.cents END), 0) AS BIGINT) AS vx,
        |    CAST(coalesce(sum(CASE WHEN d.event_type = 'view'
        |      THEN d.cents END), 0) AS BIGINT) AS vy
        |  FROM (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
        |        FROM bounds) g
        |  LEFT JOIN d ON g.day = d.day GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(vx) AS BIGINT) AS sx,
        |             CAST(sum(vy) AS BIGINT) AS sy,
        |             CAST(sum(day) AS BIGINT) AS sz FROM x),
        |dev AS (
        |  SELECT CAST(s.n * x.vx - s.sx AS HUGEINT) AS dx,
        |    CAST(s.n * x.vy - s.sy AS HUGEINT) AS dy,
        |    CAST(s.n * x.day - s.sz AS HUGEINT) AS dz
        |  FROM x, s),
        |mm AS (
        |  SELECT
        |    CAST(sum(dx * dy) AS DOUBLE)
        |      / (sqrt(CAST(sum(dx * dx) AS DOUBLE))
        |         * sqrt(CAST(sum(dy * dy) AS DOUBLE))) AS rxy,
        |    CAST(sum(dx * dz) AS DOUBLE)
        |      / (sqrt(CAST(sum(dx * dx) AS DOUBLE))
        |         * sqrt(CAST(sum(dz * dz) AS DOUBLE))) AS rxz,
        |    CAST(sum(dy * dz) AS DOUBLE)
        |      / (sqrt(CAST(sum(dy * dy) AS DOUBLE))
        |         * sqrt(CAST(sum(dz * dz) AS DOUBLE))) AS ryz,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM dev)
        |SELECT n AS n_days,
        |  floor(rxy * 1000000 + 0.5) / 1000000 AS r_xy,
        |  floor(rxz * 1000000 + 0.5) / 1000000 AS r_xz,
        |  floor(ryz * 1000000 + 0.5) / 1000000 AS r_yz,
        |  CASE WHEN (1 - rxz * rxz) * (1 - ryz * ryz) > 0 THEN
        |    floor((rxy - rxz * ryz)
        |      / sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
        |      * 1000000 + 0.5) / 1000000 END AS r_xy_given_z
        |FROM mm""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select(expr("(ts div 1000000000) div 86400").as("day"),
          col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
      val d = e.groupBy(col("day"), col("event_type"))
        .agg(sum(col("cents")).as("cents"))
      val bounds = d.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val x = bounds
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(d, Seq("day"), "left")
        .groupBy(col("day"))
        .agg(coalesce(sum(when(col("event_type") === "purchase",
          col("cents"))), lit(0L)).as("vx"),
          coalesce(sum(when(col("event_type") === "view", col("cents"))),
            lit(0L)).as("vy"))
      val st = x.agg(count(lit(1)).as("n"), sum(col("vx")).as("sx"),
        sum(col("vy")).as("sy"), sum(col("day")).as("sz"))
      val dev = x.crossJoin(broadcast(st))
        .select((col("n").cast("decimal(38,0)") * col("vx") - col("sx"))
          .as("dx"),
          (col("n").cast("decimal(38,0)") * col("vy") - col("sy")).as("dy"),
          (col("n").cast("decimal(38,0)") * col("day") - col("sz")).as("dz"))
      val mm = dev.agg(
        (sum(col("dx") * col("dy")).cast("double")
          / (sqrt(sum(col("dx") * col("dx")).cast("double"))
             * sqrt(sum(col("dy") * col("dy")).cast("double")))).as("rxy"),
        (sum(col("dx") * col("dz")).cast("double")
          / (sqrt(sum(col("dx") * col("dx")).cast("double"))
             * sqrt(sum(col("dz") * col("dz")).cast("double")))).as("rxz"),
        (sum(col("dy") * col("dz")).cast("double")
          / (sqrt(sum(col("dy") * col("dy")).cast("double"))
             * sqrt(sum(col("dz") * col("dz")).cast("double")))).as("ryz"),
        count(lit(1)).as("n"))
      def dp6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + lit(0.5)) / 1000000
      mm.select(col("n").as("n_days"),
        dp6(col("rxy")).as("r_xy"), dp6(col("rxz")).as("r_xz"),
        dp6(col("ryz")).as("r_yz"),
        when((lit(1) - col("rxz") * col("rxz"))
          * (lit(1) - col("ryz") * col("ryz")) > 0,
          dp6((col("rxy") - col("rxz") * col("ryz"))
            / sqrt((lit(1) - col("rxz") * col("rxz"))
              * (lit(1) - col("ryz") * col("ryz")))))
          .as("r_xy_given_z"))
    },

    // B170: POINT-BISERIAL correlation (the Pearson r between a
    // binary and a continuous variable — Tate 1954) between the
    // weekend flag (epoch day 0 = Thursday, so dow = (day+3)%7 with
    // Monday 0; weekend = dow ≥ 5) and order value: "do weekend
    // orders run larger" as
    // a CORRELATION (B106's t answers the same family as a test;
    // r_pb is the effect-size form, r_pb² the variance explained).
    // r_pb = (M1−M0)/σ · √(n1·n0)/n with σ the population sd —
    // spelled over exact integer sums (Σx² in DECIMAL(38,0)/HUGEINT)
    // into a fixed IEEE expression, 6dp floor. ONE 2-group keyed agg.
    Q("point_biserial",
      """WITH o AS (
        |  SELECT CASE WHEN (CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |      // 86400 + 3) % 7 >= 5 THEN 1 ELSE 0 END AS wk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (
        |  SELECT wk, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s,
        |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
        |  FROM o GROUP BY 1),
        |m AS (
        |  SELECT
        |    max(CASE WHEN wk = 1 THEN n END) AS n1,
        |    max(CASE WHEN wk = 1 THEN s END) AS s1,
        |    max(CASE WHEN wk = 0 THEN n END) AS n0,
        |    max(CASE WHEN wk = 0 THEN s END) AS s0,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(s) AS BIGINT) AS st,
        |    sum(q) AS qt
        |  FROM g)
        |SELECT n1, n0,
        |  CASE WHEN CAST(n AS HUGEINT) * qt > CAST(st AS HUGEINT) * st
        |  THEN
        |    floor((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |      / sqrt(CAST(CAST(n AS HUGEINT) * qt
        |          - CAST(st AS HUGEINT) * st AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * n))
        |      * sqrt(CAST(n1 AS DOUBLE) * n0) / n
        |      * 1000000 + 0.5) / 1000000
        |  END AS r_pb
        |FROM m""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(when(expr("(unix_timestamp(o_orderdate) div 86400 + 3) % 7")
          >= 5, lit(1)).otherwise(lit(0)).as("wk"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val g = o.groupBy(col("wk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("cents").cast("decimal(38,0)") * col("cents")).as("q"))
      val m = g.agg(
        max(when(col("wk") === 1, col("n"))).as("n1"),
        max(when(col("wk") === 1, col("s"))).as("s1"),
        max(when(col("wk") === 0, col("n"))).as("n0"),
        max(when(col("wk") === 0, col("s"))).as("s0"),
        sum(col("n")).as("n"), sum(col("s")).as("st"),
        sum(col("q")).as("qt"))
      m.select(col("n1"), col("n0"),
        when(col("n").cast("decimal(38,0)") * col("qt")
          > col("st").cast("decimal(38,0)") * col("st"),
          floor((col("s1").cast("double") / col("n1")
              - col("s0").cast("double") / col("n0"))
            / sqrt((col("n").cast("decimal(38,0)") * col("qt")
                - col("st").cast("decimal(38,0)") * col("st")).cast("double")
              / (col("n").cast("double") * col("n")))
            * sqrt(col("n1").cast("double") * col("n0")) / col("n")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("r_pb"))
    },

    // B171: KENDALL'S W — coefficient of concordance (Kendall &
    // Babington Smith 1939): the EFFECT SIZE companion to B149's
    // Friedman test (χ²_F says whether days agree on the event-type
    // ordering; W ∈ [0,1] says HOW MUCH — W = χ²_F/(n(k−1))), on the
    // same (day × type) dense value grid with tie-averaged doubled
    // ranks. Exact integer algebra into ONE division (the doubled-
    // rank substitution clears every /2; tie correction via the
    // Σr2² denominator form), 6dp floor. One keyed (day, type) agg;
    // calendar×k after.
    Q("kendall_w",
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type AS ty,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |g0 AS (SELECT day, ty, CAST(sum(c) AS BIGINT) AS v
        |       FROM e GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM g0),
        |tys AS (SELECT DISTINCT ty FROM g0),
        |grid AS (
        |  SELECT d.day, t.ty, CAST(coalesce(g0.v, 0) AS BIGINT) AS v
        |  FROM days d CROSS JOIN tys t
        |  LEFT JOIN g0 ON g0.day = d.day AND g0.ty = t.ty),
        |vc AS (
        |  SELECT day, v, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(count(*)) OVER (PARTITION BY day ORDER BY v)
        |      AS BIGINT) AS cum
        |  FROM grid GROUP BY day, v),
        |r AS (
        |  SELECT g.day, g.ty, 2 * (vc.cum - vc.cnt) + vc.cnt + 1 AS r2
        |  FROM grid g JOIN vc ON g.day = vc.day AND g.v = vc.v),
        |dims AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n,
        |                CAST(count(DISTINCT ty) AS BIGINT) AS k FROM r),
        |rj AS (SELECT ty, CAST(sum(r2) AS BIGINT) AS r2j FROM r GROUP BY ty),
        |num AS (
        |  SELECT CAST(sum(CAST(r2j - d.n * (d.k + 1) AS HUGEINT)
        |    * (r2j - d.n * (d.k + 1))) AS HUGEINT) AS s2
        |  FROM rj, dims d),
        |den AS (
        |  SELECT CAST(sum(CAST(r2 AS HUGEINT) * r2)
        |    - max(CAST(d.n AS HUGEINT) * d.k * (d.k + 1) * (d.k + 1))
        |    AS HUGEINT) AS d2
        |  FROM r, dims d)
        |SELECT d.n AS n_days, d.k AS n_types,
        |  CASE WHEN den.d2 > 0 THEN
        |    floor(CAST((d.k - 1) * num.s2 AS DOUBLE)
        |      / CAST(den.d2 AS DOUBLE) / (d.n * (d.k - 1))
        |      * 1000000 + 0.5) / 1000000
        |  END AS w
        |FROM dims d, num, den""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(expr("ts div 1000000000 div 86400").as("day"),
          col("event_type").as("ty"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
        .groupBy(col("day"), col("ty")).agg(sum(col("c")).as("v"))
        .localCheckpoint()
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
      val dims = r.agg(countDistinct(col("day")).as("n"),
        countDistinct(col("ty")).as("k"))
      val rj = r.groupBy(col("ty")).agg(sum(col("r2")).as("r2j"))
      val num = rj.crossJoin(broadcast(dims))
        .agg(sum(((col("r2j") - col("n") * (col("k") + 1))
          .cast("decimal(38,0)")
          * (col("r2j") - col("n") * (col("k") + 1)))).as("s2"))
      val den = r.crossJoin(broadcast(dims))
        .agg((sum(col("r2").cast("decimal(38,0)") * col("r2"))
          - max(col("n").cast("decimal(38,0)") * col("k")
            * (col("k") + 1) * (col("k") + 1))).as("d2"))
      broadcast(dims).crossJoin(broadcast(num)).crossJoin(broadcast(den))
        .select(col("n").as("n_days"), col("k").as("n_types"),
          when(col("d2") > 0,
            floor(((col("k") - 1) * col("s2")).cast("double")
              / col("d2").cast("double")
              / (col("n") * (col("k") - 1))
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("w"))
    },

    // B172: ODDS RATIO for the 2×2 (weekend × high-value) order
    // grid (Fisher's exact-test cell layout, Woolf 1955's log-OR SE):
    // OR = (a·d)/(b·c) as one exact-integer ratio into a division;
    // log-OR at the engine-ln 4dp grid (the text_entropy libm
    // convention); Woolf SE = √(1/a+1/b+1/c+1/d) fixed IEEE, 6dp.
    // High-value = cents ≥ 20,000,000 (a pinned cut). ONE 4-cell agg.
    Q("odds_ratio",
      """WITH o AS (
        |  SELECT CASE WHEN (CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |      // 86400 + 3) % 7 >= 5 THEN 1 ELSE 0 END AS wk,
        |    CASE WHEN CAST(floor(o_totalprice * 100) AS BIGINT)
        |      >= 20000000 THEN 1 ELSE 0 END AS hi
        |  FROM orders),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN wk = 1 AND hi = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN wk = 1 AND hi = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN wk = 0 AND hi = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN wk = 0 AND hi = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM o)
        |SELECT a, b, c, d,
        |  CASE WHEN b > 0 AND c > 0 THEN
        |    floor(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS odds_ratio,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    round(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)), 4)
        |  END AS log_or,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    floor(sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
        |      * 1000000 + 0.5) / 1000000 END AS se_log_or
        |FROM c""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(when(expr("(unix_timestamp(o_orderdate) div 86400 + 3) % 7")
          >= 5, lit(1)).otherwise(lit(0)).as("wk"),
          when(floor(col("o_totalprice") * 100).cast("long")
            >= 20000000L, lit(1)).otherwise(lit(0)).as("hi"))
      val cdf = o.agg(
        sum(when(col("wk") === 1 && col("hi") === 1, 1L).otherwise(0L))
          .as("a"),
        sum(when(col("wk") === 1 && col("hi") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("wk") === 0 && col("hi") === 1, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("wk") === 0 && col("hi") === 0, 1L).otherwise(0L))
          .as("d"))
      cdf.select(col("a"), col("b"), col("c"), col("d"),
        when(col("b") > 0 && col("c") > 0,
          floor((col("a") * col("d")).cast("double")
            / (col("b") * col("c")).cast("double")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("odds_ratio"),
        when(col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0,
          round(log((col("a") * col("d")).cast("double")
            / (col("b") * col("c")).cast("double")), 4)).as("log_or"),
        when(col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0,
          floor(sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
            + lit(1.0) / col("c") + lit(1.0) / col("d"))
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("se_log_or"))
    },

    // B173: KAPLAN-MEIER SURVIVAL CURVE (Kaplan & Meier JASA 1958) —
    // the curve itself, where B143's log-rank only TESTS two curves:
    // time-to-first-purchase from signup with right-censoring at the
    // horizon, S(t) = Π_{s≤t}(1 − d_s/n_s) over death days.
    // Determinism: d/n are exact integer ratios; each row's S is a
    // day-ascending LEFT FOLD PRODUCT over its own prefix of terms
    // (both engines fold the identical doubles in the identical
    // order — the ADC convention's multiplicative form), 6dp floor.
    // Scale shape: the B143 duration machinery (keyed user aggs +
    // day-grain rollups); the per-row prefix fold is O(days²) on the
    // CALENDAR-BOUNDED grain — constant in corpus size.
    Q("kaplan_meier",
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |ue AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'signup'
        |    THEN sec END) AS s_sec
        |  FROM e GROUP BY 1),
        |us AS (SELECT user_id, s_sec FROM ue WHERE s_sec IS NOT NULL),
        |tm AS (SELECT max(sec) AS t_max FROM e),
        |pu AS (
        |  SELECT e.user_id, min(e.sec) AS p_sec
        |  FROM e JOIN us ON us.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.sec >= us.s_sec
        |  GROUP BY 1),
        |durs AS (
        |  SELECT us.user_id,
        |    CASE WHEN pu.p_sec IS NOT NULL
        |      THEN (pu.p_sec - us.s_sec) // 86400
        |      ELSE (tm.t_max - us.s_sec) // 86400 END AS day,
        |    CASE WHEN pu.p_sec IS NOT NULL THEN 1 ELSE 0 END AS died
        |  FROM us LEFT JOIN pu ON us.user_id = pu.user_id, tm),
        |gd AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_end,
        |    CAST(sum(died) AS BIGINT) AS d
        |  FROM durs GROUP BY 1),
        |n0 AS (SELECT CAST(sum(n_end) AS BIGINT) AS n FROM gd),
        |risk AS (
        |  SELECT gd.day, gd.d,
        |    n0.n - CAST(coalesce(sum(gd.n_end) OVER (ORDER BY gd.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM gd, n0),
        |dd AS (SELECT day, d, n_risk FROM risk WHERE d > 0),
        |terms AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    list(day ORDER BY day) AS ds,
        |    list(CAST(n_risk - d AS DOUBLE) / n_risk ORDER BY day) AS ts,
        |    list(n_risk ORDER BY day) AS ns,
        |    list(d ORDER BY day) AS dls
        |  FROM dd),
        |km AS (
        |  SELECT ds[CAST(i AS INT)] AS day, ns[CAST(i AS INT)] AS n_risk,
        |    dls[CAST(i AS INT)] AS n_died,
        |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |      ts[1:CAST(i AS INT)]), (a, v) -> a * v) AS s_km
        |  FROM terms, unnest(range(1, CAST(k + 1 AS INT))) AS u(i))
        |SELECT CAST(day AS BIGINT) AS day,
        |  CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(n_died AS BIGINT) AS n_died,
        |  floor(s_km * 1000000 + 0.5) / 1000000 AS s_km
        |FROM km""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000000000").as("sec"))
        .localCheckpoint() // signups, horizon, purchases
      val us = e.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("sec")))
          .as("s_sec"))
        .filter(col("s_sec").isNotNull)
      val tm = e.agg(max(col("sec")).as("t_max"))
      val pu = e.filter(col("event_type") === "purchase")
        .join(us, Seq("user_id"))
        .filter(col("sec") >= col("s_sec"))
        .groupBy(col("user_id")).agg(min(col("sec")).as("p_sec"))
      val durs = us.join(pu, Seq("user_id"), "left")
        .crossJoin(broadcast(tm))
        .select(
          when(col("p_sec").isNotNull,
            expr("(p_sec - s_sec) div 86400"))
            .otherwise(expr("(t_max - s_sec) div 86400")).as("day"),
          when(col("p_sec").isNotNull, lit(1L)).otherwise(lit(0L))
            .as("died"))
      val gd = durs.groupBy(col("day"))
        .agg(count(lit(1)).as("n_end"), sum(col("died")).as("d"))
        .localCheckpoint() // day-grain
      val n0 = gd.agg(sum(col("n_end")).as("n"))
      // day-grain bounded window (calendar horizon)
      val risk = gd.crossJoin(broadcast(n0))
        .withColumn("ended_before",
          coalesce(sum(col("n_end")).over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("day"), col("d"),
          (col("n") - col("ended_before")).as("n_risk"))
        .filter(col("d") > 0)
      val terms = risk.agg(
        transform(sort_array(collect_list(struct(col("day"),
          struct(col("n_risk"), col("d")).as("v")))),
          x => x.getField("v")).as("vs"),
        sort_array(collect_list(col("day"))).as("ds"))
      terms
        .select(explode(expr("sequence(1, size(ds))")).as("i"),
          col("ds"), col("vs"))
        .select(
          element_at(col("ds"), col("i")).as("day"),
          element_at(col("vs"), col("i")).getField("n_risk").as("n_risk"),
          element_at(col("vs"), col("i")).getField("d").as("n_died"),
          aggregate(
            expr("""transform(slice(vs, 1, i),
              v -> cast(v.n_risk - v.d as double) / v.n_risk)"""),
            lit(1.0), (a, v) => a * v).as("s_raw"))
        .select(col("day"), col("n_risk"), col("n_died"),
          (floor(col("s_raw") * 1000000 + lit(0.5)) / 1000000).as("s_km"))
    },

    // B189: MEDIAN SURVIVAL TIME (round 11) — the single number every
    // B173 Kaplan-Meier curve gets read for ("how long until half
    // the cohort converts"): the first death day whose UNROUNDED
    // survival product drops to ≤ 0.5 (the fold doubles are
    // bit-identical across engines — the B173 contract — so the
    // threshold compare is deterministic without any rounding
    // grid), NULL when the curve never reaches 0.5 inside the
    // horizon (reported with S at the horizon instead). Scale
    // shape: B173's machinery verbatim; the extra pass is
    // death-day-grain.
    Q("km_median_survival",
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |ue AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'signup'
        |    THEN sec END) AS s_sec
        |  FROM e GROUP BY 1),
        |us AS (SELECT user_id, s_sec FROM ue WHERE s_sec IS NOT NULL),
        |tm AS (SELECT max(sec) AS t_max FROM e),
        |pu AS (
        |  SELECT e.user_id, min(e.sec) AS p_sec
        |  FROM e JOIN us ON us.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.sec >= us.s_sec
        |  GROUP BY 1),
        |durs AS (
        |  SELECT us.user_id,
        |    CASE WHEN pu.p_sec IS NOT NULL
        |      THEN (pu.p_sec - us.s_sec) // 86400
        |      ELSE (tm.t_max - us.s_sec) // 86400 END AS day,
        |    CASE WHEN pu.p_sec IS NOT NULL THEN 1 ELSE 0 END AS died
        |  FROM us LEFT JOIN pu ON us.user_id = pu.user_id, tm),
        |gd AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_end,
        |    CAST(sum(died) AS BIGINT) AS d
        |  FROM durs GROUP BY 1),
        |n0 AS (SELECT CAST(sum(n_end) AS BIGINT) AS n FROM gd),
        |risk AS (
        |  SELECT gd.day, gd.d,
        |    n0.n - CAST(coalesce(sum(gd.n_end) OVER (ORDER BY gd.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM gd, n0),
        |dd AS (SELECT day, d, n_risk FROM risk WHERE d > 0),
        |terms AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    list(day ORDER BY day) AS ds,
        |    list(CAST(n_risk - d AS DOUBLE) / n_risk ORDER BY day) AS ts
        |  FROM dd),
        |km AS (
        |  SELECT ds[CAST(i AS INT)] AS day,
        |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |      ts[1:CAST(i AS INT)]), (a, v) -> a * v) AS s_raw
        |  FROM terms, unnest(range(1, CAST(k + 1 AS INT))) AS u(i)),
        |med AS (SELECT min(day) AS md FROM km WHERE s_raw <= 0.5),
        |tail AS (
        |  SELECT min(s_raw) FILTER (WHERE day = (SELECT md FROM med))
        |      AS sm,
        |    min(s_raw) AS s_end -- S is nonincreasing: min = horizon S
        |  FROM km),
        |conv AS (SELECT CAST(sum(d) AS BIGINT) AS n_conv FROM dd)
        |SELECT n0.n AS n_users, conv.n_conv AS n_converted,
        |  CAST(med.md AS BIGINT) AS median_day,
        |  floor(coalesce(tail.sm, tail.s_end) * 1000000 + 0.5) / 1000000
        |    AS s_at_read
        |FROM n0, conv, med, tail""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000000000").as("sec"))
        .localCheckpoint()
      val us = e.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("sec")))
          .as("s_sec"))
        .filter(col("s_sec").isNotNull)
      val tm = e.agg(max(col("sec")).as("t_max"))
      val pu = e.filter(col("event_type") === "purchase")
        .join(us, Seq("user_id"))
        .filter(col("sec") >= col("s_sec"))
        .groupBy(col("user_id")).agg(min(col("sec")).as("p_sec"))
      val durs = us.join(pu, Seq("user_id"), "left")
        .crossJoin(broadcast(tm))
        .select(
          when(col("p_sec").isNotNull, expr("(p_sec - s_sec) div 86400"))
            .otherwise(expr("(t_max - s_sec) div 86400")).as("day"),
          when(col("p_sec").isNotNull, lit(1L)).otherwise(lit(0L))
            .as("died"))
      val gd = durs.groupBy(col("day"))
        .agg(count(lit(1)).as("n_end"), sum(col("died")).as("d"))
        .localCheckpoint()
      val n0 = gd.agg(sum(col("n_end")).as("n"))
      val risk = gd.crossJoin(broadcast(n0))
        .withColumn("ended_before",
          coalesce(sum(col("n_end")).over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("day"), col("d"),
          (col("n") - col("ended_before")).as("n_risk"))
        .filter(col("d") > 0)
        .localCheckpoint() // the fold and the conversions read it
      val conv = risk.agg(sum(col("d")).as("n_conv"))
      val km = risk.agg(
          transform(sort_array(collect_list(struct(col("day"),
            struct(col("n_risk"), col("d")).as("v")))),
            x => x.getField("v")).as("vs"),
          sort_array(collect_list(col("day"))).as("ds"))
        .select(explode(expr("sequence(1, size(ds))")).as("i"),
          col("ds"), col("vs"))
        .select(element_at(col("ds"), col("i")).as("day"),
          aggregate(
            expr("""transform(slice(vs, 1, i),
              v -> cast(v.n_risk - v.d as double) / v.n_risk)"""),
            lit(1.0), (a, v) => a * v).as("s_raw"))
        .localCheckpoint() // median search + tail read it
      val med = km.filter(col("s_raw") <= 0.5).agg(min(col("day")).as("md"))
      val sAt = km.crossJoin(broadcast(med))
        .agg(min(when(col("day") === col("md"), col("s_raw"))).as("sm"),
          // S is nonincreasing: the min IS the horizon value
          min(col("s_raw")).as("s_end"))
      broadcast(n0).crossJoin(broadcast(conv)).crossJoin(broadcast(med))
        .crossJoin(broadcast(sAt))
        .select(col("n").as("n_users"), col("n_conv").as("n_converted"),
          col("md").cast("long").as("median_day"),
          (floor(coalesce(col("sm"), col("s_end")) * 1000000 + lit(0.5))
            / 1000000).as("s_at_read"))
    },

    // B174: TIME-DECAY ATTRIBUTION (the fourth member of the credit
    // family — B93 last-touch, B94 linear, B141 U-shaped, B148
    // Markov; industry half-life weighting): each purchase's cents
    // split across its 1-hour-lookback clicks with weight 2^(6−k),
    // k = age in 10-minute half-lives — DYADIC weights so every
    // w ∈ {1..64} is an exact BIGINT and credit conserves TO THE
    // CENT via weighted largest-remainder (base = cents·w div W; the
    // leftover cents go +1 to the earliest clicks in (click_s,
    // click_id) order — the B94 Hamilton discipline, weighted).
    // Clickless purchases keep full credit on the NULL "direct" row.
    // Scale shape: B94's keyed point-in-interval join + per-purchase
    // windows (small by construction).
    Q("attribution_time_decay",
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, tsec AS ps,
        |        CAST(floor(value * 100) AS BIGINT) AS cents
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, tsec AS cs
        |      FROM e WHERE event_type = 'click'),
        |j AS (SELECT p.purchase_id, p.user_id, p.ps, p.cents,
        |        c.click_id, c.cs,
        |        CAST(power(2, 6 - least((p.ps - c.cs) // 600, 6))
        |          AS BIGINT) AS w
        |      FROM p JOIN c ON p.user_id = c.user_id
        |        AND c.cs >= p.ps - 3600 AND c.cs <= p.ps),
        |rk AS (SELECT purchase_id, user_id, ps, cents, click_id, cs, w,
        |        row_number() OVER (PARTITION BY purchase_id
        |          ORDER BY cs, click_id) AS rn,
        |        CAST(sum(w) OVER (PARTITION BY purchase_id) AS BIGINT)
        |          AS tw
        |      FROM j),
        |base AS (
        |  SELECT purchase_id, user_id, ps, cents, click_id, cs, rn,
        |    cents * w // tw AS b,
        |    cents - CAST(sum(cents * w // tw)
        |      OVER (PARTITION BY purchase_id) AS BIGINT) AS leftover
        |  FROM rk)
        |SELECT purchase_id, user_id, ps AS purchase_s, click_id,
        |  cs AS click_s,
        |  CAST(b + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS credit_cents
        |FROM base
        |UNION ALL
        |SELECT purchase_id, user_id, ps AS purchase_s,
        |  CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS click_s,
        |  cents AS credit_cents
        |FROM p WHERE purchase_id NOT IN (SELECT purchase_id FROM j)""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), expr("ts div 1000000000").as("tsec"))
        .localCheckpoint() // purchases + clicks
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("tsec").as("ps"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("lo", col("ps") - 3600L)
        .withColumn("hi", col("ps"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("tsec").as("cs"))
      val joined = graft.operators.RangeJoin.pointInIntervalKeyed(
        clicks, purchases, Seq("user_id"), "cs", "lo", "hi", 3600L)
        .withColumn("w",
          expr("cast(power(2, 6 - least((ps - cs) div 600, 6)) as bigint)"))
      val w = Window.partitionBy(col("purchase_id"))
      val attributed = joined
        .withColumn("rn",
          row_number().over(w.orderBy(col("cs"), col("click_id"))))
        .withColumn("tw", sum(col("w")).over(w))
        .withColumn("b", expr("cents * w div tw"))
        .withColumn("leftover", col("cents") - sum(col("b")).over(w))
        .select(col("purchase_id"), col("user_id"),
          col("ps").as("purchase_s"), col("click_id"),
          col("cs").as("click_s"),
          (col("b") + when(col("rn") <= col("leftover"), 1L)
            .otherwise(0L)).as("credit_cents"))
      val direct = purchases
        .join(joined.select("purchase_id").distinct(),
          Seq("purchase_id"), "left_anti")
        .select(col("purchase_id"), col("user_id"),
          col("ps").as("purchase_s"),
          lit(null).cast("long").as("click_id"),
          lit(null).cast("long").as("click_s"),
          col("cents").as("credit_cents"))
      attributed.unionByName(direct)
    },

    // B175: McNEMAR'S TEST (McNemar Psychometrika 1947) — the PAIRED
    // 2×2 before/after: did each user's purchasing status CHANGE
    // across the B164 calendar midpoint (B167's z compares two
    // independent arms; McNemar conditions on the discordant pairs
    // b = converted-then-stopped, c = started-converting — the
    // within-user design; B166's Cochran is its k-way extension):
    // continuity-corrected χ² = (|b−c|−1)²/(b+c). Exact integers to
    // ONE division, 6dp. One (user, period) distinct + one user agg.
    Q("mcnemar_test",
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type
        |  FROM events),
        |b AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e),
        |u AS (
        |  SELECT e.user_id,
        |    max(CASE WHEN e.event_type = 'purchase' AND e.day < b.mid
        |      THEN 1 ELSE 0 END) AS pre,
        |    max(CASE WHEN e.event_type = 'purchase' AND e.day >= b.mid
        |      THEN 1 ELSE 0 END) AS post
        |  FROM e, b GROUP BY 1),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM u)
        |SELECT n_users, b, c,
        |  CASE WHEN b + c > 0 THEN
        |    floor(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
        |      / (b + c) * 1000000 + 0.5) / 1000000 END AS chi2
        |FROM c""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000000000) div 86400").as("day"),
          col("event_type"))
        .localCheckpoint() // bound + per-user flags
      val b = e.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
      val u = e.crossJoin(broadcast(b))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase"
          && col("day") < col("mid"), 1).otherwise(0)).as("pre"),
          max(when(col("event_type") === "purchase"
            && col("day") >= col("mid"), 1).otherwise(0)).as("post"))
      val c = u.agg(
        sum(when(col("pre") === 1 && col("post") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("pre") === 0 && col("post") === 1, 1L).otherwise(0L))
          .as("c"),
        count(lit(1)).as("n_users"))
      c.select(col("n_users"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          floor(((abs(col("b") - col("c")) - 1)
            * (abs(col("b") - col("c")) - 1)).cast("double")
            / (col("b") + col("c")) * lit(1000000) + lit(0.5))
            / lit(1000000)).as("chi2"))
    },

    // C138: EMBEDDING HEALTH AUDIT — the index-ingest screen every
    // vector store runs before building (zero vectors break cosine,
    // norm drift breaks IP-vs-cosine assumptions, dimension
    // inconsistency breaks everything): per label, vector count,
    // dimension min/max, zero-vector count, and mean L2 norm (exact
    // dot products via ArrayDot; per-label mean as a vec_id-ascending
    // ORDERED fold, 6dp). Map-only scan + one keyed agg; the
    // label-grain fold is model-sized (labels ≤ 10).
    Q("embedding_norm_audit",
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, len(v) AS dim,
        |    sqrt(list_dot_product(v, v)) AS nrm,
        |    CASE WHEN list_dot_product(v, v) = 0 THEN 1 ELSE 0 END
        |      AS is_zero
        |  FROM e)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(min(dim) AS INT) AS dim_min,
        |  CAST(max(dim) AS INT) AS dim_max,
        |  CAST(sum(is_zero) AS BIGINT) AS n_zero,
        |  floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(nrm ORDER BY vec_id)), (a, x) -> a + x)
        |    / count(*) * 1000000 + 0.5) / 1000000 AS mean_norm
        |FROM n GROUP BY label""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val n = e.select(col("vec_id"), col("label"),
        size(col("v")).as("dim"),
        sqrt(VectorOps.dot(col("v"), col("v"))).as("nrm"),
        when(VectorOps.dot(col("v"), col("v")) === 0.0, 1L)
          .otherwise(0L).as("is_zero"))
      n.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("dim")).cast("int").as("dim_min"),
          max(col("dim")).cast("int").as("dim_max"),
          sum(col("is_zero")).as("n_zero"),
          (floor(aggregate(transform(sort_array(collect_list(
            struct(col("vec_id"), col("nrm")))),
            x => x.getField("nrm")), lit(0.0), (a, x) => a + x)
            / count(lit(1)) * lit(1000000) + lit(0.5)) / lit(1000000))
            .as("mean_norm"))
    })
}
