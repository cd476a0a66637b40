package graft.queries

import graft.GraftSession.table
import graft.operators.VectorOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 closing wave: retrieval-quality evaluation — the metrics
  * a training-data pipeline runs over its OWN retrieval index (the
  * C6/C7/C52 ANN family) to decide whether the index is good enough
  * to mine hard negatives (C90) or dedup candidates from. Reference
  * scope: the reference's trip engine has no retrieval surface
  * (alfonso-higuera/flink-template AggregateTrips.kt:1-120 is the
  * whole analytics core); these extend the ANN family the way §2's
  * C-block extends the corpus ops.
  *
  * Shared determinism conventions (SummitQueries/AnalyticsQueries):
  * exact integers to one pinned double division, 6dp floor
  * `floor(x*1e6 + 0.5)/1e6`; cosine via the left-to-right ArrayDot
  * (= DuckDB list_dot_product) rounded to 6dp with (cosine DESC, id)
  * tie-break — the C6 contract.
  */
object PinnacleQueries {

  // Fixed-point DCG weights: w_r = round(1e6 / log2(r+1)) for rank
  // r = 1..10, pinned as INTEGER literals in BOTH engines (computing
  // 1/log2 live would hang cross-engine exactness on libm-vs-JVM ulp
  // agreement at the floor boundary; pinning makes DCG a sum of
  // exact integers). cumWeights(k) = Σ w_1..w_k for the ideal DCG.
  private val dcgW = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)
  private val dcgCum = dcgW.scanLeft(0L)(_ + _).tail
  private val dcgWSqlValues = dcgW.zipWithIndex
    .map { case (w, i) => s"(${i + 1}, ${w})" }.mkString(", ")

  /** Shared DuckDB skeleton: exact-cosine top-10 with labels for the
    * first `nq` vectors as queries (self excluded) — the C6
    * brute-force contract plus the label columns the eval needs.
    */
  private def topSql(nq: Int): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
       |  FROM e WHERE vec_id < $nq),
       |scored AS (
       |  SELECT query_id, qlabel, e.vec_id AS id, e.label AS lbl,
       |    round(list_dot_product(qv, v)
       |      / (sqrt(list_dot_product(qv, qv))
       |         * sqrt(list_dot_product(v, v))), 6) AS cosine
       |  FROM e, q WHERE e.vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, qlabel, id, lbl,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, id) AS rnk
       |  FROM scored),
       |top AS (SELECT * FROM ranked WHERE rnk <= 10)""".stripMargin

  /** Spark twin of [[topSql]]: brute-force top-10 (TopKPerKey — no
    * corpus sort) joined back to labels. Scale shape: |Q| is a
    * model-sized probe set broadcast against the corpus scan; the
    * label join broadcasts the ≤ |Q|·10 result rows' worth of ids
    * only if small — here it joins corpus-side labels via a plain
    * shuffle-free broadcast of the top rows.
    */
  private def sparkTop(s: org.apache.spark.sql.SparkSession, dir: String,
      nq: Int): org.apache.spark.sql.DataFrame = {
    val vecs = table(s, dir, "embeddings")
    val labels = vecs.select(col("vec_id"), col("label"))
    val top = VectorOps.bruteForceTopK(
      vecs, vecs.filter(col("vec_id") < nq), "vec_id", "embedding", k = 10)
    // top is |Q|·10 rows — broadcast IT against the label relation
    // twice (query label, neighbor label); labels stays a scan.
    broadcast(top)
      .join(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "qlabel"), Seq("query_id"))
      .join(labels.withColumnRenamed("vec_id", "id")
        .withColumnRenamed("label", "lbl"), Seq("id"))
  }

  val all: Seq[Q] = Seq(

    // C123: RETRIEVAL EVAL — MRR@10, MAP@10, NDCG@10 per query
    // against label-match relevance (Manning/Raghavan/Schütze IR ch.8;
    // Järvelin & Kekäläinen 2002 for DCG). The three canonical
    // ranking metrics, all exact: RR and AP terms are rationals with
    // rank ≤ 10 denominators, scaled by lcm(1..10) = 2520 into exact
    // BIGINTs (2520/r is a whole number for every r ≤ 10); DCG uses
    // the pinned fixed-point weight table above. One double division
    // per metric at the end, 6dp floor. AP@10 = Σ_hit P(rank)·rel /
    // min(R, 10) with R = same-label corpus count (the standard
    // truncated-AP denominator). Scale shape: corpus×|Q| scored rows
    // flow through the bounded TopKPerKey heap (no sort); everything
    // after is |Q|·10 rows — model-sized windows.
    Q("retrieval_eval",
      s"""WITH ${topSql(10)},
         |rel AS (
         |  SELECT query_id, rnk,
         |    CASE WHEN lbl = qlabel THEN 1 ELSE 0 END AS rel
         |  FROM top),
         |relr AS (
         |  SELECT query_id, rnk, rel,
         |    CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rnk)
         |      AS BIGINT) AS relcnt
         |  FROM rel),
         |w AS (SELECT * FROM (VALUES $dcgWSqlValues) AS t(rnk, wt)),
         |nrel AS (
         |  SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_rel
         |  FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.query_id
         |  GROUP BY 1),
         |m AS (
         |  SELECT r.query_id,
         |    min(CASE WHEN r.rel = 1 THEN r.rnk END) AS first_rel,
         |    CAST(sum(CASE WHEN r.rel = 1
         |      THEN (2520 // r.rnk) * r.relcnt ELSE 0 END) AS BIGINT)
         |      AS ap_num,
         |    CAST(sum(r.rel * w.wt) AS BIGINT) AS dcg_w
         |  FROM relr r JOIN w ON w.rnk = r.rnk GROUP BY 1),
         |idcg AS (
         |  SELECT n.query_id, n.n_rel, CAST(sum(w.wt) AS BIGINT) AS idcg_w
         |  FROM nrel n JOIN w ON w.rnk <= LEAST(n.n_rel, 10)
         |  GROUP BY 1, 2)
         |SELECT m.query_id, i.n_rel,
         |  CASE WHEN m.first_rel IS NOT NULL THEN
         |    floor(CAST(2520 // m.first_rel AS DOUBLE) / 2520
         |      * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS rr,
         |  CASE WHEN i.n_rel > 0 THEN
         |    floor(CAST(m.ap_num AS DOUBLE)
         |      / (2520.0 * LEAST(i.n_rel, 10)) * 1000000 + 0.5) / 1000000
         |    ELSE 0.0 END AS ap,
         |  CASE WHEN i.n_rel > 0 THEN
         |    floor(CAST(m.dcg_w AS DOUBLE) / CAST(i.idcg_w AS DOUBLE)
         |      * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS ndcg
         |FROM m JOIN idcg i ON m.query_id = i.query_id""".stripMargin) {
      (s, dir) =>
        val top = sparkTop(s, dir, nq = 10)
          .select(col("query_id"), col("rnk"),
            when(col("lbl") === col("qlabel"), lit(1)).otherwise(lit(0))
              .as("rel"))
        // |Q|·10 rows from here — model-sized keyed window
        val relr = top.withColumn("relcnt",
          sum(col("rel")).over(Window.partitionBy(col("query_id"))
            .orderBy(col("rnk"))).cast("long"))
        val wArr = array(dcgW.map(lit): _*)
        val cumArr = array(dcgCum.map(lit): _*)
        val m = relr
          .withColumn("wt", element_at(wArr, col("rnk")))
          .groupBy(col("query_id"))
          .agg(min(when(col("rel") === 1, col("rnk"))).as("first_rel"),
            sum(when(col("rel") === 1,
              (lit(2520) / col("rnk")).cast("long") * col("relcnt"))
              .otherwise(lit(0L))).as("ap_num"),
            sum(col("rel").cast("long") * col("wt")).as("dcg_w"))
        val vecs = table(s, dir, "embeddings")
        val labels = vecs.select(col("vec_id"), col("label"))
        val nrel = broadcast(
          labels.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("label").as("qlabel")))
          .join(labels, col("label") === col("qlabel")
            && col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
          .withColumn("idcg_w", element_at(cumArr, least(col("n_rel"), lit(10L)).cast("int")))
        def dp6(c: org.apache.spark.sql.Column) =
          floor(c * 1000000 + lit(0.5)) / 1000000
        m.join(nrel, Seq("query_id"))
          .select(col("query_id"), col("n_rel"),
            when(col("first_rel").isNotNull,
              dp6((lit(2520) / col("first_rel")).cast("long")
                .cast("double") / 2520)).otherwise(lit(0.0)).as("rr"),
            when(col("n_rel") > 0,
              dp6(col("ap_num").cast("double")
                / (lit(2520.0) * least(col("n_rel"), lit(10L)))))
              .otherwise(lit(0.0)).as("ap"),
            when(col("n_rel") > 0,
              dp6(col("dcg_w").cast("double") / col("idcg_w").cast("double")))
              .otherwise(lit(0.0)).as("ndcg"))
    },

    // C154: EXPECTED RECIPROCAL RANK — ERR@10 (Chapelle et al. CIKM
    // 2009), the CASCADE-model ranking metric C123's trio misses:
    // RR sees only the first hit, NDCG discounts independently; ERR
    // models a user who stops at each relevant result with
    // probability R, so later hits earn credit only through the
    // survival product Π(1−R_i). With binary relevance R = 1/2, so
    // ERR = Σ_{rel ranks r} (1/r)·(1/2)^{relcnt(r)} is an exact
    // DYADIC rational over the lcm grid: scaled by 2520·2¹⁰ every
    // term is the exact BIGINT (2520/r)·2^(10−relcnt) — ONE double
    // division at the end, 6dp floor. Scale shape: identical to C123
    // (bounded TopKPerKey heap, then |Q|·10 model-sized rows).
    Q("retrieval_err",
      s"""WITH ${topSql(10)},
         |rel AS (
         |  SELECT query_id, rnk,
         |    CASE WHEN lbl = qlabel THEN 1 ELSE 0 END AS rel
         |  FROM top),
         |relr AS (
         |  SELECT query_id, rnk, rel,
         |    CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rnk)
         |      AS BIGINT) AS relcnt
         |  FROM rel),
         |m AS (
         |  SELECT query_id,
         |    CAST(sum(CASE WHEN rel = 1
         |      THEN (2520 // rnk) * (1 << CAST(10 - relcnt AS INT))
         |      ELSE 0 END) AS BIGINT) AS err_num,
         |    CAST(sum(rel) AS BIGINT) AS n_hits
         |  FROM relr GROUP BY 1)
         |SELECT query_id, n_hits,
         |  floor(CAST(err_num AS DOUBLE) / (2520.0 * 1024)
         |    * 1000000 + 0.5) / 1000000 AS err
         |FROM m""".stripMargin) { (s, dir) =>
      val top = sparkTop(s, dir, nq = 10)
        .select(col("query_id"), col("rnk"),
          when(col("lbl") === col("qlabel"), lit(1)).otherwise(lit(0))
            .as("rel"))
      val relr = top.withColumn("relcnt",
        sum(col("rel")).over(Window.partitionBy(col("query_id"))
          .orderBy(col("rnk"))).cast("long"))
      relr.groupBy(col("query_id"))
        .agg(sum(when(col("rel") === 1,
            (lit(2520) / col("rnk")).cast("long")
              * expr("shiftleft(1L, cast(10 - relcnt as int))"))
            .otherwise(lit(0L))).as("err_num"),
          sum(col("rel").cast("long")).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (floor(col("err_num").cast("double") / (lit(2520.0) * 1024)
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("err"))
    },

    // C124: k-NN CLASSIFICATION by retrieval — majority label vote
    // over the exact cosine top-10 (Cover & Hart 1967), the
    // classification-by-index pattern that closes the trained-family
    // loop from the retrieval side (Rocchio C86 classifies by
    // centroid, NB C96 by likelihood; k-NN by neighborhood). Vote
    // tie-break is (votes DESC, label ASC) — fully deterministic.
    // Scale shape: identical to C123 (bounded heap, then |Q|·10 rows).
    Q("knn_classify",
      s"""WITH ${topSql(25)},
         |votes AS (
         |  SELECT query_id, qlabel, lbl, CAST(count(*) AS BIGINT) AS votes
         |  FROM top GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT query_id, qlabel, lbl, votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, lbl) AS vr
         |  FROM votes)
         |SELECT query_id, CAST(qlabel AS INT) AS true_label,
         |  CAST(lbl AS INT) AS pred_label, votes,
         |  CAST(CASE WHEN lbl = qlabel THEN 1 ELSE 0 END AS INT) AS correct
         |FROM best WHERE vr = 1""".stripMargin) { (s, dir) =>
      val votes = sparkTop(s, dir, nq = 25)
        .groupBy(col("query_id"), col("qlabel"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      // ≤ 10 vote rows per query — model-sized keyed window
      votes.withColumn("vr",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("votes").desc, col("lbl"))))
        .filter(col("vr") === 1)
        .select(col("query_id"), col("qlabel").cast("int").as("true_label"),
          col("lbl").cast("int").as("pred_label"), col("votes"),
          when(col("lbl") === col("qlabel"), lit(1)).otherwise(lit(0))
            .cast("int").as("correct"))
    },

    // C147: LABEL-NOISE SCREEN — confident-learning-lite (Northcutt
    // et al., JAIR 2021's counting core): a training point whose
    // neighborhood votes CONFIDENTLY for a different label is a
    // mislabel candidate — the data-quality pass that runs before
    // any classifier training (C124 classifies; this AUDITS the
    // labels themselves). Over the first 50 vectors: exact cosine
    // top-10 neighbor votes; a point is confident noise when the
    // majority label disagrees with its own label with ≥ 7/10 votes
    // (pinned margin — a bare majority flags boundary points, not
    // mislabels). Output per (true, voted) label pair: candidate
    // counts + per-true-label noise rate, ONE division 6dp. Scale
    // shape: the C123/C124 bounded-heap machinery verbatim;
    // everything after model-sized.
    Q("label_noise_screen",
      s"""WITH ${topSql(50)},
         |votes AS (
         |  SELECT query_id, qlabel, lbl, CAST(count(*) AS BIGINT) AS votes
         |  FROM top GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT query_id, qlabel, lbl, votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, lbl) AS vr
         |  FROM votes),
         |flag AS (
         |  SELECT CAST(qlabel AS INT) AS true_label,
         |    CAST(lbl AS INT) AS voted_label,
         |    CASE WHEN lbl <> qlabel AND votes >= 7 THEN 1 ELSE 0 END
         |      AS noisy
         |  FROM best WHERE vr = 1)
         |SELECT true_label, voted_label,
         |  CAST(count(*) AS BIGINT) AS n_points,
         |  CAST(sum(noisy) AS BIGINT) AS n_confident_noise,
         |  floor(CAST(sum(noisy) AS DOUBLE) / count(*) * 1000000 + 0.5)
         |    / 1000000 AS noise_rate
         |FROM flag GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val votes = sparkTop(s, dir, nq = 50)
        .groupBy(col("query_id"), col("qlabel"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      val best = votes.withColumn("vr",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("votes").desc, col("lbl"))))
        .filter(col("vr") === 1)
        .select(col("qlabel").cast("int").as("true_label"),
          col("lbl").cast("int").as("voted_label"),
          when(col("lbl") =!= col("qlabel") && col("votes") >= 7, 1L)
            .otherwise(0L).as("noisy"))
      best.groupBy(col("true_label"), col("voted_label"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("noisy")).as("n_confident_noise"))
        .select(col("true_label"), col("voted_label"), col("n_points"),
          col("n_confident_noise"),
          (floor(col("n_confident_noise").cast("double") / col("n_points")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("noise_rate"))
    },

    // B152: MANN-KENDALL trend test (Mann 1945, Kendall 1975) on the
    // daily-revenue series — the NONPARAMETRIC monotone-trend test
    // that needs no linearity (vs B73's OLS slope) and no rank
    // transform bookkeeping (vs B123's Spearman): S = Σ_{i<j}
    // sgn(x_j − x_i) over OBSERVED days, with the tie-corrected
    // variance var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 and the
    // continuity-corrected z = (S ∓ 1)/√var. Exactness: S and the
    // ×18-scaled variance are BIGINTs (n ≤ 1e6 days keeps
    // n(n−1)(2n+5) < 2^63 — stated bound); z is two IEEE ops on
    // identical exact inputs, 6dp floor. Scale shape: ONE keyed day
    // agg over orders (map-side combined); the O(n²) day-pair join
    // runs on the CALENDAR-BOUNDED day grain (≤ ~2.4k days at any
    // corpus SF → ≤ ~3M comparisons, constant in data size).
    Q("mann_kendall_trend",
      """WITH d AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
        |    WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM d a JOIN d b ON b.day > a.day),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |ties AS (
        |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
        |    AS BIGINT) AS tie_term
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        |        FROM d GROUP BY cents) tt WHERE t > 1),
        |v AS (
        |  SELECT n.n, s.s_stat,
        |    n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS var18
        |  FROM n, s, ties)
        |SELECT n AS n_days, s_stat, var18 AS var_s_x18,
        |  CASE WHEN var18 > 0 AND s_stat <> 0 THEN
        |    floor((CAST(s_stat AS DOUBLE)
        |        - CASE WHEN s_stat > 0 THEN 1 ELSE -1 END)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000 + 0.5)
        |      / 1000000
        |    ELSE 0.0 END AS z
        |FROM v""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
        .localCheckpoint() // feeds the pair join (twice) and the ties
      // calendar-bounded day grain: ≤ ~2.4k rows at any SF
      val a = d.select(col("day").as("da"), col("cents").as("ca"))
      val b = d.select(col("day").as("db"), col("cents").as("cb"))
      val st = a.join(b, col("db") > col("da"))
        .agg(sum(when(col("cb") > col("ca"), lit(1L))
          .when(col("cb") < col("ca"), lit(-1L)).otherwise(lit(0L)))
          .as("s_stat"))
      val n = d.agg(count(lit(1)).as("n"))
      val ties = d.groupBy(col("cents")).agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
          lit(0L)).as("tie_term"))
      broadcast(n).crossJoin(broadcast(st)).crossJoin(broadcast(ties))
        .select(col("n"), col("s_stat"),
          (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)
            - col("tie_term")).as("var18"))
        .select(col("n").as("n_days"), col("s_stat"),
          col("var18").as("var_s_x18"),
          when(col("var18") > 0 && col("s_stat") =!= 0,
            floor((col("s_stat").cast("double")
                - when(col("s_stat") > 0, lit(1.0)).otherwise(lit(-1.0)))
              / sqrt(col("var18").cast("double") / 18.0)
              * lit(1000000) + lit(0.5)) / lit(1000000))
            .otherwise(lit(0.0)).as("z"))
    },

    // B153: GRUBBS outlier test (Grubbs 1950) on daily revenue — "is
    // the most extreme day a statistical outlier": G = max|x − x̄|/s.
    // Exactness: multiply through by n so the deviation n·x − S is an
    // exact BIGINT; G² = (n·x−S)²·(n−1) / (n·(n·Σx²−S²)) with the
    // big products in DECIMAL(38,0)/HUGEINT (Σx² at daily-cents scale
    // exceeds BIGINT; ~1e34 worst case at the ×1000 probe grain —
    // inside 38 digits), ONE double division + IEEE sqrt, 6dp floor.
    // Argmax day tie-break: (|dev| DESC, day ASC). Scale shape: one
    // keyed day agg; everything after is day-grain.
    Q("grubbs_outlier",
      """WITH d AS (
        |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(cents) AS BIGINT) AS tot,
        |             CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
        |               AS sq FROM d),
        |dev AS (
        |  SELECT d.day, d.cents,
        |    abs(CAST(s.n AS HUGEINT) * d.cents - s.tot) AS adev,
        |    CASE WHEN CAST(s.n AS HUGEINT) * d.cents - s.tot >= 0
        |      THEN 'above' ELSE 'below' END AS side
        |  FROM d, s),
        |mx AS (
        |  SELECT day, cents, adev, side,
        |    row_number() OVER (ORDER BY adev DESC, day) AS rn
        |  FROM dev)
        |SELECT s.n AS n_days, mx.day AS argmax_day, mx.side,
        |  CASE WHEN s.n > 1 AND CAST(s.n AS HUGEINT) * s.sq
        |      > CAST(s.tot AS HUGEINT) * s.tot THEN
        |    floor(sqrt(CAST(mx.adev * mx.adev * (s.n - 1) AS DOUBLE)
        |      / CAST(CAST(s.n AS HUGEINT)
        |        * (CAST(s.n AS HUGEINT) * s.sq
        |           - CAST(s.tot AS HUGEINT) * s.tot) AS DOUBLE))
        |      * 1000000 + 0.5) / 1000000
        |    ELSE 0.0 END AS g
        |FROM mx, s WHERE mx.rn = 1""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "orders")
        .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
        .localCheckpoint() // feeds the moment pass and the dev pass
      val st = d.agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("sq"))
      val dev = d.crossJoin(broadcast(st))
        .select(col("day"), col("n"), col("tot"), col("sq"),
          abs(col("n").cast("decimal(38,0)") * col("cents") - col("tot"))
            .as("adev"),
          when(col("n").cast("decimal(38,0)") * col("cents")
            - col("tot") >= 0, lit("above")).otherwise(lit("below"))
            .as("side"))
      dev.withColumn("rn",
          row_number().over(Window.orderBy(col("adev").desc, col("day"))))
        .filter(col("rn") === 1) // day-grain relation — bounded window
        .select(col("n").as("n_days"), col("day").as("argmax_day"),
          col("side"),
          when(col("n") > 1 &&
            col("n").cast("decimal(38,0)") * col("sq")
              > col("tot").cast("decimal(38,0)") * col("tot"),
            floor(sqrt((col("adev") * col("adev") * (col("n") - 1))
                .cast("double")
              / (col("n").cast("decimal(38,0)")
                 * (col("n").cast("decimal(38,0)") * col("sq")
                    - col("tot").cast("decimal(38,0)") * col("tot")))
                .cast("double"))
              * lit(1000000) + lit(0.5)) / lit(1000000))
            .otherwise(lit(0.0)).as("g"))
    },

    // B154: CROSS-CORRELATION FUNCTION (Box & Jenkins 1970 ch.11)
    // between the daily purchase-value and view-value series at lags
    // −3..+3 — "do purchases LEAD or LAG views": r_k =
    // Σ devx_t·devy_{t+k} / (√Σdevx² · √Σdevy²), B124's ACF machinery
    // generalized to two series on the shared zero-filled calendar
    // grid. Exactness: dev = n·x − S BIGINT, lag products in
    // DECIMAL(38,0)/HUGEINT; denominator as TWO IEEE sqrts multiplied
    // (the single-radicand product would overflow 38 digits), one
    // division, 6dp floor. Scale shape: one keyed (type, day) agg
    // over events; grid/join/sums are day-grain (calendar-bounded).
    Q("timeseries_ccf",
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |d AS (
        |  SELECT day, event_type, CAST(sum(cents) AS BIGINT) AS cents
        |  FROM e GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |grid AS (
        |  SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
        |  FROM bounds),
        |x AS (
        |  SELECT g.day,
        |    CAST(coalesce(sum(CASE WHEN d.event_type = 'purchase'
        |      THEN d.cents END), 0) AS BIGINT) AS vx,
        |    CAST(coalesce(sum(CASE WHEN d.event_type = 'view'
        |      THEN d.cents END), 0) AS BIGINT) AS vy
        |  FROM grid g LEFT JOIN d ON g.day = d.day GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(vx) AS BIGINT) AS sx,
        |             CAST(sum(vy) AS BIGINT) AS sy FROM x),
        |dev AS (
        |  SELECT x.day, CAST(CAST(s.n AS HUGEINT) * x.vx - s.sx AS HUGEINT) AS dx,
        |    CAST(CAST(s.n AS HUGEINT) * x.vy - s.sy AS HUGEINT) AS dy
        |  FROM x, s),
        |den AS (
        |  SELECT sqrt(CAST(sum(dx * dx) AS DOUBLE))
        |    * sqrt(CAST(sum(dy * dy) AS DOUBLE)) AS den FROM dev),
        |lags AS (SELECT CAST(unnest(range(-3, 4)) AS BIGINT) AS lag),
        |num AS (
        |  SELECT l.lag, sum(a.dx * b.dy) AS num
        |  FROM lags l
        |  JOIN dev a ON true
        |  JOIN dev b ON b.day = a.day + l.lag
        |  GROUP BY l.lag)
        |SELECT num.lag, s.n AS n_days,
        |  CASE WHEN den.den > 0 THEN
        |    floor(CAST(num.num AS DOUBLE) / den.den * 1000000 + 0.5)
        |      / 1000000 END AS ccf
        |FROM num, den, s""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select(expr("(ts div 1000000000) div 86400").as("day"),
          col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
      val d = e.groupBy(col("day"), col("event_type"))
        .agg(sum(col("cents")).as("cents"))
      val bounds = d.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      // calendar grid, exact-0 fill, both series pivoted wide
      val x = bounds
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(d, Seq("day"), "left")
        .groupBy(col("day"))
        .agg(coalesce(sum(when(col("event_type") === "purchase",
          col("cents"))), lit(0L)).as("vx"),
          coalesce(sum(when(col("event_type") === "view", col("cents"))),
            lit(0L)).as("vy"))
      val st = x.agg(count(lit(1)).as("n"), sum(col("vx")).as("sx"),
        sum(col("vy")).as("sy"))
      // n is widened to decimal BEFORE the multiply (r10 ADVICE):
      // n·vx in LongType wraps silently under non-ANSI Spark while
      // the DuckDB oracle errors loudly on BIGINT overflow — the
      // sibling day-grain queries' widen-before-multiply discipline.
      val dev = x.crossJoin(broadcast(st))
        .select(col("day"),
          (col("n").cast("decimal(38,0)") * col("vx") - col("sx"))
            .cast("decimal(19,0)").as("dx"),
          (col("n").cast("decimal(38,0)") * col("vy") - col("sy"))
            .cast("decimal(19,0)").as("dy"),
          col("n"))
        .localCheckpoint() // feeds den and the 7-lag join twice
      val den = dev.agg((sqrt(sum(col("dx") * col("dx")).cast("double"))
        * sqrt(sum(col("dy") * col("dy")).cast("double"))).as("den"))
      val lags = s.range(-3, 4).select(col("id").as("lag"))
      val a = dev.select(col("day").as("da"), col("dx"), col("n"))
      val b = dev.select(col("day").as("db"), col("dy"))
      val num = a.crossJoin(broadcast(lags))
        .join(b, col("db") === col("da") + col("lag"))
        .groupBy(col("lag"))
        .agg(sum(col("dx") * col("dy")).as("num"), first(col("n")).as("n"))
      num.crossJoin(broadcast(den))
        .select(col("lag"), col("n").as("n_days"),
          when(col("den") > 0,
            floor(col("num").cast("double") / col("den")
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("ccf"))
    },

    // B155: RATIO-METRIC JACKKNIFE (Quenouille 1956; Tukey 1958; the
    // delta-method alternative every A/B platform ships — ratio
    // metrics like revenue-per-purchase have NO iid row-level form,
    // so the variance comes from leave-one-BUCKET-out replicates over
    // user-hash buckets): θ = Sy/Sx over 32 user-id buckets, θ_i =
    // (Sy−y_i)/(Sx−x_i), SE² = (B−1)/B · Σ(θ_i − θ̄)². Determinism:
    // bucket sums are exact BIGINTs; each θ_i is ONE division; the
    // B-term mean and SSE run as bucket-ascending ORDERED folds from
    // 0.0 (the streaming_chisq/ADC convention — an unordered double
    // sum would hang on engine add order), 6dp floors; CI uses the
    // pinned 1.96 normal quantile. Scale shape: one keyed bucket agg
    // (map-side combined, 32 groups); everything after is 32 rows.
    Q("ratio_jackknife",
      """WITH pe AS (
        |  SELECT user_id % 32 AS bucket,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT bucket, CAST(sum(cents) AS BIGINT) AS y,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM pe GROUP BY 1),
        |t AS (SELECT CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(x) AS BIGINT) AS sx,
        |             CAST(count(*) AS BIGINT) AS bn FROM b),
        |th AS (
        |  SELECT b.bucket,
        |    CAST(t.sy - b.y AS DOUBLE) / CAST(t.sx - b.x AS DOUBLE) AS th_i
        |  FROM b, t WHERE t.sx > b.x),
        |mth AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(th_i ORDER BY bucket)), (a, v) -> a + v)
        |    / (SELECT bn FROM t) AS thbar
        |  FROM th),
        |sse AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((th_i - m.thbar) * (th_i - m.thbar) ORDER BY bucket)),
        |      (a, v) -> a + v) AS ss
        |  FROM th, mth m GROUP BY m.thbar)
        |SELECT t.bn AS n_buckets,
        |  floor(CAST(t.sy AS DOUBLE) / t.sx * 1000000 + 0.5) / 1000000
        |    AS theta,
        |  floor(m.thbar * 1000000 + 0.5) / 1000000 AS theta_jack,
        |  floor(sqrt(CAST(t.bn - 1 AS DOUBLE) / t.bn * s.ss)
        |    * 1000000 + 0.5) / 1000000 AS se_jack,
        |  floor((CAST(t.sy AS DOUBLE) / t.sx
        |    - 1.96 * sqrt(CAST(t.bn - 1 AS DOUBLE) / t.bn * s.ss))
        |    * 1000000 + 0.5) / 1000000 AS ci_lo,
        |  floor((CAST(t.sy AS DOUBLE) / t.sx
        |    + 1.96 * sqrt(CAST(t.bn - 1 AS DOUBLE) / t.bn * s.ss))
        |    * 1000000 + 0.5) / 1000000 AS ci_hi
        |FROM t, mth m, sse s""".stripMargin) { (s, dir) =>
      val b = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 32).as("bucket"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("bucket"))
        .agg(sum(col("cents")).as("y"), count(lit(1)).as("x"))
        .localCheckpoint() // 32 rows — feeds totals and replicates
      val t = b.agg(sum(col("y")).as("sy"), sum(col("x")).as("sx"),
        count(lit(1)).as("bn"))
      val th = b.crossJoin(broadcast(t))
        .filter(col("sx") > col("x"))
        .select(col("bucket"),
          ((col("sy") - col("y")).cast("double")
            / (col("sx") - col("x")).cast("double")).as("th_i"))
      // 32-replicate relation: bucket-ascending ordered folds
      val folded = th
        .agg(transform(sort_array(collect_list(struct(col("bucket"),
          col("th_i")))), s => s.getField("th_i")).as("ths"))
        // Empty-replicate guard (r10 ADVICE): on a degenerate
        // single-bucket corpus th is empty after the sx > x
        // exclusion — Spark's global agg still emits one row while
        // the oracle's `FROM th, mth` cross join emits zero. The
        // size filter makes both engines agree on the empty edge
        // (the method's own precondition is ≥ 2 buckets: θ̄/SE
        // divide by bn, so a dropped replicate biases both engines
        // identically — documented, not hidden).
        .filter(size(col("ths")) > 0)
        .select(aggregate(col("ths"), lit(0.0), (a, v) => a + v)
          .as("sum_th"), col("ths"))
      val withBar = folded.crossJoin(broadcast(t))
        .select(col("sy"), col("sx"), col("bn"),
          (col("sum_th") / col("bn")).as("thbar"), col("ths"))
        .select(col("sy"), col("sx"), col("bn"), col("thbar"),
          aggregate(transform(col("ths"),
            v => (v - col("thbar")) * (v - col("thbar"))),
            lit(0.0), (a, v) => a + v).as("ss"))
      def dp6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + lit(0.5)) / 1000000
      val se = sqrt((col("bn") - 1).cast("double") / col("bn") * col("ss"))
      withBar.select(col("bn").as("n_buckets"),
        dp6(col("sy").cast("double") / col("sx")).as("theta"),
        dp6(col("thbar")).as("theta_jack"),
        dp6(se).as("se_jack"),
        dp6(col("sy").cast("double") / col("sx") - lit(1.96) * se)
          .as("ci_lo"),
        dp6(col("sy").cast("double") / col("sx") + lit(1.96) * se)
          .as("ci_hi"))
    },

    // B156: EMPIRICAL-BAYES RATE SHRINKAGE (Robbins 1956; Efron &
    // Morris 1975's James-Stein view; the beta-binomial
    // method-of-moments recipe every segment dashboard needs so a
    // 5-customer segment doesn't out-rank a 5000-customer one):
    // segment conversion rates shrink toward the pooled mean with
    // prior strength M = p̄(1−p̄)/s² − 1 from the across-segment
    // moment match; shrunk_s = (y_s + M·p̄)/(n_s + M). Determinism:
    // counts exact; p̄ and s² are segment-ascending ORDERED folds
    // over the K≈5 segment rates (each ONE division); M and the
    // shrunk rates are plain IEEE arithmetic on those, 6dp floors.
    // Scale shape: one keyed customer agg + one segment agg — the
    // segment grain (≤ K rows) carries everything else.
    Q("eb_shrunk_rates",
      """WITH c AS (
        |  SELECT c.c_mktsegment AS seg, c.c_custkey,
        |    CASE WHEN count(o.o_orderkey) > 0 THEN 1 ELSE 0 END AS conv
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |sg AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(conv) AS BIGINT) AS y
        |  FROM c GROUP BY 1),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM sg),
        |pb AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(CAST(y AS DOUBLE) / n ORDER BY seg)), (a, v) -> a + v)
        |    / (SELECT k FROM k) AS pbar
        |  FROM sg),
        |s2 AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((CAST(y AS DOUBLE) / n - p.pbar)
        |        * (CAST(y AS DOUBLE) / n - p.pbar) ORDER BY seg)),
        |      (a, v) -> a + v) / ((SELECT k FROM k) - 1) AS s2
        |  FROM sg, pb p GROUP BY p.pbar),
        |m AS (
        |  SELECT p.pbar,
        |    CASE WHEN s.s2 > 0 AND p.pbar * (1 - p.pbar) / s.s2 - 1 > 0
        |      THEN p.pbar * (1 - p.pbar) / s.s2 - 1 ELSE 0.0 END AS mm
        |  FROM pb p, s2 s)
        |SELECT sg.seg, sg.n, sg.y,
        |  floor(CAST(sg.y AS DOUBLE) / sg.n * 1000000 + 0.5) / 1000000
        |    AS raw_rate,
        |  floor(m.pbar * 1000000 + 0.5) / 1000000 AS pooled_rate,
        |  floor((sg.y + m.mm * m.pbar) / (sg.n + m.mm)
        |    * 1000000 + 0.5) / 1000000 AS shrunk_rate
        |FROM sg, m""".stripMargin) { (s, dir) =>
      val cust = table(s, dir, "customer")
      val orders = table(s, dir, "orders")
      val c = cust.join(orders,
          cust("c_custkey") === orders("o_custkey"), "left")
        .groupBy(col("c_mktsegment").as("seg"), col("c_custkey"))
        .agg(when(count(col("o_orderkey")) > 0, lit(1)).otherwise(lit(0))
          .as("conv"))
      val sg = c.groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("y"))
        .localCheckpoint() // K≈5 rows — feeds folds and the output
      val k = sg.agg(count(lit(1)).as("k"))
      val rates = sg
        .agg(transform(sort_array(collect_list(struct(col("seg"),
          (col("y").cast("double") / col("n")).as("r")))),
          s => s.getField("r")).as("rs"))
      val pb = rates.crossJoin(broadcast(k))
        .select(col("rs"), col("k"),
          (aggregate(col("rs"), lit(0.0), (a, v) => a + v) / col("k"))
            .as("pbar"))
      val m = pb.select(col("pbar"), col("k"),
          (aggregate(transform(col("rs"),
            v => (v - col("pbar")) * (v - col("pbar"))),
            lit(0.0), (a, v) => a + v) / (col("k") - 1)).as("s2"))
        .select(col("pbar"),
          when(col("s2") > 0 &&
            col("pbar") * (lit(1) - col("pbar")) / col("s2") - 1 > 0,
            col("pbar") * (lit(1) - col("pbar")) / col("s2") - 1)
            .otherwise(lit(0.0)).as("mm"))
      def dp6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + lit(0.5)) / 1000000
      sg.crossJoin(broadcast(m))
        .select(col("seg"), col("n"), col("y"),
          dp6(col("y").cast("double") / col("n")).as("raw_rate"),
          dp6(col("pbar")).as("pooled_rate"),
          dp6((col("y") + col("mm") * col("pbar"))
            / (col("n") + col("mm"))).as("shrunk_rate"))
    },

    // B157: SPRT — Wald's sequential probability ratio test (Wald
    // 1945), the always-valid sequential decision the fixed-horizon
    // tests (B106 ab_test_stats) can't give: walk the event stream in
    // arrival order testing H0: P(purchase) = 0.10 vs H1: P = 0.15 at
    // α = β = 0.05, stop at the FIRST boundary crossing. LLR after n
    // events with n1 purchases = n1·ln(p1/p0) + (n−n1)·ln(q1/q0) —
    // the two log-constants and the Wald boundaries ±ln(0.95/0.05)
    // are PINNED double literals in both engines (no live libm), so
    // llr = exact-integer counts × pinned constants is deterministic
    // IEEE arithmetic. Running (n1, n) comes from ONE
    // DistributedPrefixSum pass (B71's machinery — no single-reducer
    // global window) with both counters PACKED into one BIGINT
    // (n1<<32 | 1 per row; exact to 2³¹ events — stated bound), in
    // (event_id) arrival order. Scale shape: one range-partitioned
    // streamed pass + a crossing filter; the min-crossing lookup is
    // an agg, not a sort.
    Q("sprt_decision",
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
        |  FROM events),
        |w AS (
        |  SELECT event_id,
        |    CAST(sum(x) OVER (ORDER BY event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1,
        |    CAST(row_number() OVER (ORDER BY event_id) AS BIGINT) AS n
        |  FROM e),
        |l AS (
        |  SELECT event_id, n1, n,
        |    n1 * 0.4054651081081642
        |      + (n - n1) * (-0.05715841383994864) AS llr
        |  FROM w),
        |crossed AS (
        |  SELECT * FROM l
        |  WHERE llr >= 2.9444389791664403 OR llr <= -2.9444389791664403),
        |first_x AS (SELECT min(n) AS nx FROM crossed),
        |lastrow AS (SELECT * FROM l ORDER BY n DESC LIMIT 1)
        |SELECT
        |  CASE WHEN f.nx IS NULL THEN 'continue'
        |    WHEN (SELECT llr FROM crossed c WHERE c.n = f.nx)
        |      >= 2.9444389791664403 THEN 'accept_h1'
        |    ELSE 'accept_h0' END AS decision,
        |  coalesce(f.nx, lr.n) AS n_seen,
        |  CAST(CASE WHEN f.nx IS NULL THEN lr.n1
        |    ELSE (SELECT n1 FROM crossed c WHERE c.n = f.nx) END
        |    AS BIGINT) AS n1_at,
        |  floor(CASE WHEN f.nx IS NULL THEN lr.llr
        |    ELSE (SELECT llr FROM crossed c WHERE c.n = f.nx) END
        |    * 1000000 + 0.5) / 1000000 AS llr
        |FROM first_x f, lastrow lr""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
        .select(col("event_id"),
          (when(col("event_type") === "purchase",
            lit(1L << 32)).otherwise(lit(0L)) + 1L).as("packed"))
      // Loud guard (r10 ADVICE): the packed counters are exact only
      // while n stays under 2^31 — past it the low word carries into
      // n1 and the decision would corrupt SILENTLY. One cheap
      // metadata-served count fails fast instead (the repo's
      // collision-assert convention).
      val nEvents = e.count()
      require(nEvents < (1L << 31),
        s"sprt_decision: $nEvents events exceed the 2^31 packed-counter bound")
      // ONE streamed prefix pass carries both counters: cum =
      // (running n1) << 32 | (running n) — exact to 2^31 events.
      val w = graft.operators.DistributedPrefixSum.running(
        e.withColumn("grp", lit("all")), "grp", Seq("event_id"),
        "packed", "cum")
        .select(col("event_id"),
          shiftright(col("cum"), 32).as("n1"),
          (col("cum").bitwiseAND(lit((1L << 32) - 1))).as("n"))
      val c1 = lit(0.4054651081081642)
      val c0 = lit(-0.05715841383994864)
      val bound = lit(2.9444389791664403)
      val l = w.select(col("n1"), col("n"),
          (col("n1") * c1 + (col("n") - col("n1")) * c0).as("llr"))
        .localCheckpoint() // feeds the crossing filter and the tail
      val firstX = l.filter(col("llr") >= bound || col("llr") <= -bound)
        .agg(min_by(struct(col("n"), col("n1"), col("llr")), col("n"))
          .as("c"))
        .select(col("c.n").as("nx"), col("c.n1").as("n1x"),
          col("c.llr").as("llrx"))
      val lastRow = l.agg(max_by(struct(col("n"), col("n1"), col("llr")),
          col("n")).as("t"))
        .select(col("t.n").as("nl"), col("t.n1").as("n1l"),
          col("t.llr").as("llrl"))
      broadcast(firstX).crossJoin(broadcast(lastRow))
        .select(
          when(col("nx").isNull, lit("continue"))
            .when(col("llrx") >= bound, lit("accept_h1"))
            .otherwise(lit("accept_h0")).as("decision"),
          coalesce(col("nx"), col("nl")).as("n_seen"),
          coalesce(col("n1x"), col("n1l")).as("n1_at"),
          (floor(coalesce(col("llrx"), col("llrl")) * 1000000 + lit(0.5))
            / 1000000).as("llr"))
    },

    // C129: LEAVE-ONE-OUT TARGET ENCODING (Micci-Barreca 2001; the
    // leakage-free categorical encoder every tabular-ML pipeline
    // ships — plain mean-encoding leaks each row's own label into its
    // feature): enc_i = (Σ_seg y − y_i)/(n_seg − 1) for customer i's
    // market segment, label = converted (≥ 1 order). Exactness:
    // integer sums broadcast from ONE segment agg, each enc ONE
    // division, 6dp floor; n_seg ≤ 1 → NULL (no peers to borrow
    // from). Scale shape: customer-keyed left join + count, a
    // K-row broadcast back — no window, no second shuffle.
    Q("target_encode_loo",
      """WITH c AS (
        |  SELECT c.c_custkey, c.c_mktsegment AS seg,
        |    CASE WHEN count(o.o_orderkey) > 0 THEN 1 ELSE 0 END AS conv
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |sg AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(conv) AS BIGINT) AS y
        |  FROM c GROUP BY 1)
        |SELECT c.c_custkey, c.seg, CAST(c.conv AS INT) AS conv,
        |  CASE WHEN sg.n > 1 THEN
        |    floor(CAST(sg.y - c.conv AS DOUBLE) / (sg.n - 1)
        |      * 1000000 + 0.5) / 1000000 END AS enc
        |FROM c JOIN sg USING (seg)""".stripMargin) { (s, dir) =>
      val cust = table(s, dir, "customer")
      val orders = table(s, dir, "orders")
      val c = cust.join(orders,
          cust("c_custkey") === orders("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment").as("seg"))
        .agg(when(count(col("o_orderkey")) > 0, lit(1)).otherwise(lit(0))
          .as("conv"))
      val sg = c.groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("y"))
      c.join(broadcast(sg), Seq("seg"))
        .select(col("c_custkey"), col("seg"),
          col("conv").cast("int").as("conv"),
          when(col("n") > 1,
            floor((col("y") - col("conv")).cast("double") / (col("n") - 1)
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("enc"))
    })
}
