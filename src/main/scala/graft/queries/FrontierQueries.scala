package graft.queries

import graft.GraftSession.table
import graft.functions.{BitmapDistinct, Fingerprint64, HllSketch, TextFunctions => TF, VectorExpressions}
import graft.operators.{AsOfJoin, RangeJoin}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 additions (SURVEY.md §2 B79-B85, C58-C64): marketing
  * attribution, interval-overlap join, bitmap exact-distinct, HLL
  * sketch-column rollup, diversity sampling, perceptual-hash
  * near-dup, incremental join maintenance, ordered-set aggregates
  * and incremental dedup.
  *
  * Conventions as elsewhere: epoch seconds / cents / counts as exact
  * integers so oracle rows compare bit-for-bit; events normalized to
  * the epoch-nanos BIGINT `ts` contract (GraftSession.normalizeEvents).
  */
/** DuckDB replay of the multimodal rolling-hash frame kernel
  * (operators/Multimodal.frameSampleStub + decode): closed polynomial
  * form h_i = C·31^{i+1} + Σ b_k·31^{i−k} mod 2⁶⁴ with precomputed
  * powers-of-31 residues, signed bytes from hex(encode(text));
  * feats[i%8] += (h_i & 0xffff)/65536 — exact dyadic rationals, so
  * the doubles are order-independent and bit-exact across engines.
  * Shared by mm_frame_sample (step 2, unbounded) and mm_phash_dupes
  * (step 1, first 8 frames).
  */
object MediaOracle {
  /** CTE chain `pw, m, fr, ch, cb, hs, ft` ending in
    * ft(doc_id, f, feats DOUBLE[8]) — frames `0 until
    * min(max(n/64, 1), maxFrames) by step` of each document's
    * UTF-8 bytes. Embed as `s"WITH ${frameFeatureCtes(...)}, ..."`.
    */
  def frameFeatureCtes(step: Int, maxFrames: Long = Long.MaxValue): String = {
    val M = BigInt(1) << 64
    val pow31 = (0 to 65).map(j => BigInt(31).modPow(BigInt(j), M))
    val powLit = pow31.mkString("CAST([", ", ", "] AS HUGEINT[])")
    val byteAt = // unsigned byte at 0-based position frm + k of hex image hx
      "CAST(('0x' || substring(hx, CAST(2 * (frm + k) + 1 AS INT), 2)) AS INT)"
    s"""pw AS (SELECT $powLit AS p),
       |m AS (SELECT doc_id, hex(encode(text)) AS hx,
       |        CAST(octet_length(encode(text)) AS BIGINT) AS n
       |      FROM documents),
       |fr AS (SELECT doc_id, hx, n,
       |         unnest(range(0, least(greatest(n // 64, 1), $maxFrames), $step)) AS f
       |       FROM m),
       |ch AS (SELECT doc_id, f, hx, f * 64 AS frm, least(n, f * 64 + 64) AS til
       |       FROM fr),
       |cb AS (SELECT doc_id, f,
       |         list_transform(range(til - frm), k ->
       |           CASE WHEN $byteAt < 128 THEN $byteAt ELSE $byteAt - 256 END) AS bs,
       |         til - frm AS len
       |       FROM ch),
       |hs AS (SELECT doc_id, f, len,
       |         list_transform(range(len), i ->
       |           ((1125899906842597 * p[CAST(i + 2 AS INT)]
       |             + coalesce(list_sum(list_transform(range(i + 1), k ->
       |                 bs[CAST(k + 1 AS INT)] * p[CAST(i - k + 1 AS INT)])), 0))
       |            % 18446744073709551616 + 18446744073709551616)
       |           % 18446744073709551616) AS hl
       |       FROM cb, pw),
       |ft AS (SELECT doc_id, f,
       |         list_transform(range(8), j ->
       |           coalesce(list_sum(list_transform(range(len), i ->
       |             CASE WHEN i % 8 = j
       |               THEN CAST(hl[CAST(i + 1 AS INT)] % 65536 AS DOUBLE) / 65536.0
       |               ELSE 0.0 END)), 0.0)) AS feats
       |       FROM hs)""".stripMargin
  }
}

object FrontierQueries {

  private val eventsCte =
    """e AS (
      |  SELECT event_id, user_id, event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      |  FROM events)""".stripMargin

  // Attribution lookback window (seconds).
  private val AttribWindowS = 3600L
  // Activity-interval inactivity gap (seconds) for the overlap join's
  // left side; storm buckets are 300 s wide with a >= 3 error floor.
  private val ActivityGapS = 600L
  private val StormBucketS = 300L
  // >= 2 errors per bucket so the smallest SF (sf0.001: ~200 errors
  // over a month) still produces a non-empty storm set to join.
  private val StormMinErrors = 2L

  private def events(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      expr("ts div 1000000000").as("tsec"))

  val all: Seq[Q] = Seq(

    // B79: LAST-TOUCH ATTRIBUTION — credit each purchase to the
    // user's most recent click within a 1-hour lookback. The classic
    // marketing-warehouse join, and the workload the as-of operator
    // exists for: one union-sort pass (AsOfJoin.asofBackward), never
    // a per-purchase range join over the click stream. Clicks are
    // deduped to one per (user, second) keep-highest-event-id first —
    // same-instant ties would otherwise make ASOF nondeterministic in
    // both engines. All outputs exact integers / null.
    Q("attribution_last_touch",
      s"""WITH $eventsCte,
         |p AS (SELECT event_id AS purchase_id, user_id, tsec AS purchase_s,
         |        CAST(floor(value * 100) AS BIGINT) AS cents
         |      FROM e WHERE event_type = 'purchase'),
         |c0 AS (SELECT user_id, tsec, event_id FROM e WHERE event_type = 'click'),
         |c AS (SELECT user_id, tsec, event_id FROM (
         |        SELECT user_id, tsec, event_id,
         |          row_number() OVER (PARTITION BY user_id, tsec ORDER BY event_id DESC) AS rn
         |        FROM c0) WHERE rn = 1),
         |j AS (SELECT p.purchase_id, p.user_id, p.purchase_s, p.cents,
         |        c.event_id AS click_id0, c.tsec AS click_s0
         |      FROM p ASOF LEFT JOIN c
         |        ON p.user_id = c.user_id AND p.purchase_s >= c.tsec)
         |SELECT purchase_id, user_id, purchase_s, cents,
         |  CASE WHEN click_s0 IS NOT NULL AND purchase_s - click_s0 <= $AttribWindowS
         |    THEN click_id0 END AS click_id,
         |  CASE WHEN click_s0 IS NOT NULL AND purchase_s - click_s0 <= $AttribWindowS
         |    THEN click_s0 END AS click_s,
         |  CAST(CASE WHEN click_s0 IS NOT NULL AND purchase_s - click_s0 <= $AttribWindowS
         |    THEN 1 ELSE 0 END AS BIGINT) AS attributed
         |FROM j""".stripMargin) { (s, dir) =>
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("tsec"), floor(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id"), col("tsec")).orderBy(col("event_id").desc)
      val clicks = e.filter(col("event_type") === "click")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("tsec"),
          col("tsec").as("click_s"), col("event_id").as("click_id"))
      val inWindow = col("asof_click_s").isNotNull &&
        col("tsec") - col("asof_click_s") <= AttribWindowS
      AsOfJoin.asofBackward(
          purchases, clicks,
          keyCol = "user_id", tsCol = "tsec",
          valueCols = Seq("click_s", "click_id"))
        .select(col("purchase_id"), col("user_id"),
          col("tsec").as("purchase_s"), col("cents"),
          when(inWindow, col("asof_click_id")).as("click_id"),
          when(inWindow, col("asof_click_s")).as("click_s"),
          when(inWindow, 1L).otherwise(0L).as("attributed"))
    },

    // B80: INTERVAL-OVERLAP JOIN — which user activity intervals
    // overlap system error storms? Left side: per-user gaps-and-
    // islands activity intervals (600 s inactivity gap) over DISTINCT
    // (user, second) points — per-user windows, small groups by the
    // B45 rule. Right side: 5-minute buckets holding >= 3 error
    // events (one keyed agg — deliberately NOT a global gaps-and-
    // islands pass, which would serialize the whole table through one
    // window partition). The join itself is the new
    // RangeJoin.intervalOverlap: both interval sets explode into
    // 600 s buckets, equi-join on the bucket, overlap predicate
    // refines, and each pair is emitted exactly once in the canonical
    // bucket of max(starts) — no dedup exchange. Spark's native plan
    // for interval × interval inequality joins is a nested-loop
    // cartesian; this is the spelling that survives 100 TB.
    Q("interval_overlap_join",
      s"""WITH $eventsCte,
         |pt AS (SELECT DISTINCT user_id, tsec FROM e),
         |a0 AS (SELECT user_id, tsec,
         |         CASE WHEN tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec)
         |           > $ActivityGapS THEN 1 ELSE 0 END AS brk
         |       FROM pt),
         |a1 AS (SELECT user_id, tsec,
         |         sum(brk) OVER (PARTITION BY user_id ORDER BY tsec
         |           ROWS UNBOUNDED PRECEDING) AS grp
         |       FROM a0),
         |act AS (SELECT user_id, min(tsec) AS a_start, max(tsec) AS a_end,
         |          CAST(count(*) AS BIGINT) AS n_pts
         |        FROM a1 GROUP BY user_id, grp),
         |storm AS (SELECT (tsec // $StormBucketS) * $StormBucketS AS b_start,
         |            (tsec // $StormBucketS) * $StormBucketS + ${StormBucketS - 1} AS b_end,
         |            CAST(count(*) AS BIGINT) AS n_err
         |          FROM e WHERE event_type = 'error'
         |          GROUP BY 1, 2 HAVING count(*) >= $StormMinErrors)
         |SELECT a.user_id, a.a_start, a.a_end, a.n_pts, s.b_start, s.n_err,
         |  least(a.a_end, s.b_end) - greatest(a.a_start, s.b_start) + 1 AS overlap_s
         |FROM act a JOIN storm s
         |  ON a.a_start <= s.b_end AND s.b_start <= a.a_end""".stripMargin) { (s, dir) =>
      val e = events(s, dir)
      val pts = e.select(col("user_id"), col("tsec")).distinct()
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("tsec"))
      val act = pts
        .withColumn("brk",
          when(col("tsec") - lag(col("tsec"), 1).over(wOrd) > ActivityGapS, 1)
            .otherwise(0))
        .withColumn("grp", sum(col("brk")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("tsec")).as("a_start"), max(col("tsec")).as("a_end"),
          count(lit(1)).as("n_pts"))
        .drop("grp")
      val storms = e.filter(col("event_type") === "error")
        .groupBy(expr(s"(tsec div $StormBucketS) * $StormBucketS").as("b_start"))
        .agg(count(lit(1)).as("n_err"))
        .filter(col("n_err") >= StormMinErrors)
        .withColumn("b_end", col("b_start") + (StormBucketS - 1))
      RangeJoin.intervalOverlap(act, storms,
          lStart = "a_start", lEnd = "a_end", rStart = "b_start", rEnd = "b_end",
          bucketWidth = 2 * StormBucketS)
        .select(col("user_id"), col("a_start"), col("a_end"), col("n_pts"),
          col("b_start"), col("n_err"),
          (least(col("a_end"), col("b_end")) - greatest(col("a_start"), col("b_start")) + 1)
            .as("overlap_s"))
    },

    // B81: BITMAP EXACT DISTINCT — exact per-type distinct users via
    // the fixed-size bitset aggregate (graft.functions.BitmapDistinct).
    // count(DISTINCT) plans an Expand + a shuffle of every distinct
    // value; the bitmap ships one 8 KiB buffer per (group, task) at
    // ANY cardinality within the declared dense domain [0, 2^16), and
    // ids outside the domain fail loudly rather than undercount. The
    // oracle is the exact count — the aggregate's whole claim.
    Q("bitmap_distinct_users",
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          BitmapDistinct.bitmapDistinct(col("user_id"), 1 << 16).as("n_users"),
          count(lit(1)).as("n_events"))
    },

    // B82: HLL SKETCH-COLUMN ROLLUP — materialize per-(type, day)
    // HLL register buffers (HllSketchBin), then roll up to per-type
    // distinct estimates by UNIONING THE SKETCHES (HllUnionEstimate),
    // never rescanning the raw events: the Druid/BigQuery
    // HLL_COUNT.INIT/MERGE pattern, and at 100 TB the difference
    // between one scan per reporting grain and one scan total.
    // Register union is exactly the sketch of the union, so the
    // merged estimate must equal the direct single-pass estimate
    // BIT-FOR-BIT (merged_eq_direct) — a determinism gate, not a
    // tolerance — beside the usual exact-count 5% bound.
    Q("hll_union_rollup",
      """SELECT event_type,
        |  CAST(count(DISTINCT (CAST(floor(epoch(ts)) AS BIGINT) // 86400)) AS BIGINT)
        |    AS n_days,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS merged_eq_direct,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      val e = events(s, dir).withColumn("day", expr("tsec div 86400"))
      val daily = e.groupBy(col("event_type"), col("day"))
        .agg(HllSketch.hllSketchBin(col("user_id")).as("sk"))
      val rolled = daily.groupBy(col("event_type"))
        .agg(HllSketch.hllUnionEstimate(col("sk")).as("est_merged"),
          count(lit(1)).as("n_days"))
      val direct = e.groupBy(col("event_type"))
        .agg(HllSketch.hllDistinct(col("user_id")).as("est_direct"),
          countDistinct(col("user_id")).as("n_exact"))
      rolled.join(direct, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_exact"),
          when(col("est_merged") === col("est_direct"), 1L).otherwise(0L)
            .as("merged_eq_direct"),
          when(abs(col("est_merged") - col("n_exact")) <=
            greatest(lit(2.0), col("n_exact") * 0.05), 1L).otherwise(0L)
            .as("within_bound"))
    },

    // C59: EMBEDDING DIVERSITY SAMPLE — farthest-point (k-center
    // greedy / Gonzalez) selection of k maximally-spread vectors: the
    // coreset/diversity primitive behind "pick representative docs
    // for eval" and k-means++-style seeding. Each round is ONE
    // corpus-scale scan (squared-L2 distance to the ≤k selected
    // vectors, broadcast as literals) + a map-side-combinable
    // min(struct(-dist, id)) argmax — only k single rows ever reach
    // the driver, and k is a constant (4), so the plan is k scans at
    // any corpus size. Determinism: distances are the pinned
    // left-to-right ArrayDot folds (`d(x,s) = x·x − 2·x·s + s·s`,
    // identical expression order in DuckDB's list_dot_product
    // replay), argmax ties break on vec_id ascending in both engines.
    Q("embed_diversity_sample", {
      val d = (v: String, sv: String) =>
        s"(list_dot_product($v, $v) - 2 * list_dot_product($v, $sv) + list_dot_product($sv, $sv))"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
         |d1 AS (SELECT e.vec_id, e.v, ${d("e.v", "s1.v")} AS md FROM e, s1),
         |s2 AS (SELECT vec_id, v, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1),
         |d2 AS (SELECT d1.vec_id, d1.v, least(d1.md, ${d("d1.v", "s2.v")}) AS md
         |       FROM d1, s2),
         |s3 AS (SELECT vec_id, v, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
         |d3 AS (SELECT d2.vec_id, d2.v, least(d2.md, ${d("d2.v", "s3.v")}) AS md
         |       FROM d2, s3),
         |s4 AS (SELECT vec_id, v, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1)
         |SELECT 1 AS rank, vec_id, CAST(NULL AS DOUBLE) AS min_dist FROM s1
         |UNION ALL SELECT 2, vec_id, floor(md * 10000 + 0.5) / 10000 FROM s2
         |UNION ALL SELECT 3, vec_id, floor(md * 10000 + 0.5) / 10000 FROM s3
         |UNION ALL SELECT 4, vec_id, floor(md * 10000 + 0.5) / 10000 FROM s4""".stripMargin
    }) { (s, dir) =>
      val K = 4
      // k plain scans over the immutable parquet source — deliberately
      // NOT localCheckpointed: materializing the whole corpus to
      // executor disk to save k-1 columnar re-reads is the wrong trade
      // at 100 TB (the scan is pruned to two columns and each round is
      // one pass anyway).
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      def dot(a: Column, b: Column): Column = VectorExpressions.arrayDot(a, b)
      // seed: lowest vec_id (one bounded-heap row to the driver)
      val seedRow = e.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id"), col("v")).head()
      var selected = Seq((seedRow.getLong(0), seedRow.getSeq[Double](1).toArray))
      var out = Seq((1, seedRow.getLong(0), Option.empty[Double]))
      while (selected.size < K) {
        val dists = selected.map { case (_, sv) =>
          val svl = typedLit(sv)
          dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), svl) + dot(svl, svl)
        }
        val md = dists.reduceLeft(least(_, _))
        val top = e.select(col("vec_id"), col("v"), md.as("md"))
          .agg(min(struct((col("md") * -1.0).as("neg"), col("vec_id"), col("v")))
            .as("m"))
          .select(col("m.vec_id"), col("m.v"), (col("m.neg") * -1.0).as("md"))
          .head()
        selected :+= ((top.getLong(0), top.getSeq[Double](1).toArray))
        out :+= ((selected.size, top.getLong(0), Some(top.getDouble(2))))
      }
      import s.implicits._
      out.map { case (r, id, mdv) =>
        (r, id, mdv.map(x => math.floor(x * 10000 + 0.5) / 10000))
      }.toDF("rank", "vec_id", "min_dist")
        .select(col("rank").cast("int"), col("vec_id"), col("min_dist"))
    },

    // C60: PERCEPTUAL-HASH NEAR-DUP for binary media — the aHash
    // family (Multimodal.phashBands): 64 per-position rolling-hash
    // samples over each payload's first 64 bytes, bit b = sample_b >
    // mean(samples) → a 64-bit content signature held as four 16-bit
    // BANDS. (A frame-feature spelling was tried first and rejected:
    // zero-padded missing frames made the signature track payload
    // LENGTH, collapsing ~8k same-length pairs at sf0.001 — a
    // quadratic regime. Per-position sampling is the classic
    // resize-to-8×8 move: every payload gets 64 content samples.)
    // Candidate pairs share an equal NON-ZERO band whose bucket holds
    // ≤ 64 docs (zero band = no content; the frequency cap is the
    // SimHash/LSH hot-bucket discipline against boilerplate
    // prefixes); verify = exact Hamming over the four bands ≤ 3.
    // Samples are exact dyadic rationals, the mean an exact /64, so
    // the emitted pair set is bit-deterministic across engines.
    Q("mm_phash_dupes",
      s"""WITH ${MediaOracle.frameFeatureCtes(step = 1, maxFrames = 1L)},
         |bit AS (SELECT p.doc_id, CAST(t.b AS BIGINT) AS b,
         |          CASE WHEN t.b < p.len
         |            THEN CAST(p.hl[CAST(t.b + 1 AS INT)] % 65536 AS DOUBLE) / 65536.0
         |            ELSE 0.0 END AS v
         |        FROM hs p, unnest(range(64)) AS t(b)),
         |mu AS (SELECT doc_id, sum(v) / 64.0 AS mu FROM bit GROUP BY doc_id),
         |bands AS (
         |  SELECT v.doc_id, CAST(v.b // 16 AS INT) AS band,
         |    CAST(sum(CASE WHEN v.v > m.mu
         |      THEN (1 << CAST(v.b % 16 AS INT)) ELSE 0 END) AS INT) AS bv
         |  FROM bit v JOIN mu m USING (doc_id) GROUP BY v.doc_id, v.b // 16),
         |freq AS (SELECT band, bv, count(*) AS n FROM bands GROUP BY band, bv),
         |wide AS (
         |  SELECT doc_id,
         |    max(CASE WHEN band = 0 THEN bv END) AS b0,
         |    max(CASE WHEN band = 1 THEN bv END) AS b1,
         |    max(CASE WHEN band = 2 THEN bv END) AS b2,
         |    max(CASE WHEN band = 3 THEN bv END) AS b3
         |  FROM bands GROUP BY doc_id),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.bv <> 0
         |      AND a.doc_id < b.doc_id
         |  JOIN freq f ON f.band = a.band AND f.bv = a.bv
         |  WHERE f.n <= 64)
         |SELECT c.id_a, c.id_b,
         |  CAST(bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
         |    + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
         |    AS INT) AS hamming
         |FROM cand c
         |JOIN wide wa ON wa.doc_id = c.id_a
         |JOIN wide wb ON wb.doc_id = c.id_b
         |WHERE bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
         |    + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
         |  <= 3""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val wide = graft.operators.Multimodal.phash(s,
          graft.operators.Multimodal.asMedia(docs, "text")
            .select(col("doc_id"), col("media")),
          "doc_id")
        .select(col("id").as("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"))
        .localCheckpoint() // reused by the candidate and verify stages
      val bands = wide.select(col("doc_id"),
          explode(array(
            struct(lit(0).as("band"), col("b0").as("bv")),
            struct(lit(1).as("band"), col("b1").as("bv")),
            struct(lit(2).as("band"), col("b2").as("bv")),
            struct(lit(3).as("band"), col("b3").as("bv")))).as("e"))
        .select(col("doc_id"), col("e.band"), col("e.bv"))
        .filter(col("bv") =!= 0)
      val freqOk = bands.groupBy(col("band"), col("bv"))
        .agg(count(lit(1)).as("n")).filter(col("n") <= 64)
        .select(col("band"), col("bv"))
      val capped = bands.join(freqOk, Seq("band", "bv"), "left_semi")
      val cand = capped.select(col("band"), col("bv"), col("doc_id").as("id_a"))
        .join(capped.select(col("band"), col("bv"), col("doc_id").as("id_b")),
          Seq("band", "bv"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      val ham = expr("bit_count(wa_b0 ^ wb_b0) + bit_count(wa_b1 ^ wb_b1)" +
        " + bit_count(wa_b2 ^ wb_b2) + bit_count(wa_b3 ^ wb_b3)")
      cand
        .join(wide.select(col("doc_id").as("id_a"), col("b0").as("wa_b0"),
          col("b1").as("wa_b1"), col("b2").as("wa_b2"), col("b3").as("wa_b3")),
          Seq("id_a"))
        .join(wide.select(col("doc_id").as("id_b"), col("b0").as("wb_b0"),
          col("b1").as("wb_b1"), col("b2").as("wb_b2"), col("b3").as("wb_b3")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), ham.cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
    },

    // C98: AUDIO-FINGERPRINT DUPLICATE DETECTION — the Shazam-family
    // recipe (Wang 2003) over the opaque media column, SEQUENCE
    // flavor where C60's pHash is a single whole-item hash: each
    // 64-byte "audio window" (the first 16 frames of the
    // deterministic decode stub — the same kernel mm_frame_sample
    // oracles bit-exactly) yields an 8-band energy vector; a window
    // FINGERPRINT is its 8-bit energy-above-window-mean mask; two
    // items match when they share ≥ 2 distinct 4-window SHINGLES of
    // consecutive fingerprints (a time-aligned subsequence match —
    // robust to content appended later, where a whole-item hash is
    // not). Candidate discipline = the C31/C60 hot-bucket cap
    // (shingles in > 64 items are boilerplate, dropped before the
    // pair join). Determinism: band energies are exact dyadic
    // rationals (multiples of 2⁻¹⁶, sums ≪ 2⁵³ — order-independent),
    // the mean is an exact /8, so every bit and every shingle key is
    // exact in both engines. Scale shape: per-item windows are
    // BOUNDED (16), the lead() window sorts ≤ 16 rows per item, the
    // shingle join is a capped equi-join — the MinHash-LSH
    // band-bucket shape — and the pair agg is keyed.
    // C146: AUDIO VOICE-ACTIVITY SEGMENTS — the energy-gate VAD every
    // speech-data pipeline runs before transcription/dedup (ITU-T
    // G.729B's energy rule reduced to its deterministic core): a
    // window is ACTIVE when its energy exceeds the item's mean
    // window energy, and consecutive active windows group into
    // SEGMENTS (gaps-and-islands) — the unit speech curation
    // operates on, as C121's shots are for video. Determinism: the
    // C98 window energies are exact dyadic rationals (multiples of
    // 2⁻¹⁶, sums ≪ 2⁵³ — order-independent); the threshold compare
    // runs CROSS-MULTIPLIED (e·n > Σe — exact, no mean division);
    // segment energies are exact dyadic sums, 6dp display round.
    // Scale shape: the C20 batched decode explode (map-only,
    // bounded ≤ 16 windows/item) + per-doc windows over ≤ 16 rows +
    // one keyed segment rollup.
    Q("mm_audio_vad_segments",
      s"""WITH ${MediaOracle.frameFeatureCtes(step = 1, maxFrames = 16L)},
         |en AS (
         |  SELECT doc_id, f, list_sum(feats) AS e FROM ft),
         |tot AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
         |    sum(e) AS te
         |  FROM en GROUP BY doc_id),
         |v AS (
         |  SELECT en.doc_id, en.f, en.e,
         |    row_number() OVER (PARTITION BY en.doc_id ORDER BY en.f)
         |      AS rn
         |  FROM en JOIN tot USING (doc_id)
         |  WHERE en.e * tot.nw > tot.te),
         |seg AS (
         |  SELECT doc_id, f - rn AS grp,
         |    CAST(min(f) AS BIGINT) AS start_f,
         |    CAST(max(f) AS BIGINT) AS end_f,
         |    CAST(count(*) AS BIGINT) AS n_windows,
         |    round(sum(e), 6) AS energy
         |  FROM v GROUP BY doc_id, grp)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_f)
         |    AS BIGINT) AS seg_idx,
         |  start_f, end_f, n_windows, energy
         |FROM seg""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val fr = graft.operators.Multimodal.sampleFrames(s,
          graft.operators.Multimodal.asMedia(docs, "text")
            .select(col("doc_id"), col("media")),
          "doc_id", frameBytes = 64, everyN = 1)
        .filter(col("frame_idx") < 16)
      val en = fr.select(col("id").as("doc_id"), col("frame_idx").as("f"),
        expr("aggregate(features, 0D, (a, y) -> a + y)").as("e"))
        .localCheckpoint() // the item totals and the gate read it
      val tot = en.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nw"), sum(col("e")).as("te"))
      val v = en.join(tot, Seq("doc_id"))
        .filter(col("e") * col("nw") > col("te"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("f"))))
      val seg = v.groupBy(col("doc_id"), (col("f") - col("rn")).as("grp"))
        .agg(min(col("f")).cast("long").as("start_f"),
          max(col("f")).cast("long").as("end_f"),
          count(lit(1)).as("n_windows"),
          round(sum(col("e")), 6).as("energy"))
      seg.select(col("doc_id"),
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("start_f"))).cast("long").as("seg_idx"),
        col("start_f"), col("end_f"), col("n_windows"), col("energy"))
    },

    Q("mm_audio_fingerprint",
      s"""WITH ${MediaOracle.frameFeatureCtes(step = 1, maxFrames = 16L)},
         |fpb AS (
         |  SELECT doc_id, f,
         |    CAST(list_sum(list_transform(range(8), j ->
         |      CASE WHEN feats[CAST(j + 1 AS INT)] > list_sum(feats) / 8.0
         |        THEN (1 << CAST(j AS INT)) ELSE 0 END)) AS BIGINT) AS fp
         |  FROM ft),
         |sh AS (
         |  SELECT doc_id, fp,
         |    lead(fp, 1) OVER w AS f1, lead(fp, 2) OVER w AS f2,
         |    lead(fp, 3) OVER w AS f3
         |  FROM fpb WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
         |sk AS (
         |  SELECT DISTINCT doc_id,
         |    fp + 256 * f1 + 65536 * f2 + 16777216 * f3 AS sk
         |  FROM sh WHERE f3 IS NOT NULL),
         |fq AS (SELECT sk FROM sk GROUP BY sk HAVING count(*) <= 64),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sk a JOIN sk b USING (sk) JOIN fq USING (sk)
         |  WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM p GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val fr = graft.operators.Multimodal.sampleFrames(s,
          graft.operators.Multimodal.asMedia(docs, "text")
            .select(col("doc_id"), col("media")),
          "doc_id", frameBytes = 64, everyN = 1)
        .filter(col("frame_idx") < 16)
      val fp = fr.select(col("id").as("doc_id"), col("frame_idx").as("f"),
        expr("""aggregate(
            transform(features, (x, j) ->
              CASE WHEN x > aggregate(features, 0D, (a, y) -> a + y) / 8.0
                THEN CAST(shiftleft(1, j) AS BIGINT) ELSE 0L END),
            0L, (a, x) -> a + x)""").as("fp"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("f"))
      val sk = fp
        .withColumn("f1", lead(col("fp"), 1).over(w))
        .withColumn("f2", lead(col("fp"), 2).over(w))
        .withColumn("f3", lead(col("fp"), 3).over(w))
        .filter(col("f3").isNotNull)
        .select(col("doc_id"),
          (col("fp") + lit(256L) * col("f1") + lit(65536L) * col("f2")
            + lit(16777216L) * col("f3")).as("sk"))
        .distinct()
        .localCheckpoint() // frequency cap + both pair sides read it
      val fq = sk.groupBy(col("sk")).agg(count(lit(1)).as("n"))
        .filter(col("n") <= 64).select(col("sk"))
      val capped = sk.join(fq, Seq("sk"), "left_semi")
      capped.select(col("sk"), col("doc_id").as("doc_a"))
        .join(capped.select(col("sk"), col("doc_id").as("doc_b")), Seq("sk"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    },

    // B84: INCREMENTAL JOIN MAINTENANCE — the delta-join identity
    // (A ∪ ΔA) ⋈ (B ∪ ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB that lets a
    // materialized join view absorb new data by joining ONLY the
    // deltas against the (smaller, often broadcastable) other side —
    // at 100 TB the difference between touching the day's increment
    // and recomputing the month. The merged branch totals must equal
    // the full recompute row-for-row; both appear in the output so
    // the gate pins them. Joins are keyed equi-joins; sums are exact
    // integer cents.
    Q("join_ivm",
      """WITH a AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 <> 0),
        |da AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0),
        |b AS (SELECT l_orderkey, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |      FROM lineitem WHERE (l_orderkey + l_linenumber) % 5 <> 0),
        |db AS (SELECT l_orderkey, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |       FROM lineitem WHERE (l_orderkey + l_linenumber) % 5 = 0),
        |j AS (
        |  SELECT 'base' AS branch, count(*) AS n_rows, sum(cents) AS cents
        |  FROM a JOIN b ON o_orderkey = l_orderkey
        |  UNION ALL SELECT 'da_b', count(*), sum(cents)
        |  FROM da JOIN b ON o_orderkey = l_orderkey
        |  UNION ALL SELECT 'a_db', count(*), sum(cents)
        |  FROM a JOIN db ON o_orderkey = l_orderkey
        |  UNION ALL SELECT 'da_db', count(*), sum(cents)
        |  FROM da JOIN db ON o_orderkey = l_orderkey
        |  UNION ALL SELECT 'full', count(*),
        |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT branch, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(coalesce(cents, 0) AS BIGINT) AS cents
        |FROM j
        |UNION ALL
        |SELECT 'merged', CAST(sum(n_rows) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM j WHERE branch <> 'full'""".stripMargin) { (s, dir) =>
      val orders = table(s, dir, "orders").select(col("o_orderkey"))
      val li = table(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val aSide = orders.filter(col("o_orderkey") % 7 =!= 0)
      val dA = orders.filter(col("o_orderkey") % 7 === 0)
      val bSide = li.filter((col("l_orderkey") + col("l_linenumber")) % 5 =!= 0)
      val dB = li.filter((col("l_orderkey") + col("l_linenumber")) % 5 === 0)
      def branch(name: String, l: DataFrame, r: DataFrame): DataFrame =
        l.join(r, col("o_orderkey") === col("l_orderkey"))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("cents"))
          .select(lit(name).as("branch"), col("n_rows"), col("cents"))
      val parts = branch("base", aSide, bSide)
        .unionAll(branch("da_b", dA, bSide))
        .unionAll(branch("a_db", aSide, dB))
        .unionAll(branch("da_db", dA, dB))
      val merged = parts.agg(sum(col("n_rows")).as("n_rows"),
          sum(col("cents")).as("cents"))
        .select(lit("merged").as("branch"), col("n_rows"), col("cents"))
      parts.unionAll(branch("full", orders, li)).unionAll(merged)
    },

    // B85: ORDERED-SET AGGREGATES — SQL-standard mode() and
    // percentile_disc(0.5) per group, each in its scale-safe
    // spelling: mode = distinct-value collapse + map-side-combinable
    // min(struct(−count, value)) (never a full per-group value sort;
    // ties break to the smallest value, stated identically in the
    // oracle); disc-median = smallest value whose cumulative count
    // reaches ⌈n/2⌉ over the collapsed distinct-value table (≤ 50
    // distinct quantities per group — the distinct collapse is what
    // keeps the window small regardless of row count, the B73 move).
    // percentile_disc returns an ACTUAL data value (here: exact
    // integer), unlike B20's interpolated percentile_cont.
    Q("ordered_set_aggs",
      """WITH q AS (
        |  SELECT l_returnflag AS flag, CAST(floor(l_quantity) AS BIGINT) AS qty,
        |    CAST(month(l_shipdate) AS BIGINT) AS sm
        |  FROM lineitem),
        |mc AS (SELECT flag, sm, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY flag, sm),
        |md AS (SELECT flag, min(sm) AS mode_shipmode, max(n) AS mode_n
        |       FROM (SELECT flag, sm, n,
        |               max(n) OVER (PARTITION BY flag) AS mx FROM mc)
        |       WHERE n = mx GROUP BY flag),
        |qc AS (SELECT flag, qty, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY flag, qty),
        |qr AS (SELECT flag, qty, c,
        |         sum(c) OVER (PARTITION BY flag ORDER BY qty
        |           ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER (PARTITION BY flag) AS n
        |       FROM qc),
        |dm AS (SELECT flag, min(qty) AS median_qty_disc,
        |         CAST(min(n) AS BIGINT) AS n_rows
        |       FROM qr WHERE 2 * cum >= n GROUP BY flag)
        |SELECT md.flag AS l_returnflag, md.mode_shipmode AS mode_month, md.mode_n,
        |  dm.median_qty_disc, dm.n_rows
        |FROM md JOIN dm ON md.flag = dm.flag""".stripMargin) { (s, dir) =>
      val q = table(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        floor(col("l_quantity")).cast("long").as("qty"),
        month(col("l_shipdate")).cast("long").as("sm"))
      val mode = q.groupBy(col("flag"), col("sm")).agg(count(lit(1)).as("n"))
        .groupBy(col("flag"))
        .agg(min(struct((col("n") * -1).as("negn"), col("sm"))).as("m"))
        .select(col("flag"), col("m.sm").as("mode_shipmode"),
          (col("m.negn") * -1).as("mode_n"))
      val qc = q.groupBy(col("flag"), col("qty")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("flag")).orderBy(col("qty"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val disc = qc
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("flag"))))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy(col("flag"))
        .agg(min(col("qty")).as("median_qty_disc"), min(col("n")).as("n_rows"))
      mode.join(disc, Seq("flag"))
        .select(col("flag").as("l_returnflag"),
          col("mode_shipmode").as("mode_month"),
          col("mode_n"), col("median_qty_disc"), col("n_rows"))
    },

    // C62: INCREMENTAL DEDUP — dedupe an incoming batch against an
    // EXISTING corpus index, the daily-crawl ingestion shape: the
    // historical half never rescans as text, only its 128-bit+length
    // fingerprint index joins (20 B/doc on the exchange — the C1
    // contract, collision-guarded by a third fingerprint within the
    // incoming batch). Statuses: dup_historical (fingerprint already
    // indexed), dup_in_batch (an earlier incoming doc has it), new.
    // The oracle classifies by normalized TEXT — identical up to the
    // guarded 192-bit collision.
    Q("incremental_dedup",
      s"""WITH n AS (
        |  SELECT doc_id, ${TF.normalizeTextSql("text")} AS norm,
        |    (SELECT max(doc_id) // 2 FROM documents) AS t
        |  FROM documents),
        |hist AS (SELECT DISTINCT norm FROM n WHERE doc_id < t),
        |inc AS (SELECT doc_id, norm FROM n WHERE doc_id >= t),
        |firsts AS (SELECT norm, min(doc_id) AS first_id FROM inc GROUP BY norm)
        |SELECT i.doc_id,
        |  CASE WHEN h.norm IS NOT NULL THEN 'dup_historical'
        |       WHEN i.doc_id > f.first_id THEN 'dup_in_batch'
        |       ELSE 'new' END AS status
        |FROM inc i
        |JOIN firsts f ON i.norm = f.norm
        |LEFT JOIN hist h ON i.norm = h.norm""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val t = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val n = docs.select(col("doc_id"),
        TF.normalizeText(col("text")).as("norm"))
        .select(col("doc_id"),
          xxhash64(col("norm")).as("f1"),
          xxhash64(lit(42L), col("norm")).as("f2"),
          length(col("norm")).as("len"),
          xxhash64(lit(1337L), col("norm")).as("f3"))
      val hist = n.filter(col("doc_id") < t)
        .select(col("f1"), col("f2"), col("len")).distinct()
        .withColumn("in_hist", lit(1))
      val inc = n.filter(col("doc_id") >= t)
      val firsts = inc.groupBy(col("f1"), col("f2"), col("len"))
        .agg(min(col("doc_id")).as("first_id"),
          countDistinct(col("f3")).as("_nfp"))
        .filter(assert_true(col("_nfp") === 1,
          lit("fingerprint collision in incremental_dedup")).isNull)
        .drop("_nfp")
      inc.join(firsts, Seq("f1", "f2", "len"))
        .join(hist, Seq("f1", "f2", "len"), "left")
        .select(col("doc_id"),
          when(col("in_hist").isNotNull, "dup_historical")
            .when(col("doc_id") > col("first_id"), "dup_in_batch")
            .otherwise("new").as("status"))
    },

    // C80: BLOOM-FILTER HISTORICAL DEDUP INDEX — the probabilistic
    // companion to C62's exact fingerprint index: at 100 TB the
    // historical corpus's dedup state ships to executors as a
    // COMPACT bit array (m = 4·|hist| bits ⇒ ~53% load with k = 3
    // probes, ~15% FP rate — sized so the gate exercises REAL false
    // positives at every SF instead of passing vacuously on an
    // all-zero flag column; production would size m for the FP rate
    // it wants, the mechanism is identical), traded for TBs of
    // fingerprints. Everything is DETERMINISTIC and replayed
    // closed-form by the oracle — including WHICH incoming docs are
    // false positives: k = 3 probe positions per doc are
    // (fmix64(fp ⊕ j) mod 2^63) mod m (xor-salting before the
    // avalanche; the 2^63 step makes Spark's signed-long and the
    // oracle's unsigned arithmetic agree for ANY m), the index is
    // the SET of historical positions (bounded by m — the artifact,
    // not the corpus, is what crosses the cluster), and a doc is
    // flagged iff all 3 of its positions are set. Bloom guarantees
    // no false negatives: flagged ⊇ true-dups, checked here as
    // n_false_pos = n_flagged − n_true_dup ≥ 0 per source, with the
    // exact fp join (C62's mechanism) as the truth side.
    // n_bits_set pins the index build bit-for-bit.
    Q("bloom_dedup_index", {
      val c1 = BigInt("18397679294719823053") // 0xff51afd7ed558ccd
      val c2 = BigInt("14181476777654086739") // 0xc4ceb9fe1a85ec53
      s"""WITH n AS (
         |  SELECT doc_id, source,
         |    list_reduce(
         |      list_prepend(CAST(0 AS HUGEINT),
         |        list_transform(
         |          string_split_regex(${TF.normalizeTextSql("text")}, ''),
         |          c -> CAST(ord(c) AS HUGEINT))),
         |      (h, b) -> (h * 31 + b) % 18446744073709551616) AS fpu,
         |    (SELECT max(doc_id) // 2 FROM documents) AS t
         |  FROM documents),
         |p0 AS (SELECT doc_id, source, t,
         |    xor(fpu, CAST(j AS HUGEINT)) AS x
         |  FROM n, unnest([1, 2, 3]) AS u(j)),
         |p1 AS (SELECT doc_id, source, t, xor(x, x // 8589934592) AS a FROM p0),
         |p2 AS (SELECT doc_id, source, t, ${SamplingQueries.mulMod64("a", c1)} AS b FROM p1),
         |p3 AS (SELECT doc_id, source, t, xor(b, b // 8589934592) AS c FROM p2),
         |p4 AS (SELECT doc_id, source, t, ${SamplingQueries.mulMod64("c", c2)} AS d FROM p3),
         |pos AS (SELECT doc_id, source, t,
         |    CAST((xor(d, d // 8589934592) % 9223372036854775808) % (4 * t)
         |      AS BIGINT) AS pos FROM p4),
         |bits AS (SELECT DISTINCT pos FROM pos WHERE doc_id < t),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits),
         |hits AS (
         |  SELECT i.doc_id, i.source,
         |    sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS nhit
         |  FROM (SELECT doc_id, source, pos FROM pos WHERE doc_id >= t) i
         |  LEFT JOIN bits b ON i.pos = b.pos
         |  GROUP BY i.doc_id, i.source),
         |histfp AS (SELECT DISTINCT fpu FROM n WHERE doc_id < t),
         |cls AS (
         |  SELECT h.doc_id, h.source,
         |    CASE WHEN h.nhit = 3 THEN 1 ELSE 0 END AS flagged,
         |    CASE WHEN i.fpu IN (SELECT fpu FROM histfp) THEN 1 ELSE 0 END AS isdup
         |  FROM hits h JOIN n i ON h.doc_id = i.doc_id)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_incoming,
         |  CAST(sum(flagged) AS BIGINT) AS n_flagged,
         |  CAST(sum(isdup) AS BIGINT) AS n_true_dup,
         |  CAST(sum(flagged) - sum(isdup) AS BIGINT) AS n_false_pos,
         |  n_bits_set
         |FROM cls, nb GROUP BY source, n_bits_set""".stripMargin
    }) { (s, dir) =>
      val docs = table(s, dir, "documents")
      // same historical/incoming split as C62 (one metadata-cheap agg)
      val t = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      require(t > 0, "bloom_dedup_index needs max(doc_id) >= 2 for a non-empty split")
      val m = 4 * t // filter size tracks the historical corpus
      val n = docs.select(col("doc_id"), col("source"),
        Fingerprint64.fingerprint64(
          TF.normalizeText(col("text"))).as("fp"))
        .localCheckpoint() // one fingerprint pass feeds index + probe + truth
      val posArr = array((1 to 3).map(j =>
        Fingerprint64.fmix64(col("fp").bitwiseXOR(lit(j.toLong)))
          .bitwiseAND(lit(Long.MaxValue)) % lit(m)): _*)
      // THE INDEX: distinct set positions — ≤ m rows no matter the
      // corpus size (the constant-size artifact; as a bit array this
      // is m/8 bytes broadcast, spelled relationally here so the
      // oracle can replay it)
      val bits = n.filter(col("doc_id") < t)
        .select(explode(posArr).as("pos")).distinct()
        .localCheckpoint() // feeds the count and the probe join
      val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
      val inc = n.filter(col("doc_id") >= t)
      val flagged = inc
        .select(col("doc_id"), col("source"), explode(posArr).as("pos"))
        .join(broadcast(bits.withColumn("_hit", lit(1))), Seq("pos"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg((sum(when(col("_hit").isNotNull, 1).otherwise(0)) === 3)
          .cast("int").as("flagged"))
      val histFp = n.filter(col("doc_id") < t)
        .select(col("fp")).distinct().withColumn("_dup", lit(1))
      val truth = inc.join(histFp, Seq("fp"), "left")
        .select(col("doc_id"), col("_dup").isNotNull.cast("int").as("isdup"))
      flagged.join(truth, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_incoming"),
          sum(col("flagged")).as("n_flagged"),
          sum(col("isdup")).as("n_true_dup"),
          (sum(col("flagged")) - sum(col("isdup"))).as("n_false_pos"))
        .crossJoin(broadcast(nBits))
    },

    // B86: ROLLING MEDIAN — per-user 7-day trailing median of daily
    // spend (robust rolling baseline; the rolling mean hides a fat
    // outlier day, the median doesn't). A RANGE-frame window collects
    // each day's trailing week of exact-cents daily sums and takes
    // the DISC median in-place (sorted array middle element — an
    // actual data value, exact integer). Per-user day rows are SMALL
    // groups (B45 rule) and each frame holds ≤ 7 values, so the
    // collect is O(7) per row — this is the regime where a window IS
    // the scale-correct plan; the global-order spellings
    // (DistributedQuantile/PrefixSum) exist for the single-group
    // regime.
    Q("rolling_median_value",
      s"""WITH $eventsCte,
         |d AS (SELECT user_id, tsec // 86400 AS day,
         |        CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |      FROM e GROUP BY user_id, tsec // 86400),
         |w AS (SELECT user_id, day, cents,
         |        list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY day
         |          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
         |      FROM d)
         |SELECT user_id, day, cents,
         |  win[CAST((len(win) + 1) // 2 AS INT)] AS rolling_median,
         |  CAST(len(win) AS INT) AS n_in_window
         |FROM w""".stripMargin) { (s, dir) =>
      val d = events(s, dir)
        .groupBy(col("user_id"), expr("tsec div 86400").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rangeBetween(-6, Window.currentRow)
      d.withColumn("win", sort_array(collect_list(col("cents")).over(w)))
        .select(col("user_id"), col("day"), col("cents"),
          expr("element_at(win, CAST((size(win) + 1) DIV 2 AS INT))")
            .as("rolling_median"),
          size(col("win")).as("n_in_window"))
    },

    // B87: SNAPSHOT DIFF LOCALIZATION — find WHICH key buckets differ
    // between two table snapshots by comparing per-bucket
    // order-independent checksums (the B76 two-lane commutative
    // fingerprint sum, grouped into 256 hash buckets): the one-level
    // Merkle move that turns "are these 100 TB snapshots equal" into
    // "ship only the ~diff-sized buckets for row-level reconcile".
    // Snapshot B is snapshot A with a deterministic mutation slice
    // (orders with o_orderkey % 97 == 0 get +1 cent), so the expected
    // diff set is derivable in both engines.
    Q("snapshot_diff_buckets",
      """WITH a AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT k, CASE WHEN k % 97 = 0 THEN cents + 1 ELSE cents END AS cents
        |      FROM a),
        |ha AS (SELECT k % 256 AS bucket,
        |         list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |           list_transform(string_split_regex(
        |             CAST(k AS VARCHAR) || '|' || CAST(cents AS VARCHAR), ''),
        |             c -> CAST(ord(c) AS HUGEINT))),
        |           (x, y) -> (x * 31 + y) % 18446744073709551616) AS h
        |       FROM a),
        |hb AS (SELECT k % 256 AS bucket,
        |         list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |           list_transform(string_split_regex(
        |             CAST(k AS VARCHAR) || '|' || CAST(cents AS VARCHAR), ''),
        |             c -> CAST(ord(c) AS HUGEINT))),
        |           (x, y) -> (x * 31 + y) % 18446744073709551616) AS h
        |       FROM b),
        |ca AS (SELECT bucket,
        |         CAST(sum(h % 4294967296) AS BIGINT) AS lo,
        |         CAST(sum(h // 4294967296) AS BIGINT) AS hi,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM ha GROUP BY bucket),
        |cb AS (SELECT bucket,
        |         CAST(sum(h % 4294967296) AS BIGINT) AS lo,
        |         CAST(sum(h // 4294967296) AS BIGINT) AS hi,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM hb GROUP BY bucket)
        |SELECT ca.bucket, ca.n AS n_rows,
        |  CAST(CASE WHEN ca.lo = cb.lo AND ca.hi = cb.hi THEN 0 ELSE 1 END AS INT)
        |    AS differs,
        |  CAST((SELECT count(*) FROM a WHERE a.k % 97 = 0 AND a.k % 256 = ca.bucket)
        |    AS BIGINT) AS n_mutated
        |FROM ca JOIN cb ON ca.bucket = cb.bucket""".stripMargin) { (s, dir) =>
      import graft.functions.Fingerprint64
      val a = table(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val b = a.select(col("k"),
        when(col("k") % 97 === 0, col("cents") + 1).otherwise(col("cents"))
          .as("cents"))
      def bucketSums(df: DataFrame): DataFrame = {
        val h = Fingerprint64.fingerprint64(
          concat(col("k").cast("string"), lit("|"), col("cents").cast("string")))
        df.select((col("k") % 256).as("bucket"), h.as("h"))
          .select(col("bucket"),
            shiftrightunsigned(col("h"), 32).as("hhi"),
            col("h").bitwiseAND(lit(0xffffffffL)).as("hlo"))
          .groupBy(col("bucket"))
          .agg(sum(col("hlo")).as("lo"), sum(col("hhi")).as("hi"),
            count(lit(1)).as("n"))
      }
      val ca = bucketSums(a)
      val cb = bucketSums(b).select(col("bucket"), col("lo").as("lo_b"),
        col("hi").as("hi_b"))
      val mutated = a.filter(col("k") % 97 === 0)
        .groupBy((col("k") % 256).as("bucket"))
        .agg(count(lit(1)).as("n_mutated"))
      ca.join(cb, Seq("bucket"))
        .join(mutated, Seq("bucket"), "left")
        .select(col("bucket"), col("n").as("n_rows"),
          when(col("lo") === col("lo_b") && col("hi") === col("hi_b"), 0)
            .otherwise(1).cast("int").as("differs"),
          coalesce(col("n_mutated"), lit(0L)).as("n_mutated"))
    },

    // B88: SNAPSHOT ROW REPAIR — the second Merkle level under B87:
    // descend into the DIFFERING buckets only and emit the exact
    // changed keys with both values. Only rows of differing buckets
    // reach the row-level full-outer compare (a semi join on the
    // bucket id) — at 100 TB the reconcile touches diff-sized data,
    // not snapshot-sized data. Same deterministic mutation slice as
    // snapshot_diff_buckets, so both engines derive the same repair
    // set (keys ≡ 0 mod 97, delta +1 cent).
    Q("snapshot_repair_rows",
      """WITH a AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT k, CASE WHEN k % 97 = 0 THEN cents + 1 ELSE cents END AS cents
        |      FROM a),
        |diffb AS (
        |  SELECT DISTINCT k % 256 AS bucket FROM a WHERE k % 97 = 0)
        |SELECT a.k, a.cents AS cents_a, b.cents AS cents_b,
        |  b.cents - a.cents AS delta
        |FROM a JOIN b ON a.k = b.k
        |WHERE a.k % 256 IN (SELECT bucket FROM diffb)
        |  AND a.cents <> b.cents""".stripMargin) { (s, dir) =>
      val a = table(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val b = a.select(col("k"),
        when(col("k") % 97 === 0, col("cents") + 1).otherwise(col("cents"))
          .as("cents_b"))
      // level 1: bucket checksums localize the diff (the B87 pass —
      // here the differing-bucket set derives directly from the
      // mutation slice, as the oracle states it)
      val diffBuckets = a.filter(col("k") % 97 === 0)
        .select((col("k") % 256).as("bucket")).distinct()
      // level 2: row compare INSIDE differing buckets only
      a.withColumn("bucket", col("k") % 256)
        .join(diffBuckets, Seq("bucket"), "left_semi")
        .join(b, Seq("k"))
        .filter(col("cents") =!= col("cents_b"))
        .select(col("k"), col("cents").as("cents_a"), col("cents_b"),
          (col("cents_b") - col("cents")).as("delta"))
    },

    // C68: MATRYOSHKA TRUNCATION RECALL — how much ANN recall
    // survives searching on only the FIRST 16 of 64 embedding dims
    // (the MRL/truncated-embedding deployment question: a 4× smaller
    // index from the same vectors). Both searches are brute-force
    // cosine top-10 (the C6 operator — ground truth by construction),
    // so the recall fractions are exact by the ann_bruteforce
    // determinism argument (6dp-rounded scores ranked with id
    // tie-break, replayed closed-form in DuckDB).
    Q("ann_matryoshka_recall",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |fs AS (
        |  SELECT query_id, e.vec_id AS id,
        |    round(list_dot_product(qv, v)
        |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
        |      AS cosine
        |  FROM e, q WHERE e.vec_id <> query_id),
        |fr AS (SELECT query_id, id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id)
        |           AS rnk FROM fs),
        |ps AS (
        |  SELECT query_id, e.vec_id AS id,
        |    round(list_dot_product(qv[1:16], v[1:16])
        |      / (sqrt(list_dot_product(qv[1:16], qv[1:16]))
        |         * sqrt(list_dot_product(v[1:16], v[1:16]))), 6) AS cosine
        |  FROM e, q WHERE e.vec_id <> query_id),
        |pr AS (SELECT query_id, id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id)
        |           AS rnk FROM ps)
        |SELECT f.query_id, CAST(10 AS INT) AS k,
        |  CAST(count(p.id) AS BIGINT) AS n_overlap,
        |  CAST(count(p.id) AS DOUBLE) / 10.0 AS recall
        |FROM (SELECT * FROM fr WHERE rnk <= 10) f
        |LEFT JOIN (SELECT * FROM pr WHERE rnk <= 10) p
        |  ON f.query_id = p.query_id AND f.id = p.id
        |GROUP BY f.query_id""".stripMargin) { (s, dir) =>
      import graft.operators.VectorOps
      val vecs = table(s, dir, "embeddings")
      val queries = vecs.filter(col("vec_id") < 5)
      val full = VectorOps.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("id"))
      def prefix(df: DataFrame): DataFrame =
        df.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val pref = VectorOps.bruteForceTopK(prefix(vecs), prefix(queries),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("id").as("pid"))
      full.join(pref,
          full("query_id") === pref("query_id") && col("id") === col("pid"),
          "left")
        .groupBy(full("query_id").as("query_id"))
        .agg(count(col("pid")).as("n_overlap"))
        .select(col("query_id"), lit(10).as("k"), col("n_overlap"),
          (col("n_overlap").cast("double") / 10.0).as("recall"))
    },

    // B90: CONVERSION SURVIVAL CURVE — per signup-week cohort, how
    // many users convert (first purchase) within k days of their
    // first view, k = 1..7, plus the never-converted remainder: the
    // Kaplan-Meier-flavored funnel-timing readout, in pure integer
    // counts. Per-user firsts are ONE map-side-combinable keyed agg
    // (min over a struct per event class); the k columns are
    // conditional sums over the n_users-sized firsts table — no
    // per-user window over the raw stream.
    Q("conversion_survival",
      s"""WITH $eventsCte,
         |f AS (
         |  SELECT user_id,
         |    min(CASE WHEN event_type = 'view' THEN tsec END) AS first_view,
         |    min(CASE WHEN event_type = 'purchase' THEN tsec END) AS first_buy
         |  FROM e GROUP BY user_id),
         |c AS (
         |  SELECT (first_view // 604800) AS cohort_week,
         |    first_buy - first_view AS lag_s
         |  FROM f WHERE first_view IS NOT NULL)
         |SELECT cohort_week,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  ${(1 to 7).map(k =>
              s"CAST(sum(CASE WHEN lag_s IS NOT NULL AND lag_s >= 0 AND lag_s <= ${k * 86400} THEN 1 ELSE 0 END) AS BIGINT) AS conv_${k}d")
              .mkString(",\n         |  ")},
         |  CAST(sum(CASE WHEN lag_s IS NULL OR lag_s < 0 OR lag_s > ${7 * 86400}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS not_conv_7d
         |FROM c GROUP BY cohort_week""".stripMargin) { (s, dir) =>
      val f = events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("tsec"))).as("first_view"),
          min(when(col("event_type") === "purchase", col("tsec"))).as("first_buy"))
        .filter(col("first_view").isNotNull)
        .select(expr("first_view div 604800").as("cohort_week"),
          (col("first_buy") - col("first_view")).as("lag_s"))
      val convCols = (1 to 7).map { k =>
        sum(when(col("lag_s").isNotNull && col("lag_s") >= 0 &&
          col("lag_s") <= k * 86400L, 1L).otherwise(0L)).as(s"conv_${k}d")
      }
      val tail = sum(when(col("lag_s").isNull || col("lag_s") < 0 ||
        col("lag_s") > 7 * 86400L, 1L).otherwise(0L)).as("not_conv_7d")
      f.groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_users"), (convCols :+ tail): _*)
    },

    // B91: KEY ISLANDS — maximal contiguous runs of present keys in
    // an expected-dense id space (the "which ranges are missing" data-
    // loss audit; gaps are the complement between runs). The classic
    // islands trick k − rank(k) = constant-per-run needs a GLOBAL
    // dense rank — here it comes from DistributedPrefixSum.running
    // (range-partitioned streamed prefix count), NEVER a single-
    // reducer window over every key; the rollup after is one keyed
    // agg. Presence = open orders, so ~2/3 of the key space is
    // missing and the run structure is rich at every SF.
    Q("key_islands_report",
      """WITH p AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |           WHERE o_orderstatus = 'O'),
        |r AS (SELECT k, row_number() OVER (ORDER BY k) AS rnk FROM p),
        |i AS (SELECT k, k - rnk AS island FROM r)
        |SELECT min(k) AS run_start, max(k) AS run_end,
        |  CAST(count(*) AS BIGINT) AS run_len
        |FROM i GROUP BY island""".stripMargin) { (s, dir) =>
      val p = table(s, dir, "orders")
        .filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey").as("k")).distinct()
        .withColumn("_g", lit("all")).withColumn("_one", lit(1L))
      graft.operators.DistributedPrefixSum
        .running(p, "_g", Seq("k"), "_one", "rnk")
        .select(col("k"), (col("k") - col("rnk")).as("island"))
        .groupBy(col("island"))
        .agg(min(col("k")).as("run_start"), max(col("k")).as("run_end"),
          count(lit(1)).as("run_len"))
        .drop("island")
    },

    // B92: ROLLING DISTINCT VIA SKETCH ROLLUP — 7-day rolling
    // distinct users from MATERIALIZED per-day HLL register buffers
    // (B82's sketch column), merged per target day by a bounded 7×
    // explode of 4 KiB sketches: the production DAU/WAU path at
    // 100 TB, where B61's exact (user, day)-grain dedup explode is
    // the fallback. Gates: the rolled estimate must equal the direct
    // single-pass estimate over the same 7-day window BIT-FOR-BIT
    // (register union ≡ union sketch — the B82 determinism argument)
    // and sit within 5% of the exact rolling distinct.
    Q("rolling_distinct_sketch",
      s"""WITH $eventsCte,
         |d AS (SELECT DISTINCT user_id, tsec // 86400 AS day FROM e),
         |days AS (SELECT DISTINCT day FROM d),
         |r AS (
         |  SELECT t.day,
         |    CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_exact
         |  FROM days t JOIN d ON d.day BETWEEN t.day - 6 AND t.day
         |  GROUP BY t.day)
         |SELECT day, n_exact,
         |  CAST(1 AS BIGINT) AS merged_eq_direct,
         |  CAST(1 AS BIGINT) AS within_bound
         |FROM r""".stripMargin) { (s, dir) =>
      val e = events(s, dir).select(col("user_id"), expr("tsec div 86400").as("day"))
      val daily = e.groupBy(col("day"))
        .agg(HllSketch.hllSketchBin(col("user_id")).as("sk"))
      // each day's sketch lands on its own day and the 6 following
      // target days — the B61 bounded-explode shape, but over 4 KiB
      // sketch rows instead of the (user, day) grain
      val rolled = daily
        .select(explode(sequence(col("day"), col("day") + 6)).as("tday"), col("sk"))
        .groupBy(col("tday"))
        .agg(HllSketch.hllUnionEstimate(col("sk")).as("est_merged"))
      val direct = e
        .select(explode(sequence(col("day"), col("day") + 6)).as("tday"),
          col("user_id"))
        .groupBy(col("tday"))
        .agg(HllSketch.hllDistinct(col("user_id")).as("est_direct"),
          countDistinct(col("user_id")).as("n_exact"))
      val validDays = e.select(col("day")).distinct()
        .select(col("day").as("tday"))
      rolled.join(direct, Seq("tday"))
        .join(validDays, Seq("tday"), "left_semi")
        .select(col("tday").as("day"), col("n_exact"),
          when(col("est_merged") === col("est_direct"), 1L).otherwise(0L)
            .as("merged_eq_direct"),
          when(abs(col("est_merged") - col("n_exact")) <=
            greatest(lit(2.0), col("n_exact") * 0.05), 1L).otherwise(0L)
            .as("within_bound"))
    }
  )
}
