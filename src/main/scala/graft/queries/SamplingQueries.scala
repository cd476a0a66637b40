package graft.queries

import graft.GraftSession.table
import graft.functions.{BottomKSample, Fingerprint64, TextFunctions => TF}
import org.apache.spark.sql.functions._

/** Deterministic sampling queries (SURVEY.md §2 B34, C33): the
  * bottom-k sketch promoted to a full DuckDB oracle row, and
  * target-proportional corpus rebalancing — the "data mixing" step of
  * a training pipeline (sample over-represented languages down to an
  * equal share, reproducibly).
  *
  * Both rest on hashes BOTH engines compute bit-identically: fmix64
  * is replayed in DuckDB HUGEINT arithmetic (the same replay
  * dedup_simhash uses), and the rebalance key is bounded modular
  * integer arithmetic (the stratified_sample convention).
  */
object SamplingQueries {

  // 64-bit wraparound multiply in HUGEINT: (x * C) mod 2^64 with the
  // product split into 32-bit halves (a full 64×64 product overflows
  // INT128). C is a compile-time constant, pre-split hi/lo.
  private[queries] def mulMod64(x: String, c: BigInt): String = {
    val hi = c >> 32
    val lo = c & 0xffffffffL
    s"((($x % 4294967296) * $lo + ((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296) * 4294967296) % 18446744073709551616)"
  }

  /** DuckDB replay of `VectorExpressions.fmix64(x)`: the xor-shift-33
    * / multiply avalanche on the unsigned HUGEINT image (>>> 33 ≡
    * // 2^33 for non-negative inputs), re-signed at the end to Java's
    * signed-Long ordering — the order BottomKSample's TreeMap buffer
    * keeps. fmix64 is a bijection, so distinct keys give distinct
    * hashes: bottom-k SETS and their emission order are exactly
    * determined. Emits a subquery yielding `carry` columns + `hs`.
    */
  private[queries] def fmix64SignedSql(carry: Seq[String], x: String, src: String): String = {
    val c1 = BigInt("18397679294719823053") // 0xff51afd7ed558ccd
    val c2 = BigInt("14181476777654086739") // 0xc4ceb9fe1a85ec53
    val cs = carry.mkString(", ")
    s"""SELECT $cs,
       |    CASE WHEN h >= 9223372036854775808
       |         THEN h - 18446744073709551616 ELSE h END AS hs
       |  FROM (SELECT $cs, xor(d, d // 8589934592) AS h
       |  FROM (SELECT $cs, ${mulMod64("c", c2)} AS d
       |    FROM (SELECT $cs, xor(b, b // 8589934592) AS c
       |      FROM (SELECT $cs, ${mulMod64("a", c1)} AS b
       |        FROM (SELECT $cs, xor(CAST($x AS HUGEINT),
       |                    CAST($x AS HUGEINT) // 8589934592) AS a
       |              FROM $src)))))""".stripMargin
  }

  private val bottomkOracleSql: String =
    s"""WITH sg AS (
       |  ${fmix64SignedSql(Seq("o_orderpriority", "o_orderkey"), "o_orderkey", "orders")}),
       |r AS (
       |  SELECT o_orderpriority, o_orderkey,
       |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY hs) AS rnk
       |  FROM sg)
       |SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_orderkey
       |FROM r WHERE rnk <= 5""".stripMargin

  /** DuckDB replay of the KMV set-operation estimate: per-side
    * bottom-256 signatures by signed fmix64 rank, merged bottom-256
    * of the union, match fraction J = |K(A∪B) ∩ K(A) ∩ K(B)| / k,
    * inclusion-exclusion estimate Î = J·(|A|+|B|)/(1+J) (Beyer et
    * al. 2007). Every step is rank/count/IEEE arithmetic both
    * engines compute identically → the ESTIMATE itself is bit-exact,
    * with exact companions beside it.
    */
  private val kmvOracleSql: String = {
    val est = "(mm / 256.0) * (d_a + d_b) / (1 + mm / 256.0)"
    s"""WITH pk AS (
       |  SELECT l_partkey,
       |    max(CASE WHEN l_quantity <= 2 THEN 1 ELSE 0 END) AS ia,
       |    max(CASE WHEN l_quantity >= 49 THEN 1 ELSE 0 END) AS ib
       |  FROM lineitem WHERE l_quantity <= 2 OR l_quantity >= 49
       |  GROUP BY l_partkey),
       |st AS (
       |  SELECT CAST(sum(ia) AS BIGINT) AS d_a, CAST(sum(ib) AS BIGINT) AS d_b,
       |    CAST(sum(ia * ib) AS BIGINT) AS exact_i
       |  FROM pk),
       |hh AS (
       |  ${fmix64SignedSql(Seq("l_partkey", "ia", "ib"), "l_partkey", "pk")}),
       |ra AS (SELECT l_partkey, hs FROM (
       |  SELECT l_partkey, hs, row_number() OVER (ORDER BY hs) AS rn
       |  FROM hh WHERE ia = 1) WHERE rn <= 256),
       |rb AS (SELECT l_partkey, hs FROM (
       |  SELECT l_partkey, hs, row_number() OVER (ORDER BY hs) AS rn
       |  FROM hh WHERE ib = 1) WHERE rn <= 256),
       |u AS (SELECT l_partkey FROM (
       |  SELECT l_partkey, row_number() OVER (ORDER BY hs) AS rn
       |  FROM (SELECT l_partkey, hs FROM ra UNION SELECT l_partkey, hs FROM rb))
       |  WHERE rn <= 256),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS mm FROM u
       |  WHERE l_partkey IN (SELECT l_partkey FROM ra)
       |    AND l_partkey IN (SELECT l_partkey FROM rb))
       |SELECT d_a, d_b, exact_i,
       |  floor($est * 10000 + 0.5) / 10000 AS est_intersection,
       |  CAST(CASE WHEN abs($est - exact_i) <= 0.25 * exact_i
       |       THEN 1 ELSE 0 END AS INT) AS err_ok
       |FROM st, m""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // B34: the BottomKSample TypedImperativeAggregate under the full
    // oracle — a deterministic uniform sample per group (same rows on
    // every run and any cluster layout; O(k) buffer, O(k) shuffle per
    // group regardless of input size). The sketch's exact output —
    // which 5 order keys per priority, in which order — is pinned by
    // the DuckDB fmix64 replay.
    Q("bottomk_sample_orders", bottomkOracleSql) { (s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(BottomKSample.bottomkSample(col("o_orderkey"), 5).as("sample"))
        .select(col("o_orderpriority"),
          posexplode(col("sample")).as(Seq("pos", "o_orderkey")))
        .select(col("o_orderpriority"),
          (col("pos") + 1).cast("int").as("rnk"), col("o_orderkey"))
    },

    // B44: KMV set-operation estimate — distinct-intersection
    // cardinality of two key sets from their bottom-k signatures
    // (Beyer et al. 2007): |A∩B| ≈ J·(|A|+|B|)/(1+J) with
    // J = |K(A∪B) ∩ K(A) ∩ K(B)| / k. The scale shape: ONE keyed
    // pass rolls the corpus into per-key membership flags
    // (key-space-sized, localCheckpointed), ONE aggregation builds
    // both 256-element signatures AND the exact companions, and the
    // estimate math runs on ≤512 rows. Sketching the flag relation
    // instead of the raw scan is sound because BottomKSample dedups
    // by hash — a set's sketch equals its multiset's. The oracle
    // replays the fmix64 ranks, so the ESTIMATE is bit-exact, gated
    // beside exact values with a 25% bound (k=256 ⇒ ~2-3% expected).
    Q("kmv_set_intersection", kmvOracleSql) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pk = table(s, dir, "lineitem")
        .filter(col("l_quantity") <= 2 || col("l_quantity") >= 49)
        .groupBy(col("l_partkey"))
        .agg(
          max(when(col("l_quantity") <= 2, 1).otherwise(0)).as("ia"),
          max(when(col("l_quantity") >= 49, 1).otherwise(0)).as("ib"))
        .localCheckpoint()
      val row = pk.agg(
        BottomKSample.bottomkSample(when(col("ia") === 1, col("l_partkey")), 256)
          .as("sig_a"),
        BottomKSample.bottomkSample(when(col("ib") === 1, col("l_partkey")), 256)
          .as("sig_b"),
        sum(col("ia")).cast("bigint").as("d_a"),
        sum(col("ib")).cast("bigint").as("d_b"),
        sum(col("ia") * col("ib")).cast("bigint").as("exact_i"))
      val merged = row
        .select(col("sig_a"), col("sig_b"), col("d_a"), col("d_b"), col("exact_i"),
          explode(array_union(col("sig_a"), col("sig_b"))).as("v"))
        .withColumn("h", Fingerprint64.fmix64(col("v")))
        .withColumn("rn", row_number().over(Window.orderBy(col("h"))))
        .filter(col("rn") <= 256)
        .agg(
          max(col("d_a")).as("d_a"), max(col("d_b")).as("d_b"),
          max(col("exact_i")).as("exact_i"),
          sum(when(array_contains(col("sig_a"), col("v"))
            && array_contains(col("sig_b"), col("v")), 1L).otherwise(0L)).as("mm"))
      val est = (col("mm") / lit(256.0)) * (col("d_a") + col("d_b")) /
        (lit(1) + col("mm") / lit(256.0))
      merged.select(
        col("d_a"), col("d_b"), col("exact_i"),
        (floor(est * 10000 + lit(0.5)) / 10000).as("est_intersection"),
        (abs(est - col("exact_i")) <= lit(0.25) * col("exact_i"))
          .cast("int").as("err_ok"))
    },

    // C33: target-proportional corpus rebalancing — deterministic
    // down-sampling of over-represented languages to an equal share
    // (the data-mixing step before training). Per-lang keep
    // probability p = min(1, (n_total / n_langs) / n_lang) becomes an
    // integer threshold; a doc is kept iff its hash residue falls
    // below it. The hash is the stratified_sample convention (mod
    // 1000003 first keeps the product < 2^63 — ANSI-safe; at real
    // scale swap in a full-width 64-bit mix), so the kept SET — not
    // just its size — is oracle-exact. Plan shape: one tiny stats agg
    // broadcast back over one corpus scan; the exchange carries only
    // the per-lang rollup.
    Q("corpus_rebalance",
      """WITH t AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_total,
        |         count(DISTINCT lang) AS n_langs
        |  FROM documents),
        |s AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |th AS (
        |  SELECT lang, n_docs,
        |    CAST(floor(least(1.0,
        |      (SELECT n_total FROM t) / (SELECT n_langs FROM t) / n_docs)
        |      * 1000000) AS BIGINT) AS thresh
        |  FROM s),
        |k AS (
        |  SELECT d.lang, d.doc_id, th.thresh, th.n_docs,
        |    CASE WHEN ((d.doc_id % 1000003) * 2654435761) % 1000000 < th.thresh
        |         THEN 1 ELSE 0 END AS keep
        |  FROM documents d JOIN th USING (lang))
        |SELECT lang,
        |  CAST(max(n_docs) AS BIGINT) AS n_docs,
        |  thresh,
        |  CAST(sum(keep) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN keep = 1 THEN doc_id END), 0) AS BIGINT)
        |    AS kept_id_sum
        |FROM k GROUP BY lang, thresh""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val tot = docs.agg(
        count(lit(1)).cast("double").as("n_total"),
        countDistinct(col("lang")).as("n_langs"))
      val perLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val th = perLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"),
          floor(least(lit(1.0), col("n_total") / col("n_langs") / col("n_docs"))
            * 1000000).cast("bigint").as("thresh"))
      docs
        .select(col("doc_id"), col("lang"),
          ((col("doc_id") % 1000003L) * 2654435761L % 1000000L).as("hkey"))
        .join(broadcast(th), Seq("lang"))
        .withColumn("keep", (col("hkey") < col("thresh")).cast("int"))
        .groupBy(col("lang"))
        .agg(
          max(col("n_docs")).as("n_docs"),
          max(col("thresh")).as("thresh"),
          sum(col("keep")).as("n_kept"),
          coalesce(sum(when(col("keep") === 1, col("doc_id"))), lit(0L))
            .cast("bigint").as("kept_id_sum"))
    },

    // C44: weight-proportional (PPS) SYSTEMATIC sampling — select
    // ~50 docs per language with probability proportional to an
    // integer quality weight (n_chars here; any integer score works).
    // The classic spelling draws u ~ U(0,1) per row (not
    // reproducible) or orders by -ln(u)/w (transcendental — not
    // bit-replayable across engines); the systematic form is pure
    // integer arithmetic: lay the docs on a weight line in doc_id
    // order, then take the doc containing each multiple of
    // stride = W/50. A doc is chosen iff its (cum−w, cum] interval
    // crosses a stride boundary — floor division both engines
    // compute identically on non-negative integers, so the sampled
    // SET is oracle-exact. The weight line comes from
    // DistributedPrefixSum (two streamed passes, NO per-language
    // single-reducer window) and the per-language strides from a
    // broadcast lang-sized aggregate: the whole selection is one
    // corpus scan + one tiny broadcast at any corpus size.
    Q("corpus_pps_sample",
      """WITH d AS (
        |  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
        |t AS (SELECT lang, CAST(sum(w) AS BIGINT) AS tw FROM d GROUP BY lang),
        |st AS (
        |  SELECT lang,
        |    CASE WHEN tw // 50 < 1 THEN 1 ELSE tw // 50 END AS stride
        |  FROM t),
        |c AS (
        |  SELECT lang, doc_id, w,
        |    CAST(sum(w) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM d)
        |SELECT c.lang, c.doc_id, c.w AS n_chars
        |FROM c JOIN st ON c.lang = st.lang
        |WHERE cum // stride > (cum - w) // stride""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("w"))
      val strides = docs.groupBy(col("lang")).agg(sum(col("w")).as("tw"))
        .select(col("lang"), greatest(expr("tw DIV 50"), lit(1L)).as("stride"))
      graft.operators.DistributedPrefixSum
        .running(docs, "lang", Seq("doc_id"), "w", "cum")
        .join(broadcast(strides), Seq("lang"))
        .filter(expr("cum DIV stride > (cum - w) DIV stride"))
        .select(col("lang"), col("doc_id"), col("w").as("n_chars"))
    },

    // C73: DETERMINISTIC CORPUS SHUFFLE ORDER — the training-epoch
    // global shuffle: every document gets a reproducible pseudo-random
    // position (fmix64 of doc_id is a bijection, so the order is a
    // permutation — identical across runs, partitionings, engines).
    // The GLOBAL position is the DistributedPrefixSum running count
    // over the hash order — two streamed range-partitioned passes,
    // never a single-reducer row_number window. Oracle replays fmix64
    // in HUGEINT and states the same rank as row_number.
    Q("corpus_shuffle_order",
      s"""WITH sg AS (
         |  ${fmix64SignedSql(Seq("doc_id"), "doc_id", "documents")})
         |SELECT doc_id, CAST(hs AS BIGINT) AS shuffle_key,
         |  CAST(row_number() OVER (ORDER BY hs) AS BIGINT) AS shuffle_pos
         |FROM sg""".stripMargin) { (s, dir) =>
      val keyed = table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Fingerprint64.fmix64(col("doc_id")).as("shuffle_key"))
        .withColumn("_g", lit("all"))
        .withColumn("_one", lit(1L))
      graft.operators.DistributedPrefixSum
        .running(keyed, "_g", Seq("shuffle_key"), "_one", "shuffle_pos")
        .select(col("doc_id"), col("shuffle_key"), col("shuffle_pos"))
    },

    // C81: TEMPERATURE-SCALED CORPUS MIXING — the multilingual
    // sampling formula (Lample & Conneau 2019; the mT5/XLM-R recipe):
    // language i is allocated T · p_i^τ / Σ p_j^τ of the token
    // budget with τ = 0.5, up-weighting low-resource languages where
    // proportional mixing (C33) would starve them. Every allocation
    // step is INTEGER arithmetic so both engines agree bit-for-bit:
    // weights are floor(√n · 1e6) micro-units (√ is correctly-rounded
    // IEEE in both engines; the only float op, immediately floored),
    // shares are (T·w) DIV W with largest-remainder rounding — rank
    // langs by ((T·w) mod W) DESC, lang — so Σ target_i = T exactly.
    // Selection inside a language is the lowest fmix64(doc_id) ranks
    // (a reproducible pseudo-random subset, no order bias), ranked by
    // DistributedPrefixSum — two streamed range-partitioned passes,
    // never a per-lang single-reducer window; the lang-sized
    // allocation table is the only windowed relation. A language
    // whose target exceeds its n_docs keeps everything (upsampling
    // is the trainer's job; the mix states targets).
    Q("corpus_temperature_mix", {
      s"""WITH s AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY lang),
         |w AS (SELECT lang, n_docs,
         |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS wm
         |  FROM s),
         |tw AS (SELECT CAST(sum(n_docs) // 2 AS BIGINT) AS tb,
         |    CAST(sum(wm) AS BIGINT) AS ww FROM w),
         |fl AS (SELECT lang, n_docs, wm,
         |    (tb * wm) // ww AS tf, (tb * wm) % ww AS rem
         |  FROM w, tw),
         |lv AS (SELECT (SELECT tb FROM tw) - CAST(sum(tf) AS BIGINT) AS lft FROM fl),
         |tg AS (SELECT lang, n_docs,
         |    tf + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
         |              <= (SELECT lft FROM lv) THEN 1 ELSE 0 END AS target
         |  FROM fl),
         |sg AS (
         |  ${fmix64SignedSql(Seq("doc_id", "lang"), "doc_id", "documents")}),
         |r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY hs, doc_id) AS rnk
         |  FROM sg),
         |k AS (SELECT r.lang, count(*) AS cnt, sum(doc_id) AS idsum
         |  FROM r JOIN tg USING (lang) WHERE rnk <= target GROUP BY r.lang)
         |SELECT tg.lang, tg.n_docs, CAST(tg.target AS BIGINT) AS target,
         |  CAST(coalesce(k.cnt, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(k.idsum, 0) AS BIGINT) AS kept_id_sum
         |FROM tg LEFT JOIN k USING (lang)""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val w = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("wm",
          expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"))
      val tw = w.agg(expr("sum(n_docs) DIV 2").as("tb"), sum(col("wm")).as("ww"))
      val fl = w.crossJoin(broadcast(tw))
        .withColumn("tf", expr("(tb * wm) DIV ww"))
        .withColumn("rem", expr("(tb * wm) % ww"))
      val lv = fl.agg((max(col("tb")) - sum(col("tf"))).as("lft"))
      // lang-sized window (a handful of rows): the single-partition
      // sort is on the ALLOCATION table, never the corpus
      val tg = fl.crossJoin(broadcast(lv))
        .withColumn("_r", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"))))
        .withColumn("target",
          col("tf") + when(col("_r") <= col("lft"), 1L).otherwise(0L))
        .select(col("lang"), col("n_docs"), col("target"))
      val keyed = docs.select(col("doc_id"), col("lang"),
          graft.functions.Fingerprint64.fmix64(col("doc_id")).as("hs"))
        .withColumn("_one", lit(1L))
      val ranked = graft.operators.DistributedPrefixSum
        .running(keyed, "lang", Seq("hs", "doc_id"), "_one", "rnk")
      val keptAgg = ranked.join(broadcast(tg.select(col("lang"), col("target"))),
          Seq("lang"))
        .filter(col("rnk") <= col("target"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("idsum"))
      tg.join(keptAgg, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("target"),
          coalesce(col("cnt"), lit(0L)).as("n_kept"),
          coalesce(col("idsum"), lit(0L)).as("kept_id_sum"))
    },

    // C97: DoReMi-STYLE DOMAIN REWEIGHTING (Xie et al. 2023's
    // excess-loss recipe, closed-form proxy): each source's EXCESS
    // LOSS under the reference model is H_cross(domain, global) −
    // H(domain) = KL(domain ‖ global-unigram-LM) — the exact
    // quantity DoReMi's group-DRO loop estimates with two trained
    // models, here computable in one pass because the reference
    // model IS the global unigram LM (the text_lm_score convention).
    // Domains are then tilted exponentially: weight ∝ token-share ·
    // exp(KL), normalized to EXACTLY 1e6 ppm by largest-remainder
    // (the C81 integer-allocation discipline). KL needs NO smoothing
    // — every word of a domain is in the global table by
    // construction, and KL ≥ 0 drops out for free. Determinism: all
    // counts exact BIGINTs; each KL term is one double division of
    // two exact integer products (< 2^53 up to ~9·10^7-token
    // corpora) times one ln, summed in pinned w-order (the
    // text_entropy fold) and floored 4dp; exp runs on that identical
    // 4dp double in both engines, floored to 1e6 micro immediately
    // (boundary-safe, same caveat as every libm call here); the
    // allocation itself is pure integer arithmetic. Bound: the tilt
    // stays in BIGINT for KL ≤ 2 nats — an order of magnitude above
    // any real domain mixture's excess loss. Scale shape: ONE
    // tokenize→count corpus pass (the per-(source, word) count
    // relation is VOCAB-sized, not corpus-sized, and is the only
    // localCheckpointed intermediate); everything after is rollups
    // of it; the per-source fold arrays are vocab-length (Heaps-law
    // sublinear). The allocation table is source-count rows.
    Q("corpus_doremi_weights", {
      s"""WITH t AS (SELECT source, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |wd AS (SELECT source, unnest(toks) AS w FROM t),
         |cw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         |       FROM wd GROUP BY 1, 2),
         |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |         CAST(count(*) AS BIGINT) AS n_types
         |       FROM cw GROUP BY 1),
         |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY 1),
         |g AS (SELECT w, CAST(sum(c) AS BIGINT) AS cg FROM cw GROUP BY w),
         |nn AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM cw),
         |term AS (
         |  SELECT cw.source, cw.w,
         |    (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
         |      * ln((CAST(c AS DOUBLE) * CAST(nt AS DOUBLE))
         |            / (CAST(cg AS DOUBLE) * CAST(n AS DOUBLE))) AS term
         |  FROM cw JOIN ns USING (source) JOIN g USING (w), nn),
         |kl AS (
         |  SELECT source,
         |    floor(list_reduce(list_prepend(0.0, list(term ORDER BY w)),
         |      (a, b) -> a + b) * 10000 + 0.5) / 10000 AS kl
         |  FROM term GROUP BY source),
         |em AS (SELECT source, kl,
         |         CAST(floor(exp(kl) * 1000000 + 0.5) AS BIGINT) AS em
         |       FROM kl),
         |wm AS (SELECT em.source, kl, n, em,
         |         ((1000000 * n) // nt) * em AS wt
         |       FROM em JOIN ns USING (source), nn),
         |tw AS (SELECT CAST(sum(wt) AS BIGINT) AS tot FROM wm),
         |fl AS (SELECT source, kl, n, wt,
         |         (1000000 * wt) // tot AS base,
         |         (1000000 * wt) % tot AS rem
         |       FROM wm, tw),
         |lv AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS lft FROM fl)
         |SELECT fl.source, nd.n_docs, fl.n AS n_tokens, fl.kl,
         |  CAST(base + CASE WHEN row_number()
         |      OVER (ORDER BY rem DESC, fl.source) <= (SELECT lft FROM lv)
         |    THEN 1 ELSE 0 END AS BIGINT) AS weight_ppm
         |FROM fl JOIN nd USING (source), lv""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val cw = docs.select(col("source"),
          explode(TF.wsTokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // ns, g, nn and the term join all read it
      val ns = cw.groupBy(col("source"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
      val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val g = cw.groupBy(col("w")).agg(sum(col("c")).as("cg"))
      val nn = cw.agg(sum(col("c")).as("nt"))
      val term = cw.join(broadcast(ns.select(col("source"), col("n"))),
          Seq("source"))
        .join(g, Seq("w")).crossJoin(broadcast(nn))
        .select(col("source"), col("w"),
          ((col("c").cast("double") / col("n").cast("double"))
            * log((col("c").cast("double") * col("nt").cast("double"))
              / (col("cg").cast("double") * col("n").cast("double"))))
            .as("term"))
      val kl = term.groupBy(col("source"))
        .agg(sort_array(collect_list(struct(col("w"), col("term"))))
          .as("_wt"))
        .select(col("source"),
          (floor(aggregate(col("_wt"), lit(0.0),
            (a, x) => a + x.getField("term")) * 10000 + lit(0.5))
            .cast("double") / 10000).as("kl"))
      val wm = kl
        .select(col("source"), col("kl"),
          floor(exp(col("kl")) * 1000000 + lit(0.5)).cast("long").as("em"))
        .join(broadcast(ns.select(col("source"), col("n"))), Seq("source"))
        .crossJoin(broadcast(nn))
        .withColumn("wt", expr("((1000000 * n) DIV nt) * em"))
      val tw = wm.agg(sum(col("wt")).as("tot"))
      val fl = wm.crossJoin(broadcast(tw))
        .withColumn("base", expr("(1000000 * wt) DIV tot"))
        .withColumn("rem", expr("(1000000 * wt) % tot"))
      val lv = fl.agg((lit(1000000) - sum(col("base"))).as("lft"))
      // source-count rows: the unpartitioned window sorts the
      // allocation table, never the corpus
      fl.crossJoin(broadcast(lv))
        .withColumn("_r", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .join(broadcast(nd), Seq("source"))
        .select(col("source"), col("n_docs"), col("n").as("n_tokens"),
          col("kl"),
          (col("base") + when(col("_r") <= col("lft"), 1L).otherwise(0L))
            .cast("long").as("weight_ppm"))
    },

    // C87: UniMax epoch-capped language sampling (Chung et al. 2023)
    // — the max-min-fair successor to C81's temperature recipe:
    // instead of shares ∝ p^τ, distribute the token budget as
    // UNIFORMLY as possible across languages subject to a per-lang
    // repetition cap of E = 2 epochs (cap_l = E·n_toks_l) — the
    // water-filling allocation that provably minimizes the maximum
    // per-language repetition rate. Budget T = (3·tot) DIV 2, so on
    // this corpus every low-resource language hits its full-2-epoch
    // cap and the head language (en) fills the remainder as a
    // partial epoch — BOTH branches of the allocator are exercised,
    // never vacuous.
    //
    // INTEGER water level: with caps sorted ascending and prefix
    // sums P_m, the level for segment m is θ = (T − P_m) DIV (L − m),
    // valid iff c_m ≤ θ < c_{m+1} (unique); the MOD remainder goes
    // +1 token to the first R uncapped languages in (cap, lang)
    // order, so Σ alloc = T EXACTLY. The allocator runs on the
    // LANGUAGE table — model-sized, solved on the driver (the
    // PowerIteration convention), replayed in the oracle as a
    // window + candidate-segment filter. Partial-epoch selection =
    // lowest fmix64(doc_id) ranks with cumulative tokens ≤ target
    // via DistributedPrefixSum — two streamed range-partitioned
    // passes, never a per-lang single-reducer window over the corpus.
    Q("corpus_unimax_mix", {
      s"""WITH tk AS (
         |  SELECT doc_id, lang,
         |    CAST(${TF.tokenCountSql("text")} AS BIGINT) AS nt
         |  FROM documents),
         |st AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS n_toks
         |       FROM tk GROUP BY lang),
         |tt AS (SELECT CAST((3 * sum(n_toks)) // 2 AS BIGINT) AS t,
         |              CAST(count(*) AS BIGINT) AS l FROM st),
         |sc AS (
         |  SELECT lang, n_toks, 2 * n_toks AS cap,
         |    row_number() OVER (ORDER BY 2 * n_toks, lang) AS rn,
         |    CAST(coalesce(sum(2 * n_toks) OVER (ORDER BY 2 * n_toks, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS pfx
         |  FROM st),
         |cand AS (
         |  SELECT rn - 1 AS m, pfx,
         |    coalesce(lag(cap) OVER (ORDER BY rn), 0) AS c_m, cap AS c_next
         |  FROM sc),
         |seg AS (
         |  SELECT m, (t - pfx) // (l - m) AS theta, (t - pfx) % (l - m) AS rmd
         |  FROM cand, tt
         |  WHERE t - pfx >= 0 AND c_m <= (t - pfx) // (l - m)
         |    AND (t - pfx) // (l - m) < c_next
         |  ORDER BY m LIMIT 1),
         |ep AS (
         |  SELECT lang, n_toks, cap,
         |    CASE WHEN rn - 1 < (SELECT m FROM seg) THEN cap
         |         ELSE (SELECT theta FROM seg)
         |           + CASE WHEN rn - 1 - (SELECT m FROM seg) < (SELECT rmd FROM seg)
         |                  THEN 1 ELSE 0 END END AS alloc
         |  FROM sc),
         |ep2 AS (
         |  SELECT lang, n_toks, cap, alloc,
         |    alloc // n_toks AS n_full, alloc % n_toks AS partial
         |  FROM ep),
         |sg AS (
         |  ${fmix64SignedSql(Seq("doc_id", "lang", "nt"), "doc_id", "tk")}),
         |r AS (
         |  SELECT lang, doc_id,
         |    sum(nt) OVER (PARTITION BY lang ORDER BY hs, doc_id) AS run
         |  FROM sg),
         |k AS (
         |  SELECT r.lang, count(*) AS cnt, sum(doc_id) AS idsum
         |  FROM r JOIN ep2 USING (lang) WHERE run <= partial GROUP BY r.lang)
         |SELECT ep2.lang, ep2.n_toks, CAST(ep2.cap AS BIGINT) AS cap,
         |  CAST(ep2.alloc AS BIGINT) AS alloc,
         |  CAST(ep2.n_full AS BIGINT) AS n_full_epochs,
         |  CAST(ep2.partial AS BIGINT) AS partial_tokens,
         |  CAST(coalesce(k.cnt, 0) AS BIGINT) AS n_kept_partial,
         |  CAST(coalesce(k.idsum, 0) AS BIGINT) AS kept_id_sum
         |FROM ep2 LEFT JOIN k USING (lang)""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val tk = table(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(TF.wsTokens(col("text")))
          .cast("long").as("nt"))
        .localCheckpoint() // one tokenize pass feeds stats + selection
      val stats = tk.groupBy(col("lang")).agg(sum(col("nt")).as("n_toks"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val tot = stats.map(_._2).sum
      val budget = Math.floorDiv(3 * tot, 2)
      // integer water-filling on the model-sized language table
      val sorted = stats.map { case (lang, nt) => (lang, nt, 2 * nt) }
        .sortBy { case (lang, _, cap) => (cap, lang) }
      val L = sorted.length
      val prefix = sorted.scanLeft(0L)(_ + _._3)
      val m = (0 until L).find { mm =>
        val rem = budget - prefix(mm)
        rem >= 0 && {
          val th = Math.floorDiv(rem, L - mm)
          val cm = if (mm == 0) 0L else sorted(mm - 1)._3
          cm <= th && th < sorted(mm)._3
        }
      }.getOrElse(L) // Σcap ≤ T ⇒ every language allocates its cap
      val (theta, rmd) =
        if (m >= L) (0L, 0L)
        else (Math.floorDiv(budget - prefix(m), L - m),
          (budget - prefix(m)) % (L - m))
      val targets = sorted.zipWithIndex.map { case ((lang, nt, cap), i) =>
        val alloc =
          if (i < m) cap
          else theta + (if (i - m < rmd) 1L else 0L)
        (lang, nt, cap, alloc, Math.floorDiv(alloc, nt), alloc % nt)
      }.toSeq.toDF("lang", "n_toks", "cap", "alloc", "n_full_epochs",
        "partial_tokens")
      val ranked = graft.operators.DistributedPrefixSum.running(
        tk.withColumn("hs", graft.functions.Fingerprint64.fmix64(col("doc_id"))),
        "lang", Seq("hs", "doc_id"), "nt", "run")
      val kept = ranked
        .join(broadcast(targets.select(col("lang"), col("partial_tokens"))),
          Seq("lang"))
        .filter(col("run") <= col("partial_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("idsum"))
      targets.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_toks"), col("cap"), col("alloc"),
          col("n_full_epochs"), col("partial_tokens"),
          coalesce(col("cnt"), lit(0L)).as("n_kept_partial"),
          coalesce(col("idsum"), lit(0L)).as("kept_id_sum"))
    },

    // B102: CUSTOM DATASOURCE V2 under the gate — the connector-API
    // surface (graft.sources.SynthProvider): a deterministic
    // generated table read through Spark's v2 path with COLUMN
    // PRUNING, FILTER PUSHDOWN (id/mod16 comparisons evaluate inside
    // the reader — rejected rows are never materialized), and
    // PARTITION PRUNING (the id lower bound eliminates 7 of 8 input
    // partitions at planning time; asserted in SynthProviderSpec).
    // The oracle replays the generator closed-form: range() ids +
    // HUGEINT fmix64 — the source must produce EXACTLY the declared
    // table, filters and all.
    Q("synth_source_scan", {
      val hsSql = fmix64SignedSql(Seq("id"), "id", "f")
      s"""WITH ids AS (SELECT unnest(range(90000, 100000)) AS id),
         |f AS (SELECT id FROM ids WHERE id % 16 = 3),
         |sg AS (
         |  $hsSql)
         |SELECT id, CAST(hs AS BIGINT) AS h FROM sg""".stripMargin
    }) { (s, _) =>
      s.read.format("graft.sources.SynthProvider")
        .option("rows", "100000").option("slices", "8").load()
        .filter(col("id") >= 90000L && col("mod16") === 3)
        .select(col("id"), col("h"))
    },

    // B102s: the STREAMING half of the connector under the gate — the
    // same deterministic v2 table read as a MicroBatchStream with
    // admission control (maxRowsPerBatch = 16384 ⇒ an AvailableNow
    // replay walks the 100k-id space as 7 bounded micro-batches, the
    // maxOffsetsPerTrigger shape of a broker-backed source). Each id
    // is planned into exactly one batch's [start, end) range, so the
    // appended union across batches equals the batch table — the
    // oracle replays it closed-form, filters and all, batch-split
    // invariant.
    Q("streaming_synth_scan", {
      val hsSql = fmix64SignedSql(Seq("id"), "id", "f")
      s"""WITH ids AS (SELECT unnest(range(0, 100000)) AS id),
         |f AS (SELECT id FROM ids WHERE id % 16 = 3),
         |sg AS (
         |  $hsSql)
         |SELECT id, CAST(hs AS BIGINT) AS h FROM sg""".stripMargin
    }) { (s, _) =>
      val stream = s.readStream.format("graft.sources.SynthProvider")
        .option("rows", "100000").option("slices", "8")
        .option("maxRowsPerBatch", "16384").load()
        .filter(col("mod16") === 3)
        .select(col("id"), col("h"))
      val name = s"graft_stream_synth_${System.nanoTime()}"
      val q = stream.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // Self-cleaning: the memory sink pins its rows on the driver
      // through the temp view for the session's lifetime. This result
      // is bounded (100k ids / 16 = 6,250 rows), so localize it and
      // drop the view — repeated invocations (warmup + N bench runs)
      // must not accumulate orphaned in-memory tables.
      import scala.jdk.CollectionConverters._
      val localized = s.createDataFrame(
        s.table(name).collect().toIndexedSeq.asJava, s.table(name).schema)
      s.catalog.dropTempView(name)
      localized
    })
}
