package graft.queries

import graft.GraftSession.table
import graft.functions.{Fingerprint64, TextFunctions => TF}
import graft.operators.{DistributedPrefixSum, DistributedQuantile}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-document text measures over `documents` (SURVEY.md §2
  * C9-C12 and later): quality, language, fingerprints, chunking,
  * sentence/garbage/code screens, feature hashing. Every token is a
  * TextFunctions whitespace token (`wsTokens` / `wsTokensSql`).
  * All rowwise codegen'd column expressions — at 100 TB these are a
  * single pruned scan, no shuffle at all (the per-lang rollup is the
  * only exchange, map-side combined).
  *
  * Oracle notes: the DuckDB SQL mirrors each formula exactly;
  * token-length sums use the closed form
  * Σ|token| = len(norm) − (n_tokens − 1) (norm has single spaces),
  * which equals the Spark higher-order fold bit-for-bit because both
  * are integer arithmetic.
  */
object TextQueries {

  private def quote(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ", ", "]")

  // DuckDB fragments (computed on `documents.text`):
  /** Token count floored at 1, the divisor of every per-token mean. */
  private val tokDenomSql = s"greatest(${TF.tokenCountSql("text")}, 1)"
  private def hitsSql(ws: Seq[String]): String =
    s"len(list_filter(${TF.wsTokensSql("text")}, t -> list_contains(${quote(ws)}, t)))"
  private val avgTokSql =
    s"(CAST(length(${TF.normalizeTextSql("text")}) - (${TF.tokenCountSql("text")} - 1) AS DOUBLE) / $tokDenomSql)"
  private val punctSql =
    s"(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / greatest(length(text), 1))"
  private val stopRatioSql =
    s"(CAST(${hitsSql(TF.EnStop)} AS DOUBLE) / $tokDenomSql)"
  /** UNROUNDED quality score (TF.qualityScore's exact formula) —
    * bit-equal across engines (ratios of identical integers combined
    * in one order), so it is safe as an ORDER BY key in other
    * queries' oracles (dedup_keep_best). Display rounding stays at
    * each use site.
    */
  private[queries] val qualityRawSql: String =
    s"""((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
       |     + (1.0 - least(abs($avgTokSql - 5.0) / 5.0, 1.0)) * 0.3
       |     + least($stopRatioSql * 4.0, 1.0) * 0.4)
       |    * (1.0 - least($punctSql * 4.0, 1.0)))""".stripMargin

  val all: Seq[Q] = Seq(

    // C140: RAG CHUNK SPLIT — the retrieval-ingestion primitive
    // (fixed-size token windows with overlap; every RAG/embedding
    // pipeline runs exactly this before the embed step, and chunk
    // boundaries must be REPRODUCIBLE or the vector store and the
    // source corpus drift apart): windows of 64 whitespace tokens
    // (the C11 token grain) at stride 48 (16-token overlap), last
    // window keeps the tail. Chunk count = 1 for n ≤ 64 else
    // 1 + ⌈(n−64)/48⌉ = 1 + (n−17) div 48 — EXACT integer algebra
    // identical in both engines; chunk char width is the length of
    // the space-joined token slice (integer, exact both sides —
    // norm has single spaces). Scale shape: map-only explode,
    // chunks/doc bounded by doc length — token-linear, the C16
    // class; no shuffle at all.
    Q("rag_chunk_split",
      s"""WITH t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
         |c AS (SELECT doc_id, toks, n,
         |  CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 17) // 48 END AS nc
         |  FROM n),
         |x AS (SELECT doc_id, toks, n, unnest(range(nc)) AS i FROM c)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         |  CAST(i * 48 AS BIGINT) AS tok_start,
         |  CAST(least(i * 48 + 64, n) AS BIGINT) AS tok_end,
         |  CAST(least(64, n - i * 48) AS BIGINT) AS n_tok,
         |  CAST(length(array_to_string(
         |    toks[CAST(i * 48 + 1 AS INT):CAST(least(i * 48 + 64, n) AS INT)],
         |    ' ')) AS BIGINT) AS n_chars,
         |  toks[CAST(i * 48 + 1 AS INT)] AS first_tok,
         |  toks[CAST(least(i * 48 + 64, n) AS INT)] AS last_tok
         |FROM x""".stripMargin) { (s, dir) =>
      val t = table(s, dir, "documents")
        .select(col("doc_id"), TF.wsTokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("nc",
          when(col("n") <= 64, 1L)
            .otherwise(lit(1L) + expr("(n - 17) div 48")))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L), col("nc") - 1)).as("i"))
      val start = col("i") * 48
      val len = least(lit(64L), col("n") - start)
      val chunk = slice(col("toks"), (start + 1).cast("int"), len.cast("int"))
      t.select(col("doc_id"), col("i").as("chunk_idx"),
        start.cast("long").as("tok_start"),
        (start + len).cast("long").as("tok_end"),
        len.cast("long").as("n_tok"),
        length(array_join(chunk, " ")).cast("long").as("n_chars"),
        element_at(col("toks"), (start + 1).cast("int")).as("first_tok"),
        element_at(col("toks"), (start + len).cast("int")).as("last_tok"))
    },

    // C143: CHUNK-GRAIN DEDUP STATS — the boilerplate mass audit at
    // the RETRIEVAL grain (C140's chunks are what gets embedded and
    // stored; repeated chunks — headers, footers, navigation — cost
    // vector-store space AND poison retrieval with duplicate hits,
    // so this per-source ratio decides where chunk-dedup pays):
    // per source, total chunks vs distinct chunk TEXTS, removable
    // mass = n − distinct, ratio 6dp. Engine spelling: Spark
    // shuffles 8-byte xxhash64 chunk keys, never the ~300-char
    // strings (the C132 discipline — collision probability ~n²/2⁶⁴,
    // the documented fingerprint convention); the oracle groups the
    // chunk STRINGS (the specification). Scale shape: the C140
    // map-only explode + one keyed distinct-count — linear shuffles
    // on fixed-width keys.
    Q("chunk_dedup_stats",
      s"""WITH t AS (SELECT doc_id, source, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |n AS (SELECT doc_id, source, toks,
         |        CAST(len(toks) AS BIGINT) AS n FROM t),
         |c AS (SELECT doc_id, source, toks, n,
         |  CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 17) // 48 END AS nc
         |  FROM n),
         |x AS (SELECT source,
         |  array_to_string(
         |    toks[CAST(i * 48 + 1 AS INT):CAST(least(i * 48 + 64, n) AS INT)],
         |    ' ') AS chunk
         |  FROM (SELECT source, toks, n, unnest(range(nc)) AS i FROM c)),
         |st AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(count(DISTINCT chunk) AS BIGINT) AS n_distinct
         |  FROM x GROUP BY source)
         |SELECT source, n_chunks, n_distinct,
         |  n_chunks - n_distinct AS n_removable,
         |  floor(CAST(n_chunks - n_distinct AS DOUBLE) / n_chunks
         |    * 1000000 + 0.5) / 1000000 AS dup_ratio
         |FROM st""".stripMargin) { (s, dir) =>
      val t = table(s, dir, "documents")
        .select(col("source"), TF.wsTokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("nc",
          when(col("n") <= 64, 1L)
            .otherwise(lit(1L) + expr("(n - 17) div 48")))
        .select(col("source"), col("toks"), col("n"),
          explode(sequence(lit(0L), col("nc") - 1)).as("i"))
      val start = col("i") * 48
      val len = least(lit(64L), col("n") - start)
      val chunks = t.select(col("source"),
        xxhash64(array_join(
          slice(col("toks"), (start + 1).cast("int"), len.cast("int")),
          " ")).as("ch"))
      chunks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("ch")).as("n_distinct"))
        .select(col("source"), col("n_chunks"), col("n_distinct"),
          (col("n_chunks") - col("n_distinct")).as("n_removable"),
          (floor((col("n_chunks") - col("n_distinct")).cast("double")
            / col("n_chunks") * lit(1000000) + lit(0.5)) / lit(1000000))
            .as("dup_ratio"))
    },

    // C150: STANDARDIZED TYPE-TOKEN RATIO (Johnson 1944's STTR — the
    // lexical-diversity metric plain TTR cannot be, because TTR
    // mechanically shrinks with document length; STTR averages TTR
    // over fixed NON-overlapping 64-token chunks, so long and short
    // documents compare on the same footing — the corpus-linguistics
    // companion to C126's Yule K, which measures repetition rather
    // than diversity): per doc, distinct-type counts over each
    // COMPLETE 64-token chunk (the standard definition drops the
    // ragged tail), STTR = Σ distinct / (64·k) — exact integers into
    // ONE division, 6dp floor; docs under 64 tokens report k = 0 and
    // NULL. Scale shape: map-only chunk explode (token-linear, the
    // C140 class) + one keyed doc rollup.
    Q("text_sttr",
      s"""WITH t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
         |      FROM t),
         |x AS (
         |  SELECT doc_id, n,
         |    CAST(len(list_distinct(
         |      toks[CAST(i * 64 + 1 AS INT):CAST(i * 64 + 64 AS INT)]))
         |      AS BIGINT) AS d
         |  FROM (SELECT doc_id, toks, n, unnest(range(n // 64)) AS i
         |        FROM n)),
         |agg AS (
         |  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tok,
         |    CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(d) AS BIGINT) AS sd
         |  FROM x GROUP BY doc_id)
         |SELECT n.doc_id, n.n AS n_tok,
         |  CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
         |  CASE WHEN a.n_chunks > 0 THEN
         |    floor(CAST(a.sd AS DOUBLE) / (64 * a.n_chunks)
         |      * 1000000 + 0.5) / 1000000 END AS sttr
         |FROM n LEFT JOIN agg a USING (doc_id)""".stripMargin) { (s, dir) =>
      val n = table(s, dir, "documents")
        .select(col("doc_id"), TF.wsTokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .localCheckpoint() // the chunk explode and the left join read it
      // filter BEFORE the explode: Spark's sequence(0, -1) generates
      // a DESCENDING [0, -1] for sub-64-token docs, not an empty list
      val x = n.filter(col("n") >= 64)
        .select(col("doc_id"),
          explode(sequence(lit(0L), expr("n div 64") - 1)).as("i"),
          col("toks"))
        .select(col("doc_id"),
          size(array_distinct(slice(col("toks"),
            (col("i") * 64 + 1).cast("int"), lit(64)))).cast("long")
            .as("d"))
      val agg = x.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("d")).as("sd"))
      n.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").as("n_tok"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          when(col("n_chunks") > 0,
            floor(col("sd").cast("double") / (col("n_chunks") * 64)
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("sttr"))
    },

    // C11: token counting — whitespace tokens + BPE-ish subword runs.
    Q("text_tokencount",
      s"""SELECT doc_id,
         |  CAST(${TF.tokenCountSql("text")} AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subwords
         |FROM documents""".stripMargin) { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("bigint").as("n_ws_tokens"),
        TF.subwordCount(col("text")).cast("bigint").as("n_subwords"))
    },

    // C10: quality scoring. Every unrounded value here is BIT-EQUAL
    // across engines (ratios of identical integers combined in the
    // same order), so rounding is done with the explicit
    // floor(x·10⁴ + 0.5)/10⁴ form — deterministic IEEE ops on
    // bit-equal inputs — instead of round(x, 4): Spark's round goes
    // through BigDecimal.valueOf (shortest decimal string, HALF_UP)
    // while DuckDB rounds the exact binary value, and the two disagree
    // when a score lands on a .xxxx5 boundary (observed: one sf0.001
    // doc at quality 0.6164 vs 0.6163).
    Q("text_quality",
      s"""SELECT doc_id,
         |  length(text) AS n_chars_exact,
         |  floor($avgTokSql * 10000 + 0.5) / 10000 AS avg_token_len,
         |  floor($stopRatioSql * 10000 + 0.5) / 10000 AS stopword_ratio,
         |  floor($punctSql * 10000 + 0.5) / 10000 AS punct_ratio,
         |  floor($qualityRawSql * 10000 + 0.5) / 10000 AS quality
         |FROM documents""".stripMargin) { (s, dir) =>
      def r4(c: org.apache.spark.sql.Column) =
        floor(c * lit(10000) + lit(0.5)).cast("double") / lit(10000)
      table(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars_exact"),
        r4(TF.avgTokenLen(col("text"))).as("avg_token_len"),
        r4(TF.stopwordRatio(col("text"), TF.EnStop)).as("stopword_ratio"),
        r4(TF.punctRatio(col("text"))).as("punct_ratio"),
        r4(TF.qualityScore(col("text"))).as("quality"))
    },

    // C120: PREFERENCE-PAIR CONSTRUCTION (the DPO/RLHF data-builder
    // shape — Rafailov et al. 2023 consume (chosen, rejected) pairs;
    // production pipelines synthesize them by pairing the best and
    // worst candidates under a scorer): per source, pair the i-th
    // BEST document with the i-th WORST (i ≤ 4) under the C10
    // quality score, for sources with ≥ 8 docs (the bound that makes
    // top-4 and bottom-4 provably disjoint under ANY tie pattern —
    // a top-4 doc has ≤ 3 above it, a bottom-4 doc ≤ 3 below, so
    // membership in both needs n ≤ 7). Determinism: the 4dp-floored
    // quality is the C10 cross-engine-exact column; tie rules (q
    // DESC, id ASC) / (q ASC, id DESC) are total orders; margin is
    // one IEEE subtraction of identical doubles. Scale shape: the
    // rankings run through the bounded-heap TopKPerKey operator
    // (B39) — 4-row heaps with map-side combine, NEVER a per-source
    // window sort of the corpus (source has ~5 values: the window
    // spelling would pull the whole corpus into 5 sorted tasks).
    Q("preference_pairs",
      s"""WITH scored AS (
         |  SELECT doc_id, source,
         |    floor($qualityRawSql * 10000 + 0.5) / 10000 AS q
         |  FROM documents),
         |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |       FROM scored GROUP BY source),
         |best AS (
         |  SELECT source, doc_id, q,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY q DESC, doc_id) AS BIGINT) AS rnk
         |  FROM scored),
         |worst AS (
         |  SELECT source, doc_id, q,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY q, doc_id DESC) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT b.source, b.rnk AS pair_rank,
         |  b.doc_id AS chosen_id, w.doc_id AS rejected_id,
         |  b.q AS chosen_q, w.q AS rejected_q,
         |  b.q - w.q AS margin
         |FROM best b
         |JOIN worst w ON b.source = w.source AND b.rnk = w.rnk
         |JOIN ns ON ns.source = b.source
         |WHERE b.rnk <= 4 AND ns.n >= 8""".stripMargin) { (s, dir) =>
      def r4(c: org.apache.spark.sql.Column) =
        floor(c * lit(10000) + lit(0.5)).cast("double") / lit(10000)
      val scored = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          r4(TF.qualityScore(col("text"))).as("q"))
        .localCheckpoint() // feeds both rankings and the source counts
      val ns = scored.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val best = graft.plans.TopK.perKey(scored, Seq("source"),
        Seq(("q", false), ("doc_id", true)), 4)
      val worst = graft.plans.TopK.perKey(scored, Seq("source"),
        Seq(("q", true), ("doc_id", false)), 4)
      best.select(col("source"), col("rnk"), col("doc_id").as("chosen_id"),
          col("q").as("chosen_q"))
        .join(worst.select(col("source"), col("rnk"),
          col("doc_id").as("rejected_id"), col("q").as("rejected_q")),
          Seq("source", "rnk"))
        .join(broadcast(ns.filter(col("n") >= 8)), Seq("source"), "left_semi")
        .select(col("source"), col("rnk").cast("long").as("pair_rank"),
          col("chosen_id"), col("rejected_id"),
          col("chosen_q"), col("rejected_q"),
          (col("chosen_q") - col("rejected_q")).as("margin"))
    },

    // C9: heuristic language ID; rollup vs. the labeled lang column.
    Q("text_langid",
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    ${hitsSql(TF.EnStop)} AS h_en,
         |    ${hitsSql(TF.EsStop)} AS h_es,
         |    ${hitsSql(TF.DeStop)} AS h_de,
         |    ${hitsSql(TF.FrStop)} AS h_fr,
         |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
         |  FROM documents
         |)
         |SELECT doc_id, lang,
         |  CASE WHEN has_cjk THEN 'zh'
         |       WHEN h_en = 0 AND h_es = 0 AND h_de = 0 AND h_fr = 0 THEN 'und'
         |       WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
         |       WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
         |       WHEN h_de >= h_fr THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |FROM scored""".stripMargin) { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TF.langId(col("text")).as("lang_pred"))
    },

    // C12: rolling-hash fingerprint — the custom codegen Expression
    // matched by a HUGEINT modular-arithmetic oracle (h = h·31 + byte
    // mod 2^64, re-signed; codepoint == byte for this ASCII corpus).
    Q("text_fingerprint",
      s"""WITH f AS (
         |  SELECT doc_id,
         |    list_reduce(
         |      list_prepend(CAST(0 AS HUGEINT),
         |        list_transform(string_split_regex(text, ''),
         |          c -> CAST(ord(c) AS HUGEINT))),
         |      (h, b) -> (h * 31 + b) % 18446744073709551616) AS h,
         |    list_reduce(
         |      list_prepend(CAST(0 AS HUGEINT),
         |        list_transform(string_split_regex(${TF.normalizeTextSql("text")}, ''),
         |          c -> CAST(ord(c) AS HUGEINT))),
         |      (h, b) -> (h * 31 + b) % 18446744073709551616) AS hn
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS fp64,
         |  CAST(CASE WHEN hn >= 9223372036854775808 THEN hn - 18446744073709551616 ELSE hn END AS BIGINT) AS fp64_norm
         |FROM f""".stripMargin) { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        Fingerprint64.fingerprint64(col("text")).as("fp64"),
        Fingerprint64.fingerprint64(TF.normalizeText(col("text"))).as("fp64_norm"))
    },

    // C21: deflate compression ratio — the repetition/noise quality
    // signal. DuckDB cannot deflate, so the oracle checks per-doc
    // INVARIANTS the engine's ratio must satisfy (the same bound-style
    // oracle as tdigest/hll): positive; ≤ 1.2 for any text long
    // enough to amortize the deflate header (< 50 chars exempt); and
    // < 0.95 for ≥ 500-char text (printable-ASCII entropy ≤ ~6.6
    // bits/char, so deflate always wins on long inputs). The oracle
    // emits the constant-true image of each bound — a broken deflate
    // path turns the row red. Exact ratio values are additionally
    // pinned in CompressRatioSpec.
    // C24: corpus bigram language-model scoring — the classic
    // perplexity-style quality filter: train add-one-smoothed bigram
    // probabilities on the corpus itself, score each doc by its mean
    // bigram log-probability. Everything is counts + ln of identical
    // rationals, so both engines compute bit-equal logs (mean rounded
    // 4dp for summation order). Scale shape: the corpus is scanned
    // exactly TWICE — once to train (one groupBy into bigram counts
    // `bc`; unigram counts and vocab size are then MODEL-sized
    // aggregations over bc, not corpus re-scans), once to score. The
    // trained model (bigram → smoothed log-prob) is localCheckpointed
    // at model size, so the single corpus-scale join big2 ⋈ model on
    // (w1, w2) never re-executes the training subtree; scoring is that
    // join + one doc_id aggregation (2 corpus exchanges total). The
    // bigram explode is the fused TokenPairs kernel, one pass, no
    // interpreted lambda.
    Q("text_lm_score",
      s"""WITH toks AS (
         |  SELECT doc_id, ${TF.wsTokensSql("text")} AS t FROM documents),
         |big AS (
         |  SELECT doc_id,
         |    t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
         |  FROM toks, unnest(range(1, len(t))) AS u(i)
         |  WHERE len(t) >= 2),
         |bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
         |uc AS (SELECT w1, count(*) AS cu FROM big GROUP BY w1),
         |v AS (SELECT count(DISTINCT w1) AS vocab FROM big)
         |SELECT b.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(avg(ln((cb + 1.0) / (cu + vocab))), 4) AS avg_logp
         |FROM big b JOIN bc USING (w1, w2) JOIN uc USING (w1), v
         |GROUP BY b.doc_id""".stripMargin) { (s, dir) =>
      val toks = table(s, dir, "documents").select(
        col("doc_id"), TF.wsTokens(col("text")).as("t"))
      val big2 = toks.filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(graft.functions.VectorExpressions.tokenPairs(col("t"))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      // ONE corpus-scale training pass: bigram counts. Unigram counts
      // (cu = Σ cb over w2) and vocab (distinct w1) are model-sized
      // rollups of bc — the expensive explode subtree runs once.
      val bc = big2.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        .localCheckpoint()
      val uc = bc.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
      val v = bc.agg(countDistinct(col("w1")).as("vocab"))
      // Fold smoothing into the model: (w1, w2) → logp, model-sized.
      val model = bc.join(uc, Seq("w1")).crossJoin(broadcast(v))
        .select(col("w1"), col("w2"),
          log((col("cb") + 1.0) / (col("cu") + col("vocab"))).as("logp"))
        .localCheckpoint()
      // The ONLY corpus-scale join: score instances against the model.
      big2.join(model, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_bigrams"),
          round(avg(col("logp")), 4).as("avg_logp"))
    },

    // C57: CROSS-trained LM quality scoring — the actual CCNet shape
    // that C24 (self-trained) approximates: the bigram model trains
    // ONLY on the clean subset (the corpus_filter thresholds —
    // integer-exact, no float boundary), then scores EVERY doc, so
    // low-quality text scores low because it diverges from clean text,
    // not merely from the average. Unseen bigrams fall out of the SAME
    // add-one formula via left joins: logp = ln((cb+1)/(cu+vocab))
    // with cb/cu defaulting to 0 — unseen w1 degrades to ln(1/vocab),
    // no special-case floor. Scale shape: one corpus-scale explode
    // feeding (a) the filtered model build (one keyed exchange into
    // model-sized tables, localCheckpointed) and (b) the scoring pass
    // — two model-sized LEFT joins on the corpus (the honest price of
    // correct smoothing over out-of-model pairs), one doc rollup.
    Q("text_lm_crossscore",
      s"""WITH toks AS (
         |  SELECT doc_id, ${TF.wsTokensSql("text")} AS t FROM documents),
         |clean AS (
         |  SELECT doc_id FROM documents
         |  WHERE n_chars >= 200 AND $tokDenomSql >= 30),
         |big AS (
         |  SELECT doc_id,
         |    t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
         |  FROM toks, unnest(range(1, len(t))) AS u(i)
         |  WHERE len(t) >= 2),
         |bigc AS (SELECT b.* FROM big b JOIN clean USING (doc_id)),
         |bc AS (SELECT w1, w2, count(*) AS cb FROM bigc GROUP BY w1, w2),
         |uc AS (SELECT w1, count(*) AS cu FROM bigc GROUP BY w1),
         |v AS (SELECT count(DISTINCT w1) AS vocab FROM bigc)
         |SELECT b.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(max(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS INT)
         |    AS in_train,
         |  round(avg(ln((coalesce(cb, 0) + 1.0) / (coalesce(cu, 0) + vocab))), 4)
         |    AS avg_logp
         |FROM big b
         |LEFT JOIN bc USING (w1, w2) LEFT JOIN uc USING (w1)
         |LEFT JOIN clean c ON c.doc_id = b.doc_id, v
         |GROUP BY b.doc_id""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val clean = docs
        .filter(col("n_chars") >= 200 && TF.tokenCount(col("text")) >= 30)
        .select(col("doc_id"), lit(1).as("in_train"))
      val big2 = docs
        .select(col("doc_id"), TF.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(graft.functions.VectorExpressions.tokenPairs(col("t"))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val bigc = big2.join(clean.select(col("doc_id")), Seq("doc_id"))
      val bc = bigc.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        .localCheckpoint()
      val uc = bc.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
      val v = bc.agg(countDistinct(col("w1")).as("vocab"))
      big2
        .join(bc, Seq("w1", "w2"), "left")
        .join(uc, Seq("w1"), "left")
        .crossJoin(broadcast(v))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log((coalesce(col("cb"), lit(0L)) + 1.0) /
            (coalesce(col("cu"), lit(0L)) + col("vocab")))), 4).as("avg_logp"))
        .join(clean, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_bigrams"),
          coalesce(col("in_train"), lit(0)).cast("int").as("in_train"),
          col("avg_logp"))
    },

    // C29: BM25 relevance scoring for a fixed query — the retrieval/
    // curation scorer. Per-doc term frequencies come from ONE fused
    // TokenSetStats pass (three singleton stopword-sets = three tf
    // counters, no explode); corpus stats (N, avgdl, df per term) are
    // one tiny agg broadcast back as a single row. Every arithmetic
    // step is integer-derived doubles combined in the same order in
    // both engines → bit-equal scores (rounded 4dp for safety).
    Q("text_bm25",
      s"""WITH t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |d AS (SELECT doc_id, len(toks) AS dl,
         |  len(list_filter(toks, x -> x = 'spark')) AS tf0,
         |  len(list_filter(toks, x -> x = 'table')) AS tf1,
         |  len(list_filter(toks, x -> x = 'key')) AS tf2
         |  FROM t),
         |s AS (SELECT count(*) AS n,
         |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         |  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |  FROM d)
         |SELECT doc_id,
         |  round(
         |    ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
         |      * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |    + ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
         |      * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |    + ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
         |      * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25,
         |  CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
         |     + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
         |     + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS INT) AS n_hits
         |FROM d, s""".stripMargin) { (s, dir) =>
      import graft.functions.VectorExpressions
      val terms = Seq("spark", "table", "key")
      val base = table(s, dir, "documents")
        .withColumn("toks", TF.wsTokens(col("text")))
        .withColumn("_st", VectorExpressions.tokenSetStats(
          col("toks"), terms.map(Seq(_))))
        .select(col("doc_id"), size(col("toks")).as("dl"),
          col("_st.hits0").as("tf0"), col("_st.hits1").as("tf1"),
          col("_st.hits2").as("tf2"))
      val stats = base.agg(
        count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
        sum(when(col("tf0") > 0, 1L).otherwise(0L)).as("df0"),
        sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
        sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"))
      def term(tf: org.apache.spark.sql.Column, df: org.apache.spark.sql.Column) =
        log(lit(1) + (col("n") - df + 0.5) / (df + 0.5)) *
          (tf * 2.2) / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      base.join(broadcast(stats))
        .select(col("doc_id"),
          round(term(col("tf0"), col("df0"))
            + term(col("tf1"), col("df1"))
            + term(col("tf2"), col("df2")), 4).as("bm25"),
          ((col("tf0") > 0).cast("int") + (col("tf1") > 0).cast("int")
            + (col("tf2") > 0).cast("int")).cast("int").as("n_hits"))
    },

    // C27: repetition quality signals (Gopher-style): type-token
    // ratio, top-token fraction, top-bigram fraction — the standard
    // boilerplate/spam filters. Spark side is ONE fused pass per doc
    // (TokenRepetitionStats — exact hash-map counts, no explode, no
    // shuffle); the oracle re-derives the same counts relationally.
    Q("text_repetition",
      s"""WITH t AS (
         |  SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |tc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
         |ta AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |         count(*) AS d, max(c) AS m FROM tc GROUP BY doc_id),
         |b AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |    i -> concat(toks[CAST(i AS INT)], ' ', toks[CAST(i + 1 AS INT)]))) AS bg
         |  FROM t WHERE len(toks) >= 2),
         |bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg),
         |ba AS (SELECT doc_id, max(c) AS mb, CAST(sum(c) AS BIGINT) AS nb
         |       FROM bc GROUP BY doc_id)
         |SELECT ta.doc_id, ta.n AS n_tokens,
         |  round(CAST(ta.d AS DOUBLE) / ta.n, 4) AS ttr,
         |  round(CAST(ta.m AS DOUBLE) / ta.n, 4) AS top_token_frac,
         |  round(coalesce(CAST(ba.mb AS DOUBLE) / ba.nb, 0.0), 4) AS top_bigram_frac
         |FROM ta LEFT JOIN ba USING (doc_id)""".stripMargin) { (s, dir) =>
      import graft.functions.VectorExpressions
      table(s, dir, "documents")
        .withColumn("_st", VectorExpressions.tokenRepetitionStats(
          TF.wsTokens(col("text"))))
        .select(
          col("doc_id"),
          col("_st.n_toks").as("n_tokens"),
          round(col("_st.n_distinct").cast("double") / col("_st.n_toks"), 4).as("ttr"),
          round(col("_st.top_tok").cast("double") / col("_st.n_toks"), 4).as("top_token_frac"),
          round(when(col("_st.n_bigrams") > 0,
              col("_st.top_bigram").cast("double") / col("_st.n_bigrams"))
            .otherwise(0.0), 4).as("top_bigram_frac"))
    },

    // C34: token Shannon entropy — the information-density quality
    // signal (low entropy = boilerplate/repetition, complements C27).
    // ONE fused TokenEntropyStats pass per doc (no explode, no
    // shuffle); S = Σ c·ln(c) is accumulated over distinct count
    // values ASCENDING — a canonical order independent of hash-map
    // iteration — and the oracle folds the same terms in the same
    // order via list_reduce over list(... ORDER BY c). Caveat: each
    // term contains ln(c) from JVM Math.log vs DuckDB's libm, which
    // are NOT specified to agree to the last ulp on every platform;
    // the canonical fold order removes summation-order noise, and the
    // 4dp floor(x·1e4 + 0.5) round then absorbs sub-ulp log drift the
    // same boundary-safe way text_lm_score/bm25 do — not an
    // exact-integer guarantee like the fingerprint queries.
    // H = ln(n) − S/n.
    Q("text_entropy",
      s"""WITH t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |tc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
         |cc AS (SELECT doc_id, c, count(*) AS m FROM tc GROUP BY doc_id, c),
         |e AS (
         |  SELECT doc_id,
         |    CAST(sum(m * c) AS BIGINT) AS n,
         |    CAST(sum(m) AS BIGINT) AS d,
         |    list_reduce(list_prepend(0.0, list(m * (c * ln(c)) ORDER BY c)),
         |      (a, x) -> a + x) AS s
         |  FROM cc GROUP BY doc_id)
         |SELECT doc_id, n AS n_tokens, d AS n_types,
         |  floor((ln(n) - s / n) * 10000 + 0.5) / 10000 AS entropy
         |FROM e""".stripMargin) { (s, dir) =>
      table(s, dir, "documents")
        .withColumn("_e", graft.functions.VectorExpressions.tokenEntropyStats(
          TF.wsTokens(col("text"))))
        .select(col("doc_id"),
          col("_e.n_toks").as("n_tokens"),
          col("_e.n_distinct").as("n_types"),
          (floor((log(col("_e.n_toks")) - col("_e.sum_clnc") / col("_e.n_toks"))
            * 10000 + lit(0.5)) / 10000).as("entropy"))
    },

    Q("text_compress_ratio",
      """SELECT doc_id, length(text) AS n_chars_exact,
        |  CAST(1 AS INT) AS ratio_pos,
        |  CAST(1 AS INT) AS ratio_bounded,
        |  CAST(1 AS INT) AS long_compresses
        |FROM documents""".stripMargin) { (s, dir) =>
      val ratio = graft.functions.CompressRatio.compressRatio(col("text"))
      table(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars_exact"),
        (ratio > 0.0).cast("int").as("ratio_pos"),
        (length(col("text")) < 50 || ratio <= 1.2).cast("int").as("ratio_bounded"),
        (length(col("text")) < 500 || ratio < 0.95).cast("int").as("long_compresses"))
    },

    // C40: model-based quality scoring — the fastText/CCNet-style
    // hash-trick LINEAR CLASSIFIER shape (hashed bag-of-words →
    // weight lookup → mean score → keep/drop), the standard
    // learned-quality filter of web-corpus pipelines. Weights here
    // are a fixed deterministic table (w_d = (d·2654435761 mod 2001)
    // − 1000, an integer formula — a real deployment broadcasts its
    // trained vector; the ENGINE work is identical). The whole score
    // is EXACT-INTEGER until one final division: feature = low 12
    // bits of the rolling fingerprint (unsigned mod 4096 ≡ signed
    // &4095), and the emitted columns stay in the INTEGER domain
    // (Σw, n) — order-independent, no ulp drift, and no
    // rounded-quotient boundary to disagree on (a first attempt
    // emitted round(Σw/(1000n), 6) and lost a 6th-decimal coin-flip
    // at a near-tie quotient — the mean is the consumer's division).
    // Map-only, zero shuffle.
    Q("text_quality_model",
      s"""WITH t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |s AS (
         |  SELECT doc_id, len(toks) AS n,
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |      list_transform(toks, tok ->
         |        (list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |           list_transform(string_split_regex(tok, ''),
         |             c -> CAST(ord(c) AS HUGEINT))),
         |          (h, b) -> (h * 31 + b) % 18446744073709551616) % 4096)
         |        * 2654435761 % 2001 - 1000)),
         |      (a, x) -> a + x) AS wsum
         |  FROM t)
         |SELECT doc_id,
         |  CAST(wsum AS BIGINT) AS weight_sum,
         |  CAST(n AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN wsum > 0 THEN 1 ELSE 0 END AS INT) AS kept
         |FROM s""".stripMargin) { (s, dir) =>
      val toks = TF.wsTokens(col("text"))
      val wsum = aggregate(toks, lit(0L), (acc, t) =>
        acc + (Fingerprint64.fingerprint64(t).bitwiseAND(lit(4095L))
          * lit(2654435761L) % lit(2001L) - lit(1000L)))
      table(s, dir, "documents")
        .select(col("doc_id"), wsum.as("weight_sum"),
          size(toks).cast("bigint").as("n_tokens"))
        .select(col("doc_id"), col("weight_sum"), col("n_tokens"),
          (col("weight_sum") > 0).cast("int").as("kept"))
    },

    // C47: feature-hashed document embeddings (the hashing trick,
    // Weinberger et al. 2009) — every doc becomes a d=16 sign-hashed
    // bag-of-words vector with NO trained model: dim = low 4 bits of
    // the token fingerprint, sign = bit 4, value = signed count sum.
    // This is the bridge from the text world to the vector world —
    // the output feeds the ANN / k-means / semantic-dedup family when
    // no neural embedding exists yet (and is the exact feature map
    // DSIR's bucket model hashes into). Emitted EXPLODED as (doc_id,
    // dim, f_int, f_norm): the integer component is order-independent
    // and exact; the L2-normalized component divides by the per-doc
    // norm (identical doubles both engines) on the 6dp floor
    // convention. Scale shape: map-side-combined (doc, dim) agg →
    // per-doc re-agg, two keyed exchanges, rows ≤ 16/doc on the wire.
    // Sign-bit replay: HUGEINT (h // 16) % 2 reads bit 4, exactly
    // what the signed arithmetic shift + mask reads in Spark (shifts
    // only differ in HIGH bits).
    Q("doc_embed_hash",
      s"""WITH t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |i AS (
         |  SELECT doc_id, unnest(list_transform(toks, tok ->
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |      list_transform(
         |        list_filter(string_split_regex(tok, ''), c -> c <> ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, b) -> (h * 31 + b) % 18446744073709551616))) AS h
         |  FROM t),
         |f AS (
         |  SELECT doc_id, CAST(h % 16 AS INT) AS dim,
         |    CAST(sum(CASE WHEN (h // 16) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT)
         |      AS f_int
         |  FROM i GROUP BY doc_id, dim),
         |n AS (SELECT doc_id, sqrt(CAST(sum(f_int * f_int) AS DOUBLE)) AS norm
         |      FROM f GROUP BY doc_id)
         |SELECT f.doc_id, dim, f_int,
         |  CASE WHEN norm = 0 THEN 0.0
         |       ELSE floor(f_int / norm * 1000000 + 0.5) / 1000000 END AS f_norm
         |FROM f JOIN n USING (doc_id)""".stripMargin) { (s, dir) =>
      val inst = table(s, dir, "documents").select(
        col("doc_id"),
        explode(transform(TF.wsTokens(col("text")),
          t => Fingerprint64.fingerprint64(t))).as("h"))
      val byDim = inst
        .groupBy(col("doc_id"), col("h").bitwiseAND(lit(15L)).cast("int").as("dim"))
        .agg(sum(when(shiftright(col("h"), 4).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as("f_int"))
      byDim.groupBy(col("doc_id"))
        .agg(
          array_sort(collect_list(struct(col("dim"), col("f_int")))).as("fs"),
          sqrt(sum(col("f_int") * col("f_int")).cast("double")).as("norm"))
        .select(col("doc_id"), explode(col("fs")).as("f"), col("norm"))
        .select(col("doc_id"), col("f.dim").as("dim"), col("f.f_int").as("f_int"),
          when(col("norm") === 0, lit(0.0))
            .otherwise(floor(col("f.f_int") / col("norm") * lit(1000000) + lit(0.5))
              .cast("double") / lit(1000000)).as("f_norm"))
    },

    // C86: IN-ENGINE TRAINED text classifier — Rocchio / nearest
    // class mean (Rocchio 1971; the closed-form member of the
    // reference-corpus filter family that CCNet/GPT-3 instantiate
    // with fasttext): w = mean(x | y=1) − mean(x | y=0) over the C47
    // hashed bag-of-words features, bias = −w·(μ1+μ0)/2 (the
    // midpoint rule), score = w·x + bias. Distinct from C40 (fixed
    // hash weights, no training) and C42 (probability-ratio bucket
    // weights): this one learns a geometric separator FROM labels in
    // one closed-form pass — no iterative convergence to tune, which
    // is exactly why it is deterministic enough to oracle-check.
    //
    // Label: the synthetic corpus draws every doc from ONE shared
    // vocabulary (lang/source are uncorrelated with text — verified:
    // no text feature separates them), so the gate uses a PLANTED
    // concept, the ann_recall_gate convention: y = 1(Σ_j w*_j x_j ≥ 0)
    // with w* = +1 on odd dims / −1 on even dims. The classifier must
    // RECOVER the planted separator from labels alone; it lands ~87%
    // accuracy at every SF (pinned ≥ 0.85 by RocchioSpec — Rocchio is
    // Bayes-optimal only for identity-covariance classes, so
    // imperfect recovery is the method's honest ceiling, not noise).
    //
    // Determinism: features are the C47 integer micro-units; class
    // means use explicit floored division spelled identically in both
    // engines ((a − ((a%d)+d)%d)/d — DuckDB // and Spark div disagree
    // on negatives); every score is an EXACT BIGINT (≤ 17·2e12 —
    // fits long to any n). Scale shape: ONE corpus tokenize→hash
    // pass builds the sparse feature relation (localCheckpointed);
    // training is one keyed label join + a 16-row driver collect
    // (the PowerIteration model-to-driver convention); scoring is a
    // broadcast join. No iteration, no global sort.
    Q("rocchio_classifier_score",
      s"""$rocchioCtes
         |SELECT doc_id, label, score, pred FROM scored""".stripMargin) {
      (s, dir) => rocchioScored(s, dir)
    },

    // C91: CLASSIFIER CALIBRATION / RELIABILITY TABLE (Guo et al.
    // 2017's reliability diagram as a relation) — the eval stage that
    // follows ANY trained corpus filter (C86 here; a fasttext/neural
    // scorer in production): cut the score axis into deciles at the
    // EXACT bracket-rank cut values (DistributedQuantile.cutValues —
    // rank selection, engine-stable by construction; the decile_lift
    // precedent) and
    // report, per bin, the count, positive-label mass, positive-PRED
    // mass, agreement, and exact micro-unit rates — the table that
    // says WHERE on the score axis the filter's confidence is honest
    // (a miscalibrated quality filter silently skews the corpus mix
    // it gates). Scale shape: the C86 scored relation (one corpus
    // pass, localCheckpointed) → 9 cut values broadcast over one
    // keyed agg into ≤ 10 rows. All counts exact BIGINTs; rates are
    // integer micro-units ((n · 1e6) div count — positive, so DuckDB
    // // and Spark div agree); min/max score exact.
    Q("classifier_calibration",
      s"""$rocchioCtes,
         |srk AS (
         |  SELECT CAST(score AS DOUBLE) AS v,
         |    row_number() OVER (ORDER BY CAST(score AS DOUBLE)) - 1 AS r,
         |    count(*) OVER () AS n
         |  FROM scored),
         |bp AS (
         |  SELECT ${(1 to 9).map(k => s"max(CASE WHEN r = ($k*(n-1))//10 THEN v END) AS b$k").mkString(", ")}
         |  FROM srk),
         |d AS (
         |  SELECT CAST(${(1 to 9).map(k => s"(CASE WHEN score > b$k THEN 1 ELSE 0 END)").mkString(" + ")} AS INT) AS bin,
         |    label, pred, score
         |  FROM scored, bp)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(label) AS BIGINT) AS n_pos,
         |  CAST(sum(pred) AS BIGINT) AS n_pred_pos,
         |  CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |  CAST((sum(label) * 1000000) // count(*) AS BIGINT) AS pos_rate_micro,
         |  CAST((sum(CASE WHEN label = pred THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS acc_micro,
         |  CAST(min(score) AS BIGINT) AS min_score,
         |  CAST(max(score) AS BIGINT) AS max_score
         |FROM d GROUP BY bin""".stripMargin) { (s, dir) =>
      val scored = rocchioScored(s, dir).localCheckpoint()
      val bps = DistributedQuantile
        .cutValues(scored.withColumn("_g", lit("all")), "_g", "score",
          (1 to 9).map(k => (s"b$k", k, 10)))
        .drop("g").drop((1 to 9).map(k => s"b${k}_rem"): _*)
      val bin = (1 to 9)
        .map(k => (col("score") > col(s"b$k")).cast("int"))
        .reduce(_ + _)
      scored.crossJoin(broadcast(bps))
        .select(bin.cast("int").as("bin"), col("label"), col("pred"),
          col("score"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("label")).cast("long").as("n_pos"),
          sum(col("pred")).cast("long").as("n_pred_pos"),
          sum((col("label") === col("pred")).cast("long")).as("n_agree"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .select(col("bin"), col("n_docs"), col("n_pos"), col("n_pred_pos"),
          col("n_agree"),
          expr("(n_pos * 1000000) div n_docs").as("pos_rate_micro"),
          expr("(n_agree * 1000000) div n_docs").as("acc_micro"),
          col("min_score"), col("max_score"))
    },

    // C162: AVERAGE PRECISION / AUC-PR (round 13; the
    // precision-recall summary — Davis & Goadrich ICML 2006 on why
    // PR beats ROC under class imbalance, exactly the regime corpus
    // quality filters live in: C101's ROC-AUC flatters a filter
    // when positives are rare, AP does not). Threshold grain =
    // distinct score descending (the step-interpolated definition):
    // AP = Σ_g (tp_g/P)·(cumTP_g/(cumTP_g+cumFP_g)). Exact: per
    // threshold one integer pico-floor contribution
    // (tp·cumTP·10¹²) div (cumTP+cumFP) in HUGEINT/DECIMAL(38,0),
    // summed then ONE integer division by P·10⁶ → ap_micro — no
    // doubles anywhere. Scale shape: the C86 scored relation → one
    // score-grain agg → the DistributedPrefixSum streamed pass
    // (score DESC via the negated key — the B114 plan).
    Q("classifier_auprc",
      s"""$rocchioCtes,
         |sg AS (
         |  SELECT score, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(label) AS BIGINT) AS tp
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT score, cnt, tp,
         |    CAST(sum(tp) OVER (ORDER BY score DESC) AS BIGINT) AS ct,
         |    CAST(sum(cnt - tp) OVER (ORDER BY score DESC) AS BIGINT) AS cf
         |  FROM sg),
         |tot AS (SELECT CAST(sum(tp) AS BIGINT) AS p,
         |          CAST(sum(cnt - tp) AS BIGINT) AS ng,
         |          CAST(count(*) AS BIGINT) AS nthr FROM sg),
         |ap AS (
         |  SELECT CAST(sum(CAST(tp AS HUGEINT) * ct * 1000000000000
         |    // (ct + cf)) AS HUGEINT) AS s FROM cum)
         |SELECT tot.p AS n_pos, tot.ng AS n_neg, tot.nthr AS n_thresholds,
         |  CAST(CASE WHEN tot.p > 0 THEN ap.s // (tot.p * 1000000)
         |    ELSE 0 END AS BIGINT) AS ap_micro
         |FROM tot, ap""".stripMargin) { (s, dir) =>
      apFromScored(rocchioScored(s, dir))
    },

    // C163: BRIER SCORE + MURPHY DECOMPOSITION (round 13; Brier
    // 1950; Murphy JAM 1973) — the probability-forecast eval for an
    // in-engine calibrated filter: forecasts are per-SOURCE positive
    // rates fit on the even-doc_id TRAIN split (quantized to exact
    // integer micro — stated, so every term below is pure integer
    // arithmetic), evaluated on the odd-doc_id docs against the C86
    // label. Brier·10¹² = Σ(f₆ − y·10⁶)²/N plus the reliability /
    // resolution / uncertainty read-outs (REL = Σn_b(f_b−ȳ_b)²/N,
    // RES = Σn_b(ȳ_b−ȳ)²/N, UNC = ȳ(1−ȳ) — Brier ≈ REL − RES + UNC
    // up to the stated micro quantization). C91 diagnoses
    // calibration on the SCORE axis; this scores an actual forecast
    // and says how much of its error is mis-calibration (REL,
    // fixable by C155) vs missing discrimination (RES). Scale
    // shape: the scored relation → two keyed source aggs + one
    // broadcast model join.
    Q("classifier_brier",
      s"""$rocchioCtes,
         |sd AS (SELECT s.doc_id, s.label, d.source,
         |         s.doc_id % 2 AS odd
         |       FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
         |tr AS (
         |  SELECT source,
         |    CAST((sum(label) * 1000000) // count(*) AS BIGINT) AS f6
         |  FROM sd WHERE odd = 0 GROUP BY source),
         |ev AS (SELECT sd.source, sd.label, tr.f6
         |       FROM sd JOIN tr ON sd.source = tr.source WHERE odd = 1),
         |b AS (
         |  SELECT source, f6, CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(label) AS BIGINT) AS pb,
         |    CAST(sum(CAST(f6 - label * 1000000 AS HUGEINT)
         |      * (f6 - label * 1000000)) AS HUGEINT) AS se
         |  FROM ev GROUP BY source, f6),
         |bt AS (
         |  SELECT CAST(sum(nb) AS BIGINT) AS n,
         |    CAST(sum(pb) AS BIGINT) AS pos,
         |    CAST(sum(se) AS HUGEINT) AS se_tot,
         |    CAST(sum(CAST(nb AS HUGEINT)
         |      * (f6 - (pb * 1000000) // nb)
         |      * (f6 - (pb * 1000000) // nb)) AS HUGEINT) AS rel_n
         |  FROM b),
         |bt2 AS (
         |  SELECT bt.n, bt.pos, bt.se_tot, bt.rel_n,
         |    CAST((SELECT sum(CAST(nb AS HUGEINT)
         |        * ((pb * 1000000) // nb - (bt.pos * 1000000) // bt.n)
         |        * ((pb * 1000000) // nb - (bt.pos * 1000000) // bt.n))
         |      FROM b) AS HUGEINT) AS res_n
         |  FROM bt)
         |SELECT n AS n_eval, pos AS n_pos,
         |  floor(CAST(se_tot AS DOUBLE) / CAST(n AS DOUBLE)
         |    / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS brier,
         |  floor(CAST(rel_n AS DOUBLE) / CAST(n AS DOUBLE)
         |    / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS reliability,
         |  floor(CAST(res_n AS DOUBLE) / CAST(n AS DOUBLE)
         |    / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS resolution,
         |  floor(CAST((pos * 1000000) // n AS DOUBLE)
         |    * CAST(1000000 - (pos * 1000000) // n AS DOUBLE)
         |    / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS uncertainty
         |FROM bt2""".stripMargin) { (s, dir) =>
      brierFromSplit(rocchioScored(s, dir)
        .join(table(s, dir, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("source"), col("label"),
          (col("doc_id") % 2).as("odd")))
    },

    // C96: MULTINOMIAL NAIVE BAYES text classifier (the generative
    // member of the closed-form trained-filter family — McCallum &
    // Nigam 1998; fasttext-style corpus quality/spam filters are
    // linear models of exactly this shape): class-conditional token
    // probabilities θ_cd = (S_cd + 1)/(tot_c + V) with Laplace
    // smoothing over the V = 16 hashed dims (the C47 hashing trick,
    // UNSIGNED count features — NB needs nonnegative multinomial
    // counts, so this is a different feature map than C86's signed
    // micro-normalized vectors), score = Σ_d x_d·ln(θ_1d/θ_0d) +
    // ln-prior — a linear scorer whose weights come from counting,
    // not iteration, which is what makes it oracle-exact. Label: the
    // C86 planted-concept convention adapted to count features:
    // y = 1(Σ_odd x_d − Σ_even x_d ≥ median) — the MEDIAN-centered
    // parity separator (the raw ≥ 0 cut lands 10%/90%, letting a
    // majority-class guesser score 89%; centering makes recovery
    // accuracy mean something). The median is the exact interpolated
    // quantile — q = 0.5 is the one q where cross-engine bit-identity
    // holds UNCONDITIONALLY (interpolation fraction 0 or exactly 0.5,
    // products exact halvings; the robust_outliers precedent), so the
    // ≥ median compare is engine-stable. NB must RECOVER the separator from
    // labels alone (NaiveBayesSpec pins the recovery accuracy
    // against both class rates). Determinism: every ln is taken on
    // ONE division of
    // two exact BIGINT products (< 2^53 up to ~10^8-token classes)
    // and floored to INTEGER micro-units immediately (the 6dp
    // convention); scores are then exact BIGINT dot products —
    // bit-equal across engines, no summation-order exposure. Scale
    // shape: ONE tokenize→hash corpus pass (localCheckpointed),
    // labels + the 16-row model from keyed aggs of it, scoring a
    // broadcast join — no iteration, no global sort.
    Q("naive_bayes_score",
      s"""WITH t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |i AS (
         |  SELECT doc_id, unnest(list_transform(toks, tok ->
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |      list_transform(
         |        list_filter(string_split_regex(tok, ''), c -> c <> ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, b) -> (h * 31 + b) % 18446744073709551616))) AS h
         |  FROM t),
         |f AS (
         |  SELECT doc_id, CAST(h % 16 AS INT) AS dim,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM i GROUP BY doc_id, dim),
         |z AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN dim % 2 = 1 THEN cnt ELSE -cnt END) AS BIGINT)
         |      AS zs
         |  FROM f GROUP BY doc_id),
         |med AS (SELECT quantile_cont(CAST(zs AS DOUBLE), 0.5) AS m FROM z),
         |lab AS (
         |  SELECT doc_id, CASE WHEN CAST(zs AS DOUBLE) >= m THEN 1 ELSE 0 END
         |    AS y
         |  FROM z, med),
         |pr AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
         |              CAST(count(*) - sum(y) AS BIGINT) AS n0 FROM lab),
         |dom AS (SELECT CAST(d AS INT) AS dim FROM unnest(range(16)) AS u(d)),
         |sc AS (
         |  SELECT dim,
         |    CAST(sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN y = 0 THEN cnt ELSE 0 END) AS BIGINT) AS s0
         |  FROM f JOIN lab USING (doc_id) GROUP BY dim),
         |sd AS (SELECT dom.dim, coalesce(s1, 0) AS s1, coalesce(s0, 0) AS s0
         |       FROM dom LEFT JOIN sc USING (dim)),
         |tot AS (SELECT CAST(sum(s1) AS BIGINT) AS t1,
         |               CAST(sum(s0) AS BIGINT) AS t0 FROM sd),
         |w AS (
         |  SELECT dim, CAST(floor(
         |      ln(CAST((s1 + 1) * (t0 + 16) AS DOUBLE)
         |         / CAST((s0 + 1) * (t1 + 16) AS DOUBLE)) * 1000000 + 0.5)
         |    AS BIGINT) AS lr
         |  FROM sd, tot),
         |bi AS (SELECT CAST(floor(
         |    ln(CAST(n1 + 1 AS DOUBLE) / CAST(n0 + 1 AS DOUBLE))
         |    * 1000000 + 0.5) AS BIGINT) AS b FROM pr),
         |s AS (SELECT doc_id, CAST(sum(cnt * lr) AS BIGINT) AS wx
         |      FROM f JOIN w USING (dim) GROUP BY doc_id)
         |SELECT s.doc_id, CAST(y AS INT) AS label, wx + b AS score_micro,
         |  CAST(CASE WHEN wx + b >= 0 THEN 1 ELSE 0 END AS INT) AS pred
         |FROM s JOIN lab USING (doc_id), bi""".stripMargin) { (s, dir) =>
      // Round-13 optimization (guide §2.3/§2.4 — clone-collapse):
      // the tokenize→hash explode costs tokens-per-CORPUS, but every
      // downstream quantity is a SUM over docs of text-determined
      // integers — so the explode runs once per UNIQUE text and the
      // class sums / priors re-weight by clone multiplicity
      // (Σ_docs = Σ_uniq mult·x, exact integers). The one global
      // non-sum, the label median, is computed over the SAME
      // doc-level zs multiset as before: zs per unique text expands
      // back to one row per doc (doc-count rows — model-sized next
      // to the token explode) and feeds the identical
      // DistributedQuantile call. Scores/labels are text-determined
      // and re-attach by fingerprint (dedup_exact_docs guard family).
      // The oracle keeps the full-corpus spelling.
      val keyed = table(s, dir, "documents").select(
        col("doc_id"), col("text"),
        xxhash64(col("text")).as("f1"),
        xxhash64(lit(42L), col("text")).as("f2"),
        length(col("text")).as("fl"))
      val uniq = keyed
        .groupBy(col("f1"), col("f2"), col("fl"))
        .agg(min(col("doc_id")).as("doc"), count(lit(1)).as("mult"),
          first(col("text")).as("text"),
          countDistinct(xxhash64(lit(1337L), col("text"))).as("_nfp"))
        .filter(assert_true(col("_nfp") === 1,
          lit("fingerprint collision in naive_bayes_score")).isNull)
        .localCheckpoint() // feeds the explode and the re-attach join
      val docFp = keyed.select(col("doc_id"), col("f1"), col("f2"), col("fl"))
      val fpDoc = uniq.select(col("f1"), col("f2"), col("fl"), col("doc"))
      val f = uniq.select(col("doc"), col("mult"),
          explode(transform(TF.wsTokens(col("text")),
            t => Fingerprint64.fingerprint64(t))).as("h"))
        .groupBy(col("doc"), col("mult"),
          col("h").bitwiseAND(lit(15L)).cast("int").as("dim"))
        .agg(count(lit(1)).as("cnt"))
        // labels, class sums and scoring all read it — DISK_ONLY, not
        // localCheckpoint: pre-collapse this relation was ~80M rows at
        // ×1000 and a memory-resident checkpoint squeezed execution
        // memory to UNABLE_TO_ACQUIRE in the bench JVM; disk-backed
        // reuse keeps the explode single-run without heap pressure
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val zu = f.groupBy(col("doc"), col("mult"))
        .agg(sum(when(col("dim") % 2 === 1, col("cnt"))
          .otherwise(-col("cnt"))).as("zs"))
      // the median's input is the per-DOC zs multiset, exactly as the
      // oracle states it — expand the unique-text zs back over clones
      val z = docFp.join(fpDoc, Seq("f1", "f2", "fl"))
        .join(zu.select(col("doc"), col("zs")), Seq("doc"))
        .select(col("doc_id"), col("zs"))
      val med = DistributedQuantile
        .quantiles(z.withColumn("_g", lit("all"))
          .withColumn("zsd", col("zs").cast("double")), "_g", "zsd",
          Seq("m" -> 0.5))
        .drop("g")
      val lab = zu.crossJoin(broadcast(med))
        .select(col("doc"), col("mult"),
          when(col("zs").cast("double") >= col("m"), 1L).otherwise(0L)
            .as("y"))
      val pr = lab.agg(sum(col("mult") * col("y")).as("n1"),
        (sum(col("mult")) - sum(col("mult") * col("y"))).as("n0"))
      val dom = s.range(16).select(col("id").cast("int").as("dim"))
      val sc = f.join(lab.select(col("doc"), col("y")), Seq("doc"))
        .groupBy(col("dim"))
        .agg(sum(when(col("y") === 1, col("mult") * col("cnt"))
            .otherwise(0L)).as("s1"),
          sum(when(col("y") === 0, col("mult") * col("cnt"))
            .otherwise(0L)).as("s0"))
      val sd = dom.join(sc, Seq("dim"), "left")
        .select(col("dim"), coalesce(col("s1"), lit(0L)).as("s1"),
          coalesce(col("s0"), lit(0L)).as("s0"))
        .localCheckpoint() // 16 rows: totals + weights both read it
      val tot = sd.agg(sum(col("s1")).as("t1"), sum(col("s0")).as("t0"))
      val w = sd.crossJoin(broadcast(tot))
        .select(col("dim"), floor(
          log(((col("s1") + 1) * (col("t0") + 16)).cast("double")
            / ((col("s0") + 1) * (col("t1") + 16)).cast("double"))
          * 1000000 + lit(0.5)).cast("long").as("lr"))
      val bi = pr.select(floor(
        log((col("n1") + 1).cast("double") / (col("n0") + 1).cast("double"))
        * 1000000 + lit(0.5)).cast("long").as("b"))
      val su = f.join(broadcast(w), Seq("dim"))
        .groupBy(col("doc"))
        .agg(sum(col("cnt") * col("lr")).cast("long").as("wx"))
        .join(lab.select(col("doc"), col("y")), Seq("doc"))
        .crossJoin(broadcast(bi))
        .select(col("doc"), col("y").cast("int").as("label"),
          (col("wx") + col("b")).as("score_micro"),
          when(col("wx") + col("b") >= 0, 1).otherwise(0).cast("int")
            .as("pred"))
      docFp.join(fpDoc, Seq("f1", "f2", "fl"))
        .join(su, Seq("doc"))
        .select(col("doc_id"), col("label"), col("score_micro"), col("pred"))
    },
    // C41: PMI collocation scoring — the corpus-statistics operator
    // behind phrase mining / tokenizer seeding (Church & Hanks 1990):
    // rank word bigrams by pointwise mutual information against the
    // bigram table's own marginals, PMI = ln(c_xy·N / (c_x·c_y)).
    // Scale shape: ONE corpus pass (the fused TokenPairs explode →
    // bigram-count groupBy, the text_lm_score training stage); the
    // marginals c_x (left) and c_y (right) are MODEL-sized rollups of
    // the localCheckpointed count table, never corpus re-scans, and
    // the global top-20 is TakeOrderedAndProject (per-partition heaps
    // + driver merge of 20 rows), not a full sort. Determinism: `lift`
    // = e^PMI is a ratio of exact integers combined in pinned IEEE
    // order → bit-equal across engines, and ranking/selection happens
    // on lift with a (w1, w2) total-order tiebreak, so the emitted SET
    // is exact; the ln-valued `pmi` column uses the 4dp
    // floor(x·1e4 + 0.5) convention (text_entropy's documented
    // sub-ulp-libm caveat applies to that column alone).
    Q("text_pmi_bigrams",
      s"""WITH t AS (SELECT ${TF.wsTokensSql("text")} AS toks FROM documents),
         |b AS (
         |  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i + 1 AS INT)] AS w2
         |  FROM t, unnest(range(1, len(toks))) AS u(i)
         |  WHERE len(toks) >= 2),
         |bc AS (SELECT w1, w2, count(*) AS n_pair FROM b GROUP BY w1, w2),
         |nb AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS nb FROM bc),
         |l AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_left FROM bc GROUP BY w1),
         |r AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n_right FROM bc GROUP BY w2)
         |SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, n_left, n_right,
         |  ((CAST(n_pair AS DOUBLE) * nb / n_left) / n_right) AS lift,
         |  floor(ln((CAST(n_pair AS DOUBLE) * nb / n_left) / n_right) * 10000 + 0.5)
         |    / 10000 AS pmi
         |FROM bc JOIN l USING (w1) JOIN r USING (w2), nb
         |WHERE n_pair >= 5
         |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin) { (s, dir) =>
      val big2 = table(s, dir, "documents")
        .select(TF.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(graft.functions.VectorExpressions.tokenPairs(col("t"))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val bc = big2.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
        .localCheckpoint()
      val l = bc.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_left"))
      val r = bc.groupBy(col("w2")).agg(sum(col("n_pair")).as("n_right"))
      val nb = bc.agg(sum(col("n_pair")).cast("double").as("nb"))
      val lift = (col("n_pair").cast("double") * col("nb") / col("n_left")) / col("n_right")
      bc.filter(col("n_pair") >= 5)
        .join(l, Seq("w1")).join(r, Seq("w2")).crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("n_pair"), col("n_left"), col("n_right"),
          lift.as("lift"),
          (floor(log(lift) * 10000 + lit(0.5)).cast("double") / 10000).as("pmi"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // C38: BPE-merge tokenizer training (word-pair variant) — three
    // rounds of (corpus pair count → top pair → greedy merge), the
    // operator's scaladoc has the full story (operators/BpeMerge).
    // The oracle replays all three rounds closed-form: pair counts
    // relationally, top pair by (n DESC, w1, w2), and the greedy
    // left-to-right merge as the SAME sentinel-bracketed literal
    // replace (chr(1)/chr(2) token brackets) Spark runs — literal
    // `replace` scans left-to-right non-overlapping in both engines,
    // which IS the BPE merge order.
    Q("tokenizer_bpe_merges",
      s"""$bpeCtes
         |SELECT CAST(1 AS INT) AS step, w1, w2, n AS n_pairs FROM m1
         |UNION ALL SELECT CAST(2 AS INT), w1, w2, n FROM m2
         |UNION ALL SELECT CAST(3 AS INT), w1, w2, n FROM m3""".stripMargin) { (s, dir) =>
      val (merges, _) = graft.operators.BpeMerge.train(bpeInput(s, dir), rounds = 3)
      s.createDataFrame(merges)
        .select(col("step"), col("w1"), col("w2"), col("nPairs").as("n_pairs"))
    },

    // C38 (application side): ENCODE the corpus under the trained
    // merge vocabulary — per-doc token counts before/after, the
    // statistic a pipeline actually budgets by (sequence lengths
    // shrink as merges fuse frequent pairs). Same closed-form replay;
    // t3 IS the encoded corpus after all three merges.
    Q("tokenizer_bpe_apply",
      s"""$bpeCtes,
         |${bpeMergeCte("t2", "m3", "t3")}
         |SELECT t0.doc_id,
         |  CAST(len(t0.toks) AS BIGINT) AS n_tokens_raw,
         |  CAST(len(t3.toks) AS BIGINT) AS n_tokens_bpe
         |FROM t0 JOIN t3 USING (doc_id)""".stripMargin) { (s, dir) =>
      val toks = bpeInput(s, dir)
      val (_, encoded) = graft.operators.BpeMerge.train(toks, rounds = 3)
      toks.select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens_raw"))
        .join(encoded.select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_tokens_bpe")), Seq("doc_id"))
    },

    // C49: TF-IDF top terms per document — the classic relevance /
    // keyword-extraction statistic as a corpus operator. The idf here
    // is the LINEAR form (N+1)/(df+1) so the score is a ratio of
    // exact integers: score_micro = ⌊tf·(N+1)·10⁶ / (df+1)⌋ is pure
    // integer arithmetic, identical in both engines (floor division
    // on non-negative integers — the corpus_pps_sample argument), so
    // the ranking needs no float convention at all (a production
    // log-idf changes the constant, not the engine shape; bound: the
    // spelling needs tf·(N+1)·10⁶ < 2⁶³ — factor the 10⁶ down at
    // larger N). Scale shape: two map-side-combinable keyed exchanges
    // (doc-term tf, term df), a model-sized df join, and the top-5
    // selection is a per-DOC window — doc groups are bounded by doc
    // length (the B45 small-group rule; TopKPerKey's bounded-heap
    // contract is for LOW-cardinality keys, wrong here).
    Q("text_tfidf_top_terms",
      s"""WITH t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok WHERE term <> '' GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (
         |  SELECT doc_id, term, tf, df,
         |    CAST((tf * (n_docs + 1) * 1000000) // (df + 1) AS BIGINT)
         |      AS score_micro
         |  FROM tf JOIN df USING (term), nd),
         |r AS (
         |  SELECT doc_id, term, tf, df, score_micro,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score_micro DESC, term) AS rnk
         |  FROM sc)
         |SELECT doc_id, term, tf, df, score_micro, rnk
         |FROM r WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(TF.wsTokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_micro").desc, col("term"))
      tf.join(df, Seq("term")).crossJoin(broadcast(nd))
        .withColumn("score_micro",
          expr("(tf * (n_docs + 1) * 1000000) div (df + 1)"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score_micro"), col("rnk"))
    },

    // C50: vocabulary coverage cutoff — the tokenizer-budgeting
    // statistic: how many distinct tokens (frequency-ranked) cover
    // 90% of all token occurrences. The running total over the
    // GLOBAL frequency order rides DistributedPrefixSum (two streamed
    // range-partitioned passes), never a single-reducer global window
    // — a web-scale vocabulary is exactly the low-cardinality-group /
    // unbounded-rows regime that machinery exists for. The 90%
    // threshold is integer arithmetic ((cum−cnt)·10 < total·9: a
    // token is in the vocabulary iff the mass BEFORE it is under
    // 90%), so the kept SET is exact in both engines.
    Q("vocab_coverage",
      s"""WITH t AS (SELECT ${TF.wsTokensSql("text")} AS toks FROM documents),
         |tok AS (SELECT unnest(toks) AS term FROM t),
         |c AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok WHERE term <> '' GROUP BY term),
         |tot AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS total,
         |    CAST(count(*) AS BIGINT) AS nv
         |  FROM c),
         |r AS (
         |  SELECT cnt,
         |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, term) AS BIGINT) AS cum
         |  FROM c)
         |SELECT (SELECT total FROM tot) AS n_tokens_total,
         |  (SELECT nv FROM tot) AS n_vocab,
         |  CAST(count(*) FILTER (
         |    WHERE (cum - cnt) * 10 < (SELECT total FROM tot) * 9) AS BIGINT)
         |    AS vocab_size_90,
         |  CAST(coalesce(sum(cnt) FILTER (
         |    WHERE (cum - cnt) * 10 < (SELECT total FROM tot) * 9), 0) AS BIGINT)
         |    AS covered_tokens_90
         |FROM r""".stripMargin) { (s, dir) =>
      val counts = table(s, dir, "documents")
        .select(explode(TF.wsTokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val ordered = counts.select(lit(0L).as("g"), (-col("cnt")).as("neg"),
        col("term"), col("cnt"))
      val cum = DistributedPrefixSum.running(
        ordered, "g", Seq("neg", "term"), "cnt", "cum")
      val tot = counts.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("nv"))
      val kept = (col("cum") - col("cnt")) * 10 < col("total") * 9
      cum.crossJoin(broadcast(tot)).agg(
        max(col("total")).as("n_tokens_total"),
        max(col("nv")).as("n_vocab"),
        sum(when(kept, 1L).otherwise(0L)).as("vocab_size_90"),
        sum(when(kept, col("cnt")).otherwise(0L)).as("covered_tokens_90"))
    },

    // C51: per-document language MIXTURE — code-switching / boilerplate
    // contamination detection: language-ID each 10-token segment (the
    // C45 line convention) and report how many languages a doc spans
    // and its majority-language fraction. Majority selection is a
    // map-side-combinable min(struct(−count, lang)) — highest count,
    // lexicographic tie — never a per-doc window; the fraction is
    // integer micro-arithmetic. The langId heuristic is C9's, applied
    // to segments (the oracle aliases each segment AS text so the
    // shared SQL fragments replay verbatim).
    Q("text_lang_mixture",
      s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |l AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
         |    i -> array_to_string(
         |      toks[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], ' ')))
         |    AS text
         |  FROM t0),
         |sc AS (
         |  SELECT doc_id,
         |    ${hitsSql(TF.EnStop)} AS h_en,
         |    ${hitsSql(TF.EsStop)} AS h_es,
         |    ${hitsSql(TF.DeStop)} AS h_de,
         |    ${hitsSql(TF.FrStop)} AS h_fr,
         |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
         |  FROM l),
         |lp AS (
         |  SELECT doc_id,
         |    CASE WHEN has_cjk THEN 'zh'
         |         WHEN h_en = 0 AND h_es = 0 AND h_de = 0 AND h_fr = 0 THEN 'und'
         |         WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
         |         WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
         |         WHEN h_de >= h_fr THEN 'de'
         |         ELSE 'fr' END AS lp
         |  FROM sc),
         |c AS (SELECT doc_id, lp, CAST(count(*) AS BIGINT) AS c
         |      FROM lp GROUP BY doc_id, lp),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_segments,
         |        CAST(count(*) AS BIGINT) AS n_langs
         |      FROM c GROUP BY doc_id),
         |m AS (
         |  SELECT doc_id, lp AS major_lang, c AS major_cnt,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lp) AS rn
         |  FROM c)
         |SELECT a.doc_id, n_segments, n_langs, major_lang, major_cnt,
         |  CAST((major_cnt * 1000000) // n_segments AS BIGINT)
         |    AS major_frac_micro
         |FROM a JOIN m ON a.doc_id = m.doc_id AND m.rn = 1""".stripMargin) { (s, dir) =>
      val toksRaw = split(col("text"), " ")
      val nSeg = ceil(size(toksRaw).cast("double") / lit(10.0)).cast("int")
      val segs = table(s, dir, "documents").select(
        col("doc_id"),
        explode(transform(sequence(lit(0), nSeg - 1),
          i => concat_ws(" ", slice(toksRaw, i * 10 + 1, lit(10))))).as("seg"))
      val cnts = segs.select(col("doc_id"), TF.langId(col("seg")).as("lp"))
        .groupBy(col("doc_id"), col("lp")).agg(count(lit(1)).as("c"))
      cnts.groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_segments"), count(lit(1)).as("n_langs"),
          min(struct((-col("c")).as("nc"), col("lp").as("l"))).as("m"))
        .select(col("doc_id"), col("n_segments"), col("n_langs"),
          col("m.l").as("major_lang"), (-col("m.nc")).as("major_cnt"))
        .withColumn("major_frac_micro",
          expr("(major_cnt * 1000000) div n_segments"))
    },

    // C53: winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003
    // — the MOSS local document sketch): hash every word trigram,
    // slide a w=4 window over the hash sequence, select each window's
    // minimum (ties → leftmost), dedup selections. The guarantee: any
    // shared token run of ≥ w+k−1 = 6 tokens contributes at least one
    // COMMON fingerprint, so matching sketches finds partial overlap
    // that whole-doc fingerprints (C12) and fixed spans (C31) can
    // miss-align. Plan shape: one map-only pass (all array ops inside
    // codegen) + one keyed distinct exchange carrying (doc, pos, 8 B
    // hash). The oracle replays the rolling 64-bit hash per gram in
    // HUGEINT (the doc_embed_hash machinery), re-signs, and selects
    // window minima positionally — bit-exact.
    Q("text_winnow_fingerprints",
      s"""WITH $winnowCtes
         |SELECT DISTINCT doc_id, pos, fp64 FROM sel""".stripMargin) { (s, dir) =>
      winnowFps(s, dir)
    },

    // C54: winnowing near-dup CANDIDATE PAIRS — C53 made load-bearing:
    // docs sharing ≥ 2 selected fingerprints are near-dup candidates
    // (each shared fingerprint witnesses a shared ≥ 6-token run).
    // Scale plan: distinct (doc, fp) → fingerprint document-frequency
    // cap (fps in > 50 docs are boilerplate and are DROPPED before the
    // pair join — the same hot-key cap as the LSH bucket caps, or the
    // f² blowup returns) → keyed self-join on the 8-byte fp → pair
    // rollup. The oracle replays the cap and the join exactly.
    Q("winnow_dup_pairs",
      s"""WITH $winnowCtes,
         |fps AS (SELECT DISTINCT doc_id, fp64 FROM sel),
         |dfc AS (SELECT fp64, CAST(count(*) AS BIGINT) AS dc
         |        FROM fps GROUP BY fp64),
         |keep AS (
         |  SELECT f.doc_id, f.fp64 FROM fps f JOIN dfc USING (fp64)
         |  WHERE dc <= 50)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM keep a JOIN keep b ON a.fp64 = b.fp64 AND a.doc_id < b.doc_id
         |GROUP BY doc_a, doc_b
         |HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      val fps = winnowFps(s, dir)
        .select(col("doc_id"), col("fp64")).distinct()
        .localCheckpoint() // feeds the df count AND both join sides
      val dfc = fps.groupBy(col("fp64")).agg(count(lit(1)).as("dc"))
      val keep = fps.join(dfc.filter(col("dc") <= 50), Seq("fp64"))
        .select(col("doc_id"), col("fp64"))
      keep.as("a").join(keep.as("b"),
          col("a.fp64") === col("b.fp64") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    },

    // C70: winnow CONTAINMENT pairs — the asymmetric near-dup Jaccard
    // misses: a short document embedded inside a long one scores low
    // Jaccard (union is large) but high CONTAINMENT (shared / smaller
    // side). Candidates are the C54 capped fingerprint join; the
    // containment test is the pure-integer inequality
    // 10·shared ≥ 8·min(|A|, |B|) (≥ 0.8), so the emitted pair SET is
    // exact. Fingerprint-set sizes come from the UNCAPPED per-doc
    // sets; the shared count from the capped join is a documented
    // lower bound (a pair whose overlap is entirely boilerplate-
    // capped fingerprints is by definition boilerplate overlap).
    Q("winnow_containment_pairs",
      s"""WITH $winnowCtes,
         |fps AS (SELECT DISTINCT doc_id, fp64 FROM sel),
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
         |        FROM fps GROUP BY doc_id),
         |dfc AS (SELECT fp64, CAST(count(*) AS BIGINT) AS dc
         |        FROM fps GROUP BY fp64),
         |keep AS (
         |  SELECT f.doc_id, f.fp64 FROM fps f JOIN dfc USING (fp64)
         |  WHERE dc <= 50),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM keep a JOIN keep b ON a.fp64 = b.fp64 AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b)
         |SELECT p.doc_a, p.doc_b, p.n_shared, ca.nf AS nf_a, cb.nf AS nf_b
         |FROM pairs p
         |JOIN cnt ca ON ca.doc_id = p.doc_a
         |JOIN cnt cb ON cb.doc_id = p.doc_b
         |WHERE 10 * p.n_shared >= 8 * least(ca.nf, cb.nf)""".stripMargin) { (s, dir) =>
      val fps = winnowFps(s, dir)
        .select(col("doc_id"), col("fp64")).distinct()
        .localCheckpoint() // feeds sizes, the df cap, and both join sides
      val cnt = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
      val dfc = fps.groupBy(col("fp64")).agg(count(lit(1)).as("dc"))
      val keep = fps.join(dfc.filter(col("dc") <= 50), Seq("fp64"))
        .select(col("doc_id"), col("fp64"))
      keep.as("a").join(keep.as("b"),
          col("a.fp64") === col("b.fp64") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(cnt.select(col("doc_id").as("doc_a"), col("nf").as("nf_a")), Seq("doc_a"))
        .join(cnt.select(col("doc_id").as("doc_b"), col("nf").as("nf_b")), Seq("doc_b"))
        .filter(col("n_shared") * 10 >= least(col("nf_a"), col("nf_b")) * 8)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("nf_a"), col("nf_b"))
    },

    // C78: KNESER-NEY smoothed bigram LM scoring — the smoothing the
    // n-gram-LM literature actually uses for perplexity filtering
    // (Chen & Goodman 1999), distinct from C24's add-one: absolute
    // discount D = 0.75 on seen bigrams, with the discounted mass
    // backed off to the CONTINUATION probability (how many distinct
    // contexts a word completes — "Francisco" is frequent but only
    // ever follows "San", so its continuation mass is tiny):
    //   P(w2|w1) = max(c(w1w2)−D, 0)/c(w1)
    //            + (D·N1+(w1·)/c(w1)) · N1+(·w2)/N1+(··)
    // Every term is a ratio of exact integers (D = 3/4 is dyadic), so
    // both engines evaluate the identical IEEE expression; per-doc
    // avg ln rounds to 4dp (the C24 convention). Scale shape is
    // text_lm_score's: ONE corpus explode → model-sized rollups of bc
    // (cu, N1+(w1·) = bc rows per w1, N1+(·w2) = bc rows per w2,
    // N1+(··) = |bc|), model localCheckpointed, one corpus-scale
    // scoring join + doc rollup. Self-trained ⇒ every corpus bigram
    // is in the model ⇒ inner join, no OOV branch.
    Q("text_kn_score",
      s"""WITH toks AS (
         |  SELECT doc_id, ${TF.wsTokensSql("text")} AS t FROM documents),
         |big AS (
         |  SELECT doc_id,
         |    t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
         |  FROM toks, unnest(range(1, len(t))) AS u(i)
         |  WHERE len(t) >= 2),
         |bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
         |uc AS (SELECT w1, sum(cb) AS cu, count(*) AS n1f FROM bc GROUP BY w1),
         |cc AS (SELECT w2, count(*) AS n1b FROM bc GROUP BY w2),
         |tt AS (SELECT count(*) AS nbt FROM bc)
         |SELECT b.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(avg(ln(
         |    greatest(cb - 0.75, 0.0) / cu
         |      + 0.75 * n1f / cu * (n1b / nbt))), 4) AS avg_logp_kn
         |FROM big b JOIN bc USING (w1, w2) JOIN uc USING (w1)
         |  JOIN cc USING (w2), tt
         |GROUP BY b.doc_id""".stripMargin) { (s, dir) =>
      val toks = table(s, dir, "documents").select(
        col("doc_id"), TF.wsTokens(col("text")).as("t"))
      val big2 = toks.filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(graft.functions.VectorExpressions.tokenPairs(col("t"))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val bc = big2.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        .localCheckpoint() // the corpus-scale explode runs ONCE
      val uc = bc.groupBy(col("w1"))
        .agg(sum(col("cb")).as("cu"), count(lit(1)).as("n1f"))
      val cc = bc.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
      val tt = bc.agg(count(lit(1)).as("nbt"))
      // Fold the whole smoothing formula into the model (model-sized):
      // term order mirrors the oracle text exactly — same IEEE ops.
      val model = bc.join(uc, Seq("w1")).join(cc, Seq("w2"))
        .crossJoin(broadcast(tt))
        .select(col("w1"), col("w2"),
          log(greatest(col("cb") - lit(0.75), lit(0.0)) / col("cu")
            + lit(0.75) * col("n1f") / col("cu")
              * (col("n1b") / col("nbt"))).as("logp"))
        .localCheckpoint()
      big2.join(model, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_bigrams"),
          round(avg(col("logp")), 4).as("avg_logp_kn"))
    },

    // C108: LANGUAGE-ID CONFUSION MATRIX — the classifier-eval
    // completion for C9 (text_langid emits per-doc predictions; an
    // eval needs the labeled confusion matrix + per-class
    // precision/recall): cells = exact counts over (lang,
    // lang_pred), per-cell row_tot (support) and col_tot (predicted
    // mass) margins, precision = cell/col_tot and recall =
    // cell/row_tot on DIAGONAL cells (each ONE exact division, 6dp
    // floor; off-diagonal rows carry the margins so the full matrix
    // is pinned, not just the diagonal). ONE map-only prediction
    // pass + a ≤ |langs|² count; margins on the model-sized matrix.
    // C144: COHEN'S KAPPA for the language-ID screen (Cohen 1960) —
    // the chance-corrected agreement C108's confusion matrix must be
    // READ with (raw accuracy flatters any classifier on a skewed
    // lang mix; κ subtracts the agreement a margin-matched random
    // rater gets for free). Exact spelling off the SAME matrix:
    // κ = (N·D − P)/(N² − P) with D = Σ diagonal, P = Σ_c row_c·col_c
    // — all BIGINT/DECIMAL(38,0)/HUGEINT products, ONE division, 6dp
    // floor; po/pe emitted alongside (each one division). Scale
    // shape: the C108 map-only prediction pass + a ≤|langs|² count;
    // everything after model-sized.
    Q("langid_kappa", {
      val predSql = s"""CASE WHEN regexp_matches(text,
        | '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
        | WHEN ${hitsSql(TF.EnStop)} = 0 AND ${hitsSql(TF.EsStop)} = 0
        |   AND ${hitsSql(TF.DeStop)} = 0 AND ${hitsSql(TF.FrStop)} = 0
        |   THEN 'und'
        | WHEN ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.EsStop)}
        |   AND ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.DeStop)}
        |   AND ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.FrStop)} THEN 'en'
        | WHEN ${hitsSql(TF.EsStop)} >= ${hitsSql(TF.DeStop)}
        |   AND ${hitsSql(TF.EsStop)} >= ${hitsSql(TF.FrStop)} THEN 'es'
        | WHEN ${hitsSql(TF.DeStop)} >= ${hitsSql(TF.FrStop)} THEN 'de'
        | ELSE 'fr' END""".stripMargin.replace("\n", "")
      s"""WITH p AS (SELECT lang, $predSql AS lang_pred FROM documents),
        |cells AS (SELECT lang, lang_pred,
        |            CAST(count(*) AS BIGINT) AS n
        |          FROM p GROUP BY lang, lang_pred),
        |rt AS (SELECT lang AS c, CAST(sum(n) AS BIGINT) AS row_tot
        |       FROM cells GROUP BY lang),
        |ct AS (SELECT lang_pred AS c, CAST(sum(n) AS BIGINT) AS col_tot
        |       FROM cells GROUP BY lang_pred),
        |s AS (
        |  SELECT (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS n_docs,
        |    (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM cells
        |     WHERE lang = lang_pred) AS d,
        |    (SELECT CAST(coalesce(sum(CAST(rt.row_tot AS HUGEINT)
        |       * ct.col_tot), 0) AS HUGEINT)
        |     FROM rt JOIN ct USING (c)) AS p)
        |SELECT n_docs, d AS n_agree,
        |  floor(CAST(d AS DOUBLE) / n_docs * 1000000 + 0.5) / 1000000
        |    AS po,
        |  floor(CAST(p AS DOUBLE) / (CAST(n_docs AS HUGEINT) * n_docs)
        |    * 1000000 + 0.5) / 1000000 AS pe,
        |  CASE WHEN CAST(n_docs AS HUGEINT) * n_docs - p > 0 THEN
        |    floor(CAST(CAST(n_docs AS HUGEINT) * d - p AS DOUBLE)
        |      / CAST(CAST(n_docs AS HUGEINT) * n_docs - p AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS kappa
        |FROM s""".stripMargin
    }) { (s, dir) =>
      val cells = table(s, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // margins, diagonal, and the total read it
      val rt = cells.groupBy(col("lang").as("c"))
        .agg(sum(col("n")).as("row_tot"))
      val ct = cells.groupBy(col("lang_pred").as("c"))
        .agg(sum(col("n")).as("col_tot"))
      val tot = cells.agg(sum(col("n")).as("n_docs"))
      val diag = cells.filter(col("lang") === col("lang_pred"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("d"))
      val pexp = rt.join(ct, Seq("c"))
        .agg(coalesce(sum(col("row_tot").cast("decimal(38,0)")
          * col("col_tot")), lit(0).cast("decimal(38,0)")).as("p"))
      val n2 = col("n_docs").cast("decimal(38,0)") * col("n_docs")
      broadcast(tot).crossJoin(broadcast(diag)).crossJoin(broadcast(pexp))
        .select(col("n_docs"), col("d").as("n_agree"),
          (floor(col("d").cast("double") / col("n_docs") * 1000000
            + lit(0.5)) / 1000000).as("po"),
          (floor(col("p").cast("double") / n2.cast("double") * 1000000
            + lit(0.5)) / 1000000).as("pe"),
          when(n2 - col("p") > 0,
            floor((col("n_docs").cast("decimal(38,0)") * col("d")
                - col("p")).cast("double")
              / (n2 - col("p")).cast("double")
              * 1000000 + lit(0.5)) / 1000000).as("kappa"))
    },

    Q("langid_confusion", {
      val predSql = s"""CASE WHEN regexp_matches(text,
        | '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
        | WHEN ${hitsSql(TF.EnStop)} = 0 AND ${hitsSql(TF.EsStop)} = 0
        |   AND ${hitsSql(TF.DeStop)} = 0 AND ${hitsSql(TF.FrStop)} = 0
        |   THEN 'und'
        | WHEN ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.EsStop)}
        |   AND ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.DeStop)}
        |   AND ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.FrStop)} THEN 'en'
        | WHEN ${hitsSql(TF.EsStop)} >= ${hitsSql(TF.DeStop)}
        |   AND ${hitsSql(TF.EsStop)} >= ${hitsSql(TF.FrStop)} THEN 'es'
        | WHEN ${hitsSql(TF.DeStop)} >= ${hitsSql(TF.FrStop)} THEN 'de'
        | ELSE 'fr' END""".stripMargin.replace("\n", "")
      s"""WITH p AS (SELECT lang, $predSql AS lang_pred FROM documents),
        |cells AS (SELECT lang, lang_pred,
        |            CAST(count(*) AS BIGINT) AS n
        |          FROM p GROUP BY lang, lang_pred),
        |rt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_tot
        |       FROM cells GROUP BY lang),
        |ct AS (SELECT lang_pred, CAST(sum(n) AS BIGINT) AS col_tot
        |       FROM cells GROUP BY lang_pred)
        |SELECT c.lang, c.lang_pred, c.n, rt.row_tot, ct.col_tot,
        |  CASE WHEN c.lang = c.lang_pred THEN
        |    floor(CAST(c.n AS DOUBLE) / ct.col_tot * 1000000 + 0.5)
        |      / 1000000 END AS precision_d,
        |  CASE WHEN c.lang = c.lang_pred THEN
        |    floor(CAST(c.n AS DOUBLE) / rt.row_tot * 1000000 + 0.5)
        |      / 1000000 END AS recall_d
        |FROM cells c JOIN rt USING (lang) JOIN ct USING (lang_pred)"""
        .stripMargin
    }) { (s, dir) =>
      val cells = table(s, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // both margins + the cells read it
      val rt = cells.groupBy(col("lang")).agg(sum(col("n")).as("row_tot"))
      val ct = cells.groupBy(col("lang_pred"))
        .agg(sum(col("n")).as("col_tot"))
      cells.join(broadcast(rt), Seq("lang"))
        .join(broadcast(ct), Seq("lang_pred"))
        .select(col("lang"), col("lang_pred"), col("n"), col("row_tot"),
          col("col_tot"),
          when(col("lang") === col("lang_pred"),
            floor(col("n").cast("double") / col("col_tot")
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("precision_d"),
          when(col("lang") === col("lang_pred"),
            floor(col("n").cast("double") / col("row_tot")
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("recall_d"))
    },

    // C106: HELD-OUT LM PERPLEXITY — the honest LM-quality metric
    // (C24/C78 self-train and score the SAME corpus, fine for
    // quality FILTERING; model EVAL demands a train/test split and
    // an OOV story): train the add-one bigram LM on the even-doc_id
    // half, score the odd half, where an unseen bigram backs off
    // through the same add-one formula — (cb+1)/(cu+V) is well-
    // defined at cb = cu = 0 (→ 1/V), so scoring is total, no
    // silent inner-join drop. Per test doc: avg ln P (4dp, the C24
    // convention) and the OOV-bigram rate (exact ratio, 6dp floor) —
    // the number that says how much of the score IS backoff. Scale
    // shape = C24: one corpus explode, model-sized train rollups,
    // one LEFT scoring join.
    Q("text_lm_heldout",
      s"""WITH toks AS (
         |  SELECT doc_id, ${TF.wsTokensSql("text")} AS t FROM documents),
         |big AS (
         |  SELECT doc_id,
         |    t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
         |  FROM toks, unnest(range(1, len(t))) AS u(i)
         |  WHERE len(t) >= 2),
         |tr AS (SELECT * FROM big WHERE doc_id % 2 = 0),
         |te AS (SELECT * FROM big WHERE doc_id % 2 = 1),
         |bc AS (SELECT w1, w2, count(*) AS cb FROM tr GROUP BY w1, w2),
         |uc AS (SELECT w1, count(*) AS cu FROM tr GROUP BY w1),
         |v AS (SELECT count(DISTINCT w1) AS vocab FROM tr)
         |SELECT te.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(avg(ln((coalesce(bc.cb, 0) + 1.0)
         |    / (coalesce(uc.cu, 0) + v.vocab))), 4) AS avg_logp,
         |  CAST(count(*) FILTER (bc.cb IS NULL) AS BIGINT) AS oov_bigrams,
         |  floor(CAST(count(*) FILTER (bc.cb IS NULL) AS DOUBLE)
         |    / count(*) * 1000000 + 0.5) / 1000000 AS oov_rate
         |FROM te
         |LEFT JOIN bc USING (w1, w2)
         |LEFT JOIN uc USING (w1), v
         |GROUP BY te.doc_id""".stripMargin) { (s, dir) =>
      val toks = table(s, dir, "documents").select(
        col("doc_id"), TF.wsTokens(col("text")).as("t"))
      val big2 = toks.filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(graft.functions.VectorExpressions.tokenPairs(col("t")))
            .as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .localCheckpoint() // train rollups + test scoring read it
      val tr = big2.filter(col("doc_id") % 2 === 0)
      val te = big2.filter(col("doc_id") % 2 === 1)
      val bc = tr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        .localCheckpoint()
      val uc = bc.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
      val v = bc.agg(countDistinct(col("w1")).as("vocab"))
      te.join(bc, Seq("w1", "w2"), "left")
        .join(uc, Seq("w1"), "left")
        .crossJoin(broadcast(v))
        .select(col("doc_id"),
          log((coalesce(col("cb"), lit(0L)) + 1.0)
            / (coalesce(col("cu"), lit(0L)) + col("vocab"))).as("logp"),
          col("cb").isNull.cast("long").as("oov"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("logp")), 4).as("avg_logp"),
          sum(col("oov")).as("oov_bigrams"))
        .select(col("doc_id"), col("n_bigrams"), col("avg_logp"),
          col("oov_bigrams"),
          (floor(col("oov_bigrams").cast("double")
            / col("n_bigrams").cast("double") * lit(1000000) + lit(0.5))
            / lit(1000000)).as("oov_rate"))
    },

    // C105: TOKENIZER FERTILITY per language (the tokenizer-eval
    // metric multilingual LM reports actually publish — Rust et al.
    // 2021: subwords per word; a tokenizer is "bad at" a language
    // when fertility is high and chars-per-subword low): per lang
    // the corpus word total (whitespace tokens), subword total (the
    // C11 BPE-ish run convention), char total; fertility =
    // Σsubwords/Σwords and chars_per_subword = Σchars/Σsubwords —
    // each ONE pinned division of exact BIGINTs, 6dp floor form.
    //
    // Scale shape (the r9 ×1000 fix): fertility is a per-(lang, word)
    // statistic × occurrence counts, so the expensive subword regex
    // runs on the DISTINCT-WORD grain, not the corpus grain. The
    // subword classes ([a-z]+ | [0-9]+ | single other non-space) can
    // never span whitespace, so Σ_doc subwords(text) ≡
    // Σ_(lang,word) cnt · subwords(word) exactly — explode whitespace
    // tokens, map-side-combined count to the vocabulary grain (Heaps'
    // law: ~n^0.5 distinct words on a real corpus; CONSTANT on clone
    // corpora), regex once per distinct word. The doc-grain pass that
    // remains carries only length() and count() — no match-array
    // allocation. Was the heaviest non-dedup ×1000 row (33.2 s judge)
    // as a doc-grain regexp_extract_all scan.
    Q("tokenizer_fertility",
      s"""WITH m AS (
         |  SELECT lang,
         |    CAST(${TF.tokenCountSql("text")} AS BIGINT) AS words,
         |    CAST(len(regexp_extract_all(lower(text),
         |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS subwords,
         |    CAST(length(text) AS BIGINT) AS chars
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(words) AS BIGINT) AS words,
         |  CAST(sum(subwords) AS BIGINT) AS subwords,
         |  CAST(sum(chars) AS BIGINT) AS chars,
         |  floor(CAST(sum(subwords) AS DOUBLE) / CAST(sum(words) AS DOUBLE)
         |    * 1000000 + 0.5) / 1000000 AS fertility,
         |  floor(CAST(sum(chars) AS DOUBLE) / CAST(sum(subwords) AS DOUBLE)
         |    * 1000000 + 0.5) / 1000000 AS chars_per_subword
         |FROM m GROUP BY lang""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val docAgg = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("chars"))
      val wordAgg = docs
        .select(col("lang"), explode(TF.wsTokens(col("text"))).as("word"))
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).as("words"),
          sum(col("cnt") * TF.subwordCount(col("word")).cast("long"))
            .as("subwords"))
      docAgg.join(wordAgg, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("words"), col("subwords"),
          col("chars"),
          (floor(col("subwords").cast("double")
            / col("words").cast("double") * lit(1000000) + lit(0.5))
            / lit(1000000)).as("fertility"),
          (floor(col("chars").cast("double")
            / col("subwords").cast("double") * lit(1000000) + lit(0.5))
            / lit(1000000)).as("chars_per_subword"))
    },

    // C101: EXACT DISTRIBUTED AUC of the in-engine classifier (the
    // model-eval half of the trained-filter family: C86/C96 train,
    // C91 calibrates, this GRADES — ROC-AUC is the metric quality
    // filters are actually selected by). AUC = P(score⁺ > score⁻) +
    // ½P(=) — exactly the Mann-Whitney U statistic normalized by
    // n₁n₀ (AUC = U₁/(n₁n₀)), so the B114 machinery applies
    // verbatim: group the scored relation to the distinct-score
    // grain (scores are exact BIGINTs — the C86 contract), ONE
    // DistributedPrefixSum pass, doubled tie-averaged ranks as exact
    // integers, 2R₁ an exact BIGINT; AUC = (2R₁ − n₁(n₁+1)) /
    // (2n₁n₀) — ONE pinned double division, 6dp floor form. Never a
    // corpus rank window; ties handled exactly (no interpolation to
    // disagree on).
    Q("classifier_auc",
      s"""$rocchioCtes,
         |v AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt,
         |        CAST(sum(label) AS BIGINT) AS pos
         |      FROM scored GROUP BY score),
         |w AS (SELECT score, cnt, pos, sum(cnt) OVER (ORDER BY score)
         |        AS cum FROM v),
         |agg AS (
         |  SELECT CAST(sum(pos) AS BIGINT) AS n1,
         |    CAST(sum(cnt - pos) AS BIGINT) AS n0,
         |    CAST(sum(pos * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS r1x2
         |  FROM w)
         |SELECT n1, n0, r1x2,
         |  floor(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
         |    / CAST(2 * n1 * n0 AS DOUBLE) * 1000000 + 0.5) / 1000000
         |    AS auc
         |FROM agg""".stripMargin) { (s, dir) =>
      import graft.operators.DistributedPrefixSum
      val v = rocchioScored(s, dir)
        .groupBy(col("score"))
        .agg(count(lit(1)).as("cnt"), sum(col("label")).cast("long")
          .as("pos"))
        .withColumn("_g", lit("all"))
      val w = DistributedPrefixSum.running(v, "_g", Seq("score"), "cnt",
        "cum")
      w.agg(sum(col("pos")).as("n1"),
          sum(col("cnt") - col("pos")).as("n0"),
          sum(col("pos") * (lit(2) * (col("cum") - col("cnt"))
            + col("cnt") + 1)).as("r1x2"))
        .select(col("n1"), col("n0"), col("r1x2"),
          (floor((col("r1x2") - col("n1") * (col("n1") + 1)).cast("double")
            / (lit(2) * col("n1") * col("n0")).cast("double")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("auc"))
    },

    // C99: Gopher/MassiveText rule-based quality filter (Rae et al.
    // 2021, Table A1) — the canonical hand-rule suite production
    // pipelines run BEFORE model-based scoring (C40/C86 are the
    // learned stage; this is the cheap exact-arithmetic stage).
    // Rules kept from the paper, each spelled as an INTEGER
    // cross-multiplication so there is no ratio double to disagree
    // on: (1) word count in [50, 100000] (~half this corpus fails —
    // non-vacuous); (2) mean word length in [3, 10] via 3n ≤ Σlen ≤
    // 10n; (3) degenerate-token ratio ≤ 10% — the paper's
    // symbol-to-word rule re-targeted at this corpus's actual
    // degeneracy, single-character tokens ('#'/'…' never occur here;
    // 1-char floods do, 8/500 docs at sf0.01); (4) ≥ 80% of words
    // contain an alphabetic character (5·alpha ≥ 4n — passes
    // everywhere on this all-alpha corpus, kept because the COUNT
    // column still oracle-checks the scan); (5) ≥ 2 stop-word hits
    // (the paper's "stop word" rule, ~22% fail). keep = all five.
    // Scale shape: ONE map-only pass over documents — every count a
    // per-row fused token scan, no join, no shuffle beyond the scan.
    Q("gopher_rules",
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(${TF.tokenCountSql("text")} AS BIGINT) AS n_words,
         |    CAST(length(${TF.normalizeTextSql("text")}) - (${TF.tokenCountSql("text")} - 1) AS BIGINT)
         |      AS sum_word_len,
         |    CAST(len(list_filter(${TF.wsTokensSql("text")}, t -> strlen(t) = 1)) AS BIGINT)
         |      AS n_one_char,
         |    CAST(len(list_filter(${TF.wsTokensSql("text")}, t -> regexp_matches(t, '[a-z]')))
         |      AS BIGINT) AS n_alpha_words,
         |    CAST(${hitsSql(TF.EnStop)} AS BIGINT) AS n_stop_hits
         |  FROM documents)
         |SELECT doc_id, n_words, sum_word_len, n_one_char, n_alpha_words,
         |  n_stop_hits,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
         |    AS INT) AS r_word_count,
         |  CAST(CASE WHEN 3 * n_words <= sum_word_len
         |             AND sum_word_len <= 10 * n_words THEN 1 ELSE 0 END
         |    AS INT) AS r_mean_word_len,
         |  CAST(CASE WHEN 10 * n_one_char <= n_words THEN 1 ELSE 0 END
         |    AS INT) AS r_one_char,
         |  CAST(CASE WHEN 5 * n_alpha_words >= 4 * n_words THEN 1 ELSE 0 END
         |    AS INT) AS r_alpha,
         |  CAST(CASE WHEN n_stop_hits >= 2 THEN 1 ELSE 0 END AS INT)
         |    AS r_stopwords,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
         |             AND 3 * n_words <= sum_word_len
         |             AND sum_word_len <= 10 * n_words
         |             AND 10 * n_one_char <= n_words
         |             AND 5 * n_alpha_words >= 4 * n_words
         |             AND n_stop_hits >= 2 THEN 1 ELSE 0 END AS INT) AS keep
         |FROM m""".stripMargin) { (s, dir) =>
      val toks = TF.wsTokens(col("text"))
      val m = table(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_words"),
        graft.functions.VectorExpressions.tokenSetStats(toks, Nil)
          .getField("sum_len").cast("long").as("sum_word_len"),
        size(filter(toks, t => length(t) === 1)).cast("long")
          .as("n_one_char"),
        size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
          .as("n_alpha_words"),
        TF.stopwordHits(col("text"), TF.EnStop).cast("long")
          .as("n_stop_hits"))
      val rWc = col("n_words").between(50L, 100000L)
      val rMwl = (lit(3L) * col("n_words") <= col("sum_word_len")) &&
        (col("sum_word_len") <= lit(10L) * col("n_words"))
      val rOne = lit(10L) * col("n_one_char") <= col("n_words")
      val rAlpha = lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words")
      val rStop = col("n_stop_hits") >= 2L
      m.select(col("doc_id"), col("n_words"), col("sum_word_len"),
        col("n_one_char"), col("n_alpha_words"), col("n_stop_hits"),
        rWc.cast("int").as("r_word_count"),
        rMwl.cast("int").as("r_mean_word_len"),
        rOne.cast("int").as("r_one_char"),
        rAlpha.cast("int").as("r_alpha"),
        rStop.cast("int").as("r_stopwords"),
        (rWc && rMwl && rOne && rAlpha && rStop).cast("int").as("keep"))
    },

    // C127: GARBAGE/GIBBERISH SCORE — the OCR-noise and mojibake
    // screen (the "byte-level quality" cousin of C10's word-level
    // quality: C10 scores GOOD prose, this flags UNREADABLE text —
    // Bandy & Vincent 2021 document exactly these artifacts in
    // BookCorpus): per doc, the non-alphanumeric ratio and the
    // longest consonant run (real words top out ~6 — 'rhythms'; OCR
    // noise and key-mash run longer), banded into a flag at the
    // pinned (0.30, 8) cuts. All integer counts off two regex scans,
    // ONE division, 6dp floor. Map-only — no shuffle at all.
    Q("text_garbage_score",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
        |    AS BIGINT) AS non_alnum,
        |  CAST(coalesce(list_max(list_transform(
        |    regexp_extract_all(lower(text),
        |      '[bcdfghjklmnpqrstvwxz]+'), x -> length(x))), 0)
        |    AS BIGINT) AS max_cons_run,
        |  floor(CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
        |      AS DOUBLE) / greatest(length(text), 1)
        |    * 1000000 + 0.5) / 1000000 AS non_alnum_ratio,
        |  CAST(CASE WHEN
        |    CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
        |      AS DOUBLE) / greatest(length(text), 1) > 0.30
        |    OR coalesce(list_max(list_transform(
        |      regexp_extract_all(lower(text),
        |        '[bcdfghjklmnpqrstvwxz]+'), x -> length(x))), 0) >= 8
        |    THEN 1 ELSE 0 END AS INT) AS is_garbage
        |FROM documents""".stripMargin) { (s, dir) =>
      val lowered = lower(col("text"))
      val nonAl = size(regexp_extract_all(lowered, lit("[^a-z0-9 ]"), lit(0)))
        .cast("long")
      val consRun = coalesce(array_max(transform(
        regexp_extract_all(lowered, lit("[bcdfghjklmnpqrstvwxz]+"), lit(0)),
        x => length(x))), lit(0)).cast("long")
      val ratio = nonAl.cast("double") / greatest(length(col("text")), lit(1))
      table(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nonAl.as("non_alnum"), consRun.as("max_cons_run"),
        (floor(ratio * 1000000 + lit(0.5)) / 1000000).as("non_alnum_ratio"),
        when(ratio > 0.30 || consRun >= 8, lit(1)).otherwise(lit(0))
          .cast("int").as("is_garbage"))
    },

    // C128: SELF-BLEU bigram precision between CONSECUTIVE docs (Zhu
    // et al. 2018's Self-BLEU diversity metric, Papineni et al.
    // 2002's clipped modified precision as the core; BP is dropped —
    // no live exp in the determinism contract): for each (doc, doc+1)
    // pair, p₂ = Σ_g min(c_a(g), c_b(g)) / |bigrams_a| — high p₂
    // across the corpus = templated/self-repeating text. Exactness:
    // clipped counts are integer mins; ONE division each, 6dp. Scale
    // shape: pairing is an equi-join on doc_id+1 (NO window — a
    // corpus-order window would single-reduce the corpus); gram joins
    // are keyed (doc, gram) shuffles, linear in corpus tokens.
    Q("self_bleu_bigram",
      s"""WITH tk AS (
         |  SELECT doc_id, ${TF.wsTokensSql("text")}
         |    AS t
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i + 1])) AS g
         |  FROM tk WHERE len(t) >= 2),
         |bc AS (
         |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         |  FROM bg GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM (SELECT DISTINCT doc_id FROM bc) a
         |  JOIN (SELECT DISTINCT doc_id FROM bc) b
         |    ON b.doc_id = a.doc_id + 1),
         |clip AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(sum(a.c) AS BIGINT) AS n_a,
         |    CAST(sum(least(a.c, coalesce(b.c, 0))) AS BIGINT) AS clipped
         |  FROM pairs p
         |  JOIN bc a ON a.doc_id = p.doc_a
         |  LEFT JOIN bc b ON b.doc_id = p.doc_b AND b.g = a.g
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_a, clipped,
         |  floor(CAST(clipped AS DOUBLE) / n_a * 1000000 + 0.5) / 1000000
         |    AS p2
         |FROM clip""".stripMargin) { (s, dir) =>
      val tk = table(s, dir, "documents")
        .select(col("doc_id"),
          TF.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val bc = tk
        .select(col("doc_id"),
          explode(expr("""transform(sequence(1, size(t) - 1),
            i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"""))
            .as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds the pair relation and both join sides
      val docs = bc.select(col("doc_id")).distinct()
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val a = bc.select(col("doc_id").as("doc_a"), col("g"), col("c").as("ca"))
      val b = bc.select(col("doc_id").as("doc_b"), col("g"), col("c").as("cb"))
      pairs.join(a, Seq("doc_a"))
        .join(b, Seq("doc_b", "g"), "left")
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("ca")).as("n_a"),
          sum(least(col("ca"), coalesce(col("cb"), lit(0L)))).as("clipped"))
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("clipped"),
          (floor(col("clipped").cast("double") / col("n_a")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("p2"))
    },

    // C130: FEATURE HASHING — the hashing trick (Weinberger et al.
    // ICML 2009; Vowpal Wabbit's input layer): tokens → 16 signed
    // buckets through the engine's ONE deterministic hash family
    // (31-poly token hash + separator step + fmix64 —
    // PositionedNgramHashes at n=1, the C3/C61 machinery), bucket =
    // h & 15, sign = bit 4, feature = Σ±1 with multiplicity. The
    // unbiased-sign trick makes E[⟨φ(a),φ(b)⟩] = ⟨a,b⟩ — the
    // fixed-width embedding a 100 TB corpus can afford without a
    // vocabulary. Exactness: all-integer; the oracle replays poly31/
    // fmix64 in HUGEINT mod-2⁶⁴ arithmetic (the dedup_simhash
    // replay, signed-byte extraction included — exact on multi-byte
    // UTF-8 too). Scale shape: map-only codegen'd expression →
    // explode → ONE keyed (doc, bucket) count, map-side combined.
    Q("feature_hash_vectors", {
      val c1 = BigInt("18397679294719823053")
      val c2 = BigInt("14181476777654086739")
      s"""WITH toks AS (
         |  SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(${TF.wsTokensSql("text")})
         |      AS tok
         |    FROM documents) WHERE len(tok) > 0),
         |th AS (
         |  SELECT doc_id,
         |    (list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |      list_transform(range(octet_length(encode(tok))), i ->
         |        CAST(CASE WHEN CAST(('0x' || substring(hx, CAST(2 * i + 1 AS INT), 2)) AS INT) < 128
         |             THEN CAST(('0x' || substring(hx, CAST(2 * i + 1 AS INT), 2)) AS INT)
         |             ELSE 18446744073709551360 + CAST(('0x' || substring(hx, CAST(2 * i + 1 AS INT), 2)) AS INT)
         |        END AS HUGEINT))),
         |      (h, b) -> (h * 31 + b) % 18446744073709551616) * 31 + 32)
         |      % 18446744073709551616 AS t
         |  FROM (SELECT doc_id, tok, hex(encode(tok)) AS hx FROM toks)),
         |fm AS (
         |  SELECT doc_id, xor(d, d // 8589934592) AS h
         |  FROM (SELECT doc_id, ${DedupQueries.mulMod64("c", c2)} AS d
         |    FROM (SELECT doc_id, xor(b, b // 8589934592) AS c
         |      FROM (SELECT doc_id, ${DedupQueries.mulMod64("a", c1)} AS b
         |        FROM (SELECT doc_id, xor(t, t // 8589934592) AS a FROM th))))),
         |sb AS (
         |  SELECT doc_id, CAST(h % 16 AS INT) AS bucket,
         |    CASE WHEN (h // 16) % 2 = 1 THEN 1 ELSE -1 END AS sgn
         |  FROM fm)
         |SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS f,
         |  CAST(count(*) AS BIGINT) AS n_hits
         |FROM sb GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          filter(TF.wsTokens(col("text")),
            t => t =!= "").as("t"))
        .filter(size(col("t")) > 0)
      val hashed = toks.select(col("doc_id"),
        explode(graft.functions.VectorExpressions
          .positionedNgramHashes(col("t"), 1)).as("h"))
      hashed
        .select(col("doc_id"),
          col("h").bitwiseAND(lit(15L)).cast("int").as("bucket"),
          when(shiftrightunsigned(col("h"), 4).bitwiseAND(lit(1L)) === 1L,
            lit(1L)).otherwise(lit(-1L)).as("sgn"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(sum(col("sgn")).as("f"), count(lit(1)).as("n_hits"))
    },

    // C131: SENTENCE-GRAIN STATISTICS — the segmentation pass under
    // sentence-level dedup (Lee et al. ACL'22 run it before
    // ExactSubstr) and under every length-law filter that speaks
    // "sentences" (Gopher's mean-words-per-sentence bound, Rae et al.
    // 2021): docs split on [.!?]+ runs, per doc: sentence count,
    // token total, mean/max sentence length in whitespace tokens.
    // All-integer counts off one split, ONE division (mean), 6dp.
    // Empty/blank sentences (consecutive terminators, trailing
    // punctuation) are dropped on BOTH sides. Map-only, no shuffle.
    Q("text_sentence_stats",
      s"""WITH sent AS (
        |  SELECT doc_id, s FROM (
        |    SELECT doc_id, unnest(string_split_regex(
        |      ${TF.normalizeTextSql("text")},
        |      '[.!?]+')) AS s
        |    FROM documents)
        |  WHERE trim(s) <> ''),
        |st AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS toks
        |  FROM sent)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  floor(CAST(sum(toks) AS DOUBLE) / count(*) * 1000000 + 0.5)
        |    / 1000000 AS mean_sentence_len,
        |  CAST(max(toks) AS BIGINT) AS max_sentence_len
        |FROM st GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val sent = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(TF.normalizeText(col("text")), "[.!?]+")).as("s"))
        .filter(trim(col("s")) =!= "")
      sent
        .select(col("doc_id"),
          size(split(trim(col("s")), " ")).cast("long").as("toks"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sentences"), sum(col("toks")).as("n_tokens"),
          (floor(sum(col("toks")).cast("double") / count(lit(1))
            * lit(1000000) + lit(0.5)) / lit(1000000))
            .as("mean_sentence_len"),
          max(col("toks")).as("max_sentence_len"))
    },

    // C137: CODE-vs-PROSE DETECTION — the language-domain router
    // every mixed-corpus pipeline runs before tokenizer/quality
    // decisions (StarCoder's pipeline, Li et al. 2023, separates
    // code; code in a prose corpus poisons perplexity filters and
    // vice versa): per doc, symbol density ({};()=<>[] per char),
    // code-keyword hits (a PINNED 16-token set over the C10 token
    // grain), and indented-line ratio (RAW text lines starting with
    // 2+ spaces — normalization would erase exactly this signal);
    // flag = symbol ratio > 0.04 AND (keywords ≥ 2 OR indent ratio >
    // 0.2), cuts pinned. All-integer counts off regex/token scans,
    // two divisions, 6dp. Map-only.
    Q("text_code_detect", {
      val kw = Seq("def", "return", "import", "class", "void", "int",
        "function", "var", "const", "if", "else", "for", "while",
        "public", "static", "new")
      val kwList = kw.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[{}();=<>\\[\\]]'))
         |    AS BIGINT) AS n_symbols,
         |  CAST(len(list_filter(${TF.wsTokensSql("text")},
         |    t -> list_contains($kwList, t))) AS BIGINT) AS n_keywords,
         |  CAST(len(list_filter(string_split(text, chr(10)),
         |    l -> l LIKE '  %')) AS BIGINT) AS n_indented,
         |  CAST(greatest(len(string_split(text, chr(10))), 1) AS BIGINT)
         |    AS n_lines,
         |  floor(CAST(len(regexp_extract_all(text, '[{}();=<>\\[\\]]'))
         |      AS DOUBLE) / greatest(length(text), 1)
         |    * 1000000 + 0.5) / 1000000 AS symbol_ratio,
         |  CAST(CASE WHEN
         |    CAST(len(regexp_extract_all(text, '[{}();=<>\\[\\]]'))
         |      AS DOUBLE) / greatest(length(text), 1) > 0.04
         |    AND (len(list_filter(${TF.wsTokensSql("text")},
         |        t -> list_contains($kwList, t))) >= 2
         |      OR CAST(len(list_filter(string_split(text, chr(10)),
         |          l -> l LIKE '  %')) AS DOUBLE)
         |        / greatest(len(string_split(text, chr(10))), 1) > 0.2)
         |    THEN 1 ELSE 0 END AS INT) AS is_code
         |FROM documents""".stripMargin
    }) { (s, dir) =>
      val kw = Seq("def", "return", "import", "class", "void", "int",
        "function", "var", "const", "if", "else", "for", "while",
        "public", "static", "new")
      val kwArr = array(kw.map(lit): _*)
      val nSym = size(regexp_extract_all(col("text"),
        lit("[{}();=<>\\[\\]]"), lit(0))).cast("long")
      val nKw = size(filter(TF.wsTokens(col("text")), t => array_contains(kwArr, t))).cast("long")
      val lines = split(col("text"), "\n")
      val nInd = size(filter(lines, l => l.startsWith("  "))).cast("long")
      val nLines = greatest(size(lines), lit(1)).cast("long")
      val symRatio = nSym.cast("double") / greatest(length(col("text")),
        lit(1))
      val indRatio = nInd.cast("double") / nLines
      table(s, dir, "documents").select(col("doc_id"),
        nSym.as("n_symbols"), nKw.as("n_keywords"),
        nInd.as("n_indented"), nLines.as("n_lines"),
        (floor(symRatio * 1000000 + lit(0.5)) / 1000000).as("symbol_ratio"),
        when(symRatio > 0.04 && (nKw >= 2 || indRatio > 0.2), lit(1))
          .otherwise(lit(0)).cast("int").as("is_code"))
    })

  /** Winnowing selection (C53): word-trigram rolling hashes, w=4
    * window minima with leftmost tie-break, deduped — ONE fused
    * kernel pass (`WinnowFingerprints`: token hashes computed once,
    * grams combined algebraically, no gram strings built) plus the
    * distinct exchange.
    */
  /** The C86 Rocchio scored relation (doc_id, label, score, pred) as
    * a DuckDB CTE chain ending in `scored` — shared by the C86 gate
    * and the C91 calibration table so both oracles state ONE model.
    */
  private lazy val rocchioCtes: String =
    s"""WITH t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
       |i AS (
       |  SELECT doc_id, unnest(list_transform(toks, tok ->
       |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |      list_transform(
       |        list_filter(string_split_regex(tok, ''), c -> c <> ''),
       |        c -> CAST(ord(c) AS HUGEINT))),
       |      (h, b) -> (h * 31 + b) % 18446744073709551616))) AS h
       |  FROM t),
       |fi AS (
       |  SELECT doc_id, CAST(h % 16 AS INT) AS dim,
       |    CAST(sum(CASE WHEN (h // 16) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT)
       |      AS f_int
       |  FROM i GROUP BY doc_id, dim),
       |nrm AS (SELECT doc_id, sqrt(CAST(sum(f_int * f_int) AS DOUBLE)) AS norm
       |        FROM fi GROUP BY doc_id),
       |x AS (
       |  SELECT fi.doc_id, dim,
       |    CASE WHEN norm = 0 THEN 0
       |         ELSE CAST(floor(f_int / norm * 1000000 + 0.5) AS BIGINT) END AS x
       |  FROM fi JOIN nrm USING (doc_id)),
       |lab AS (
       |  SELECT doc_id, CASE WHEN zs >= 0 THEN 1 ELSE 0 END AS y FROM (
       |    SELECT doc_id,
       |      CAST(sum(CASE WHEN dim % 2 = 1 THEN x ELSE -x END) AS BIGINT) AS zs
       |    FROM x GROUP BY doc_id)),
       |cnt AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
       |               CAST(count(*) - sum(y) AS BIGINT) AS n0 FROM lab),
       |s AS (
       |  SELECT dim,
       |    CAST(sum(CASE WHEN y = 1 THEN x ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(CASE WHEN y = 0 THEN x ELSE 0 END) AS BIGINT) AS s0
       |  FROM x JOIN lab USING (doc_id) GROUP BY dim),
       |mu AS (
       |  SELECT dim,
       |    (s1 - ((s1 % n1 + n1) % n1)) // n1 AS mu1,
       |    (s0 - ((s0 % n0 + n0) % n0)) // n0 AS mu0
       |  FROM s, cnt),
       |bias AS (
       |  SELECT -((sw - ((sw % 2 + 2) % 2)) // 2) AS b FROM (
       |    SELECT CAST(sum((mu1 - mu0) * (mu1 + mu0)) AS BIGINT) AS sw FROM mu)),
       |sc AS (
       |  SELECT doc_id, CAST(sum(x * (mu1 - mu0)) AS BIGINT) AS wx
       |  FROM x JOIN mu USING (dim) GROUP BY doc_id),
       |scored AS (
       |  SELECT sc.doc_id, CAST(y AS INT) AS label, wx + b AS score,
       |    CAST(CASE WHEN wx + b >= 0 THEN 1 ELSE 0 END AS INT) AS pred
       |  FROM sc JOIN lab USING (doc_id), bias)""".stripMargin

  /** The C86 Rocchio pipeline (see the C86 comment for the training
    * shape): one tokenize→hash corpus pass, a 16-row model collect,
    * a broadcast scoring join → (doc_id, label, score, pred).
    */
  /** C162's AP arithmetic over any (label, score) relation — split
    * out so the spec can feed a hand-solved ranking (the planted
    * test the rocchio chain would otherwise bury).
    */
  private[graft] def apFromScored(
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.operators.DistributedPrefixSum
    val sg = scored
      .groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("label")).as("tp"))
      .withColumn("nscore", -col("score"))
      .localCheckpoint() // feeds totals + two prefix passes
    val ct = DistributedPrefixSum.running(
      sg.withColumn("_g", lit("all")), "_g", Seq("nscore"), "tp", "ct")
    val cum = DistributedPrefixSum.running(
      ct.withColumn("fp", col("cnt") - col("tp")),
      "_g", Seq("nscore"), "fp", "cfp")
    val tot = sg.agg(sum(col("tp")).as("p"),
      sum(col("cnt") - col("tp")).as("ng"), count(lit(1)).as("nthr"))
    val ap = cum.agg(
      sum(expr("""cast(tp as decimal(38,0)) * ct * 1000000000000
                 |  div (ct + cfp)""".stripMargin)).cast("decimal(38,0)")
        .as("s"))
    broadcast(tot).crossJoin(broadcast(ap))
      .select(col("p").as("n_pos"), col("ng").as("n_neg"),
        col("nthr").as("n_thresholds"),
        when(col("p") > 0, expr("cast(s div (p * 1000000) as bigint)"))
          .otherwise(0L).as("ap_micro"))
  }

  /** C163's Brier + Murphy decomposition over any (source, label,
    * odd) split relation — split out for the hand-solved plant.
    */
  private[graft] def brierFromSplit(
      sdIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sd = sdIn.localCheckpoint() // train and eval splits both read it
    val tr = sd.filter(col("odd") === 0)
      .groupBy(col("source"))
      .agg(expr("(sum(label) * 1000000) div count(*)").as("f6"))
    val ev = sd.filter(col("odd") === 1)
      .join(broadcast(tr), Seq("source"))
    val b = ev.groupBy(col("source"), col("f6"))
      .agg(count(lit(1)).as("nb"), sum(col("label")).as("pb"),
        sum(expr("""cast(f6 - label * 1000000 as decimal(38,0))
                   |  * (f6 - label * 1000000)""".stripMargin)).as("se"))
      .localCheckpoint() // the model relation, read 3x
    val t = b.agg(sum(col("nb")).as("n"), sum(col("pb")).as("pos"),
      sum(col("se")).cast("decimal(38,0)").as("se_tot"),
      sum(expr("""cast(nb as decimal(38,0))
                 |  * (f6 - (pb * 1000000) div nb)
                 |  * (f6 - (pb * 1000000) div nb)""".stripMargin))
        .cast("decimal(38,0)").as("rel_n"))
    val res = b.crossJoin(broadcast(t.select(col("n").as("tn"),
        col("pos").as("tpos"))))
      .agg(sum(expr("""cast(nb as decimal(38,0))
                     |  * ((pb * 1000000) div nb - (tpos * 1000000) div tn)
                     |  * ((pb * 1000000) div nb - (tpos * 1000000) div tn)"""
        .stripMargin)).cast("decimal(38,0)").as("res_n"))
    broadcast(t).crossJoin(broadcast(res))
      .select(col("n").as("n_eval"), col("pos").as("n_pos"),
        (floor(col("se_tot").cast("double") / col("n").cast("double")
          / lit(1000000000000.0) * 1000000 + lit(0.5)) / 1000000)
          .as("brier"),
        (floor(col("rel_n").cast("double") / col("n").cast("double")
          / lit(1000000000000.0) * 1000000 + lit(0.5)) / 1000000)
          .as("reliability"),
        (floor(col("res_n").cast("double") / col("n").cast("double")
          / lit(1000000000000.0) * 1000000 + lit(0.5)) / 1000000)
          .as("resolution"),
        (floor(expr("cast((pos * 1000000) div n as double)")
          * expr("cast(1000000 - (pos * 1000000) div n as double)")
          / lit(1000000000000.0) * 1000000 + lit(0.5)) / 1000000)
          .as("uncertainty"))
  }

  private def rocchioScored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val inst = table(s, dir, "documents").select(col("doc_id"),
      explode(transform(TF.wsTokens(col("text")),
        t => Fingerprint64.fingerprint64(t))).as("h"))
    val fi = inst
      .groupBy(col("doc_id"),
        col("h").bitwiseAND(lit(15L)).cast("int").as("dim"))
      .agg(sum(when(shiftright(col("h"), 4).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as("f_int"))
    val nrm = fi.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("f_int") * col("f_int")).cast("double")).as("norm"))
    val x = fi.join(nrm, Seq("doc_id"))
      .select(col("doc_id"), col("dim"),
        when(col("norm") === 0, 0L)
          .otherwise(floor(col("f_int") / col("norm") * lit(1000000)
            + lit(0.5)).cast("long")).as("x"))
      .localCheckpoint()
    // planted labels: y = 1(w*·x ≥ 0), w* = ±1 by dim parity
    val lab = x.groupBy(col("doc_id"))
      .agg(sum(when(col("dim") % 2 === 1, col("x")).otherwise(-col("x")))
        .as("zs"))
      .select(col("doc_id"), (col("zs") >= 0).cast("long").as("y"))
    // training: per-dim class sums, model-sized collect (16 rows)
    val stats = x.join(lab, Seq("doc_id"))
      .groupBy(col("dim"))
      .agg(sum(when(col("y") === 1, col("x")).otherwise(0L)).as("s1"),
        sum(when(col("y") === 0, col("x")).otherwise(0L)).as("s0"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val Seq(n1, n0) = lab.agg(sum(col("y")).as("n1"),
        (count(lit(1)) - sum(col("y"))).as("n0"))
      .collect().headOption.map(r => Seq(r.getLong(0), r.getLong(1))).get
    val mu = stats.map { case (j, (s1v, s0v)) =>
      j -> (Math.floorDiv(s1v, n1), Math.floorDiv(s0v, n0)) }
    val bias = -Math.floorDiv(
      mu.valuesIterator.map { case (m1, m0) => (m1 - m0) * (m1 + m0) }.sum, 2L)
    val wDf = broadcast(
      mu.toSeq.map { case (j, (m1, m0)) => (j, m1 - m0) }
        .sortBy(_._1).toDF("dim", "w"))
    x.join(wDf, Seq("dim"))
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("w")).as("wx"))
      .join(lab, Seq("doc_id"))
      .select(col("doc_id"), col("y").cast("int").as("label"),
        (col("wx") + lit(bias)).as("score"),
        (col("wx") + lit(bias) >= 0).cast("int").as("pred"))
  }

  private def winnowFps(s: org.apache.spark.sql.SparkSession, dir: String) =
    table(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions.winnowFingerprints(
          split(col("text"), " "), 3, 4)).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"), col("f.h").as("fp64"))
      .distinct()

  /** DuckDB replay of [[winnowFps]] — CTE chain ending in `sel`
    * (doc_id, pos, fp64; duplicates across overlapping windows NOT
    * yet removed — consumers DISTINCT what they need).
    */
  private lazy val winnowCtes: String = {
    val sl = "hs[CAST(j + 1 AS INT):CAST(j + 4 AS INT)]"
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, list_transform(range(0, greatest(len(toks) - 2, 0)),
       |    i -> concat(toks[CAST(i + 1 AS INT)], ' ',
       |                toks[CAST(i + 2 AS INT)], ' ',
       |                toks[CAST(i + 3 AS INT)])) AS grams
       |  FROM t),
       |h AS (
       |  SELECT doc_id, list_transform(grams, s ->
       |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |      list_transform(list_filter(string_split_regex(s, ''), c -> c <> ''),
       |        c -> CAST(ord(c) AS HUGEINT))),
       |      (a, b) -> (a * 31 + b) % 18446744073709551616)) AS hu
       |  FROM g WHERE len(grams) > 0),
       |hsx AS (
       |  SELECT doc_id, list_transform(hu, x ->
       |    CAST(CASE WHEN x >= 9223372036854775808
       |         THEN x - 18446744073709551616 ELSE x END AS BIGINT)) AS hs
       |  FROM h),
       |sel AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(0, greatest(len(hs) - 4, 0) + 1),
       |    j -> struct_pack(
       |      pos := CAST(j + list_position($sl, list_min($sl)) - 1 AS BIGINT),
       |      fp64 := list_min($sl))), recursive := true)
       |  FROM hsx)""".stripMargin
  }

  private def bpeInput(s: org.apache.spark.sql.SparkSession, dir: String) =
    table(s, dir, "documents")
      .select(col("doc_id"), TF.wsTokens(col("text")).as("toks"))

  private def bpePairsCte(t: String, p: String) =
    s"""$p AS (
       |  SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i + 1 AS INT)] AS w2,
       |    count(*) AS n
       |  FROM $t, unnest(range(1, len(toks))) AS u(i)
       |  GROUP BY 1, 2)""".stripMargin

  private def bpeTopCte(p: String, m: String) =
    s"$m AS (SELECT w1, w2, CAST(n AS BIGINT) AS n FROM $p ORDER BY n DESC, w1, w2 LIMIT 1)"

  // NB: no continuation line may START with "||" — these fragments are
  // interpolated into an outer stripMargin, which would eat the first
  // pipe. The coalesce falls back to the unmerged encoding when the
  // merge CTE is empty (training exhausted early → scalar subqueries
  // are NULL → replace is NULL), matching BpeMerge.train's early stop.
  private def bpeMergeCte(t: String, m: String, t2: String) =
    s"""$t2 AS (
       |  SELECT doc_id,
       |    string_split(substr(enc, 2, length(enc) - 2), chr(2) || chr(1)) AS toks
       |  FROM (
       |    SELECT doc_id, coalesce(replace(
       |        chr(1) || array_to_string(toks, chr(2) || chr(1)) || chr(2),
       |        chr(1) || (SELECT w1 FROM $m) || chr(2) ||
       |          chr(1) || (SELECT w2 FROM $m) || chr(2),
       |        chr(1) || (SELECT w1 FROM $m) || ' ' ||
       |          (SELECT w2 FROM $m) || chr(2)),
       |      chr(1) || array_to_string(toks, chr(2) || chr(1)) || chr(2)) AS enc
       |    FROM $t))""".stripMargin

  /** Shared replay of three BPE training rounds (t0 → m1..m3, t1/t2). */
  private lazy val bpeCtes: String =
    s"""WITH t0 AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
       |${bpePairsCte("t0", "p1")},
       |${bpeTopCte("p1", "m1")},
       |${bpeMergeCte("t0", "m1", "t1")},
       |${bpePairsCte("t1", "p2")},
       |${bpeTopCte("p2", "m2")},
       |${bpeMergeCte("t1", "m2", "t2")},
       |${bpePairsCte("t2", "p3")},
       |${bpeTopCte("p3", "m3")}""".stripMargin
}
