package graft.queries

import graft.GraftSession.table
import graft.functions.{TextFunctions => TF}
import graft.operators.{ConnectedComponents, MinHashLSH}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus preparation queries (SURVEY.md §2 C13-C16): the
  * operations between "raw documents" and "training batches" —
  * scrubbing, filtering, dedup materialization, sequence packing,
  * split assignment — and the corpus-level statistics over the same
  * TextFunctions whitespace tokens: drift and divergence, Heaps/Zipf
  * laws, n-gram diversity and novelty, filter agreement, source
  * concentration. Each is a single declarative plan; the shuffles
  * are one keyed exchange each.
  */
object CorpusQueries {

  /** Transitive near-dup clusters (id, cluster_id) via connected
    * components on the COLLAPSED quotient graph: CC iterates over
    * representative-level edges (clone groups contribute one node,
    * not c²/2 within-pairs), then members re-attach in one
    * output-sized join. A doc appears iff it belongs to some expanded
    * pair: its rep has a cross edge, or its clone group has ≥ 2
    * members (within-pairs at jaccard 1). cluster_id = min id of the
    * expanded component — each rep IS its group's min id, so the
    * quotient CC's min-rep label already equals it.
    * Shared by dedup_clusters and dedup_keep_best.
    */
  private def collapsedClusters(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val (repPairs, groups) = MinHashLSH
      .nearDupGraph(table(s, dir, "documents"), "doc_id", "text", 0.8)
    ConnectedComponents.clustersFromQuotient(
      repPairs.select(col("id_a"), col("id_b")), groups)
  }

  // word-trigram near-dup pairs (same definition as dedup_minhash_pairs)
  private val pairsCte =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(toks) - 1),
      |    i -> concat(toks[CAST(i AS INT)], ' ',
      |                toks[CAST(i + 1 AS INT)], ' ',
      |                toks[CAST(i + 2 AS INT)]))) AS grams
      |  FROM t WHERE len(toks) >= 3),
      |drops AS (
      |  SELECT DISTINCT b.doc_id AS doc_id
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8)""".stripMargin

  val all: Seq[Q] = Seq(

    // C13: PII/noise scrubbing — emails, URLs, long digit runs.
    Q("text_scrub",
      """SELECT doc_id,
        |  length(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g')) AS scrubbed_len,
        |  length(text) AS orig_len
        |FROM documents""".stripMargin) { (s, dir) =>
      val scrubbed = regexp_replace(regexp_replace(regexp_replace(col("text"),
        "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
        "https?://[^ ]+", "<URL>"),
        "[0-9]{4,}", "<NUM>")
      table(s, dir, "documents").select(
        col("doc_id"),
        length(scrubbed).as("scrubbed_len"),
        length(col("text")).as("orig_len"))
    },

    // C14: quality/language filter pass — the keep/drop decision a
    // corpus builder runs before training.
    Q("corpus_filter",
      s"""SELECT lang, source,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_chars >= 200 AND ${TF.tokenCountSql("text")} >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents GROUP BY lang, source""".stripMargin) { (s, dir) =>
      table(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_chars") >= 200 && TF.tokenCount(col("text")) >= 30, 1)
            .otherwise(0)).as("n_kept"))
    },

    // C15: dedup materialization — drop every doc that near-dups a
    // lower-id doc (MinHash-LSH pairs → anti join), count survivors.
    Q("corpus_dedup_keep_first",
      s"""WITH $pairsCte
         |SELECT source, count(*) AS n_docs_kept
         |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         |GROUP BY source""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      // Drop set from the COLLAPSED graph (see collapsedClusters): a
      // doc drops iff some lower-id doc near-dups it, which in
      // quotient terms is (a) any non-representative clone-group
      // member (its rep is the group min), or (b) a representative
      // with a lower cross-edge neighbor. Linear in docs — the
      // re-expanded pair set would spell c²/2 rows per c-clone group
      // just to learn "c − 1 docs drop". Materialized ONCE via
      // localCheckpoint, then broadcast: the anti-join is a map-side
      // hash probe over one corpus scan.
      val (repPairs, groups) = MinHashLSH.nearDupGraph(docs, "doc_id", "text", 0.8)
      val nonReps = groups.filter(col("member_id") =!= col("rep_id"))
        .select(col("member_id").as("doc_id"))
      val droppedReps = repPairs.select(col("id_b").as("doc_id")).distinct()
      val drops = nonReps.unionByName(droppedReps).distinct().localCheckpoint(true)
      docs.join(broadcast(drops), Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_kept"))
    },

    // C15b: transitive dedup clusters — near-dup pairs are not
    // transitive, so the canonical doc is the min id of the whole
    // connected component (hash-min label propagation vs a DuckDB
    // recursive-CTE transitive closure).
    // Round 7: CC runs on the COLLAPSED quotient graph
    // (MinHashLSH.nearDupGraph — representatives + clone groups), not
    // the re-expanded pair set, where a c-clone cluster contributes
    // c²/2 within-pairs (24.7M edges at the ×100 probe — the entire
    // cost of this query there). Exact by the quotient argument in
    // nearDupGraph's scaladoc; members re-attach in one output-sized
    // join. ×100: 100 s → ~5 s.
    Q("dedup_clusters",
      s"""WITH RECURSIVE $pairsCte,
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8),
         |edges AS (SELECT id_a AS s, id_b AS t FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(id, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
         |  UNION
         |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.t = r.id)
         |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin) { (s, dir) =>
      collapsedClusters(s, dir)
    },

    // C117: DEDUP CLUSTER PROFILE — the cluster-size histogram +
    // duplicate-mass summary a curation team reads before committing
    // a dedup policy (Lee et al. ACL'22 §4 report exactly this
    // distribution): per cluster size k, how many near-dup clusters
    // and docs; k = 1 is the un-clustered remainder; dup_docs =
    // Σ_{k≥2} (k−1)·n_clusters is the mass a keep-one policy would
    // drop, dup_pct its corpus share (ONE division, 6dp floor). All
    // counts exact integers off C15b's transitive clusters (the
    // collapsed quotient-graph CC — clone groups never expand to
    // c²/2 pairs). Scale shape: the C15b machinery + a cluster-grain
    // rollup + a size-grain (≤ max-cluster-size rows) rollup.
    Q("dedup_cluster_profile",
      s"""WITH RECURSIVE $pairsCte,
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8),
         |edges AS (SELECT id_a AS s, id_b AS t FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(id, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
         |  UNION
         |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.t = r.id),
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS k
         |  FROM cl GROUP BY cluster_id),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_clustered FROM cl),
         |hist AS (
         |  SELECT k AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |    CAST(k * count(*) AS BIGINT) AS n_docs
         |  FROM sizes GROUP BY k
         |  UNION ALL
         |  SELECT 1, n_corpus - n_clustered, n_corpus - n_clustered
         |  FROM nd, nc),
         |dup AS (
         |  SELECT CAST(sum(CASE WHEN cluster_size >= 2
         |      THEN n_docs - n_clusters ELSE 0 END) AS BIGINT) AS dup_docs
         |  FROM hist)
         |SELECT h.cluster_size, h.n_clusters, h.n_docs, nd.n_corpus,
         |  d.dup_docs,
         |  floor(CAST(d.dup_docs AS DOUBLE) / CAST(nd.n_corpus AS DOUBLE)
         |    * 1000000 + 0.5) / 1000000 AS dup_pct
         |FROM hist h, nd, dup d""".stripMargin) { (s, dir) =>
      val cl = collapsedClusters(s, dir)
        .localCheckpoint() // feeds the size rollup and the clustered count
      val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("k"))
      val nd = table(s, dir, "documents").agg(count(lit(1)).as("n_corpus"))
      val nc = cl.agg(count(lit(1)).as("n_clustered"))
      val hist = sizes.groupBy(col("k"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("k").as("cluster_size"), col("n_clusters"),
          (col("k") * col("n_clusters")).as("n_docs"))
        .unionByName(broadcast(nd).crossJoin(broadcast(nc))
          .select(lit(1L).as("cluster_size"),
            (col("n_corpus") - col("n_clustered")).as("n_clusters"),
            (col("n_corpus") - col("n_clustered")).as("n_docs")))
        .localCheckpoint() // feeds the dup-mass rollup and the output
      val dup = hist.agg(sum(when(col("cluster_size") >= 2,
        col("n_docs") - col("n_clusters")).otherwise(lit(0L))).as("dup_docs"))
      hist.crossJoin(broadcast(nd)).crossJoin(broadcast(dup))
        .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
          col("n_corpus"), col("dup_docs"),
          (floor(col("dup_docs").cast("double")
            / col("n_corpus").cast("double") * 1000000 + lit(0.5))
            / 1000000).as("dup_pct"))
    },

    // C119: T5-STYLE SPAN-CORRUPTION EXAMPLE CONSTRUCTION (Raffel et
    // al. JMLR 2020 §3.1.4) — the pretraining-example builder that
    // turns a document into (inputs-with-sentinels, targets): tokens
    // are marked for corruption by a DETERMINISTIC integer mask
    // ((doc_id·1000003 + i·101) mod 97 < 15 — ~15.5% noise density,
    // the paper's default; a shared pure-integer rule both engines
    // replay exactly, no RNG; the position stride 101 ≡ 4 (mod 97)
    // is deliberately SMALL so consecutive marks — and therefore
    // real multi-token spans — actually occur, the paper's mean span
    // length 3 regime), consecutive marked tokens merge into
    // one span, each span becomes <extra_id_K> in the inputs while
    // the targets carry <extra_id_K> followed by the span's tokens.
    // Pure integer/string arithmetic — nothing to round. Scale
    // shape: one posexplode (linear in corpus tokens), one
    // doc-partitioned lag/cumsum window (bounded by doc length — the
    // C16/C25 class), one keyed re-assembly groupBy.
    Q("span_corruption",
      s"""WITH t AS (
         |  SELECT doc_id, ${TF.wsTokensSql("text")} AS toks
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    toks[CAST(i AS INT)] AS w
         |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |f AS (
         |  SELECT doc_id, pos, w,
         |    CASE WHEN (doc_id * 1000003 + pos * 101) % 97 < 15
         |      THEN 1 ELSE 0 END AS flag
         |  FROM tok WHERE w <> ''),
         |st AS (
         |  SELECT doc_id, pos, w, flag,
         |    CASE WHEN flag = 1 AND
         |      coalesce(lag(flag) OVER (PARTITION BY doc_id ORDER BY pos), 0)
         |        = 0 THEN 1 ELSE 0 END AS start
         |  FROM f),
         |sp AS (
         |  SELECT doc_id, pos, w, flag, start,
         |    CAST(sum(start) OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS BIGINT) - 1 AS span_id
         |  FROM st),
         |pieces AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN flag = 0 THEN w
         |         WHEN start = 1 THEN '<extra_id_' || span_id || '>'
         |    END AS in_piece,
         |    CASE WHEN flag = 1 AND start = 1
         |           THEN '<extra_id_' || span_id || '> ' || w
         |         WHEN flag = 1 THEN w
         |    END AS tgt_piece
         |  FROM sp),
         |asm AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN tgt_piece IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_corrupted,
         |    CAST(sum(CASE WHEN in_piece LIKE '<extra_id_%' THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_spans,
         |    coalesce(string_agg(in_piece, ' ' ORDER BY pos)
         |      FILTER (in_piece IS NOT NULL), '') AS input_text,
         |    coalesce(string_agg(tgt_piece, ' ' ORDER BY pos)
         |      FILTER (tgt_piece IS NOT NULL), '') AS target_text
         |  FROM pieces GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_corrupted, n_spans,
         |  input_text, target_text
         |FROM asm""".stripMargin) { (s, dir) =>
      val tok = table(s, dir, "documents")
        .select(col("doc_id"), posexplode(TF.wsTokens(col("text")))
          .as(Seq("pos0", "w")))
        .filter(col("w") =!= "")
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("w"))
      val f = tok.withColumn("flag",
        when((col("doc_id") * 1000003 + col("pos") * 101) % 97 < 15,
          lit(1)).otherwise(lit(0)))
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val sp = f
        .withColumn("start", when(col("flag") === 1 &&
          coalesce(lag(col("flag"), 1).over(wd), lit(0)) === 0, lit(1))
          .otherwise(lit(0)))
        .withColumn("span_id",
          sum(col("start")).over(wd).cast("long") - 1)
      val pieces = sp.select(col("doc_id"), col("pos"),
        when(col("flag") === 0, col("w"))
          .when(col("start") === 1,
            concat(lit("<extra_id_"), col("span_id"), lit(">")))
          .as("in_piece"),
        when(col("flag") === 1 && col("start") === 1,
          concat(lit("<extra_id_"), col("span_id"), lit("> "), col("w")))
          .when(col("flag") === 1, col("w"))
          .as("tgt_piece"))
      pieces.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("tgt_piece").isNotNull, 1L).otherwise(0L))
            .as("n_corrupted"),
          sum(when(col("in_piece").startsWith("<extra_id_"), 1L)
            .otherwise(0L)).as("n_spans"),
          coalesce(array_join(transform(filter(
            sort_array(collect_list(struct(col("pos"), col("in_piece")
              .as("p")))), x => x.getField("p").isNotNull),
            x => x.getField("p")), " "), lit("")).as("input_text"),
          coalesce(array_join(transform(filter(
            sort_array(collect_list(struct(col("pos"), col("tgt_piece")
              .as("p")))), x => x.getField("p").isNotNull),
            x => x.getField("p")), " "), lit("")).as("target_text"))
    },

    // C55: dedup-cluster-aware dataset split — the leakage-safe split:
    // assignment hashes the near-dup CLUSTER label (C15b's transitive
    // components; singletons label as themselves), never the doc, so
    // no near-dup pair can straddle train/test (the contamination
    // C26 checks for is prevented by construction — crossing_edges is
    // structurally 0 and both engines emit their own count of it).
    // Plan: the quotient-graph cluster machinery + one keyed label
    // join + a 10-row rollup.
    Q("cluster_aware_split",
      s"""WITH RECURSIVE $pairsCte,
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8),
         |edges AS (SELECT id_a AS s, id_b AS t FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(id, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
         |  UNION
         |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.t = r.id),
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |lab AS (
         |  SELECT doc_id, coalesce(cluster_id, doc_id) AS lab
         |  FROM documents LEFT JOIN cl ON id = doc_id),
         |sp AS (SELECT doc_id, lab, lab % 10 AS split FROM lab),
         |cross_e AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM p
         |  JOIN sp a ON a.doc_id = p.id_a JOIN sp b ON b.doc_id = p.id_b
         |  WHERE a.split <> b.split)
         |SELECT CAST(split AS BIGINT) AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT lab) AS BIGINT) AS n_clusters,
         |  CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
         |  (SELECT n FROM cross_e) AS crossing_edges
         |FROM sp GROUP BY split""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents").select(col("doc_id"))
      val (repPairs, groups) = MinHashLSH
        .nearDupGraph(table(s, dir, "documents"), "doc_id", "text", 0.8)
      val cl = ConnectedComponents.clustersFromQuotient(
        repPairs.select(col("id_a"), col("id_b")), groups)
        .localCheckpoint()
      val lab = docs.join(cl, docs("doc_id") === cl("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("lab"))
      val sp = lab.withColumn("split", pmod(col("lab"), lit(10L)))
        .localCheckpoint() // feeds the rollup AND the crossing check
      // crossing check on the quotient graph: every rep-level edge and
      // every (rep, member) attachment must keep both endpoints in one
      // split — together they span every expanded near-dup pair
      val qEdges = repPairs.select(col("id_a"), col("id_b"))
        .unionByName(groups.select(col("rep_id").as("id_a"),
          col("member_id").as("id_b")))
      val crossing = qEdges
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), Seq("id_a"))
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), Seq("id_b"))
        .filter(col("sa") =!= col("sb"))
        .agg(count(lit(1)).as("crossing_edges"))
      sp.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lab")).as("n_clusters"),
          sum(col("doc_id")).as("doc_id_sum"))
        .crossJoin(broadcast(crossing))
    },

    // C56: INTRA-document segment dedup — remove repeated 10-token
    // segments WITHIN each doc, keeping first occurrences (the
    // self-repetition/boilerplate rewrite that complements C45's
    // corpus-wide line dedup and C27's repetition SCORES). Entirely
    // map-only: the keep-first selection is an indexed array filter
    // inside one codegen pass — zero shuffle at any corpus size, the
    // cheapest possible rewrite plan.
    Q("intra_doc_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |l AS (
        |  SELECT doc_id, list_transform(
        |    range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
        |    i -> array_to_string(
        |      toks[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], ' '))
        |    AS segs
        |  FROM t),
        |k AS (
        |  SELECT doc_id, segs,
        |    list_filter(segs, (x, i) -> list_position(segs, x) = i) AS kept
        |  FROM l)
        |SELECT doc_id,
        |  CAST(len(segs) AS BIGINT) AS n_segments,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  array_to_string(kept, ' ') AS kept_text
        |FROM k""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val nSeg = ceil(size(toks).cast("double") / lit(10.0)).cast("int")
      val segs = transform(sequence(lit(0), nSeg - 1),
        i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10))))
      table(s, dir, "documents")
        .select(col("doc_id"), segs.as("segs"))
        .select(col("doc_id"),
          size(col("segs")).cast("long").as("n_segments"),
          filter(col("segs"), (x, i) =>
            array_position(col("segs"), x) === (i + 1).cast("long")).as("kept"))
        .select(col("doc_id"), col("n_segments"),
          size(col("kept")).cast("long").as("n_kept"),
          array_join(col("kept"), " ").as("kept_text"))
    },

    // C45: LINE-level dedup (CCNet / RefinedWeb): duplicate lines —
    // boilerplate, navigation chrome, repeated headers — are removed
    // corpus-WIDE (first occurrence by (doc_id, line_idx) wins), and
    // each document is reassembled from its surviving lines. Distinct
    // from span_dedup_docs (C31), which SCORES span duplication but
    // rewrites nothing. The synthetic corpus has no newlines, so a
    // "line" is a fixed 10-token segment — the segmentation is a
    // parameter; the operator is the dedup + reassembly.
    //
    // Scale plan: ONE keyed exchange does the whole dedup — groupBy
    // the line's 128-bit fingerprint with min(struct(doc_id,
    // line_idx, line)): partial aggregation means each map task
    // forwards at most one candidate row per distinct line, so the
    // exchange carries distinct-lines rows (not corpus lines), each
    // with its ~10-token text. The reassembly is a second keyed
    // exchange at doc granularity. Third-fingerprint collision guard
    // as in dedup_exact_docs: a silent merge would need a
    // simultaneous 192-bit collision.
    Q("line_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
        |    i -> struct_pack(
        |      line_idx := CAST(i AS BIGINT),
        |      line := array_to_string(
        |        toks[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], ' '))),
        |    recursive := true)
        |  FROM t),
        |f AS (
        |  SELECT doc_id, line_idx, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
        |  FROM l),
        |k AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(line ORDER BY line_idx), ' ') AS kept_text
        |  FROM f WHERE rn = 1 GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY doc_id)
        |SELECT n.doc_id, n.n_lines,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.kept_text, '') AS kept_text
        |FROM n LEFT JOIN k USING (doc_id)""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val nSeg = ceil(size(toks).cast("double") / lit(10.0)).cast("int")
      // Round-13 optimization (guide §2.3/§2.4 — clone-collapse):
      // the segment explode costs tokens-per-CORPUS, but docs with
      // IDENTICAL text have identical segment sets at identical
      // line_idx, and the corpus-wide first occurrence of a line by
      // (doc_id, line_idx) always lives in the MINIMUM doc_id of a
      // winning text group (every other member of the group repeats
      // the line at the same index under a larger doc_id — it can
      // never win, and keeps NOTHING: each of its lines recurs in
      // its own group's canonical doc). So the explode + dedup run
      // once per UNIQUE text keyed by the group's min doc_id; the
      // per-doc readout is n_lines (text-determined) plus the kept
      // lines for the canonical doc and (0, '') for every other
      // group member. Fingerprint + third-hash guard as in
      // dedup_exact_docs; the oracle keeps the full-corpus window.
      val keyed = table(s, dir, "documents").select(
        col("doc_id"), col("text"),
        xxhash64(col("text")).as("f1"),
        xxhash64(lit(42L), col("text")).as("f2"),
        length(col("text")).as("fl"))
      val uniq = keyed
        .groupBy(col("f1"), col("f2"), col("fl"))
        .agg(min(col("doc_id")).as("doc"), first(col("text")).as("text"),
          countDistinct(xxhash64(lit(1337L), col("text"))).as("_nfp"))
        .filter(assert_true(col("_nfp") === 1,
          lit("fingerprint collision in line_dedup")).isNull)
        .localCheckpoint() // the explode and the readout both scan it
      val lines = uniq.select(
        col("doc").as("doc_id"),
        posexplode(transform(sequence(lit(0), nSeg - 1),
          i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10)))))
          .as(Seq("line_idx", "line")))
        .select(col("doc_id"), col("line_idx").cast("long").as("line_idx"),
          col("line"))
      val firsts = lines
        .groupBy(xxhash64(col("line")), xxhash64(lit(42L), col("line")),
          length(col("line")))
        .agg(
          min(struct(col("doc_id"), col("line_idx"), col("line"))).as("first"),
          countDistinct(xxhash64(lit(1337L), col("line"))).as("_nfp"))
        .filter(assert_true(col("_nfp") === 1,
          lit("fingerprint collision in line_dedup")).isNull)
        .select(col("first.doc_id").as("doc"),
          col("first.line_idx").as("line_idx"), col("first.line").as("line"))
      val kept = firsts.groupBy(col("doc")).agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(line_idx, line))), x -> x.line)"))
          .as("kept_text"))
      keyed.select(col("doc_id"), col("f1"), col("f2"), col("fl"))
        .join(uniq.select(col("f1"), col("f2"), col("fl"), col("doc"),
          nSeg.cast("long").as("n_lines")), Seq("f1", "f2", "fl"))
        .join(kept, Seq("doc"), "left")
        .select(col("doc_id"), col("n_lines"),
          when(col("doc_id") === col("doc"),
            coalesce(col("n_kept"), lit(0L))).otherwise(lit(0L)).as("n_kept"),
          when(col("doc_id") === col("doc"),
            coalesce(col("kept_text"), lit(""))).otherwise(lit(""))
            .as("kept_text"))
    },

    // C85: BOILERPLATE line scrub (CCNet §4.1 / OSCAR: navigation
    // chrome, cookie banners, repeated headers are lines that recur
    // across documents OF THE SAME SOURCE) — every occurrence of a
    // line appearing in ≥ 2 distinct docs of its source is removed,
    // including the first. Distinct from line_dedup (C45), which
    // keeps one canonical copy corpus-wide: dedup preserves one
    // banner, boilerplate scrub decides the banner is not content at
    // all. Line = the C45 10-token segment convention (corpus carries
    // no newlines; the segmentation is a parameter, the operator is
    // the df-threshold + rewrite).
    //
    // Scale plan (the line_dedup shape): the df count groups by
    // (source, 128-bit line fingerprint) with countDistinct(doc_id)
    // — partial aggregation ships per-(line, doc) candidates, the
    // flagged relation is (boilerplate lines)-sized, and the removal
    // is a left_anti fingerprint join back. Third-fingerprint
    // collision guard as in C1/C45.
    Q("line_boilerplate_scrub",
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
        |           FROM documents),
        |l AS (
        |  SELECT doc_id, source, unnest(list_transform(
        |    range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
        |    i -> struct_pack(
        |      line_idx := CAST(i AS BIGINT),
        |      line := array_to_string(
        |        toks[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], ' '))),
        |    recursive := true)
        |  FROM t),
        |bp AS (
        |  SELECT source, line FROM (
        |    SELECT source, line, count(DISTINCT doc_id) AS df
        |    FROM l GROUP BY source, line)
        |  WHERE df >= 2),
        |k AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(line ORDER BY line_idx), ' ') AS kept_text
        |  FROM l
        |  WHERE NOT EXISTS (SELECT 1 FROM bp
        |                    WHERE bp.source = l.source AND bp.line = l.line)
        |  GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        |      FROM l GROUP BY doc_id)
        |SELECT n.doc_id, n.n_lines,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.kept_text, '') AS kept_text
        |FROM n LEFT JOIN k USING (doc_id)""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val nSeg = ceil(size(toks).cast("double") / lit(10.0)).cast("int")
      val lines = table(s, dir, "documents").select(
        col("doc_id"), col("source"),
        posexplode(transform(sequence(lit(0), nSeg - 1),
          i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10)))))
          .as(Seq("line_idx", "line")))
        .select(col("doc_id"), col("source"),
          col("line_idx").cast("long").as("line_idx"), col("line"),
          xxhash64(col("line")).as("h1"),
          xxhash64(lit(42L), col("line")).as("h2"),
          length(col("line")).as("hl"))
      val bp = lines
        .groupBy(col("source"), col("h1"), col("h2"), col("hl"))
        .agg(countDistinct(col("doc_id")).as("df"),
          countDistinct(xxhash64(lit(1337L), col("line"))).as("_nfp"))
        .filter(assert_true(col("_nfp") === 1,
          lit("fingerprint collision in line_boilerplate_scrub")).isNull)
        .filter(col("df") >= 2)
        .select(col("source"), col("h1"), col("h2"), col("hl"))
      val kept = lines.join(bp, Seq("source", "h1", "h2", "hl"), "left_anti")
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(line_idx, line))), x -> x.line)"))
            .as("kept_text"))
      lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_text"), lit("")).as("kept_text"))
    },

    // C84: QUALITY-BAND SPLIT (the CCNet head/middle/tail recipe,
    // Wenzek et al. 2020 — there by LM perplexity, here by the C10
    // composite quality score, the same operator over a different
    // score): per LANGUAGE, rank docs by score and cut at the count
    // terciles — head = best third, tail = worst third — so
    // downstream mixing can up-weight head data per language rather
    // than globally (a global cut would assign whole low-resource
    // languages to one band). RANK terciles, not score quantiles:
    // the cuts are exact integers, no interpolation to disagree on.
    // The ranking key is the UNROUNDED quality score (bit-equal
    // across engines — the dedup_keep_best precedent), ties on
    // doc_id; per-lang ranks via DistributedPrefixSum — two streamed
    // range-partitioned passes, never a per-lang single-reducer
    // window. Output pins the exact band SETS (id_sum) plus each
    // band's score range.
    Q("corpus_quality_bands",
      s"""WITH q AS (
         |  SELECT doc_id, lang, ${TextQueries.qualityRawSql} AS q
         |  FROM documents),
         |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY lang),
         |r AS (
         |  SELECT doc_id, lang, q,
         |    row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rnk
         |  FROM q),
         |b AS (
         |  SELECT r.lang, r.doc_id, r.q,
         |    CASE WHEN rnk <= (n + 2) // 3 THEN 'head'
         |         WHEN rnk <= (2 * n + 2) // 3 THEN 'middle'
         |         ELSE 'tail' END AS band
         |  FROM r JOIN n USING (lang))
         |SELECT lang, band,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  floor(min(q) * 10000 + 0.5) / 10000 AS min_q,
         |  floor(max(q) * 10000 + 0.5) / 10000 AS max_q
         |FROM b GROUP BY lang, band""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("q"))
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      // rank by quality DESC ⇔ prefix-count in (−q, doc_id) ASC order
      val ranked = graft.operators.DistributedPrefixSum.running(
        docs.withColumn("nq", -col("q")).withColumn("_one", lit(1L)),
        "lang", Seq("nq", "doc_id"), "_one", "rnk")
      ranked.join(broadcast(counts), Seq("lang"))
        .withColumn("band",
          when(col("rnk") <= expr("(n + 2) DIV 3"), "head")
            .when(col("rnk") <= expr("(2 * n + 2) DIV 3"), "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          (floor(min(col("q")) * 10000 + lit(0.5)) / 10000).as("min_q"),
          (floor(max(col("q")) * 10000 + lit(0.5)) / 10000).as("max_q"))
    },

    // C46: quality-aware canonical selection — within each transitive
    // near-dup cluster keep the HIGHEST-quality member, not the
    // lowest id (what a production pipeline actually wants: among
    // mirrored copies keep the cleanest). Cluster machinery is
    // dedup_clusters' (MinHash-LSH pairs → hash-min connected
    // components); the choice key is the UNROUNDED quality score,
    // bit-equal across engines, ties broken on doc_id.
    Q("dedup_keep_best",
      s"""WITH RECURSIVE $pairsCte,
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8),
         |edges AS (SELECT id_a AS s, id_b AS t FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(id, r) AS (
         |  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
         |  UNION
         |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.t = r.id),
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |q AS (SELECT cl.id, cl.cluster_id, ${TextQueries.qualityRawSql} AS qual
         |      FROM cl JOIN documents d ON cl.id = d.doc_id)
         |SELECT cluster_id, n_members, kept_doc_id, kept_quality FROM (
         |  SELECT cluster_id,
         |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
         |    id AS kept_doc_id,
         |    floor(qual * 10000 + 0.5) / 10000 AS kept_quality,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY qual DESC, id) AS rn
         |  FROM q) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      collapsedClusters(s, dir)
        .join(docs.select(col("doc_id").as("id"),
          TF.qualityScore(col("text")).as("qual")), Seq("id"))
        .groupBy(col("cluster_id"))
        .agg(
          count(lit(1)).as("n_members"),
          // lexicographic max of (quality, -id): max quality, ties
          // resolved to the LOWEST doc_id — window-free argmax with
          // map-side partial aggregation
          max_by(col("id"), struct(col("qual"), -col("id"))).as("kept_doc_id"),
          (floor(max(col("qual")) * lit(10000) + lit(0.5)).cast("double") /
            lit(10000)).as("kept_quality"))
    },

    // C30: the END-TO-END curation pipeline as ONE declarative plan —
    // scrub → quality filter → exact dedup (keep-first on normalized
    // scrubbed text) → split assignment → per-(split, lang) counts.
    // What a corpus builder actually ships: each stage is one of the
    // pipeline's oracled operators (C13/C14/C1/C17) composed, and the
    // whole chain still plans as a single job with two keyed
    // exchanges (dedup group + final rollup).
    Q("corpus_curate_pipeline",
      s"""WITH f AS (
         |  SELECT doc_id, lang,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |      'https?://[^ ]+', '<URL>', 'g'),
         |      '[0-9]{4,}', '<NUM>', 'g') AS stext
         |  FROM documents
         |  WHERE n_chars >= 200 AND ${TF.tokenCountSql("text")} >= 30),
         |k AS (
         |  SELECT min(doc_id) AS doc_id,
         |    min_by(lang, doc_id) AS lang,
         |    min_by(length(stext), doc_id) AS slen
         |  FROM f
         |  GROUP BY ${TF.normalizeTextSql("stext")})
         |SELECT
         |  CASE WHEN doc_id % 10 < 8 THEN 'train'
         |       WHEN doc_id % 10 < 9 THEN 'val'
         |       ELSE 'test' END AS split,
         |  lang,
         |  count(*) AS n_docs,
         |  CAST(sum(slen) AS BIGINT) AS total_chars
         |FROM k GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val scrubbed = regexp_replace(regexp_replace(regexp_replace(col("text"),
        "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
        "https?://[^ ]+", "<URL>"),
        "[0-9]{4,}", "<NUM>")
      table(s, dir, "documents")
        .filter(col("n_chars") >= 200 && TF.tokenCount(col("text")) >= 30)
        .select(col("doc_id"), col("lang"), scrubbed.as("stext"),
          TF.normalizeText(scrubbed).as("norm"))
        // dedup stage keys the exchange on a 128-bit fingerprint +
        // length, not the normalized text (same contract as
        // dedup_exact_docs: third-fingerprint assert fails loudly on
        // collision instead of silently merging)
        .groupBy(xxhash64(col("norm")), xxhash64(lit(42L), col("norm")),
          length(col("norm")))
        .agg(
          min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min_by(length(col("stext")), col("doc_id")).as("slen"),
          countDistinct(xxhash64(lit(1337L), col("norm"))).as("_nfp"))
        .filter(assert_true(col("_nfp") === 1,
          lit("fingerprint collision in corpus_curate_pipeline")).isNull)
        .withColumn("split",
          when(col("doc_id") % 10 < 8, "train")
            .when(col("doc_id") % 10 < 9, "val")
            .otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("slen")).as("total_chars"))
    },

    // C16: greedy sequence packing — assign docs (in stable order,
    // per language) to fixed token-budget bins by running token
    // offset; integer-exact in both engines. NOT a window: PARTITION
    // BY lang has a handful of groups, so a window would serialize
    // each language's whole corpus through one reducer at 100 TB —
    // DistributedPrefixSum computes the identical running total in
    // two parallel streamed passes (plan-asserted window-free).
    Q("pack_documents",
      s"""WITH d AS (
         |  SELECT doc_id, lang, CAST(${TF.tokenCountSql("text")} AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tok,
         |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
         |  FROM d)
         |SELECT doc_id, lang, n_tok,
         |  CAST(floor((cum_tok - n_tok) / 2048.0) AS BIGINT) AS bin_id
         |FROM c""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.tokenCount(col("text")).cast("bigint").as("n_tok"))
      graft.operators.DistributedPrefixSum
        .running(d, "lang", Seq("doc_id"), "n_tok", "cum_tok")
        .select(col("doc_id"), col("lang"), col("n_tok"),
          floor((col("cum_tok") - col("n_tok")) / 2048.0).cast("bigint").as("bin_id"))
    },

    // C122: PACKING EFFICIENCY AUDIT — the fill-rate/waste report on
    // C16's prefix-cut sequence packer (what a training team reads
    // before committing a context length: Krell et al. 2022 report
    // exactly these numbers for packed BERT). Per language: docs,
    // bins (= distinct prefix-cut bin ids), total tokens, fill =
    // tokens/(bins·2048) ONE division 6dp, and the STRADDLER count —
    // docs whose token span crosses a 2048 boundary (the packer's
    // truncation/continuation cases): a doc straddles iff
    // (cum−n)//2048 ≠ (cum−1)//2048 on the same exact prefix sums
    // C16 assigns bins from (n > 0; integer floor both engines).
    // Scale shape: C16's DistributedPrefixSum pass + one keyed
    // language rollup — no new shuffles beyond the packer's own.
    Q("packing_efficiency",
      s"""WITH d AS (
         |  SELECT doc_id, lang, CAST(${TF.tokenCountSql("text")} AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tok,
         |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d),
         |g AS (
         |  SELECT lang,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT (cum - n_tok) // 2048) AS BIGINT) AS n_bins,
         |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |    CAST(sum(CASE WHEN n_tok > 0 AND
         |      (cum - n_tok) // 2048 <> (cum - 1) // 2048
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
         |  FROM c GROUP BY lang)
         |SELECT lang, n_docs, n_bins, total_tokens, n_straddlers,
         |  floor(CAST(total_tokens AS DOUBLE)
         |    / CAST(n_bins * 2048 AS DOUBLE) * 1000000 + 0.5) / 1000000
         |    AS fill_rate
         |FROM g""".stripMargin) { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.tokenCount(col("text")).cast("bigint").as("n_tok"))
      val c = graft.operators.DistributedPrefixSum
        .running(d, "lang", Seq("doc_id"), "n_tok", "cum")
      c.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(expr("(cum - n_tok) div 2048")).as("n_bins"),
          sum(col("n_tok")).as("total_tokens"),
          sum(when(col("n_tok") > 0 &&
            expr("(cum - n_tok) div 2048") =!= expr("(cum - 1) div 2048"),
            1L).otherwise(0L)).as("n_straddlers"))
        .select(col("lang"), col("n_docs"), col("n_bins"),
          col("total_tokens"), col("n_straddlers"),
          (floor(col("total_tokens").cast("double")
            / (col("n_bins") * 2048).cast("double") * 1000000 + lit(0.5))
            / 1000000).as("fill_rate"))
    },

    // C25: overlapping-window document chunking — the RAG/pretraining
    // primitive that turns long docs into fixed-token windows
    // (size 128, stride 96 → 32-token overlap). A chunk i exists
    // while its start is in range and the previous chunk did not
    // already reach the end: i ≤ max(0, floor((n − 33) / 96)) — the
    // closed form both engines evaluate in identical IEEE floor
    // arithmetic. Chunk CONTENT is pinned, not just counts: first and
    // last token plus exact character length per chunk. One explode,
    // no shuffle until the (absent) downstream agg — at 100 TB this
    // is a map-only pass.
    Q("chunk_documents",
      s"""WITH d AS (
         |  SELECT doc_id, ${TF.wsTokensSql("text")} AS t FROM documents),
         |n AS (SELECT doc_id, t, len(t) AS n_tok FROM d),
         |c AS (
         |  SELECT doc_id, t, n_tok, CAST(i AS INT) AS chunk_id
         |  FROM n, unnest(range(0,
         |    CAST(greatest(0, floor((n_tok - 33) / 96.0)) AS BIGINT) + 1)) AS u(i))
         |SELECT doc_id, chunk_id,
         |  CAST(chunk_id * 96 AS BIGINT) AS start_tok,
         |  CAST(least(128, n_tok - chunk_id * 96) AS BIGINT) AS n_tok_chunk,
         |  t[chunk_id * 96 + 1] AS first_tok,
         |  t[chunk_id * 96 + least(128, n_tok - chunk_id * 96)] AS last_tok,
         |  CAST(list_sum(list_transform(
         |      t[chunk_id * 96 + 1 : chunk_id * 96 + least(128, n_tok - chunk_id * 96)],
         |      x -> length(x))) + least(128, n_tok - chunk_id * 96) - 1
         |    AS BIGINT) AS chunk_chars
         |FROM c""".stripMargin) { (s, dir) =>
      val toks = table(s, dir, "documents").select(
        col("doc_id"),
        TF.wsTokens(col("text")).as("t"))
        .withColumn("n_tok", size(col("t")))
      toks
        .select(col("doc_id"), col("t"), col("n_tok"),
          explode(sequence(lit(0),
            greatest(lit(0), floor((col("n_tok") - 33) / 96.0)).cast("int")))
            .as("chunk_id"))
        .withColumn("start_tok", (col("chunk_id") * 96).cast("bigint"))
        .withColumn("n_tok_chunk",
          least(lit(128), col("n_tok") - col("chunk_id") * 96).cast("bigint"))
        .withColumn("_chunk", expr("slice(t, cast(start_tok as int) + 1, cast(n_tok_chunk as int))"))
        .select(
          col("doc_id"), col("chunk_id"), col("start_tok"), col("n_tok_chunk"),
          element_at(col("_chunk"), 1).as("first_tok"),
          element_at(col("_chunk"), -1).as("last_tok"),
          (expr("aggregate(transform(_chunk, x -> length(x)), 0L, (a, x) -> a + x)")
            + col("n_tok_chunk") - 1).cast("bigint").as("chunk_chars"))
    },

    // C26: train/test contamination check — the eval-hygiene pass
    // (GPT-3 appendix C style): a TEST doc is contaminated if any of
    // its word 8-grams appears anywhere in the TRAIN split. Spark
    // joins HASHED shingles (the scale path — 8 bytes per gram on the
    // exchange, one keyed equi-join); the oracle joins the gram
    // STRINGS — identical counts up to 64-bit hash collisions, the
    // same contract every dedup oracle here already rests on. Splits
    // are dataset_split's doc_id % 10 assignment.
    Q("contamination_check",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(toks) - 6),
        |    i -> concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i + 1 AS INT)],
        |      toks[CAST(i + 2 AS INT)], toks[CAST(i + 3 AS INT)],
        |      toks[CAST(i + 4 AS INT)], toks[CAST(i + 5 AS INT)],
        |      toks[CAST(i + 6 AS INT)], toks[CAST(i + 7 AS INT)]))))  AS g
        |  FROM t WHERE len(toks) >= 8),
        |tr AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 < 8),
        |te AS (SELECT doc_id, g FROM g WHERE doc_id % 10 >= 9)
        |SELECT te.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_overlap,
        |  CAST(CASE WHEN sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) > 0
        |    THEN 1 ELSE 0 END AS INT) AS is_contaminated
        |FROM te LEFT JOIN tr USING (g)
        |GROUP BY te.doc_id""".stripMargin) { (s, dir) =>
      val grams = table(s, dir, "documents").select(
        col("doc_id"),
        explode(graft.functions.VectorExpressions.tokenNgramHashes(
          split(col("text"), " "), 8)).as("g"))
      val train = grams.filter(col("doc_id") % 10 < 8)
        .select(col("g")).distinct().withColumn("hit", lit(1))
      grams.filter(col("doc_id") % 10 >= 9)
        .join(train, Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
        .select(col("doc_id"), col("n_grams"), col("n_overlap"),
          (col("n_overlap") > 0).cast("int").as("is_contaminated"))
    },

    // C36: the FULL pretraining data pipeline — quality filter →
    // scrub → exact dedup (fingerprint keys) → language rebalance →
    // overlapping chunking → token-budget packing — composed as ONE
    // declarative plan: the superset of corpus_curate_pipeline that
    // ends in training bins rather than a split rollup. Exchanges:
    // dedup group (fingerprint-keyed), the rebalance threshold
    // broadcast, and the packing prefix-sum passes (window-free);
    // chunking is a map-side explode. Everything is integer
    // arithmetic, so the oracle (which may use the window spelling —
    // it is the SPECIFICATION, not the plan) matches exactly.
    Q("corpus_pretrain_pipeline", {
      val scrubbed =
        """regexp_replace(regexp_replace(regexp_replace(text,
          |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
          |        'https?://[^ ]+', '<URL>', 'g'),
          |        '[0-9]{4,}', '<NUM>', 'g')""".stripMargin
      s"""WITH f AS (
         |  SELECT doc_id, lang,
         |    ${TF.normalizeTextSql(scrubbed)} AS norm
         |  FROM documents
         |  WHERE n_chars >= 200 AND ${TF.tokenCountSql("text")} >= 30),
         |k AS (
         |  SELECT min(doc_id) AS doc_id, min_by(lang, doc_id) AS lang, norm
         |  FROM f GROUP BY norm),
         |t AS (SELECT CAST(count(*) AS DOUBLE) AS n_total,
         |        count(DISTINCT lang) AS n_langs FROM k),
         |s AS (SELECT lang, count(*) AS n_docs FROM k GROUP BY lang),
         |th AS (
         |  SELECT lang,
         |    CAST(floor(least(1.0,
         |      (SELECT n_total FROM t) / (SELECT n_langs FROM t) / n_docs)
         |      * 1000000) AS BIGINT) AS thresh
         |  FROM s),
         |r AS (
         |  SELECT k.doc_id, k.lang, string_split(k.norm, ' ') AS toks
         |  FROM k JOIN th USING (lang)
         |  WHERE ((k.doc_id % 1000003) * 2654435761) % 1000000 < th.thresh),
         |n AS (SELECT doc_id, lang, toks, len(toks) AS n_tok FROM r),
         |c AS (
         |  SELECT doc_id, lang, n_tok, CAST(i AS INT) AS chunk_id,
         |    CAST(least(128, n_tok - i * 96) AS BIGINT) AS nc
         |  FROM n, unnest(range(0,
         |    CAST(greatest(0, floor((n_tok - 33) / 96.0)) AS BIGINT) + 1)) AS u(i)),
         |p AS (
         |  SELECT doc_id, lang, chunk_id, nc,
         |    sum(nc) OVER (PARTITION BY lang ORDER BY doc_id, chunk_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM c)
         |SELECT lang,
         |  CAST(floor((cum - nc) / 2048.0) AS BIGINT) AS bin_id,
         |  count(*) AS n_chunks,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(nc) AS BIGINT) AS total_tokens
         |FROM p GROUP BY lang, bin_id""".stripMargin
    }) { (s, dir) =>
      val scrubbed = regexp_replace(regexp_replace(regexp_replace(col("text"),
        "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
        "https?://[^ ]+", "<URL>"),
        "[0-9]{4,}", "<NUM>")
      // filter → scrub → normalize; dedup keys the exchange on the
      // 128-bit fingerprint (+ length), norm travels once as a value.
      // The deduped corpus is materialized ONCE (three consumers:
      // totals, thresholds, the main chain) — localCheckpoint here; on
      // a production cluster this stage persists to a table, exactly
      // like semantic_dedup's assignment materialization.
      val kept = table(s, dir, "documents")
        .filter(col("n_chars") >= 200 && TF.tokenCount(col("text")) >= 30)
        .select(col("doc_id"), col("lang"), TF.normalizeText(scrubbed).as("norm"))
      val dedup = kept
        .groupBy(xxhash64(col("norm")), xxhash64(lit(42L), col("norm")),
          length(col("norm")))
        .agg(
          min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min_by(col("norm"), col("doc_id")).as("norm"),
          countDistinct(xxhash64(lit(1337L), col("norm"))).as("_nfp"))
        .filter(assert_true(col("_nfp") === 1,
          lit("fingerprint collision in corpus_pretrain_pipeline")).isNull)
        .select(col("doc_id"), col("lang"), col("norm"))
        .localCheckpoint()
      // rebalance thresholds from the DEDUPED corpus, broadcast back
      val tot = dedup.agg(
        count(lit(1)).cast("double").as("n_total"),
        countDistinct(col("lang")).as("n_langs"))
      val th = dedup.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(tot))
        .select(col("lang"),
          floor(least(lit(1.0), col("n_total") / col("n_langs") / col("n_docs"))
            * 1000000).cast("bigint").as("thresh"))
      val kept2 = dedup
        .join(broadcast(th), Seq("lang"))
        .filter(((col("doc_id") % 1000003L) * 2654435761L % 1000000L) < col("thresh"))
        .select(col("doc_id"), col("lang"), split(col("norm"), " ").as("toks"))
        .withColumn("n_tok", size(col("toks")))
      // overlapping chunks (map-only), then token-budget packing via
      // the window-free distributed prefix sum
      val chunks = kept2
        .select(col("doc_id"), col("lang"), col("n_tok"),
          explode(sequence(lit(0),
            greatest(lit(0), floor((col("n_tok") - 33) / 96.0)).cast("int")))
            .as("chunk_id"))
        .withColumn("nc",
          least(lit(128), col("n_tok") - col("chunk_id") * 96).cast("bigint"))
        .select(col("doc_id"), col("lang"), col("chunk_id"), col("nc"))
      graft.operators.DistributedPrefixSum
        .running(chunks, "lang", Seq("doc_id", "chunk_id"), "nc", "cum")
        .groupBy(col("lang"),
          floor((col("cum") - col("nc")) / 2048.0).cast("bigint").as("bin_id"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("nc")).as("total_tokens"))
    },

    // C48: per-source quota cap — web-corpus pipelines cap documents
    // per DOMAIN so no single crawl source dominates training (the
    // C4/RefinedWeb "domain cap"): keep the top-20 highest-quality
    // docs per source, report the kept SET per source. TopKPerKey
    // bounded heaps (k rows per source per task, no window sort);
    // ordering key is the UNROUNDED quality score (bit-equal across
    // engines), ties on doc_id. kept_id_sum pins the exact kept set,
    // not just its size.
    Q("corpus_domain_cap",
      s"""WITH q AS (SELECT doc_id, source, ${TextQueries.qualityRawSql} AS qual
         |  FROM documents),
         |r AS (SELECT doc_id, source, qual,
         |    row_number() OVER (PARTITION BY source ORDER BY qual DESC, doc_id)
         |      AS rn FROM q),
         |k AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         |    CAST(sum(doc_id) AS BIGINT) AS kept_id_sum,
         |    floor(min(qual) * 10000 + 0.5) / 10000 AS min_kept_quality
         |  FROM r WHERE rn <= 20 GROUP BY source),
         |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM q
         |  GROUP BY source)
         |SELECT t.source, n_docs, n_kept, kept_id_sum, min_kept_quality
         |FROM t JOIN k USING (source)""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        col("doc_id"), col("source"), TF.qualityScore(col("text")).as("qual"))
      val kept = graft.plans.TopK
        .perKey(docs, Seq("source"), Seq(("qual", false), ("doc_id", true)), 20)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_id_sum"),
          (floor(min(col("qual")) * lit(10000) + lit(0.5)).cast("double") /
            lit(10000)).as("min_kept_quality"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"))
    },

    // C42: DSIR-style importance weighting (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling") — the
    // standard way a pretraining corpus is reweighted toward a target
    // domain: hashed n-gram features (unigrams + bigrams, hash trick
    // into B = 8192 buckets), per-bucket add-one-smoothed log-ratio of
    // target vs source feature distributions, per-doc importance
    // weight = Σ over the doc's feature instances. Target here = the
    // lang='en' slice (a real deployment plugs in any in-domain
    // sample; the ENGINE work is identical).
    // Scale shape: the corpus is scanned exactly TWICE — once to
    // train (bucket groupBy, map-side combined into ≤ B·partitions
    // rows) and once to score (broadcast join against the ≤ B-row
    // weight table + one doc_id aggregation). The model is
    // localCheckpointed so no consumer re-runs training.
    // Determinism: bucket ids replay the HUGEINT rolling-fingerprint
    // mod-2^64 convention (text_quality_model precedent: unsigned
    // % 8192 ≡ signed & 8191); bigram buckets compose the two token
    // buckets as (b1·1000003 + b2) % 8192 in plain integer
    // arithmetic. The per-bucket log-ratio is quantized to an INTEGER
    // micro-log (floor(ln·1e4 + 0.5), the 4dp convention — ≤ B
    // model-sized ln calls, sub-ulp libm caveat as text_entropy), so
    // the per-doc Σ is an order-independent integer sum and the
    // keep/drop sign compares exactly. The oracle's char split
    // filters empty strings so an EMPTY token hashes to 0 exactly as
    // Spark's fingerprint of zero bytes does (DuckDB ord('') = −1
    // would otherwise yield bucket −1 — a latent divergence for any
    // doc whose text normalizes to empty; no-op for non-empty
    // tokens).
    Q("corpus_importance_weights",
      s"""WITH t AS (SELECT doc_id, lang, ${TF.wsTokensSql("text")} AS toks
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, lang,
         |    list_transform(toks, tok ->
         |      CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |          list_transform(
         |            list_filter(string_split_regex(tok, ''), c -> c <> ''),
         |            c -> CAST(ord(c) AS HUGEINT))),
         |        (h, b) -> (h * 31 + b) % 18446744073709551616) % 8192 AS BIGINT)) AS ub
         |  FROM t),
         |i AS (
         |  SELECT doc_id, lang, unnest(list_concat(ub,
         |    list_transform(range(1, len(ub)), j ->
         |      (ub[CAST(j AS INT)] * 1000003 + ub[CAST(j + 1 AS INT)]) % 8192))) AS bucket
         |  FROM u),
         |m AS (
         |  SELECT bucket, count(*) AS cs,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
         |  FROM i GROUP BY bucket),
         |tot AS (SELECT CAST(sum(cs) AS DOUBLE) AS ns, CAST(sum(ct) AS DOUBLE) AS nt
         |  FROM m),
         |w AS (
         |  SELECT bucket,
         |    CAST(floor(ln(((ct + 1.0) / (cs + 1.0)) * ((ns + 8192.0) / (nt + 8192.0)))
         |      * 10000 + 0.5) AS BIGINT) AS lw_micro
         |  FROM m, tot)
         |SELECT i.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_features,
         |  CAST(sum(lw_micro) AS BIGINT) AS weight_micro,
         |  CAST(CASE WHEN sum(lw_micro) > 0 THEN 1 ELSE 0 END AS INT) AS kept
         |FROM i JOIN w USING (bucket)
         |GROUP BY i.doc_id""".stripMargin) { (s, dir) =>
      import graft.functions.Fingerprint64
      val ub = transform(TF.wsTokens(col("text")),
        tok => Fingerprint64.fingerprint64(tok).bitwiseAND(lit(8191L)))
      val inst = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), ub.as("ub"))
        .select(col("doc_id"), col("lang"),
          explode(concat(col("ub"),
            zip_with(
              slice(col("ub"), lit(1), size(col("ub")) - 1),
              slice(col("ub"), lit(2), size(col("ub")) - 1),
              (x, y) => (x * lit(1000003L) + y) % lit(8192L)))).as("bucket"))
      val model = inst.groupBy(col("bucket")).agg(
          count(lit(1)).as("cs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
        .localCheckpoint()
      val totals = model.agg(
        sum(col("cs")).cast("double").as("ns"),
        sum(col("ct")).cast("double").as("nt"))
      val weighted = model.crossJoin(broadcast(totals))
        .select(col("bucket"),
          floor(log(((col("ct") + lit(1.0)) / (col("cs") + lit(1.0)))
              * ((col("ns") + lit(8192.0)) / (col("nt") + lit(8192.0))))
            * 10000 + lit(0.5)).as("lw_micro"))
      inst.join(broadcast(weighted), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_features"), sum(col("lw_micro")).as("weight_micro"))
        .select(col("doc_id"), col("n_features"), col("weight_micro"),
          (col("weight_micro") > 0).cast("int").as("kept"))
    },

    // C17: deterministic train/val/test split assignment.
    Q("dataset_split",
      """SELECT
        |  CASE WHEN doc_id % 10 < 8 THEN 'train'
        |       WHEN doc_id % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      table(s, dir, "documents")
        .withColumn("split",
          when(col("doc_id") % 10 < 8, "train")
            .when(col("doc_id") % 10 < 9, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    },

    // C76: CORPUS DECONTAMINATION (span removal) — C26 detects
    // benchmark contamination; this op REMOVES it: every train-doc
    // token covered by any 8-gram that also appears in the test split
    // is dropped and the doc reassembled (the Dolma/FineWeb
    // "decontaminate before training" rewrite). The 100 TB shape:
    // test/eval sets are small by nature, so their distinct 8-grams
    // BROADCAST; the train corpus pays one scan + gram explode +
    // broadcast semi-match, and covered positions fold back per doc
    // (collect_set bounded by the doc's own length). Map-side heavy,
    // ONE keyed exchange (doc_id → covered starts). Exact string
    // grams on the broadcast (no hash-collision caveat — the payload
    // is test-set-sized, not corpus-sized).
    Q("corpus_decontaminate",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tg AS (
        |  SELECT DISTINCT unnest(list_transform(
        |    range(0, greatest(len(toks) - 7, 0)),
        |    i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' '))) AS g
        |  FROM t WHERE doc_id % 10 >= 9),
        |tr AS (SELECT doc_id, toks FROM t WHERE doc_id % 10 < 8),
        |st AS (
        |  SELECT x.doc_id, x.s
        |  FROM (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 7, 0))) AS s
        |        FROM tr) x
        |  JOIN tg ON array_to_string(
        |    x.toks[CAST(x.s + 1 AS INT):CAST(x.s + 8 AS INT)], ' ') = tg.g),
        |cov AS (SELECT doc_id, list(DISTINCT s) AS cv FROM st GROUP BY doc_id),
        |o AS (SELECT tr.doc_id, toks,
        |        coalesce(cov.cv, CAST([] AS BIGINT[])) AS cv
        |      FROM tr LEFT JOIN cov USING (doc_id)),
        |k AS (SELECT doc_id, toks,
        |        list_filter(range(len(toks)),
        |          i -> len(list_filter(cv, s -> i >= s AND i <= s + 7)) = 0) AS kept
        |      FROM o)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  coalesce(array_to_string(
        |    list_transform(kept, i -> toks[CAST(i + 1 AS INT)]), ' '), '')
        |    AS clean_text
        |FROM k""".stripMargin) { (s, dir) =>
      val t = table(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val starts = expr(
        "CASE WHEN size(toks) >= 8 THEN sequence(0, size(toks) - 8) " +
          "ELSE CAST(array() AS ARRAY<INT>) END")
      val gramAt = "array_join(slice(toks, s + 1, 8), ' ')"
      val testGrams = t.filter(col("doc_id") % 10 >= 9)
        .select(explode(starts).as("s"), col("toks"))
        .select(expr(gramAt).as("g")).distinct()
      val train = t.filter(col("doc_id") % 10 < 8)
      val covered = train
        .select(col("doc_id"), col("toks"), explode(starts).as("s"))
        .join(broadcast(testGrams), expr(gramAt) === col("g"))
        .groupBy(col("doc_id")).agg(collect_set(col("s")).as("cv"))
      train.join(covered, Seq("doc_id"), "left")
        .withColumn("cv", coalesce(col("cv"), expr("CAST(array() AS ARRAY<INT>)")))
        .withColumn("kept", expr(
          "filter(transform(toks, (t, i) -> struct(i AS i, t AS t)), " +
            "x -> NOT exists(cv, s -> x.i >= s AND x.i <= s + 7))"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          size(col("kept")).cast("long").as("n_kept"),
          array_join(expr("transform(kept, x -> x.t)"), " ").as("clean_text"))
    },

    // C79: TOKEN-BUDGET CORPUS SELECTION — the "best docs up to N
    // tokens" cut every pretraining run makes: rank by a quality
    // signal, take the prefix whose cumulative token count fits the
    // budget (greedy knapsack with unit-density items — optimal for
    // this objective). Signal = chars-per-token density in integer
    // milli-units ((1000·n_chars) div n_tokens — longer words ≈
    // prose; exact integers, no float boundary); budget = ¼ of the
    // corpus's total tokens (one metadata-cheap agg, broadcast).
    // The cumulative sum is DistributedPrefixSum over (−score,
    // doc_id) order — two streamed range-partitioned passes, never a
    // single-reducer global window; the oracle states the same
    // prefix as a window sum. A doc straddling the boundary is
    // excluded (kept ⇔ cum ≤ budget): the cut is a deterministic
    // function of the ranked prefix, not of partitioning.
    Q("corpus_budget_select",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    n_chars
        |  FROM documents),
        |sc AS (SELECT doc_id, source, n_tokens,
        |    (1000 * n_chars) // n_tokens AS score_milli FROM t),
        |b AS (SELECT CAST(sum(n_tokens) // 4 AS BIGINT) AS budget FROM sc),
        |r AS (
        |  SELECT doc_id, source, n_tokens, score_milli,
        |    sum(n_tokens) OVER (ORDER BY -score_milli, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM sc)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS kept_id_sum,
        |  CAST(min(score_milli) AS BIGINT) AS worst_score_milli
        |FROM r, b WHERE cum <= budget
        |GROUP BY source""".stripMargin) { (s, dir) =>
      val t = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          col("n_chars"))
        .withColumn("score_milli", expr("(1000 * n_chars) div n_tokens"))
        .withColumn("neg_score", -col("score_milli"))
        .withColumn("_g", lit("all"))
      // DIV, not `/`: Spark's / is double division — the budget must
      // be the exact integer the oracle's `//` computes.
      val budget = t.agg(expr("sum(n_tokens) DIV 4").as("budget"))
      graft.operators.DistributedPrefixSum
        .running(t, "_g", Seq("neg_score", "doc_id"), "n_tokens", "cum")
        .crossJoin(broadcast(budget))
        .filter(col("cum") <= col("budget"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"),
          sum(col("doc_id")).as("kept_id_sum"),
          min(col("score_milli")).as("worst_score_milli"))
    },

    // C104: DATASET CARD / per-source corpus summary (the
    // "datasheets for datasets" report, Gebru et al. 2021 — the
    // one-page evidence table a dataset release ships): per source
    // the doc count, exact whitespace-token total, distinct
    // languages, EXACT-duplicate fraction (docs sharing a normalized
    // 128-bit fingerprint with ≥1 other doc of the same source — the
    // C1 fingerprint contract), mean quality in exact milli units
    // ((Σ⌊q·1000⌋) DIV n — integer, no rounding contract), and the
    // token-count range. One corpus scan + one fingerprint-grain
    // keyed agg; everything else is per-source rollups.
    Q("corpus_datacard",
      s"""WITH d AS (
        |  SELECT source, lang, doc_id,
        |    CAST(${TF.tokenCountSql("text")} AS BIGINT) AS n_toks,
        |    CAST(floor((${TextQueries.qualityRawSql}) * 1000) AS BIGINT)
        |      AS q_milli,
        |    ${TF.normalizeTextSql("text")} AS norm
        |  FROM documents),
        |fpc AS (SELECT source, norm, CAST(count(*) AS BIGINT) AS c
        |        FROM d GROUP BY source, norm)
        |SELECT d.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(d.n_toks) AS BIGINT) AS total_tokens,
        |  CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
        |  CAST(count(*) FILTER (fpc.c > 1) AS BIGINT) AS n_dup_docs,
        |  CAST((sum(d.q_milli) - ((sum(d.q_milli) % count(*)
        |      + count(*)) % count(*))) // count(*) AS BIGINT)
        |    AS mean_q_milli,
        |  CAST(min(d.n_toks) AS BIGINT) AS min_toks,
        |  CAST(max(d.n_toks) AS BIGINT) AS max_toks
        |FROM d JOIN fpc ON d.source = fpc.source AND d.norm = fpc.norm
        |GROUP BY d.source""".stripMargin) { (s, dir) =>
      // Spark keys the dup rollup on the C1 128-bit fingerprint pair
      // + length (never the text itself on the exchange), with the
      // third-fingerprint collision guard; the oracle states the
      // same relation over the normalized TEXT (the C1 convention).
      val d = table(s, dir, "documents")
        .select(col("source"), col("lang"), col("doc_id"),
          TF.tokenCount(col("text")).cast("long").as("n_toks"),
          floor(TF.qualityScore(col("text")) * 1000).cast("long")
            .as("q_milli"),
          TF.normalizeText(col("text")).as("norm"))
        .select(col("source"), col("lang"), col("doc_id"), col("n_toks"),
          col("q_milli"),
          struct(xxhash64(col("norm")), xxhash64(lit(42L), col("norm")),
            length(col("norm"))).as("fp"),
          xxhash64(lit(1337L), col("norm")).as("_fp3"))
        .localCheckpoint() // fingerprint rollup + the card read it
      val fpc = d.groupBy(col("source"), col("fp"))
        .agg(count(lit(1)).as("c"), countDistinct(col("_fp3")).as("_nfp"))
        .filter(assert_true(col("_nfp") === 1,
          lit("fingerprint collision in corpus_datacard")).isNull)
        .select(col("source"), col("fp"), col("c"))
      d.join(fpc, Seq("source", "fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum((col("c") > 1).cast("long")).as("n_dup_docs"),
          sum(col("q_milli")).as("_sq"),
          min(col("n_toks")).as("min_toks"),
          max(col("n_toks")).as("max_toks"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("n_langs"), col("n_dup_docs"),
          expr("(_sq - (((_sq % n_docs) + n_docs) % n_docs)) div n_docs")
            .as("mean_q_milli"),
          col("min_toks"), col("max_toks"))
    },

    // C100: DICTIONARY BLOCKLIST TAGGING (the CommonCrawl/C4
    // bad-word-list filter shape, Raffel et al. 2020 §2.2 — a fixed
    // term dictionary broadcast to every doc, per-doc occurrence
    // evidence + a flag; the Aho-Corasick use case at the
    // whitespace-token grain this corpus's conventions define): total
    // hits via the fused one-pass TokenSetStats scan (the stopword
    // kernel reused with a different dictionary — exactly how a real
    // pipeline swaps wordlists), distinct hit terms via a set
    // intersect on the deduped token list; flagged = ≥ 3 total hits
    // OR ≥ 2 distinct terms (evidence-weighted, both count columns
    // oracle-gated so the thresholds are replayable). Dictionary
    // picks one common, one mid, one rare and one ABSENT term so
    // every evidence regime is exercised (absent ⇒ the scan proves
    // it never phantom-matches). Scale shape: map-only pass,
    // dictionary O(1) broadcast, no shuffle beyond the scan.
    Q("blocklist_tag", {
      val terms = "['slow', 'merge', 'dup', 'crash']"
      s"""WITH t AS (
        |  SELECT doc_id,
        |    ${TF.wsTokensSql("text")} AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> list_contains($terms, x)))
        |      AS BIGINT) AS n_hits,
        |    CAST(len(list_intersect(list_distinct(toks), $terms))
        |      AS BIGINT) AS n_terms
        |  FROM t)
        |SELECT doc_id, n_hits, n_terms,
        |  CAST(CASE WHEN n_hits >= 3 OR n_terms >= 2 THEN 1 ELSE 0 END
        |    AS INT) AS flagged
        |FROM m""".stripMargin
    }) { (s, dir) =>
      val terms = Seq("slow", "merge", "dup", "crash")
      val toks = TF.wsTokens(col("text"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.VectorExpressions.tokenSetStats(toks, Seq(terms))
            .getField("hits0").cast("long").as("n_hits"),
          size(array_intersect(array_distinct(toks),
            array(terms.map(lit): _*))).cast("long").as("n_terms"))
        .select(col("doc_id"), col("n_hits"), col("n_terms"),
          (col("n_hits") >= 3 || col("n_terms") >= 2).cast("int")
            .as("flagged"))
    },

    // C58: CORPUS TOKEN DRIFT — add-one-smoothed KL divergence
    // KL(en || L) between the English token distribution and each
    // other language's, the data-drift / domain-shift monitor a
    // training pipeline runs between corpus snapshots or sources.
    // Scale shape: ONE corpus scan → one keyed (lang, token) count
    // exchange; everything after is MODEL-sized (vocab tables), the
    // C24/C42 discipline. Determinism: per-token contributions are
    // quantized to INTEGER micro-units (the C42 DSIR convention) —
    // floor(1e6·(cP+1)·ln(ratio)) where ratio is a quotient of exact
    // integer products — so the per-lang sum is an order-independent
    // BIGINT and the final `kl` is a single division of exact
    // integers, bit-equal across engines.
    Q("corpus_token_drift", {
      s"""WITH t AS (SELECT lang, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |tok AS (SELECT lang, unnest(toks) AS w FROM t),
         |tc AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY lang, w),
         |en AS (SELECT w, c AS c_p FROM tc WHERE lang = 'en'),
         |oth AS (SELECT lang, w, c AS c_q FROM tc WHERE lang <> 'en'),
         |np AS (SELECT CAST(sum(c_p) AS BIGINT) AS n_p FROM en),
         |langs AS (SELECT DISTINCT lang FROM oth),
         |enx AS (SELECT l.lang, e.w, e.c_p FROM en e CROSS JOIN langs l),
         |u AS (SELECT coalesce(a.lang, b.lang) AS lang, coalesce(a.w, b.w) AS w,
         |        coalesce(a.c_p, 0) AS c_p, coalesce(b.c_q, 0) AS c_q
         |      FROM enx a FULL OUTER JOIN oth b ON a.lang = b.lang AND a.w = b.w),
         |tot AS (SELECT lang, CAST(sum(c_q) AS BIGINT) AS n_q,
         |          CAST(count(*) AS BIGINT) AS v FROM u GROUP BY lang),
         |contrib AS (
         |  SELECT u.lang,
         |    CAST(floor((u.c_p + 1) * ln(
         |      CAST((u.c_p + 1) * (t.n_q + t.v) AS DOUBLE) /
         |      CAST((u.c_q + 1) * (p.n_p + t.v) AS DOUBLE)) * 1000000.0) AS BIGINT)
         |      AS k_micro
         |  FROM u JOIN tot t ON u.lang = t.lang CROSS JOIN np p)
         |SELECT c.lang, p.n_p, t.n_q, t.v,
         |  CAST(sum(c.k_micro) AS BIGINT) AS kl_micro,
         |  CAST(sum(c.k_micro) AS DOUBLE) / 1000000.0 / (p.n_p + t.v) AS kl
         |FROM contrib c JOIN tot t ON c.lang = t.lang CROSS JOIN np p
         |GROUP BY c.lang, p.n_p, t.n_q, t.v""".stripMargin
    }) { (s, dir) =>
      val tc = table(s, dir, "documents")
        .select(col("lang"), explode(TF.wsTokens(col("text"))).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // model-sized; cut the explode off replays
      val en = tc.filter(col("lang") === "en").select(col("w"), col("c").as("c_p"))
      val oth = tc.filter(col("lang") =!= "en")
        .select(col("lang"), col("w"), col("c").as("c_q"))
      val nP = en.agg(sum(col("c_p")).as("n_p"))
      val langs = oth.select(col("lang")).distinct()
      val enx = en.crossJoin(broadcast(langs))
      val u = enx.join(oth, Seq("lang", "w"), "full_outer")
        .select(col("lang"), col("w"),
          coalesce(col("c_p"), lit(0L)).as("c_p"),
          coalesce(col("c_q"), lit(0L)).as("c_q"))
      val tot = u.groupBy(col("lang"))
        .agg(sum(col("c_q")).as("n_q"), count(lit(1)).as("v"))
      u.join(tot, Seq("lang")).crossJoin(broadcast(nP))
        .withColumn("k_micro", expr(
          """CAST(floor((c_p + 1) * ln(
            |  CAST((c_p + 1) * (n_q + v) AS DOUBLE) /
            |  CAST((c_q + 1) * (n_p + v) AS DOUBLE)) * 1000000.0) AS BIGINT)""".stripMargin))
        .groupBy(col("lang"), col("n_p"), col("n_q"), col("v"))
        .agg(sum(col("k_micro")).as("kl_micro"))
        .withColumn("kl",
          col("kl_micro").cast("double") / 1000000.0 / (col("n_p") + col("v")))
    },

    // C161: KRIPPENDORFF'S ALPHA over three corpus quality filters
    // (round 13; Krippendorff 1970/2004) — the MULTI-coder
    // chance-corrected agreement C67's pairwise Cohen's κ can't
    // give: three deterministic binary "coders" rate every doc
    // (length ≥ 50 tokens; mean token length in [3, 10] via the
    // integer cross-compare 3·ntok ≤ chars ≤ 10·ntok; digit mass
    // ≤ 10% via 10·digits ≤ chars), and nominal-binary alpha with
    // constant m = 3 reduces EXACTLY to
    // α = 1 − (N−1)·Σ_u n1_u·n0_u / (2·N₁·N₀), N = 3·docs — pure
    // integer products (≤ ~2e8, exact doubles) and ONE division,
    // 6dp floor. The filter-ensemble health check: α near 0 means
    // the filters disagree at chance and a majority vote is noise.
    // Scale shape: one map-only text pass → 3 flags/doc → one
    // map-side-combinable agg to 3 scalars.
    Q("filter_agreement_alpha", {
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(${TF.tokenCountSql("text")} AS BIGINT) AS ntok,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
         |      AS chars,
         |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
         |      AS digits
         |  FROM documents),
         |u AS (
         |  SELECT doc_id,
         |    CAST((CASE WHEN ntok >= 50 THEN 1 ELSE 0 END)
         |      + (CASE WHEN chars >= 3 * ntok AND chars <= 10 * ntok
         |          THEN 1 ELSE 0 END)
         |      + (CASE WHEN 10 * digits <= chars THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n1
         |  FROM d),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n1) AS BIGINT) AS n1_tot,
         |        CAST(sum(n1 * (3 - n1)) AS BIGINT) AS d_obs FROM u)
         |SELECT n_docs, 3 * n_docs AS n_ratings, n1_tot, d_obs,
         |  CASE WHEN n1_tot > 0 AND n1_tot < 3 * n_docs THEN
         |    floor((1.0 - CAST((3 * n_docs - 1) * d_obs AS DOUBLE)
         |      / CAST(2 * n1_tot * (3 * n_docs - n1_tot) AS DOUBLE))
         |      * 1000000 + 0.5) / 1000000 END AS alpha
         |FROM s""".stripMargin
    }) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"),
        size(TF.wsTokens(col("text"))).cast("long")
          .as("ntok"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long")
          .as("chars"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long")
          .as("digits"))
      val u = d.select(
        ((col("ntok") >= 50).cast("long")
          + (col("chars") >= col("ntok") * 3
            && col("chars") <= col("ntok") * 10).cast("long")
          + (lit(10) * col("digits") <= col("chars")).cast("long"))
          .as("n1"))
      u.agg(count(lit(1)).as("n_docs"), sum(col("n1")).as("n1_tot"),
          sum(col("n1") * (lit(3) - col("n1"))).as("d_obs"))
        .select(col("n_docs"), (lit(3) * col("n_docs")).as("n_ratings"),
          col("n1_tot"), col("d_obs"),
          when(col("n1_tot") > 0 && col("n1_tot") < lit(3) * col("n_docs"),
            floor((lit(1.0)
              - ((lit(3) * col("n_docs") - 1) * col("d_obs")).cast("double")
                / (lit(2) * col("n1_tot")
                  * (lit(3) * col("n_docs") - col("n1_tot"))).cast("double"))
              * 1000000 + lit(0.5)) / 1000000).as("alpha"))
    },

    // C160: JENSEN-SHANNON DIVERGENCE between per-SOURCE token
    // distributions (round 13; Lin IEEE-IT 1991) — the SYMMETRIC,
    // bounded companion to C58's directional KL drift (KL explodes
    // when q misses a word; JS(P,Q) = ½KL(P‖M)+½KL(Q‖M), M the
    // mixture, is finite and symmetric — the standard corpus-
    // similarity number in data-mixing reports). Exact spelling on
    // the C58 recipe: add-one smoothing over each pair's union
    // vocab; every ln argument is ONE division of exact BIGINT
    // products — ln(2p/(p+q)) = ln(2(a+1)(B+V) / ((a+1)(B+V) +
    // (b+1)(A+V))), products ≤ ~2e12 ≪ 2^53 so the double casts are
    // exact; per-term micro floors, one mirrored double chain for
    // the read-out. Scale shape: ONE tokenize pass → per-source
    // counts (model-sized), pair expansion on the source dimension
    // only (k(k−1)/2 pairs × vocab), keyed joins throughout.
    Q("corpus_js_divergence", {
      s"""WITH t AS (SELECT source, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |tc AS (SELECT source, unnest(toks) AS w FROM t),
         |cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         |        FROM tc GROUP BY 1, 2),
         |stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
         |         FROM cnt GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS sa, b.source AS sb
         |  FROM stot a JOIN stot b ON a.source < b.source),
         |ua AS (SELECT p.sa, p.sb, c.w, c.c AS a
         |       FROM cnt c JOIN pairs p ON c.source = p.sa),
         |ub AS (SELECT p.sa, p.sb, c.w, c.c AS b
         |       FROM cnt c JOIN pairs p ON c.source = p.sb),
         |u AS (
         |  SELECT coalesce(x.sa, y.sa) AS sa, coalesce(x.sb, y.sb) AS sb,
         |    coalesce(x.w, y.w) AS w,
         |    coalesce(x.a, 0) AS a, coalesce(y.b, 0) AS b
         |  FROM ua x FULL OUTER JOIN ub y
         |    ON x.sa = y.sa AND x.sb = y.sb AND x.w = y.w),
         |pv AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS v
         |       FROM u GROUP BY 1, 2),
         |g AS (
         |  SELECT u.sa, u.sb, u.a, u.b, pv.v,
         |    na.n AS an, nb.n AS bn
         |  FROM u JOIN pv ON u.sa = pv.sa AND u.sb = pv.sb
         |  JOIN stot na ON na.source = u.sa
         |  JOIN stot nb ON nb.source = u.sb),
         |contrib AS (
         |  SELECT sa, sb, v, an, bn,
         |    CAST(floor((a + 1) * ln(
         |      CAST(2 * (a + 1) * (bn + v) AS DOUBLE) /
         |      CAST((a + 1) * (bn + v) + (b + 1) * (an + v) AS DOUBLE))
         |      * 1000000.0) AS BIGINT) AS kp,
         |    CAST(floor((b + 1) * ln(
         |      CAST(2 * (b + 1) * (an + v) AS DOUBLE) /
         |      CAST((a + 1) * (bn + v) + (b + 1) * (an + v) AS DOUBLE))
         |      * 1000000.0) AS BIGINT) AS kq
         |  FROM g)
         |SELECT sa AS source_a, sb AS source_b, an AS n_a, bn AS n_b, v,
         |  CAST(sum(kp) AS BIGINT) AS klp_micro,
         |  CAST(sum(kq) AS BIGINT) AS klq_micro,
         |  floor((CAST(sum(kp) AS DOUBLE) / 1000000.0 / (an + v)
         |    + CAST(sum(kq) AS DOUBLE) / 1000000.0 / (bn + v)) / 2
         |    * 1000000 + 0.5) / 1000000 AS js
         |FROM contrib GROUP BY sa, sb, v, an, bn""".stripMargin
    }) { (s, dir) =>
      val cnt = table(s, dir, "documents")
        .select(col("source"),
          explode(TF.wsTokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // model-sized; cut the explode off replays
      val stot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val pairs = stot.select(col("source").as("sa"))
        .crossJoin(stot.select(col("source").as("sb")))
        .filter(col("sa") < col("sb"))
      val ua = cnt.join(broadcast(pairs), col("source") === col("sa"))
        .select(col("sa"), col("sb"), col("w"), col("c").as("a"))
      val ub = cnt.join(broadcast(pairs), col("source") === col("sb"))
        .select(col("sa"), col("sb"), col("w"), col("c").as("b"))
      val u = ua.join(ub, Seq("sa", "sb", "w"), "full_outer")
        .select(col("sa"), col("sb"),
          coalesce(col("a"), lit(0L)).as("a"),
          coalesce(col("b"), lit(0L)).as("b"))
      val pv = u.groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("v"))
      val g = u.join(broadcast(pv), Seq("sa", "sb"))
        .join(broadcast(stot.select(col("source").as("sa"), col("n").as("an"))),
          Seq("sa"))
        .join(broadcast(stot.select(col("source").as("sb"), col("n").as("bn"))),
          Seq("sb"))
      g.withColumn("kp", expr(
          """CAST(floor((a + 1) * ln(
            |  CAST(2 * (a + 1) * (bn + v) AS DOUBLE) /
            |  CAST((a + 1) * (bn + v) + (b + 1) * (an + v) AS DOUBLE))
            |  * 1000000.0) AS BIGINT)""".stripMargin))
        .withColumn("kq", expr(
          """CAST(floor((b + 1) * ln(
            |  CAST(2 * (b + 1) * (an + v) AS DOUBLE) /
            |  CAST((a + 1) * (bn + v) + (b + 1) * (an + v) AS DOUBLE))
            |  * 1000000.0) AS BIGINT)""".stripMargin))
        .groupBy(col("sa").as("source_a"), col("sb").as("source_b"),
          col("an").as("n_a"), col("bn").as("n_b"), col("v"))
        .agg(sum(col("kp")).as("klp_micro"), sum(col("kq")).as("klq_micro"))
        .withColumn("js",
          floor((col("klp_micro").cast("double") / 1000000.0
              / (col("n_a") + col("v"))
            + col("klq_micro").cast("double") / 1000000.0
              / (col("n_b") + col("v"))) / 2 * 1000000 + lit(0.5))
            / 1000000)
    },

    // C61: HEAPS-LAW VOCABULARY GROWTH — types-vs-tokens curve at ten
    // corpus prefixes (by doc_id), the tokenizer-budget / corpus-size
    // planning curve (V(n) ≈ K·n^β). A token's first appearance is
    // its min doc_id — one keyed agg — and each checkpoint is a pair
    // of conditional integer sums, so the whole curve is TWO
    // map-side-combinable passes + one 10-value driver assembly, with
    // every output an exact integer. (The naive spelling — a global
    // running distinct over token positions — is a single-reducer
    // sort; first-occurrence min is the distributed form.)
    Q("heaps_law_curve", {
      s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         |t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
         |dtoks AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok FROM t),
         |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |firsts AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
         |ks AS (SELECT unnest(range(1, 11)) AS k)
         |SELECT CAST(k AS INT) AS k,
         |  CAST((mx.mx * k) // 10 AS BIGINT) AS threshold,
         |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT) FROM dtoks
         |    WHERE doc_id <= (mx.mx * k) // 10) AS n_tokens,
         |  (SELECT CAST(count(*) AS BIGINT) FROM firsts
         |    WHERE fd <= (mx.mx * k) // 10) AS n_types
         |FROM ks, mx""".stripMargin
    }) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        TF.wsTokens(col("text")).as("toks"))
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val thresholds = (1 to 10).map(kk => kk -> (mx * kk) / 10)
      val dtoks = toks.select(col("doc_id"), size(col("toks")).cast("long").as("ntok"))
      val firsts = toks.select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      val tokCols = thresholds.map { case (kk, th) =>
        sum(when(col("doc_id") <= th, col("ntok")).otherwise(0L)).as(s"t$kk")
      }
      val typeCols = thresholds.map { case (kk, th) =>
        count(when(col("fd") <= th, lit(1))).as(s"y$kk")
      }
      val tokAgg = dtoks.agg(tokCols.head, tokCols.tail: _*).head()
      val typeAgg = firsts.agg(typeCols.head, typeCols.tail: _*).head()
      import s.implicits._
      thresholds.zipWithIndex.map { case ((kk, th), i) =>
        (kk, th, tokAgg.getLong(i), typeAgg.getLong(i))
      }.toDF("k", "threshold", "n_tokens", "n_types")
        .select(col("k").cast("int"), col("threshold"), col("n_tokens"),
          col("n_types"))
    },

    // C64: QUANTILE LENGTH TRIM — drop token-count outliers outside
    // [p05, p95], the "too short to be prose / too long to be a
    // document" corpus filter. The trim edges come from
    // DistributedQuantile.cutValues (streamed two-pass rank
    // SELECTION): the kept set is identical to the interpolated-
    // breakpoint form — `ntok <= b95 ⟺ ntok <= v_lo95`, and
    // `ntok >= b05` needs only the exact integer remainder
    // (rem == 0 ? ntok >= v_lo05 : ntok > v_lo05) — but every value
    // compared or reported is a real data double, engine-stable by
    // construction (the round-13 ulp de-fuse). The kept SET per
    // language is pinned by count + id-sum beside the bracket-rank
    // bounds.
    Q("corpus_length_trim", {
      s"""WITH d AS (SELECT doc_id, lang, CAST(${TF.tokenCountSql("text")} AS BIGINT) AS ntok
         |           FROM documents),
         |rk AS (SELECT CAST(ntok AS DOUBLE) AS v,
         |         row_number() OVER (ORDER BY ntok) - 1 AS r,
         |         count(*) OVER () AS n
         |       FROM d),
         |b AS (SELECT max(CASE WHEN r = (1*(n-1))//20 THEN v END) AS q05,
         |        max(CASE WHEN r = (19*(n-1))//20 THEN v END) AS q95,
         |        max((1*(n-1))%20) AS q05_rem FROM rk),
         |kd AS (
         |  SELECT doc_id, lang, ntok, q05, q95,
         |    CASE WHEN q05_rem = 0 THEN ntok >= q05 ELSE ntok > q05 END
         |      AND ntok <= q95 AS keep
         |  FROM d, b)
         |SELECT lang,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN NOT keep AND ntok <= q05 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_short,
         |  CAST(sum(CASE WHEN ntok > q95 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
         |  CAST(sum(CASE WHEN keep THEN doc_id ELSE 0 END)
         |    AS BIGINT) AS kept_id_sum,
         |  min(q05) AS q05, min(q95) AS q95
         |FROM kd GROUP BY lang""".stripMargin
    }) { (s, dir) =>
      val d = table(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(TF.wsTokens(col("text"))).cast("long").as("ntok"))
      val qs = graft.operators.DistributedQuantile
        .cutValues(d.withColumn("_g", lit("all")), "_g", "ntok",
          Seq(("q05", 1, 20), ("q95", 19, 20)))
        .select(col("q05"), col("q95"), col("q05_rem"))
      val keep = when(col("q05_rem") === 0, col("ntok") >= col("q05"))
        .otherwise(col("ntok") > col("q05")) && col("ntok") <= col("q95")
      d.crossJoin(broadcast(qs))
        .withColumn("keep", keep)
        .groupBy(col("lang"))
        .agg(
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("keep") && col("ntok") <= col("q05"), 1L)
            .otherwise(0L)).as("n_short"),
          sum(when(col("ntok") > col("q95"), 1L).otherwise(0L)).as("n_long"),
          sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"),
          min(col("q05")).as("q05"), min(col("q95")).as("q95"))
    },

    // C65: CROSS-SPLIT NEAR-DUP CONTAMINATION — near-duplicate pairs
    // that STRADDLE the train/test split (doc_id ≡ 0 mod 29 = test):
    // the eval-integrity check that exact-8-gram contamination (C26)
    // misses when the leaked document was lightly edited. Reuses the
    // MinHashLSH operator end-to-end (banded buckets, clone collapse,
    // jaccard verify) — the oracle is the O(n²) jaccard specification
    // restricted to crossing pairs, so the emitted pair SET is exact.
    Q("cross_split_contamination", {
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(toks) - 1),
         |    i -> concat(toks[CAST(i AS INT)], ' ',
         |                toks[CAST(i + 1 AS INT)], ' ',
         |                toks[CAST(i + 2 AS INT)]))) AS grams
         |  FROM t WHERE len(toks) >= 3),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.grams, b.grams))) AS j
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |SELECT
         |  CASE WHEN id_a % 29 = 0 THEN id_a ELSE id_b END AS test_id,
         |  CASE WHEN id_a % 29 = 0 THEN id_b ELSE id_a END AS train_id,
         |  round(j, 4) AS jaccard
         |FROM p
         |WHERE j >= 0.8 AND (id_a % 29 = 0) <> (id_b % 29 = 0)""".stripMargin
    }) { (s, dir) =>
      graft.operators.MinHashLSH
        .nearDupPairs(table(s, dir, "documents"), "doc_id", "text", 0.8)
        .filter((col("id_a") % 29 === 0) =!= (col("id_b") % 29 === 0))
        .select(
          when(col("id_a") % 29 === 0, col("id_a")).otherwise(col("id_b"))
            .as("test_id"),
          when(col("id_a") % 29 === 0, col("id_b")).otherwise(col("id_a"))
            .as("train_id"),
          round(col("jaccard"), 4).as("jaccard"))
    },

    // C67: FILTER AGREEMENT (Cohen's kappa) — how much do two corpus
    // quality filters agree beyond chance? Here: the curation
    // char-length filter vs the token-count filter (the C14/D11
    // thresholds). kappa is spelled as ONE division of exact-integer
    // terms — κ = (N·(n11+n00) − r1·c1 − r0·c0) / (N² − r1·c1 − r0·c0)
    // — so the double compares bit-for-bit; the contingency counts
    // are emitted beside it. One corpus scan, one 4-counter agg.
    Q("filter_agreement_kappa", {
      s"""WITH f AS (
         |  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS f1,
         |    CASE WHEN ${TF.tokenCountSql("text")} >= 30 THEN 1 ELSE 0 END AS f2
         |  FROM documents),
         |c AS (
         |  SELECT
         |    CAST(sum(f1 * f2) AS BIGINT) AS n11,
         |    CAST(sum(f1 * (1 - f2)) AS BIGINT) AS n10,
         |    CAST(sum((1 - f1) * f2) AS BIGINT) AS n01,
         |    CAST(sum((1 - f1) * (1 - f2)) AS BIGINT) AS n00,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM f)
         |SELECT n11, n10, n01, n00, n,
         |  CAST(n * (n11 + n00) - (n11 + n10) * (n11 + n01)
         |    - (n01 + n00) * (n10 + n00) AS DOUBLE)
         |  / (n * n - (n11 + n10) * (n11 + n01) - (n01 + n00) * (n10 + n00))
         |    AS kappa
         |FROM c""".stripMargin
    }) { (s, dir) =>
      table(s, dir, "documents")
        .select(
          when(col("n_chars") >= 200, 1L).otherwise(0L).as("f1"),
          when(size(TF.wsTokens(col("text"))) >= 30, 1L)
            .otherwise(0L).as("f2"))
        .agg(
          sum(col("f1") * col("f2")).as("n11"),
          sum(col("f1") * (lit(1) - col("f2"))).as("n10"),
          sum((lit(1) - col("f1")) * col("f2")).as("n01"),
          sum((lit(1) - col("f1")) * (lit(1) - col("f2"))).as("n00"),
          count(lit(1)).as("n"))
        .withColumn("kappa", expr(
          """CAST(n * (n11 + n00) - (n11 + n10) * (n11 + n01)
            |  - (n01 + n00) * (n10 + n00) AS DOUBLE)
            |/ (n * n - (n11 + n10) * (n11 + n01) - (n01 + n00) * (n10 + n00))"""
            .stripMargin))
    },

    // C72: PII SCAN REPORT — per-language detection rates for the
    // C13 scrub patterns (emails, URLs, long digit runs) BEFORE
    // redaction: the "how much PII is in this source" audit that
    // decides whether a source needs review rather than blanket
    // scrubbing. One scan, conditional counts; occurrence counts are
    // non-overlapping left-to-right regex matches, which both
    // engines' regex machinery produce identically (the text_scrub
    // contract).
    Q("pii_scan_report",
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS docs_email,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))) AS BIGINT) AS n_email,
        |  CAST(sum(CASE WHEN regexp_matches(text, 'https?://[^ ]+')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_url,
        |  CAST(sum(len(regexp_extract_all(text, 'https?://[^ ]+'))) AS BIGINT)
        |    AS n_url,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[0-9]{4,}')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_num,
        |  CAST(sum(len(regexp_extract_all(text, '[0-9]{4,}'))) AS BIGINT) AS n_num
        |FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
      val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val urlPat = "https?://[^ ]+"
      val numPat = "[0-9]{4,}"
      def hits(pat: String): Column = regexp_count(col("text"), lit(pat))
      table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(hits(emailPat) > 0, 1L).otherwise(0L)).as("docs_email"),
          sum(hits(emailPat).cast("long")).as("n_email"),
          sum(when(hits(urlPat) > 0, 1L).otherwise(0L)).as("docs_url"),
          sum(hits(urlPat).cast("long")).as("n_url"),
          sum(when(hits(numPat) > 0, 1L).otherwise(0L)).as("docs_num"),
          sum(hits(numPat).cast("long")).as("n_num"))
    },

    // C126: YULE'S K lexical-richness characteristic (Yule 1944;
    // Tweedie & Baayen 1998 show it's the length-STABLE member of the
    // richness family — Heaps C66 and distinct-n C114 grow with
    // sample size, K converges): per source, K = 10⁴·(Σ_m m²V(m) − N)
    // / N² over the frequency-of-frequencies spectrum — a repetitive/
    // templated source scores high K, diverse prose low. Exactness:
    // Σ m²V(m) = Σ_types c² in DECIMAL(38,0)/HUGEINT (c² sums pass
    // BIGINT at the ×1000 token grain), ONE division, 6dp floor.
    // Scale shape: one explode + (source, token) count (map-side
    // combined), one keyed rollup — the C10/C112 token-grain shape.
    Q("text_yule_k",
      s"""WITH tok AS (
         |  SELECT source, unnest(${TF.wsTokensSql("text")})
         |    AS t
         |  FROM documents),
         |tc AS (
         |  SELECT source, t, CAST(count(*) AS BIGINT) AS c
         |  FROM tok WHERE t <> '' GROUP BY 1, 2),
         |s AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS v,
         |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2
         |  FROM tc GROUP BY 1)
         |SELECT source, n AS n_tokens, v AS n_types,
         |  CASE WHEN n > 0 THEN
         |    floor(10000.0 * CAST(sc2 - n AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * n) * 1000000 + 0.5) / 1000000
         |    END AS yule_k
         |FROM s""".stripMargin) { (s, dir) =>
      val tc = table(s, dir, "documents")
        .select(col("source"),
          explode(TF.wsTokens(col("text")))
            .as("t"))
        .filter(col("t") =!= "")
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      tc.groupBy(col("source"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("v"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("sc2"))
        .select(col("source"), col("n").as("n_tokens"),
          col("v").as("n_types"),
          when(col("n") > 0,
            floor(lit(10000.0) * (col("sc2") - col("n")).cast("double")
              / (col("n").cast("double") * col("n"))
              * lit(1000000) + lit(0.5)) / lit(1000000)).as("yule_k"))
    },

    // C132: N-GRAM NOVELTY vs the train split (McCoy et al. TACL 2023
    // "RAVEN" n-gram novelty; the memorization-vs-generalization
    // read-out Carlini et al. 2023 take on generations, here applied
    // corpus-side to the eval split): for each EVAL doc (doc_id % 10
    // ≥ 8, the C72 dataset_split convention), the fraction of its
    // distinct word 4-grams that never appear in ANY train doc. Low
    // novelty = the eval split leaks training text (the gram-grain
    // complement of C73's decontaminate, which flags whole docs).
    // Exactness: distinct-gram counts are integers off the engine's
    // fmix64 gram hashes — REPLAYED EXACTLY in DuckDB via the C3
    // HUGEINT machinery... no: the oracle needs no hash at all — it
    // compares the gram STRINGS (the specification); the Spark side
    // joins on TokenNgramHashes for shuffle width (8 B vs ~40 B
    // keys), exact because fmix64 grams collide with probability
    // ~n²/2⁶⁴ and the C1 fingerprint convention (collision = loud
    // assert) applies. ONE division, 6dp. Scale: gram explode +
    // distinct + anti-join — linear keyed shuffles.
    Q("ngram_novelty",
      s"""WITH tk AS (
        |  SELECT doc_id, ${TF.wsTokensSql("text")}
        |    AS t
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(t[CAST(i AS INT):CAST(i + 3 AS INT)], ' ')
        |      AS gram
        |  FROM tk, unnest(range(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 4),
        |train AS (
        |  SELECT DISTINCT gram FROM g WHERE doc_id % 10 < 8),
        |ev AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 >= 8),
        |nov AS (
        |  SELECT e.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM ev e LEFT JOIN train t ON e.gram = t.gram
        |  GROUP BY 1)
        |SELECT doc_id, n_grams, n_novel,
        |  floor(CAST(n_novel AS DOUBLE) / n_grams * 1000000 + 0.5)
        |    / 1000000 AS novelty
        |FROM nov""".stripMargin) { (s, dir) =>
      val tk = table(s, dir, "documents")
        .select(col("doc_id"),
          TF.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) >= 4)
      // 8-byte fmix64 gram hashes instead of ~40-byte gram strings on
      // the shuffle (the C2/C61 discipline); TokenNgramHashes is
      // already distinct-per-doc by construction.
      val g = tk.select(col("doc_id"),
        explode(graft.functions.VectorExpressions
          .tokenNgramHashes(col("t"), 4)).as("gh"))
      val train = g.filter(col("doc_id") % 10 < 8)
        .select(col("gh")).distinct()
      val ev = g.filter(col("doc_id") % 10 >= 8)
      ev.join(train.withColumn("hit", lit(1)), Seq("gh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("hit").isNull, lit(1L)).otherwise(lit(0L)))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (floor(col("n_novel").cast("double") / col("n_grams")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("novelty"))
    },

    // C112: ZIPF'S-LAW FIT (Zipf 1949; Piantadosi 2014 review) —
    // the rank-frequency power-law exponent of the corpus unigram
    // distribution, the companion diagnostic to Heaps' law C61 (Heaps
    // measures vocabulary GROWTH, Zipf the frequency DECAY; a corpus
    // whose slope drifts from ≈−1 signals template/boilerplate
    // contamination or synthetic text). Exact spelling: token counts
    // collapse to the VOCAB grain; ranks are (freq DESC, token ASC)
    // row_numbers over that grain (model-sized by Heaps' law — the
    // stated bound for the one unpartitioned window); the log-log OLS
    // runs on ln(rank), ln(freq) quantized to the exact 1e-6 integer
    // grid (the C34/B133 convention — sub-ulp libm drift is absorbed
    // by the grid, and every OLS sum is then order-independent BIGINT/
    // DECIMAL(38,0) arithmetic). slope = (nΣxy−ΣxΣy)/(nΣxx−Σx²) and
    // intercept = (ΣyΣxx−ΣxΣxy)/(nΣxx−Σx²) — exact integer products
    // into ONE double division each, 6dp floor. Top-1000 ranks fitted;
    // top-20 rows emitted with the fit constants attached.
    Q("zipf_law_fit",
      s"""WITH t AS (SELECT ${TF.wsTokensSql("text")} AS toks FROM documents),
        |tok AS (SELECT unnest(toks) AS w FROM t),
        |vc AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
        |       FROM tok WHERE w <> '' GROUP BY w),
        |r AS (
        |  SELECT w, freq,
        |    CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rnk
        |  FROM vc),
        |g AS (
        |  SELECT rnk, w, freq,
        |    CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |      AS x,
        |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |      AS y
        |  FROM r WHERE rnk <= 1000),
        |s AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM g),
        |fit AS (
        |  SELECT
        |    CASE WHEN n * sxx > sx * sx THEN
        |      floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5)
        |        / 1000000 END AS slope,
        |    CASE WHEN n * sxx > sx * sx THEN
        |      floor(CAST(sy * sxx - sx * sxy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5)
        |        / 1000000 END AS intercept,
        |    CAST(n AS BIGINT) AS n_ranks
        |  FROM s)
        |SELECT rnk, w AS token, freq, n_ranks, slope, intercept
        |FROM g, fit WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      val vc = table(s, dir, "documents")
        .select(explode(TF.wsTokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      // vocab grain from here on (Heaps-bounded — the one
      // unpartitioned window runs on that bound)
      val r = vc.select(col("w"), col("freq"),
        row_number().over(
          Window.orderBy(col("freq").desc, col("w"))).cast("long").as("rnk"))
      val g = r.filter(col("rnk") <= 1000)
        .select(col("rnk"), col("w"), col("freq"),
          floor(log(col("rnk").cast("double")) * 1000000 + lit(0.5))
            .cast("long").as("x"),
          floor(log(col("freq").cast("double")) * 1000000 + lit(0.5))
            .cast("long").as("y"))
        .localCheckpoint() // feeds the fit and the top-20 output
      val fit = g.agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x")).cast("decimal(38,0)").as("sx"),
          sum(col("y")).cast("decimal(38,0)").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
        .select(
          when(col("n") * col("sxx") > col("sx") * col("sx"),
            floor((col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") * 1000000 + lit(0.5)) / 1000000)
            .as("slope"),
          when(col("n") * col("sxx") > col("sx") * col("sx"),
            floor((col("sy") * col("sxx") - col("sx") * col("sxy"))
                .cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") * 1000000 + lit(0.5)) / 1000000)
            .as("intercept"),
          col("n").cast("long").as("n_ranks"))
      g.filter(col("rnk") <= 20)
        .select(col("rnk"), col("w").as("token"), col("freq"))
        .crossJoin(broadcast(fit))
        .select(col("rnk"), col("token"), col("freq"), col("n_ranks"),
          col("slope"), col("intercept"))
    },

    // C113: TOKEN BURSTINESS — the variance-to-mean ratio (Fisher
    // dispersion index) of each token's per-document count over the
    // WHOLE corpus including zero-docs (Church & Gale 1995: content
    // words are bursty — they cluster in few documents — while
    // function words are Poisson-ish; burstiness separates topical
    // terms from glue, the term-weighting signal TF-IDF approximates).
    // Exact spelling: VMR = var/mean = (N·Σc² − cf²)/(N·cf) — the
    // zero-docs enter ONLY through N, so the per-token sufficient
    // statistics (cf = Σc, Σc², df) come off the TF grain; all
    // products in DECIMAL(38,0)/HUGEINT, ONE double division, ranked
    // on that exact quotient (identical in both engines), 6dp floor
    // emitted. Top-20 by (vmr DESC, token) among tokens in ≥ 5 docs.
    // Scale shape: one (doc,token) count (the TF grain — linear in
    // corpus tokens, map-side combinable), one vocab-grain rollup,
    // one vocab-bounded window.
    Q("token_burstiness",
      s"""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |t AS (SELECT doc_id, ${TF.wsTokensSql("text")} AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |       FROM tok WHERE w <> '' GROUP BY doc_id, w),
        |vg AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(c) AS BIGINT) AS cf,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2
        |  FROM tf GROUP BY w),
        |v AS (
        |  SELECT w, df, cf,
        |    CAST(n * sc2 - CAST(cf AS HUGEINT) * cf AS DOUBLE)
        |      / CAST(n * CAST(cf AS HUGEINT) AS DOUBLE) AS vmr
        |  FROM vg, nd WHERE df >= 5),
        |r AS (
        |  SELECT w, df, cf, vmr,
        |    CAST(row_number() OVER (ORDER BY vmr DESC, w) AS BIGINT) AS rnk
        |  FROM v)
        |SELECT rnk, w AS token, df, cf,
        |  floor(vmr * 1000000 + 0.5) / 1000000 AS burstiness
        |FROM r WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val nDocs = docs.agg(count(lit(1)).as("n"))
      val tf = docs.select(col("doc_id"), explode(TF.wsTokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      val vg = tf.groupBy(col("w"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("sc2"))
        .filter(col("df") >= 5)
        .crossJoin(broadcast(nDocs))
        .select(col("w"), col("df"), col("cf"),
          ((col("n").cast("decimal(38,0)") * col("sc2")
            - col("cf").cast("decimal(38,0)") * col("cf")).cast("double")
            / (col("n").cast("decimal(38,0)") * col("cf")).cast("double"))
            .as("vmr"))
      // vocab grain (Heaps-bounded) — the one unpartitioned window
      vg.select(col("w"), col("df"), col("cf"), col("vmr"),
          row_number().over(Window.orderBy(col("vmr").desc, col("w")))
            .cast("long").as("rnk"))
        .filter(col("rnk") <= 20)
        .select(col("rnk"), col("w").as("token"), col("df"), col("cf"),
          (floor(col("vmr") * 1000000 + lit(0.5)) / 1000000)
            .as("burstiness"))
    },

    // C114: DISTINCT-N DIVERSITY — distinct-n-gram / total-n-gram
    // ratios per source for n = 1, 2, 3 (Li et al. NAACL 2016's
    // "distinct-N"; the standard NLG/corpus diversity metric —
    // near-duplicate or templated sources score low at n=2,3 long
    // before exact dedup fires). Exact spelling: counts are exact
    // BIGINTs per (source, n); three independent one-division ratios,
    // 6dp floor. Scale shape: the n-gram explode is ≤ 3× the token
    // scan (linear); distinct-counting shuffles on (source, ngram) —
    // map-side combinable, the dedup-exact shape. The n-gram window
    // never crosses a document boundary.
    Q("distinct_ngram_diversity",
      s"""WITH t AS (SELECT source, ${TF.wsTokensSql("text")} AS toks FROM documents),
        |grams AS (
        |  SELECT source, 1 AS n, unnest(toks) AS gram
        |  FROM t WHERE len(toks) >= 1
        |  UNION ALL
        |  SELECT source, 2 AS n,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> concat(toks[CAST(i AS INT)], ' ',
        |                  toks[CAST(i + 1 AS INT)])))
        |  FROM t WHERE len(toks) >= 2
        |  UNION ALL
        |  SELECT source, 3 AS n,
        |    unnest(list_transform(range(1, len(toks) - 1),
        |      i -> concat(toks[CAST(i AS INT)], ' ',
        |                  toks[CAST(i + 1 AS INT)], ' ',
        |                  toks[CAST(i + 2 AS INT)])))
        |  FROM t WHERE len(toks) >= 3),
        |c AS (
        |  SELECT source, n, gram, CAST(count(*) AS BIGINT) AS cnt
        |  FROM grams GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT source, CAST(n AS INT) AS n,
        |    CAST(sum(cnt) AS BIGINT) AS total_ngrams,
        |    CAST(count(*) AS BIGINT) AS distinct_ngrams
        |  FROM c GROUP BY 1, 2)
        |SELECT source, n, total_ngrams, distinct_ngrams,
        |  floor(CAST(distinct_ngrams AS DOUBLE) / CAST(total_ngrams AS DOUBLE)
        |    * 1000000 + 0.5) / 1000000 AS diversity
        |FROM g""".stripMargin) { (s, dir) =>
      // Round-14 optimization (guide §2.3, extending the r13
      // hash-on-the-exchange): the readout needs only gram IDENTITY,
      // so hash every TOKEN to 8 bytes ONCE per document and derive
      // each n-gram's identity by hashing the n member hashes —
      // no concatenated gram string is ever built (r13 still
      // allocated one string per gram before hashing it), the
      // checkpoint carries array<long> instead of array<string>, and
      // the explode emits longs. Identical up to 64-bit collisions —
      // the same declared contract as r13 (the oracle keeps counting
      // strings); n=1 identities are bit-identical to r13's. A
      // collision between two TOKEN hashes is not confined to one
      // gram: it merges every n-gram that contains those tokens at
      // the same position, since gram identity is built from the
      // member-token hashes.
      val t = table(s, dir, "documents")
        .select(col("source"),
          transform(TF.wsTokens(col("text")), tk => xxhash64(tk)).as("hs"))
        .localCheckpoint() // feeds three n-gram explodes
      def grams(n: Int): org.apache.spark.sql.DataFrame = {
        val gcol =
          if (n == 1) explode(col("hs"))
          else explode(expr(
            s"transform(sequence(1, size(hs) - ${n - 1}), " +
              s"i -> xxhash64(${(0 until n)
                .map(k => s"element_at(hs, i + $k)").mkString(", ")}))"))
        t.filter(size(col("hs")) >= n)
          .select(col("source"), lit(n).as("n"), gcol.as("gram"))
      }
      (1 to 3).map(grams).reduce(_ unionAll _)
        .groupBy(col("source"), col("n"), col("gram"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"), col("n"))
        .agg(sum(col("cnt")).as("total_ngrams"),
          count(lit(1)).as("distinct_ngrams"))
        .select(col("source"), col("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          (floor(col("distinct_ngrams").cast("double")
            / col("total_ngrams").cast("double") * 1000000 + lit(0.5))
            / 1000000).as("diversity"))
    },

    // C-extra: corpus n-gram statistics — top-5 word bigrams per
    // language. Explode is the fused TokenPairs kernel (no
    // interpreted HOF lambda); the top-5-per-lang step is the
    // TopKPerKey whole-operator, NOT a row_number window — lang has
    // ~5 values, so the window spelling would shuffle the ENTIRE
    // bigram-count table into 5 tasks and fully sort each, while
    // TopKPerKey keeps 5-row bounded heaps with a map-side combine.
    Q("text_top_bigrams",
      s"""WITH t AS (
        |  SELECT lang,
        |    ${TF.wsTokensSql("text")} AS toks
        |  FROM documents),
        |b AS (
        |  SELECT lang, unnest(list_transform(range(1, len(toks)),
        |    i -> concat(toks[CAST(i AS INT)], ' ', toks[CAST(i + 1 AS INT)]))) AS bigram
        |  FROM t),
        |c AS (SELECT lang, bigram, count(*) AS n FROM b GROUP BY lang, bigram),
        |r AS (SELECT lang, bigram, n,
        |        row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rn
        |      FROM c)
        |SELECT lang, bigram, n, rn FROM r WHERE rn <= 5""".stripMargin) { (s, dir) =>
      val counts = table(s, dir, "documents")
        .select(col("lang"),
          TF.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2) // mirror DuckDB's empty range()
        .select(col("lang"),
          explode(graft.functions.VectorExpressions.tokenPairs(col("toks"))).as("bg"))
        .select(col("lang"), concat_ws(" ", col("bg.w1"), col("bg.w2")).as("bigram"))
        .groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("n"))
      // (n desc, bigram) is total per lang — bigram is unique after
      // the groupBy — so ranks equal the row_number spelling exactly.
      graft.plans.TopK.perKey(counts, Seq("lang"),
          Seq(("n", false), ("bigram", true)), 5)
        .withColumnRenamed("rnk", "rn")
    },

    // C157: CORPUS SOURCE CONCENTRATION — Herfindahl-Hirschman index
    // (round 12; the antitrust HHI applied to data mixing — the
    // one-number "is my corpus dominated by one crawl" diagnostic
    // that motivates C48's domain cap and C33/C81/C87's rebalancers;
    // 1/HHI is the effective number of sources, the diversity count
    // C104's datacard reports per-source rows for): HHI = Σ_s
    // (n_s/N)² = Σn_s²/N² — ONE division of exact widened integers;
    // effective sources = N²·1e6 div Σn_s² in micro-units (exact
    // integer division, no double reciprocal); top share ONE more
    // exact division. Scale shape: one map-side-combinable keyed
    // count; everything after on the source-sized model relation.
    Q("corpus_hhi",
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |    CAST(sum(n) AS BIGINT) AS total,
        |    CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sq
        |  FROM g),
        |top AS (
        |  SELECT source AS top_source, n AS top_n FROM g
        |  ORDER BY n DESC, source LIMIT 1)
        |SELECT s.n_sources, top.top_source,
        |  floor(CAST(top.top_n AS DOUBLE) / s.total * 1000000 + 0.5)
        |    / 1000000 AS top_share,
        |  floor(CAST(s.sq AS DOUBLE)
        |    / (CAST(s.total AS DOUBLE) * s.total) * 1000000 + 0.5)
        |    / 1000000 AS hhi,
        |  CAST((CAST(s.total AS HUGEINT) * s.total * 1000000) // s.sq
        |    AS BIGINT) AS effective_sources_micro
        |FROM s, top""".stripMargin) { (s, dir) =>
      val g = table(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .localCheckpoint() // totals + top read the model relation
      val st = g.agg(count(lit(1)).as("n_sources"),
        sum(col("n")).as("total"),
        sum(col("n").cast("decimal(38,0)") * col("n")).as("sq"))
      val top = g.orderBy(col("n").desc, col("source")).limit(1)
        .select(col("source").as("top_source"), col("n").as("top_n"))
      broadcast(st).crossJoin(broadcast(top))
        .select(col("n_sources"), col("top_source"),
          (floor(col("top_n").cast("double") / col("total")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("top_share"),
          (floor(col("sq").cast("double")
            / (col("total").cast("double") * col("total"))
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("hhi"),
          expr("""cast((cast(total as decimal(38,0)) * total * 1000000)
                 |  div sq as bigint)""".stripMargin)
            .as("effective_sources_micro"))
    },

    // C109: WASSERSTEIN-1 (earth mover's) distance between per-
    // language document-length distributions — the third canonical
    // distribution distance beside PSI (D35, needs smoothing) and KS
    // (B120/D36, sup-norm): EMD is the INTEGRAL of |CDF difference|,
    // so it sees "how far apart" mass sits, not just the worst bin —
    // the corpus-mixture drift metric that ranks language/source
    // pairs by how much rebalancing work separates them (Rubner et
    // al. 2000). On the shared 64-bin length domain EMD has the exact
    // closed form Σ_b |CDF_a(b) − CDF_b(b)| (in bin units). Exact
    // spelling: cross-multiplied integer CDFs — Σ_b |cum_a·n_b −
    // cum_b·n_a| is a BIGINT (≤ 64·n²  < 2^63 to ~380M docs/lang),
    // ONE division by n_a·n_b, 6dp floor. Scale shape: one map-only
    // binning pass + keyed (lang, bin) count (map-side combined);
    // everything after is langs×64 (model-sized — the windows below
    // run on that stated bound).
    Q("hist_emd_langs",
      """WITH c AS (
        |  SELECT lang, least(n_chars // 32, 63) AS bin,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |l AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
        |grid AS (
        |  SELECT l.lang, l.n, CAST(unnest(range(64)) AS BIGINT) AS bin
        |  FROM l),
        |cdf AS (
        |  SELECT g.lang, g.n, g.bin,
        |    CAST(sum(coalesce(c.cnt, 0)) OVER (
        |      PARTITION BY g.lang ORDER BY g.bin) AS BIGINT) AS cum
        |  FROM grid g LEFT JOIN c ON g.lang = c.lang AND g.bin = c.bin),
        |p AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b, a.n AS n_a, b.n AS n_b,
        |    CAST(sum(abs(a.cum * b.n - b.cum * a.n)) AS BIGINT) AS emd_num
        |  FROM cdf a JOIN cdf b ON a.bin = b.bin AND a.lang < b.lang
        |  GROUP BY 1, 2, 3, 4)
        |SELECT lang_a, lang_b, n_a, n_b, emd_num,
        |  floor(CAST(emd_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
        |    * 1000000 + 0.5) / 1000000 AS emd_bins
        |FROM p""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "documents")
        .select(col("lang"),
          least(expr("n_chars div 32"), lit(63L)).as("bin"))
        .groupBy(col("lang"), col("bin")).agg(count(lit(1)).as("cnt"))
      val l = c.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      // dense 64-bin domain per lang (langs×64 — model-sized)
      val grid = l.crossJoin(
        broadcast(s.range(64).select(col("id").as("bin"))))
      val cdf = grid.join(c, Seq("lang", "bin"), "left")
        .select(col("lang"), col("n"), col("bin"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("lang")).orderBy(col("bin"))))
      val a = cdf.select(col("lang").as("lang_a"), col("n").as("n_a"),
        col("bin"), col("cum").as("cum_a"))
      val b = cdf.select(col("lang").as("lang_b"), col("n").as("n_b"),
        col("bin").as("bin_b"), col("cum").as("cum_b"))
      a.join(b, col("bin") === col("bin_b") && col("lang_a") < col("lang_b"))
        .groupBy(col("lang_a"), col("lang_b"), col("n_a"), col("n_b"))
        .agg(sum(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .as("emd_num"))
        .select(col("lang_a"), col("lang_b"), col("n_a"), col("n_b"),
          col("emd_num"),
          (floor(col("emd_num").cast("double")
            / (col("n_a") * col("n_b")).cast("double")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("emd_bins"))
    },

    // C110: INVERTED-INDEX posting lists with delta (gap) encoding —
    // the IR-engine build step (Zobel & Moffat 2006): per rare-ish
    // term (length ≥ 4 — the content-word band of this corpus) its document
    // frequency and the FIRST ≤8 doc ids as gaps (first id, then
    // successive differences — the compression-friendly layout real
    // indexes store). Determinism: terms deduped per doc, postings
    // strictly ascending doc_id, gaps rendered as one CSV string so
    // the oracle compares exact bytes. Scale shape: the cap runs
    // through the bounded-heap TopKPerKey physical operator (B39) —
    // k·|terms-per-partition| memory, never a full per-term sort of
    // the posting relation; df is a map-side-combined keyed count.
    Q("inverted_index_postings",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    ${TF.wsTokensSql("text")})) AS term
         |  FROM documents),
         |t AS (SELECT term, doc_id FROM toks WHERE length(term) >= 4),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |       FROM t GROUP BY term),
         |r AS (
         |  SELECT term, doc_id,
         |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
         |    doc_id - coalesce(lag(doc_id) OVER (
         |      PARTITION BY term ORDER BY doc_id), 0) AS gap
         |  FROM t),
         |p AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS n_postings,
         |    string_agg(CAST(gap AS VARCHAR), ',' ORDER BY doc_id)
         |      AS postings
         |  FROM r WHERE rn <= 8 GROUP BY term)
         |SELECT p.term, df.df, p.n_postings, p.postings
         |FROM p JOIN df USING (term)""".stripMargin) { (s, dir) =>
      val t = table(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(
          TF.wsTokens(col("text")))).as("term"))
        .filter(length(col("term")) >= 4)
      val df = t.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val top8 = graft.plans.TopK.perKey(
        t, Seq("term"), Seq(("doc_id", true)), 8)
      val p = top8.groupBy(col("term"))
        .agg(count(lit(1)).as("n_postings"),
          sort_array(collect_list(col("doc_id"))).as("ids"))
        .select(col("term"), col("n_postings"),
          expr("""array_join(transform(ids, (x, i) ->
            cast(x - if(i = 0, cast(0 as bigint), element_at(ids, i))
            as string)), ',')""").as("postings"))
      p.join(df, "term")
        .select(col("term"), col("df"), col("n_postings"), col("postings"))
    },

    // C77: LENGTH-BUCKETED BATCH SCHEDULING — the padding-waste
    // minimizer of LLM training/serving: docs bucket to the next
    // power-of-two token length (an INTEGER CASE ladder — a float
    // log2 would flip exact-power boundaries), each bucket packs
    // fixed-capacity batches of padded tokens, and the report states
    // per-batch utilization in integer micro-units. The per-bucket
    // dense index comes from DistributedPrefixSum (two streamed
    // passes keyed on the bucket — never a global window); everything
    // downstream of the index is a keyed agg.
    Q("length_bucket_batches", {
      val ladder = (4 to 13).map(1 << _) // 16 .. 8192
      val caseSql = "CASE " + ladder.map(b => s"WHEN n <= $b THEN $b")
        .mkString(" ") + " ELSE -1 END"
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents),
         |b AS (SELECT doc_id, n, CAST($caseSql AS BIGINT) AS bucket_len FROM t
         |      WHERE n <= ${ladder.last}),
         |ix AS (
         |  SELECT doc_id, n, bucket_len,
         |    row_number() OVER (PARTITION BY bucket_len ORDER BY doc_id) - 1 AS ix
         |  FROM b),
         |bt AS (
         |  SELECT bucket_len, ix // (16384 // bucket_len) AS batch_id, n
         |  FROM ix)
         |SELECT bucket_len, CAST(batch_id AS BIGINT) AS batch_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS token_sum,
         |  CAST(count(*) * bucket_len AS BIGINT) AS padded_tokens,
         |  CAST((sum(n) * 1000000) // (count(*) * bucket_len) AS BIGINT)
         |    AS utilization_micro
         |FROM bt GROUP BY 1, 2""".stripMargin
    }) { (s, dir) =>
      val ladder = (4 to 13).map(1 << _)
      val bucket = ladder.foldRight(lit(-1L): org.apache.spark.sql.Column) {
        (b, acc) => when(col("n") <= b, b.toLong).otherwise(acc)
      }
      // Docs past the top rung (n > 8192) have no power-of-two bucket
      // (bucket_len = -1 → negative batch capacity, and Spark's
      // truncating `div` diverges from a flooring `//` on negative
      // quotients) — a scheduler would truncate or reject them
      // upstream, so both engines exclude them identically here.
      val t = table(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n"))
        .filter(col("n") <= ladder.last.toLong)
        .withColumn("bucket_len", bucket)
        .withColumn("_one", lit(1L))
      graft.operators.DistributedPrefixSum
        .running(t, "bucket_len", Seq("doc_id"), "_one", "rk")
        .select(col("bucket_len"), col("n"),
          expr("(rk - 1) div (16384 div bucket_len)").as("batch_id"))
        .groupBy(col("bucket_len"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("token_sum"))
        .select(col("bucket_len"), col("batch_id"), col("n_docs"),
          col("token_sum"),
          (col("n_docs") * col("bucket_len")).as("padded_tokens"),
          expr("(token_sum * 1000000) div (n_docs * bucket_len)")
            .as("utilization_micro"))
    })
}
