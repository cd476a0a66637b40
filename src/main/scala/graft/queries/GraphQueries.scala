package graft.queries

import graft.GraftSession.table
import graft.functions.{TextFunctions => TF}
import graft.operators.{PageRank, TriangleBitset}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph family: every graph query, over three projections.
  *   - Part co-order: parts (`l_partkey % TriangleBitset.Nodes`) are
  *     adjacent when they share an order.
  *   - Customer↔supplier trade: nodes custkey·2 and suppkey·2+1 keep
  *     the two key spaces disjoint in one LONG domain.
  *   - Word co-occurrence (textrank_keywords): adjacent tokens.
  * Each shared step has one Spark and one DuckDB spelling below. An
  * oracle that spells a step differently (kcore's `e0`, minplus's
  * weighted edges) keeps its own text, so the oracle SQL stays
  * byte-identical.
  */
object GraphQueries {

  // ---- part co-order projection

  /** Oracle twin of `TriangleBitset.coOrderEdges`: CTEs `it` (order,
    * node) and `e` (u < v).
    */
  private val coOrderEdgesCte =
    s"""it AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey % ${TriangleBitset.Nodes} AS node
       |  FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.node AS u, b.node AS v
       |  FROM it a JOIN it b ON a.ok = b.ok AND a.node < b.node)""".stripMargin

  /** Oracle twin of `TriangleBitset.degrees`: CTE `deg` (n, d) over `e`. */
  private val degCte =
    """deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
      |    SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
      |  GROUP BY n)""".stripMargin

  /** Oracle twin of `TriangleBitset.orient`: CTE `o` (src, dst, ddeg =
    * the dst degree) over `e` and `deg`.
    */
  private val orientCte = {
    val ord = "du.d < dv.d OR (du.d = dv.d AND e.u < e.v)"
    s"""o AS (
       |  SELECT CASE WHEN $ord THEN e.u ELSE e.v END AS src,
       |         CASE WHEN $ord THEN e.v ELSE e.u END AS dst,
       |         CASE WHEN $ord THEN dv.d ELSE du.d END AS ddeg
       |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v)""".stripMargin
  }

  /** Both directions of each undirected edge (a, b), renamed to
    * (from, to): the adjacency and the two-way edge list PageRank
    * walks.
    */
  private def bothWays(e: DataFrame, a: String, b: String,
      from: String, to: String): DataFrame =
    e.select(col(a).as(from), col(b).as(to))
      .unionByName(e.select(col(b).as(from), col(a).as(to)))

  private def adjacency(e: DataFrame): DataFrame =
    bothWays(e, "u", "v", "node", "nbr")

  /** The (ctr, nbr, d) adjacency of centers with degree 2..64: the hub
    * cap that bounds the wedge queries at 2,016 pairs per center.
    */
  private def cappedCenters(e: DataFrame): DataFrame =
    bothWays(e, "u", "v", "ctr", "nbr")
      .join(TriangleBitset.degrees(e).withColumnRenamed("n", "ctr"), Seq("ctr"))
      .filter(col("d").between(2, 64))

  /** p = each (u < w) pair of a center's sorted neighbor list `ns`. */
  private def wedgePairs: Column = explode(expr(
    """flatten(transform(ns, (x, i) ->
      |  transform(slice(ns, i + 2, size(ns)),
      |    y -> struct(x AS u, y AS w))))""".stripMargin)).as("p")

  /** Two synchronous label-propagation rounds over the adjacency
    * (node, nbr) → (node, lbl): every node starts as its own label and
    * adopts the most frequent neighbor label, ties → the smallest,
    * argmax spelled as one max_by over the packed (cnt·2⁴¹ − label).
    */
  private def labelProp(adj: DataFrame): DataFrame = {
    val l0 = adj.select(col("node")).distinct().withColumn("lbl", col("node"))
    def round(lbls: DataFrame): DataFrame = adj
      .join(lbls.select(col("node").as("nbr"), col("lbl").as("nlbl")), Seq("nbr"))
      .groupBy(col("node"), col("nlbl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("node"))
      .agg(max_by(col("nlbl"),
        (col("cnt") * 2199023255552L - col("nlbl")).cast("long")).as("lbl"))
    round(round(l0))
  }

  /** Oracle twin of `adjacency` + `labelProp`: CTEs `adj` … `l2` over `e`. */
  private val labelPropCtes = {
    val pick = "CAST(arg_max(nlbl, CAST(cnt * 2199023255552 - nlbl AS BIGINT)) AS BIGINT)"
    s"""adj AS (SELECT u AS node, v AS nbr FROM e
       |        UNION ALL SELECT v AS node, u AS nbr FROM e),
       |l0 AS (SELECT DISTINCT node, node AS lbl FROM adj),
       |c1 AS (SELECT a.node, l.lbl AS nlbl, CAST(count(*) AS BIGINT) AS cnt
       |       FROM adj a JOIN l0 l ON a.nbr = l.node GROUP BY 1, 2),
       |l1 AS (SELECT node, $pick AS lbl FROM c1 GROUP BY node),
       |c2 AS (SELECT a.node, l.lbl AS nlbl, CAST(count(*) AS BIGINT) AS cnt
       |       FROM adj a JOIN l1 l ON a.nbr = l.node GROUP BY 1, 2),
       |l2 AS (SELECT node, $pick AS lbl FROM c2 GROUP BY node)""".stripMargin
  }

  // ---- customer↔supplier trade projection

  /** orders ⋈ lineitem on the order key, one row per line with its
    * o_custkey and l_suppkey.
    */
  private def orderLines(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))

  /** Distinct (cn, sn) customer↔supplier trade pairs. */
  private def tradePairs(s: SparkSession, dir: String): DataFrame =
    orderLines(s, dir)
      .select((col("o_custkey") * 2).as("cn"),
        (col("l_suppkey") * 2 + 1).as("sn"))
      .distinct()

  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    bothWays(tradePairs(s, dir), "cn", "sn", "src", "dst")

  private val tradePairsCte =
    """pairs AS (
      |  SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin

  private val tradeEdgesCte =
    s"""$tradePairsCte,
       |edges AS (
       |  SELECT cn AS src, sn AS dst FROM pairs
       |  UNION ALL SELECT sn, cn FROM pairs)""".stripMargin

  /** 'c<custkey>' / 's<suppkey>' from a trade node id. */
  private def tradeEntity: Column = concat(
    when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")),
    expr("node DIV 2").cast("string")).as("entity")

  private val tradeEntitySql =
    """SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
      |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS entity,""".stripMargin

  // ---- PageRank

  /** Two exact-integer PageRank rounds in pico units over `edges`
    * (src, dst) → (node, pr_unit).
    */
  private def pageRank(edges: DataFrame): DataFrame =
    PageRank.run(edges, "src", "dst", iterations = 2, unit = 1000000000000L)

  /** One replayed PageRank round from ranks `prev`: `head` selects
    * the node columns and opens the teleport term of `pr`.
    */
  private def prRoundSql(head: String, prev: String): String =
    s"""$head
       |      + (85 * coalesce(m.in_mass, 0)) // 100 AS BIGINT) AS pr
       |  FROM nodes LEFT JOIN (
       |    SELECT e.dst AS node, sum(p.pr // o.outdeg) AS in_mass
       |    FROM $prev p
       |    JOIN edges e ON p.node = e.src
       |    JOIN outdeg o ON e.src = o.src
       |    GROUP BY e.dst) m ON nodes.node = m.node""".stripMargin

  /** Oracle twin of `pageRank`: CTEs `nodes` … `it2` over `edges`. */
  private val pageRankCtes = {
    def iterCte(prev: String): String = prRoundSql(
      """SELECT nodes.node,
        |    CAST(150000000000 // (SELECT n FROM params)""".stripMargin, prev)
    s"""nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |params AS (SELECT count(*) AS n FROM nodes),
       |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |pr0 AS (
       |  SELECT node,
       |    CAST(1000000000000 // (SELECT n FROM params) AS BIGINT) AS pr
       |  FROM nodes),
       |it1 AS (${iterCte("pr0")}),
       |it2 AS (${iterCte("it1")})""".stripMargin
  }

  /** Top `n` rows by `order`, numbered 1..n as `rnk` (a
    * TakeOrderedAndProject, never a global sort).
    */
  private def topRanked(df: DataFrame, n: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(n)
      .withColumn("rnk", row_number().over(Window.orderBy(order: _*)).cast("long"))

  val all: Seq[Q] = Seq(

    // B59: triangle counting over the part co-occurrence graph (parts
    // appearing in the same order are connected) — the graph-analytics
    // primitive behind clustering coefficients and community signals.
    // Scale plan is the Schank-Wagner degree-ordered orientation:
    // every undirected edge points from its lower-(degree, id)
    // endpoint to the higher, so each node's OUT-degree is bounded by
    // O(sqrt(E)) and the wedge (two-hop) join does O(E^1.5) work
    // total instead of Σ deg² — the spelling that survives skewed
    // degree distributions. Every step is a keyed equi-join: pairs
    // within orders (per-order groups are tiny), distinct edges,
    // degree attach, wedge join on the shared source, closing-edge
    // join on the (a, b) endpoint pair.
    Q("graph_triangles",
      s"""WITH $coOrderEdgesCte,
         |$degCte,
         |$orientCte,
         |w AS (
         |  SELECT x.dst AS a, y.dst AS b FROM o x JOIN o y
         |  ON x.src = y.src AND (x.ddeg < y.ddeg
         |    OR (x.ddeg = y.ddeg AND x.dst < y.dst))),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM o GROUP BY src),
         |t AS (SELECT count(*) AS nt FROM w JOIN o ON o.src = w.a AND o.dst = w.b)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         |  (SELECT CAST(coalesce(sum(od * (od - 1) // 2), 0) AS BIGINT) FROM od)
         |    AS n_wedges,
         |  (SELECT CAST(nt AS BIGINT) FROM t) AS n_triangles""".stripMargin) { (s, dir) =>
      // Round-13 optimization: the O(Σ od²) wedge self-join +
      // closing join (46M wedge rows at sf0.1, ~3G at ×10) is
      // replaced by the TriangleBitset kernel — per oriented edge,
      // popcount(N⁺(src) ∧ N⁺(dst)) against a ≤16,381-row broadcast
      // bitset adjacency (≈34 MB at FULL saturation — broadcastable
      // at any SF by construction). Identical count: each triangle
      // is witnessed exactly once on its (n1,n2) orientation-order
      // edge. The DuckDB oracle keeps the wedge-join spelling.
      val e = TriangleBitset.coOrderEdges(table(s, dir, "lineitem"))
        .localCheckpoint() // edges feed 4 consumers — one materialization
      val deg = TriangleBitset.degrees(e)
      val o = TriangleBitset.orient(e, deg)
        .localCheckpoint() // oriented edges feed adjacency + edge scan
      val adj = TriangleBitset.outBitsets(o)
        .localCheckpoint() // one bitset build feeds both broadcasts
      val tri = TriangleBitset.triangleCount(o, adj)
      // wedge COUNT from out-degrees (Σ od·(od−1)/2) — identical to
      // counting the wedge rows, without materializing the O(E^1.5)
      // wedge set a second time for the count alone
      val nWedges = o.groupBy(col("src")).agg(count(lit(1)).as("od"))
        .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("n_wedges"))
      deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(nWedges)
        .crossJoin(tri)
    },

    // B135: LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998) per
    // node of the part co-order projection — B59's triangle machinery
    // extended from the global count to the per-node statistic
    // cc_v = triangles(v) / (d_v·(d_v−1)/2), the community-structure
    // signal triangle counts alone don't localize. FULLY exact, no
    // libm anywhere: each node's cc quantizes by exact INTEGER floor
    // division cc_e6 = (2·10⁶·tri_v) // (d_v·(d_v−1)), so the global
    // mean over qualifying nodes is order-independent BIGINT
    // arithmetic into ONE double division. Scale shape: B59's
    // Schank-Wagner degree orientation bounds the wedge join
    // (O(E^1.5) wedges); the closing join broadcasts the oriented
    // edges (16 B/row) ONLY while |E| sits under the broadcast
    // budget — the counted edge list (free: localCheckpoint'd)
    // gates the hint, and past the bound the join runs as a keyed
    // shuffle join, same asymptotics; each triangle is found ONCE
    // and credits its three corners via one 3-way explode.
    Q("graph_clustering_coeff",
      s"""WITH $coOrderEdgesCte,
         |$degCte,
         |$orientCte,
         |w AS (
         |  SELECT x.src AS s, x.dst AS a, y.dst AS b FROM o x JOIN o y
         |  ON x.src = y.src AND (x.ddeg < y.ddeg
         |    OR (x.ddeg = y.ddeg AND x.dst < y.dst))),
         |t AS (
         |  SELECT s, a, b FROM w JOIN o ON o.src = w.a AND o.dst = w.b),
         |tn AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
         |    SELECT s AS node FROM t UNION ALL SELECT a FROM t
         |    UNION ALL SELECT b FROM t)
         |  GROUP BY node),
         |cc AS (
         |  SELECT deg.n AS node, deg.d,
         |    coalesce(tn.tri, 0) AS tri,
         |    CAST(2000000 * coalesce(tn.tri, 0) // (deg.d * (deg.d - 1))
         |      AS BIGINT) AS cc_e6
         |  FROM deg LEFT JOIN tn ON deg.n = tn.node WHERE deg.d >= 2),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |    floor(CAST(sum(cc_e6) AS DOUBLE)
         |      / CAST(count(*) * 1000000 AS DOUBLE) * 1000000 + 0.5)
         |      / 1000000 AS avg_cc
         |  FROM cc),
         |r AS (
         |  SELECT node, d, tri, cc_e6,
         |    CAST(row_number() OVER (ORDER BY cc_e6 DESC, node) AS BIGINT)
         |      AS rnk
         |  FROM cc)
         |SELECT rnk, node, d AS degree, tri AS triangles,
         |  CAST(cc_e6 AS DOUBLE) / 1000000 AS cc, n_nodes, avg_cc
         |FROM r, g WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      // Round-13 optimization: the O(Σ od²) wedge self-join +
      // closing join (46M wedge rows at sf0.1) is replaced by the
      // TriangleBitset kernel — per oriented edge, the witness set
      // N⁺(src) ∩ N⁺(dst) against a ≤16,381-row broadcast bitset
      // adjacency (≈34 MB at FULL saturation — broadcastable at any
      // SF by construction, so the r12 conditional-broadcast bound
      // is obsolete). Per-node counts are the same decomposition the
      // wedge spelling produced: edge (u,v) with k witnesses adds k
      // to u, k to v, 1 to each witness — every node of every
      // triangle gets exactly +1 per triangle. The DuckDB oracle
      // keeps the wedge-join spelling.
      val e = TriangleBitset.coOrderEdges(table(s, dir, "lineitem"))
        .localCheckpoint() // edges feed degrees + orientation
      val deg = TriangleBitset.degrees(e)
        .localCheckpoint() // degrees feed orientation + the cc join
      val o = TriangleBitset.orient(e, deg)
        .localCheckpoint() // oriented edges feed adjacency + edge scan
      val adj = TriangleBitset.outBitsets(o)
        .localCheckpoint() // one bitset build feeds both broadcasts
      val tn = TriangleBitset.perNodeTriangles(
        TriangleBitset.edgesWithWitnesses(o, adj))
      val cc = deg.filter(col("d") >= 2)
        .join(tn.withColumnRenamed("node", "n"), Seq("n"), "left")
        .select(col("n").as("node"), col("d"),
          coalesce(col("tri"), lit(0L)).as("tri"),
          expr("2000000 * coalesce(tri, 0) div (d * (d - 1))").as("cc_e6"))
        .localCheckpoint() // feeds the global mean and the top-20
      val g = cc.agg(count(lit(1)).as("n_nodes"),
          (floor(sum(col("cc_e6")).cast("double")
            / (count(lit(1)) * 1000000).cast("double")
            * 1000000 + lit(0.5)) / 1000000).as("avg_cc"))
      cc.select(col("node"), col("d"), col("tri"), col("cc_e6"),
          row_number().over(Window.orderBy(col("cc_e6").desc, col("node")))
            .cast("long").as("rnk"))
        .filter(col("rnk") <= 20)
        .crossJoin(broadcast(g))
        .select(col("rnk"), col("node"), col("d").as("degree"),
          col("tri").as("triangles"),
          (col("cc_e6").cast("double") / 1000000).as("cc"),
          col("n_nodes"), col("avg_cc"))
    },

    // B83: K-CORE PEELING (two rounds of the degeneracy peel at
    // k = 64 over the part co-occurrence graph) — the graph-analytics
    // density primitive behind community cores and spam-cluster
    // mining. Each round is keyed relational algebra only: degree agg
    // → threshold filter → anti-join both edge endpoints; rounds are
    // a CONSTANT (2 here), so the oracle replays them closed-form —
    // the kmeans_iterations convention for iterative operators. A
    // survivor whose neighbors were all peeled has degree 0 next
    // round (the left-join coalesce, not a dropped row).
    Q("graph_kcore", {
      val n = TriangleBitset.Nodes
      val k = 64
      s"""WITH it AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey % $n AS node FROM lineitem),
         |e0 AS (
         |  SELECT DISTINCT a.node AS u, b.node AS v
         |  FROM it a JOIN it b ON a.ok = b.ok AND a.node < b.node),
         |d0 AS (SELECT node, CAST(count(*) AS BIGINT) AS d
         |       FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
         |       GROUP BY node),
         |r1 AS (SELECT node FROM d0 WHERE d < $k),
         |s1 AS (SELECT node FROM d0 WHERE d >= $k),
         |e1 AS (SELECT u, v FROM e0
         |       WHERE u IN (SELECT node FROM s1) AND v IN (SELECT node FROM s1)),
         |d1 AS (SELECT node, CAST(count(*) AS BIGINT) AS d
         |       FROM (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
         |       GROUP BY node),
         |d1c AS (SELECT s1.node, coalesce(d1.d, 0) AS d
         |        FROM s1 LEFT JOIN d1 USING (node)),
         |r2 AS (SELECT node FROM d1c WHERE d < $k)
         |SELECT CAST(1 AS INT) AS round,
         |  (SELECT CAST(count(*) AS BIGINT) FROM d0) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM r1) AS n_removed
         |UNION ALL SELECT 2,
         |  (SELECT count(*) FROM s1),
         |  (SELECT count(*) FROM e1),
         |  (SELECT count(*) FROM r2)""".stripMargin
    }) { (s, dir) =>
      val k = 64
      val e0 = TriangleBitset.coOrderEdges(table(s, dir, "lineitem"))
        .localCheckpoint() // the peel reuses the edge set twice
      val d0 = TriangleBitset.degrees(e0).localCheckpoint()
      val s1 = d0.filter(col("d") >= k).select(col("n"))
      val e1 = e0
        .join(s1.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .join(s1.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v")).localCheckpoint()
      val d1c = s1.join(TriangleBitset.degrees(e1), Seq("n"), "left")
        .select(col("n"), coalesce(col("d"), lit(0L)).as("d"))
      val row1 = Seq((1, d0.count(), e0.count(),
        d0.filter(col("d") < k).count()))
      val row2 = Seq((2, s1.count(), e1.count(),
        d1c.filter(col("d") < k).count()))
      import s.implicits._
      (row1 ++ row2).toDF("round", "n_nodes", "n_edges", "n_removed")
        .select(col("round").cast("int"), col("n_nodes"), col("n_edges"),
          col("n_removed"))
    },

    // B100: LABEL PROPAGATION (community detection) — two SYNCHRONOUS
    // rounds over the co-purchase part graph (the graph_triangles
    // node/edge construction): every node starts as its own label,
    // each round adopts the most frequent neighbor label (ties → the
    // smallest label), argmax spelled as ONE map-side-combinable
    // max_by over the packed (count·2⁴¹ − label) key — never a
    // per-node sort. Fixed round count makes the oracle a closed-form
    // two-round replay (the kmeans_iterations / graph_kcore
    // convention); per round the work is one keyed join + two keyed
    // aggs — the 100 TB shape for bounded-round graph algorithms.
    Q("graph_label_prop",
      s"""WITH $coOrderEdgesCte,
         |$labelPropCtes
         |SELECT node, lbl FROM l2""".stripMargin) { (s, dir) =>
      labelProp(adjacency(TriangleBitset.coOrderEdges(table(s, dir, "lineitem"))))
    },

    // B150: GRAPH MODULARITY (Newman & Girvan 2004) of the B100
    // label-propagation communities on the part co-order projection
    // — the quality score that tells you whether the communities the
    // engine found MEAN anything (Q ≈ 0 = no better than random
    // wiring; the measurement B100 ships without). Exact spelling:
    // the B100 two-round deterministic label prop verbatim (max_by
    // on (cnt·2⁴¹ − lbl) — the documented deterministic tiebreak),
    // then Q = Σ_c (4m·e_c − d_c²) / (4m²) with m = |E|, e_c =
    // intra-community edges, d_c = community degree sums — the whole
    // numerator is ONE exact integer (4m·e_c ≤ 4m² ≈ 7·10¹⁶ at the
    // TriangleBitset.Nodes-capped projection — inside BIGINT at any clone scale
    // since the projection densifies rather than grows), ONE double
    // division, 6dp floor. Top-10 communities by size emitted with
    // the global Q attached. Scale shape: the B100 plan (two keyed
    // join+agg rounds over the adjacency) + two edge-grain label
    // joins + model-sized community rollups.
    Q("graph_modularity",
      s"""WITH $coOrderEdgesCte,
         |$labelPropCtes,
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |ec AS (
         |  SELECT lu.lbl, CAST(count(*) AS BIGINT) AS e_c
         |  FROM e JOIN l2 lu ON e.u = lu.node JOIN l2 lv ON e.v = lv.node
         |  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl),
         |deg AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY node),
         |dc AS (
         |  SELECT l2.lbl, CAST(sum(deg.d) AS BIGINT) AS d_c,
         |    CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM l2 JOIN deg ON deg.node = l2.node GROUP BY l2.lbl),
         |q AS (
         |  SELECT floor(CAST(sum(4 * m.m * coalesce(ec.e_c, 0)
         |      - CAST(dc.d_c AS HUGEINT) * dc.d_c) AS DOUBLE)
         |    / CAST(4 * CAST(max(m.m) AS HUGEINT) * max(m.m) AS DOUBLE)
         |    * 1000000 + 0.5) / 1000000 AS q_mod
         |  FROM dc LEFT JOIN ec USING (lbl), m),
         |top AS (
         |  SELECT dc.lbl, dc.n_nodes, coalesce(ec.e_c, 0) AS intra_edges,
         |    dc.d_c AS degree_sum,
         |    CAST(row_number() OVER (ORDER BY dc.n_nodes DESC, dc.lbl)
         |      AS BIGINT) AS rnk
         |  FROM dc LEFT JOIN ec USING (lbl))
         |SELECT rnk, lbl AS community, n_nodes, intra_edges, degree_sum,
         |  q.q_mod AS q_modularity
         |FROM top, q WHERE rnk <= 10""".stripMargin) { (s, dir) =>
      val e = TriangleBitset.coOrderEdges(table(s, dir, "lineitem"))
        .localCheckpoint() // feeds adjacency, m, and both label joins
      val adj = adjacency(e)
      val l2 = labelProp(adj).localCheckpoint() // three consumers
      val m = e.agg(count(lit(1)).as("m"))
      val ec = e
        .join(l2.select(col("node").as("u"), col("lbl").as("lu")), Seq("u"))
        .join(l2.select(col("node").as("v"), col("lbl").as("lv")), Seq("v"))
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("e_c"))
      val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("d"))
      val dc = l2.join(deg, Seq("node"))
        .groupBy(col("lbl"))
        .agg(sum(col("d")).as("d_c"), count(lit(1)).as("n_nodes"))
        .join(ec, Seq("lbl"), "left")
        .select(col("lbl"), col("d_c"), col("n_nodes"),
          coalesce(col("e_c"), lit(0L)).as("e_c"))
        .localCheckpoint() // feeds Q and the top-10
      val q = dc.crossJoin(broadcast(m))
        .agg((floor(sum(col("m") * col("e_c") * 4
            - col("d_c").cast("decimal(38,0)") * col("d_c")).cast("double")
          / (max(col("m")).cast("decimal(38,0)") * max(col("m")) * 4)
            .cast("double")
          * 1000000 + lit(0.5)) / 1000000).as("q_mod"))
      topRanked(dc, 10, col("n_nodes").desc, col("lbl"))
        .crossJoin(broadcast(q))
        .select(col("rnk"), col("lbl").as("community"), col("n_nodes"),
          col("e_c").as("intra_edges"), col("d_c").as("degree_sum"),
          col("q_mod").as("q_modularity"))
    },

    // B139: ADAMIC-ADAR LINK PREDICTION (Adamic & Adar Soc. Netw.
    // 2003; Liben-Nowell & Kleinberg CIKM'03) over the part co-order
    // projection (the B135 edge build) — for NON-adjacent pairs
    // sharing neighbors, AA(u,w) = Σ_{v ∈ N(u)∩N(w)} 1/ln(d_v): the
    // standard common-neighbor score that down-weights promiscuous
    // hubs, the baseline every graph-ML recommender is measured
    // against. Exactness: each center's 1/ln(d_v) is quantized to
    // the exact 1e-6 grid (C34/B133 convention — d ≥ 2 so ln ≥ ln 2),
    // so per-pair AA sums are order-independent BIGINT arithmetic
    // and the (aa_e6 DESC, u, w) top-20 total order is exact.
    // Scale shape: wedges enumerate per CENTER with the degree cap
    // d ≤ 64 (hub suppression — a d-degree center contributes
    // (d choose 2) wedges but only 1/ln(d) → 0 score each; capping
    // hubs is the standard production concession, stated in the
    // contract, and bounds wedge count at 2016/center = O(V)); the
    // existing-edge exclusion is one anti-join on the (u<w)-oriented
    // edge set; top-20 via TakeOrderedAndProject, never a global sort.
    Q("graph_adamic_adar",
      s"""WITH $coOrderEdgesCte,
        |$degCte,
        |adj AS (
        |  SELECT u AS ctr, v AS nbr FROM e
        |  UNION ALL SELECT v, u FROM e),
        |ctr AS (
        |  SELECT adj.ctr, adj.nbr,
        |    CAST(floor(1000000.0 / ln(CAST(deg.d AS DOUBLE)) + 0.5)
        |      AS BIGINT) AS term_e6
        |  FROM adj JOIN deg ON deg.n = adj.ctr
        |  WHERE deg.d BETWEEN 2 AND 64),
        |wedge AS (
        |  SELECT a.nbr AS u, b.nbr AS w, a.term_e6
        |  FROM ctr a JOIN ctr b ON a.ctr = b.ctr AND a.nbr < b.nbr),
        |cand AS (
        |  SELECT u, w, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(term_e6) AS BIGINT) AS aa_e6
        |  FROM wedge GROUP BY u, w),
        |nonadj AS (
        |  SELECT c.* FROM cand c
        |  LEFT JOIN e ON e.u = c.u AND e.v = c.w
        |  WHERE e.u IS NULL),
        |top AS (
        |  SELECT u, w, n_common, aa_e6,
        |    CAST(row_number() OVER (ORDER BY aa_e6 DESC, u, w) AS BIGINT)
        |      AS rnk
        |  FROM nonadj)
        |SELECT rnk, u, w, n_common,
        |  CAST(aa_e6 AS DOUBLE) / 1000000 AS adamic_adar
        |FROM top WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      val e = TriangleBitset.coOrderEdges(table(s, dir, "lineitem"))
        .localCheckpoint() // edges feed degrees, adjacency, exclusion
      val ctr = cappedCenters(e)
        .select(col("ctr"), col("nbr"),
          floor(lit(1000000.0) / log(col("d").cast("double")) + lit(0.5))
            .cast("long").as("term_e6"))
        .localCheckpoint() // both sides of the wedge self-join
      // Round-13 optimization (guide §2.4): wedges enumerate IN-ROW
      // from each center's collected (≤64, degree-capped) neighbor
      // list — one keyed groupBy replaces the r12 center self-join;
      // term_e6 is a per-CENTER constant, carried via first(). Same
      // (u < w, term) multiset: pairs of a sorted distinct array.
      val wedge = ctr.groupBy(col("ctr"))
        .agg(sort_array(collect_list(col("nbr"))).as("ns"),
          first(col("term_e6")).as("term_e6"))
        .select(col("term_e6"), wedgePairs)
        .select(col("p.u").as("u"), col("p.w").as("w"), col("term_e6"))
      val cand = wedge.groupBy(col("u"), col("w"))
        .agg(count(lit(1)).as("n_common"), sum(col("term_e6")).as("aa_e6"))
      // existing-edge exclusion: composite-key left_anti on the
      // (u < w)-oriented edge set (wedge pairs carry the same order)
      val nonadj = cand.join(e.withColumnRenamed("v", "w"), Seq("u", "w"),
        "left_anti")
      topRanked(nonadj, 20, col("aa_e6").desc, col("u"), col("w"))
        .select(col("rnk"), col("u"), col("w"), col("n_common"),
          (col("aa_e6").cast("double") / 1000000).as("adamic_adar"))
    },

    // B158: NEIGHBORHOOD JACCARD similarity (Salton 1989; Liben-
    // Nowell & Kleinberg 2003 rank it beside Adamic-Adar B118's
    // wedge family) over the co-purchase part graph — "which part
    // pairs share buyers" as |N(u)∩N(w)| / |N(u)∪N(w)|. Contract:
    // computed ON THE HUB-CAPPED SUBGRAPH (centers with degree
    // 2..64, the B118 concession — a d-degree hub contributes
    // (d choose 2) wedges; capping bounds the wedge join at
    // 2016/center) with degrees counted in the SAME capped universe,
    // so the ratio is a true Jaccard of that graph, never > 1.
    // Exactness: intersection/union are BIGINT counts; ranking key
    // j_e6 = n_common·10⁶ DIV union is an exact integer (floor
    // grid); top-20 via TakeOrderedAndProject, no global sort.
    // Unlike B118 (link prediction) existing edges are KEPT —
    // similarity, not completion.
    Q("graph_jaccard_neighbors",
      s"""WITH $coOrderEdgesCte,
        |$degCte,
        |adj AS (
        |  SELECT u AS ctr, v AS nbr FROM e
        |  UNION ALL SELECT v, u FROM e),
        |ctr AS (
        |  SELECT adj.ctr, adj.nbr FROM adj
        |  JOIN deg ON deg.n = adj.ctr WHERE deg.d BETWEEN 2 AND 64),
        |cdeg AS (
        |  SELECT nbr AS n, CAST(count(*) AS BIGINT) AS cd
        |  FROM ctr GROUP BY 1),
        |wedge AS (
        |  SELECT a.nbr AS u, b.nbr AS w
        |  FROM ctr a JOIN ctr b ON a.ctr = b.ctr AND a.nbr < b.nbr),
        |cand AS (
        |  SELECT u, w, CAST(count(*) AS BIGINT) AS n_common
        |  FROM wedge GROUP BY u, w),
        |j AS (
        |  SELECT c.u, c.w, c.n_common,
        |    du.cd + dw.cd - c.n_common AS n_union,
        |    (c.n_common * 1000000) // (du.cd + dw.cd - c.n_common)
        |      AS j_e6
        |  FROM cand c
        |  JOIN cdeg du ON du.n = c.u JOIN cdeg dw ON dw.n = c.w),
        |top AS (
        |  SELECT u, w, n_common, n_union, j_e6,
        |    CAST(row_number() OVER (ORDER BY j_e6 DESC, u, w) AS BIGINT)
        |      AS rnk
        |  FROM j)
        |SELECT rnk, u, w, n_common, n_union,
        |  CAST(j_e6 AS DOUBLE) / 1000000 AS jaccard
        |FROM top WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      val e = TriangleBitset.coOrderEdges(table(s, dir, "lineitem"))
        .localCheckpoint() // feeds degrees and adjacency
      val ctr = cappedCenters(e).select(col("ctr"), col("nbr"))
        .localCheckpoint() // capped degrees + both wedge sides
      val cdeg = ctr.groupBy(col("nbr").as("n")).agg(count(lit(1)).as("cd"))
      // Round-13 optimization (guide §2.4): wedges enumerate IN-ROW
      // from each center's collected (≤64, degree-capped) neighbor
      // list — one keyed groupBy replaces the r12 center self-join
      // (two shuffled join sides + merge). Same (u < w) pair
      // multiset: pairs of a sorted distinct array.
      val wedge = ctr.groupBy(col("ctr"))
        .agg(sort_array(collect_list(col("nbr"))).as("ns"))
        .select(wedgePairs)
        .select(col("p.u").as("u"), col("p.w").as("w"))
      val cand = wedge.groupBy(col("u"), col("w"))
        .agg(count(lit(1)).as("n_common"))
      val j = cand
        .join(cdeg.select(col("n").as("u"), col("cd").as("du")), Seq("u"))
        .join(cdeg.select(col("n").as("w"), col("cd").as("dw")), Seq("w"))
        .select(col("u"), col("w"), col("n_common"),
          (col("du") + col("dw") - col("n_common")).as("n_union"))
        .withColumn("j_e6",
          expr("n_common * 1000000 div n_union"))
      topRanked(j, 20, col("j_e6").desc, col("u"), col("w"))
        .select(col("rnk"), col("u"), col("w"), col("n_common"),
          col("n_union"),
          (col("j_e6").cast("double") / 1000000).as("jaccard"))
    },

    // B159: MULTI-SOURCE BFS to fixpoint (hop-capped) — the
    // reachability/radius primitive under every graph ETL ("how far
    // does influence spread from these seeds"); the ITERATIVE-
    // FRONTIER member of the graph family: B51 minplus_2hop is
    // fixed-2-hop, B52 PageRank fixed-round — BFS runs UNTIL THE
    // FRONTIER EMPTIES (early exit), bounded by a pinned 10-hop cap
    // so the oracle is a recursive-CTE replay (the entity_resolution
    // convention). Seeds = graph nodes < 100. Per round: one keyed
    // join frontier⋈adj + one anti-join against settled distances,
    // localCheckpoint per frontier (lineage cut — the iterative-
    // convergence discipline); the driver-side loop carries only a
    // per-round COUNT (model-bounded, ≤ 10 jobs). Output is the
    // distance histogram — integer counts, no floats at all.
    Q("graph_bfs_layers",
      s"""WITH RECURSIVE $coOrderEdgesCte,
        |adj AS (SELECT u AS node, v AS nbr FROM e
        |        UNION ALL SELECT v, u FROM e),
        |seeds AS (SELECT DISTINCT node FROM adj WHERE node < 100),
        |reach(node, dist) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT a.nbr, r.dist + 1
        |  FROM reach r JOIN adj a ON a.node = r.node
        |  WHERE r.dist < 10),
        |md AS (SELECT node, CAST(min(dist) AS INT) AS dist
        |       FROM reach GROUP BY node)
        |SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM md GROUP BY dist""".stripMargin) { (s, dir) =>
      val adj = adjacency(TriangleBitset.coOrderEdges(table(s, dir, "lineitem")))
        .localCheckpoint() // scanned every round
      var settled = adj.select(col("node")).distinct()
        .filter(col("node") < 100)
        .withColumn("dist", lit(0)).localCheckpoint()
      var frontier = settled
      var hop = 0
      var frontierSize = frontier.count() // model-bounded driver loop
      while (hop < 10 && frontierSize > 0) {
        hop += 1
        // Round-13 optimization (guide §3.1): frontier and settled
        // are node-scale (≤16,381 rows by construction) — broadcast
        // both so the edge-scale adjacency never shuffles per round.
        val next = adj
          .join(broadcast(frontier.select(col("node"))), Seq("node"))
          .select(col("nbr").as("node")).distinct()
          .join(broadcast(settled.select(col("node"))), Seq("node"), "left_anti")
          .withColumn("dist", lit(hop))
          .localCheckpoint() // cut the per-round lineage
        frontierSize = next.count()
        if (frontierSize > 0) settled = settled.unionByName(next)
          .localCheckpoint()
        frontier = next
      }
      settled.groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"))
    },

    // B168: KATZ CENTRALITY, 2-hop truncation (Katz Psychometrika
    // 1953) over the co-purchase part graph — the walk-counting
    // centrality that credits a node for REACH, not just degree
    // (B52's PageRank normalizes by out-degree; Katz counts raw
    // attenuated walks — the "how much of the graph can this part
    // pull" ranking). Truncated at 2 hops with α = 1/8 so the score
    // is the EXACT integer katz64 = 64 + 8·deg(u) + Σ_v deg(v) over
    // neighbors v (×64 clears both α powers); the truncation is the
    // documented contract (the B51 fixed-k convention — closed-form
    // replayable, no convergence question). Top-20 by (katz64 DESC,
    // node). Scale: the B118 edge build + ONE degree join + one
    // keyed sum — no iteration state.
    Q("graph_katz2",
      s"""WITH $coOrderEdgesCte,
        |adj AS (SELECT u AS node, v AS nbr FROM e
        |        UNION ALL SELECT v, u FROM e),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |k AS (
        |  SELECT a.node,
        |    CAST(64 + 8 * max(du.d) + sum(dv.d) AS BIGINT) AS katz64
        |  FROM adj a
        |  JOIN deg du ON du.node = a.node
        |  JOIN deg dv ON dv.node = a.nbr
        |  GROUP BY a.node),
        |top AS (
        |  SELECT node, katz64,
        |    CAST(row_number() OVER (ORDER BY katz64 DESC, node) AS BIGINT)
        |      AS rnk
        |  FROM k)
        |SELECT rnk, node, katz64 FROM top WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      val adj = adjacency(TriangleBitset.coOrderEdges(table(s, dir, "lineitem")))
        .localCheckpoint() // feeds degrees and the 2-hop sum
      val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("d"))
      val k = adj
        .join(deg.select(col("node"), col("d").as("du")), Seq("node"))
        .join(deg.select(col("node").as("nbr"), col("d").as("dv")),
          Seq("nbr"))
        .groupBy(col("node"))
        .agg((lit(64) + lit(8) * max(col("du")) + sum(col("dv")))
          .cast("long").as("katz64"))
      topRanked(k, 20, col("katz64").desc, col("node"))
        .select(col("rnk"), col("node"), col("katz64"))
    },

    // B176: DEGREE ASSORTATIVITY (Newman PRL 2002) of the co-purchase
    // part graph — do high-degree parts co-occur with high-degree
    // parts (r > 0, hub-clubbing) or with leaves (r < 0, hub-and-
    // spoke; most co-purchase graphs): the Pearson correlation of
    // endpoint degrees over edges, in the ×4M² integer form r =
    // (4M·Σjk − S²)/(2M·Σ(j²+k²) − S²) with S = Σ(j+k) — every term
    // an exact DECIMAL(38,0)/HUGEINT, ONE division, 6dp. Scale
    // shape: the B118 edge build + one degree join + three edge-
    // grain sums (map-side combined).
    Q("graph_assortativity",
      s"""WITH $coOrderEdgesCte,
        |$degCte,
        |ed AS (
        |  SELECT du.d AS j, dv.d AS k
        |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(CAST(j AS HUGEINT) * k) AS HUGEINT) AS sjk,
        |    CAST(sum(j + k) AS BIGINT) AS s,
        |    CAST(sum(CAST(j AS HUGEINT) * j + CAST(k AS HUGEINT) * k)
        |      AS HUGEINT) AS sq
        |  FROM ed)
        |SELECT m AS n_edges,
        |  CASE WHEN 2 * m * sq > CAST(s AS HUGEINT) * s THEN
        |    floor(CAST(4 * m * sjk - CAST(s AS HUGEINT) * s AS DOUBLE)
        |      / CAST(2 * m * sq - CAST(s AS HUGEINT) * s AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 END AS assortativity
        |FROM m""".stripMargin) { (s, dir) =>
      val e = TriangleBitset.coOrderEdges(table(s, dir, "lineitem"))
        .localCheckpoint() // degrees + the endpoint join
      val deg = TriangleBitset.degrees(e)
      val ed = e
        .join(deg.select(col("n").as("u"), col("d").as("j")), Seq("u"))
        .join(deg.select(col("n").as("v"), col("d").as("k")), Seq("v"))
        .select(col("j"), col("k"))
      val m = ed.agg(count(lit(1)).as("m"),
        sum(col("j").cast("decimal(38,0)") * col("k")).as("sjk"),
        sum(col("j") + col("k")).as("s"),
        sum(col("j").cast("decimal(38,0)") * col("j")
          + col("k").cast("decimal(38,0)") * col("k")).as("sq"))
      m.select(col("m").as("n_edges"),
        when(lit(2) * col("m") * col("sq")
          > col("s").cast("decimal(38,0)") * col("s"),
          floor((lit(4) * col("m") * col("sjk")
            - col("s").cast("decimal(38,0)") * col("s")).cast("double")
            / (lit(2) * col("m") * col("sq")
              - col("s").cast("decimal(38,0)") * col("s")).cast("double")
            * lit(1000000) + lit(0.5)) / lit(1000000)).as("assortativity"))
    },

    // B89: MIN-PLUS 2-HOP CHEAPEST PATH — shortest paths as keyed
    // relational algebra over the (min, +) semiring: one self-join on
    // the shared midpoint IS one min-plus matrix multiply, so k-hop
    // reachability costs are ⌈log₂ k⌉ squarings (the pointer-doubling
    // argument hierarchy_rollup already uses for parent chains). Here:
    // cheapest ≤ 2-hop cost from 5 source nodes over the part
    // co-occurrence graph, edge weight = the cheapest co-occurrence
    // (min summed line cents) — every step a keyed join + combinable
    // min, all-integer costs.
    Q("graph_minplus_2hop", {
      val n = TriangleBitset.Nodes
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, l_partkey % $n AS node,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
         |  FROM lineitem),
         |ln AS (SELECT ok, node, min(cents) AS cents FROM li GROUP BY ok, node),
         |e0 AS (
         |  SELECT a.node AS u, b.node AS v, min(a.cents + b.cents) AS w
         |  FROM ln a JOIN ln b ON a.ok = b.ok AND a.node <> b.node
         |  GROUP BY a.node, b.node),
         |src AS (SELECT u, v, w FROM e0 WHERE u < 5),
         |hop2 AS (
         |  SELECT s.u, e.v, min(s.w + e.w) AS w
         |  FROM src s JOIN e0 e ON s.v = e.u
         |  WHERE e.v <> s.u GROUP BY s.u, e.v),
         |best AS (
         |  SELECT u, v, min(w) AS best_cents FROM (
         |    SELECT u, v, w FROM src UNION ALL SELECT u, v, w FROM hop2)
         |  GROUP BY u, v)
         |SELECT u AS src, v AS dst, best_cents FROM best""".stripMargin
    }) { (s, dir) =>
      val n = TriangleBitset.Nodes
      val ln = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), (col("l_partkey") % n).as("node"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("ok"), col("node")).agg(min(col("cents")).as("cents"))
      val e0 = ln.as("a").join(ln.as("b"),
          col("a.ok") === col("b.ok") && col("a.node") =!= col("b.node"))
        .groupBy(col("a.node").as("u"), col("b.node").as("v"))
        .agg(min(col("a.cents") + col("b.cents")).as("w"))
        .localCheckpoint() // reused by the source slice and the hop join
      val src = e0.filter(col("u") < 5)
      // Round-13 optimization (guide §3.1): the source slice is ≤ 5
      // nodes' out-edges (≤ ~5·16,381 rows by construction) —
      // broadcast it so the full edge table never shuffles.
      val hop2 = e0.select(col("u").as("mid"), col("v"), col("w").as("w2"))
        .join(broadcast(src.select(col("u"), col("v").as("mid"),
          col("w").as("w1"))), Seq("mid"))
        .filter(col("v") =!= col("u"))
        .groupBy(col("u"), col("v")).agg(min(col("w1") + col("w2")).as("w"))
      src.select(col("u"), col("v"), col("w"))
        .unionAll(hop2.select(col("u"), col("v"), col("w")))
        .groupBy(col("u"), col("v")).agg(min(col("w")).as("best_cents"))
        .select(col("u").as("src"), col("v").as("dst"), col("best_cents"))
    },

    // B52: iterative PageRank over the customer↔supplier trade graph
    // (who-matters ranking, the companion to dedup_clusters'
    // connected components). Node ids: custkey*2 / suppkey*2+1 keeps
    // the two key spaces disjoint in one LONG domain. All rank
    // arithmetic is exact-integer micro-units (init 1e6 div N,
    // contribution pr div outdeg, damping (85·Σ) div 100 + teleport
    // 150000 div N) — order-independent integer sums and identical
    // floor division in both engines make the two fixed iterations
    // replayable closed-form, the kmeans_iterations convention
    // without even needing decimal rounding.
    // Units are PICO (1e12 = mass 1) as of round 10: the ×100 trade
    // clone carries 1.6M nodes, where the original micro units floor
    // BOTH the init share (1e6 div n = 0) and the teleport to 0 and
    // every rank silently decays — found by the round-10 scale probe.
    Q("graph_pagerank",
      s"""WITH $tradeEdgesCte,
         |$pageRankCtes
         |$tradeEntitySql
         |  pr AS pr_pico
         |FROM it2 ORDER BY pr DESC, entity LIMIT 20""".stripMargin) { (s, dir) =>
      pageRank(tradeEdges(s, dir))
        .select(tradeEntity, col("pr_unit").as("pr_pico"))
        .orderBy(col("pr_pico").desc, col("entity")).limit(20)
    },

    // B118: PERSONALIZED PAGERANK (Page et al. 1999 §6 / Jeh & Widom
    // 2003) — the teleport returns to a SEED set (customers of
    // nation 0), so ranks measure proximity TO THE SEEDS over the
    // customer↔supplier trade graph: "which suppliers matter to THIS
    // cohort", the recommendation / similar-entities primitive B52's
    // single global score cannot express. Same exact-integer
    // micro-unit replay as B52 (init 1e6 div |S| on seeds, teleport
    // 150000 div |S| on seeds else 0, damping (85·Σ) div 100 — all
    // floor divisions of non-negative integers, closed-form in the
    // oracle, no rounding contract needed); two iterations. Scale
    // shape = B52: seed flag folded into the checkpointed node
    // table, one keyed join + map-side-combined sum per round,
    // O(edges), node state never on the driver; top-20 via
    // TakeOrderedAndProject.
    // Pico units (1e12 = mass 1) as of round 10 — see graph_pagerank.
    Q("graph_ppr", {
      def iterCte(prev: String): String = prRoundSql(
        """SELECT nodes.node, nodes.is_seed,
          |    CAST(CASE WHEN nodes.is_seed
          |           THEN 150000000000 // (SELECT ns FROM params) ELSE 0 END""".stripMargin,
        prev)
      s"""WITH $tradeEdgesCte,
         |seeds AS (
         |  SELECT DISTINCT c_custkey * 2 AS node FROM customer
         |  WHERE c_nationkey = 0),
         |nodes AS (
         |  SELECT n.node, s.node IS NOT NULL AS is_seed
         |  FROM (SELECT src AS node FROM edges
         |        UNION SELECT dst FROM edges) n
         |  LEFT JOIN seeds s ON n.node = s.node),
         |params AS (SELECT count(*) AS ns FROM nodes WHERE is_seed),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |pr0 AS (
         |  SELECT node, is_seed,
         |    CAST(CASE WHEN is_seed
         |      THEN 1000000000000 // (SELECT ns FROM params) ELSE 0 END
         |      AS BIGINT) AS pr
         |  FROM nodes),
         |it1 AS (${iterCte("pr0")}),
         |it2 AS (${iterCte("it1")})
         |$tradeEntitySql
         |  CAST(is_seed AS INT) AS is_seed, pr AS ppr_pico
         |FROM it2 WHERE pr > 0 ORDER BY pr DESC, entity LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val seeds = table(s, dir, "customer")
        .filter(col("c_nationkey") === 0)
        .select((col("c_custkey") * 2).as("node"))
      PageRank
        .runPersonalized(tradeEdges(s, dir), "src", "dst", seeds, iterations = 2,
          unit = 1000000000000L)
        .filter(col("ppr_unit") > 0)
        .select(tradeEntity,
          col("is_seed").cast("int").as("is_seed"),
          col("ppr_unit").as("ppr_pico"))
        .orderBy(col("ppr_pico").desc, col("entity")).limit(20)
    },

    // B107: HITS hubs & authorities (Kleinberg 1999) — PageRank's
    // sibling for BIPARTITE intent: on the customer→supplier trade
    // graph, hub scores rank customers by how much they buy from
    // authoritative suppliers and authority scores rank suppliers by
    // how much authoritative buyers buy from them — the mutual
    // reinforcement PageRank's single score can't express. Two full
    // HITS iterations with L1 normalization (not the textbook L2:
    // an L1 step is sum-then-integer-scale, EXACT in micro units —
    // (raw · 1e6) DIV Σraw — where an L2 sqrt would need a rounding
    // contract; the ranking is identical since L1/L2 differ by a
    // positive global factor). Scale shape: per iteration ONE keyed
    // join + map-side-combined sum over the edge list (O(edges)),
    // the global Σ a broadcast single-row crossJoin (the PMI nb
    // precedent); node state never on the driver; top-20s via
    // TakeOrderedAndProject. Sums fit BIGINT to ~9e9 trading
    // customers (HUGEINT in the oracle; ANSI overflow is loud).
    Q("graph_hits", {
      def scaleCte(raw: String, key: String, out: String): String =
        s"""SELECT $key, CAST((r * 1000000) // (SELECT sum(r) FROM $raw) AS BIGINT) AS $out
           |  FROM $raw""".stripMargin
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |custs AS (SELECT DISTINCT c FROM pairs),
         |h0 AS (
         |  SELECT c, CAST(1000000 // (SELECT count(*) FROM custs) AS BIGINT) AS h
         |  FROM custs),
         |a1r AS (SELECT p.s, CAST(sum(h.h) AS HUGEINT) AS r
         |        FROM pairs p JOIN h0 h USING (c) GROUP BY p.s),
         |a1 AS (${scaleCte("a1r", "s", "a")}),
         |h1r AS (SELECT p.c, CAST(sum(a.a) AS HUGEINT) AS r
         |        FROM pairs p JOIN a1 a USING (s) GROUP BY p.c),
         |h1 AS (${scaleCte("h1r", "c", "h")}),
         |a2r AS (SELECT p.s, CAST(sum(h.h) AS HUGEINT) AS r
         |        FROM pairs p JOIN h1 h USING (c) GROUP BY p.s),
         |a2 AS (${scaleCte("a2r", "s", "a")}),
         |h2r AS (SELECT p.c, CAST(sum(a.a) AS HUGEINT) AS r
         |        FROM pairs p JOIN a2 a USING (s) GROUP BY p.c),
         |h2 AS (${scaleCte("h2r", "c", "h")})
         |SELECT kind, entity, score_micro FROM (
         |  SELECT 'hub' AS kind, 'c' || CAST(c AS VARCHAR) AS entity, h AS score_micro,
         |    row_number() OVER (ORDER BY h DESC, c) AS rn FROM h2
         |  UNION ALL
         |  SELECT 'auth', 's' || CAST(s AS VARCHAR), a,
         |    row_number() OVER (ORDER BY a DESC, s) FROM a2)
         |WHERE rn <= 20""".stripMargin
    }) { (s, dir) =>
      val pairs = orderLines(s, dir)
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
        .localCheckpoint() // 4 half-iterations ride one edge build
      val (h2, a2) = graft.operators.Hits.iterate(pairs, "c", "s", iters = 2)
      // tie-break on the NUMERIC key (the oracle's ORDER BY ... , c)
      val hubs = h2.orderBy(col("h").desc, col("c")).limit(20)
        .select(lit("hub").as("kind"),
          concat(lit("c"), col("c").cast("string")).as("entity"),
          col("h").as("score_micro"))
      val auths = a2.orderBy(col("a").desc, col("s")).limit(20)
        .select(lit("auth").as("kind"),
          concat(lit("s"), col("s").cast("string")).as("entity"),
          col("a").as("score_micro"))
      hubs.unionByName(auths)
    },

    // B134: DEGREE-DISTRIBUTION POWER-LAW FIT over the
    // customer↔supplier trade graph (the B52 node encoding) — the
    // discrete maximum-likelihood exponent of Clauset, Shalizi &
    // Newman SIAM Rev. 2009 §3.1 with x_min = 1: α = 1 + n /
    // Σᵢ ln(dᵢ / (x_min − ½)) = 1 + n / Σᵢ ln(2dᵢ). The scale-free
    // check is THE structural diagnostic for a graph before choosing
    // iterative algorithms (hub-dominated degree tails are where
    // PageRank/label-prop skew lives — B52's salting rationale).
    // Exactness: the Σ collapses to the DEGREE grain (distinct degree
    // values — power-law tails make this ~√n-sized); each grain row's
    // ln(2d) is quantized to the exact 1e-4 integer grid (C34/B133
    // convention), multiplied by its exact node count, and the
    // cross-grain sum is order-independent BIGINT arithmetic; α is
    // ONE double division of exact integers, +1, 6dp floor. Top-20
    // degrees emitted with the fit constants attached. Scale shape:
    // one distinct-pair join (the B52 edge build), one degree count,
    // one degree-grain rollup.
    Q("graph_degree_powerlaw",
      s"""WITH $tradePairsCte,
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT cn AS node FROM pairs
        |    UNION ALL SELECT sn AS node FROM pairs)
        |  GROUP BY node),
        |dg AS (
        |  SELECT d, CAST(count(*) AS BIGINT) AS m FROM deg GROUP BY d),
        |s AS (
        |  SELECT CAST(sum(m) AS BIGINT) AS n,
        |    CAST(sum(m * CAST(floor(ln(CAST(2 * d AS DOUBLE)) * 10000 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS sum_e4,
        |    CAST(max(d) AS BIGINT) AS d_max
        |  FROM dg),
        |fit AS (
        |  SELECT n AS n_nodes, d_max,
        |    (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
        |    CASE WHEN sum_e4 > 0 THEN
        |      floor((1 + CAST(n * 10000 AS DOUBLE) / CAST(sum_e4 AS DOUBLE))
        |        * 1000000 + 0.5) / 1000000 END AS alpha
        |  FROM s),
        |top AS (
        |  SELECT d AS degree, m AS n_with_degree,
        |    CAST(row_number() OVER (ORDER BY d DESC) AS BIGINT) AS rnk
        |  FROM dg)
        |SELECT rnk, degree, n_with_degree, n_nodes, n_edges, d_max, alpha
        |FROM top, fit WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      val pairs = tradePairs(s, dir)
        .localCheckpoint() // feeds the degree count and the edge count
      val deg = pairs.select(col("cn").as("node"))
        .unionAll(pairs.select(col("sn").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      // degree grain from here on (power-law tail bounded)
      val dg = deg.groupBy(col("d")).agg(count(lit(1)).as("m"))
        .localCheckpoint() // feeds the fit and the top-20 output
      val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
      val fit = dg.agg(sum(col("m")).as("n"),
          sum(col("m") * floor(log((col("d") * 2).cast("double"))
            * 10000 + lit(0.5)).cast("long")).as("sum_e4"),
          max(col("d")).as("d_max"))
        .crossJoin(broadcast(nEdges))
        .select(col("n").as("n_nodes"), col("d_max"), col("n_edges"),
          when(col("sum_e4") > 0,
            floor((lit(1) + (col("n") * 10000).cast("double")
              / col("sum_e4").cast("double")) * 1000000 + lit(0.5))
              / 1000000).as("alpha"))
      dg.select(col("d").as("degree"), col("m").as("n_with_degree"),
          row_number().over(Window.orderBy(col("d").desc)).cast("long")
            .as("rnk"))
        .filter(col("rnk") <= 20)
        .crossJoin(broadcast(fit))
        .select(col("rnk"), col("degree"), col("n_with_degree"),
          col("n_nodes"), col("n_edges"), col("d_max"), col("alpha"))
    },

    // C116: TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau EMNLP 2004)
    // — corpus-level keywords as PageRank over the word co-occurrence
    // graph (adjacent-token pairs; vocabulary restricted to tokens
    // with corpus frequency ≥ 5): the unsupervised keyword/labeling
    // pass of a curation pipeline, and the graph-reuse proof that the
    // B52 integer PageRank runs on ARBITRARY node domains (words,
    // not keys). Two fixed iterations in exact PICO units (init
    // 1e12 div N, damping 85, teleport derived — the B52/B118
    // spelling), so both engines replay the arithmetic closed-form
    // with NO floating point; top-20 by (pr DESC, word). Scale
    // shape: the bigram explode is one token-scan pass; the edge set
    // collapses to DISTINCT vocab-grain pairs (Heaps-bounded); each
    // PageRank round is one keyed join + map-side-combined sum,
    // O(edges); ranks never on the driver; top-20 via
    // TakeOrderedAndProject.
    Q("textrank_keywords",
      s"""WITH t AS (SELECT ${TF.wsTokensSql("text")} AS toks FROM documents),
         |uni AS (
         |  SELECT unnest(toks) AS w FROM t),
         |vocab AS (
         |  SELECT w FROM uni WHERE w <> ''
         |  GROUP BY w HAVING count(*) >= 5),
         |big AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> struct_pack(a := toks[CAST(i AS INT)],
         |                     b := toks[CAST(i + 1 AS INT)]))) AS p
         |  FROM t WHERE len(toks) >= 2),
         |pairs AS (
         |  SELECT DISTINCT least(p.a, p.b) AS wa, greatest(p.a, p.b) AS wb
         |  FROM big
         |  WHERE p.a <> p.b AND p.a <> '' AND p.b <> ''
         |    AND p.a IN (SELECT w FROM vocab)
         |    AND p.b IN (SELECT w FROM vocab)),
         |edges AS (
         |  SELECT wa AS src, wb AS dst FROM pairs
         |  UNION ALL SELECT wb, wa FROM pairs),
         |$pageRankCtes,
         |r AS (
         |  SELECT node AS keyword, pr AS pr_pico,
         |    CAST(row_number() OVER (ORDER BY pr DESC, node) AS BIGINT)
         |      AS rnk
         |  FROM it2)
         |SELECT rnk, keyword, pr_pico FROM r WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      val t = table(s, dir, "documents").select(TF.wsTokens(col("text")).as("toks"))
        .localCheckpoint() // feeds the unigram count and the bigram explode
      val vocab = t.select(explode(col("toks")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= 5)
        .select(col("w"))
      val big = t.filter(size(col("toks")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> struct(element_at(toks, i) AS a,
            |              element_at(toks, i + 1) AS b))""".stripMargin))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b") && col("a") =!= "" && col("b") =!= "")
      val pairs = big
        .join(vocab.withColumnRenamed("w", "a"), Seq("a"), "left_semi")
        .join(vocab.withColumnRenamed("w", "b"), Seq("b"), "left_semi")
        .select(least(col("a"), col("b")).as("wa"),
          greatest(col("a"), col("b")).as("wb"))
        .distinct()
      topRanked(pageRank(bothWays(pairs, "wa", "wb", "src", "dst")), 20,
          col("pr_unit").desc, col("node"))
        .select(col("rnk"), col("node").as("keyword"),
          col("pr_unit").as("pr_pico"))
    })
}
