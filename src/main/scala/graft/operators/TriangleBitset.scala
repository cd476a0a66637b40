package graft.operators

import graft.functions.BitsetOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared triangle machinery for the part co-order projection —
  * round-13 optimization of graph_triangles / graph_clustering_coeff.
  *
  * The projection pins its node domain to `l_partkey % 16381`, so a
  * node's whole out-neighborhood packs into ⌈16381/64⌉ = 256 longs
  * (2,048 bytes) REGARDLESS of corpus scale: the full per-src
  * adjacency table is ≤ 16,381 rows ≈ 34 MB — broadcastable at ANY
  * scale factor BY CONSTRUCTION (no conditional hint needed; the r12
  * ccClosingJoin bound existed because the probe side there was the
  * O(E) edge list, which saturates at ~134M rows). The wedge set the
  * bitset kernel replaces grows as O(Σ od²) — 46M rows at sf0.1,
  * ~3G at the ×10 clone — and was materialized AND shuffled twice
  * (wedge self-join + closing join). Now: per oriented edge (u,v),
  * AND the two out-neighbor bitsets and popcount — Σ|N⁺(u)∩N⁺(v)|
  * over oriented edges counts every triangle exactly once.
  *
  * Why exactly once: the Schank–Wagner orientation (src = the
  * (degree, node)-smaller endpoint) is a total acyclic order, so a
  * triangle {n1 < n2 < n3} (orientation order) carries edges n1→n2,
  * n1→n3, n2→n3 and is found ONLY on edge (n1,n2) with w = n3
  * (N⁺(n2) ∋ n3, N⁺(n3) ∌ anything in the triangle). Per-node
  * triangle counts decompose the same way: edge (u,v) with
  * k = |N⁺(u)∩N⁺(v)| contributes k to u, k to v, and 1 to each
  * witness w — summed over edges, every node of every triangle gets
  * exactly +1 per triangle, identical to the wedge-join spelling the
  * DuckDB oracle still runs.
  */
object TriangleBitset {
  val Nodes = 16381

  /** Distinct undirected edges (u < v) of the part co-order
    * projection: parts co-ordered on at least one order key.
    */
  def coOrderEdges(lineitem: DataFrame): DataFrame = {
    val items = lineitem
      .select(col("l_orderkey").as("ok"),
        (col("l_partkey") % Nodes).as("node"))
      .distinct()
    items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.node") < col("b.node"))
      .select(col("a.node").as("u"), col("b.node").as("v"))
      .distinct()
  }

  /** Undirected degree per node. */
  def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** Schank–Wagner degree-ordered orientation: src = the
    * (degree, node)-smaller endpoint, so out-degrees are O(√E).
    */
  def orient(e: DataFrame, deg: DataFrame): DataFrame = {
    // deg is node-scale (≤ Nodes rows by construction) — broadcast
    // both endpoint joins so the edge list never shuffles (guide §3.1)
    val withDeg = e
      .join(broadcast(deg.select(col("n").as("u"), col("d").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("n").as("v"), col("d").as("dv"))), Seq("v"))
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    withDeg.select(
      when(lower, col("u")).otherwise(col("v")).as("src"),
      when(lower, col("v")).otherwise(col("u")).as("dst"))
  }

  /** Per-src out-neighbor bitsets: ≤ Nodes rows × 2,048 B ≈ 34 MB at
    * FULL saturation — the broadcast relation both per-edge joins
    * probe. collect_list order is nondeterministic; ToBitset is a
    * set insert, so the bitset is order-invariant.
    */
  def outBitsets(o: DataFrame): DataFrame =
    o.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
      .select(col("src").as("n"), BitsetOps.toBitset(col("nbrs"), Nodes).as("bs"))

  /** Oriented edges with the witness-position array attached:
    * pos = ascending members of N⁺(src) ∩ N⁺(dst). Two BROADCAST
    * joins against the same checkpointed bitset table; the dst join
    * is INNER — a dst with no out-edges closes no triangles and the
    * dropped edge contributes k = 0 everywhere.
    */
  def edgesWithWitnesses(o: DataFrame, adj: DataFrame): DataFrame =
    withBitsets(o, adj)
      .select(col("src"), col("dst"),
        BitsetOps.intersectPositions(col("_bsu"), col("_bsv")).as("pos"))

  /** Global triangle count: Σ popcount(N⁺(src) ∧ N⁺(dst)) over
    * oriented edges — whole-stage-codegen'd, nothing materialized.
    */
  def triangleCount(o: DataFrame, adj: DataFrame): DataFrame =
    withBitsets(o, adj)
      .agg(coalesce(sum(BitsetOps.intersectCount(col("_bsu"), col("_bsv"))),
        lit(0L)).as("n_triangles"))

  /** Oriented edges with both endpoints' out-bitsets (_bsu, _bsv). */
  private def withBitsets(o: DataFrame, adj: DataFrame): DataFrame =
    o.join(broadcast(adj.select(col("n").as("_ku"), col("bs").as("_bsu"))),
        col("src") === col("_ku"))
      .join(broadcast(adj.select(col("n").as("_kv"), col("bs").as("_bsv"))),
        col("dst") === col("_kv"))

  /** Per-node triangle participation counts (node, tri): one pass
    * over the witnessed edges; contributions (src, k), (dst, k) and
    * (w, 1) per witness explode into a map-side-combinable sum over
    * the ≤ Nodes-row group domain.
    */
  def perNodeTriangles(withPos: DataFrame): DataFrame = {
    val k = size(col("pos")).cast("long")
    withPos
      .select(explode(concat(
        array(struct(col("src").as("node"), k.as("c")),
          struct(col("dst").as("node"), k.as("c"))),
        transform(col("pos"), w => struct(w.as("node"), lit(1L).as("c")))))
        .as("x"))
      .select(col("x.node").as("node"), col("x.c").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("tri"))
      .filter(col("tri") > 0)
  }
}
