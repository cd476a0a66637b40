package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative PageRank over an edge table — the graph-RANKING
  * companion to [[ConnectedComponents]] (clustering): entity
  * importance over a relationship graph (customer↔supplier here; at
  * corpus scale, document-link or citation graphs for curation
  * weighting).
  *
  * Exact-integer spelling: ranks live in `unit` units (`unit` = mass
  * 1; 1e6 "micro" by default, 1e12 for million-node-plus graphs) and
  * every step is integer arithmetic — init = unit div N, per-edge
  * contribution = pr div outdeg, damping = (d · Σ) div 100 plus a
  * teleport share ((100 − d) · 10000) div N (150000 div N at the
  * default d = 85). Integer sums are order-independent
  * and floor division on non-negative integers is identical in every
  * engine, so a fixed-iteration run is replayable closed-form by an
  * external SQL oracle (the `kmeans_iterations` convention, without
  * even needing rounding decimals). The deterministic floor losses
  * (mass leaks a few micro-units per node per round) are irrelevant
  * to ranking and documented here by design.
  *
  * Scale shape: one keyed self-join per iteration (contributions
  * grouped by destination, map-side combined) over an edge table
  * partitioned by source — O(edges) per round, no windows, node
  * state never leaves the cluster. Iterations materialize via
  * cache+count exactly like [[KMeans]]'s Lloyd loop; the last one is
  * a local checkpoint, and nothing PageRank persisted stays cached
  * once it returns.
  */
object PageRank {

  /** @param edges two LONG columns (srcCol, dstCol); treated as given
    *   (direct the graph — or union both directions — upstream).
    *   Nodes are defined as the vertices appearing in `edges`.
    * @param unit integer mass resolution (1 full unit of rank mass =
    *   `unit`); must be a multiple of 100 so the teleport share
    *   (100 − d)% is exact. 1e6 ("micro") suffices to ~150k nodes at
    *   d = 85; pass 1e12 for million-to-billion-node graphs (the ×100
    *   trade clone has 1.6M nodes — micro units would floor BOTH the
    *   init share and the teleport to 0 and every rank silently
    *   decays; found by the round-10 scale probe).
    * @return (node: LONG, pr_unit: LONG) after `iterations` rounds.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2, dampingPct: Int = 85,
      unit: Long = 1000000L): DataFrame = {
    val e = narrowEdges(edges, srcCol, dstCol)
    val nodes = nodeSet(e)
      .join(outDegrees(e), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .persist()
    val n = nodes.count() // materializes e too
    require(n > 0, "PageRank.run: empty edge table — no nodes to rank")
    val teleportMass = checkedTeleportMass("PageRank.run", dampingPct, unit)
    require(n <= teleportMass,
      s"PageRank.run: $n nodes exceeds the teleport resolution " +
        s"($teleportMass at unit=$unit); per-node teleport would floor to 0 " +
        "and all ranks decay — raise `unit` (e.g. 1e12)")
    rounds(e, nodes, n, lit(unit / n), lit(teleportMass / n), iterations,
      dampingPct)
      .select(col("node"), col("pr").as("pr_unit"))
  }

  /** PERSONALIZED PageRank (Page et al. 1999 §6 / Jeh & Widom 2003):
    * the teleport mass returns to a SEED set instead of spreading
    * uniformly, so ranks measure proximity TO THE SEEDS — the
    * recommendation/similar-entities primitive one global PageRank
    * score cannot express. Same exact-integer micro-unit spelling as
    * [[run]]: init = 1e6 div |S| on seeds (0 elsewhere), teleport =
    * ((100 − d)·10000) div |S| on seeds (0 elsewhere), damping
    * (d·Σ) div 100.
    * Non-seed sinks decay toward 0 unless reachable from the seeds —
    * by construction, not by normalization.
    *
    * Scale shape identical to [[run]]: the seed FLAG is folded into
    * the checkpointed node table once (seeds are a model-sized or
    * keyed relation, never collected), one keyed join per iteration.
    *
    * @param seeds one LONG column `node`; deduplicated here.
    * @param unit integer mass resolution — see [[run]].
    */
  def runPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iterations: Int = 2,
      dampingPct: Int = 85, unit: Long = 1000000L): DataFrame = {
    val e = narrowEdges(edges, srcCol, dstCol)
    val seedSet = seeds.select(col("node")).distinct()
    val nodes = nodeSet(e)
      .join(seedSet.withColumn("is_seed", lit(true)), Seq("node"), "left")
      .join(outDegrees(e), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false))
        .as("is_seed"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .persist()
    val counts = nodes.agg(count(lit(1)), count_if(col("is_seed"))).head()
    val (n, ns) = (counts.getLong(0), counts.getLong(1))
    require(ns > 0, "PageRank.runPersonalized: no seed appears in the graph")
    // the seed-count ceiling keeps the per-seed floor share nonzero
    // (|S| > mass ⇒ every rank decays to 0)
    val teleportMass =
      checkedTeleportMass("PageRank.runPersonalized", dampingPct, unit)
    require(ns <= teleportMass,
      s"PageRank.runPersonalized: $ns seeds exceed the teleport " +
        s"resolution ($teleportMass at unit=$unit); per-seed teleport would " +
        "floor to 0 — raise `unit` (e.g. 1e12)")
    def onSeeds(v: Long): Column =
      when(col("is_seed"), lit(v)).otherwise(lit(0L))
    rounds(e, nodes, n, onSeeds(unit / ns),
      onSeeds(teleportMass / ns), iterations, dampingPct)
      .select(col("node"), col("is_seed"), col("pr").as("ppr_unit"))
  }

  // Persist the EDGE table, not just the node set: every
  // iteration's materialization re-executes the edge lineage (for
  // graph_pagerank, an orders⋈lineitem join + distinct) otherwise —
  // ~2 recomputations per round. DISK_ONLY, not localCheckpoint:
  // the in-heap checkpoint of an edge-scale relation (100M rows at
  // the ×100 trade clone) pins gigabytes of storage against
  // execution memory and OOMs a task mid-join — the exact failure
  // mode r9's naive_bayes ×1000 probe found, rediscovered here by
  // the round-10 ×100 graph probe. Edges stream from local disk
  // once per round; only the node-sized rank table lives in memory.
  //
  // Round-14 optimization (guide §2.3/§2.4): round 13 folded outdeg
  // in with ONE window over src — but the window SHUFFLES AND SORTS
  // the full edge table and persists a 3-column row; at the ×100
  // trade clone (~tens of millions of edges) that sort-shuffle was
  // the regression the r14 probe isolated (75.9 s vs r12's 50.3).
  // outdeg is NODE-scale, so it belongs on the node-scale rank
  // table, not on the edge rows: persist the NARROW (src, dst)
  // edges once (2 longs/row — the minimum the iterations can
  // possibly stream), aggregate outdeg map-side-combined (a
  // node-scale shuffle), and carry outdeg as a column of the rank
  // table through the rounds. The edge table is never shuffled and
  // never sorted at any scale.
  private def narrowEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)

  private def outDegrees(e: DataFrame): DataFrame =
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))

  private def nodeSet(e: DataFrame): DataFrame =
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()

  /** (1 − d) in `unit` units, DERIVED from dampingPct so teleport +
    * damping always sum to 1 for ANY dampingPct (unit = 1e6, d = 85 ⇒
    * 150000, the historical constant). Its floor share per node (or
    * per seed) must stay nonzero or all ranks silently decay to 0 —
    * hence the ceilings the callers check.
    */
  private def checkedTeleportMass(who: String, dampingPct: Int,
      unit: Long): Long = {
    require(dampingPct >= 0 && dampingPct < 100,
      s"$who: dampingPct must be in [0, 100), got $dampingPct")
    require(unit > 0 && unit % 100 == 0,
      s"$who: unit must be a positive multiple of 100, got $unit")
    unit / 100L * (100L - dampingPct)
  }

  /** The rank rounds of both entry points over the persisted node
    * table (node, [is_seed,] outdeg) of `n` rows; `init` and
    * `teleport` give each node's starting rank and teleport share.
    */
  private def rounds(e: DataFrame, nodes: DataFrame, n: Long, init: Column,
      teleport: Column, iterations: Int, dampingPct: Int): DataFrame = {
    // Round-13 optimization (guide §3.1): the rank table is
    // NODE-scale — broadcast it into the per-iteration join so the
    // EDGE-scale table never shuffles. Round-14 re-measurement: the
    // r13 default bound (4M) let the ×100 trade clone's 1.6M-node
    // rank table be broadcast-BUILT per join per iteration (collect
    // to driver + ship + destroy, ×4), which the driver's r13 bench
    // timed out (> 180 s in both runs); with the bound at 500k the
    // same graph takes the keyed shuffle join over the NARROW
    // (src, dst) edges and the ×100 probe reads 52.7-63.9 s vs
    // 73.6-82.3 s broadcast on the same box (plans/r14). Headline and
    // ×10 graphs (≤ ~160k nodes) stay under the bound and keep the
    // broadcast win. Bound overridable for cluster-sized memory.
    val bcastBound = e.sparkSession.conf
      .getOption("spark.graft.pagerank.broadcastNodeBound")
      .map(_.toLong).getOrElse(500000L)
    // Past the bound: SHUFFLE_HASH-hint the node-scale side so the
    // per-iteration join hashes it per partition instead of
    // SORT-MERGE-sorting the edge-scale side every round (§3.1; a
    // post-shuffle node partition is n/parallelism rows — far under
    // any task heap).
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (n <= bcastBound) broadcast(df) else df.hint("shuffle_hash")
    // The rank table carries outdeg (node-scale, computed once above)
    // so the per-round edge join attaches BOTH pr and outdeg in one
    // broadcast — the edge rows stay (src, dst).
    val keep = nodes.columns.toSeq.map(col)
    def round(pr: DataFrame): DataFrame = {
      val contrib = e.join(maybeBroadcast(pr.drop("is_seed")),
          col("src") === col("node"))
        // DIV, not `/`: Spark's / on longs is DOUBLE division — the
        // whole point here is exact integer floor arithmetic
        .select(col("dst").as("node"), expr("pr DIV outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_mass"))
      nodes.join(maybeBroadcast(contrib), Seq("node"), "left")
        .select(keep :+ (teleport +
          expr(s"($dampingPct * coalesce(in_mass, CAST(0 AS BIGINT))) DIV 100"))
          .as("pr"): _*)
    }
    var pr = nodes.select(keep :+ init.as("pr"): _*)
    var cached: Option[DataFrame] = None
    for (_ <- 1 until iterations) {
      val next = round(pr).cache()
      next.count()
      cached.foreach(_.unpersist(blocking = true))
      cached = Some(next)
      pr = next
    }
    // The last round is a local checkpoint: no CacheManager entry,
    // and it lives as long as the caller holds the result. With its
    // lineage cut, everything persisted above is released, dependents
    // first so that no cached plan above them is rebuilt.
    val ranks = (if (iterations > 0) round(pr) else pr).localCheckpoint()
    (cached.toSeq ++ Seq(nodes, e)).foreach(_.unpersist(blocking = true))
    ranks
  }
}
