package graft

import org.apache.spark.sql.functions._

/** Graph family specs (GraphQueries): hand-solved toy graphs for every
  * graph query, the TriangleBitset kernel, and the plan-shape gates.
  */

/** Plan-shape and equivalence gates for the triangle machinery —
  * round 13 replaced the wedge self-join + closing join with the
  * TriangleBitset kernel (broadcast bitset adjacency + per-edge
  * popcount), so the gates now pin:
  *   1. hand-solved per-node triangle counts on a toy graph,
  *   2. the per-edge path is TWO BroadcastHashJoins (the bitset
  *      table is ≤16,381 rows by construction — no shuffle join,
  *      no conditional bound needed),
  *   3. kernel output == the r12 wedge-join spelling, replayed
  *      inline over the real sf test data.
  */
class Round22PlanSpec extends SparkTestBase {
  import graft.operators.TriangleBitset

  // Toy graph: K4 on {1,2,3,4} plus pendant 5—1 plus edge 6—7.
  // Triangles: the four K4 faces — node 1,2,3,4 each sit in 3;
  // 5,6,7 in none. Total 4.
  private def toyEdges = {
    import spark.implicits._
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (6L, 7L)).toDF("u", "v")
  }

  test("TriangleBitset: hand-solved per-node and global counts on the toy graph") {
    val e = toyEdges
    val deg = TriangleBitset.degrees(e)
    val o = TriangleBitset.orient(e, deg)
    val adj = TriangleBitset.outBitsets(o)
    val perNode = TriangleBitset.perNodeTriangles(
        TriangleBitset.edgesWithWitnesses(o, adj))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perNode == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"per-node triangle counts wrong: $perNode")
    val total = TriangleBitset.triangleCount(o, adj).collect()(0).getLong(0)
    assert(total == 4L, s"global triangle count wrong: $total")
  }

  test("TriangleBitset: per-edge path is broadcast-joined, never shuffle-joined") {
    val e = toyEdges
    val deg = TriangleBitset.degrees(e)
    val o = TriangleBitset.orient(e, deg)
    val adj = TriangleBitset.outBitsets(o).localCheckpoint()
    val plan = TriangleBitset.edgesWithWitnesses(o, adj)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"per-edge bitset lookup is not a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"per-edge path shuffles the bitset table:\n$plan")
  }

  test("graph_clustering_coeff: bitset kernel == the r12 wedge-join spelling on sf data") {
    // The r12 implementation, replayed inline: wedge self-join on the
    // oriented edges + closing join, per-node counts from the s/a/b
    // union — the oracle-equivalent reference the kernel replaced.
    val items = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"),
        (col("l_partkey") % TriangleBitset.Nodes).as("node"))
      .distinct()
    val e = items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.node") < col("b.node"))
      .select(col("a.node").as("u"), col("b.node").as("v"))
      .distinct().localCheckpoint()
    val deg = TriangleBitset.degrees(e)
    val oRef = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("dv"))
          .otherwise(col("du")).as("ddeg"))
      .localCheckpoint()
    val wedges = oRef.as("x").join(oRef.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.ddeg") < col("y.ddeg") ||
            (col("x.ddeg") === col("y.ddeg") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("s"), col("x.dst").as("a"), col("y.dst").as("b"))
    val triRef = wedges
      .join(oRef.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"))
      .select(col("s"), col("a"), col("b"))
    val tnRef = triRef.select(col("s").as("node"))
      .unionAll(triRef.select(col("a").as("node")))
      .unionAll(triRef.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val o = TriangleBitset.orient(e, deg).localCheckpoint()
    val adj = TriangleBitset.outBitsets(o).localCheckpoint()
    val tn = TriangleBitset.perNodeTriangles(
        TriangleBitset.edgesWithWitnesses(o, adj))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tn == tnRef,
      s"bitset per-node counts diverge from the wedge-join reference " +
        s"(kernel ${tn.size} nodes, reference ${tnRef.size})")
    val total = TriangleBitset.triangleCount(o, adj).collect()(0).getLong(0)
    val totalRef = tnRef.valuesIterator.sum / 3
    assert(total == totalRef, s"global count $total != reference $totalRef")
  }
}

/** B135 graph_clustering_coeff — planted triangle + path: the
  * triangle corners score exactly 1, the path center exactly 0, and
  * the mean averages only the degree-≥2 nodes.
  */
class ClusteringCoeffSpec extends SparkTestBase {
  import spark.implicits._

  test("triangle corners cc=1, path center cc=0, avg=0.75") {
    val dir = java.nio.file.Files.createTempDirectory("ccoef").toString
    // order 1 buys parts {1,2,3} → triangle; orders 2,3 build the
    // path 4-5-6 (node 5 has degree 2, no triangle)
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 4L), (2L, 5L), (3L, 5L), (3L, 6L))
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("graph_clustering_coeff")(spark, dir)
      .collect()
    val byNode = out.map(r => r.getAs[Long]("node") ->
      (r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
        r.getAs[Double]("cc"))).toMap
    assert(byNode(1L) == ((2L, 1L, 1.0)))
    assert(byNode(2L) == ((2L, 1L, 1.0)))
    assert(byNode(3L) == ((2L, 1L, 1.0)))
    assert(byNode(5L) == ((2L, 0L, 0.0)))
    assert(byNode.size == 4) // degree-1 nodes 4,6 excluded
    assert(out.head.getAs[Long]("n_nodes") == 4L)
    assert(out.head.getAs[Double]("avg_cc") == 0.75)
  }

  test("corpus projection: coefficients in [0,1], mean consistent") {
    val out = SparkEntry.queries("graph_clustering_coeff")(spark, sfDir)
      .collect()
    assert(out.length == 20)
    out.foreach { r =>
      val c = r.getAs[Double]("cc")
      assert(c >= 0.0 && c <= 1.0)
    }
    val avg = out.head.getAs[Double]("avg_cc")
    assert(avg > 0.0 && avg < 1.0, s"degenerate projection: $avg")
  }
}

/** B150 graph_modularity — two planted cliques joined by one bridge
  * edge: label prop finds them, and Q is hand-solved exactly.
  */
class ModularitySpec extends SparkTestBase {
  import spark.implicits._

  test("two 4-cliques + one bridge: hand-solved Q") {
    val dir = java.nio.file.Files.createTempDirectory("mod").toString
    // orders 1-2: clique on parts {1..4} (two orders make it a
    // clique via co-order); orders 3-4: clique on {11..14};
    // order 5 bridges 4-11
    val li = (Seq.tabulate(4)(i => (1L, (i + 1).toLong))
      ++ Seq.tabulate(4)(i => (2L, (i + 1).toLong))
      ++ Seq.tabulate(4)(i => (3L, (i + 11).toLong))
      ++ Seq.tabulate(4)(i => (4L, (i + 11).toLong))
      ++ Seq((5L, 4L), (5L, 11L)))
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("graph_modularity")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    // graph: two K4s (6 edges each) + 1 bridge = 13 edges
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == 8L)
    val q = rows.head.getAs[Double]("q_modularity")
    // if label prop lands on the two cliques: e_c = 6 each,
    // d_c = 13 each (12 + bridge endpoint): Q = Σ(4·13·6 − 169)/(4·169)
    val expect = math.floor(2.0 * (4 * 13 * 6 - 169) / (4.0 * 169)
      * 1000000 + 0.5) / 1000000
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nodes") == 4L)
      assert(r.getAs[Long]("intra_edges") == 6L)
      assert(r.getAs[Long]("degree_sum") == 13L)
    }
    assert(q == expect)
  }

  test("corpus: Q in [-0.5, 1], top-10 populated, intra <= degree/2") {
    val rows = SparkEntry.queries("graph_modularity")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val q = rows.head.getAs[Double]("q_modularity")
    assert(q >= -0.5 && q <= 1.0)
    rows.foreach { r =>
      assert(2 * r.getAs[Long]("intra_edges") <= r.getAs[Long]("degree_sum"))
    }
  }
}

/** B139 graph_adamic_adar — a 4-cycle's two diagonals each score
  * exactly 2·floor(1e6/ln 2 + 0.5)/1e6 through their two degree-2
  * centers; adjacent pairs are excluded.
  */
class AdamicAdarSpec extends SparkTestBase {
  import spark.implicits._

  test("4-cycle: both diagonals score 2/ln2, edges excluded") {
    val dir = java.nio.file.Files.createTempDirectory("aa").toString
    // orders (1: p1,p2) (2: p2,p3) (3: p3,p4) (4: p4,p1) → cycle
    val li = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L),
      (3L, 3L), (3L, 4L), (4L, 4L), (4L, 1L))
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("graph_adamic_adar")(spark, dir).collect()
    assert(rows.length == 2)
    val expect = 2.0 * 1442695 / 1000000 // floor(1e6/ln2 + 0.5) per center
    rows.foreach { r =>
      assert(r.getAs[Long]("n_common") == 2L)
      assert(r.getAs[Double]("adamic_adar") == expect)
    }
    val pairs = rows.map(r => (r.getAs[Long]("u"), r.getAs[Long]("w"))).toSet
    assert(pairs == Set((1L, 3L), (2L, 4L)))
  }

  test("corpus: top-20 populated, scores positive and non-increasing") {
    val rows = SparkEntry.queries("graph_adamic_adar")(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Double]("adamic_adar"))
    assert(scores.forall(_ > 0.0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }
}

/** B158 graph_jaccard_neighbors / B159 graph_bfs_layers — planted
  * graphs with hand-computable neighborhoods and layers.
  */
class GraphSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private def graphDir(orders: Seq[(Long, Seq[Long])]): String = {
    val dir = java.nio.file.Files.createTempDirectory("gph").toString
    orders.flatMap { case (ok, parts) => parts.map(p => (ok, p)) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("jaccard: two triangles sharing an edge → (1,4) identical twins at 1.0") {
    // orders {1,2,3} and {2,3,4}: N1=N4={2,3} → jaccard 1.0
    val dir = graphDir(Seq((100L, Seq(1L, 2L, 3L)), (200L, Seq(2L, 3L, 4L))))
    val rows = SparkEntry.queries("graph_jaccard_neighbors")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(rows.length == 6)
    val r1 = rows.head
    assert(r1.getAs[Long]("u") == 1L && r1.getAs[Long]("w") == 4L)
    assert(r1.getAs[Long]("n_common") == 2L)
    assert(r1.getAs[Long]("n_union") == 2L)
    assert(r1.getAs[Double]("jaccard") == 1.0)
    val r2 = rows(1)
    assert(r2.getAs[Long]("u") == 2L && r2.getAs[Long]("w") == 3L)
    assert(r2.getAs[Double]("jaccard") == 0.5)
    // the four 0.25 pairs follow in (u, w) order
    assert(rows.drop(2).map(r => (r.getAs[Long]("u"), r.getAs[Long]("w")))
      .toSeq == Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    rows.drop(2).foreach(r => assert(r.getAs[Double]("jaccard") == 0.25))
  }

  test("bfs: 12-hop chain from one seed stops at the 10-hop cap") {
    // chain 50-101-102-...-112; only node 50 is a seed (< 100)
    val edges = (50L, 101L) +: (101L to 111L).map(i => (i, i + 1))
    val dir = graphDir(edges.zipWithIndex.map { case ((a, b), i) =>
      (i.toLong, Seq(a, b))
    })
    val rows = SparkEntry.queries("graph_bfs_layers")(spark, dir)
      .collect().map(r => r.getAs[Int]("dist") -> r.getAs[Long]("n_nodes"))
      .toMap
    assert(rows.size == 11) // dists 0..10; hops 11 and 12 cut by the cap
    (0 to 10).foreach(d => assert(rows(d) == 1L, s"dist $d"))
  }

  test("corpus: bfs layers partition the reachable set; jaccard ranked and bounded") {
    val j = SparkEntry.queries("graph_jaccard_neighbors")(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(j.length == 20)
    j.foreach { r =>
      val v = r.getAs[Double]("jaccard")
      assert(v >= 0.0 && v <= 1.0)
      assert(r.getAs[Long]("n_common") <= r.getAs[Long]("n_union"))
    }
    assert(j.map(_.getAs[Double]("jaccard")).toSeq.reverse.sorted.reverse
      == j.map(_.getAs[Double]("jaccard")).toSeq) // non-increasing
    val b = SparkEntry.queries("graph_bfs_layers")(spark, sfDir).collect()
    assert(b.nonEmpty)
    assert(b.map(_.getAs[Int]("dist")).min == 0)
    b.foreach(r => assert(r.getAs[Long]("n_nodes") > 0L))
  }
}

/** B134 graph_degree_powerlaw — a planted star graph has a closed-form
  * degree distribution; the MLE exponent is recomputed independently
  * on the same grid.
  */
class PowerlawSpec extends SparkTestBase {
  import spark.implicits._

  test("star graph: hub degree k, k leaves, alpha matches recompute") {
    val dir = java.nio.file.Files.createTempDirectory("plaw").toString
    val k = 6
    // one customer (hub), k suppliers via k single-line orders
    (1 to k).map(i => (i.toLong, 77L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (1 to k).map(i => (i.toLong, i.toLong))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("graph_degree_powerlaw")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    val r = out.head
    assert(r.getAs[Long]("n_nodes") == k + 1L)
    assert(r.getAs[Long]("n_edges") == k.toLong)
    assert(r.getAs[Long]("d_max") == k.toLong)
    // top degrees: k (the hub, 1 node) then 1 (k leaves)
    assert(r.getAs[Long]("degree") == k.toLong &&
      r.getAs[Long]("n_with_degree") == 1L)
    assert(out(1).getAs[Long]("degree") == 1L &&
      out(1).getAs[Long]("n_with_degree") == k.toLong)
    val sumE4 = math.floor(math.log(2.0 * k) * 1e4 + 0.5).toLong +
      k * math.floor(math.log(2.0) * 1e4 + 0.5).toLong
    val alpha = math.floor(
      (1.0 + (k + 1L) * 10000.0 / sumE4) * 1e6 + 0.5) / 1e6
    assert(r.getAs[Double]("alpha") == alpha, s"want $alpha")
  }

  test("corpus trade graph: alpha defined, histogram populated") {
    val out = SparkEntry.queries("graph_degree_powerlaw")(spark, sfDir)
      .collect()
    // the distinct-degree grain at sf0.001 is ~a dozen values — the
    // top-20 cap only binds at larger SFs
    assert(out.length >= 10 && out.length <= 20)
    val a = out.head.getAs[Double]("alpha")
    assert(a > 1.0, s"MLE alpha must exceed 1: $a")
  }
}

/** B118 graph_ppr — personalized ranks on a hand-built two-community
  * graph: teleport mass must stay in the seed community; a node with
  * no path from the seeds must end at exactly 0.
  */
class PprSpec extends SparkTestBase {
  import spark.implicits._

  test("seed community outranks the far community; unreachable is 0") {
    // community A: 1↔2, 1↔3 (seed 1); community B: 10↔11 (no bridge)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (10L, 11L), (11L, 10L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val got = graft.operators.PageRank
      .runPersonalized(edges, "src", "dst", seeds, iterations = 2)
      .select($"node", $"ppr_unit").as[(Long, Long)].collect().toMap
    // sequential replay of the integer recurrence: |S|=1 →
    // pr0 = (1e6, 0, 0, 0, 0); outdeg(1)=2, others 1
    // it1: in(2) = pr(1) DIV 2 = 500000, in(3) = 500000,
    //      in(1) = 0; seed teleport 150000
    //      pr1 = 1: 150000, 2: 425000, 3: 425000, 10/11: 0
    // it2: in(1) = 425000 + 425000 = 850000 → 150000 + 722500
    //      in(2) = 150000 DIV 2 = 75000 → 63750; same 3
    assert(got(1L) == 872500L, s"seed ${got(1L)}")
    assert(got(2L) == 63750L && got(3L) == 63750L)
    assert(got(10L) == 0L && got(11L) == 0L, "unreachable leaked mass")
  }

  test("corpus run: top-20 non-empty, seeds present, ranks positive") {
    val rows = SparkEntry.queries("graph_ppr")(spark, sfDir)
      .select($"entity", $"is_seed", $"ppr_pico")
      .as[(String, Int, Long)].collect()
    assert(rows.length == 20)
    assert(rows.forall(_._3 > 0))
    assert(rows.exists(_._2 == 1), "no seed in the top-20")
    assert(rows.exists(_._1.startsWith("s")),
      "no supplier reached by seed mass")
  }
}

/** C116 textrank_keywords — a star co-occurrence graph ranks its hub
  * first; leaves tie.
  */
class TextRankSpec extends SparkTestBase {
  import spark.implicits._

  test("star graph: hub outranks the tied leaves") {
    val dir = java.nio.file.Files.createTempDirectory("trank").toString
    // 5 docs each of "hub x" / "hub y" / "hub z" → freq(hub)=15,
    // freq(x|y|z)=5; edges hub—x, hub—y, hub—z
    val docs = (for (w <- Seq("x", "y", "z"); i <- 1 to 5)
      yield s"hub $w").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("textrank_keywords")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(rows.length == 4)
    assert(rows.head.getAs[String]("keyword") == "hub")
    val leaves = rows.tail.map(_.getAs[Long]("pr_pico"))
    assert(leaves.distinct.length == 1) // leaves tie exactly
    assert(rows.head.getAs[Long]("pr_pico") > leaves.head)
  }

  test("corpus: 20 distinct keywords, ranks ordered by (pr desc, word)") {
    val rows = SparkEntry.queries("textrank_keywords")(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(rows.length == 20)
    assert(rows.map(_.getAs[String]("keyword")).distinct.length == 20)
    val prs = rows.map(_.getAs[Long]("pr_pico"))
    assert(prs.zip(prs.tail).forall { case (a, b) => a >= b })
  }
}

/** Plan-shape gates of the graph queries: each top-k ranks through a
  * TakeOrderedAndProject and each scan reads only the columns the
  * projection needs.
  */
class GraphPlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("adamic-adar prunes lineitem to two columns; top-20 is a TakeOrdered") {
    val plan = planOf("graph_adamic_adar")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global candidate sort instead of TakeOrdered:\n$plan")
    assert(!plan.contains("l_quantity") && !plan.contains("l_shipdate"),
      s"scan reads columns the projection never touches:\n$plan")
  }

  test("textrank ranks through TakeOrdered, never a global rank sort") {
    val plan = planOf("textrank_keywords")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global vocab sort instead of TakeOrdered:\n$plan")
  }

  test("graph_jaccard top-20 is a TakeOrdered, never a global candidate sort") {
    val plan = planOf("graph_jaccard_neighbors")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global sort instead of TakeOrdered:\n$plan")
    assert(!plan.contains("l_quantity") && !plan.contains("l_shipdate"),
      s"scan reads columns the graph never touches:\n$plan")
  }

  test("katz2 prunes lineitem to two columns and ranks through TakeOrdered") {
    val plan = planOf("graph_katz2")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global sort instead of TakeOrdered:\n$plan")
    assert(!plan.contains("l_quantity"),
      s"scan reads columns the walk counts never touch:\n$plan")
  }

  test("graph_hits ranks via TakeOrdered, never a global sort") {
    val plan = SparkEntry.queries("graph_hits")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20s are not TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }
}

/** Hand-solved toy graphs for the graph queries the other suites do
  * not pin: the two-K4-plus-bridge co-order graph of ModularitySpec
  * (with prices, for the weighted min-plus edges), a dense core for
  * the k-core peel, and a 3-customer/2-supplier trade graph for
  * PageRank.
  */
class GraphHandSolvedSpec extends SparkTestBase {
  import spark.implicits._

  private def lineitemDir(rows: Seq[(Long, Long, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("gtoy").toString
    rows.toDF("l_orderkey", "l_partkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  // Orders 1-2: K4 on parts {1..4}; orders 3-4: K4 on {11..14};
  // order 5 bridges 4-11. Each line costs its part key in dollars,
  // except order 2, whose lines cost $1 (the cheaper co-order).
  private lazy val twoCliques: String = lineitemDir(
    (1 to 4).map(p => (1L, p.toLong, p.toDouble))
      ++ (1 to 4).map(p => (2L, p.toLong, 1.0))
      ++ Seq(3L, 4L).flatMap(o => (11 to 14).map(p => (o, p.toLong, p.toDouble)))
      ++ Seq((5L, 4L, 4.0), (5L, 11L, 11.0)))

  private def run(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir).collect()

  test("triangles: 8 nodes, 13 edges, 8 oriented wedges, 8 triangles") {
    // degrees 3 everywhere but the bridge ends 4 and 11 (4); out-
    // degrees after the (degree, node) orientation: 1→3, 2→2, 3→1,
    // 4→1 (the bridge), 12→3, 13→2, 14→1, so Σ od(od−1)/2 = 8; each
    // K4 holds 4 triangles
    val r = run("graph_triangles", twoCliques).head
    assert((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_wedges"), r.getAs[Long]("n_triangles")) ==
      ((8L, 13L, 8L, 8L)))
  }

  test("kcore: every toy node sits below k = 64, so round 1 peels all") {
    val rows = run("graph_kcore", twoCliques).map(r =>
      (r.getAs[Int]("round"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_edges"), r.getAs[Long]("n_removed"))).sorted.toSeq
    assert(rows == Seq((1, 8L, 13L, 8L), (2, 0L, 0L, 0L)))
  }

  test("kcore: a node at exactly k = 64 survives round 1, falls in round 2") {
    // K66 on parts 1..66 (degree ≥ 65); node 200 linked to parts
    // 1..63 and to the pendant 300 (degree 64). Round 1 peels 300;
    // round 2 sees 200 at degree 63 and peels it.
    val dir = lineitemDir(
      (1 to 66).map(p => (1L, p.toLong, 1.0))
        ++ (1 to 63).flatMap(p =>
          Seq((1000L + p, p.toLong, 1.0), (1000L + p, 200L, 1.0)))
        ++ Seq((2000L, 200L, 1.0), (2000L, 300L, 1.0)))
    val rows = run("graph_kcore", dir).map(r =>
      (r.getAs[Int]("round"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_edges"), r.getAs[Long]("n_removed"))).sorted.toSeq
    // edges: C(66,2) = 2145 in the core + 63 + 1
    assert(rows == Seq((1, 68L, 2209L, 1L), (2, 67L, 2208L, 1L)))
  }

  test("label_prop: two rounds settle each clique on its smallest label") {
    // round 1 adopts the smallest neighbor label (all counts tie at
    // 1): 1→2, 2,3,4→1, 11→4, 12,13,14→11; round 2 is a clear
    // majority in each clique
    val lbl = run("graph_label_prop", twoCliques)
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    assert(lbl == (Seq(1L, 2L, 3L, 4L).map(_ -> 1L)
      ++ Seq(11L, 12L, 13L, 14L).map(_ -> 11L)).toMap)
  }

  test("modularity communities are label_prop's label groups") {
    val groups = run("graph_label_prop", twoCliques)
      .groupBy(_.getAs[Long]("lbl")).map { case (l, rs) => l -> rs.length.toLong }
    val communities = run("graph_modularity", twoCliques)
      .map(r => r.getAs[Long]("community") -> r.getAs[Long]("n_nodes")).toMap
    assert(communities == groups)
    assert(communities == Map(1L -> 4L, 11L -> 4L))
  }

  test("minplus: cheapest co-order weights, 2 hops across the bridge") {
    // edge weight = min over shared orders of the two line cents:
    // order 2 prices the {1..4} clique at 200; {11..14} pairs cost
    // (u + v)·100; the bridge 4–11 costs 1500
    val got = run("graph_minplus_2hop", twoCliques).map(r =>
      (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[Long]("best_cents"))).sorted.toSeq
    val clique = for (u <- 1L to 4L; v <- 1L to 4L if u != v) yield (u, v, 200L)
    val bridge = Seq((1L, 11L, 1700L), (2L, 11L, 1700L), (3L, 11L, 1700L),
      (4L, 11L, 1500L), (4L, 12L, 3800L), (4L, 13L, 3900L), (4L, 14L, 4000L))
    assert(got == (clique ++ bridge).sorted)
  }

  test("pagerank: 3 customers, 2 suppliers, two exact pico rounds") {
    // trade pairs c1–s1, c2–s1, c3–s1, c3–s2 (order 1 has a repeated
    // line). Nodes 5, teleport 1.5e11 div 5 = 3e10, init 2e11; per
    // round pr(v) = 3e10 + (85 · Σ pr(u) div outdeg(u)) div 100.
    // Round 1: c1 = c2 = 86666666666, c3 = 256666666666,
    //          s1 = 455000000000, s2 = 115000000000.
    // Round 2: s1 = 3e10 + (85 · 301666666665) div 100, etc.
    val dir = java.nio.file.Files.createTempDirectory("gpr").toString
    Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 3L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L), (1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = run("graph_pagerank", dir)
      .map(r => r.getAs[String]("entity") -> r.getAs[Long]("pr_pico")).toSeq
    assert(got == Seq("s1" -> 286416666665L, "c3" -> 256666666666L,
      "c1" -> 158916666666L, "c2" -> 158916666666L, "s2" -> 139083333333L))
  }

  test("katz2: triangle + pendant → hand-computed attenuated walks") {
    val dir = java.nio.file.Files.createTempDirectory("katz").toString
    import spark.implicits._
    Seq((100L, 1L), (100L, 2L), (100L, 3L), (200L, 3L), (200L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("graph_katz2")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    // katz64 = 64 + 8·deg + Σ neighbor degs
    val expect = Seq((3L, 93L), (1L, 85L), (2L, 85L), (4L, 75L))
    assert(rows.map(r => (r.getAs[Long]("node"), r.getAs[Long]("katz64")))
      .toSeq == expect)
  }

  test("assortativity: a 3-leaf star is perfectly disassortative (−1)") {
    val dir = java.nio.file.Files.createTempDirectory("ast").toString
    import spark.implicits._
    Seq((100L, 1L), (100L, 2L), (200L, 1L), (200L, 3L), (300L, 1L),
      (300L, 4L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("graph_assortativity")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Double]("assortativity") == -1.0)
  }
}

/** PageRank releases what it persists: a ranking query leaves the
  * session's CacheManager holding what it held before the query.
  */
class PageRankCacheSpec extends SparkTestBase {

  test("graph_pagerank, graph_ppr and textrank_keywords leave no cached table") {
    import org.apache.spark.sql.graftbridge.CachedEntries
    for (name <- Seq("graph_pagerank", "graph_ppr", "textrank_keywords")) {
      val before = CachedEntries(spark)
      assert(SparkEntry.queries(name)(spark, sfDir).collect().nonEmpty)
      assert(CachedEntries(spark) == before,
        s"$name left ${CachedEntries(spark) - before} more cached tables")
    }
  }
}
