package graft

/** Every SparkEntry query runs at sf0.001 and returns a sane result. */
class QueriesSmokeSpec extends SparkTestBase {

  // queries whose legitimate result can be empty at tiny scale
  private val mayBeEmpty = Set("anti_join_quiet_customers", "having_big_customers")

  SparkEntry.allQueries.foreach { q =>
    test(s"query ${q.name} runs" + (if (q.oracle.isDefined) " (oracle-checked)" else "")) {
      val df = q.spark(spark, sfDir)
      assert(df.schema.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
      // global plan hygiene: NO query may plan a CartesianProduct —
      // every intentional unkeyed join in the repo is a broadcast of
      // a 1-row summary (cms/bm25 stats), which plans as BNLJ, never
      // a cartesian. A cartesian anywhere is a 100 TB outage.
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct:\n$plan")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL column names align with Spark result columns") {
    // cheap guard against alias drift: every oracle query's SELECT
    // aliases must appear in the Spark schema (checked per query by
    // the driver's hash compare; here we at least require non-empty
    // oracle text and distinct names)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.toLowerCase.startsWith("select") || sql.trim.toLowerCase.startsWith("with"),
        s"$name oracle is not a query")
    }
  }
}

/** Plan-shape assertions: scale behaviors we rely on (SURVEY §5). */
class PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q1 pushes the shipdate filter and prunes columns at the scan") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$plan")
    assert(!plan.contains("l_orderkey"), "scan reads columns the query never touches")
  }

  test("q3 broadcasts the filtered customer dimension") {
    val plan = planOf("q3_shipping_priority")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q5 keeps all dimension joins broadcast (single big-table shuffle)") {
    val plan = planOf("q5_region_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts")
  }

  test("sessionize uses one exchange for window + aggregation") {
    val plan = planOf("sessionize_events")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected a single shuffle, got $exchanges:\n$plan")
  }

  test("trip aggregation reuses the window partitioning for the groupBy") {
    val plan = planOf("trip_aggregation")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected a single shuffle, got $exchanges")
  }

  test("dedup scale paths plan no nested-loop or cartesian joins") {
    // The exact all-pairs semantics must still reach the cluster as
    // keyed equi-joins: blocked cosine pairs and pigeonhole simhash
    // pairs both die at 100 TB if any join degrades to BNLJ/cartesian.
    Seq("dedup_embed_cosine", "dedup_simhash", "dedup_minhash_pairs").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans BNLJ:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n$plan")
    }
  }

  test("kmeans/ivf assignment aggregates instead of window-sorting corpus×k rows") {
    Seq("kmeans_assign", "ann_ivf_topk", "ann_pq_topk").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("min_by"), s"$q assignment is not min_by:\n$plan")
    }
  }

  test("persisted IVF search prunes index partitions dynamically") {
    // The point of writing the index PARTITIONED BY cell: a search
    // probing nProbe cells must not scan the whole index. The probe
    // set arrives via a broadcast join on the partition column, so
    // Spark's dynamic partition pruning must rewrite the scan to read
    // only probed cell directories.
    val df = SparkEntry.queries("ann_ivf_persisted")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruningexpression"),
      s"index scan is not dynamically pruned:\n$plan")
  }

  test("arrayDot is planned natively inside codegen stages") {
    val df = SparkEntry.queries("dedup_embed_cosine")(spark, sfDir)
    df.collect() // finalize THIS QueryExecution's AQE plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("array_dot"), s"native expression missing:\n$plan")
    // `*(N)` node prefixes mark whole-stage-codegen stages
    assert("""\*\(\d+\) """.r.findFirstIn(plan).isDefined,
      s"no codegen stage found:\n$plan")
  }

  test("chunk_documents is a map-only pass (no shuffle at all)") {
    val plan = planOf("chunk_documents")
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle — one scan, one explode:\n$plan")
  }

  test("exact percentiles never plan the buffering percentile aggregate") {
    // Spark's `percentile` materializes every group value in one
    // unspillable ObjectHashAggregate buffer — an OOM at 100 TB with
    // few groups. Both exact-quantile queries must run through
    // DistributedQuantile (streamed sorted passes) instead.
    Seq("exact_percentiles", "tdigest_order_value").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.analyzed.toString + df.queryExecution.executedPlan.toString
      assert(!plan.contains("percentile("),
        s"$q still plans the single-reducer percentile agg:\n$plan")
    }
  }

  test("pack_documents and window_distribution_ranks plan no low-cardinality window") {
    // PARTITION BY lang / o_orderpriority has a handful of groups: a
    // window would serialize each group's whole corpus through one
    // reducer. The running total / rank must come from
    // DistributedPrefixSum (two parallel streamed passes) — no Window
    // operator anywhere.
    Seq("pack_documents", "window_distribution_ranks",
        "corpus_pretrain_pipeline").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$q still plans a low-cardinality window:\n$plan")
    }
  }

  test("exact dedup shuffles fingerprints, not document text") {
    // The dedup exchange must key on the 128-bit xxhash64 fingerprint
    // + length — shipping the normalized text as the groupBy key costs
    // ~50× more shuffle bytes at corpus scale.
    Seq("dedup_exact_docs", "corpus_curate_pipeline").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val agg = df.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.last // the bottom-most aggregate is the dedup stage
      val keyTypes = agg.groupingExpressions.map(_.dataType.typeName).toSet
      assert(!keyTypes.contains("string"),
        s"$q dedup groups by a string key (ships text through the exchange): $keyTypes")
    }
  }

  test("text_lm_score scores with one corpus scan and one corpus-scale join") {
    // Training materializes into a localCheckpointed model, so the
    // scoring plan must contain exactly ONE scan of documents (the
    // model side reads the checkpoint RDD) and at most 3 exchanges:
    // the join shuffle on (w1,w2), the model side of that shuffle,
    // and the doc_id aggregation — never the 3-4 re-executions of the
    // explode subtree the naive multi-join plan produces.
    val df = SparkEntry.queries("text_lm_score")(spark, sfDir)
    df.collect()
    // AQE toString appends the pre-adaptive "Initial Plan" — assert on
    // the final plan section only.
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Scan ExistingRDD".r.findAllIn(plan).nonEmpty,
      s"model is not checkpointed (no RDD scan):\n$plan")
    val fileScans = "Scan parquet".r.findAllIn(plan).length
    assert(fileScans <= 1, s"expected <=1 parquet scan, got $fileScans:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 4, s"expected <=4 exchanges, got $exchanges:\n$plan")
  }

  test("stratified_sample reuses the TopKPerKey exchange for the final agg") {
    val plan = planOf("stratified_sample")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"TopKPerKey + groupBy on the same stratum key should share one shuffle, got $exchanges:\n$plan")
  }

  test("span_dedup_docs ships hashed spans, never span strings, on its exchanges") {
    val df = SparkEntry.queries("span_dedup_docs")(spark, sfDir)
    val qe = df.queryExecution
    val aggKeyTypes = qe.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.map(_.dataType.typeName)
    }.flatten.toSet
    assert(!aggKeyTypes.contains("string"),
      s"span grouping keys include a string: $aggKeyTypes")
    val joinKeyTypes = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.toSeq.flatMap(_.references.toSeq.map(_.dataType.typeName))
    }.flatten.toSet
    assert(!joinKeyTypes.contains("string"),
      s"span join keys include a string: $joinKeyTypes")
  }

  test("semantic_dedup and kmv reuse their checkpointed base, no re-scan") {
    // semantic_dedup materializes cell assignments once; kmv
    // materializes the per-key flag relation once. Every downstream
    // consumer (self-join sides, sketch agg, survivor rollup) must
    // read the checkpoint RDD — a parquet scan in the final plan
    // means the corpus subtree re-executes per consumer.
    Seq("semantic_dedup", "kmv_set_intersection").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert("Scan ExistingRDD".r.findAllIn(plan).nonEmpty,
        s"$q: base relation is not checkpointed:\n$plan")
      val fileScans = "Scan parquet".r.findAllIn(plan).length
      assert(fileScans == 0,
        s"$q: expected 0 parquet scans after checkpoint, got $fileScans:\n$plan")
    }
  }

  test("corpus_rebalance broadcasts the threshold table over one corpus scan") {
    val df = SparkEntry.queries("corpus_rebalance")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"threshold join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled for the threshold join:\n$plan")
  }

  test("text_pmi_bigrams ranks via TakeOrdered over the checkpointed count table") {
    // The bigram-count table is localCheckpointed: marginals and the
    // final ranking must consume the RDD, never re-run the corpus
    // explode (0 parquet scans), and the global top-20 must plan as
    // TakeOrderedAndProject (bounded per-partition heaps), not a full
    // Sort — a full sort of the pair table is needless work at scale.
    val df = SparkEntry.queries("text_pmi_bigrams")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(plan).isEmpty,
      s"marginals re-scan the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k is not TakeOrdered:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"model-sized marginal join shuffled:\n$plan")
  }

  test("corpus_importance_weights scores with one corpus scan and a broadcast model") {
    // DSIR shape: train once (checkpointed ≤ B-row model), score with
    // ONE corpus scan joined map-side against the broadcast weight
    // table — a second scan or a shuffled join means the training
    // subtree re-executes per consumer.
    val df = SparkEntry.queries("corpus_importance_weights")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val fileScans = "Scan parquet".r.findAllIn(plan).length
    assert(fileScans == 1, s"expected 1 parquet scan, got $fileScans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"weight join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled for the weight join:\n$plan")
  }

  test("skew_salted_join scatters on the salt key") {
    val df = SparkEntry.queries("skew_salted_join")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("_salt"),
      s"salted join lost its scatter column:\n$plan")
  }

  test("ann_binary_rerank bounds both stages with TopKPerKey heaps") {
    // the Hamming scan and the rerank must both flow through the
    // bounded-heap operator — a row_number window here would sort
    // corpus × |Q| rows at 100 TB
    val plan = planOf("ann_binary_rerank")
    val heaps = "TopKPerKey".r.findAllIn(plan).length
    // partial + final per stage = 4 exec nodes
    assert(heaps >= 4, s"expected 2 TopKPerKey stages (4 nodes), got $heaps:\n$plan")
    assert(!plan.contains("Window"), s"BQ path plans a window sort:\n$plan")
  }

  test("contrastive_triplets broadcasts the batch, heaps the selections") {
    val plan = planOf("contrastive_triplets")
    assert("TopKPerKey".r.findAllIn(plan).length >= 4,
      s"positive/negative selection not heap-bounded:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"anchor batch not broadcast against the corpus pass:\n$plan")
  }

  test("classifier_calibration plans no window and one corpus-side agg chain") {
    // deciles come from DistributedQuantile breakpoints broadcast over
    // one keyed agg — a global ntile/row_number window here is the
    // single-reducer sort this query exists to avoid
    val plan = planOf("classifier_calibration")
    assert(!plan.contains("Window"),
      s"calibration binning fell back to a window sort:\n$plan")
  }

  test("span_dedup_rewrite keeps string payloads off the join keys") {
    val qe = SparkEntry.queries("span_dedup_rewrite")(spark, sfDir).queryExecution
    val joinKeyTypes = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.toSeq.flatMap(_.references.toSeq.map(_.dataType.typeName))
    }.flatten.toSet
    assert(!joinKeyTypes.contains("string"),
      s"rewrite join keys include a string: $joinKeyTypes")
  }
}
