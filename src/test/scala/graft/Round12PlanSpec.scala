package graft

/** Plan-shape gates for the round-12 queries — each SURVEY §2 scale
  * claim asserted on the physical plan, not just stated.
  */
class Round12PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("bh_fdr_ks collapses orders to the value grain map-side; " +
    "the segment window is partitioned") {
    val plan = planOf("bh_fdr_ks")
    assert(plan.contains("partial_"),
      s"the (seg, cents) grain reaches a shuffle un-combined:\n$plan")
    // the per-segment cum window must be segment-partitioned (the
    // one global window runs on the value-grain gc relation — the
    // stated B120 bound)
    assert(plan.contains("hashpartitioning(seg"),
      s"no segment-partitioned window exchange:\n$plan")
  }

  test("pacf reads only the two order columns and day-aggregates map-side") {
    val plan = planOf("timeseries_pacf")
    assert(plan.contains("partial_sum"),
      s"no map-side day agg before the calendar fold:\n$plan")
    assert(!plan.contains("o_custkey") && !plan.contains("o_orderpriority"),
      s"scan reads columns the recursion never touches:\n$plan")
  }

  test("cluster profile rolls cluster sizes up map-side") {
    val plan = planOf("dedup_cluster_profile")
    assert(plan.contains("partial_"),
      s"the cluster-grain rollup reaches a shuffle un-combined:\n$plan")
  }

  test("kruskal-wallis collapses orders to the value grain map-side") {
    val plan = planOf("kruskal_wallis")
    assert(plan.contains("partial_"),
      s"the (pri, cents) grain reaches a shuffle un-combined:\n$plan")
    assert(!plan.contains("o_custkey") && !plan.contains("o_orderdate"),
      s"scan reads columns the H statistic never touches:\n$plan")
  }

  test("hodges-lehmann broadcasts the view grain into the cross join") {
    val plan = planOf("hodges_lehmann")
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastExchange"),
      s"the bounded diff cross join shuffled instead of broadcasting:\n$plan")
  }

  test("log-rank reduces events to per-user rows with map-side partials") {
    val plan = planOf("log_rank_conversion")
    assert(plan.contains("partial_"),
      s"the per-user min/max pass reaches a shuffle un-combined:\n$plan")
    assert(!plan.contains("props"),
      s"scan reads the props payload the test never touches:\n$plan")
  }

  test("ljung-box and runs test collapse orders to the day grain map-side") {
    for (q <- Seq("ljung_box", "runs_test_daily")) {
      val plan = planOf(q)
      assert(plan.contains("partial_sum"),
        s"$q: no map-side day agg before the calendar fold:\n$plan")
      assert(!plan.contains("o_custkey"),
        s"$q: scan reads columns the statistic never touches:\n$plan")
    }
  }

  test("AD and JT collapse to the value grain map-side") {
    for (q <- Seq("anderson_darling", "jonckheere_trend")) {
      val plan = planOf(q)
      assert(plan.contains("partial_"),
        s"$q: the value grain reaches a shuffle un-combined:\n$plan")
    }
  }

  test("span corruption windows partition per document — no global sort") {
    val plan = planOf("span_corruption")
    assert(!plan.matches("(?s).*Exchange SinglePartition.*Window.*"),
      s"unpartitioned window over the token explode:\n$plan")
    assert(plan.contains("hashpartitioning(doc_id"),
      s"no doc-partitioned window exchange:\n$plan")
  }

  test("preference pairs rank through TopKPerKey, never a window sort") {
    val plan = planOf("preference_pairs")
    assert(plan.contains("TopKPerKey"),
      s"the per-source ranking fell back to a window sort:\n$plan")
    assert(!plan.contains("Window"),
      s"a window operator appeared in the ranking path:\n$plan")
  }
}
