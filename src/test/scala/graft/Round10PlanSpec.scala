package graft

/** Plan-shape gates for the round-10 queries — the `.explain`
  * discipline: each row's SURVEY §2 scale claim is asserted on the
  * physical plan, not just stated.
  */
class Round10PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("zonemap stats are ONE map-side-combined keyed agg over a pruned scan") {
    val plan = planOf("zonemap_prune_stats")
    // partial + final HashAggregate around a single exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected a single shuffle, got $exchanges:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial agg:\n$plan")
    // scan must not read columns the stats never touch
    assert(!plan.contains("l_partkey") && !plan.contains("l_returnflag"),
      "scan reads columns the zone stats never touch")
  }

  test("RANGE frames fuse into one window pass with a partition-local sort") {
    val plan = planOf("window_range_frames")
    assert(plan.contains("RangeFrame"), s"no RANGE frame:\n$plan")
    // both frames computed in ONE Window node over ONE exchange
    assert("Window \\[".r.findAllIn(plan).length == 1,
      s"frames did not fuse into one window pass:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected a single shuffle:\n$plan")
    // the sort under the window is partition-local (global flag false)
    assert(!plan.contains("], true, 0"), s"global sort in:\n$plan")
  }

  test("spearman/acf collapse to the day grain before any window") {
    for (q <- Seq("spearman_daily", "timeseries_acf")) {
      val plan = planOf(q)
      // the day agg must be partial (map-side combined) so the
      // day-grain windows/joins never see the orders relation
      assert(plan.contains("partial_"), s"$q: no map-side day agg:\n$plan")
    }
  }

  test("markov attribution plans only keyed windows over events") {
    val plan = planOf("attribution_markov")
    // journeys via per-user windows: every window partitions by user
    assert(!plan.contains("Window ["), "unexpected raw window node name")
    assert(!plan.matches("(?s).*Exchange SinglePartition.*Window.*"),
      s"unpartitioned window over the corpus:\n$plan")
  }
}
