package graft

/** Plan-shape gates for the round-10 extension-session queries —
  * each SURVEY §2 scale claim asserted on the physical plan.
  */
class Round20PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("retrieval_eval ranks through the bounded TopKPerKey heap, not a window sort") {
    val plan = planOf("retrieval_eval")
    assert(plan.contains("TopKPerKey"),
      s"the corpus x |Q| score relation misses the bounded heap:\n$plan")
  }

  test("knn_classify rides the same heap; the vote argmax stays model-sized") {
    val plan = planOf("knn_classify")
    assert(plan.contains("TopKPerKey"), s"no bounded heap:\n$plan")
  }

  test("mann_kendall reads only the two order columns; day agg combines map-side") {
    val plan = planOf("mann_kendall_trend")
    assert(plan.contains("partial_sum"),
      s"no map-side day agg before the pair join:\n$plan")
    assert(!plan.contains("o_custkey") && !plan.contains("o_orderpriority"),
      s"scan reads columns the trend never touches:\n$plan")
  }

  test("poisson bootstrap is one map-only weight pass into a combined 32-group agg") {
    val plan = planOf("poisson_bootstrap_ci")
    assert(plan.contains("fingerprint64"),
      s"the codegen'd fingerprint is not in the plan:\n$plan")
    assert(plan.contains("partial_sum"),
      s"replicate sums reach the exchange un-combined:\n$plan")
    assert(!plan.contains("o_orderdate"),
      s"scan reads columns the weights never touch:\n$plan")
  }

  test("sprt walks events via DistributedPrefixSum, never a single-reducer window") {
    val plan = planOf("sprt_decision")
    // the running counters come from the range-partitioned streamed
    // pass; a global `Window` with an empty partition spec would be
    // the single-reducer anti-pattern
    assert(!plan.contains("Window ["),
      s"a window operator crept into the SPRT walk:\n$plan")
  }

  test("time-decay attribution joins clicks through the keyed interval bucketing") {
    val plan = planOf("attribution_time_decay")
    // the B94 RangeJoin discipline: a (user, bucket) equi-join, not a
    // cartesian/broadcast-nested-loop range scan of the click stream
    assert(!plan.contains("CartesianProduct"),
      s"cartesian range scan instead of the bucketed join:\n$plan")
  }
}
