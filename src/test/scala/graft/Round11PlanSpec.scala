package graft

/** Plan-shape gates for the round-11 queries — each SURVEY §2 scale
  * claim asserted on the physical plan, not just stated.
  */
class Round11PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("anova reduces orders to the k-grain with a map-side partial agg") {
    val plan = planOf("anova_oneway")
    assert(plan.contains("partial_"), s"no map-side partial agg:\n$plan")
    // only priority + price reach the scan
    assert(!plan.contains("o_orderdate") && !plan.contains("o_custkey"),
      s"scan reads columns the F statistic never touches:\n$plan")
  }

  test("levene's median join back to orders is a broadcast of the 5-row table") {
    val plan = planOf("levene_spread")
    assert(plan.contains("BroadcastHashJoin"),
      s"median join shuffled the orders relation:\n$plan")
  }

  test("gini windows run on the value grain, partitioned by segment") {
    val plan = planOf("gini_segment")
    // the one window is segment-partitioned — never a single partition
    assert(!plan.matches("(?s).*Exchange SinglePartition.*Window.*"),
      s"unpartitioned window over the customer relation:\n$plan")
    assert(plan.contains("partial_"), s"no map-side rollup:\n$plan")
  }

  test("mutual information broadcasts the 1-row MI against the grid") {
    // the margin joins live behind the grid's localCheckpoint (the
    // grid is materialized once for its four consumers); the visible
    // plan must broadcast the MI scalar, never shuffle the grid
    val plan = planOf("mutual_information")
    assert(plan.contains("BroadcastExchange"),
      s"the MI scalar was not broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the model-sized grid got shuffled:\n$plan")
  }

  test("scene-cut windows partition per document — no global sort") {
    val plan = planOf("mm_scene_cuts")
    assert(!plan.matches("(?s).*Exchange SinglePartition.*Window.*"),
      s"unpartitioned window over the frame stream:\n$plan")
  }

  test("holt-winters collapses events to the day grain before the fold") {
    val plan = planOf("holt_winters")
    assert(plan.contains("partial_sum"),
      s"no map-side day agg before the calendar fold:\n$plan")
  }
}
