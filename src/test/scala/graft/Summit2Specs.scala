package graft

import org.apache.spark.sql.functions._

/** Planted specs for the round-10 engine-surface wave: RANGE frames
  * (B125) and zone-map prune stats (B126).
  */
class RangeFramesSpec extends SparkTestBase {
  import spark.implicits._

  test("value-distance frames: peers share, gaps shrink, forward excludes self") {
    val dir = java.nio.file.Files.createTempDirectory("rangef").toString
    // cust 1: days 0, 10, 10 (peers), 50; cust 2: day 5
    Seq((1L, 1L, 0L, 100.0), (2L, 1L, 10L, 200.0), (3L, 1L, 10L, 300.0),
      (4L, 1L, 50L, 400.0), (5L, 2L, 5L, 50.0))
      .toDF("o_orderkey", "o_custkey", "day", "o_totalprice")
      .select($"o_orderkey", $"o_custkey",
        timestamp_seconds($"day" * 86400L).as("o_orderdate"), $"o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("window_range_frames")(spark, dir)
      .select($"o_orderkey", $"cents_30d", $"cents_next30")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // day 0: trailing = self; next30 = both day-10 peers (RANGE, not ROWS)
    assert(got(1L) == ((10000L, 50000L)), s"got ${got(1L)}")
    // day-10 peers both see 0+10a+10b trailing — identical frames
    assert(got(2L) == got(3L) && got(2L)._1 == 60000L, s"got ${got(2L)}")
    // day 50: 30-day window reaches back to day 20 — nothing inside
    assert(got(4L) == ((40000L, 0L)), s"got ${got(4L)}")
    // other customer unaffected
    assert(got(5L) == ((5000L, 0L)), s"got ${got(5L)}")
  }
}

class ZonemapSpec extends SparkTestBase {
  import spark.implicits._

  test("zone extents, exact min/max, and both prune verdicts") {
    val dir = java.nio.file.Files.createTempDirectory("zonemap").toString
    // zone 0 (keys < 256): cheap + old -> prunable by BOTH predicates;
    // zone 1 (keys 256..511): one expensive row + one recent row
    Seq((1L, 100.0, 9000L), (255L, 200.0, 9500L),
      (256L, 95000.0, 9990L), (400L, 10.0, 10500L))
      .toDF("l_orderkey", "l_extendedprice", "day")
      .select($"l_orderkey", $"l_extendedprice",
        timestamp_seconds($"day" * 86400L).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("zonemap_prune_stats")(spark, dir)
      .select($"zone", $"n_rows", $"min_cents", $"max_cents", $"min_day",
        $"max_day", $"prune_price", $"prune_day")
      .as[(Long, Long, Long, Long, Long, Long, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 2L, 10000L, 20000L, 9000L, 9500L, 1, 1)),
      s"zone0 ${got(0L)}")
    // zone 1: max cents 9,500,000 > 9,000,000 -> NOT prunable on price;
    // max day 10,500 >= 10,000 -> NOT prunable on day
    assert(got(1L) == ((1L, 2L, 1000L, 9500000L, 9990L, 10500L, 0, 0)),
      s"zone1 ${got(1L)}")
  }

  test("corpus run: stats cover every row and zones partition the table") {
    val li = GraftSession.table(spark, sfDir, "lineitem")
    val total = li.count()
    val got = SparkEntry.queries("zonemap_prune_stats")(spark, sfDir)
    assert(got.agg(sum($"n_rows")).as[Long].head() == total)
    assert(got.filter($"min_cents" > $"max_cents").count() == 0)
    assert(got.filter($"min_day" > $"max_day").count() == 0)
  }
}
