package graft

import org.apache.spark.sql.functions._

/** Planted-ground-truth specs for the round-10 statistics wave
  * (SummitQueries) — the oracle pins cross-engine agreement; these
  * pin that the STATISTICS are right (the changepoint lesson: two
  * engines can agree on a wrong formula).
  */
class SpearmanSpec extends SparkTestBase {
  import spark.implicits._

  private def ordersDir(rows: Seq[(Long, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("spearman").toString
    rows.toDF("day", "o_totalprice")
      .select(timestamp_seconds($"day" * 86400L).as("o_orderdate"),
        $"o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("strictly increasing daily revenue has rho exactly 1") {
    val dir = ordersDir(Seq((0L, 1.0), (1L, 2.0), (2L, 3.0), (3L, 4.0), (4L, 5.0)))
    val got = SparkEntry.queries("spearman_daily")(spark, dir)
      .select($"n_days", $"rho").as[(Long, Double)].head()
    assert(got == ((5L, 1.0)), s"got $got")
  }

  test("strictly decreasing daily revenue has rho exactly -1") {
    val dir = ordersDir(Seq((0L, 5.0), (1L, 4.0), (2L, 3.0), (3L, 1.0)))
    val got = SparkEntry.queries("spearman_daily")(spark, dir)
      .select($"rho").as[Double].head()
    assert(got == -1.0, s"got $got")
  }

  test("tie-averaged ranks: hand-computed rho on a tied series") {
    // days 0..3, cents 100/200/200/300 → doubled y-ranks 2,5,5,8;
    // num = 4·118−400 = 72, den = √80·√72 → rho = 0.948683 (6dp floor)
    val dir = ordersDir(Seq((0L, 1.0), (1L, 2.0), (2L, 2.0), (3L, 3.0)))
    val got = SparkEntry.queries("spearman_daily")(spark, dir)
      .select($"rho").as[Double].head()
    assert(got == 0.948683, s"got $got")
  }

  test("constant series yields NULL rho (zero rank variance), not a crash") {
    val dir = ordersDir(Seq((0L, 2.0), (1L, 2.0), (2L, 2.0)))
    val got = SparkEntry.queries("spearman_daily")(spark, dir)
      .select($"rho").collect()
    assert(got.length == 1 && got.head.isNullAt(0), s"got ${got.toSeq}")
  }
}

class AcfSpec extends SparkTestBase {
  import spark.implicits._

  private def ordersDir(rows: Seq[(Long, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("acf").toString
    rows.toDF("day", "o_totalprice")
      .select(timestamp_seconds($"day" * 86400L).as("o_orderdate"),
        $"o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private def acfMap(dir: String): Map[Long, Option[Double]] =
    SparkEntry.queries("timeseries_acf")(spark, dir)
      .select($"lag", $"acf").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap

  test("alternating series: exact acf(1) = -0.875, acf(2) = 0.75 (n=8)") {
    // dev = ∓80000 alternating; den = 8·80000²;
    // num(1) = 7·(−80000²) → −7/8; num(2) = 6·80000² → 6/8
    val dir = ordersDir((0L to 7L).map(d =>
      (d, if (d % 2 == 0) 100.0 else 300.0)))
    val got = acfMap(dir)
    assert(got(1L).contains(-0.875), s"lag1 ${got(1L)}")
    assert(got(2L).contains(0.75), s"lag2 ${got(2L)}")
  }

  test("calendar gap is zero-filled, not collapsed: days {0,2}") {
    // grid 0,1,2 with x = (10000, 0, 10000): acf(1) = −2/3, acf(2) = 1/6
    val dir = ordersDir(Seq((0L, 100.0), (2L, 100.0)))
    val got = acfMap(dir)
    assert(got(1L).contains(-0.666667), s"lag1 ${got(1L)}")
    assert(got(2L).contains(0.166667), s"lag2 ${got(2L)}")
    // lags beyond the series have no pairs → absent rows, not zeros
    assert(got.keySet == Set(1L, 2L), s"lags ${got.keySet}")
  }

  test("constant series: NULL acf (zero variance), not divide-by-zero") {
    val dir = ordersDir((0L to 5L).map(d => (d, 7.0)))
    val got = acfMap(dir)
    assert(got.nonEmpty && got.values.forall(_.isEmpty), s"got $got")
  }

  test("corpus run: 7 lags, |acf| <= 1 everywhere") {
    val got = acfMap(sfDir)
    assert(got.keySet == (1L to 7L).toSet, s"lags ${got.keySet}")
    assert(got.values.forall(_.forall(v => v >= -1.0 && v <= 1.0)), s"$got")
  }
}
