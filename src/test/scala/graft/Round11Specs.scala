package graft

import org.apache.spark.sql.functions._

/** Round-11 statistics-wave specs — hand-computed planted cases for
  * the semantics the SF oracle gate cannot isolate (both engines
  * replay the same arithmetic; these pin what the statistics MEAN).
  */

/** B131 anova_oneway — textbook two-group case with a hand-solved F,
  * plus degenerate guards (zero within-variance → NULL).
  */
class AnovaSpec extends SparkTestBase {
  import spark.implicits._

  private def run(rows: Seq[(String, Double)]): org.apache.spark.sql.Row = {
    val dir = java.nio.file.Files.createTempDirectory("anova").toString
    rows.toDF("o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    SparkEntry.queries("anova_oneway")(spark, dir).collect().head
  }

  test("hand-solved two-group F: SSB=150, SSW=4, F=150") {
    // A: 9,10,11 (mean 10); B: 19,20,21 (mean 20). Grand mean 15.
    // SSB = 3·25 + 3·25 = 150; SSW = 2 + 2 = 4; F = (150/1)/(4/4) = 150.
    val r = run(Seq("A" -> 9.0, "A" -> 10.0, "A" -> 11.0,
      "B" -> 19.0, "B" -> 20.0, "B" -> 21.0))
    assert(r.getAs[Long]("n_groups") == 2L)
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Double]("ssb_dollars2") == 150.0)
    assert(r.getAs[Double]("ssw_dollars2") == 4.0)
    assert(r.getAs[Double]("f_stat") == 150.0)
  }

  test("zero within-group variance → NULL F, exact SSB") {
    val r = run(Seq("A" -> 10.0, "A" -> 10.0, "B" -> 20.0, "B" -> 20.0))
    assert(r.getAs[Double]("ssb_dollars2") == 100.0)
    assert(r.getAs[Double]("ssw_dollars2") == 0.0)
    assert(r.isNullAt(r.fieldIndex("f_stat")))
  }

  test("corpus run is non-degenerate") {
    val r = SparkEntry.queries("anova_oneway")(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_groups") == 5L)
    assert(r.getAs[Double]("f_stat") > 0.0)
  }
}

/** B130 levene_spread — Brown-Forsythe W: equal medians + unequal
  * spreads must fire; identical spreads must land exactly on 0.
  */
class LeveneSpec extends SparkTestBase {
  import spark.implicits._

  private def run(rows: Seq[(String, Double)]): org.apache.spark.sql.Row = {
    val dir = java.nio.file.Files.createTempDirectory("levene").toString
    rows.toDF("o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    SparkEntry.queries("levene_spread")(spark, dir).collect().head
  }

  test("hand-solved spread difference: W = 4 exactly") {
    // A: 10,10,10 → lower median 10, z = {0,0,0}
    // B: 5,15,25 → lower median 15 (cum≥2), z = {10,0,10}
    // n=6, k=2; S_A=0,Q_A=0; S_B=20,Q_B=200
    // T = 0 + 400//3 = 133; S²//N = 400//6 = 66
    // SSB = 133−66 = 67; SSW = 200−133 = 67; W = (67·4)/(67·1) = 4.
    val r = run(Seq("A" -> 10.0, "A" -> 10.0, "A" -> 10.0,
      "B" -> 5.0, "B" -> 15.0, "B" -> 25.0))
    assert(r.getAs[Double]("w_stat") == 4.0)
  }

  test("identical group spreads → W = 0 exactly") {
    // both groups have z-multiset {1,0,1} after median centering
    val r = run(Seq("A" -> 9.0, "A" -> 10.0, "A" -> 11.0,
      "B" -> 19.0, "B" -> 20.0, "B" -> 21.0))
    assert(r.getAs[Double]("w_stat") == 0.0)
  }

  test("corpus run is non-degenerate") {
    val r = SparkEntry.queries("levene_spread")(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_rows") > 0L)
    assert(!r.isNullAt(r.fieldIndex("w_stat")))
  }
}

/** B132 gini_segment — exact planted Lorenz cases: perfect equality
  * is 0, the 1-2-3-4 ladder is exactly 0.25, and ties are handled by
  * the rank-block identity (invariant to order among equals).
  */
class GiniSpec extends SparkTestBase {
  import spark.implicits._

  private def run(rev: Seq[Double]): Map[String, org.apache.spark.sql.Row] = {
    val dir = java.nio.file.Files.createTempDirectory("gini").toString
    rev.zipWithIndex.map { case (v, i) => (i.toLong + 1, "SEG") }
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    rev.zipWithIndex.map { case (v, i) => (i.toLong + 1, v) }
      .toDF("o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    SparkEntry.queries("gini_segment")(spark, dir).collect()
      .map(r => r.getAs[String]("segment") -> r).toMap
  }

  test("perfect equality → gini 0; 1-2-3-4 ladder → exactly 0.25") {
    assert(run(Seq(5.0, 5.0, 5.0, 5.0))("SEG").getAs[Double]("gini") == 0.0)
    // sorted 100,200,300,400 cents: 2Σi·x = 6000; (n+1)Σx = 5000;
    // n·Σx = 4000 → G = 1000/4000 = 0.25
    assert(run(Seq(1.0, 2.0, 3.0, 4.0))("SEG").getAs[Double]("gini") == 0.25)
  }

  test("ties collapse to the same value block: {1,1,4} gini = 1/3") {
    // sorted 100,100,400: 2Σi·x = 2(100+200+1200) = 3000;
    // (n+1)Σx = 2400; n·Σx = 1800 → (3000−2400)/1800 = 1/3
    val g = run(Seq(1.0, 1.0, 4.0))("SEG").getAs[Double]("gini")
    assert(g == math.floor(600.0 / 1800.0 * 1e6 + 0.5) / 1e6, s"got $g")
  }

  test("corpus ginis are concentration-shaped: strictly inside (0,1)") {
    val rows = SparkEntry.queries("gini_segment")(spark, sfDir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g > 0.0 && g < 1.0, s"${r.getAs[String]("segment")}: $g")
    }
  }
}

/** B133 mutual_information — planted dependence extremes: a
  * deterministic 2×2 mapping carries exactly ln 2 nats; a uniform
  * grid carries exactly 0.
  */
class MutualInfoSpec extends SparkTestBase {
  import spark.implicits._

  private def run(rows: Seq[(String, Int)]): (Double, Map[(String, Long), Double]) = {
    val dir = java.nio.file.Files.createTempDirectory("mi").toString
    rows.zipWithIndex.map { case ((seg, nat), i) => (i.toLong, seg, nat) }
      .toDF("c_custkey", "c_mktsegment", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // orders unused by the query but keep the loader honest
    val out = SparkEntry.queries("mutual_information")(spark, dir).collect()
    val mi = out.head.getAs[Double]("mi_nats")
    val pmi = out.map(r =>
      (r.getAs[String]("segment"), r.getAs[Long]("nation")) ->
        r.getAs[Double]("pmi")).toMap
    (mi, pmi)
  }

  test("deterministic mapping → MI = ln 2 on the 1e-4 grid") {
    val (mi, pmi) = run(Seq("A" -> 0, "A" -> 0, "B" -> 1, "B" -> 1))
    val ln2e4 = math.floor(math.log(2.0) * 1e4 + 0.5) / 1e4 // 0.6931
    assert(pmi(("A", 0L)) == ln2e4 && pmi(("B", 1L)) == ln2e4)
    // MI = Σ n·pmi_e4 / (N·1e4) = (2+2)·6931/40000 = 0.6931
    assert(mi == 0.6931, s"got $mi")
  }

  test("independent uniform grid → MI = 0 exactly") {
    val (mi, pmi) = run(Seq(
      "A" -> 0, "A" -> 1, "B" -> 0, "B" -> 1))
    assert(pmi.values.forall(_ == 0.0))
    assert(mi == 0.0)
  }

  test("corpus MI is small but the grid is full") {
    val out = SparkEntry.queries("mutual_information")(spark, sfDir).collect()
    assert(out.length > 50) // segments × nations grid is populated
    val mi = out.head.getAs[Double]("mi_nats")
    assert(mi >= 0.0 && mi < 0.5, s"synthetic independence broken: $mi")
  }
}

/** B136 holt_winters — a constant series is a fixed point (level =
  * the constant, zero trend/season), and a pure period-7 signal is
  * recovered EXACTLY by the seasonal forecasts.
  */
class HoltWintersSpec extends SparkTestBase {
  import spark.implicits._

  private def run(dailyValues: Seq[Double]): Array[org.apache.spark.sql.Row] = {
    val dir = java.nio.file.Files.createTempDirectory("hw").toString
    val day0 = 19723L * 86400 // inside the corpus range, day-aligned
    dailyValues.zipWithIndex.map { case (v, i) =>
      (i.toLong, (day0 + i * 86400L) * 1000000000L, 1L, "et", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    SparkEntry.queries("holt_winters")(spark, dir)
      .collect().sortBy(_.getAs[Long]("h"))
  }

  test("constant series is a fixed point: level=c, trend=0, season=0") {
    val out = run(Seq.fill(10)(5.0)) // 10 days of 500 cents
    out.foreach { r =>
      assert(r.getAs[Double]("level") == 500.0)
      assert(r.getAs[Double]("trend") == 0.0)
      assert(r.getAs[Double]("seasonal") == 0.0)
      assert(r.getAs[Double]("forecast") == 500.0)
    }
    assert(out.head.getAs[Long]("n_days") == 10L)
  }

  test("pure period-7 signal: forecasts recover the pattern exactly") {
    val pattern = Seq(7.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0) // cents 700,0,...
    val out = run(pattern ++ pattern) // 14 days, two full periods
    // l0 = 100; s_i = p_i − 100; the fold is a fixed point, so
    // forecast(h) = 100 + (p_h − 100) = p_h
    val expected = Seq(700.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    out.zip(expected).foreach { case (r, p) =>
      assert(r.getAs[Double]("level") == 100.0)
      assert(r.getAs[Double]("trend") == 0.0)
      assert(r.getAs[Double]("forecast") == p,
        s"h=${r.getAs[Long]("h")}: ${r.getAs[Double]("forecast")} != $p")
    }
  }

  test("corpus forecast: 7 horizons off the 30-day grid") {
    val out = SparkEntry.queries("holt_winters")(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("h"))
    assert(out.length == 7)
    assert(out.head.getAs[Long]("n_days") == 30L)
    out.foreach(r => assert(r.getAs[Double]("forecast") > 0.0))
  }
}

/** C115 mm_scene_cuts — identical frames measure exactly 0 distance
  * (no cut); differing frames measure positive distance; the flag is
  * exactly the 9.0-threshold predicate.
  */
class SceneCutSpec extends SparkTestBase {
  import spark.implicits._

  private def run(text: String): Array[org.apache.spark.sql.Row] = {
    val dir = java.nio.file.Files.createTempDirectory("scut").toString
    Seq((1L, text, "en", "s")).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries("mm_scene_cuts")(spark, dir).collect()
  }

  test("identical frames → dist exactly 0, no cut") {
    val out = run("a" * 256) // frames 0 and 2, both 'a'×64
    assert(out.length == 1)
    assert(out.head.getAs[Double]("dist") == 0.0)
    assert(out.head.getAs[Int]("is_cut") == 0)
  }

  test("different frame content → positive dist, flag = threshold predicate") {
    val out = run(("a" * 128) + ("b" * 128)) // frame 0 'a'×64, frame 2 'b'×64
    assert(out.length == 1)
    val d = out.head.getAs[Double]("dist")
    assert(d > 0.0)
    assert(out.head.getAs[Int]("is_cut") == (if (d > 9.0) 1 else 0))
  }

  test("corpus transitions populate both classes") {
    val out = SparkEntry.queries("mm_scene_cuts")(spark, sfDir).collect()
    val cuts = out.count(_.getAs[Int]("is_cut") == 1)
    assert(cuts > 0 && cuts < out.length, s"$cuts/${out.length}")
  }
}

/** D44 streaming_zscore_anomaly — a planted constant prefix makes the
  * 31st extreme event the one anomaly; the warm-up gate and the
  * watermark emission rule are pinned.
  */
class ZscoreAnomalySpec extends SparkTestBase {
  import spark.implicits._

  test("constant warm-up then one extreme → exactly one anomaly") {
    val dir = java.nio.file.Files.createTempDirectory("zanom").toString
    val t0 = 19723L * 86400
    val rows =
      (0 until 30).map(i =>
        (i.toLong, (t0 + i) * 1000000000L, 1L, "probe", 10.0, "{}")) ++
      Seq((30L, (t0 + 30) * 1000000000L, 1L, "probe", 100.0, "{}"),
        // watermark pusher: 3 hours later, different key
        (31L, (t0 + 10800) * 1000000000L, 2L, "push", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("streaming_zscore_anomaly")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val p = out("probe")
    assert(p.getAs[Long]("n_folded") == 31L)
    assert(p.getAs[Long]("n_anomalies") == 1L)
    assert(p.getAs[Long]("sum_cents") == 30L * 1000 + 10000)
    // the 30 constant warm-up events never self-flag
    assert(!out.contains("push") ||
      out("push").getAs[Long]("n_anomalies") == 0L)
  }

  test("corpus stream folds every type below the watermark, no flood") {
    val out = SparkEntry.queries("streaming_zscore_anomaly")(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n_folded")
      val a = r.getAs[Long]("n_anomalies")
      assert(n > 30 && a >= 0 && a < n / 2,
        s"${r.getAs[String]("event_type")}: $a/$n")
    }
  }
}

/** D45 streaming_anova — the live F equals the hand-solved batch
  * case (the B131 planted algebra on the cents grain).
  */
class StreamingAnovaSpec extends SparkTestBase {
  import spark.implicits._

  test("hand-solved two-group F = 150 off the live snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("sanova").toString
    val t0 = 19723L * 86400
    val vals = Seq("A" -> 0.09, "A" -> 0.10, "A" -> 0.11,
      "B" -> 0.19, "B" -> 0.20, "B" -> 0.21)
    vals.zipWithIndex.map { case ((ty, v), i) =>
      (i.toLong, (t0 + i) * 1000000000L, 1L, ty, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("streaming_anova")(spark, dir).collect().head
    assert(r.getAs[Long]("n_groups") == 2L)
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Double]("f_stat") == 150.0)
  }

  test("corpus live F is defined and positive") {
    val r = SparkEntry.queries("streaming_anova")(spark, sfDir)
      .collect().head
    assert(r.getAs[Long]("n_groups") >= 3L)
    assert(r.getAs[Double]("f_stat") > 0.0)
  }
}
