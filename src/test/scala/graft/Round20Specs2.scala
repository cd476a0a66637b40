package graft

import org.apache.spark.sql.functions._

/** B160 ols_influence / B161 seasonal_mann_kendall / C131
  * text_sentence_stats / C132 ngram_novelty — closed-form plants.
  */
class InfluenceSeasonalSpec extends SparkTestBase {
  import spark.implicits._

  private def ordersOnDays(days: Seq[Int]): String = {
    val dir = java.nio.file.Files.createTempDirectory("infl").toString
    days.zipWithIndex.map { case (d, i) =>
      (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(d.toLong)), (i + 1) * 1.0)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("ols_influence: gapped calendar puts the far day past the 4/n cut") {
    val rows = SparkEntry.queries("ols_influence")(
      spark, ordersOnDays(Seq(0, 1, 2, 3, 10)))
      .collect().map(r => r.getAs[Long]("day") -> r).toMap
    assert(rows.size == 5)
    val expected = Map(0L -> 0.363057, 1L -> 0.27707, 2L -> 0.22293,
      3L -> 0.200637, 10L -> 0.936306)
    expected.foreach { case (d, h) =>
      assert(rows(d).getAs[Double]("leverage") == h, s"day $d")
      assert(rows(d).getAs[Int]("high_leverage") == (if (d == 10L) 1 else 0))
    }
  }

  test("seasonal MK: 14 strictly increasing days → S=7, var18=126, z=6/√7") {
    val dir = java.nio.file.Files.createTempDirectory("smk").toString
    (0 until 14).map { i =>
      (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(i.toLong)), (i + 1) * 1.0)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("seasonal_mann_kendall")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_days") == 14L)
    assert(r.getAs[Long]("n_seasons") == 7L)
    assert(r.getAs[Long]("s_stat") == 7L) // one concordant pair per dow
    assert(r.getAs[Long]("var_s_x18") == 126L) // 7 · (2·1·9)
    assert(r.getAs[Double]("z") == 2.267787)
  }

  test("corpus: leverage sums to ~p; novelty in [0,1]; sentence stats consistent") {
    val lev = SparkEntry.queries("ols_influence")(spark, sfDir).collect()
    val hsum = lev.map(_.getAs[Double]("leverage")).sum
    // Σh_i = p = 2 for simple OLS (trace of the hat matrix), up to
    // the 6dp floor grid (n · ≤1e-6 each)
    assert(math.abs(hsum - 2.0) < lev.length * 1e-6 + 1e-3, s"sum $hsum")
    val nov = SparkEntry.queries("ngram_novelty")(spark, sfDir).collect()
    nov.foreach { r =>
      val v = r.getAs[Double]("novelty")
      assert(v >= 0.0 && v <= 1.0)
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_grams"))
    }
    val ss = SparkEntry.queries("text_sentence_stats")(spark, sfDir).collect()
    ss.foreach { r =>
      assert(r.getAs[Long]("max_sentence_len") * r.getAs[Long]("n_sentences")
        >= r.getAs[Long]("n_tokens"))
    }
  }
}

/** B162 hurst_rescaled_range / B163 durbin_watson / C133
  * mm_keyframe_select / C134 ann_ivf_nprobe_curve.
  */
class HurstDwKeyframeSpec extends SparkTestBase {
  import spark.implicits._

  private def dailyOrders(cents: Seq[Long]): String = {
    val dir = java.nio.file.Files.createTempDirectory("hdw").toString
    cents.zipWithIndex.map { case (c, i) =>
      (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(i.toLong)), c / 100.0)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("hurst: 256-day alternating series → R/S exactly 1 at every window") {
    val cents = (0 until 256).map(i => if (i % 2 == 0) 100L else 300L)
    val rows = SparkEntry.queries("hurst_rescaled_range")(
      spark, dailyOrders(cents)).collect()
      .map(r => r.getAs[Long]("window_days") -> r).toMap
    assert(rows.keySet == Set(64L, 128L, 256L))
    assert(rows(64L).getAs[Long]("n_blocks") == 4L)
    assert(rows(128L).getAs[Long]("n_blocks") == 2L)
    assert(rows(256L).getAs[Long]("n_blocks") == 1L)
    rows.values.foreach(r => assert(r.getAs[Double]("mean_rs") == 1.0))
  }

  test("durbin_watson: alternating residuals → DW = 3.4 (negative autocorr)") {
    val r = SparkEntry.queries("durbin_watson")(
      spark, dailyOrders(Seq(200L, 100L, 200L, 100L))).collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Double]("dw") == 3.4)
  }

  test("durbin_watson: perfect line → zero residuals → NULL dw") {
    val r = SparkEntry.queries("durbin_watson")(
      spark, dailyOrders(Seq(100L, 200L, 300L, 400L))).collect().head
    assert(r.isNullAt(r.fieldIndex("dw")))
  }

  test("corpus: one keyframe per shot, inside the shot span") {
    val shots = SparkEntry.queries("mm_shot_segments")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("shot_id")) -> r).toMap
    val keys = SparkEntry.queries("mm_keyframe_select")(spark, sfDir)
      .collect()
    assert(keys.length == shots.size) // exactly one per shot
    keys.foreach { k =>
      val sh = shots((k.getAs[Long]("id"), k.getAs[Long]("shot_id")))
      val kf = k.getAs[Int]("keyframe_idx")
      assert(kf >= sh.getAs[Int]("first_frame")
        && kf <= sh.getAs[Int]("last_frame"))
      assert(k.getAs[Long]("n_frames") == sh.getAs[Long]("n_frames"))
      assert(k.getAs[Double]("dist") >= 0.0)
    }
  }

  test("poisson_bootstrap: identical order values → SE exactly 0") {
    val dir = java.nio.file.Files.createTempDirectory("boot").toString
    import spark.implicits._
    (0 until 50).map(i => (i.toLong, java.sql.Date.valueOf("2024-01-01"),
      2.0)).toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("poisson_bootstrap_ci")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_orders") == 50L)
    assert(r.getAs[Double]("theta") == 200.0)
    // every replicate with any mass has mean exactly 200; P(zero
    // mass) ≈ e^-50 — the plant pins SE to the zero fixed point
    assert(r.getAs[Double]("se_boot") == 0.0)
    assert(r.getAs[Double]("ci_lo") == 200.0)
    assert(r.getAs[Double]("ci_hi") == 200.0)
  }

  test("diff_in_diff: planted +50-cent treated lift → did = 50") {
    val dir = java.nio.file.Files.createTempDirectory("did").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    // ctrl (user 0) flat at $1; treat (user 1) $2 pre, $2.50 post
    val rows = for (d <- 0 to 3; u <- 0 to 1) yield {
      val v = if (u == 0) 1.0 else if (d < 2) 2.0 else 2.5
      (u.toLong, t0 + d * 86400L, v)
    }
    rows.zipWithIndex.map { case ((u, sec, v), i) =>
      (i.toLong, sec * 1000000000L, u, "purchase", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("diff_in_diff")(spark, dir).collect().head
    assert(r.getAs[Double]("m_ctrl_pre") == 100.0)
    assert(r.getAs[Double]("m_ctrl_post") == 100.0)
    assert(r.getAs[Double]("m_treat_pre") == 200.0)
    assert(r.getAs[Double]("m_treat_post") == 250.0)
    assert(r.getAs[Double]("did") == 50.0)
  }

  test("corpus: bootstrap CI brackets theta; DiD cells populated") {
    val b = SparkEntry.queries("poisson_bootstrap_ci")(spark, sfDir)
      .collect().head
    assert(b.getAs[Double]("se_boot") > 0.0)
    assert(b.getAs[Double]("ci_lo") < b.getAs[Double]("theta"))
    assert(b.getAs[Double]("ci_hi") > b.getAs[Double]("theta"))
    val d = SparkEntry.queries("diff_in_diff")(spark, sfDir).collect().head
    Seq("m_treat_post", "m_treat_pre", "m_ctrl_post", "m_ctrl_pre")
      .foreach(c => assert(!d.isNullAt(d.fieldIndex(c)), c))
  }

  test("breusch_pagan: 4-day plant → LM = 1.118012") {
    val r = SparkEntry.queries("breusch_pagan")(
      spark, dailyOrders(Seq(100L, 200L, 100L, 400L))).collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Double]("lm_stat") == 1.118012)
  }

  test("cochran_q: nested funnel plant → Q = 3.0 exactly") {
    val dir = java.nio.file.Files.createTempDirectory("cq").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    val rows = Seq((1L, "view"), (2L, "view"), (2L, "cart"),
      (3L, "view"), (3L, "cart"), (3L, "purchase"))
    rows.zipWithIndex.map { case ((u, ty), i) =>
      (i.toLong, (t0 + i) * 1000000000L, u, ty, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("cochran_q")(spark, dir).collect().head
    assert(r.getAs[Long]("n_users") == 3L)
    assert(r.getAs[Long]("total_hits") == 6L)
    assert(r.getAs[Double]("q_stat") == 3.0) // 2·18 / (3·(18−14))
  }

  test("prop_ztest: 2/4 vs 1/4 arms → z = 0.730297") {
    val dir = java.nio.file.Files.createTempDirectory("pz").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    // arm 1 (odd users): 4 events, 2 purchases; arm 0: 4 events, 1
    val rows = Seq((1L, "purchase"), (1L, "purchase"), (1L, "view"),
      (1L, "view"), (2L, "purchase"), (2L, "view"), (2L, "view"),
      (2L, "view"))
    rows.zipWithIndex.map { case ((u, ty), i) =>
      (i.toLong, (t0 + i) * 1000000000L, u, ty, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("prop_ztest")(spark, dir).collect().head
    assert(r.getAs[Long]("n1") == 4L && r.getAs[Long]("y1") == 2L)
    assert(r.getAs[Long]("n0") == 4L && r.getAs[Long]("y0") == 1L)
    assert(r.getAs[Double]("z") == 0.730297)
  }

  test("streaming prop-z snapshot equals the batch z on the same plant") {
    val dir = java.nio.file.Files.createTempDirectory("spz").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    val rows = Seq((1L, "purchase"), (1L, "purchase"), (1L, "view"),
      (1L, "view"), (2L, "purchase"), (2L, "view"), (2L, "view"),
      (2L, "view"))
    rows.zipWithIndex.map { case ((u, ty), i) =>
      (i.toLong, (t0 + i) * 1000000000L, u, ty, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val live = SparkEntry.queries("streaming_prop_ztest")(spark, dir)
      .collect().head
    assert(live.getAs[Double]("z") == 0.730297) // the B167 plant value
    assert(live.getAs[Long]("n1") == 4L && live.getAs[Long]("y0") == 1L)
  }

  test("json_key_profile: mixed-type plant classifies every key") {
    val dir = java.nio.file.Files.createTempDirectory("jkp").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    val props = Seq(
      """{"a": 1, "b": 2.5, "c": true, "d": null, "e": "x"}""",
      """{"a": -7, "e": "0.5.1"}""")
    props.zipWithIndex.map { case (p, i) =>
      (i.toLong, (t0 + i) * 1000000000L, 1L, "view", 1.0, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("json_key_profile")(spark, dir)
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    assert(rows.keySet == Set("a", "b", "c", "d", "e"))
    assert(rows("a").getAs[Long]("n") == 2L
      && rows("a").getAs[Long]("n_int") == 2L)
    assert(rows("b").getAs[Long]("n_float") == 1L)
    assert(rows("c").getAs[Long]("n_bool") == 1L)
    assert(rows("d").getAs[Long]("n_null") == 1L)
    assert(rows("e").getAs[Long]("n_string") == 2L) // "0.5.1" not a float
  }

  test("partial_correlation: y ≡ x plant → r_xy = 1 and r_xy·z = 1") {
    val dir = java.nio.file.Files.createTempDirectory("pcor").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    val vals = Seq(1.0, 2.0, 1.5, 3.0)
    val rows = vals.zipWithIndex.flatMap { case (v, d) =>
      Seq(("purchase", d, v), ("view", d, v))
    }
    rows.zipWithIndex.map { case ((ty, d, v), i) =>
      (i.toLong, (t0 + d * 86400L + 1) * 1000000000L, 1L, ty, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("partial_correlation")(spark, dir)
      .collect().head
    assert(r.getAs[Double]("r_xy") == 1.0)
    assert(r.getAs[Double]("r_xz") == r.getAs[Double]("r_yz"))
    assert(r.getAs[Double]("r_xy_given_z") == 1.0)
  }

  test("point_biserial: weekend +200-cent plant → r_pb = 1.0") {
    val dir = java.nio.file.Files.createTempDirectory("pbis").toString
    import spark.implicits._
    // epoch days 0,1 = Thu,Fri ($1); 2,3 = Sat,Sun ($3)
    Seq((0, 1.0), (1, 1.0), (2, 3.0), (3, 3.0)).zipWithIndex.map {
      case ((d, v), i) => (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(d.toLong)), v)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("point_biserial")(spark, dir).collect().head
    assert(r.getAs[Long]("n1") == 2L && r.getAs[Long]("n0") == 2L)
    assert(r.getAs[Double]("r_pb") == 1.0)
  }

  test("corpus: fused RRF scores decompose into the pinned weight table") {
    val w = Seq(16393L, 16129L, 15873L, 15625L, 15385L, 15152L,
      14925L, 14706L, 14493L, 14286L)
    def list(name: String) = SparkEntry.queries(name)(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"))
        -> r.getAs[Int]("rnk")).toMap
    val ivf = list("ann_ivf_topk")
    val lsh = list("ann_lsh_topk")
    val fused = SparkEntry.queries("retrieval_rank_fusion")(spark, sfDir)
      .collect()
    assert(fused.nonEmpty)
    fused.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("id"))
      val expected = ivf.get(key).map(rk => w(rk - 1)).getOrElse(0L) +
        lsh.get(key).map(rk => w(rk - 1)).getOrElse(0L)
      assert(r.getAs[Long]("score_e6") == expected, key)
      assert(r.getAs[Long]("fused_rank") >= 1L
        && r.getAs[Long]("fused_rank") <= 10L)
    }
  }

  test("kendall_w: two perfectly concordant days → W = 1") {
    val dir = java.nio.file.Files.createTempDirectory("kw").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    val rows = for (d <- 0 to 1; (ty, v) <- Seq(("view", 1.0),
      ("cart", 2.0), ("purchase", 3.0))) yield (ty, d, v)
    rows.zipWithIndex.map { case ((ty, d, v), i) =>
      (i.toLong, (t0 + d * 86400L + 1) * 1000000000L, 1L, ty, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("kendall_w")(spark, dir).collect().head
    assert(r.getAs[Long]("n_days") == 2L)
    assert(r.getAs[Long]("n_types") == 3L)
    assert(r.getAs[Double]("w") == 1.0)
  }

  test("odds_ratio: 2/1/1/2 grid → OR=4, Woolf SE=√3") {
    val dir = java.nio.file.Files.createTempDirectory("or").toString
    import spark.implicits._
    // epoch days 0,1 weekday; 2,3 weekend; hi = price ≥ $200k
    val rows = Seq((2, 250000.0), (3, 250000.0), (2, 1.0), // a=2, b=1
      (0, 250000.0), (0, 1.0), (1, 1.0)) // c=1, d=2
    rows.zipWithIndex.map { case ((d, v), i) =>
      (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(d.toLong)), v)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("odds_ratio")(spark, dir).collect().head
    assert((r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c"),
      r.getAs[Long]("d")) == ((2L, 1L, 1L, 2L)))
    assert(r.getAs[Double]("odds_ratio") == 4.0)
    assert(r.getAs[Double]("log_or") == 1.3863)
    assert(r.getAs[Double]("se_log_or") == 1.732051)
  }

  test("kaplan_meier: 3-user plant → S = 2/3 then 1/3 at the death days") {
    val dir = java.nio.file.Files.createTempDirectory("km").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    val rows = Seq((1L, "signup", 0L), (2L, "signup", 0L),
      (3L, "signup", 0L), (1L, "purchase", 86400L),
      (2L, "purchase", 3 * 86400L), (3L, "view", 5 * 86400L))
    rows.zipWithIndex.map { case ((u, ty, off), i) =>
      (i.toLong, (t0 + off) * 1000000000L, u, ty, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val km = SparkEntry.queries("kaplan_meier")(spark, dir)
      .collect().sortBy(_.getAs[Long]("day"))
    assert(km.length == 2) // death days only
    assert(km(0).getAs[Long]("day") == 1L)
    assert(km(0).getAs[Long]("n_risk") == 3L)
    assert(km(0).getAs[Double]("s_km") == 0.666667)
    assert(km(1).getAs[Long]("day") == 3L)
    assert(km(1).getAs[Long]("n_risk") == 2L)
    assert(km(1).getAs[Double]("s_km") == 0.333333)
  }

  test("time-decay attribution: 64:16 weights conserve 127 cents exactly") {
    val dir = java.nio.file.Files.createTempDirectory("td").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    val ps = t0 + 10000
    val rows = Seq((10L, "click", ps - 1500, 0.0), // k=2 → w=16, rn 1
      (11L, "click", ps - 60, 0.0), // k=0 → w=64, rn 2
      (12L, "purchase", ps, 1.27))
    rows.map { case (id, ty, sec, v) =>
      (id, sec * 1000000000L, 1L, ty, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows2 = SparkEntry.queries("attribution_time_decay")(spark, dir)
      .collect().map(r => Option(r.get(r.fieldIndex("click_id")))
        .map(_.asInstanceOf[Long]) -> r.getAs[Long]("credit_cents")).toMap
    // base: 127·16/80 = 25 (+1 leftover to the earliest), 127·64/80 = 101
    assert(rows2(Some(10L)) == 26L)
    assert(rows2(Some(11L)) == 101L)
    assert(rows2.values.sum == 127L)
  }

  test("corpus: KM curve non-increasing from 1; time-decay conserves cents") {
    val km = SparkEntry.queries("kaplan_meier")(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("day"))
    assert(km.nonEmpty)
    val ss = km.map(_.getAs[Double]("s_km"))
    assert(ss.head <= 1.0 && ss.forall(_ >= 0.0))
    assert(ss.zip(ss.tail).forall { case (a, b) => b <= a })
    val td = SparkEntry.queries("attribution_time_decay")(spark, sfDir)
    val purchases = graft.GraftSession.table(spark, sfDir, "events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select(org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.col("value") * 100).cast("long")
        .as("c"))
      .agg(org.apache.spark.sql.functions.sum("c")).collect().head.getLong(0)
    val credited = td.agg(org.apache.spark.sql.functions
      .sum("credit_cents")).collect().head.getLong(0)
    assert(credited == purchases) // conservation to the cent
  }

  test("mcnemar: 3 stoppers vs 1 starter → chi2 = (2−1)²/4 = 0.25") {
    val dir = java.nio.file.Files.createTempDirectory("mcn").toString
    import spark.implicits._
    val t0 = 19723L * 86400
    // days 0..3 → mid = 2; pre-only users 1,2,3 (b=3), post-only 4
    // (c=1), both 5, neither 6
    val rows = Seq((1L, "purchase", 0), (2L, "purchase", 0),
      (3L, "purchase", 1), (4L, "purchase", 3), (5L, "purchase", 0),
      (5L, "purchase", 3), (6L, "view", 0), (6L, "view", 3))
    rows.zipWithIndex.map { case ((u, ty, d), i) =>
      (i.toLong, (t0 + d * 86400L + 1) * 1000000000L, u, ty, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("mcnemar_test")(spark, dir).collect().head
    assert(r.getAs[Long]("b") == 3L && r.getAs[Long]("c") == 1L)
    assert(r.getAs[Long]("n_users") == 6L)
    assert(r.getAs[Double]("chi2") == 0.25)
  }

  test("embedding audit: [3,4] and zero vector → mean norm 2.5, one zero") {
    val dir = java.nio.file.Files.createTempDirectory("emb").toString
    import spark.implicits._
    Seq((0L, Array(3.0f, 4.0f), 0), (1L, Array(0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("embedding_norm_audit")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_vecs") == 2L)
    assert(r.getAs[Int]("dim_min") == 2 && r.getAs[Int]("dim_max") == 2)
    assert(r.getAs[Long]("n_zero") == 1L)
    assert(r.getAs[Double]("mean_norm") == 2.5)
  }

  test("corpus: nprobe recall curve monotone, exhaustive probe = 1.0") {
    val rows = SparkEntry.queries("ann_ivf_nprobe_curve")(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("nprobe"))
    assert(rows.length == 8)
    val recalls = rows.map(_.getAs[Double]("recall"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      recalls.mkString(","))
    // probing all 8 cells IS the exhaustive search
    assert(recalls.last == 1.0)
    rows.foreach(r => assert(r.getAs[Long]("hits")
      <= 10L * r.getAs[Long]("n_queries")))
  }
}