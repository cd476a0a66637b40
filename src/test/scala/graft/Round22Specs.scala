package graft

import org.apache.spark.sql.functions._

/** Round-12 wave — closed-form plants: B190 jarque_bera, B191
  * von_neumann_ratio, B194 pettitt_changepoint, B197
  * kuiper_two_sample, B192 dixon_q, B193 ordinal_association, B196
  * chow_test, B195 yuen_trimmed_t, C155 isotonic_calibration, C153
  * bradley_terry, C154 retrieval_err, C152 ann_ivfpq_filtered, D30
  * streaming_late_accounting.
  */
class Round22Specs extends SparkTestBase {
  import spark.implicits._

  private def ordersDir(
      rows: Seq[(Long, java.time.LocalDate, Double, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("r22").toString
    rows.map { case (k, d, p, pr) =>
      (k, java.sql.Timestamp.valueOf(d.atStartOfDay()), p, pr)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private def day0 = java.time.LocalDate.of(2024, 1, 1) // epoch day 19723

  private def dailyDir(dollars: Seq[Double]): String =
    ordersDir(dollars.zipWithIndex.map { case (p, i) =>
      (i.toLong, day0.plusDays(i.toLong), p, "1-URGENT")
    })

  test("jarque_bera: {1,1,1,5} dollars hand-solve skew/kurt/JB") {
    // r about floored mean 2: {-1,-1,-1,3}; m2=3, m3=6, m4=21 →
    // skew = 2/√3, kurt = 7/3, JB = 208/216
    val r = SparkEntry.queries("jarque_bera")(
      spark, dailyDir(Seq(1.0, 1.0, 1.0, 5.0))).collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Double]("skewness") == 1.154701)
    assert(r.getAs[Double]("kurtosis") == 2.333333)
    assert(r.getAs[Double]("jb_stat") == 0.962963)
    assert(r.getAs[Int]("reject_normal") == 0)
  }

  test("von_neumann_ratio: alternating {1,3,1,3} lands on exactly 3.0") {
    // diffs {2,-2,2} → num 12; n·v−tot = {-4,4,-4,4} → den 64;
    // VN = 12·16/64 = 3 (alternation > 2, as the statistic promises)
    val r = SparkEntry.queries("von_neumann_ratio")(
      spark, dailyDir(Seq(1.0, 3.0, 1.0, 3.0))).collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Double]("von_neumann") == 3.0)
  }

  test("pettitt_changepoint: {1,1,2,2} → K=2 at the second day") {
    // doubled midranks {3,3,7,7}; U2 = {-2,-4,-2,0} → K2=4, K=2,
    // earliest argmax = day index 1 (epoch day 19724); not signif
    val r = SparkEntry.queries("pettitt_changepoint")(
      spark, dailyDir(Seq(1.0, 1.0, 2.0, 2.0))).collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Long]("k_stat") == 2L)
    assert(r.getAs[Long]("cp_day") == 19724L)
    assert(r.getAs[Int]("signif") == 0)
  }

  private def eventsDir(
      rows: Seq[(Long, Long, String, Double, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("r22e").toString
    rows.map { case (eid, uid, ty, v, tsec) =>
      (eid, uid, ty, v, new java.sql.Timestamp(tsec * 1000L))
    }.toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("kuiper_two_sample: interleaved 2+2 → D+=2, D-=0, V=0.5") {
    val dir = eventsDir(Seq(
      (1L, 1L, "purchase", 0.01, 100L), (2L, 1L, "purchase", 0.03, 200L),
      (3L, 2L, "view", 0.02, 300L), (4L, 2L, "view", 0.04, 400L)))
    val r = SparkEntry.queries("kuiper_two_sample")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n1") == 2L && r.getAs[Long]("n2") == 2L)
    assert(r.getAs[Long]("d_pos") == 2L && r.getAs[Long]("d_neg") == 0L)
    assert(r.getAs[Double]("kuiper_v") == 0.5)
  }

  test("dixon_q: planted top-8 gap/range = 0.625 → outlier") {
    val r = SparkEntry.queries("dixon_q")(spark,
      dailyDir(Seq(20.0, 10.0, 9.0, 8.0, 7.0, 6.0, 5.0, 4.0, 3.0)))
      .collect().head
    assert(r.getAs[Long]("x_max") == 2000L)
    assert(r.getAs[Long]("gap") == 1000L)
    assert(r.getAs[Long]("range_") == 1600L)
    assert(r.getAs[Double]("dixon_q") == 0.625)
    assert(r.getAs[Int]("outlier") == 1)
  }

  test("ordinal_association: perfectly concordant 4 orders → gamma = somers = 1") {
    val dir = ordersDir(Seq(
      (1L, day0, 10.0, "1-URGENT"), (2L, day0, 20.0, "2-HIGH"),
      (3L, day0, 30.0, "3-MEDIUM"), (4L, day0, 40.0, "4-NOT SPECIFIED")))
    val r = SparkEntry.queries("ordinal_association")(spark, dir)
      .collect().head
    // BIGINT since round 13 (the r12 hash fail: raw DECIMAL(38,0)
    // renders "6" from Spark but "6.0" through the oracle's pandas
    // bridge)
    assert(r.getAs[Long]("concordant") == 6L)
    assert(r.getAs[Long]("discordant") == 0L)
    assert(r.getAs[Double]("gamma") == 1.0)
    assert(r.getAs[Double]("somers_d") == 1.0)
  }

  test("chow_test: two exact half-lines → split RMSE 0, pooled √3.2") {
    // days {0,1,10,11}: each half fits slope-1 exactly; pooled SSR
    // = (404 − 84²/20)/4 = 12.8 → RMSE = √(12.8/4) = 1.788854;
    // perfect split fit → chow_f NULL (infinite-F case, stated)
    val r = SparkEntry.queries("chow_test")(
      spark, dailyDir(Seq(0.01, 1.0, 10.0, 11.0))).collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Double]("rmse_pooled") == 1.788854)
    assert(r.getAs[Double]("rmse_split") == 0.0)
    assert(r.isNullAt(r.fieldIndex("chow_f")))
  }

  test("yuen_trimmed_t: shifted 1..10 vs 11..20 hand-solves t") {
    // g=2, window ranks 3..8: trimmed means 5.5 / 15.5; winsorized
    // SSD 42.5 each → d = 42.5/30; t = -10/√(17/6) = -5.940885
    val dir = eventsDir(
      (1 to 10).map(i => (i.toLong, 1L, "purchase", i / 100.0, 100L + i)) ++
      (1 to 10).map(i =>
        (100L + i, 2L, "view", (10 + i) / 100.0, 200L + i)))
    val r = SparkEntry.queries("yuen_trimmed_t")(spark, dir).collect().head
    assert(r.getAs[Long]("n1") == 10L && r.getAs[Long]("n2") == 10L)
    assert(r.getAs[Double]("tmean_purchase") == 5.5)
    assert(r.getAs[Double]("tmean_view") == 15.5)
    assert(r.getAs[Double]("yuen_t") == -5.940885)
  }

  test("isotonic_calibration: rates 1,0,1,0 pool to a flat 1/2") {
    val dir = java.nio.file.Files.createTempDirectory("r22iso").toString
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("c_custkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // customers 1 and 3 converted → per-bin rates 1,0,1,0
    Seq((1L, 1L), (2L, 3L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("isotonic_calibration")(spark, dir)
      .orderBy("decile").collect()
    assert(rows.map(_.getAs[Int]("decile")).toSeq == Seq(0, 3, 6, 9))
    assert(rows.map(_.getAs[Long]("raw_micro")).toSeq ==
      Seq(1000000L, 0L, 1000000L, 0L))
    assert(rows.forall(_.getAs[Long]("iso_micro") == 500000L),
      "PAVA of 1,0,1,0 with equal weights must pool to a flat 1/2")
    // the defining property: the calibrated rates are monotone
    val iso = rows.map(_.getAs[Long]("iso_micro")).toSeq
    assert(iso == iso.sorted)
  }

  test("bradley_terry: 2-1 head-to-head fixes p = (4/3, 2/3)") {
    // p1+p2 stays 2 under MM → fixed point after one step; absent
    // priorities hold strength 1 with zero games
    val dir = ordersDir(Seq(
      (1L, day0, 2.0, "1-URGENT"), (2L, day0, 1.0, "2-HIGH"),
      (3L, day0.plusDays(1), 2.0, "1-URGENT"),
      (4L, day0.plusDays(1), 1.0, "2-HIGH"),
      (5L, day0.plusDays(2), 1.0, "1-URGENT"),
      (6L, day0.plusDays(2), 2.0, "2-HIGH")))
    val rows = SparkEntry.queries("bradley_terry")(spark, dir)
      .orderBy("priority").collect()
    assert(rows.length == 5)
    assert(rows(0).getAs[Long]("wins") == 2L &&
      rows(0).getAs[Long]("games") == 3L)
    assert(rows(0).getAs[Double]("strength") == 1.333333)
    assert(rows(1).getAs[Long]("wins") == 1L)
    assert(rows(1).getAs[Double]("strength") == 0.666667)
    (2 to 4).foreach { i =>
      assert(rows(i).getAs[Long]("games") == 0L)
      assert(rows(i).getAs[Double]("strength") == 1.0)
    }
  }

  test("retrieval_err: single top-1 hit earns exactly 1/2") {
    val dir = java.nio.file.Files.createTempDirectory("r22err").toString
    val rows = Seq((0L, Array(1f, 0f, 0f, 0f), 0)) ++
      (1 to 9).map(i => (i.toLong, Array(0f, 1f, 0f, 0f), 1)) ++
      Seq((10L, Array(2f, 0f, 0f, 0f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("retrieval_err")(spark, dir)
      .filter(col("query_id") === 0L).collect().head
    assert(r.getAs[Long]("n_hits") == 1L)
    assert(r.getAs[Double]("err") == 0.5)
  }

  test("ann_ivfpq_filtered returns only label<4 candidates on the corpus") {
    val res = SparkEntry.queries("ann_ivfpq_filtered")(spark, sfDir)
    val labels = GraftSession.table(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("label"))
    val bad = res.join(labels, Seq("id")).filter(col("label") >= 4).count()
    assert(bad == 0L, "filter-during-ADC leaked non-matching candidates")
    assert(res.count() > 0)
  }

  test("pass_at_k: planted 3/4-attempt users hand-solve the estimator") {
    // u1: n=3, c=1 → n−c < 3 → pass 1 exactly; u2: n=4, c=1 →
    // 1 − C(3,3)/C(4,3) = 1 − 6/24 = 0.75; u3: n=2 excluded
    val dir = eventsDir(Seq(
      (1L, 1L, "purchase", 1.0, 100L), (2L, 1L, "view", 1.0, 200L),
      (3L, 1L, "view", 1.0, 300L),
      (4L, 2L, "purchase", 1.0, 100L), (5L, 2L, "view", 1.0, 200L),
      (6L, 2L, "view", 1.0, 300L), (7L, 2L, "view", 1.0, 400L),
      (8L, 3L, "view", 1.0, 100L), (9L, 3L, "view", 1.0, 200L)))
    val r = SparkEntry.queries("pass_at_k")(spark, dir).collect().head
    assert(r.getAs[Int]("k") == 3)
    assert(r.getAs[Long]("n_tasks") == 2L)
    assert(r.getAs[Long]("n_certain") == 1L)
    assert(r.getAs[Long]("mean_pass_micro") == 875000L)
  }

  test("capture_recapture: planted two-occasion users hit Chapman = truth") {
    // A-only u1 (day 0), B-only u2 (day 10), both u3 → n_A = n_B = 2,
    // m = 1 → Chapman (3·3)//2 − 1 = 3 = true distinct users
    val dir = eventsDir(Seq(
      (1L, 1L, "view", 1.0, 100L),
      (2L, 2L, "view", 1.0, 10L * 86400L + 100L),
      (3L, 3L, "view", 1.0, 200L),
      (4L, 3L, "view", 1.0, 10L * 86400L + 200L)))
    val r = SparkEntry.queries("capture_recapture")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("n_both") == 1L)
    assert(r.getAs[Long]("chapman_est") == 3L)
    assert(r.getAs[Long]("true_users") == 3L)
  }

  test("turning_point_test: alternating {1,3,1,3} → T=2, z hand-solved") {
    // both interior days are strict extrema: T = 2; z =
    // (6 − 4)/3/√(35/90) = 1.069045
    val r = SparkEntry.queries("turning_point_test")(
      spark, dailyDir(Seq(1.0, 3.0, 1.0, 3.0))).collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Long]("turning_points") == 2L)
    assert(r.getAs[Double]("z") == 1.069045)
  }

  test("streaming_late_accounting: planted 3-wave replay drops exactly one row") {
    // wave0 (u0): t=100, t=100000 → wm after batch0 = 96400;
    // wave1 (u1): never filtered (late wm still at epoch);
    // wave2 (u2): t=50 < 96400 dropped, t=99999 kept
    val dir = eventsDir(Seq(
      (1L, 0L, "view", 1.0, 100L), (2L, 0L, "view", 1.0, 100000L),
      (3L, 1L, "view", 1.0, 50L),
      (4L, 2L, "view", 5.0, 50L), (5L, 2L, "view", 2.0, 99999L)))
    val r = SparkEntry.queries("streaming_late_accounting")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_input") == 5L)
    assert(r.getAs[Long]("n_dropped") == 1L)
    assert(r.getAs[Long]("n_on_time") == 4L)
    assert(r.getAs[Long]("on_time_cents") == 500L)
    assert(r.getAs[Int]("reconciled") == 1)
  }
}
