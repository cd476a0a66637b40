package graft

import org.apache.spark.sql.functions._

/** C123 retrieval_eval / C124 knn_classify — planted corpora with
  * hand-computable rankings pin MRR/MAP/NDCG and the vote tie-break.
  */
class RetrievalEvalSpec extends SparkTestBase {
  import spark.implicits._

  /** 1 query (vec 0, label 0) + 12 corpus vectors on the unit circle
    * with strictly decreasing cosine to the query; labels place the
    * relevant hits at ranks 1 and 3 (vecs 1 and 3 carry label 0) and
    * nowhere else → R = 2, RR = 1, AP@10 = (1 + 2/3)/2, NDCG@10 =
    * (w1+w3)/(w1+w2).
    */
  private def plantDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("reval").toString
    val rows = (0 to 12).map { i =>
      val c = if (i == 0) 1.0 else 1.0 - 0.01 * i // cos to query
      val s = math.sqrt(math.max(0.0, 1.0 - c * c))
      val label = if (i == 0 || i == 1 || i == 3) 0 else 1
      (i.toLong, Array(c.toFloat, s.toFloat, 0.0f, 0.0f), label)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("retrieval_eval: planted ranking pins rr/ap/ndcg exactly") {
    val dir = plantDir()
    val rows = SparkEntry.queries("retrieval_eval")(spark, dir)
      .filter(col("query_id") === 0).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_rel") == 2L)
    assert(r.getAs[Double]("rr") == 1.0)
    assert(r.getAs[Double]("ap") == 0.833333)
    assert(r.getAs[Double]("ndcg") == 0.919721)
  }

  test("knn_classify: planted majority vote with (votes, label) tie-break") {
    val dir = plantDir()
    // vec 0's top-10 = vecs 1..10; labels there: {0: vecs 1,3} {1: rest}
    // → pred 1 (8 votes), true 0, incorrect
    val r = SparkEntry.queries("knn_classify")(spark, dir)
      .filter(col("query_id") === 0).collect().head
    assert(r.getAs[Int]("true_label") == 0)
    assert(r.getAs[Int]("pred_label") == 1)
    assert(r.getAs[Long]("votes") == 8L)
    assert(r.getAs[Int]("correct") == 0)
  }

  test("corpus: metrics bounded in [0,1], knn accuracy consistent") {
    val ev = SparkEntry.queries("retrieval_eval")(spark, sfDir).collect()
    assert(ev.length == 10)
    ev.foreach { r =>
      for (c <- Seq("rr", "ap", "ndcg")) {
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c=$v")
      }
      // AP ≤ RR never holds in general, but NDCG ≥ AP does not either;
      // the only universal order is rr ≥ ap when the first hit is the
      // best precision point — not guaranteed; so only bounds here.
    }
    val kn = SparkEntry.queries("knn_classify")(spark, sfDir).collect()
    assert(kn.length == 25)
    kn.foreach { r =>
      assert((r.getAs[Int]("pred_label") == r.getAs[Int]("true_label"))
        == (r.getAs[Int]("correct") == 1))
      assert(r.getAs[Long]("votes") >= 1L && r.getAs[Long]("votes") <= 10L)
    }
  }
}

/** B152 mann_kendall_trend / B153 grubbs_outlier / B154
  * timeseries_ccf — hand-computed plants pin the exact statistics.
  */
class TrendOutlierCcfSpec extends SparkTestBase {
  import spark.implicits._

  private def ordersDir(prices: Seq[Double]): String = {
    val dir = java.nio.file.Files.createTempDirectory("trend").toString
    prices.zipWithIndex.map { case (p, i) =>
      (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)), p)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("mann_kendall: strictly increasing 5-day series → S=10, z=2.204541") {
    val r = SparkEntry.queries("mann_kendall_trend")(
      spark, ordersDir(Seq(1.0, 2.0, 3.0, 4.0, 5.0))).collect().head
    assert(r.getAs[Long]("n_days") == 5L)
    assert(r.getAs[Long]("s_stat") == 10L)
    assert(r.getAs[Long]("var_s_x18") == 300L) // no ties: 5·4·15
    assert(r.getAs[Double]("z") == 2.204541)
  }

  test("mann_kendall: strictly decreasing → S=-10, z symmetric") {
    val r = SparkEntry.queries("mann_kendall_trend")(
      spark, ordersDir(Seq(5.0, 4.0, 3.0, 2.0, 1.0))).collect().head
    assert(r.getAs[Long]("s_stat") == -10L)
    assert(r.getAs[Double]("z") == -2.204541)
  }

  test("grubbs: [.10,.10,.10,.10,.50] → G=1.788854, above, argmax day 4") {
    val r = SparkEntry.queries("grubbs_outlier")(
      spark, ordersDir(Seq(0.10, 0.10, 0.10, 0.10, 0.50))).collect().head
    assert(r.getAs[Long]("n_days") == 5L)
    assert(r.getAs[String]("side") == "above")
    // day of the planted spike = 2024-01-05
    assert(r.getAs[Long]("argmax_day")
      == java.time.LocalDate.of(2024, 1, 5).toEpochDay)
    assert(r.getAs[Double]("g") == 1.788854)
  }

  test("ccf: views = purchases shifted +2 days → pinned lag curve") {
    val dir = java.nio.file.Files.createTempDirectory("ccf").toString
    val t0 = 19723L * 86400
    val pur = (0 to 4).map(i => ("purchase", i, (i + 1) * 1.0))
    val vw = (0 to 4).map(i => ("view", i + 2, (i + 1) * 1.0))
    (pur ++ vw).zipWithIndex.map { case ((ty, d, v), i) =>
      (i.toLong, (t0 + d * 86400L + 1) * 1000000000L, 1L, ty, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("timeseries_ccf")(spark, dir)
      .collect().map(r => r.getAs[Long]("lag") -> r.getAs[Double]("ccf"))
      .toMap
    val expected = Map(-3L -> -0.321429, -2L -> -0.464286, -1L -> -0.432143,
      0L -> -0.26875, 1L -> 0.142857, 2L -> 0.598214, 3L -> 0.303571)
    assert(rows.size == 7)
    expected.foreach { case (lag, v) => assert(rows(lag) == v, s"lag $lag") }
    // the planted +2 shift is the argmax lag
    assert(rows.maxBy(_._2)._1 == 2L)
  }

  test("corpus: |ccf| ≤ 1 at every lag; grubbs G > 0; MK fields consistent") {
    val ccf = SparkEntry.queries("timeseries_ccf")(spark, sfDir).collect()
    assert(ccf.length == 7)
    ccf.foreach(r => assert(math.abs(r.getAs[Double]("ccf")) <= 1.0))
    val g = SparkEntry.queries("grubbs_outlier")(spark, sfDir).collect().head
    assert(g.getAs[Double]("g") > 0.0)
    val mk = SparkEntry.queries("mann_kendall_trend")(spark, sfDir)
      .collect().head
    assert(mk.getAs[Long]("var_s_x18") > 0L)
    assert((mk.getAs[Long]("s_stat") > 0L) == (mk.getAs[Double]("z") > 0.0)
      || mk.getAs[Long]("s_stat") == 0L)
  }
}

/** B155 ratio_jackknife / B156 eb_shrunk_rates / B157 sprt_decision —
  * closed-form plants pin every output column.
  */
class ABInfraSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsDir(rows: Seq[(Long, String, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("ab").toString
    val t0 = 19723L * 86400
    rows.zipWithIndex.map { case ((uid, ty, v), i) =>
      (i.toLong, (t0 + i) * 1000000000L, uid, ty, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("ratio_jackknife: 2-bucket plant → θ=200, θ_J=250, SE=150") {
    val dir = eventsDir(Seq((1L, "purchase", 1.0), (1L, "purchase", 1.0),
      (2L, "purchase", 4.0)))
    val r = SparkEntry.queries("ratio_jackknife")(spark, dir).collect().head
    assert(r.getAs[Long]("n_buckets") == 2L)
    assert(r.getAs[Double]("theta") == 200.0)
    assert(r.getAs[Double]("theta_jack") == 250.0)
    assert(r.getAs[Double]("se_jack") == 150.0)
    assert(r.getAs[Double]("ci_lo") == 200.0 - 1.96 * 150.0)
    assert(r.getAs[Double]("ci_hi") == 200.0 + 1.96 * 150.0)
  }

  test("sprt: all-purchase stream crosses H1 at exactly n=8") {
    val dir = eventsDir((1 to 10).map(_ => (1L, "purchase", 1.0)))
    val r = SparkEntry.queries("sprt_decision")(spark, dir).collect().head
    assert(r.getAs[String]("decision") == "accept_h1")
    assert(r.getAs[Long]("n_seen") == 8L)
    assert(r.getAs[Long]("n1_at") == 8L)
    assert(r.getAs[Double]("llr") == 3.243721)
  }

  test("sprt: all-view stream crosses H0 at exactly n=52") {
    val dir = eventsDir((1 to 60).map(_ => (1L, "view", 1.0)))
    val r = SparkEntry.queries("sprt_decision")(spark, dir).collect().head
    assert(r.getAs[String]("decision") == "accept_h0")
    assert(r.getAs[Long]("n_seen") == 52L)
    assert(r.getAs[Long]("n1_at") == 0L)
    assert(r.getAs[Double]("llr") == -2.972238)
  }

  test("eb_shrunk: 3-segment plant → M=24, shrunk rates 17/34,18/34,16/34") {
    val dir = java.nio.file.Files.createTempDirectory("eb").toString
    val segs = Seq(("A", 10, 5), ("B", 10, 6), ("C", 10, 4))
    val keyed = segs.zipWithIndex.flatMap { case ((sname, n, _), si) =>
      (0 until n).map(i => ((si * 10 + i).toLong, sname))
    }
    keyed.toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // converted customers: first y of each segment get one order each
    val conv = segs.zipWithIndex.flatMap { case ((sname, n, y), si) =>
      (0 until y).map(i => (1000L + si * 100 + i, (si * 10 + i).toLong))
    }
    conv.toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("eb_shrunk_rates")(spark, dir)
      .collect().map(r => r.getAs[String]("seg") -> r).toMap
    assert(rows.size == 3)
    assert(rows("A").getAs[Double]("raw_rate") == 0.5)
    assert(rows("A").getAs[Double]("shrunk_rate") == 0.5)
    assert(rows("B").getAs[Double]("shrunk_rate") == 0.529412) // 18/34
    assert(rows("C").getAs[Double]("shrunk_rate") == 0.470588) // 16/34
    assert(rows.values.forall(_.getAs[Double]("pooled_rate") == 0.5))
  }

  test("corpus: jackknife CI brackets theta; sprt fields consistent; shrinkage contracts toward pool") {
    val j = SparkEntry.queries("ratio_jackknife")(spark, sfDir)
      .collect().head
    assert(j.getAs[Double]("ci_lo") <= j.getAs[Double]("theta"))
    assert(j.getAs[Double]("ci_hi") >= j.getAs[Double]("theta"))
    assert(j.getAs[Double]("se_jack") >= 0.0)
    val sp = SparkEntry.queries("sprt_decision")(spark, sfDir).collect().head
    assert(Seq("accept_h0", "accept_h1", "continue")
      .contains(sp.getAs[String]("decision")))
    assert(sp.getAs[Long]("n1_at") <= sp.getAs[Long]("n_seen"))
    val eb = SparkEntry.queries("eb_shrunk_rates")(spark, sfDir).collect()
    eb.foreach { r =>
      val raw = r.getAs[Double]("raw_rate")
      val sh = r.getAs[Double]("shrunk_rate")
      val pool = r.getAs[Double]("pooled_rate")
      // shrunk sits between raw and pooled (up to the 6dp grid)
      assert(sh >= math.min(raw, pool) - 1e-6
        && sh <= math.max(raw, pool) + 1e-6)
    }
  }
}

/** C129 target_encode_loo / C130 feature_hash_vectors — plants pin
  * the leave-one-out algebra and the hashing-trick invariants.
  */
class FeatureOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("target_encode_loo: converted A gets 4/9, unconverted A gets 5/9") {
    val dir = java.nio.file.Files.createTempDirectory("loo").toString
    val segs = Seq(("A", 10, 5), ("B", 10, 6), ("C", 10, 4))
    segs.zipWithIndex.flatMap { case ((sname, n, _), si) =>
      (0 until n).map(i => ((si * 10 + i).toLong, sname))
    }.toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    segs.zipWithIndex.flatMap { case ((_, _, y), si) =>
      (0 until y).map(i => (1000L + si * 100 + i, (si * 10 + i).toLong))
    }.toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("target_encode_loo")(spark, dir)
      .filter(org.apache.spark.sql.functions.col("seg") === "A")
      .collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val expected = if (r.getAs[Int]("conv") == 1) 0.444444 else 0.555556
      assert(r.getAs[Double]("enc") == expected, s"cust ${r.get(1)}")
    }
  }

  test("corpus: encodings stay in [0,1]; hash buckets in range, hits conserved") {
    val te = SparkEntry.queries("target_encode_loo")(spark, sfDir).collect()
    te.foreach { r =>
      val e = r.getAs[Double]("enc")
      assert(e >= 0.0 && e <= 1.0)
    }
    val fh = SparkEntry.queries("feature_hash_vectors")(spark, sfDir)
      .collect()
    fh.foreach { r =>
      val bkt = r.getAs[Int]("bucket")
      assert(bkt >= 0 && bkt <= 15)
      assert(math.abs(r.getAs[Long]("f")) <= r.getAs[Long]("n_hits"))
    }
  }
}

/** D48 streaming_sprt — the live sequential test freezes its decision
  * at the same crossing the batch algebra (B157 plant) pins.
  */
class StreamingSprtSpec extends SparkTestBase {
  import spark.implicits._

  test("all-purchase shard freezes accept_h1 at n=8; sparse shard continues") {
    val dir = java.nio.file.Files.createTempDirectory("ssprt").toString
    val t0 = 19723L * 86400
    // shard 1: 20 purchases; shard 2: purchase,view,view (no crossing);
    // shard 3 (user 7): one far-future event advances the watermark
    val rows =
      (0 until 20).map(i => (1L, t0 + i, "purchase")) ++
      Seq((2L, t0 + 30, "purchase"), (2L, t0 + 31, "view"),
        (2L, t0 + 32, "view")) ++
      Seq((7L, t0 + 100000, "view"))
    rows.zipWithIndex.map { case ((uid, sec, ty), i) =>
      (i.toLong, sec * 1000000000L, uid, ty, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("streaming_sprt")(spark, dir)
      .collect().map(r => r.getAs[Long]("shard") -> r).toMap
    val s1 = out(1L)
    assert(s1.getAs[String]("decision") == "accept_h1")
    assert(s1.getAs[Long]("n_seen") == 20L)
    assert(s1.getAs[Long]("n_at_decision") == 8L) // the B157 crossing
    assert(s1.getAs[Long]("n1_at_decision") == 8L)
    val s2 = out(2L)
    assert(s2.getAs[String]("decision") == "continue")
    assert(s2.getAs[Long]("n_seen") == 3L && s2.getAs[Long]("n1") == 1L)
    assert(s2.getAs[Long]("n_at_decision") == 0L)
  }

  test("corpus: per-shard decisions consistent with counts") {
    val rows = SparkEntry.queries("streaming_sprt")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dec = r.getAs[String]("decision")
      assert(Seq("accept_h0", "accept_h1", "continue").contains(dec))
      if (dec == "continue") assert(r.getAs[Long]("n_at_decision") == 0L)
      else {
        assert(r.getAs[Long]("n_at_decision") >= 1L)
        assert(r.getAs[Long]("n_at_decision") <= r.getAs[Long]("n_seen"))
      }
    }
  }
}
