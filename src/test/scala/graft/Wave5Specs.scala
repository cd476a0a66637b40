package graft

import org.apache.spark.sql.functions._

/** Round-9 fifth-wave specs: the properties the DuckDB oracle gate
  * cannot express (the oracle replays the same arithmetic; these pin
  * that the OPERATORS mean what they claim).
  */

/** B108 ddsketch_order_value — the sketch's defining guarantee is
  * bounded RELATIVE error: the decimal first-2-digit bucket edge is
  * ≤ the true rank statistic and within 10% of it (bucket width
  * ≤ edge/10 by construction). The oracle proves cross-engine
  * equality; only a spec can compare against the exact quantile.
  */
class DdSketchSpec extends SparkTestBase {
  import spark.implicits._

  test("sketch quantile edges bracket the exact rank statistics within 10%") {
    val cents = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(floor($"o_totalprice" * 100 + lit(0.5)).cast("long"))
      .as[Long].collect().sorted
    val est = SparkEntry.queries("ddsketch_order_value")(spark, sfDir)
      .select($"q".cast("int"), $"target_rank", $"est_cents")
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(est.keySet == Set(50, 90, 99))
    for ((q, (rank, e)) <- est) {
      assert(rank == (q.toLong * cents.length + 99) / 100)
      val exact = cents(rank.toInt - 1)
      assert(e <= exact, s"p$q edge $e above exact $exact")
      assert(exact < e + math.max(e / 10, 1),
        s"p$q exact $exact outside the 10% bucket above edge $e")
    }
  }
}

/** B109 timeseries_holt_trend — independent Scala re-fold of the
  * level/trend recurrence over the same daily means; the query's
  * distributed sort_array+aggregate fold must match a plain loop.
  */
class HoltTrendSpec extends SparkTestBase {
  import spark.implicits._

  test("distributed Holt fold equals a sequential re-implementation") {
    val daily = GraftSession.table(spark, sfDir, "events")
      .select($"user_id", expr("ts div 1000000000 div 86400").as("day"),
        $"value")
      .groupBy($"user_id", $"day")
      .agg((sum(floor($"value" * 100).cast("long")).cast("double")
        / (lit(100.0) * count(lit(1)))).as("v"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (u, rows) =>
        u -> rows.sortBy(_._2).map(_._3).toSeq
      }
    val got = SparkEntry.queries("timeseries_holt_trend")(spark, sfDir)
      .select($"user_id", $"n_days", $"level", $"trend", $"forecast")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == daily.size && got.nonEmpty)
    for ((u, vs) <- daily) {
      var l = vs.head; var b = 0.0
      for (x <- vs.tail) {
        val ln = 0.5 * x + 0.5 * (l + b)
        b = 0.25 * (ln - l) + 0.75 * b
        l = ln
      }
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (_, n, level, trend, forecast) = got(u)
      assert(n == vs.length)
      assert(level == r6(l) && trend == r6(b) && forecast == r6(l + b),
        s"user $u: got ($level, $trend, $forecast) want (${r6(l)}, ${r6(b)}, ${r6(l + b)})")
    }
  }
}

/** C96 naive_bayes_score — planted-concept RECOVERY (the RocchioSpec
  * convention): the learned generative model must beat the
  * majority-class baseline by a real margin on balanced classes.
  */
class NaiveBayesSpec extends SparkTestBase {
  import spark.implicits._

  test("NB recovers the median-centered parity concept, non-vacuously") {
    val rows = SparkEntry.queries("naive_bayes_score")(spark, sfDir)
      .select($"doc_id", $"label", $"score_micro", $"pred")
      .as[(Long, Int, Long, Int)].collect()
    assert(rows.length == 500)
    val acc = rows.count(r => r._2 == r._4).toDouble / rows.length
    val posRate = rows.count(_._2 == 1).toDouble / rows.length
    val baseline = math.max(posRate, 1 - posRate)
    assert(posRate >= 0.25 && posRate <= 0.75,
      s"median-centered labels degenerate: pos rate $posRate")
    assert(acc >= 0.70, s"recovery accuracy $acc < 0.70")
    assert(acc - baseline >= 0.10,
      s"accuracy $acc does not beat the majority baseline $baseline")
    assert(rows.count(_._4 == 1) > 50 && rows.count(_._4 == 0) > 50,
      "predictions degenerate")
  }
}

/** D36 streaming_drift_ks — independent KS recomputation: collect the
  * raw events, rebuild both histograms and the exact-integer CDF
  * distance in plain Scala, and demand equality with the streamed
  * result (statistic, argmax bin, and counts).
  */
class DriftKsSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed KS equals a sequential recomputation from raw events") {
    val ev = GraftSession.table(spark, sfDir, "events")
      .select($"event_type", expr("ts div 1000000000").as("tsec"),
        floor($"value" * 100 + lit(0.5)).cast("long").as("c"))
      .as[(String, Long, Long)].collect()
    val split = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val types = ev.map(_._1).distinct
    val expect = types.map { t =>
      val bins = ev.filter(_._1 == t)
        .map { case (_, ts, c) => (ts >= split, math.min(c / 1000, 63L)) }
      val ref = bins.filter(!_._1).map(_._2)
      val liv = bins.filter(_._1).map(_._2)
      val (nr, nl) = (ref.length.toLong, liv.length.toLong)
      var (crc, clc, maxd, argb) = (0L, 0L, -1L, -1L)
      for (b <- 0L to 63L) {
        crc += ref.count(_ == b); clc += liv.count(_ == b)
        val d = math.abs(crc * nl - clc * nr)
        if (d > maxd) { maxd = d; argb = b }
      }
      val ks = math.floor(maxd.toDouble / (nr.toDouble * nl.toDouble)
        * 1000000 + 0.5) / 1000000
      t -> ((nr, nl, argb, ks))
    }.toMap
    val got = SparkEntry.queries("streaming_drift_ks")(spark, sfDir)
      .select($"event_type", $"n_ref", $"n_live", $"ks_bin", $"ks")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.keySet == expect.keySet && got.nonEmpty)
    for (t <- got.keySet)
      assert(got(t) == expect(t), s"$t: got ${got(t)} want ${expect(t)}")
  }
}

/** C98 mm_audio_fingerprint — dup-detection semantics on a PLANTED
  * corpus (sf0.001 carries no byte-identical docs, so the natural
  * result is near-dup pairs only — asserted non-empty below):
  * byte-identical media share every shingle; a clone with EXTRA
  * CONTENT APPENDED still shares its prefix shingles (the
  * subsequence-match property that distinguishes this operator from
  * C64's whole-item pHash); unrelated media share none.
  */
class AudioFingerprintSpec extends SparkTestBase {
  import spark.implicits._

  test("planted clones, prefix-clones and strangers resolve correctly") {
    // varied 400-byte base: 6 full 64-byte windows, 3 shingles
    val base = (0 until 400).map(i => ('a' + (i * 7 + i / 31) % 26).toChar)
      .mkString
    val extended = base + (0 until 200).map(i => ('A' + (i * 11) % 26).toChar)
      .mkString
    val stranger = (0 until 400).map(i => ('n' + (i * 13 + 3) % 13).toChar)
      .mkString
    val tmp = java.nio.file.Files.createTempDirectory("graft_audio_spec")
      .toFile
    val pairs = try {
      Seq((1L, base, "en", "s0", base.length.toLong),
          (2L, base, "en", "s0", base.length.toLong),
          (3L, extended, "en", "s0", extended.length.toLong),
          (4L, stranger, "en", "s0", stranger.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")
      SparkEntry.queries("mm_audio_fingerprint")(spark, tmp.toString)
        .select($"doc_a", $"doc_b", $"n_shared")
        .as[(Long, Long, Long)].collect()
        .map(p => (p._1, p._2) -> p._3).toMap
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"got $pairs")
    assert(pairs((1L, 2L)) == 3, "identical docs share all 3 shingles")
    assert(pairs((1L, 3L)) == 3 && pairs((2L, 3L)) == 3,
      "appended content must not break the shared-prefix match")
  }

  test("real-corpus pairs are well-formed and non-vacuous") {
    val pairs = SparkEntry.queries("mm_audio_fingerprint")(spark, sfDir)
      .select($"doc_a", $"doc_b", $"n_shared")
      .as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty, "no audio-fingerprint dup pairs at sf0.001")
    assert(pairs.forall(p => p._1 < p._2 && p._3 >= 2))
  }
}

/** B110 setsim_prefix_join — the prefix filter's COMPLETENESS
  * theorem, checked empirically: the prefix-pruned join must emit
  * exactly the pairs the O(n²) brute force finds at Jaccard ≥ 0.6
  * (same token sets, same exact jac_ppm).
  */
class SetSimJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("prefix-filtered join equals the brute-force Jaccard join") {
    val toks = graft.functions.TextFunctions.wsTokens($"text")
    val sets = GraftSession.table(spark, sfDir, "documents")
      .filter(size(toks) >= 3)
      .select($"doc_id", array_distinct(graft.functions.VectorExpressions
        .tokenNgramHashes(toks, 3)).as("toks"))
      .as[(Long, Seq[Long])].collect()
      .map { case (id, ts) => id -> ts.toSet }.sortBy(_._1)
    val expect = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      (ida, a) = sets(i); (idb, b) = sets(j)
      inter = (a & b).size.toLong
      uni = (a | b).size.toLong
      if 10 * inter >= 6 * uni
    } yield (ida, idb) -> ((inter, uni, inter * 1000000 / uni))).toMap
    val got = SparkEntry.queries("setsim_prefix_join")(spark, sfDir)
      .select($"doc_a", $"doc_b", $"inter", $"uni", $"jac_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(expect.nonEmpty, "brute force found no pairs — vacuous corpus")
    assert(got == expect,
      s"missing=${(expect.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expect.keySet).take(5)}")
  }
}

/** B111 timeseries_seasonal_decompose — sequential recompute of
  * trend/seasonal/residual per user plus the additive identity.
  */
class SeasonalDecomposeSpec extends SparkTestBase {
  import spark.implicits._

  test("decomposition equals a sequential recompute; parts re-add") {
    val daily = GraftSession.table(spark, sfDir, "events")
      .select($"user_id", expr("ts div 1000000000 div 86400").as("day"),
        floor($"value" * 100).cast("long").as("cents"))
      .groupBy($"user_id", $"day").agg(sum($"cents").as("c"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (u, rs) => u -> rs.sortBy(_._2) }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = SparkEntry.queries("timeseries_seasonal_decompose")(
        spark, sfDir)
      .select($"user_id", $"day", $"cents", $"trend", $"seasonal", $"resid")
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got.size == daily.valuesIterator.map(_.length).sum)
    for ((u, rows) <- daily) {
      val dowMean = rows.groupBy(_._2 % 7).map { case (dow, rs) =>
        dow -> rs.map(_._3).sum.toDouble / rs.length.toDouble
      }
      for (i <- rows.indices) {
        val (_, day, c) = rows(i)
        val trend = if (i >= 3 && i + 3 < rows.length)
          Some(rows.slice(i - 3, i + 4).map(_._3).sum.toDouble / 7.0)
        else None
        val seasonal = dowMean(day % 7)
        val resid = trend.map(t => (c.toDouble - t) - seasonal)
        val (gc, gt, gs, gr) = got((u, day))
        assert(gc == c)
        assert(gt == trend.map(r6) && gs.contains(r6(seasonal))
          && gr == resid.map(r6),
          s"user $u day $day: got ($gt, $gs, $gr) " +
            s"want (${trend.map(r6)}, ${r6(seasonal)}, ${resid.map(r6)})")
      }
    }
  }
}

/** C97 corpus_doremi_weights — allocation invariants: ppm weights sum
  * to EXACTLY 1e6, every domain keeps positive mass, and every
  * excess loss is a genuine KL (≥ 0).
  */
class DoremiSpec extends SparkTestBase {
  import spark.implicits._

  test("ppm allocation is exact, positive, and KL-nonnegative") {
    val rows = SparkEntry.queries("corpus_doremi_weights")(spark, sfDir)
      .select($"source", $"n_docs", $"n_tokens", $"kl", $"weight_ppm")
      .as[(String, Long, Long, Double, Long)].collect()
    assert(rows.length == 20)
    assert(rows.map(_._5).sum == 1000000L, "ppm weights must sum to 1e6")
    assert(rows.forall(_._5 > 0), "every domain keeps positive mass")
    assert(rows.forall(_._4 >= 0), "KL(domain ‖ global) must be ≥ 0")
    assert(rows.map(_._1).distinct.length == 20)
  }
}
