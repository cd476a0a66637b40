package graft

import org.apache.spark.sql.functions._

/** Round-9 eighth-wave specs — the semantics the SF oracle gate
  * cannot isolate (it replays the same arithmetic; these pin what
  * the operators MEAN against independent recomputations).
  */

/** C99 gopher_rules — each rule must fire on a purpose-built
  * violating document and pass on a compliant one; the corpus run
  * must be non-vacuous on the discriminating rules.
  */
class GopherRulesSpec extends SparkTestBase {
  import spark.implicits._

  private def rules(text: String): Map[String, Int] = {
    val dir = java.nio.file.Files.createTempDirectory("gopher").toString
    Seq((1L, text, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("gopher_rules")(spark, dir).collect().head
    Seq("r_word_count", "r_mean_word_len", "r_one_char", "r_alpha",
      "r_stopwords", "keep")
      .map(c => c -> r.getAs[Int](c)).toMap
  }

  test("each rule fires on its planted violation and only there") {
    val goodWords = Seq.fill(25)("the quick brown fox is near it and")
      .mkString(" ") // 200 words, mean len ~3.9, stop hits >> 2
    val good = rules(goodWords)
    assert(good("keep") == 1, s"compliant doc rejected: $good")

    val short = rules("the fox is in it and of a") // 8 words
    assert(short("r_word_count") == 0 && short("keep") == 0)
    assert(short("r_one_char") == 0) // 2/8 one-char > 10% — also fires

    val longWords = rules(Seq.fill(60)(
      "antidisestablishmentarianism incomprehensibilities the of")
      .mkString(" ")) // mean (28+21+3+2)/4 = 13.5 > 10
    assert(longWords("r_mean_word_len") == 0, s"$longWords")

    val oneChar = rules(("x " * 40) + goodWords) // 40 degenerates
    assert(oneChar("r_one_char") == 0 && oneChar("keep") == 0)

    val numeric = rules(Seq.fill(30)("12 34 567 the of").mkString(" "))
    assert(numeric("r_alpha") == 0, s"$numeric")

    val noStops = rules(Seq.fill(60)("foo bar baz qux").mkString(" "))
    assert(noStops("r_stopwords") == 0 && noStops("keep") == 0)
  }

  test("corpus run is non-vacuous on the discriminating rules") {
    val df = SparkEntry.queries("gopher_rules")(spark, sfDir).cache()
    val n = df.count()
    assert(n > 0)
    for (c <- Seq("r_word_count", "r_stopwords", "keep")) {
      val pass = df.filter(col(c) === 1).count()
      assert(pass > 0 && pass < n, s"$c vacuous: $pass/$n")
    }
    df.unpersist()
  }
}

/** B112 theilsen_trend — the distributed pair-join median must equal
  * a plain sequential recompute, and the estimator must actually be
  * ROBUST: one wild outlier day moves OLS but not Theil-Sen.
  */
class TheilSenSpec extends SparkTestBase {
  import spark.implicits._

  test("distributed slope median equals a sequential recompute") {
    val daily = GraftSession.table(spark, sfDir, "events")
      .select($"user_id", expr("ts div 1000000000 div 86400").as("day"),
        floor($"value" * 100).cast("long").as("cents"))
      .groupBy($"user_id", $"day")
      .agg((sum($"cents").cast("double") / (lit(100.0) * count(lit(1))))
        .as("v"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1))

    val got = SparkEntry.queries("theilsen_trend")(spark, sfDir)
      .select($"user_id", $"n_pairs", $"slope_med")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    val expected = daily.toMap.collect { case (u, s) if s.length >= 2 =>
      val slopes = (for {
        i <- s.indices; j <- (i + 1) until s.length
      } yield (s(j)._2 - s(i)._2) / (s(j)._1 - s(i)._1).toDouble).sorted
      val n = slopes.length
      val med = (slopes((n + 1) / 2 - 1) + slopes(n / 2)) / 2.0
      u -> (n.toLong, math.floor(med * 1e6 + 0.5) / 1e6)
    }
    assert(got.keySet == expected.keySet)
    for ((u, (np, med)) <- expected) {
      assert(got(u)._1 == np, s"user $u pair count")
      assert(math.abs(got(u)._2 - med) < 1e-9,
        s"user $u: got ${got(u)._2}, want $med")
    }
  }

  test("one outlier day leaves the median slope unmoved (robustness)") {
    val dir = java.nio.file.Files.createTempDirectory("ts").toString
    def write(points: Seq[(Long, Double)]): Unit =
      points.zipWithIndex.map { case ((day, v), i) =>
        (i.toLong, 7L, "view", v,
          new java.sql.Timestamp(day * 86400L * 1000L))
      }.toDF("event_id", "user_id", "event_type", "value", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // clean line: v = 2d over days 0..9 → every pair slope exactly 2
    val line = (0L to 9L).map(d => d -> (2.0 * d))
    write(line)
    val clean = SparkEntry.queries("theilsen_trend")(spark, dir)
      .select($"slope_med").as[Double].collect().head
    assert(math.abs(clean - 2.0) < 1e-9)
    // poison one day: day 5 jumps to 1000 — OLS slope leaves [1,3];
    // the pairwise-median stays near 2 (≤ 9 of 45 pairs touch day 5)
    write(line.updated(5, 5L -> 1000.0))
    val robust = SparkEntry.queries("theilsen_trend")(spark, dir)
      .select($"slope_med").as[Double].collect().head
    assert(math.abs(robust - 2.0) < 0.5, s"median moved to $robust")
  }
}

/** B113 benford_first_digit — the hardcoded 6dp Benford constants
  * must sum to exactly 1e6 ppm, and the chi² must equal a sequential
  * recompute from raw counts.
  */
class BenfordSpec extends SparkTestBase {
  import spark.implicits._

  private val probs = Seq(0.301030, 0.176091, 0.124939, 0.096910,
    0.079181, 0.066947, 0.057992, 0.051153, 0.045757)

  test("constants are a 6dp probability vector (ppm sum exactly 1e6)") {
    assert(probs.map(p => math.round(p * 1e6)).sum == 1000000L)
  }

  test("chi2 equals a sequential recompute; digits cover 1..9") {
    val rows = SparkEntry.queries("benford_first_digit")(spark, sfDir)
      .select($"digit", $"observed", $"chi2_total")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to 9))
    val n = rows.map(_._2).sum
    var chi = 0.0
    for (((_, obs, _), p) <- rows.zip(probs)) {
      val e = n * p
      chi += (obs.toDouble - e) * (obs.toDouble - e) / e
    }
    val want = math.floor(chi * 1e6 + 0.5) / 1e6
    assert(rows.forall(r => math.abs(r._3 - want) < 1e-9),
      s"chi2 ${rows.head._3} != $want")
    // non-vacuous: this corpus is NOT Benford (digits 1-4 heavy)
    assert(rows.head._3 > 100.0, "chi2 suspiciously small")
  }
}

/** D37 streaming_decayed_counts — the streaming snapshot must equal
  * the batch image (additive state merges commute), and the decay
  * read-out must match a closed-form recompute with the documented
  * 32-day horizon.
  */
class DecayedCountSpec extends SparkTestBase {
  import spark.implicits._

  test("decayed snapshot equals a closed-form batch recompute") {
    val days = GraftSession.table(spark, sfDir, "events")
      .select($"event_type", expr("ts div 1000000000 div 86400").as("day"))
      .as[(String, Long)].collect()
    val t = days.map(_._2).max
    val expected = days.groupBy(_._1).map { case (et, rows) =>
      val scaled = rows.map(_._2)
        .filter(d => t - d <= 32)
        .map(d => 1L << (32 - (t - d)).toInt).sum
      et -> (rows.length.toLong, scaled)
    }
    val got = SparkEntry.queries("streaming_decayed_counts")(spark, sfDir)
      .select($"event_type", $"n_events", $"t_day", $"decayed_scaled",
        $"decayed")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.map(_._1).toSet == expected.keySet)
    for ((et, ne, td, sc, dec) <- got) {
      assert(td == t)
      assert((ne, sc) == expected(et), s"$et: ($ne,$sc) != ${expected(et)}")
      assert(math.abs(dec - BigDecimal(sc.toDouble / 4294967296.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // decay is non-trivial: the scaled sum is NOT n · 2^32 (all
    // events on the max day) and NOT 0 (all outside the horizon)
    assert(got.exists(r => r._4 != r._2 * 4294967296L && r._4 != 0L))
  }
}

/** B114 mannwhitney_values — sequential recompute of the tie-averaged
  * rank-sum statistic from raw values, plus the U₁ + U₂ = n₁n₂
  * identity that any rank bookkeeping error breaks.
  */
class MannWhitneySpec extends SparkTestBase {
  import spark.implicits._

  test("U and z equal a sequential recompute; U1 + U2 = n1*n2") {
    val raw = GraftSession.table(spark, sfDir, "events")
      .filter($"event_type".isin("purchase", "view"))
      .select(($"event_type" === "purchase").as("g1"),
        floor($"value" * 100 + lit(0.5)).cast("long").as("c"))
      .as[(Boolean, Long)].collect()
    val sorted = raw.sortBy(_._2)
    // tie-averaged ranks, sequentially
    var i = 0; var r1x2 = 0L; var tsum = 0L
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._2 == sorted(i)._2) j += 1
      val t = j - i
      val rank2 = 2L * i + t + 1 // doubled average rank, 1-indexed
      r1x2 += rank2 * sorted.slice(i, j).count(_._1)
      tsum += t.toLong * t * t - t
      i = j
    }
    val n1 = raw.count(_._1).toLong
    val n2 = raw.length - n1
    val u1x2 = r1x2 - n1 * (n1 + 1)
    val z = (u1x2.toDouble / 2.0 - (n1 * n2).toDouble / 2.0) /
      math.sqrt((n1 * n2).toDouble / 12.0 *
        ((n1 + n2 + 1).toDouble
          - tsum.toDouble / ((n1 + n2) * (n1 + n2 - 1)).toDouble))
    val row = SparkEntry.queries("mannwhitney_values")(spark, sfDir)
      .select($"n1", $"n2", $"r1x2", $"tsum", $"u1x2", $"z")
      .as[(Long, Long, Long, Long, Long, Double)].collect().head
    assert(row._1 == n1 && row._2 == n2)
    assert(row._3 == r1x2, s"2R1 ${row._3} != $r1x2")
    assert(row._4 == tsum)
    assert(row._5 == u1x2)
    assert(math.abs(row._6 - math.floor(z * 1e6 + 0.5) / 1e6) < 1e-9)
    // the pair-count identity: U1 + U2 = n1*n2 (scaled by 2)
    // Σ all doubled ranks = n(n+1)
    val r2x2 = raw.length.toLong * (raw.length + 1) - r1x2
    val u2x2 = r2x2 - n2 * (n2 + 1)
    assert(u1x2 + u2x2 == 2L * n1 * n2, "U1 + U2 != n1*n2")
  }
}

/** B115 chisq_segment_region — sequential recompute plus the margin
  * identity (expected sums to the observed margins), which any
  * margin-join mistake breaks.
  */
class ChiSqSpec extends SparkTestBase {
  import spark.implicits._

  test("chi2 equals a sequential recompute; expected preserves margins") {
    val rows = SparkEntry.queries("chisq_segment_region")(spark, sfDir)
      .select($"seg", $"region", $"observed", $"expected", $"chi2_total")
      .as[(String, String, Long, Double, Double)].collect()
    assert(rows.length == 25) // 5 segments × 5 regions, all present
    val n = rows.map(_._3).sum
    val rowTot = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    val colTot = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    var chi = 0.0
    for ((seg, region, obs, expRounded, _) <-
        rows.sortBy(r => (r._1, r._2))) {
      val e = (rowTot(seg) * colTot(region)).toDouble / n
      assert(math.abs(expRounded - math.floor(e * 1e6 + 0.5) / 1e6) < 1e-9)
      chi += (obs.toDouble - e) * (obs.toDouble - e) / e
    }
    val want = math.floor(chi * 1e6 + 0.5) / 1e6
    assert(rows.forall(r => math.abs(r._5 - want) < 1e-9))
    // margins: Σ_region expected(seg, ·) = row_tot(seg) exactly
    for ((seg, rt) <- rowTot) {
      val sumE = rows.filter(_._1 == seg)
        .map(r => (rowTot(r._1) * colTot(r._2)).toDouble / n).sum
      assert(math.abs(sumE - rt) < 1e-6, s"margin broken for $seg")
    }
  }
}

/** C100 blocklist_tag — planted docs pin the hit accounting; the
  * absent dictionary term must never phantom-match.
  */
class BlocklistSpec extends SparkTestBase {
  import spark.implicits._

  test("planted docs hit the exact counts; absent term never matches") {
    val dir = java.nio.file.Files.createTempDirectory("bl").toString
    Seq(
      (1L, "slow slow slow fast", "en", "s"),      // 3 hits, 1 term
      (2L, "slow merge fast table", "en", "s"),    // 2 hits, 2 terms
      (3L, "fast table scan row", "en", "s"),      // clean
      (4L, "crashing dupe slows", "en", "s"))      // substrings ≠ tokens
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("blocklist_tag")(spark, dir)
      .select($"doc_id", $"n_hits", $"n_terms", $"flagged")
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 3L, 1L, 1))  // total-hit threshold
    assert(got(2L) == (2L, 2L, 2L, 1))  // distinct-term threshold
    assert(got(3L) == (3L, 0L, 0L, 0))
    assert(got(4L) == (4L, 0L, 0L, 0))  // token grain, not substring
  }

  test("corpus run is non-vacuous both ways") {
    val df = SparkEntry.queries("blocklist_tag")(spark, sfDir).cache()
    val n = df.count()
    val f = df.filter($"flagged" === 1).count()
    assert(f > 0 && f < n, s"flagged $f/$n vacuous")
    df.unpersist()
  }
}

/** B116 decision_stump_value — the stump must recover the PLANTED
  * concept (boundary 3000, 10% deterministic flips ⇒ accuracy
  * exactly 0.9 on the big corpus), and must find the provably best
  * split on a hand-built table where every candidate is enumerable.
  */
class StumpSpec extends SparkTestBase {
  import spark.implicits._

  test("recovers the planted boundary with exactly the flip-rate accuracy") {
    val r = SparkEntry.queries("decision_stump_value")(spark, sfDir)
      .select($"threshold", $"n", $"acc", $"gini")
      .as[(Long, Long, Double, Double)].collect().head
    // left side is x ≤ t, so the planted 'x ≥ 3000' boundary is the
    // largest cents below 3000
    assert(r._1 < 3000 && r._1 >= 2990, s"threshold ${r._1} off-boundary")
    assert(math.abs(r._3 - 0.9) < 0.005, s"acc ${r._3} != flip rate")
    assert(r._4 < 0.2, s"gini ${r._4} not low")
  }

  test("finds the enumerably-best split on a hand-built table") {
    val dir = java.nio.file.Files.createTempDirectory("stump").toString
    // cents 100·k; y = planted (c >= 3000) xor (event_id % 10 == 0);
    // event_ids chosen so NO flip fires → perfect split at 2900
    val rows = (1L to 60L).map { k =>
      (k * 10 + 1, k % 15 + 1, "view", k.toDouble, // value → cents 100k
        new java.sql.Timestamp(86400000L * k))
    }
    rows.toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("decision_stump_value")(spark, dir)
      .select($"threshold", $"acc", $"gini")
      .as[(Long, Double, Double)].collect().head
    // cents = floor(100k + 0.5) = 100k; boundary at 3000 → best
    // threshold is the largest cents < 3000 = 2900; zero flips →
    // perfect separation
    assert(r._1 == 2900L, s"threshold ${r._1}")
    assert(r._2 == 1.0 && r._3 == 0.0, s"acc ${r._2} gini ${r._3}")
  }
}

/** D38 streaming_ddsketch_quantiles — the streamed sketch snapshot's
  * estimates must equal the batch sketch computed directly, and each
  * estimate must sit within the sketch's relative-error bracket of
  * the exact rank statistic (the B108 guarantee, now on live state).
  */
class StreamingDdsSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed estimates equal the batch sketch and bracket the exact ranks") {
    val cents = GraftSession.table(spark, sfDir, "events")
      .select($"event_type", floor($"value" * 100 + lit(0.5)).cast("long"))
      .as[(String, Long)].collect()
    def bucket(c: Long): Long = {
      val s = c.toString
      (s.take(2) + "0" * (s.length - math.min(2, s.length))).toLong
    }
    val got = SparkEntry.queries("streaming_ddsketch_quantiles")(spark, sfDir)
      .select($"event_type", $"q", $"n", $"est_cents")
      .as[(String, Int, Long, Long)].collect()
    assert(got.length == cents.map(_._1).distinct.length * 3)
    for ((et, q, n, est) <- got) {
      val vals = cents.filter(_._1 == et).map(_._2).sorted
      assert(n == vals.length)
      // batch sketch recompute
      val sk = vals.map(bucket).groupBy(identity).view.mapValues(_.length)
        .toSeq.sortBy(_._1)
      val rank = (q.toLong * n + 99) / 100
      var cum = 0L
      val want = sk.collectFirst {
        case (b, c) if { cum += c; cum >= rank } => b
      }.get
      assert(est == want, s"$et p$q: $est != $want")
      // relative-error bracket vs the exact rank statistic
      val exact = vals(rank.toInt - 1)
      assert(est <= exact && exact < est + math.max(est / 10, 1),
        s"$et p$q: exact $exact outside bracket above $est")
    }
  }
}

/** C101 classifier_auc — the rank-formula AUC must equal the O(n²)
  * pairwise definition P(s⁺ > s⁻) + ½P(=), and the classifier must
  * actually beat chance (else the metric gates nothing).
  */
class AucSpec extends SparkTestBase {
  import spark.implicits._

  test("rank-sum AUC equals the pairwise definition and beats chance") {
    val scored = SparkEntry.queries("rocchio_classifier_score")(spark, sfDir)
      .select($"score", $"label").as[(Long, Int)].collect()
    val pos = scored.filter(_._2 == 1).map(_._1)
    val neg = scored.filter(_._2 == 0).map(_._1)
    var num = 0.0
    for (p <- pos; q <- neg)
      num += (if (p > q) 1.0 else if (p == q) 0.5 else 0.0)
    val want = math.floor(num / (pos.length.toLong * neg.length) * 1e6
      + 0.5) / 1e6
    val row = SparkEntry.queries("classifier_auc")(spark, sfDir)
      .select($"n1", $"n0", $"auc").as[(Long, Long, Double)].collect().head
    assert(row._1 == pos.length && row._2 == neg.length)
    assert(math.abs(row._3 - want) < 1e-9, s"auc ${row._3} != $want")
    assert(row._3 > 0.8, s"classifier AUC ${row._3} suspiciously weak")
  }
}

/** B117 kendall_tau_daily — sequential recompute plus the three
  * boundary regimes (perfectly rising → +1, falling → −1, constant →
  * NULL) on hand-built series.
  */
class KendallSpec extends SparkTestBase {
  import spark.implicits._

  test("tau equals a sequential recompute on the corpus") {
    val daily = GraftSession.table(spark, sfDir, "events")
      .select($"user_id", expr("ts div 1000000000 div 86400").as("day"),
        floor($"value" * 100).cast("long").as("cents"))
      .groupBy($"user_id", $"day")
      .agg((sum($"cents").cast("double") / (lit(100.0) * count(lit(1))))
        .as("v"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3))
    val got = SparkEntry.queries("kendall_tau_daily")(spark, sfDir)
      .select($"user_id", $"n0", $"nc", $"nd", $"nt", $"tau_b")
      .collect().map(r => r.getLong(0) -> r).toMap
    for ((u, vs) <- daily if vs.length >= 2) {
      var nc = 0L; var nd = 0L; var nt = 0L
      for (i <- vs.indices; j <- (i + 1) until vs.length) {
        if (vs(j) > vs(i)) nc += 1
        else if (vs(j) < vs(i)) nd += 1
        else nt += 1
      }
      val n0 = nc + nd + nt
      val r = got(u)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        == (n0, nc, nd, nt), s"user $u counts")
      if (nt < n0) {
        val tau = (nc - nd).toDouble / math.sqrt(n0.toDouble * (n0 - nt))
        assert(math.abs(r.getDouble(5) - math.floor(tau * 1e6 + 0.5) / 1e6)
          < 1e-9, s"user $u tau")
      } else assert(r.isNullAt(5))
    }
  }

  test("boundary regimes: rising +1, falling -1, constant NULL") {
    val dir = java.nio.file.Files.createTempDirectory("kt").toString
    val rows =
      (0L to 9L).map(d => (d, 1L, 10.0 + d)) ++      // rising
      (0L to 9L).map(d => (d, 2L, 90.0 - d)) ++      // falling
      (0L to 9L).map(d => (d, 3L, 50.0))             // constant
    rows.zipWithIndex.map { case ((day, u, v), i) =>
      (i.toLong, u, "view", v, new java.sql.Timestamp(day * 86400000L))
    }.toSeq.toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("kendall_tau_daily")(spark, dir)
      .select($"user_id", $"tau_b").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(1.0))
    assert(got(2L).contains(-1.0))
    assert(got(3L).isEmpty)
  }
}

/** D39 streaming_benford — the live per-type digit counts must equal
  * the batch image, and each type's chi² must equal a sequential
  * recompute against the hardcoded constants.
  */
class StreamingBenfordSpec extends SparkTestBase {
  import spark.implicits._

  private val probs = Map(1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939,
    4 -> 0.096910, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
    8 -> 0.051153, 9 -> 0.045757)

  test("snapshot equals batch counts; per-type chi2 recomputes") {
    val batch = GraftSession.table(spark, sfDir, "events")
      .select($"event_type",
        substring(floor($"value" * 100 + lit(0.5)).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
      .as[(String, Int)].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("streaming_benford")(spark, sfDir)
      .select($"event_type", $"digit", $"observed", $"n", $"chi2_total")
      .as[(String, Int, Long, Long, Double)].collect()
    assert(got.length == got.map(_._1).distinct.length * 9)
    for ((et, rows) <- got.groupBy(_._1)) {
      val n = rows.map(_._3).sum
      assert(rows.forall(_._4 == n))
      var chi = 0.0
      for ((_, d, obs, _, _) <- rows.sortBy(_._2)) {
        assert(obs == batch.getOrElse((et, d), 0L), s"$et d$d count")
        val e = n * probs(d)
        chi += (obs.toDouble - e) * (obs.toDouble - e) / e
      }
      val want = math.floor(chi * 1e6 + 0.5) / 1e6
      assert(rows.forall(r => math.abs(r._5 - want) < 1e-9), s"$et chi2")
    }
  }
}

/** D40 streaming_heartbeat — last-seen is a lattice max (snapshot ≡
  * batch under any split); silence and staleness recompute exactly.
  */
class HeartbeatSpec extends SparkTestBase {
  import spark.implicits._

  test("snapshot equals batch last-seen; staleness exact and non-vacuous") {
    val batch = GraftSession.table(spark, sfDir, "events")
      .select($"user_id", expr("ts div 1000000000").as("tsec"))
      .as[(Long, Long)].collect()
    val last = batch.groupBy(_._1).view
      .mapValues(r => (r.map(_._2).max, r.length.toLong)).toMap
    val now = last.values.map(_._1).max
    val got = SparkEntry.queries("streaming_heartbeat")(spark, sfDir)
      .select($"user_id", $"n_events", $"last_seen", $"silence_s", $"stale")
      .as[(Long, Long, Long, Long, Int)].collect()
    assert(got.length == last.size)
    for ((u, ne, ls, sil, st) <- got) {
      assert((ls, ne) == last(u), s"user $u state")
      assert(sil == now - ls)
      assert(st == (if (now - ls > 86400) 1 else 0))
    }
    val stales = got.count(_._5 == 1)
    assert(stales > 0 && stales < got.length, s"stale $stales vacuous")
  }
}

/** C102 crossval_stump — every fold must recover the planted
  * boundary, test accuracy must sit at the designed 6/7 flip
  * complement on EVERY fold (fold/noise uniformity — the gcd(5,7)=1
  * design), and folds must partition the corpus.
  */
class CrossValSpec extends SparkTestBase {
  import spark.implicits._

  test("all folds recover the boundary at the designed accuracy") {
    val rows = SparkEntry.queries("crossval_stump")(spark, sfDir)
      .select($"fold", $"threshold", $"n_train", $"n_test", $"test_acc")
      .as[(Int, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0 to 4))
    val total = GraftSession.table(spark, sfDir, "events").count()
    for ((f, t, ntr, nte, acc) <- rows) {
      assert(ntr + nte == total, s"fold $f does not partition")
      // sf0.001 trains on ~4.8k rows — the empirical optimum wobbles
      // a few cents below the planted 3000 where the grid is sparse
      assert(t < 3000 && t >= 2900, s"fold $f threshold $t off-boundary")
      assert(math.abs(acc - 6.0 / 7.0) < 0.03,
        s"fold $f acc $acc != ~6/7 — fold/noise correlation?")
    }
    // folds are near-balanced (dense event ids)
    val sizes = rows.map(_._4)
    assert(sizes.max - sizes.min <= math.max(2, total / 100))
  }
}

/** B119 debounce_events — sequential recompute, plus the planted
  * cascade that separates a rolling cooldown from a fixed time grid:
  * whether an event survives depends on which EARLIER events
  * survived.
  */
class DebounceSpec extends SparkTestBase {
  import spark.implicits._

  test("fold equals a sequential recompute on the corpus") {
    val byUser = GraftSession.table(spark, sfDir, "events")
      .select($"user_id", expr("ts div 1000000000").as("t"), $"event_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sorted)
    val got = SparkEntry.queries("debounce_events")(spark, sfDir)
      .select($"user_id", $"n_events", $"n_kept", $"kept_id_sum")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet == byUser.keySet.toSet)
    for ((u, evs) <- byUser) {
      var last = Long.MinValue; var nk = 0L; var idsum = 0L
      for ((t, id) <- evs) {
        if (last == Long.MinValue || t - last >= 300) {
          last = t; nk += 1; idsum += id
        }
      }
      assert(got(u) == (evs.length.toLong, nk, idsum), s"user $u")
    }
  }

  test("rolling cooldown cascades (not a fixed grid)") {
    val dir = java.nio.file.Files.createTempDirectory("db").toString
    // t = 0, 200, 400: rolling keeps {0, 400} (200 suppressed, 400
    // measured from 0); a fixed 300s grid would keep {0, 400} too —
    // so add t=500: rolling suppresses it (last kept 400), a grid
    // starting at 0 would keep nothing new; t=700 kept (700-400=300).
    // Distinguishing case: t = 0, 200, 400, 500, 700 → kept {0, 400,
    // 700}; a 300s-bucket first-per-bucket rule keeps {0, 400, 600s
    // bucket→700} TOO — so pin the SUPPRESSION of 200 and 500 via
    // the id-sum, which only the rolling rule produces with these
    // ids.
    Seq((1L, 0L), (2L, 200L), (4L, 400L), (8L, 500L), (16L, 700L))
      .map { case (id, t) =>
        (id, 9L, "view", 1.0, new java.sql.Timestamp(t * 1000L)) }
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("debounce_events")(spark, dir)
      .select($"n_events", $"n_kept", $"kept_id_sum")
      .as[(Long, Long, Long)].collect().head
    assert(r == (5L, 3L, 1L + 4L + 16L), s"got $r")
  }
}

/** B120 ks_two_sample_exact — sequential ECDF recompute, plus a
  * planted full-separation case (disjoint supports ⇒ D = 1).
  */
class KsExactSpec extends SparkTestBase {
  import spark.implicits._

  test("D equals a sequential ECDF sweep on the corpus") {
    val raw = GraftSession.table(spark, sfDir, "events")
      .filter($"event_type".isin("purchase", "view"))
      .select(($"event_type" === "purchase").as("g1"),
        floor($"value" * 100 + lit(0.5)).cast("long").as("c"))
      .as[(Boolean, Long)].collect()
    val n1 = raw.count(_._1).toLong
    val n2 = raw.length - n1
    val values = raw.map(_._2).distinct.sorted
    var k1 = 0L; var k2 = 0L; var best = 0L; var at = Long.MaxValue
    for (c <- values) {
      k1 += raw.count(r => r._1 && r._2 == c)
      k2 += raw.count(r => !r._1 && r._2 == c)
      val dev = math.abs(k1 * n2 - k2 * n1)
      if (dev > best) { best = dev; at = c }
      else if (dev == best && c < at) at = c
    }
    val row = SparkEntry.queries("ks_two_sample_exact")(spark, sfDir)
      .select($"n1", $"n2", $"d_scaled", $"at_cents", $"ks_d")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(row._1 == n1 && row._2 == n2)
    assert(row._3 == best && row._4 == at, s"got $row want ($best, $at)")
    assert(math.abs(row._5 - math.floor(
      best.toDouble / (n1.toDouble * n2) * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("disjoint supports give D = 1 exactly") {
    val dir = java.nio.file.Files.createTempDirectory("ks").toString
    // purchases all at cents 100-500, views all at 10000+
    val rows = (1L to 50L).map(k =>
      (k, k % 7, "purchase", k.toDouble % 5 + 1,
        new java.sql.Timestamp(k * 1000))) ++
      (51L to 100L).map(k =>
        (k, k % 7, "view", 100.0 + k,
          new java.sql.Timestamp(k * 1000)))
    rows.toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("ks_two_sample_exact")(spark, dir)
      .select($"ks_d").as[Double].collect().head
    assert(r == 1.0, s"D $r != 1 on disjoint supports")
  }
}

/** D41 streaming_debounce — the streamed fold must equal a
  * sequential replay over exactly the below-final-watermark rows
  * (the D23 emission rule), id-sum pinning the surviving set.
  */
class StreamingDebounceSpec extends SparkTestBase {
  import spark.implicits._

  test("stream equals the sequential below-watermark replay") {
    val all = GraftSession.table(spark, sfDir, "events")
      .select($"user_id", $"event_id", expr("ts div 1000000000").as("t"))
      .as[(Long, Long, Long)].collect()
    val fw = all.map(_._3).max - 3600L
    val byUser = all.filter(_._3 < fw)
      .groupBy(_._1).view.mapValues(_.map(r => (r._3, r._2)).sorted)
    val got = SparkEntry.queries("streaming_debounce")(spark, sfDir)
      .select($"user_id", $"n_seen", $"n_kept", $"kept_id_sum")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet == byUser.keySet.toSet)
    for ((u, evs) <- byUser) {
      var last = Long.MinValue; var nk = 0L; var ids = 0L
      for ((t, id) <- evs) {
        if (last == Long.MinValue || t - last >= 300) {
          last = t; nk += 1; ids += id
        }
      }
      assert(got(u) == (evs.length.toLong, nk, ids), s"user $u")
    }
  }
}

/** C103 user_behavior_profile — planted metronome bot vs organic
  * user: the bot's burst ceiling, run length and zero gap variance
  * must all fire; the organic series must not.
  */
class BehaviorProfileSpec extends SparkTestBase {
  import spark.implicits._

  test("planted metronome bot fires every signal; organic does not") {
    val dir = java.nio.file.Files.createTempDirectory("bot").toString
    // bot (user 1): 8 'view' events exactly 30 s apart — one 300 s
    // window holds >= 8? window [0,300) holds t=0..270 → 10 slots,
    // here 8 events at 0,30,...,210 all inside → burst 8; gap var 0;
    // run 8. organic (user 2): varied types, irregular gaps.
    val bot = (0 until 8).map(i =>
      (i.toLong, 1L, "view", 1.0, new java.sql.Timestamp(i * 30000L)))
    val organic = Seq(
      (100L, 2L, "view", 1.0, 0L), (101L, 2L, "click", 1.0, 400000L),
      (102L, 2L, "purchase", 1.0, 1100000L), (103L, 2L, "view", 1.0, 2500000L))
      .map { case (id, u, et, v, ms) =>
        (id, u, et, v, new java.sql.Timestamp(ms)) }
    (bot ++ organic)
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("user_behavior_profile")(spark, dir)
      .select($"user_id", $"n_events", $"burst_max", $"longest_run",
        $"gap_var_scaled", $"suspect")
      .as[(Long, Long, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 8L, 8L, 8L, 0L, 1), s"bot ${got(1L)}")
    val org = got(2L)
    assert(org._3 == 1L && org._4 <= 2L && org._5 > 0L && org._6 == 0,
      s"organic $org")
  }

  test("corpus run: exact recompute of gap variance for one user") {
    val rows = GraftSession.table(spark, sfDir, "events")
      .select($"user_id", expr("ts div 1000000000").as("t"), $"event_id")
      .as[(Long, Long, Long)].collect()
    val u = rows.head._1
    val ts = rows.filter(_._1 == u).map(r => (r._2, r._3)).sorted.map(_._1)
    val gaps = ts.zip(ts.tail).map { case (a, b) => b - a }
    val n = gaps.length.toLong
    val want = n * gaps.map(g => g * g).sum - {
      val s = gaps.sum; s * s
    }
    val got = SparkEntry.queries("user_behavior_profile")(spark, sfDir)
      .filter($"user_id" === u)
      .select($"n_gaps", $"gap_var_scaled")
      .as[(Long, Long)].collect().head
    assert(got == (n, want), s"user $u: $got != ($n, $want)")
  }
}

/** C104 corpus_datacard — the card's totals must re-add from
  * independent per-doc scans, and the dup fraction must count
  * exactly the planted duplicate docs.
  */
class DatacardSpec extends SparkTestBase {
  import spark.implicits._

  test("card totals re-add; planted dups are counted exactly") {
    val dir = java.nio.file.Files.createTempDirectory("card").toString
    Seq(
      (1L, "the quick brown fox", "en", "a"),
      (2L, "the quick brown fox", "en", "a"),   // dup of 1 (same src)
      (3L, "THE  quick   brown fox ", "en", "a"), // dup after norm
      (4L, "something else entirely", "de", "a"),
      (5L, "the quick brown fox", "en", "b"))   // same text, OTHER src
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("corpus_datacard")(spark, dir)
      .select($"source", $"n_docs", $"n_langs", $"n_dup_docs")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("a") == ("a", 4L, 2L, 3L), s"a: ${got("a")}") // 1,2,3 dup
    assert(got("b") == ("b", 1L, 1L, 0L), s"b: ${got("b")}") // src-local
  }

  test("corpus card totals equal independent recomputes") {
    val docs = GraftSession.table(spark, sfDir, "documents")
      .select($"source", graft.functions.TextFunctions
        .tokenCount($"text").cast("long"))
      .as[(String, Long)].collect()
    val got = SparkEntry.queries("corpus_datacard")(spark, sfDir)
      .select($"source", $"n_docs", $"total_tokens")
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    for ((src, rows) <- docs.groupBy(_._1)) {
      assert(got(src)._2 == rows.length && got(src)._3 == rows.map(_._2).sum,
        s"$src totals")
    }
  }
}

/** C105 tokenizer_fertility — exact recompute per lang; fertility
  * must be ≥ 1 by construction (every word is ≥ 1 subword run).
  */
class FertilitySpec extends SparkTestBase {
  import spark.implicits._

  test("fertility recomputes exactly and is >= 1 everywhere") {
    val m = GraftSession.table(spark, sfDir, "documents")
      .select($"lang",
        graft.functions.TextFunctions.tokenCount($"text").cast("long"),
        graft.functions.TextFunctions.subwordCount($"text").cast("long"),
        length($"text").cast("long"))
      .as[(String, Long, Long, Long)].collect()
    val got = SparkEntry.queries("tokenizer_fertility")(spark, sfDir)
      .select($"lang", $"words", $"subwords", $"chars", $"fertility")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    for ((lang, rows) <- m.groupBy(_._1)) {
      val (w, sw, ch) = (rows.map(_._2).sum, rows.map(_._3).sum,
        rows.map(_._4).sum)
      val r = got(lang)
      assert((r._2, r._3, r._4) == (w, sw, ch), s"$lang totals")
      assert(math.abs(r._5 - math.floor(sw.toDouble / w * 1e6 + 0.5) / 1e6)
        < 1e-9)
      assert(r._5 >= 1.0, s"$lang fertility ${r._5} < 1")
    }
  }
}

/** C106 text_lm_heldout — scoring must be TOTAL (every test bigram
  * scored, OOV included), train/test must not leak, and a planted
  * unseen-bigram doc must score exactly the backoff 1/V.
  */
class HeldoutLmSpec extends SparkTestBase {
  import spark.implicits._

  test("OOV docs score the exact backoff; coverage is total") {
    val dir = java.nio.file.Files.createTempDirectory("lm").toString
    Seq(
      (0L, "a b a b a b", "en", "s"),        // train: bigrams ab, ba
      (2L, "a b a b", "en", "s"),            // train
      (1L, "a b a b", "en", "s"),            // test: all seen
      (3L, "zz qq zz qq", "en", "s"))        // test: all OOV
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_lm_heldout")(spark, dir)
      .select($"doc_id", $"n_bigrams", $"avg_logp", $"oov_bigrams",
        $"oov_rate")
      .as[(Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 3L)) // only odd docs scored
    assert(got(1L)._4 == 0L && got(1L)._5 == 0.0)
    // vocab = {a, b} → V = 2; fully-OOV bigram P = 1/2
    val r3 = got(3L)
    assert(r3._4 == r3._2 && r3._5 == 1.0, s"doc 3 not fully OOV: $r3")
    val want = BigDecimal(math.log(1.0 / 2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r3._3 - want) < 1e-9, s"backoff ${r3._3} != $want")
  }

  test("corpus run: only odd docs, non-vacuous OOV both ways") {
    val rows = SparkEntry.queries("text_lm_heldout")(spark, sfDir)
      .select($"doc_id", $"oov_bigrams", $"n_bigrams")
      .as[(Long, Long, Long)].collect()
    assert(rows.forall(_._1 % 2 == 1))
    val oov = rows.map(_._2).sum
    val tot = rows.map(_._3).sum
    assert(oov > 0 && oov < tot, s"OOV $oov/$tot vacuous")
  }
}

/** C107 embedding_outliers — a planted far-away vector must rank
  * first with the exactly-computable distance; ranking matches a
  * sequential recompute.
  */
class EmbeddingOutlierSpec extends SparkTestBase {
  import spark.implicits._

  test("planted outlier ranks first; distances recompute") {
    val dir = java.nio.file.Files.createTempDirectory("emb").toString
    val d = 8
    // 9 unit-ish vectors near the origin + one at distance 100
    val base = (1L to 9L).map(i =>
      (i, Array.fill(d)(0.01f * i), 0))
    val outlier = (99L, Array.fill(d)(100.0f), 1)
    (base :+ outlier).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("embedding_outliers")(spark, dir)
      .select($"vec_id", $"dist2").as[(Long, Double)].collect()
    assert(got.head._1 == 99L, s"outlier not first: ${got.head}")
    // the centroid is pulled 1/10 toward the outlier, so base vecs
    // sit ~10 away (dist² ~8·10²·d/64…) — dominance is ~80×, not
    // unbounded; 10× is the honest planted margin
    assert(got.head._2 > got(1)._2 * 10, "outlier not dominant")
    // sequential recompute of the top distance
    val vecs = (base :+ outlier).map(v => v._1 -> v._2.map(_.toDouble))
    val c = (0 until d).map(j => BigDecimal(
      vecs.map(_._2(j)).sum / vecs.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    var dist = 0.0
    for (j <- 0 until d) {
      val t = vecs.last._2(j) - c(j); dist += t * t
    }
    assert(math.abs(got.head._2 - math.floor(dist * 1e6 + 0.5) / 1e6)
      < 1e-6, s"${got.head._2} != $dist")
  }
}

/** B121 wilcoxon_signed_rank — sequential recompute of signed ranks
  * from the same paired means, plus the W⁺ + W⁻ = n(n+1)/2 identity.
  */
class WilcoxonSpec extends SparkTestBase {
  import spark.implicits._

  test("W+ and z equal a sequential recompute; W+ + W- = n(n+1)/2") {
    val raw = GraftSession.table(spark, sfDir, "events")
      .select($"user_id", expr("ts div 1000000000").as("t"),
        floor($"value" * 100).cast("long").as("cents"))
      .as[(Long, Long, Long)].collect()
    val split = (raw.map(_._2).min + raw.map(_._2).max) / 2
    val diffs = raw.groupBy(_._1).values.flatMap { rows =>
      val (a, b) = rows.partition(_._2 < split)
      if (a.isEmpty || b.isEmpty) None
      else {
        val d = b.map(_._3).sum.toDouble / (100.0 * b.length) -
          a.map(_._3).sum.toDouble / (100.0 * a.length)
        if (d == 0) None else Some(d)
      }
    }.toArray
    val sorted = diffs.sortBy(math.abs)
    var i = 0; var wx2 = 0L; var tsum = 0L
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length
        && math.abs(sorted(j)) == math.abs(sorted(i))) j += 1
      val t = j - i
      val rank2 = 2L * i + t + 1
      wx2 += rank2 * sorted.slice(i, j).count(_ > 0)
      tsum += t.toLong * t * t - t
      i = j
    }
    val n = diffs.length.toLong
    val z = (wx2.toDouble / 2.0 - n * (n + 1) / 4.0) /
      math.sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - tsum / 48.0)
    val row = SparkEntry.queries("wilcoxon_signed_rank")(spark, sfDir)
      .select($"n", $"n_pos", $"wx2", $"tsum", $"z")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(row._1 == n && row._2 == diffs.count(_ > 0))
    assert(row._3 == wx2 && row._4 == tsum, s"got $row want ($wx2, $tsum)")
    assert(math.abs(row._5 - math.floor(z * 1e6 + 0.5) / 1e6) < 1e-9)
    // Σ all doubled ranks = n(n+1): W+x2 + W-x2 = n(n+1)
    val wm2 = n * (n + 1) - wx2
    assert(wx2 + wm2 == n * (n + 1))
    assert(wm2 >= 0, "negative-rank mass broken")
  }
}

/** C108 langid_confusion — the matrix must re-add to the corpus, the
  * margins must be consistent, and precision/recall must recompute
  * from the cells; planted clean docs land on the diagonal.
  */
class LangidConfusionSpec extends SparkTestBase {
  import spark.implicits._

  test("matrix re-adds, margins consistent, diagonal metrics recompute") {
    val rows = SparkEntry.queries("langid_confusion")(spark, sfDir)
      .select($"lang", $"lang_pred", $"n", $"row_tot", $"col_tot",
        $"precision_d", $"recall_d").collect()
    val total = GraftSession.table(spark, sfDir, "documents").count()
    assert(rows.map(_.getLong(2)).sum == total, "cells don't re-add")
    val byLang = rows.groupBy(_.getString(0))
    for ((lang, rs) <- byLang) {
      val rt = rs.head.getLong(3)
      assert(rs.map(_.getLong(2)).sum == rt, s"$lang row margin")
      assert(rs.forall(_.getLong(3) == rt))
    }
    for (r <- rows if r.getString(0) == r.getString(1)) {
      val p = math.floor(r.getLong(2).toDouble / r.getLong(4) * 1e6 + 0.5) / 1e6
      val rc = math.floor(r.getLong(2).toDouble / r.getLong(3) * 1e6 + 0.5) / 1e6
      assert(r.getDouble(5) == p && r.getDouble(6) == rc)
    }
    // the heuristic is non-trivial on this corpus: some diagonal mass
    // AND some confusion
    assert(rows.exists(r => r.getString(0) == r.getString(1)))
    assert(rows.exists(r => r.getString(0) != r.getString(1)))
  }
}

/** B122 changepoint_value — a planted step function must be split at
  * exactly the step day with the exact segment means, and the corpus
  * result must equal a sequential SSE sweep.
  */
class ChangepointSpec extends SparkTestBase {
  import spark.implicits._

  test("planted step is found exactly with exact means") {
    val dir = java.nio.file.Files.createTempDirectory("cp").toString
    // days 0-9 value 10.00, days 10-19 value 50.00 — step at day 9/10
    val rows = (0L to 19L).map { d =>
      (d, 5L, "view", if (d < 10) 10.0 else 50.0,
        new java.sql.Timestamp(d * 86400000L))
    }
    rows.toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("changepoint_value")(spark, dir)
      .select($"split_day", $"n_before", $"n_after", $"mean_before",
        $"mean_after")
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(r == (9L, 10L, 10L, 10.0, 50.0), s"got $r")
  }

  test("corpus split equals a sequential SSE sweep per type") {
    val d = GraftSession.table(spark, sfDir, "events")
      .select($"event_type", expr("ts div 1000000000 div 86400").as("day"),
        floor($"value" * 100).cast("long").as("cents"))
      .as[(String, Long, Long)].collect()
    val got = SparkEntry.queries("changepoint_value")(spark, sfDir)
      .select($"event_type", $"split_day").as[(String, Long)].collect()
      .toMap
    for ((et, rows) <- d.groupBy(_._1)) {
      val byDay = rows.groupBy(_._2).view
        .mapValues(r => (r.length.toLong, r.map(_._3).sum))
        .toSeq.sortBy(_._1)
      val n = byDay.map(_._2._1).sum
      val s = byDay.map(_._2._2).sum
      var nl = 0L; var sl = 0L
      var bestScore = Double.NegativeInfinity; var bestDay = Long.MaxValue
      for ((day, (c, sc)) <- byDay if nl + c < n) {
        nl += c; sl += sc
        val score = (sl.toDouble * sl.toDouble * (n - nl)
          + (s - sl).toDouble * (s - sl).toDouble * nl) /
          (nl.toDouble * (n - nl))
        if (score > bestScore) { bestScore = score; bestDay = day }
      }
      assert(got(et) == bestDay, s"$et: ${got(et)} != $bestDay")
    }
  }
}
