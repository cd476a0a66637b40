package graft

import org.apache.spark.sql.functions._

/** Round-12 wave specs — hand-computed planted cases for the BH-FDR
  * family, the Durbin-Levinson PACF, the dedup cluster profile, and
  * the streaming chi-square monitor.
  */

/** B137 bh_fdr_ks — a disjoint-range segment must reach D = 1 and be
  * rejected; segments matching the bulk must survive the BH cut.
  */
class BhFdrSpec extends SparkTestBase {
  import spark.implicits._

  private def plant(): String = {
    val dir = java.nio.file.Files.createTempDirectory("bhfdr").toString
    // A: 10 orders far above everyone (disjoint range → D = 1);
    // B..E: 100 orders each, IDENTICAL value multisets (1..100 dollars)
    val rows =
      (1 to 10).map(i => ("A", 10000.0 + i)) ++
      (for (seg <- Seq("B", "C", "D", "E"); i <- 1 to 100)
        yield (seg, i.toDouble))
    val custs = Seq("A", "B", "C", "D", "E").zipWithIndex
      .map { case (seg, i) => (i.toLong, seg) }
    rows.zipWithIndex
      .map { case ((seg, v), i) =>
        (i.toLong, Seq("A", "B", "C", "D", "E").indexOf(seg).toLong, v)
      }
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    custs.toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    dir
  }

  test("disjoint segment: D = 1, p ~ 0, rejected at rank 1; bulk survives") {
    val out = SparkEntry.queries("bh_fdr_ks")(spark, plant())
      .collect().map(r => r.getAs[String]("segment") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n_in") == 10L)
    assert(a.getAs[Long]("n_rest") == 400L)
    assert(a.getAs[Double]("ks_d") == 1.0)
    assert(a.getAs[Double]("p_value") < 0.001)
    assert(a.getAs[Long]("bh_rank") == 1L)
    assert(a.getAs[Int]("rejected") == 1)
    Seq("B", "C", "D", "E").foreach { s =>
      assert(out(s).getAs[Double]("p_value") > 0.5, s)
      assert(out(s).getAs[Int]("rejected") == 0, s)
    }
  }

  test("corpus family: 5 tests, ranks a permutation, rejections a prefix") {
    val rows = SparkEntry.queries("bh_fdr_ks")(spark, sfDir).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("bh_rank")).sorted.sameElements(1L to 5L))
    rows.foreach { r =>
      val p = r.getAs[Double]("p_value")
      assert(p >= 0.0 && p <= 1.0)
    }
    val byRank = rows.sortBy(_.getAs[Long]("bh_rank"))
      .map(_.getAs[Int]("rejected"))
    // BH step-up rejections form a prefix of the p-ascending ranks
    assert(byRank.sameElements(byRank.sorted.reverse))
  }
}

/** B138 timeseries_pacf — the alternating series' Durbin-Levinson
  * steps hand-solve exactly: pacf(1) = ρ1 = −7/8, pacf(2) = −1/15.
  */
class PacfSpec extends SparkTestBase {
  import spark.implicits._

  test("alternating 8-day series: pacf(1) = -0.875, pacf(2) = -1/15") {
    val dir = java.nio.file.Files.createTempDirectory("pacf").toString
    val rows = (0 until 8).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate
        .of(2024, 1, 1).plusDays(i.toLong)),
        if (i % 2 == 0) 20.0 else 10.0)
    }
    rows.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("timeseries_pacf")(spark, dir)
      .collect().map(r => r.getAs[Long]("lag") -> r).toMap
    assert(out.size == 7)
    assert(out(1L).getAs[Double]("acf") == -0.875)
    assert(out(1L).getAs[Double]("pacf") == -0.875)
    assert(out(2L).getAs[Double]("acf") == 0.75)
    // φ22 = (0.75 − (−7/8)(−7/8)) / (1 − (−7/8)(−7/8)) = −1/15
    assert(math.abs(out(2L).getAs[Double]("pacf") + 1.0 / 15) < 1e-6)
  }

  test("corpus: pacf(1) equals acf(1); all 7 lags defined") {
    val out = SparkEntry.queries("timeseries_pacf")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("lag") -> r).toMap
    assert(out.size == 7)
    assert(out(1L).getAs[Double]("pacf") == out(1L).getAs[Double]("acf"))
    (1L to 7L).foreach(l => assert(!out(l).isNullAt(out(l).fieldIndex("pacf"))))
  }
}

/** C117 dedup_cluster_profile — a planted 3-clone + 2-clone corpus
  * lands exactly on its histogram and dup mass.
  */
class ClusterProfileSpec extends SparkTestBase {
  import spark.implicits._

  test("3+2 clones among 10 docs: hist rows exact, dup_pct = 0.3") {
    val dir = java.nio.file.Files.createTempDirectory("cprof").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma delta"),
      (4L, "epsilon zeta eta theta"),
      (5L, "epsilon zeta eta theta"),
      (6L, "one two three four five"),
      (7L, "six seven eight nine ten"),
      (8L, "red green blue yellow pink"),
      (9L, "north south east west center"),
      (10L, "cold warm hot mild freezing"))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dedup_cluster_profile")(spark, dir)
      .collect().map(r => r.getAs[Long]("cluster_size") -> r).toMap
    assert(rows.size == 3)
    assert(rows(3L).getAs[Long]("n_clusters") == 1L)
    assert(rows(3L).getAs[Long]("n_docs") == 3L)
    assert(rows(2L).getAs[Long]("n_clusters") == 1L)
    assert(rows(1L).getAs[Long]("n_clusters") == 5L)
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_corpus") == 10L)
      assert(r.getAs[Long]("dup_docs") == 3L)
      assert(r.getAs[Double]("dup_pct") == 0.3)
    }
  }

  test("corpus: histogram masses re-add to the corpus; dup mass consistent") {
    val rows = SparkEntry.queries("dedup_cluster_profile")(spark, sfDir)
      .collect()
    val nCorpus = rows.head.getAs[Long]("n_corpus")
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nCorpus)
    val dup = rows.filter(_.getAs[Long]("cluster_size") >= 2)
      .map(r => r.getAs[Long]("n_docs") - r.getAs[Long]("n_clusters")).sum
    assert(rows.head.getAs[Long]("dup_docs") == dup)
  }
}

/** D46 streaming_chisq — a planted product-structure grid lands on
  * χ² = 0 exactly; the corpus grid is populated and positive.
  */
class StreamingChisqSpec extends SparkTestBase {
  import spark.implicits._

  test("exact independence: observed == expected, chi2 = 0") {
    val dir = java.nio.file.Files.createTempDirectory("schisq").toString
    val t0 = 19723L * 86400
    // A: 10×band0 + 20×band1; B: 20×band0 + 40×band1 → margins
    // multiply out exactly: expected == observed in every cell
    val rows =
      (1 to 10).map(i => ("A", 10.0)) ++ (1 to 20).map(i => ("A", 20.0)) ++
      (1 to 20).map(i => ("B", 10.0)) ++ (1 to 40).map(i => ("B", 20.0))
    rows.zipWithIndex.map { case ((ty, v), i) =>
      (i.toLong, (t0 + i) * 1000000000L, 1L, ty, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("streaming_chisq")(spark, dir).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getAs[Double]("chi2_total") == 0.0)
      assert(r.getAs[Double]("expected")
        == r.getAs[Long]("observed").toDouble)
    }
  }

  test("corpus: full type×band grid, chi2 defined and non-negative") {
    val out = SparkEntry.queries("streaming_chisq")(spark, sfDir).collect()
    assert(out.length >= 15)
    assert(out.forall(_.getAs[Double]("chi2_total") >= 0.0))
    assert(out.map(_.getAs[Int]("band")).distinct.sorted
      .sameElements(Seq(0, 1, 2, 3)))
  }
}
