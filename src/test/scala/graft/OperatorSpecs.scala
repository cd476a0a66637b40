package graft

import graft.functions.{Fingerprint64, GeoFunctions, TextFunctions, VectorExpressions}
import graft.operators._
import org.apache.spark.sql.functions._

/** PageRank exact-integer iterations (SURVEY §2 B52). */
class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  // Bidirectional star: hub 0 ↔ spokes 1, 2, 3. N = 4, teleport =
  // 150000 div 4 = 37500, init = 250000.
  // Round 1: spoke = 37500 + 85·(250000 div 3) div 100 = 108333;
  //          hub   = 37500 + 85·(3·250000)   div 100 = 675000.
  // Round 2: spoke = 37500 + 85·(675000 div 3) div 100 = 228750;
  //          hub   = 37500 + 85·(3·108333)    div 100 = 313749.
  private val starEdges =
    Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L), (3L, 0L))

  test("hand-computed exact micro-unit ranks on a star graph") {
    for (parts <- Seq(1, 7)) {
      val edges = starEdges.toDF("src", "dst").repartition(parts)
      val got = PageRank.run(edges, "src", "dst", iterations = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 313749L, 1L -> 228750L, 2L -> 228750L, 3L -> 228750L))
    }
  }
}

/** Haversine (SURVEY §2 A7). */
class GeoSpec extends SparkTestBase {
  import spark.implicits._

  test("haversine matches known city distance") {
    // Paris (48.8566, 2.3522) ↔ London (51.5074, -0.1278) ≈ 343.5 km
    val d = Seq((48.8566, 2.3522, 51.5074, -0.1278)).toDF("a", "b", "c", "d")
      .select(GeoFunctions.haversineKm(col("a"), col("b"), col("c"), col("d")).as("km"))
      .head().getDouble(0)
    assert(math.abs(d - 343.5) < 1.0, s"got $d")
  }

  test("haversine zero for identical points") {
    val d = Seq((10.0, 20.0)).toDF("lat", "lon")
      .select(GeoFunctions.haversineKm(col("lat"), col("lon"), col("lat"), col("lon")).as("km"))
      .head().getDouble(0)
    assert(d == 0.0)
  }
}

/** Inactivity sessionization (SURVEY §2 A5). */
class SessionizeSpec extends SparkTestBase {
  import spark.implicits._

  test("session boundaries at the gap") {
    val df = Seq(
      (1L, 100L, 1L), (1L, 200L, 2L), (1L, 2300L, 3L), // gap 2100 > 1800 → new session
      (2L, 100L, 4L)).toDF("user_id", "tsec", "event_id")
    val out = Sessionize.withSessionId(df, col("user_id"), col("tsec"), 1800L,
        Seq(col("tsec"), col("event_id")))
      .select("user_id", "event_id", "session_seq")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L)))
  }
}

/** Sessionize evaluates `lag(tsec)` once per row. */
class SessionizePlanSpec extends SparkTestBase
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._
  import org.apache.spark.sql.catalyst.expressions.{Lag, WindowExpression}
  import org.apache.spark.sql.execution.window.WindowExec

  test("the executed plan computes lag(tsec) in one window function") {
    val df = spark.sparkContext.parallelize(Seq((1L, 100L, 1L), (1L, 200L, 2L), (2L, 50L, 3L)), 2)
      .toDF("user_id", "tsec", "event_id")
    val out = Sessionize.withSessionId(df, col("user_id"), col("tsec"), 1800L,
      Seq(col("tsec"), col("event_id")))
    assert(out.columns.toSeq == Seq("user_id", "tsec", "event_id", "session_seq"))
    out.collect()
    val windows = collect(out.queryExecution.executedPlan) { case w: WindowExec => w }
    val lags = windows.flatMap(_.windowExpression.flatMap(_.collect {
      case WindowExpression(l: Lag, _) => l
    }))
    assert(lags.length == 1, s"${lags.length} lag window functions:\n${out.queryExecution.executedPlan}")
    assert(windows.length == 2, out.queryExecution.executedPlan.toString)
  }
}

/** Trip aggregation semantics vs the reference definition (A6-A8). */
class TripAggregatorSpec extends SparkTestBase {
  import spark.implicits._

  test("stopped time counts only runs of consecutive low-speed readings") {
    // speeds: 1, 2 (low run: 10s), 50, 1 (no pair), 2, 3 (low run: 10s)
    val rows = Seq(
      (1L, 0L, 0.0, 0.0, 1.0), (1L, 10L, 0.0, 0.0, 2.0),
      (1L, 20L, 0.0, 0.0, 50.0), (1L, 30L, 0.0, 0.0, 1.0),
      (1L, 40L, 0.0, 0.0, 2.0), (1L, 50L, 0.0, 0.0, 3.0)
    ).toDF("user_id", "tsec", "lat", "lon", "speed")
    val out = TripAggregator.aggregate(rows, col("user_id"), col("tsec"),
        col("lat"), col("lon"), col("speed"), 5.0,
        Seq(col("tsec"))).head()
    assert(out.getAs[Long]("total_s") == 50L)
    assert(out.getAs[Long]("stopped_s") == 30L) // 0→10 plus 30→40→50
    assert(out.getAs[Long]("moving_s") == 20L)
  }

  test("distance sums consecutive haversine legs") {
    // 1 degree of latitude ≈ 111.19 km; two legs → ≈ 222.4 km
    val rows = Seq(
      (1L, 0L, 0.0, 0.0, 10.0), (1L, 10L, 1.0, 0.0, 10.0), (1L, 20L, 2.0, 0.0, 10.0)
    ).toDF("user_id", "tsec", "lat", "lon", "speed")
    val out = TripAggregator.aggregate(rows, col("user_id"), col("tsec"),
      col("lat"), col("lon"), col("speed"), 5.0, Seq(col("tsec"))).head()
    assert(math.abs(out.getAs[Double]("distance_km") - 222.39) < 0.1)
  }
}

/** The sorted-run trip fold against the lag-window + groupBy spelling
  * it replaced, and its plan.
  */
class TripFoldSpec extends SparkTestBase
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._
  import org.apache.spark.sql.{Column, DataFrame, Row}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.execution.{SortExec, SparkPlan}
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.execution.window.WindowExec

  /** TripAggregator.aggregate as it was: lag windows, then groupBy. */
  private def windowSpelling(df: DataFrame, key: Column, tsec: Column, lat: Column,
      lon: Column, speedKmh: Column, lowSpeedThreshold: Double, orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    val prevTs = lag(tsec, 1).over(w)
    val prevLat = lag(lat, 1).over(w)
    val prevLon = lag(lon, 1).over(w)
    val prevSpeed = lag(speedKmh, 1).over(w)
    val legKm = when(prevLat.isNotNull,
      GeoFunctions.haversineKm(prevLat, prevLon, lat, lon)).otherwise(lit(0.0))
    val stoppedDelta = when(
      prevSpeed.isNotNull && speedKmh < lowSpeedThreshold && prevSpeed < lowSpeedThreshold,
      tsec - prevTs).otherwise(lit(0L))
    df.withColumn("leg_km", legKm)
      .withColumn("stopped_delta_s", stoppedDelta)
      .groupBy(key.as("trip_key"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(tsec) - min(tsec)).as("total_s"),
        sum(col("stopped_delta_s")).as("stopped_s"),
        sum(col("leg_km")).as("distance_km"))
      .withColumn("moving_s", col("total_s") - col("stopped_s"))
  }

  private type In = (Option[Long], Option[Long], Long, Option[Double], Option[Double], Option[Double])

  /** Random trips: nulls in every input column (the key too), tsec
    * drawn from a narrow range so the first order column ties often
    * (`seq` breaks the ties), speeds around the threshold.
    */
  private def trips(seed: Long, n: Int): Seq[In] = {
    val r = new scala.util.Random(seed)
    def maybe[T](p: Double)(v: => T): Option[T] = if (r.nextDouble() < p) None else Some(v)
    (0 until n).map { i =>
      (maybe(0.02)(r.nextInt(12).toLong), maybe(0.08)(r.nextInt(40).toLong), i.toLong,
        maybe(0.15)(50 + r.nextDouble()), maybe(0.1)(4 + r.nextDouble()),
        maybe(0.1)(r.nextInt(12) * 0.75))
    }
  }

  private def input(seed: Long, n: Int): DataFrame =
    spark.sparkContext.parallelize(trips(seed, n), 3).toDF("k", "tsec", "seq", "lat", "lon", "speed")

  private def run(f: (DataFrame, Column, Column, Column, Column, Column, Double, Seq[Column]) => DataFrame,
      df: DataFrame): Map[Option[Long], Row] =
    f(df, col("k"), col("tsec"), col("lat"), col("lon"), col("speed"), 5.0, Seq(col("tsec"), col("seq")))
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r).toMap

  test("the fold equals the window spelling on random trips, distances bit-identical") {
    for (seed <- 1L to 4L) {
      val df = input(seed, 600)
      val got = run(TripAggregator.aggregate(_, _, _, _, _, _, _, _), df)
      val want = run(windowSpelling _, df)
      assert(got.keySet == want.keySet && got.size >= 12, s"seed $seed: ${got.keySet} vs ${want.keySet}")
      for ((k, w) <- want) {
        val g = got(k)
        assert(g.toSeq.dropRight(2) == w.toSeq.dropRight(2) && g.get(5) == w.get(5),
          s"seed $seed key $k:\n got $g\nwant $w")
        assert(java.lang.Double.doubleToRawLongBits(g.getDouble(4)) ==
          java.lang.Double.doubleToRawLongBits(w.getDouble(4)), s"seed $seed key $k: $g vs $w")
      }
    }
  }

  test("output columns and types are the window spelling's") {
    val df = input(9L, 50)
    val got = TripAggregator.aggregate(df, col("k"), col("tsec"), col("lat"), col("lon"),
      col("speed"), 5.0, Seq(col("tsec"), col("seq")))
    val want = windowSpelling(df, col("k"), col("tsec"), col("lat"), col("lon"),
      col("speed"), 5.0, Seq(col("tsec"), col("seq")))
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
  }

  test("a key whose tsec are all null has null total and moving time") {
    val df = Seq((1L, Option.empty[Long], 0L, 1.0, 1.0, 1.0), (1L, None, 1L, 1.0, 2.0, 1.0))
      .toDF("k", "tsec", "seq", "lat", "lon", "speed")
    val r = TripAggregator.aggregate(df, col("k"), col("tsec"), col("lat"), col("lon"),
      col("speed"), 5.0, Seq(col("tsec"), col("seq"))).head()
    assert(r.getLong(1) == 2L && r.isNullAt(2) && r.getLong(3) == 0L && r.isNullAt(5))
    assert(r.getDouble(4) == GeoFunctions.haversineKm(1.0, 1.0, 1.0, 2.0))
  }

  private def nodes(p: SparkPlan)(f: PartialFunction[SparkPlan, Unit]): Int =
    collect(p) { case n if f.isDefinedAt(n) => n }.length

  test("plan: one exchange and one sort, no window and no hash aggregate") {
    val out = TripAggregator.aggregate(input(3L, 200), col("k"), col("tsec"), col("lat"),
      col("lon"), col("speed"), 5.0, Seq(col("tsec"), col("seq")))
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(nodes(plan) { case _: ShuffleExchangeExec => } == 1, plan.toString)
    assert(nodes(plan) { case _: SortExec => } == 1, plan.toString)
    assert(nodes(plan) { case _: WindowExec => } == 0, plan.toString)
    assert(nodes(plan) { case _: BaseAggregateExec => } == 0, plan.toString)
  }

  test("plan: the sessionized trip path keeps two exchanges and two windows") {
    val events = input(5L, 300).withColumn("ts", timestamp_seconds(col("tsec")))
    val sessions = Sessionize.withSessionId(events, col("k"), col("tsec"), 10L, Seq(col("ts")))
    val gps = sessions.filter(col("lat").isNotNull)
      .withColumn("trip_key", col("k") * 100 + col("session_seq"))
    val out = TripAggregator.aggregate(gps, col("trip_key"), col("tsec"), col("lat"),
      col("lon"), col("speed"), 5.0, Seq(col("ts")))
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(nodes(plan) { case _: ShuffleExchangeExec => } == 2, plan.toString)
    assert(nodes(plan) { case _: WindowExec => } == 2, plan.toString)
    assert(nodes(plan) { case _: BaseAggregateExec => } == 0, plan.toString)
  }
}

/** Text analysis (C9-C12). */
class TextSpec extends SparkTestBase {
  import spark.implicits._

  test("langId detects stopword-marked languages and CJK") {
    val df = Seq(
      "the cat is on the mat and it is fine",
      "el gato es de la casa y que bien",
      "der hund ist nicht das problem und gut",
      "le chat et les maisons des amis est la",
      "中文文本在这里",
      "xyzzy qwerty").toDF("text")
    val got = df.select(TextFunctions.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "de", "fr", "zh", "und"))
  }

  test("token counts and quality are deterministic") {
    val df = Seq("The quick  brown fox, it is a dog.").toDF("text")
    val row = df.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.subwordCount(col("text")).as("sw"),
      round(TextFunctions.avgTokenLen(col("text")), 4).as("atl"),
      TextFunctions.stopwordHits(col("text"), TextFunctions.EnStop).as("hits"),
      round(TextFunctions.qualityScore(col("text")), 4).as("q")).head()
    assert(row.getAs[Int]("n") == 8)        // whitespace collapsed
    assert(row.getAs[Int]("sw") == 10)      // 8 words + comma + period
    assert(row.getAs[Int]("hits") == 4)     // the, it, is, a
    assert(row.getAs[Double]("q") > 0.0 && row.getAs[Double]("q") <= 1.0)
  }

  test("fingerprint64 is the rolling 31-hash of utf8 bytes") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + b)
    val texts = Seq("hello world", "", "München 1€")
    val got = texts.toDF("t")
      .select(Fingerprint64.fingerprint64(col("t"))).as[Long].collect().toSeq
    assert(got == texts.map(ref))
  }

  test("fingerprint64 registers as a SQL function") {
    Fingerprint64.register(spark)
    val r = spark.sql("SELECT fingerprint64('abc') AS f").head().getLong(0)
    assert(r == ("abc".getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + b)))
  }
}

/** Dedup family (C1-C5). */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
  private val nearDup = base.replace("delta", "DELTA") // small edit
  private val unrelated = "one two three four five six seven eight nine ten " * 3

  test("minhash LSH finds the planted near-dup pair and only it") {
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash jaccard equals exact shingle jaccard") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d x")).toDF("doc_id", "text")
    // word trigrams: doc1 {abc,bcd,cde}, doc2 {abc,bcd,cdx} → J = 2/4
    val j = MinHashLSH.nearDupPairs(docs, "doc_id", "text", 0.1)
      .select("jaccard").as[Double].head()
    assert(j == 0.5)
  }

  test("simhash near-dup pairs at small hamming distance") {
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = SimHash.nearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && !pairs.exists(p => p._2 == 3L))
  }

  test("embedding cosine near-dup finds parallel vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = VectorOps.nearDupPairs(vecs, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }
}

/** ANN (C6-C7). */
class AnnSpec extends SparkTestBase {
  import spark.implicits._

  test("brute-force top-k ranks by cosine") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.4359f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = VectorOps.bruteForceTopK(corpus, corpus.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .select("id", "rnk").as[(Long, Int)].collect().toMap
    assert(out == Map(2L -> 1, 3L -> 2))
  }

  test("lsh bucketing is deterministic and self-consistent") {
    val vecs = GraftSession.table(spark, sfDir, "embeddings")
    val a = VectorOps.withLshBucket(vecs.select($"vec_id", $"embedding".cast("array<double>").as("v")), "v")
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val b = VectorOps.withLshBucket(vecs.select($"vec_id", $"embedding".cast("array<double>").as("v")), "v")
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(a == b && a.values.toSet.size > 1)
  }
}

/** Multimodal plumbing (C8). */
class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("binary media pipeline: schema, determinism, batch shape") {
    val docs = Seq((7L, "some payload text")).toDF("doc_id", "text")
    val out = Multimodal.extractFeatures(spark,
      Multimodal.asMedia(docs, "text").select($"doc_id", $"media", $"media_meta"), "doc_id")
    assert(out.schema.fieldNames.toSeq == Seq("id", "n_bytes", "format", "features"))
    val row = out.head()
    assert(row.getAs[Long]("id") == 7L)
    assert(row.getAs[Int]("n_bytes") == 17)
    val feats = row.getAs[scala.collection.Seq[Double]]("features")
    assert(feats.length == 8)
    // deterministic fallback kernel: same input → same features
    assert(feats.toList ==
      Multimodal.decodeStub("some payload text".getBytes("UTF-8")).toList)
  }

  test("real PNG payloads decode to exact pixel statistics") {
    // 4×2 PNG: left half pure red, right half pure white — lossless,
    // so the batched decode path must reproduce the exact channel
    // means, luminance stats, and dimensions.
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0xff0000 else 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    assert(Multimodal.looksLikeImage(png))

    val df = Seq((9L, png)).toDF("doc_id", "media")
      .withColumn("media_meta", org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit("image/png").as("format"),
        org.apache.spark.sql.functions.lit(4).as("width"),
        org.apache.spark.sql.functions.lit(2).as("height")))
    val row = Multimodal.extractFeatures(spark, df, "doc_id").head()
    assert(row.getAs[Int]("n_bytes") == png.length)
    assert(row.getAs[String]("format") == "image/png")
    val f = row.getAs[scala.collection.Seq[Double]]("features")
    assert(f.length == 8)
    assert(f(0) == 255.0) // mean R: all pixels full red channel
    assert(f(1) == 127.5) // mean G: half 0, half 255
    assert(f(2) == 127.5) // mean B
    // mean luminance: 4×lum(red)=0.299·255, 4×lum(white)=255
    assert(math.abs(f(3) - (4 * 0.299 * 255 + 4 * 255.0) / 8) < 1e-9)
    assert(f(4) == 0.0) // no dark pixels
    assert(f(5) == 0.5) // white half is bright
    assert(f(6) == 4.0 && f(7) == 2.0) // dimensions
  }

  test("image-magic payload that fails to decode is loud, not skipped") {
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3)
    assert(Multimodal.looksLikeImage(corrupt))
    intercept[Exception] { Multimodal.decodeImageFeatures(corrupt) }
    // non-image bytes route to the deterministic fallback kernel
    val text = "plain bytes".getBytes("UTF-8")
    assert(!Multimodal.looksLikeImage(text))
    assert(Multimodal.decode(text).toList == Multimodal.decodeStub(text).toList)
  }
}

/** Custom expressions. */
class VectorExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("arrayDot matches a reference fold and participates in codegen") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(VectorExpressions.arrayDot(col("a"), col("b"))).as[Double].head()
    assert(got == 32.0)
  }

  test("minhash sigs: shared elements imply shared signature minima") {
    val df = Seq(
      (Array(1L, 2L, 3L, 4L), Array(1L, 2L, 3L, 4L))).toDF("x", "y")
    val r = df.select(
      VectorExpressions.minHashSigs(col("x"), 16).as("sx"),
      VectorExpressions.minHashSigs(col("y"), 16).as("sy"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(r._1 == r._2 && r._1.length == 16)
  }

  test("token pairs: adjacent bigram structs, empty below two tokens") {
    val df = Seq((Seq("a", "b", "c"), Seq("x"))).toDF("x", "y")
    val r = df.select(
      VectorExpressions.tokenPairs(col("x")).as("px"),
      VectorExpressions.tokenPairs(col("y")).as("py"))
      .as[(Seq[(String, String)], Seq[(String, String)])].head()
    assert(r._1 == Seq(("a", "b"), ("b", "c")))
    assert(r._2.isEmpty)
  }

  test("token repetition stats: exact counts in one pass") {
    val df = Seq(
      (Seq("a", "a", "b", "a"), Seq("x"))).toDF("x", "y")
    val r = df.select(
      VectorExpressions.tokenRepetitionStats(col("x")).as("sx"),
      VectorExpressions.tokenRepetitionStats(col("y")).as("sy"))
      .as[((Long, Long, Long, Long, Long), (Long, Long, Long, Long, Long))]
      .head()
    // "a a b a": 4 tokens, 2 distinct, top token a×3; bigrams
    // (a a)(a b)(b a) all distinct → top bigram 1
    assert(r._1 == ((4L, 2L, 3L, 3L, 1L)))
    assert(r._2 == ((1L, 1L, 1L, 0L, 0L)))
  }

  test("token ngram hashes: distinct windows, separator-safe") {
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("ab", "c", "d"))).toDF("x", "y")
    val r = df.select(
      VectorExpressions.tokenNgramHashes(col("x"), 3).as("hx"),
      VectorExpressions.tokenNgramHashes(col("y"), 3).as("hy"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(r._1.length == 2)            // abc, bcd
    assert(r._2.length == 1)
    assert(r._1.intersect(r._2).isEmpty) // "ab c d" ≠ "a b c"
  }
}

/** As-of join (B23). */
class AsOfJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("backward as-of picks latest right at or before left ts") {
    val left = Seq((1L, 5L), (1L, 10L), (1L, 20L), (2L, 5L))
      .toDF("k", "tsec")
    val right = Seq((1L, 5L, "a"), (1L, 15L, "b"), (2L, 50L, "z"))
      .toDF("k", "tsec", "v")
    val out = AsOfJoin.asofBackward(left, right, "k", "tsec", Seq("v"))
      .select("k", "tsec", "asof_v").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(out == Set(
      (1L, 5L, Some("a")),   // inclusive: equal ts matches
      (1L, 10L, Some("a")),
      (1L, 20L, Some("b")),
      (2L, 5L, None)))       // right row is in the future
  }

  test("forward as-of picks earliest right at or after left ts") {
    val left = Seq((1L, 5L), (1L, 10L), (1L, 20L), (2L, 60L))
      .toDF("k", "tsec")
    val right = Seq((1L, 5L, "a"), (1L, 15L, "b"), (2L, 50L, "z"))
      .toDF("k", "tsec", "v")
    val out = AsOfJoin.asofForward(left, right, "k", "tsec", Seq("v"))
      .select("k", "tsec", "asof_v").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(out == Set(
      (1L, 5L, Some("a")),   // inclusive: equal ts matches
      (1L, 10L, Some("b")),
      (1L, 20L, None),       // nothing later
      (2L, 60L, None)))      // right row is in the past
  }
}

/** Corpus scrubbing (C13). */
class ScrubSpec extends SparkTestBase {
  import spark.implicits._

  test("emails, urls, and long digit runs are redacted") {
    val scrub = (c: org.apache.spark.sql.Column) =>
      regexp_replace(regexp_replace(regexp_replace(c,
        "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
        "https?://[^ ]+", "<URL>"),
        "[0-9]{4,}", "<NUM>")
    val got = Seq(
      "contact me at jane.doe+spam@example.co.uk today",
      "see https://example.com/a?b=1 for details",
      "card 4111222233334444 expires 12/25")
      .toDF("text").select(scrub(col("text"))).as[String].collect().toSeq
    assert(got == Seq(
      "contact me at <EMAIL> today",
      "see <URL> for details",
      "card <NUM> expires 12/25"))
  }
}

/** Frame sampling + nested-column pruning. */
class MultimodalFramesSpec extends SparkTestBase {
  import spark.implicits._

  test("frame sampling explodes media into every-Nth-frame rows") {
    val docs = Seq((5L, "x" * 300)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(spark,
      Multimodal.asMedia(docs, "text").select($"doc_id", $"media"),
      "doc_id", frameBytes = 64, everyN = 2)
    val idx = frames.select("frame_idx").as[Int].collect().sorted.toSeq
    assert(idx == Seq(0, 2)) // 4 full frames in 300 bytes → every 2nd = 0, 2
    assert(frames.select("id").as[Long].collect().forall(_ == 5L))
  }

  test("nested struct columns prune at the parquet reader") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nested").toString
    val raw = Seq(
      """{"body":{"tripNumber":1,"timestamp":"2020-01-01T00:00:00Z","type":"TripData",
        |"pidData":{"VehicleSpeed":10,"EngineRpm":900,
        |"GpsReading":{"latitude":1.0,"longitude":2.0,"heading":3,
        |"horizontalDilutionOfPrecision":1,"numberOfSatellites":5,
        |"hemisphere":"NorthWest","fixQuality":"Standard"}}}}""".stripMargin.replace("\n", ""))
      .toDF("raw")
    raw.select(graft.model.TripModel.parse(col("raw")).as("msg"))
      .write.mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).select("msg.body.pidData.VehicleSpeed")
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && plan.contains("VehicleSpeed"))
    assert(!plan.contains("GpsReading"),
      s"scan did not prune unused nested fields:\n$plan")
  }
}

/** IVF ANN (C7b). */
class IvfSpec extends SparkTestBase {
  import spark.implicits._

  test("ivf with all cells probed equals brute force") {
    val vecs = GraftSession.table(spark, sfDir, "embeddings")
    val queries = vecs.filter($"vec_id" < 3)
    val centroids = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
    val ivf = VectorOps.ivfTopK(vecs, queries, centroids,
        "vec_id", "embedding", "cid", "cv", k = 5, nProbe = 4)
      .select("query_id", "id", "rnk").as[(Long, Long, Int)].collect().toSet
    val brute = VectorOps.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute) // probing every cell = exhaustive search
  }

  test("ivf with fewer probes searches a subset but stays deterministic") {
    val vecs = GraftSession.table(spark, sfDir, "embeddings")
    val queries = vecs.filter($"vec_id" < 3)
    val centroids = vecs.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
    def run() = VectorOps.ivfTopK(vecs, queries, centroids,
        "vec_id", "embedding", "cid", "cv", k = 5, nProbe = 2)
      .select("query_id", "id", "rnk").as[(Long, Long, Int)].collect().toSet
    val a = run(); val b = run()
    assert(a == b && a.nonEmpty)
  }
}

/** Distributed exact quantile (B20 scale path): bit-identical to the
  * built-in `percentile` agg without its single-reducer value buffer.
  */
class DistributedQuantileSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("matches builtin percentile on real data, multiple partitions") {
    val orders = GraftSession.table(spark, sfDir, "orders")
    val got = operators.DistributedQuantile
      .quantiles(orders, "o_orderpriority", "o_totalprice",
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99), rangePartitions = 7)
      .as[(String, Double, Double, Double)].collect()
      .map { case (g, a, b, c) => g -> ((a, b, c)) }.toMap
    val want = orders.groupBy($"o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5)"),
        expr("percentile(o_totalprice, 0.9)"),
        expr("percentile(o_totalprice, 0.99)"))
      .as[(String, Double, Double, Double)].collect()
      .map { case (g, a, b, c) => g -> ((a, b, c)) }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (g, (a, b, c)) =>
      val (wa, wb, wc) = want(g)
      assert(a == wa && b == wb && c == wc, s"group $g: ($a,$b,$c) != ($wa,$wb,$wc)")
    }
  }

  test("ties, single-element groups, and q=0/1 endpoints") {
    val df = Seq(
      ("a", 5.0), ("a", 5.0), ("a", 5.0), ("a", 9.0),
      ("b", 42.0),
      ("c", 1.0), ("c", 2.0)).toDF("g0", "v0").repartition(5)
    val got = operators.DistributedQuantile
      .quantiles(df, "g0", "v0", Seq("q0" -> 0.0, "q50" -> 0.5, "q1" -> 1.0),
        rangePartitions = 3)
      .as[(String, Double, Double, Double)].collect()
      .map { case (g, a, b, c) => g -> ((a, b, c)) }.toMap
    assert(got("a") == ((5.0, 5.0, 9.0)))
    assert(got("b") == ((42.0, 42.0, 42.0)))
    assert(got("c") == ((1.0, 1.5, 2.0)))
  }

  test("group cardinality guard routes scale users to sketches") {
    val df = (1 to 50).map(i => (s"g$i", i.toDouble)).toDF("g0", "v0")
    intercept[IllegalArgumentException] {
      operators.DistributedQuantile.quantiles(df, "g0", "v0",
        Seq("p50" -> 0.5), maxGroups = 10)
    }
  }
}

/** cutValues (round 13): exact bracket-rank cut values for
  * quantile-threshold comparisons — the de-fuse of the cross-engine
  * interpolation-tree ulp hazard (a `v > quantile_cont(q)` cut is
  * `v > value_at_rank((k·(n−1)) div m)`, a pure selection).
  */
class CutValuesSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("planted: rank values, remainders, and ceil ranks by hand") {
    // sorted values: 10, 20, 30, 40, 50 → n = 5
    val df = Seq(30.0, 10.0, 50.0, 20.0, 40.0)
      .map(("all", _)).toDF("g0", "v0").repartition(3)
    val got = operators.DistributedQuantile
      .cutValues(df, "g0", "v0",
        Seq(("q1", 1, 4), ("q2", 2, 4), ("q3", 3, 4), ("p99", 99, 100)),
        ceilNames = Set("p99"))
      .collect().head
    // q1: 1·4/4 = rank 1 → 20, rem 0; q2: rank 2 → 30, rem 0;
    // q3: rank 3 → 40, rem 0; p99 ceil((99·4)/100) = ceil(3.96) =
    // rank 4 → 50, rem 99·4 mod 100 = 96
    assert(got.getAs[Double]("q1") == 20.0 && got.getAs[Long]("q1_rem") == 0L)
    assert(got.getAs[Double]("q2") == 30.0 && got.getAs[Long]("q2_rem") == 0L)
    assert(got.getAs[Double]("q3") == 40.0 && got.getAs[Long]("q3_rem") == 0L)
    assert(got.getAs[Double]("p99") == 50.0 && got.getAs[Long]("p99_rem") == 96L)
    // n = 6: quartile ranks interpolate — q1 pos = 5/4 → rank 1, rem 1
    val df6 = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0)
      .map(("all", _)).toDF("g0", "v0").repartition(4)
    val got6 = operators.DistributedQuantile
      .cutValues(df6, "g0", "v0", Seq(("q1", 1, 4), ("q3", 3, 4)))
      .collect().head
    assert(got6.getAs[Double]("q1") == 20.0 && got6.getAs[Long]("q1_rem") == 1L)
    // q3 pos = 15/4 = 3.75 → rank 3 → 40, rem 3
    assert(got6.getAs[Double]("q3") == 40.0 && got6.getAs[Long]("q3_rem") == 3L)
  }

  test("cut equivalence: v > interpolated breakpoint == v > rank-lo value") {
    // the load-bearing identity behind every quartile/decile cut
    // query: on the SAME column, strict-> comparisons against the
    // interpolated quantile and against the bracket-lo rank value
    // select identical row sets
    val orders = GraftSession.table(spark, sfDir, "orders")
      .select($"o_totalprice".cast("double").as("v"))
    val interp = operators.DistributedQuantile
      .quantiles(orders.withColumn("_g", lit("all")), "_g", "v",
        (1 to 9).map(k => s"b$k" -> k / 10.0)).drop("g")
    val cuts = operators.DistributedQuantile
      .cutValues(orders.withColumn("_g", lit("all")), "_g", "v",
        (1 to 9).map(k => (s"c$k", k, 10))).drop("g")
    val counts = orders.crossJoin(broadcast(interp)).crossJoin(broadcast(cuts))
      .select((1 to 9).flatMap(k => Seq(
        sum(($"v" > col(s"b$k")).cast("long")).as(s"nb$k"),
        sum(($"v" > col(s"c$k")).cast("long")).as(s"nc$k"))): _*)
      .collect().head
    (1 to 9).foreach { k =>
      assert(counts.getAs[Long](s"nb$k") == counts.getAs[Long](s"nc$k"),
        s"decile $k: interpolated-cut and rank-cut select different sets")
    }
  }
}

/** Distributed running total (C16 scale path): identical to a
  * per-group ordered window without its single-reducer serialization.
  */
class DistributedPrefixSumSpec extends SparkTestBase {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("matches the window running sum on real data across partitions") {
    val d = GraftSession.table(spark, sfDir, "documents")
      .select($"doc_id", $"lang", length($"text").cast("long").as("v"))
    val got = operators.DistributedPrefixSum
      .running(d, "lang", Seq("doc_id"), "v", "cum", rangePartitions = 7)
      .select($"doc_id", $"cum").as[(Long, Long)].collect().toMap
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = d.withColumn("cum", sum($"v").over(w))
      .select($"doc_id", $"cum").as[(Long, Long)].collect().toMap
    assert(got.size == want.size && got == want)
  }

  test("single-group input exercises the cross-partition offsets") {
    val d = (1L to 1000L).map(i => (i, "g", i % 7)).toDF("id", "g", "v")
    val got = operators.DistributedPrefixSum
      .running(d, "g", Seq("id"), "v", "cum", rangePartitions = 5)
      .select($"id", $"cum").as[(Long, Long)].collect().toMap
    var acc = 0L
    (1L to 1000L).foreach { i =>
      acc += i % 7
      assert(got(i) == acc, s"row $i: ${got(i)} != $acc")
    }
  }

  test("group cardinality guard") {
    val d = (1 to 50).map(i => (i.toLong, s"g$i", 1L)).toDF("id", "g", "v")
    intercept[IllegalArgumentException] {
      operators.DistributedPrefixSum.running(d, "g", Seq("id"), "v", "cum",
        maxGroups = 10)
    }
  }
}

/** Cross-query consistency of the round-5 additions: semantic dedup's
  * drop set must be a subset of the corpus-wide cosine pair set (the
  * cluster blocking can only REMOVE candidate pairs, never invent
  * them), and span-level dedup must flag planted 16-token overlaps.
  */
class SemanticSpanDedupSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("semantic_dedup drops only ids that have a corpus-wide cosine pair") {
    val sem = SparkEntry.queries("semantic_dedup")(spark, sfDir)
      .select($"cluster", $"n_members", $"n_kept").as[(Long, Long, Long)]
      .collect()
    assert(sem.nonEmpty)
    // members partition into kept + dropped; every cluster keeps its
    // lowest id so n_kept >= 1
    sem.foreach { case (_, m, k) => assert(k >= 1 && k <= m) }
    val dropped = sem.map { case (_, m, k) => m - k }.sum
    // the corpus-wide pair set (same threshold) bounds the in-cluster
    // drop count: blocking can only lose pairs
    val corpusPairs = SparkEntry.queries("dedup_embed_cosine")(spark, sfDir)
      .select($"id_b").distinct().count()
    assert(dropped <= corpusPairs,
      s"semantic dedup dropped $dropped > $corpusPairs corpus-wide dup ids")
  }

  test("span dedup flags a planted shared 16-token span") {
    val span = (1 to 16).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"$span unique tail one two three"),
      (2L, s"other head words $span"),
      (3L, "no shared span here at all " + (1 to 12).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("span_docs")
    val grams = docs.select($"doc_id",
      explode(functions.VectorExpressions.tokenNgramHashes(
        split($"text", " "), 16)).as("g"))
    val counts = grams.groupBy($"g").agg(count(lit(1)).as("n"))
    val dup = grams.join(counts, Seq("g"))
      .groupBy($"doc_id")
      .agg(sum(when($"n" > 1, 1).otherwise(0)).as("n_dup"))
      .as[(Long, Long)].collect().toMap
    assert(dup(1L) == 1 && dup(2L) == 1, s"planted span not found: $dup")
    assert(dup(3L) == 0, s"false positive on doc 3: $dup")
  }
}

/** BPE-merge tokenizer training (C38): greedy left-to-right
  * non-overlapping merges, (count DESC, w1, w2) tie-break, and merged
  * tokens participating in later rounds.
  */
class BpeMergeSpec extends SparkTestBase {
  import spark.implicits._
  import graft.operators.BpeMerge

  test("learns cascading merges with deterministic tie-breaks") {
    // round 1: (a,a) occurs 3x in doc1 (greedy: [aa][aa] leaves only
    //          2 merge SITES but the PAIR COUNT pre-merge is 3+1=4)
    //          vs (a,b) 1x -> merge (a,a) n=4
    // round 2: doc1 = [a a, a a], doc2 = [a a, b]:
    //          ("a a","a a") 1x vs ("a a","b") 1x -> tie; w2 "a a" < "b"
    //          -> merge ("a a","a a") n=1
    // round 3: doc1 = [a a a a], doc2 = [a a, b] -> merge ("a a","b") n=1
    val docs = Seq((1L, Seq("a", "a", "a", "a")), (2L, Seq("a", "a", "b")))
      .toDF("doc_id", "toks")
    val (merges, finalDocs) = BpeMerge.train(docs, rounds = 3)
    assert(merges.map(m => (m.step, m.w1, m.w2, m.nPairs)) == Seq(
      (1, "a", "a", 4L), (2, "a a", "a a", 1L), (3, "a a", "b", 1L)),
      s"got $merges")
    val out = finalDocs.select($"doc_id", $"toks").as[(Long, Seq[String])]
      .collect().toMap
    assert(out(1L) == Seq("a a a a") && out(2L) == Seq("a a b"), s"got $out")
  }

  test("stops early when no adjacent pair remains") {
    val docs = Seq((1L, Seq("x")), (2L, Seq("y"))).toDF("doc_id", "toks")
    val (merges, _) = BpeMerge.train(docs, rounds = 3)
    assert(merges.isEmpty)
  }
}

/** Distributed PCA via power iteration (C39): on a corpus with one
  * planted high-variance direction, pc1 must align with it and the
  * projections must order points along it.
  */
class PowerIterationSpec extends SparkTestBase {
  import spark.implicits._
  import graft.operators.PowerIteration

  test("recovers a planted dominant direction") {
    // variance ~ t^2 along (1,0,0,...), small noise elsewhere
    val d = 8
    val rows = (0 until 200).map { t =>
      val v = Array.tabulate(d)(j =>
        if (j == 0) (t - 100).toDouble
        else math.sin(t * 7.0 + j) * 0.1)
      (t.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (pc, proj) = PowerIteration.pc1(df, "vec_id", "embedding", iterations = 5)
    assert(math.abs(pc(0)) > 0.999, s"pc1 not aligned: ${pc.toSeq}")
    assert(math.abs(math.sqrt(pc.map(x => x * x).sum) - 1.0) < 1e-5)
    // projections ordered by the planted coordinate (sign may flip)
    val scores = proj.as[(Long, Double)].collect().sortBy(_._1).map(_._2)
    val mono = scores.sliding(2).forall(p => p(1) >= p(0)) ||
      scores.sliding(2).forall(p => p(1) <= p(0))
    assert(mono, s"projections not monotone along planted axis")
  }

  test("deterministic across runs") {
    val vecs = GraftSession.table(spark, sfDir, "embeddings").limit(200)
    def run() = PowerIteration.pc1(vecs, "vec_id", "embedding")._1.toSeq
    assert(run() == run())
  }
}

/** Property test: BpeMerge.train vs an independent in-memory
  * reference (explicit greedy left-to-right merge over token lists)
  * on randomized small-alphabet corpora — the overlap-heavy regime
  * where greedy/count semantics are easiest to get subtly wrong.
  */
class BpeMergePropertySpec extends SparkTestBase {
  import spark.implicits._
  import graft.operators.BpeMerge

  private def refApply(toks: List[String], w1: String, w2: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == w1 && toks(i + 1) == w2) {
        out += s"$w1 $w2"; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toList
  }

  private def refTrain(docs: List[List[String]], rounds: Int)
      : (List[(Int, String, String, Long)], List[List[String]]) = {
    var cur = docs
    var merges = List.empty[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= rounds && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      cur.foreach(d => d.zip(d.drop(1)).foreach(p =>
        counts(p) = counts.getOrElse(p, 0L) + 1))
      if (counts.isEmpty) done = true
      else {
        val ((w1, w2), n) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        merges :+= ((step, w1, w2, n))
        cur = cur.map(refApply(_, w1, w2))
        step += 1
      }
    }
    (merges, cur)
  }

  test("agrees with the reference on 30 random overlap-heavy corpora") {
    val rng = new scala.util.Random(20260813L)
    for (trial <- 1 to 30) {
      val alphabet = Vector("a", "b", "c")
      val docs = List.tabulate(2 + rng.nextInt(5))(_ =>
        List.fill(rng.nextInt(9))(alphabet(rng.nextInt(alphabet.size))))
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("doc_id", "toks")
      val (gotMerges, gotDocs) = BpeMerge.train(df, rounds = 3)
      val (expMerges, expDocs) = refTrain(docs, rounds = 3)
      assert(gotMerges.map(m => (m.step, m.w1, m.w2, m.nPairs)) == expMerges,
        s"trial $trial merges differ for $docs")
      val gotByDoc = gotDocs.select($"doc_id", $"toks")
        .as[(Long, List[String])].collect().toMap
      docs.indices.foreach { i =>
        assert(gotByDoc(i.toLong) == expDocs(i),
          s"trial $trial doc $i: ${gotByDoc(i.toLong)} != ${expDocs(i)} for $docs")
      }
    }
  }
}

/** C45 line-level dedup + C46 quality-aware canonical selection, on
  * constructed corpora that exercise the edges the testdata may not:
  * a doc whose EVERY line is a duplicate (must survive with
  * n_kept = 0 and empty kept_text), partial overlap (reassembly in
  * line order), and a near-dup cluster whose best-quality member is
  * NOT the lowest id.
  */
class CorpusRewriteSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("line_dedup drops corpus-wide duplicate lines and reassembles") {
    def toks(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val lineA = toks("a", 10)     // doc 0 line 0
    val lineB = toks("b", 10)     // doc 0 line 1
    val lineC = toks("c", 10)
    val tail5 = toks("d", 5)      // short trailing segment
    val dir = docsDir(Seq(
      0L -> s"$lineA $lineB",     // keeps both
      1L -> s"$lineA $lineB",     // exact copy: loses every line
      2L -> s"$lineA $lineC",     // keeps only lineC
      3L -> s"$lineC $tail5"))    // lineC already taken by doc 2; keeps tail5
    val got = SparkEntry.queries("line_dedup")(spark, dir)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 2L, s"$lineA $lineB"),
      (1L, 2L, 0L, ""),
      (2L, 2L, 1L, lineC),
      (3L, 2L, 1L, tail5)))
  }

  test("dedup_keep_best keeps the highest-quality member, not the lowest id") {
    // same-token docs: identical trigram set (jaccard 1 = one
    // cluster), quality strictly increasing in length below 500
    // chars — so the longest doc wins regardless of id order.
    def rep(n: Int): String = Seq.fill(n)("data").mkString(" ")
    val dir = docsDir(Seq(
      10L -> rep(40), 11L -> rep(44), 12L -> rep(42),
      13L -> "totally unrelated words nothing shared here at all"))
    val got = SparkEntry.queries("dedup_keep_best")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.size == 1, s"one cluster expected, got $got")
    val (clusterId, nMembers, keptId, keptQ) = got.head
    assert(clusterId == 10L && nMembers == 3L && keptId == 11L,
      s"expected cluster 10 of 3 keeping doc 11, got $got")
    // len 219/500 * 0.3 + avg-token-len score 0.8 * 0.3 = 0.3714
    assert(math.abs(keptQ - 0.3714) < 1e-9, s"quality $keptQ")
  }
}

/** The quotient-graph claim, tested as a property: connected
  * components computed on the collapsed representative graph and
  * re-expanded to members must EQUAL components computed on the full
  * re-expanded pair set, on random clone-heavy corpora.
  */
class QuotientGraphSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import graft.operators.{ConnectedComponents, MinHashLSH}
  import spark.implicits._

  test("quotient CC equals CC over the expanded pair set") {
    val rng = new scala.util.Random(20260814L)
    for (trial <- 1 to 5) {
      // 8-12 base texts over a tiny vocabulary (so some UNRELATED
      // pairs also cross the 0.8 trigram-jaccard line — chained
      // components), each cloned 1-4x, ids assigned in shuffled order
      // so reps are not trivially the first-written rows.
      val vocab = Vector("a", "b", "c", "d", "e")
      val bases = List.tabulate(8 + rng.nextInt(5))(_ =>
        List.fill(6 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size))).mkString(" "))
      val texts = rng.shuffle(bases.flatMap(t => List.fill(1 + rng.nextInt(4))(t)))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")

      val expanded = MinHashLSH.nearDupPairs(docs, "doc_id", "text", 0.8)
      val expected = ConnectedComponents
        .clusters(expanded.select($"id_a", $"id_b"))
        .as[(Long, Long)].collect().toSet

      val (repPairs, groups) = MinHashLSH.nearDupGraph(docs, "doc_id", "text", 0.8)
      val got = ConnectedComponents
        .clustersFromQuotient(repPairs.select($"id_a", $"id_b"), groups)
        .as[(Long, Long)].collect().toSet

      assert(got == expected,
        s"trial $trial: quotient ${got.size} vs expanded ${expected.size} rows differ for $texts")
    }
  }
}

class Round8KernelSpec extends SparkTestBase {
  import spark.implicits._
  import graft.functions.CountMin
  import org.apache.spark.sql.expressions.Window

  test("winnowFingerprints equals the HOF transform/array_min spelling") {
    val docs = Seq(
      "", "a", "a b", "a b c", "a b c d e f g h",
      "x x x x x x x x x x", // identical hashes: leftmost-tie reign
      "one two three four five six seven eight nine ten",
      "dup dup dup a dup dup dup a b c dup dup",
      "q w e r t y u i o p q w e r t y u i o p")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fused = docs.select($"doc_id",
        explode(VectorExpressions.winnowFingerprints(split($"text", " "), 3, 4)).as("f"))
      .select($"doc_id", $"f.pos", $"f.h").distinct()
      .as[(Long, Long, Long)].collect().toSet
    val toks = split($"text", " ")
    val hs = transform(sequence(lit(0), size(toks) - 3), i =>
      struct(
        Fingerprint64.fingerprint64(concat_ws(" ",
          element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3))).as("h"),
        i.cast("long").as("pos")))
    val ref = docs.filter(size(toks) >= 3)
      .select($"doc_id", hs.as("hs"))
      .select($"doc_id",
        explode(transform(sequence(lit(0), greatest(size($"hs") - 4, lit(0))),
          j => array_min(slice($"hs", j + 1, lit(4))))).as("f"))
      .select($"doc_id", $"f.pos", $"f.h").distinct()
      .as[(Long, Long, Long)].collect().toSet
    assert(fused == ref, s"fused ${fused.size} vs HOF ${ref.size}")
    // the all-equal-hash doc: leftmost-min slides with the window, so
    // every window head is selected once — 8 grams, w=4 → 5 windows
    // (plain winnowing; ROBUST winnowing's rightmost-tie rule would
    // collapse these — the leftmost rule is this operator's contract)
    assert(fused.count(_._1 == 5L) == 5)
  }

  test("cms inner product: never undercounts, bound holds, exact size math") {
    val a = (1 to 200).flatMap(k => Seq.fill(k % 5 + 1)(k.toLong))
    val b = (100 to 300).flatMap(k => Seq.fill(k % 3 + 1)(k.toLong))
    val ca = a.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cb = b.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val exact = ca.keysIterator.map(k => ca(k) * cb.getOrElse(k, 0L)).sum
    val est = a.toDF("k").agg(CountMin.countMinSketch($"k").as("sa"))
      .crossJoin(b.toDF("k").agg(CountMin.countMinSketch($"k").as("sb")))
      .select(CountMin.cmsInnerProduct($"sa", $"sb"))
      .as[Long].head()
    assert(est >= exact, s"undercount: $est < $exact")
    assert(est <= exact + 9L * a.size * b.size / 8192,
      s"bound blown: $est vs exact $exact")
  }

  test("cms inner product rejects mismatched sketch shapes") {
    val e = intercept[Throwable] {
      Seq(1L).toDF("k").agg(CountMin.countMinSketch($"k", width = 4096).as("sa"))
        .crossJoin(Seq(1L).toDF("k")
          .agg(CountMin.countMinSketch($"k", width = 8192).as("sb")))
        .select(CountMin.cmsInnerProduct($"sa", $"sb"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("sketch shapes differ")), e.toString)
  }

  test("runningMaxExclusive equals the exclusive window max at any partitioning") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i =>
      (s"g${rnd.nextInt(3)}", i, rnd.nextInt(2000).toLong - 1000L))
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("g", "o", "v").repartition(parts)
      val got = DistributedPrefixSum
        .runningMaxExclusive(df, "g", Seq("o"), "v", "m")
        .select($"g", $"o", $"m").as[(String, Int, Long)].collect().toSet
      val w = Window.partitionBy($"g").orderBy($"o")
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = df
        .withColumn("m", coalesce(max($"v").over(w), lit(Long.MinValue)))
        .select($"g", $"o", $"m").as[(String, Int, Long)].collect().toSet
      assert(got == want, s"parts=$parts")
    }
  }
}
