package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Equivalence gates for the round-13 clone-collapse optimizations
  * (suffix_dup_stats, line_dedup, naive_bayes_score): the base SF
  * corpora contain ZERO exact-duplicate texts (500/500 unique), so
  * the oracle gate never exercises the multiplicity (> 1) path the
  * collapse exists for — the bench clone corpora do. These gates
  * replay each query's r12 FULL-CORPUS spelling inline over a
  * planted corpus of sf0.001 documents × 3 shifted clone copies
  * (the bench cloneTables construction) and assert row-set equality
  * with the registered (collapsed) query.
  */
class Round23CollapseSpec extends SparkTestBase with BeforeAndAfterAll {

  private var tmpDir: Option[java.io.File] = None

  /** sf0.001 documents ×3: clone k shifts doc_id by k·(max+1) —
    * exactly the bench cloneTables id arithmetic.
    */
  private lazy val clonedDir: String = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val shift = base.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L
    val dir = java.nio.file.Files
      .createTempDirectory("graft_clone_corpus").toString
    tmpDir = Some(new java.io.File(dir))
    base.crossJoin(broadcast(
        spark.range(3).select(col("id").as("_rep"))))
      .withColumn("doc_id", col("doc_id") + col("_rep") * lit(shift))
      .drop("_rep")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  override def afterAll(): Unit =
    try tmpDir.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    finally super.afterAll()

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("suffix_dup_stats: collapsed spelling == r12 full-corpus ranks on a cloned corpus") {
    import graft.operators.SuffixRanks
    val s = spark
    val t = GraftSession.table(s, clonedDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val dl = t.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"))
    val p = t.select(col("doc_id").as("doc"),
        posexplode(expr(
          "transform(sequence(1, size(toks)), i -> array_join(slice(toks, i, 4), ' '))"))
          .as(Seq("pos0", "gram")))
      .select(col("doc"), (col("pos0") + 1).cast("long").as("pos"),
        col("gram"))
      .localCheckpoint()
    val r2 = SuffixRanks.withDenseRank(p, Seq("gram"), "r2").drop("gram")
    val g = SuffixRanks.doubleFrom(r2, 2, 5)
      .withColumnRenamed("doc", "doc_id")
      .join(dl, Seq("doc_id"))
      .localCheckpoint()
    def cnt(k: Int) = g
      .filter(col("pos") + ((1L << k) - 1) <= col("n_tokens"))
      .groupBy(col(s"r$k")).agg(count(lit(1)).as(s"c$k"))
    var d = g
    for (k <- 2 to 5) d = d.join(cnt(k), Seq(s"r$k"), "left")
    val dups = (2 to 5).map { k =>
      (when(col("pos") + ((1L << k) - 1) <= col("n_tokens")
        && coalesce(col(s"c$k"), lit(0L)) >= 2, 1).otherwise(0)).as(s"d$k")
    }
    val ref = d.select(Seq(col("doc_id"), col("n_tokens")) ++ dups: _*)
      .groupBy(col("doc_id"))
      .agg(min(col("n_tokens")).as("n_tokens"),
        sum(col("d2")).as("n_pos4"),
        sum(col("d5")).as("n_pos32"),
        max(when(col("d5") === 1, 32).when(col("d4") === 1, 16)
          .when(col("d3") === 1, 8).when(col("d2") === 1, 4)
          .otherwise(0)).cast("int").as("max_dup_len"))
    val got = SparkEntry.queries("suffix_dup_stats")(s, clonedDir)
    assert(rows(got) == rows(ref),
      "collapsed suffix_dup_stats diverges from the full-corpus ranks")
  }

  test("line_dedup: collapsed spelling == r12 full-corpus dedup on a cloned corpus") {
    val s = spark
    val toks = split(col("text"), " ")
    val nSeg = ceil(size(toks).cast("double") / lit(10.0)).cast("int")
    val lines = GraftSession.table(s, clonedDir, "documents").select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), nSeg - 1),
        i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10)))))
        .as(Seq("line_idx", "line")))
      .select(col("doc_id"), col("line_idx").cast("long").as("line_idx"),
        col("line"))
    val firsts = lines
      .groupBy(xxhash64(col("line")), xxhash64(lit(42L), col("line")),
        length(col("line")))
      .agg(
        min(struct(col("doc_id"), col("line_idx"), col("line"))).as("first"),
        countDistinct(xxhash64(lit(1337L), col("line"))).as("_nfp"))
      .filter(assert_true(col("_nfp") === 1).isNull)
      .select(col("first.doc_id").as("doc_id"),
        col("first.line_idx").as("line_idx"), col("first.line").as("line"))
    val kept = firsts.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(line_idx, line))), x -> x.line)"))
        .as("kept_text"))
    val ref = lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
    val got = SparkEntry.queries("line_dedup")(s, clonedDir)
    assert(rows(got) == rows(ref),
      "collapsed line_dedup diverges from the full-corpus dedup")
  }

  test("naive_bayes_score: collapsed spelling == r12 full-corpus training on a cloned corpus") {
    import graft.functions.{Fingerprint64, TextFunctions => TF}
    import graft.operators.DistributedQuantile
    val s = spark
    val f = GraftSession.table(s, clonedDir, "documents").select(col("doc_id"),
        explode(transform(TF.wsTokens(col("text")),
          t => Fingerprint64.fingerprint64(t))).as("h"))
      .groupBy(col("doc_id"),
        col("h").bitwiseAND(lit(15L)).cast("int").as("dim"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val z = f.groupBy(col("doc_id"))
      .agg(sum(when(col("dim") % 2 === 1, col("cnt"))
        .otherwise(-col("cnt"))).as("zs"))
    val med = DistributedQuantile
      .quantiles(z.withColumn("_g", lit("all"))
        .withColumn("zsd", col("zs").cast("double")), "_g", "zsd",
        Seq("m" -> 0.5))
      .drop("g")
    val lab = z.crossJoin(broadcast(med))
      .select(col("doc_id"),
        when(col("zs").cast("double") >= col("m"), 1L).otherwise(0L)
          .as("y"))
    val pr = lab.agg(sum(col("y")).as("n1"),
      (count(lit(1)) - sum(col("y"))).as("n0"))
    val dom = s.range(16).select(col("id").cast("int").as("dim"))
    val sc = f.join(lab, Seq("doc_id"))
      .groupBy(col("dim"))
      .agg(sum(when(col("y") === 1, col("cnt")).otherwise(0L)).as("s1"),
        sum(when(col("y") === 0, col("cnt")).otherwise(0L)).as("s0"))
    val sd = dom.join(sc, Seq("dim"), "left")
      .select(col("dim"), coalesce(col("s1"), lit(0L)).as("s1"),
        coalesce(col("s0"), lit(0L)).as("s0"))
      .localCheckpoint()
    val tot = sd.agg(sum(col("s1")).as("t1"), sum(col("s0")).as("t0"))
    val w = sd.crossJoin(broadcast(tot))
      .select(col("dim"), floor(
        log(((col("s1") + 1) * (col("t0") + 16)).cast("double")
          / ((col("s0") + 1) * (col("t1") + 16)).cast("double"))
        * 1000000 + lit(0.5)).cast("long").as("lr"))
    val bi = pr.select(floor(
      log((col("n1") + 1).cast("double") / (col("n0") + 1).cast("double"))
      * 1000000 + lit(0.5)).cast("long").as("b"))
    val ref = f.join(broadcast(w), Seq("dim"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("lr")).cast("long").as("wx"))
      .join(lab, Seq("doc_id"))
      .crossJoin(broadcast(bi))
      .select(col("doc_id"), col("y").cast("int").as("label"),
        (col("wx") + col("b")).as("score_micro"),
        when(col("wx") + col("b") >= 0, 1).otherwise(0).cast("int")
          .as("pred"))
    val got = SparkEntry.queries("naive_bayes_score")(s, clonedDir)
    assert(rows(got) == rows(ref),
      "collapsed naive_bayes_score diverges from the full-corpus training")
  }

  test("TwsProfile: per-batch delta fold emits the refreshed row per touched type") {
    import spark.implicits._
    import graft.streaming.{TwsEvent, TwsProfile}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val prev = graft.sources.Sources.useRocksDBStateStore(spark)
    try {
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[TwsEvent]
      val name = s"tws_prof_test_${System.nanoTime()}"
      val q = TwsProfile.profile(ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("update")
        .start()
      try {
        ms.addData(TwsEvent(1L, "view", 100L), TwsEvent(1L, "view", 50L),
          TwsEvent(1L, "click", 7L))
        q.processAllAvailable()
        val batch1 = spark.table(name).as[(Long, String, Long, Long)]
          .collect().toSet
        assert(batch1 == Set((1L, "view", 2L, 150L), (1L, "click", 1L, 7L)),
          s"batch 1 emissions wrong: $batch1")
        // batch 2 touches only "view" — the emission must reflect the
        // CROSS-BATCH state (n=3), not just this batch's delta
        ms.addData(TwsEvent(1L, "view", 9L))
        q.processAllAvailable()
        val all = spark.table(name).as[(Long, String, Long, Long)]
          .collect().toSet
        assert(all == batch1 + ((1L, "view", 3L, 159L)),
          s"batch 2 emission wrong: $all")
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    } finally graft.sources.Sources.restoreStateStore(spark, prev)
  }
}
