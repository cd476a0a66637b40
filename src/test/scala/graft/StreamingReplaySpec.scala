package graft

import graft.streaming.{SessionPipeline, TwsSessions}
import graft.streaming.SessionPipeline._
import org.apache.spark.sql.{Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The event-time stateful operators under a MULTI-batch replay — the
  * SF gate replays one file in one data batch. Four micro-batches of
  * out-of-order rows (delay 10 s, no row ever late): key 1 holds rows
  * above the watermark across batches, key 2 never sees a row after
  * batch 1 and is drained only by its event-time timer, key 4's lone
  * row stays above the final watermark (150) forever.
  */
class StreamingReplaySpec extends SparkTestBase {
  import spark.implicits._

  private val DelayS = 10L
  private val FinalWm = 150L

  // (key, event_id, tsec, amount) per micro-batch
  private val batches: Seq[Seq[(Long, Long, Long, Long)]] = Seq(
    Seq((1L, 7L, 100L, 500L), (1L, 1L, 95L, -200L), (1L, 2L, 103L, 300L),
      (1L, 3L, 100L, -900L), (2L, 4L, 98L, 1000L), (2L, 5L, 101L, -400L)),
    Seq((1L, 8L, 112L, 700L), (1L, 6L, 99L, -100L), (1L, 9L, 120L, 200L),
      (3L, 10L, 118L, 50L), (3L, 11L, 104L, 800L)),
    Seq((1L, 12L, 125L, -300L), (1L, 13L, 115L, 400L),
      (3L, 14L, 130L, -1000L), (3L, 15L, 122L, 600L)),
    Seq((4L, 16L, 160L, 100L)))

  /** Per key, the rows strictly below the final watermark in
    * (tsec, event_id) order — what every buffered fold must have folded. */
  private val foldable: Map[Long, Seq[(Long, Long, Long, Long)]] =
    batches.flatten.filter(_._3 < FinalWm).groupBy(_._1)
      .map { case (k, rs) => k -> rs.sortBy(r => (r._3, r._2)) }

  /** Feeds `batches` (mapped by `mk`) through `op` one micro-batch at
    * a time and returns every row the memory sink received. */
  private def replay[E <: Product : Encoder](mk: ((Long, Long, Long, Long)) => E,
      mode: String, rocksDB: Boolean = false)(op: Dataset[E] => Dataset[_]): Seq[Row] = {
    val prev = if (rocksDB) Some(graft.sources.Sources.useRocksDBStateStore(spark)) else None
    try {
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[E]
      val name = s"replay_spec_${System.nanoTime()}"
      val q = op(ms.toDS()).toDF().writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      try {
        batches.foreach { b => ms.addData(b.map(mk)); q.processAllAvailable() }
        spark.table(name).collect().toSeq
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    } finally prev.foreach(graft.sources.Sources.restoreStateStore(spark, _))
  }

  /** Per key (first column), the remaining columns of its row with the
    * greatest counter (second column) — the fold's last emission. */
  private def latest(rows: Seq[Row]): Map[Any, Seq[Any]] =
    rows.map(_.toSeq).groupBy(_.head)
      .map { case (k, rs) => k -> rs.maxBy(_(1).asInstanceOf[Long]).tail }

  private def assertDrainShape(rows: Seq[Row], key1: Any, key4: Any): Unit = {
    assert(rows.count(_.get(0) == key1) >= 3,
      "key 1 holds rows across batches and folds in several of them")
    assert(!rows.exists(_.get(0) == key4),
      "key 4's only row stays above the final watermark")
  }

  test("balance fold: multi-batch out-of-order replay equals the sequential fold") {
    val rows = replay(r => BalDelta(r._1, r._2, r._3, r._4), "update")(
      statefulBalanceFold(_, DelayS))
    val expected = foldable.map { case (k, rs) =>
      (k: Any) -> Seq[Any](rs.size.toLong, rs.foldLeft(0L)((b, r) => math.max(b + r._4, 0L)))
    }
    assert(latest(rows) == expected)
    assert(expected.keySet == Set(1L, 2L, 3L), "quiet key 2 drained by its timer")
    assertDrainShape(rows, 1L, 4L)
  }

  test("debounce fold: multi-batch out-of-order replay equals the sequential fold") {
    val cooldownS = 5L
    val rows = replay(r => DebEvent(r._1, r._2, r._3), "update")(
      statefulDebounceFold(_, DelayS, cooldownS))
    val expected = foldable.map { case (k, rs) =>
      val kept = rs.foldLeft(Vector.empty[(Long, Long, Long, Long)]) { (ks, r) =>
        if (ks.isEmpty || r._3 - ks.last._3 >= cooldownS) ks :+ r else ks
      }
      (k: Any) -> Seq[Any](rs.size.toLong, kept.size.toLong, kept.map(_._2).sum)
    }
    assert(latest(rows) == expected)
    assert(expected(1L)(1) != expected(1L)(0), "the cooldown drops some of key 1's rows")
    assertDrainShape(rows, 1L, 4L)
  }

  test("Page-Hinkley fold: multi-batch out-of-order replay equals the sequential fold") {
    val lambdaE6 = 300L * 1000000
    val rows = replay(r => AnomEvent(s"k${r._1}", r._2, r._3, r._4), "update")(
      statefulPageHinkley(_, DelayS, lambdaE6))
    val expected = foldable.map { case (k, rs) =>
      var n, s, m, minM, maxPh, alarms = 0L
      rs.foreach { r =>
        n += 1; s += r._4
        m += r._4 * 1000000L - (s * 1000000L) / n
        minM = math.min(minM, m)
        maxPh = math.max(maxPh, m - minM)
        if (m - minM > lambdaE6) alarms += 1
      }
      (s"k$k": Any) -> Seq[Any](n, maxPh, alarms)
    }
    assert(latest(rows) == expected)
    assert(expected.values.exists(_(2) != 0L), "some key raises an alarm")
    assertDrainShape(rows, "k1", "k4")
  }

  test("TwsSessions.sessionize equals statefulSessionizeEventTime under the same split") {
    val gapS = 5L
    def mk(r: (Long, Long, Long, Long)) = SessEvent(r._1, r._2, r._3, r._4.toDouble)
    def sessions(rows: Seq[Row]) = rows.map(r =>
      SessOut(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val fmgws = sessions(replay(mk, "append")(
      SessionPipeline.statefulSessionizeEventTime(_, gapS, DelayS)))
    val tws = sessions(replay(mk, "append", rocksDB = true)(
      TwsSessions.sessionize(_, gapS, DelayS)))
    assert(fmgws == tws)
    assert(fmgws.contains(SessOut(2L, 98L, 106L, 2L, 600.0)),
      s"quiet key 2's session closes on its timer: $fmgws")
    assert(fmgws.count(_.user_id == 1L) >= 2 && !fmgws.exists(_.user_id == 4L),
      s"key 1 closes in-batch and by timer; key 4 stays open: $fmgws")
  }

  test("sessionStep: gap crossings close, everything else extends") {
    val rows = Seq(SessEvent(1L, 1L, 10L, 1.0), SessEvent(1L, 2L, 15L, 2.0),
      SessEvent(1L, 3L, 21L, 4.0), SessEvent(1L, 4L, 40L, 8.0))
    val (closed, open) = SessionPipeline.sessionStep(
      Some(SessState(2L, 8L, 3L, 0.5)), rows, gapS = 5L)
    assert(closed == Seq(SessState(2L, 15L, 5L, 3.5), SessState(21L, 21L, 1L, 4.0)))
    assert(open.contains(SessState(40L, 40L, 1L, 8.0)))
  }
}

/** The checkpointed stream queries delete their scratch dirs (the
  * checkpoint, and the wave input of streaming_late_accounting) once
  * their eager state reads have finished. */
class StreamScratchSpec extends SparkTestBase {
  test("state-audit and late-accounting queries leave no scratch dir behind") {
    val prefixes = Seq("graft_ttl_ckpt", "graft_jsa_ckpt", "graft_late_acct")
    def scratchDirs(): Set[String] =
      new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
        .map(_.getName).filter(n => prefixes.exists(n.startsWith)).toSet
    // diffed against a snapshot: other processes may own older dirs
    val before = scratchDirs()
    Seq("streaming_state_ttl_audit", "streaming_join_state_audit",
        "streaming_late_accounting").foreach { q =>
      assert(SparkEntry.queries(q)(spark, sfDir).collect().nonEmpty, q)
    }
    val leaked = scratchDirs() -- before
    assert(leaked.isEmpty, s"leftover scratch dirs: $leaked")
  }
}
