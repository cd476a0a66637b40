package perfbench

import java.nio.file.Path
import java.sql.{Connection, DriverManager}

import graft.model.TripModel
import graft.operators.{Sessionize, TripAggregator}
import graft.sinks.JdbcUpsertSink
import graft.sources.Sources
import graft.streaming.SessionPipeline
import graft.streaming.SessionPipeline.SessEvent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Embedded in-memory Derby, the JDBC engine the sink runs against.
  * Each instance is a fresh database. */
final class Derby(prefix: String) {
  val url = s"jdbc:derby:memory:$prefix${Derby.ids.incrementAndGet()};create=true"
  val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  def withConn[T](f: Connection => T): T = {
    Class.forName(driver)
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def exec(sql: String*): Unit = withConn { c =>
    val st = c.createStatement()
    try sql.foreach(st.execute) finally st.close()
  }

  def count(table: String): Long = query(s"SELECT COUNT(*) FROM $table")(_.getLong(1)).head

  def query[T](sql: String)(row: java.sql.ResultSet => T): Seq[T] = withConn { c =>
    val rs = c.createStatement().executeQuery(sql)
    val out = Vector.newBuilder[T]
    while (rs.next()) out += row(rs)
    rs.close()
    out.result()
  }
}

object Derby {
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
}

object Check {
  /** True when the sink holds exactly the expected rows; otherwise
    * logs the first differences to stderr. */
  def report(table: String, expected: Int, got: Int, bad: Seq[(Any, Option[Any])]): Boolean = {
    val ok = expected == got && bad.isEmpty
    if (!ok) {
      System.err.println(s"[perfbench] $table mismatch: ${bad.size} wrong rows, $got rows, $expected expected")
      bad.take(5).foreach { case (g, e) => System.err.println(s"[perfbench]   got $g, reference $e") }
    }
    ok
  }
}

object Clock {
  /** Runs `f`; returns its result and its wall time in ms. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Outcome of one pass: its wall time, the wall time of each operation
  * it ran, and how many of those failed or left wrong output. */
final case class PassResult(passMs: Double, opsMs: Seq[Double], failedOps: Int)

object PassResult {
  /** A pass whose output is checked as a whole: all its operations
    * fail together. */
  def checked(passMs: Double, opsMs: Seq[Double], ok: Boolean): PassResult =
    PassResult(passMs, opsMs, if (ok) 0 else opsMs.size)
}

trait Workload {
  /** Valid input items one pass processes (messages or queries). */
  def items: Long
  /** Untimed passes after set-up, so the JIT has compiled the hot code. */
  def warmups: Int
  def pass(trace: Option[Traced]): PassResult
  /** Operation latencies the percentiles are taken over: by default
    * every operation of every pass. */
  def latencies(passes: Seq[PassResult]): Seq[Double] = passes.flatMap(_.opsMs)
  /** The pass time a run reports: by default the median pass. */
  def passMs(passes: Seq[PassResult]): Double = Stats.median(passes.map(_.passMs))
  /** Timed passes a run makes at least, however long they take. */
  def minPasses: Int = 2
}

/** Tracer plus listeners, present only in a traced run. */
final case class Traced(tracer: Tracer, listeners: Listeners) {
  /** A span whose attrs are the listener counters it moved. */
  def span[T](name: String)(f: => T): T = {
    val snap = listeners.mark()
    val t0 = System.currentTimeMillis()
    tracer.span(name)(f)(listeners.since(snap, t0, System.currentTimeMillis()))
  }
}

object TripWorkloads {
  val BatchShape = TripShape(trips = 600, readings = 80000, files = 4)
  val StreamShape = TripShape(trips = 60, readings = 4800, concurrency = 15, lateShare = 0.01, files = 8)
}

/** `trip_json_batch`: raw JSON files → parse → sessionize → trip
  * aggregation → one bulk upsert into Derby per pass. */
final class TripBatch(spark: SparkSession, work: Path, seed: Long,
    shape: TripShape = TripWorkloads.BatchShape) extends Workload {
  private val gen = TripGen.generate(shape, seed)
  private val dir = work.resolve("trip_batch")
  TripGen.write(gen, dir)
  private val expected = TripReference.batch(gen.all, TripGen.GapS)
  val lines: Long = gen.lines
  val items: Long = gen.valid.size.toLong
  val warmups = 4

  private val db = new Derby("tripbatch")
  db.exec("CREATE TABLE trip_agg (trip_key BIGINT PRIMARY KEY, n_events BIGINT, total_s BIGINT, " +
    "stopped_s BIGINT, distance_km DOUBLE, moving_s BIGINT)")
  private val sink = new JdbcUpsertSink(db.url, db.driver, "trip_agg", Seq("trip_key"),
    Seq("n_events", "total_s", "stopped_s", "distance_km", "moving_s"), dialect = "derby")

  def raw: DataFrame = Sources.rawJsonBatch(spark, dir.toString)
  def parsed: DataFrame = TripModel.parseRaw(raw, "raw").withColumn("tsec", unix_timestamp(col("ts")))
  def sessions: DataFrame =
    Sessionize.withSessionId(parsed, col("trip_id"), col("tsec"), TripGen.GapS, Seq(col("ts")))
  def aggregated: DataFrame = {
    val gps = sessions.filter(col("lat").isNotNull)
      .withColumn("trip_key", col("trip_id") * 100 + col("session_seq"))
    TripAggregator.aggregate(gps, col("trip_key"), col("tsec"), col("lat"), col("lon"),
      col("speed_kmh"), TripReference.LowSpeedKmh, Seq(col("ts")))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def pass(trace: Option[Traced]): PassResult = {
    db.exec("DELETE FROM trip_agg")
    val (_, ms) = Clock.timed(trace match {
      case None => sink.writeBatch(aggregated)
      case Some(t) =>
        // Spark is lazy: each layer's span materialises the plan prefix
        // that ends at that layer, so a layer's cost is its span minus
        // the previous prefix's span. Prefixes keep only the columns the
        // whole pipeline reads, so the parser prunes alike in all spans.
        // The aggregate is checkpointed, so the sink span times the
        // upsert alone.
        val used = Seq("trip_id", "ts", "tsec", "lat", "lon", "speed_kmh").map(col)
        t.span("pass") {
          t.span("sources")(noop(raw))
          t.span("model")(noop(parsed.select(used: _*)))
          t.span("operators.sessionize")(noop(sessions.select(used :+ col("session_seq"): _*)))
          val agg = t.span("operators.aggregate")(aggregated.localCheckpoint())
          t.span("sinks")(sink.writeBatch(agg))
        }
    })
    PassResult.checked(ms, Seq(ms), check())
  }

  /** Compares the sink table with the reference, row by row. */
  def check(): Boolean = {
    val got = db.query("SELECT trip_key, n_events, total_s, stopped_s, distance_km, moving_s FROM trip_agg") { r =>
      TripReference.TripAgg(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6))
    }
    val bad = got.filterNot { g =>
      expected.get(g.tripKey).exists { e =>
        e.nEvents == g.nEvents && e.totalS == g.totalS && e.stoppedS == g.stoppedS &&
          e.movingS == g.movingS && math.abs(e.distanceKm - g.distanceKm) <= 1e-9 * math.max(1.0, e.distanceKm)
      }
    }
    Check.report("trip_agg", expected.size, got.size, bad.map(g => (g, expected.get(g.tripKey))))
  }

  /** Rows each layer emits, for the traced run's counts. */
  def layerRows(): Map[String, Double] = Map(
    "lines_in" -> lines.toDouble,
    "rows_out" -> parsed.count().toDouble,
    "rows_written" -> db.count("trip_agg").toDouble)
}

/** `trip_stream_upsert`: the time-ordered files replay one per
  * micro-batch through parse → event-time sessionizer (3 s watermark
  * delay) → fenced, accumulating upsert per micro-batch. */
final class TripStream(spark: SparkSession, work: Path, seed: Long,
    shape: TripShape = TripWorkloads.StreamShape) extends Workload {
  import spark.implicits._
  val warmups = 1

  private val gen = TripGen.generate(shape, seed)
  private val dir = work.resolve("trip_stream")
  TripGen.write(gen, dir)
  private val expected = TripReference.stream(gen.files, TripGen.GapS, TripGen.DelayS)
  val items: Long = gen.valid.size.toLong
  private var passNo = 0

  private val db = new Derby("tripstream")
  db.exec(
    "CREATE TABLE trip_totals (trip_id BIGINT PRIMARY KEY, n_sessions BIGINT, n_events BIGINT, sum_speed DOUBLE)",
    "CREATE TABLE bench_fence (sink_table VARCHAR(128) NOT NULL, batch_id BIGINT NOT NULL, " +
      "partition_id INTEGER NOT NULL, PRIMARY KEY (sink_table, batch_id, partition_id))")
  private val sink = new JdbcUpsertSink(db.url, db.driver, "trip_totals", Seq("trip_id"),
    Seq("n_sessions", "n_events", "sum_speed"),
    updateExprs = Map(
      "n_sessions" -> "n_sessions + excluded.n_sessions",
      "n_events" -> "n_events + excluded.n_events",
      "sum_speed" -> "sum_speed + excluded.sum_speed"),
    dialect = "derby", fenceTable = Some("bench_fence"), fenceBuckets = 4)

  private val textSchema = StructType(Seq(StructField("value", StringType)))

  /** Wall clock at the end of each micro-batch of a pass. */
  private val batchEnds = scala.collection.mutable.ArrayBuffer.empty[Long]

  /** Sink counters a traced pass reads; kept on the driver. */
  private var inserts = 0L
  private var updates = 0L
  private var fenceSkips = 0L
  private var sessionRows = 0L

  private def writeBatch(df: DataFrame, batchId: Long, trace: Option[Traced]): Unit = {
    val rows = df.select(col("user_id").as("trip_id"), lit(1L).as("n_sessions"),
      col("n_events"), col("sum_value").as("sum_speed"))
    trace match {
      case None => sink.writeBatch(rows, batchId)
      case Some(t) =>
        val replay = db.count(s"bench_fence WHERE batch_id = $batchId") > 0
        val before = db.count("trip_totals")
        val n = rows.count()
        t.span("sinks")(sink.writeBatch(rows, batchId))
        val added = db.count("trip_totals") - before
        inserts += added
        updates += n - added
        sessionRows += n
        if (replay) fenceSkips += 1
    }
    batchEnds += System.nanoTime()
  }

  def pass(trace: Option[Traced]): PassResult = {
    db.exec("DELETE FROM trip_totals", "DELETE FROM bench_fence")
    passNo += 1
    val ckpt = work.resolve(s"stream_ckpt/$passNo").toString
    val events = TripModel.parseRaw(
      Sources.fileStream(spark, dir.toString, textSchema, format = "text", maxFilesPerTrigger = 1)
        .withColumnRenamed("value", "raw"), "raw")
      .select(col("trip_id").as("user_id"), unix_millis(col("ts")).as("event_id"),
        unix_timestamp(col("ts")).as("tsec"), coalesce(col("speed_kmh"), lit(0.0)).as("value"))
      .as[SessEvent]
    val sessions = SessionPipeline.statefulSessionizeEventTime(events, TripGen.GapS, TripGen.DelayS)
    batchEnds.clear()
    batchEnds += System.nanoTime()
    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = sessions.toDF().writeStream
        .foreachBatch((df: DataFrame, id: Long) => writeBatch(df, id, trace))
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      q
    }
    val (q, ms) = Clock.timed(trace match {
      case None => run()
      case Some(t) => t.span("pass")(run())
    })
    // a micro-batch costs what elapsed between the ends of two batches
    val batches = batchEnds.zip(batchEnds.tail).map { case (t0, t1) => (t1 - t0) / 1e6 }.toSeq
    val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    // the sessionizer keeps late rows (see TripReference)
    if (dropped != 0) System.err.println(s"[perfbench] $dropped rows dropped by watermark, reference keeps all")
    PassResult.checked(ms, batches, check() && dropped == 0)
  }

  def check(): Boolean = {
    val got = db.query("SELECT trip_id, n_sessions, n_events, sum_speed FROM trip_totals") { r =>
      TripReference.TripTotals(r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    }
    val bad = got.filterNot(g => expected.totals.get(g.trip).contains(g))
    Check.report("trip_totals", expected.totals.size, got.size, bad.map(g => (g, expected.totals.get(g.trip))))
  }

  def sinkCounters(): Map[String, Double] = Map(
    "inserts" -> inserts.toDouble, "updates" -> updates.toDouble,
    "fence_skips" -> fenceSkips.toDouble, "rows_written" -> sessionRows.toDouble)

  def layerRows(): Map[String, Double] = Map(
    "lines_in" -> gen.lines.toDouble,
    "rows_out" -> TripModel.parseRaw(Sources.rawJsonBatch(spark, dir.toString), "raw").count().toDouble)

  def resetSinkCounters(): Unit = { inserts = 0; updates = 0; fenceSkips = 0; sessionRows = 0 }
}
