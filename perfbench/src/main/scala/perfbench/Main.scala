package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** Runs one workload for a time budget and prints one result line.
  *
  * {{{
  * Main --workload <trip_json_batch|trip_stream_upsert|query_mix>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir> [--tables <dir>]
  * }}}
  *
  * The last stdout line is `PERFBENCH <json>`; `perfbench/run.py` adds
  * the DuckDB check of `query_mix` and prints the benchmark's result.
  */
object Main {
  val Cores = 4
  private val SetupRepeats = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, tables: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, m.getOrElse("tables", ""))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** Old-generation use after a full collection, in MB. The listener
    * bus is drained first and the collection runs twice, a moment
    * apart, so objects that only wait for a listener or for Spark's
    * cleaner thread do not count. */
  private def heapAfterGcMb(): Double = {
    SparkSession.getDefaultSession.foreach(s => ListenerDrain(s.sparkContext))
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed.toDouble).sum / (1 << 20)
  }

  def build(name: String, spark: SparkSession, a: Args, idx: Int): Workload = name match {
    case "trip_json_batch" => new TripBatch(spark, a.work.resolve(s"setup$idx"), a.seed)
    case "trip_stream_upsert" => new TripStream(spark, a.work.resolve(s"setup$idx"), a.seed)
    case "query_mix" => new QueryMix(spark, a.tables, a.seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    System.setProperty("derby.stream.error.file", a.work.resolve("derby.log").toString)
    val t0 = System.nanoTime()
    val spark = session(Cores, a.work)
    val sessionS = secs(t0)

    // Set-up runs several times; the median is the set-up cost.
    val builds = (0 until SetupRepeats).map { i =>
      val s = System.nanoTime()
      val w = build(a.workload, spark, a, i)
      (w, secs(s))
    }
    val wl = builds.last._1
    val w0 = System.nanoTime()
    val dumpFailures = wl match {
      case q: QueryMix => q.dump(a.work.resolve("query_out"))
      case _ => Set.empty[String]
    }
    (1 to wl.warmups).foreach(_ => wl.pass(None))
    val setupS = sessionS + Stats.median(builds.map(_._2)) + secs(w0)
    System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, inputs ${builds.map(_._2).mkString(" ")} s, " +
      f"warm-up ${secs(w0)}%.2f s")

    val result =
      if (a.trace) traced(spark, wl, a)
      else untraced(wl, a)
    val out = result ++ Map("setup_s" -> setupS)
    spark.stop()
    val extra = if (a.trace) Map("operators.local1_pass_s" -> local1Pass(a)) else Map.empty
    println("PERFBENCH " + Json.obj(Seq(
      "workload" -> a.workload,
      "items" -> wl.items,
      "query_failures" -> dumpFailures.toSeq.sorted,
      "values" -> (out ++ extra))))
  }

  private final case class Loop(passes: Seq[PassResult], gcMs: Seq[Double], heapMb: Seq[Double])

  /** Runs passes until `seconds` have elapsed, at least `min`. A full
    * GC between passes keeps one pass's garbage out of the next. Two
    * passes at least ([[Workload.minPasses]]): with one, whether a run
    * gets a second pass would hinge on a pass taking just under or over
    * `seconds`, and the first pass after warm-up is still the slower
    * one. Each pass logs its GC and JIT compilation time and the heap
    * after GC to stderr. */
  private def loop(a: Args, pass: Int => PassResult, min: Int): Loop = {
    val passes = ArrayBuffer.empty[PassResult]
    val gcs = ArrayBuffer.empty[Double]
    val heaps = ArrayBuffer.empty[Double]
    heaps += heapAfterGcMb()
    val start = System.nanoTime()
    while (passes.size < min || secs(start) < a.seconds) {
      val g = gcMs()
      val j = jitMs()
      passes += pass(passes.size)
      gcs += gcMs() - g
      val jit = jitMs() - j
      heaps += heapAfterGcMb()
      System.err.println(f"[perfbench] pass ${passes.size}: ${passes.last.passMs}%.0f ms, gc ${gcs.last}%.0f ms, jit $jit%.0f ms, heap ${heaps.last}%.1f MB")
    }
    Loop(passes.toSeq, gcs.toSeq, heaps.toSeq)
  }

  /** Wall-clock pass and per-operation costs; the pass time is the
    * median over the passes. */
  private def costs(wl: Workload, passes: Seq[PassResult]): Map[String, Double] = {
    val passS = wl.passMs(passes) / 1e3
    val ops = wl.latencies(passes)
    Map("pass_s" -> passS, "items_per_s" -> wl.items / passS,
      "latency_p50_ms" -> Stats.quantile(ops, 0.5),
      "latency_p90_ms" -> Stats.quantile(ops, 0.9))
  }

  private def counts(passes: Seq[PassResult]): Map[String, Double] = Map(
    "attempted" -> passes.map(_.opsMs.size).sum.toDouble,
    "failed" -> passes.map(_.failedOps).sum.toDouble,
    "passes" -> passes.size.toDouble)

  def untraced(wl: Workload, a: Args): Map[String, Double] = {
    val l = loop(a, _ => wl.pass(None), wl.minPasses)
    costs(wl, l.passes) ++ counts(l.passes) + ("heap_peak_mb" -> l.heapMb.max)
  }

  /** Alternates traced passes with untraced ones, two traced at least;
    * per-layer values are medians over the traced passes. */
  def traced(spark: SparkSession, wl: Workload, a: Args): Map[String, Double] = {
    val tracer = new Tracer
    val listeners = new Listeners(spark)
    val t = Traced(tracer, listeners)
    val plain = ArrayBuffer.empty[PassResult]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val l = loop(a, i =>
      if (i % 2 == 1) { val p = wl.pass(None); plain += p; p }
      else {
        listeners.register()
        val before = tracer.spans.size
        val p = try wl.pass(Some(t)) finally listeners.unregister()
        layers += Layers.of(wl, tracer.spans.drop(before))
        p
      }, min = math.max(3, wl.minPasses))
    tracer.write(a.work.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
    val keys = layers.flatMap(_.keySet).distinct
    keys.map(k => k -> Stats.median(layers.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
      counts(l.passes) ++ Map(
      "trace.overhead_s" -> (Stats.median(layers.map(_("trace.pass_s")).toSeq) -
        Stats.median(plain.map(_.passMs).toSeq) / 1e3),
      "jvm.gc_ms" -> Stats.median(l.gcMs),
      "jvm.heap_after_gc_mb" -> l.heapMb.max,
      // from the untraced passes; reported here, not gated, because it
      // moved more between runs on a shared host than its bound allowed
      "latency_p90_ms" -> costs(wl, plain.toSeq)("latency_p90_ms")) ++
      (wl match {
        case b: TripBatch => Layers.rows(b.layerRows())
        case s: TripStream => Layers.rows(s.layerRows())
        case _ => Map.empty[String, Double]
      })
  }

  /** One `trip_json_batch` pass on a single core, after one warm-up
    * pass, in a fresh `local[1]` session. */
  private def local1Pass(a: Args): Double = {
    val spark = session(1, a.work)
    try {
      val b = new TripBatch(spark, a.work.resolve("local1"), a.seed)
      b.pass(None)
      b.pass(None).passMs / 1e3
    } finally spark.stop()
  }
}
