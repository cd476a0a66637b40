package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the traced run reads at span boundaries. Everything comes
  * from Spark's public listener interfaces; the benchmark registers
  * them only for a traced run. */
final class Listeners(spark: SparkSession) {
  import Listeners._
  private val lock = new Object

  private val counters = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobWindows = ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val stageTasks = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Double]]
  private val stages = ArrayBuffer.empty[StageRec]
  private val batches = ArrayBuffer.empty[Batch]

  private def add(k: String, v: Double): Unit = counters(k) += v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      add("jobs", 1)
      jobStarts(e.jobId) = e.time
      val site = Option(e.properties).map(_.getProperty("callSite.short", "")).getOrElse("") +
        e.stageInfos.map(_.name).mkString
      if (site.contains("localCheckpoint")) add("checkpoint_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobWindows += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      add("tasks", 1)
      if (!e.taskInfo.successful) add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime.toDouble)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("bytes_read", m.inputMetrics.bytesRead.toDouble)
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          m.executorRunTime.toDouble
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      add("stages", 1)
      val info = e.stageInfo
      val ts = stageTasks.remove((info.stageId, info.attemptNumber())).map(_.sorted).getOrElse(ArrayBuffer.empty)
      val wall = (for (s <- info.submissionTime; c <- info.completionTime) yield (c - s).toDouble).getOrElse(0.0)
      if (ts.nonEmpty) stages += StageRec(wall, ts.last, ts(ts.size / 2), ts.size)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => add(s"${p}_ms", s.durationMs.toDouble))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.doubleValue() }.toMap
      val ops = p.stateOperators
      batches += Batch(d,
        ops.map(_.numRowsTotal.toDouble).sum,
        ops.map(_.memoryUsedBytes.toDouble).sum,
        ops.map(_.commitTimeMs.toDouble).sum,
        ops.map(_.numRowsDroppedByWatermark.toDouble).sum)
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = ListenerDrain(spark.sparkContext)

  def mark(): Snapshot = { drain(); lock.synchronized(Snapshot(counters.toMap, jobWindows.size, stages.size, batches.size)) }

  /** Counter deltas since `from`, plus derived values for a span that
    * ran from `startMs` to `endMs` (wall clock). */
  def since(from: Snapshot, startMs: Long, endMs: Long): Map[String, Double] = {
    drain()
    lock.synchronized {
      val keys = counters.keySet ++ from.counters.keySet
      val delta = keys.map(k => k -> (counters(k) - from.counters.getOrElse(k, 0.0))).toMap
      val st = stages.drop(from.stages)
      val windows = jobWindows.drop(from.jobs).map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      val inJobs = union(windows.filter { case (s, e) => e > s }.toSeq)
      val bs = batches.drop(from.batches)
      def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
      delta ++ Map(
        "scheduler_delay_ms" -> st.map(s => math.max(0.0, s.wallMs - s.maxTaskMs)).sum,
        "max_task_skew" -> (st.filter(s => s.tasks > 1 && s.medianTaskMs > 0)
          .map(s => s.maxTaskMs / s.medianTaskMs) :+ 1.0).max,
        "driver_gap_ms" -> math.max(0.0, (endMs - startMs) - inJobs),
        "batches" -> bs.size.toDouble,
        "query_planning_ms" -> med(bs.map(_.durations.getOrElse("queryPlanning", 0.0)).toSeq),
        "add_batch_ms" -> med(bs.map(_.durations.getOrElse("addBatch", 0.0)).toSeq),
        "wal_commit_ms" -> med(bs.map(_.durations.getOrElse("walCommit", 0.0)).toSeq),
        "get_batch_ms" -> med(bs.map(b => b.durations.getOrElse("getBatch", 0.0) +
          b.durations.getOrElse("latestOffset", 0.0)).toSeq),
        "state_commit_ms" -> med(bs.map(_.stateCommitMs).toSeq),
        "state_rows_total" -> (bs.map(_.stateRows) :+ 0.0).max,
        "state_memory_bytes" -> (bs.map(_.stateBytes) :+ 0.0).max,
        "rows_dropped_by_watermark" -> bs.map(_.dropped).sum)
    }
  }

  private def union(ws: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ws.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }
}

object Listeners {
  final case class StageRec(wallMs: Double, maxTaskMs: Double, medianTaskMs: Double, tasks: Int)
  final case class Batch(durations: Map[String, Double], stateRows: Double, stateBytes: Double,
      stateCommitMs: Double, dropped: Double)

  /** Position in the listeners' records, taken at a span start. */
  final case class Snapshot(counters: Map[String, Double], jobs: Int, stages: Int, batches: Int)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
