package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `query_mix`: a fixed list of registered queries, each forced through
  * a `noop` write, back to back. The seed sets only the order, which
  * changes from pass to pass, so a run's figures average over orders. */
final class QueryMix(spark: SparkSession, tables: String, seed: Long) extends Workload {
  private val registered = SparkEntry.allQueries.map(q => q.name -> q).toMap
  require(QueryMix.Names.forall(registered.contains),
    s"unregistered queries: ${QueryMix.Names.filterNot(registered.contains)}")
  private def orderOf(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(QueryMix.Names)
  val order: Seq[String] = orderOf(0)
  private var passes = 0
  val items: Long = order.size.toLong
  /** Two warm passes after the cold pass that writes the outputs. */
  val warmups = 2

  /** Writes every query's result and its oracle SQL for the DuckDB
    * check; doubles as the warm-up. Returns the queries that threw. */
  def dump(out: Path): Set[String] = {
    Files.createDirectories(out)
    val failed = order.filterNot { name =>
      try {
        registered(name).spark(spark, tables).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(name).toString)
        true
      } catch { case e: Exception => System.err.println(s"[perfbench] $name failed: $e"); false }
    }
    val oracle = order.flatMap(n => registered(n).oracle.map(n -> _))
    Files.write(out.resolve("oracle_sql.json"),
      Json.obj(oracle).getBytes(StandardCharsets.UTF_8))
    failed.toSet
  }

  def pass(trace: Option[Traced]): PassResult = {
    passes += 1
    val ran = orderOf(passes)
    def runAll(): Seq[(Boolean, Double)] = ran.map { name =>
      def run(): (Boolean, Double) = Clock.timed {
        try { registered(name).spark(spark, tables).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Exception => System.err.println(s"[perfbench] $name failed: $e"); false }
      }
      trace match {
        case None => run()
        case Some(t) => t.span(s"query:$name")(run())
      }
    }
    val (results, ms) = Clock.timed(trace match {
      case None => runAll()
      case Some(t) => t.span("pass")(runAll())
    })
    System.err.println("[perfbench] queries: " + ran.zip(results).map { case (n, (_, t)) => f"$n $t%.0f" }.mkString(", "))
    // operations in list order, whatever order they ran in
    val byName = ran.zip(results).toMap
    PassResult(ms, QueryMix.Names.map(byName(_)._2), results.count(!_._1))
  }

  /** Each query's median over the passes: a percentile then names a
    * query of the mix, whatever the number of passes. */
  override def latencies(passes: Seq[PassResult]): Seq[Double] =
    passes.map(_.opsMs).transpose.map(Stats.median)

  /** The sum of each query's median over the passes: one slow query in
    * one pass moves it less than it moves a median of a few pass totals. */
  override def passMs(passes: Seq[PassResult]): Double = latencies(passes).sum

  /** Three, so that each query's median rejects one slow run of it. */
  override def minPasses: Int = 3
}

object QueryMix {
  /** Registered queries with a DuckDB oracle, two from each family,
    * picked among the cheapest of each on the generated tables so a pass
    * fits several times into a run: a budget choice, not measured
    * traffic. Two of them cut lineage with `localCheckpoint`. */
  val Names: Seq[String] = Seq(
    "topn_customers", "window_top_supplier_per_nation", // relational
    "trip_aggregation", "deposit_balances", // sessions and trips
    // streaming: SessionPipeline.statefulSessionizeEventTime, and a stream-static join
    "streaming_stateful_sessionize", "streaming_enrich",
    "text_quality", "text_fingerprint", // text and corpus
    "dedup_exact_docs", "ann_bruteforce_topk", // dedup
    "kmeans_assign", "embedding_centroids", // vector
    "graph_assortativity", "graph_minplus_2hop", // graph
    "mcnemar_test", "anova_effect_size") // statistics
}
