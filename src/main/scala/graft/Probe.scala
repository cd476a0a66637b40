package graft
import java.nio.file.{Files, Paths}

/** Local optimization-iteration aid (round 13): time named queries
  * through the noop sink (bench methodology, guide §1.4) and dump
  * their `.explain("formatted")` plans.
  *
  * Usage: runMain graft.Probe <sfDir> <outDir> <q1,q2,...> [samples]
  * Writes <outDir>/<name>_plan.txt and prints one timing line per
  * sample. Never run by the driver — Bench.scala is the contract.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val samples = if (args.length > 3) args(3).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // extra confs for A/B experiments: SPARK_GRAFT_PROBE_CONF="k=v;k=v"
    val extra = sys.env.get("SPARK_GRAFT_PROBE_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = GraftSession.build("graft-probe", cpus, "ERROR", extra)
    new java.io.File(outDir).mkdirs()
    def release(): Unit = {
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = true))
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_stream_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      System.gc()
    }
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[probe] unknown query: $n")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          Files.writeString(Paths.get(s"$outDir/${n}_plan.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          var i = 0
          while (i < samples) {
            release()
            spark.sparkContext.setJobDescription(s"probe:$n#$i")
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val t = (System.nanoTime() - t0) / 1e9
            println(f"[probe] $n sample$i $t%.3f s")
            i += 1
          }
      }
    }
    spark.stop()
  }
}
