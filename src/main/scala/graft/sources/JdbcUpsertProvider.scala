package graft.sources

import java.util
import graft.sinks.JdbcUpsertSink
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE connector over the batched JDBC upsert — the
  * sink-side counterpart of `SynthProvider`, exercising Spark's v2
  * commit protocol, which the `foreachPartition` spelling cannot:
  *
  *  - each task opens one connection, upserts its partition through
  *    `JdbcUpsertSink.PartitionUpserter` under an OPEN transaction;
  *  - task `commit()` commits the transaction and reports a
  *    row-count `WriterCommitMessage`; task `abort()` ROLLS BACK, so
  *    a failed or speculatively-retried task leaves no partial rows
  *    (as the foreachPartition path's transaction per partition
  *    does);
  *  - the driver-side job `commit(messages)` observes the per-task
  *    row counts (`JdbcUpsertProvider.lastCommittedRows`).
  *
  * Usage:
  * {{{
  * df.write.format("graft.sources.JdbcUpsertProvider")
  *   .option("url", url).option("driver", driver)
  *   .option("dbtable", "accounts")
  *   .option("keys", "id").option("vals", "balance,is_terminator")
  *   .option("dialect", "derby")          // or postgres (default)
  *   .mode("append").save()
  * }}}
  */
class JdbcUpsertProvider extends TableProvider {
  // write-only source: the schema is the incoming query's
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "graft.sources.JdbcUpsertProvider is write-only")
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new JdbcUpsertTable(schema, properties)
}

object JdbcUpsertProvider {
  /** Total rows acknowledged by the most recent job commit (test
    * observability for the commit protocol; set on the driver).
    */
  @volatile var lastCommittedRows: Long = -1L
}

private[sources] class JdbcUpsertTable(schema: StructType,
    properties: util.Map[String, String]) extends Table with SupportsWrite {

  private def opt(key: String): String =
    Option(properties.get(key)).getOrElse(
      throw new IllegalArgumentException(s"JdbcUpsertProvider: missing option '$key'"))

  override def name(): String = s"graft_jdbc_upsert(${properties.get("dbtable")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val keys = opt("keys").split(",").map(_.trim).toSeq
    val vals = opt("vals").split(",").map(_.trim).toSeq
    val sink = new JdbcUpsertSink(
      url = opt("url"),
      driver = opt("driver"),
      table = opt("dbtable"),
      keyCols = keys,
      valCols = vals,
      updateExprs = Option(properties.get("updateexprs"))
        .map(_.split(";").map { kv =>
          val Array(k, v) = kv.split("=", 2); k.trim -> v.trim
        }.toMap).getOrElse(Map.empty),
      batchSize = Option(properties.get("batchsize")).map(_.toInt).getOrElse(5000),
      dialect = Option(properties.get("dialect")).getOrElse("postgres"),
      user = Option(properties.get("user")),
      password = Option(properties.get("password")))
    new WriteBuilder {
      override def build(): Write =
        new JdbcUpsertWrite(sink, info.schema(), keys ++ vals)
    }
  }
}

private[sources] class JdbcUpsertWrite(sink: JdbcUpsertSink,
    schema: StructType, cols: Seq[String]) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new JdbcUpsertWriterFactory(sink, schema, cols)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    JdbcUpsertProvider.lastCommittedRows =
      messages.map(_.asInstanceOf[JdbcCommit].rows).sum
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] case class JdbcCommit(rows: Long) extends WriterCommitMessage

private[sources] class JdbcUpsertWriterFactory(sink: JdbcUpsertSink,
    schema: StructType, cols: Seq[String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val conn = sink.connect()
      conn.setAutoCommit(false)
      // reorder the incoming row to the sink's (keys ++ vals) order
      private val order = cols.map(schema.fieldIndex).toArray
      private val projSchema = StructType(cols.map(c => schema(c)))
      private val up = new sink.PartitionUpserter(conn, projSchema)
      private val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      private var n = 0L

      override def write(record: InternalRow): Unit = {
        val full = toRow(record).asInstanceOf[Row]
        up.write(Row.fromSeq(order.toIndexedSeq.map(full.get)))
        n += 1
      }
      override def commit(): WriterCommitMessage = {
        up.flush()
        conn.commit()
        JdbcCommit(n)
      }
      override def abort(): Unit =
        // roll the open transaction back: a failed/retried task
        // leaves no partial rows behind
        try conn.rollback() catch { case _: java.sql.SQLException => }
      override def close(): Unit = {
        try up.close() catch { case _: java.sql.SQLException => }
        conn.close()
      }
    }
}
