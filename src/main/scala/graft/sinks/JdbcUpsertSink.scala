package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Batched JDBC upsert sink.
  *
  * Re-expresses the reference's hand-rolled JDBC output
  * (jdbc/JDBCOutputFormat.kt: batched PreparedStatement, batch 5000,
  * `INSERT ... ON CONFLICT DO UPDATE`; type mapping
  * jdbc/JDBCTypeUtil.kt). Spark-native shape: `foreachPartition` for
  * batch writes and `writeStream.foreachBatch(sink.writeBatch _)`
  * for streaming — each partition opens one connection and flushes
  * every `batchSize` rows, so throughput scales with executors and
  * no data funnels through the driver.
  *
  * Dialects: `postgres` emits ON CONFLICT upserts (the reference's
  * target), `derby` (the embedded test DB here) emulates the upsert
  * with batched UPDATE-then-INSERT (see `PartitionUpserter`).
  * `updateExprs` customizes the conflict action — e.g. the
  * reference's running `balance = balance + excluded.balance`
  * accumulation (TripAggregatorApplication.kt:228-233).
  *
  * Failure semantics: every dialect commits ONE transaction per
  * partition, so a failed or speculatively-retried task re-applies
  * against a database that saw none of its rows. Note that
  * accumulating `updateExprs` (`balance = balance + excluded.balance`)
  * are still only exactly-once per JOB retry if re-runs are fenced —
  * key rows by a batch/epoch id (the streaming path passes `batchId`
  * for exactly this) or stage-and-merge when job-level retries are
  * possible.
  */
class JdbcUpsertSink(
    url: String,
    driver: String,
    table: String,
    keyCols: Seq[String],
    valCols: Seq[String],
    updateExprs: Map[String, String] = Map.empty,
    batchSize: Int = 5000,
    dialect: String = "postgres",
    user: Option[String] = None,
    password: Option[String] = None,
    fenceTable: Option[String] = None,
    fenceBuckets: Int = 32) extends Serializable {

  private def cols: Seq[String] = keyCols ++ valCols

  /** Postgres-style: INSERT ... ON CONFLICT (keys) DO UPDATE SET ... */
  private def postgresSql: String = {
    val sets = valCols.map { c =>
      val e = updateExprs.getOrElse(c, s"excluded.$c")
      s"$c = $e"
    }.mkString(", ")
    s"""INSERT INTO $table (${cols.mkString(", ")})
       |VALUES (${cols.map(_ => "?").mkString(", ")})
       |ON CONFLICT (${keyCols.mkString(", ")}) DO UPDATE SET $sets""".stripMargin
  }

  /** Derby (no usable MERGE-from-VALUES): classic two-statement
    * upsert emulation — UPDATE first, INSERT when no row matched,
    * both batched (see [[PartitionUpserter]]).
    * Derby requires typed parameters inside expressions, so every
    * `?` is wrapped in CAST(? AS <type>). Parameters: one per value
    * expression `?` occurrence, then keys.
    */
  private[sinks] def derbyUpdateSql(schema: StructType): String = {
    val sets = valCols.map { c =>
      val slot = s"CAST(? AS ${sqlType(schema(c).dataType)})"
      val e = updateExprs.getOrElse(c, slot)
        .replace(s"excluded.$c", slot).replace(s"$table.", "")
      s"$c = $e"
    }.mkString(", ")
    val on = keyCols
      .map(k => s"$k = CAST(? AS ${sqlType(schema(k).dataType)})")
      .mkString(" AND ")
    s"UPDATE $table SET $sets WHERE $on"
  }

  private[sinks] def insertSql: String =
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"

  def upsertSql(schema: StructType): String =
    if (dialect == "derby") derbyUpdateSql(schema) else postgresSql

  private def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case _: DecimalType => "DECIMAL(38,10)"
    case _ => "VARCHAR(4000)"
  }

  /** JDBCTypeUtil-style Spark-type → PreparedStatement setter. */
  private def bind(ps: PreparedStatement, idx: Int, dt: DataType, row: Row, field: Int): Unit = {
    if (row.isNullAt(field)) {
      ps.setObject(idx, null)
    } else dt match {
      case LongType => ps.setLong(idx, row.getLong(field))
      case IntegerType => ps.setInt(idx, row.getInt(field))
      case ShortType => ps.setShort(idx, row.getShort(field))
      case ByteType => ps.setByte(idx, row.getByte(field))
      case DoubleType => ps.setDouble(idx, row.getDouble(field))
      case FloatType => ps.setFloat(idx, row.getFloat(field))
      case BooleanType => ps.setBoolean(idx, row.getBoolean(field))
      case StringType => ps.setString(idx, row.getString(field))
      case TimestampType => ps.setTimestamp(idx, row.getTimestamp(field))
      case DateType => ps.setDate(idx, row.getDate(field))
      case BinaryType => ps.setBytes(idx, row.getAs[Array[Byte]](field))
      case d: DecimalType => ps.setBigDecimal(idx, row.getDecimal(field))
      case _ => ps.setObject(idx, row.get(field))
    }
  }

  private[graft] def connect(): Connection = {
    Class.forName(driver)
    user match {
      case Some(u) => DriverManager.getConnection(url, u, password.orNull)
      case None => DriverManager.getConnection(url)
    }
  }

  /** Per-partition upsert cursor over an open connection — the one
    * row-level implementation shared by `writeBatch` (foreachPartition
    * / foreachBatch) and the DataSource V2 write path
    * (`graft.sources.JdbcUpsertProvider`), which adds the v2 commit
    * protocol (task commit = txn commit, task abort = rollback) on
    * top. Caller owns the connection and its transaction; `flush()`
    * drains any pending statement batch without committing.
    * Rows must already be projected to (keyCols ++ valCols) order
    * with `schema` describing that projection.
    *
    * Derby batches its upsert emulation: pending rows queue as one
    * UPDATE batch; a flush runs it, then one INSERT batch of the rows
    * whose update count is 0. A row whose key is already pending
    * flushes first, so two rows of one key never share a batch — the
    * second updates the row the first inserted, and accumulating
    * `updateExprs` apply in row order.
    */
  private[graft] final class PartitionUpserter(conn: Connection, schema: StructType) {
    private val types = schema.fields.map(_.dataType)
    private val nKeys = keyCols.length
    private val derby = dialect == "derby"
    private val upd = if (derby) conn.prepareStatement(derbyUpdateSql(schema)) else null
    private val ins = if (derby) conn.prepareStatement(insertSql) else null
    private val ps = if (derby) null else conn.prepareStatement(postgresSql)
    private val slotCounts = if (!derby) Array.empty[Int] else valCols.map { c =>
      updateExprs.getOrElse(c, "?")
        .replace(s"excluded.$c", "?").replace(s"$table.", "")
        .count(_ == '?')
    }.toArray
    private var pending = 0
    // Derby: the rows in the pending UPDATE batch, and their keys
    private val pendingRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    private val pendingKeys = scala.collection.mutable.HashSet.empty[Seq[Any]]

    def write(row: Row): Unit =
      if (derby) {
        val key = (0 until nKeys).map(row.get)
        if (pendingKeys.contains(key)) flush()
        var idx = 1
        var v = 0
        while (v < slotCounts.length) {
          var s = 0
          while (s < slotCounts(v)) {
            bind(upd, idx, types(nKeys + v), row, nKeys + v)
            idx += 1; s += 1
          }
          v += 1
        }
        var k = 0
        while (k < nKeys) { bind(upd, idx, types(k), row, k); idx += 1; k += 1 }
        upd.addBatch()
        pendingRows += row
        pendingKeys += key
        if (pendingRows.length >= batchSize) flush()
      } else {
        bindRow(ps, row)
        ps.addBatch()
        pending += 1
        if (pending % batchSize == 0) ps.executeBatch()
      }

    /** Binds every column of `row` to `st`'s parameters, in order. */
    private def bindRow(st: PreparedStatement, row: Row): Unit = {
      var i = 0
      while (i < types.length) { bind(st, i + 1, types(i), row, i); i += 1 }
    }

    def flush(): Unit =
      if (derby) {
        if (pendingRows.nonEmpty) {
          val counts = upd.executeBatch()
          var inserts = 0
          var r = 0
          while (r < counts.length) {
            if (counts(r) == 0) {
              bindRow(ins, pendingRows(r))
              ins.addBatch()
              inserts += 1
            }
            r += 1
          }
          if (inserts > 0) ins.executeBatch()
          pendingRows.clear()
          pendingKeys.clear()
        }
      } else if (pending > 0) { ps.executeBatch(); pending = 0 }

    def close(): Unit = {
      if (derby) { upd.close(); ins.close() } else ps.close()
    }
  }

  /** Batch (or foreachBatch) write: one connection and ONE
    * transaction per partition. Postgres path: single batched ON
    * CONFLICT statement flushed every `batchSize` rows (the
    * production shape). Derby path: batched UPDATE-then-INSERT
    * emulation (see [[PartitionUpserter]]), the same transaction.
    *
    * EPOCH FENCING (`fenceTable`): with accumulating `updateExprs`
    * (balance = balance + excluded.balance) an upsert is NOT
    * idempotent, and Structured Streaming's foreachBatch contract is
    * at-least-once — a failed driver replays the whole micro-batch
    * under the SAME batchId, and a speculative/retried task replays
    * one partition. Passing a fence table upgrades the sink to
    * exactly-once: each partition's transaction first checks its
    * (table, batch, partition) fence row and SKIPS silently if
    * present, then applies its rows AND inserts the fence row in the
    * same transaction — the fence's primary key makes a racing
    * duplicate task's commit fail and roll back atomically, so under
    * any combination of batch replay and task retry every row is
    * applied exactly once. (This is why the fence must be per
    * partition and inside the data transaction: a driver-side
    * batch-level fence leaves a window where some partitions
    * committed and a replay double-applies them.)
    *
    * A partition fence is only sound if a replayed batch partitions
    * IDENTICALLY to the original attempt — otherwise previously
    * committed partition ids fence out rows that were never applied
    * while uncommitted rows re-apply. Upstream partitioning is NOT
    * replay-stable (AQE coalescing, a changed
    * spark.sql.shuffle.partitions, different source splits), so
    * fenced mode makes the invariant hold BY CONSTRUCTION: the batch
    * is hash-repartitioned on `keyCols` into a fixed `fenceBuckets`
    * partitions inside writeBatch. Row→partition assignment then
    * depends only on the key values and the bucket count, both stable
    * across replays of the same micro-batch. Fenced mode also
    * REQUIRES an explicit batchId >= 0 (foreachBatch always supplies
    * one): a caller-forgotten batchId would silently fence every
    * batch after the first as "already applied" — data loss with no
    * error.
    *
    * The fence table is caller-created:
    *   CREATE TABLE <fenceTable> (sink_table VARCHAR(128) NOT NULL,
    *     batch_id BIGINT NOT NULL, partition_id INTEGER NOT NULL,
    *     PRIMARY KEY (sink_table, batch_id, partition_id))
    */
  def writeBatch(df: DataFrame, batchId: Long = -1L): Unit = {
    require(fenceTable.isEmpty || batchId >= 0,
      s"fenced sink '$table' requires an explicit batchId >= 0 (got $batchId): " +
        "without one every batch after the first is silently fenced out as " +
        "a replay of batch 0 — pass the foreachBatch batchId through")
    val raw = df.select((keyCols ++ valCols).map(df.col): _*)
    // Replay-stable partitioning (see docstring): key-hash bucketing
    // with an explicit partition count, which AQE never coalesces.
    val projected =
      if (fenceTable.isEmpty) raw
      else raw.repartition(fenceBuckets, keyCols.map(raw.col): _*)
    val outSchema = projected.schema
    val fence = fenceTable
    val sinkTable = table
    projected.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val conn = connect()
        // Statement batches flush for memory mid-partition, but one
        // transaction commits per partition: a failed or
        // speculatively-retried task re-runs against a database that
        // saw none of its rows.
        conn.setAutoCommit(false)
        try {
          val alreadyApplied = fence.exists { ft =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val chk = conn.prepareStatement(
              s"SELECT 1 FROM $ft WHERE sink_table = ? AND batch_id = ? AND partition_id = ?")
            chk.setString(1, sinkTable); chk.setLong(2, batchId); chk.setInt(3, pid)
            val rs = chk.executeQuery()
            val hit = rs.next()
            rs.close(); chk.close()
            hit
          }
          if (!alreadyApplied) {
            val up = new PartitionUpserter(conn, outSchema)
            rows.foreach(up.write)
            up.flush()
            fence.foreach { ft =>
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val ins = conn.prepareStatement(
                s"INSERT INTO $ft (sink_table, batch_id, partition_id) VALUES (?, ?, ?)")
              ins.setString(1, sinkTable); ins.setLong(2, batchId); ins.setInt(3, pid)
              ins.executeUpdate() // PK violation here = a racing
              ins.close()         // duplicate won — this txn rolls back
            }
            conn.commit()
            up.close()
          } else {
            // Loud, not silent: a fence skip is correct under replay
            // but is the first thing to look at if totals look short.
            System.err.println(
              s"[JdbcUpsertSink] fence hit: table=$sinkTable batch=$batchId " +
                s"partition=${org.apache.spark.TaskContext.getPartitionId()} " +
                "already applied — skipping (replay/speculative retry)")
            // the fence check itself opened a read transaction —
            // end it (nothing to persist) or close() throws
            conn.rollback()
          }
        } catch {
          case t: Throwable =>
            try conn.rollback() catch { case _: Throwable => }
            throw t
        } finally conn.close()
      }
    }
  }

  /** Hook for writeStream.foreachBatch(sink.foreachBatchWriter). */
  def foreachBatchWriter: (DataFrame, Long) => Unit = writeBatch
}
