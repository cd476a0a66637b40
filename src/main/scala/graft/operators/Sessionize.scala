package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inactivity-gap sessionization (batch).
  *
  * Re-expresses the reference's keyed GlobalWindow + inactivity
  * trigger (reference: TripAggregatorApplication.kt:205-212,
  * ProcessingTimeTrigger.kt:30-42): a key's events belong to the same
  * session until a gap larger than `gapSeconds` appears; the trigger's
  * FIRE_AND_PURGE on timeout == closing the session.
  *
  * Plan shape (scale posture): ONE shuffle on the key, and the lag
  * and running-sum windows both reuse it. A downstream groupBy reuses
  * it too when it groups by the key columns themselves, e.g. (key,
  * session): HashPartitioning(key) satisfies
  * ClusteredDistribution(key, session). A downstream grouped by a key
  * DERIVED from them (the trip path's `trip_id * 100 + session_seq`)
  * does not, and reshuffles once more. No driver-side state, no
  * per-key collect.
  */
object Sessionize {

  /** Adds `session_seq` (1-based, per key, in time order) to `df`.
    *
    * @param orderCols  total order within a key — MUST be a unique
    *                   tie-broken order (e.g. ts, event_id) for
    *                   deterministic results.
    */
  def withSessionId(
      df: DataFrame,
      key: Column,
      tsecCol: Column,
      gapSeconds: Long,
      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // lag(tsec) as a column of its own: used twice inline, it is
    // planned as two window functions (_we0, _we1) computing one value
    val prev = col("_prev_tsec")
    val isNew = when(prev.isNull || (tsecCol - prev) > gapSeconds, 1).otherwise(0)
    df.withColumn("_prev_tsec", lag(tsecCol, 1).over(w))
      .withColumn("session_seq", sum(isNew).over(run))
      .drop("_prev_tsec")
  }
}
