package graft.operators

import graft.functions.GeoFunctions
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-key trip/session aggregation.
  *
  * Re-expresses the reference's incremental
  * AggregateFunction<Trip, TripAggregation, TripAggregation>
  * (reference: TripAggregatorApplication.kt:58-164):
  *  - distance     = Σ haversine over consecutive GPS points (:120-127)
  *  - total time   = max(ts) − min(ts)                         (:108-118)
  *  - stopped time = Σ time deltas inside consecutive runs of
  *                   speed < 5 km/h                            (:128-141)
  *  - moving time  = total − stopped                           (:146-148)
  *
  * Plan: one hash exchange on the key, one sort by (key, `orderCols`),
  * and one streaming pass (`flatMapSortedGroups`) that folds each
  * key's sorted run into its output row. The exchange and the sort are
  * the grouped operator's child requirements, so an input already
  * partitioned on the key adds none. There is no Window and no
  * HashAggregate.
  *
  * Memory: the fold keeps O(1) state per key — counters and the
  * previous row — and reads each group through Spark's grouped
  * iterator, so a key with millions of events is never buffered (a
  * WindowExec buffers a whole key group) and the reference's per-key
  * TreeSets have no counterpart. Only the sort can spill.
  *
  * A run of consecutive low-speed readings contributes
  * (last.ts − first.ts) = Σ consecutive deltas inside the run, so
  * summing `delta` over rows where BOTH endpoints are low-speed is
  * exactly the reference's run-based sum.
  *
  * The fold keeps the null rules of the lag-window + groupBy spelling
  * it replaced (the `trip_aggregation` oracle SQL still spells it):
  *  - the first leg of a key, or a leg after a null lat, counts 0.0;
  *  - a leg whose haversine is null (a null lon, or a null lat of its
  *    own) is skipped by the sum;
  *  - a stopped delta counts only when both speeds are non-null and
  *    below the threshold, and is skipped when a tsec is null;
  *  - `total_s` is max − min over the non-null `tsec`.
  * Legs are added in row order with [[GeoFunctions.haversineKm]]'s
  * scalar form, so distances are bit-identical to that spelling.
  */
object TripAggregator {

  /** @param orderCols ascending time order within a key (columns, not
    *                  sort orders; nulls first, as `Window.orderBy`);
    *                  tie-break it (e.g. ts, event_id) for a
    *                  deterministic distance.
    */
  def aggregate(
      df: DataFrame,
      key: Column,
      tsec: Column,
      lat: Column,
      lon: Column,
      speedKmh: Column,
      lowSpeedThreshold: Double = 5.0,
      orderCols: Seq[Column]): DataFrame = {
    val order = orderCols.indices.map(i => s"_fold_order$i")
    // the fold reads (tsec, lat, lon, speed) at positions 1-4
    val in = df.select(Seq(
      key.as("trip_key"),
      tsec.cast(LongType).as("_fold_tsec"),
      lat.cast(DoubleType).as("_fold_lat"),
      lon.cast(DoubleType).as("_fold_lon"),
      speedKmh.cast(DoubleType).as("_fold_speed")) ++
      orderCols.zip(order).map { case (c, n) => c.as(n) }: _*)
    val keyField = in.schema.head
    val out = StructType(Seq(
      keyField,
      StructField("n_events", LongType, nullable = false),
      StructField("total_s", LongType),
      StructField("stopped_s", LongType),
      StructField("distance_km", DoubleType),
      StructField("moving_s", LongType)))
    in.groupBy(col("trip_key"))
      .as(Encoders.row(StructType(Seq(keyField))), Encoders.row(in.schema))
      .flatMapSortedGroups(order.map(col): _*) { (k: Row, rows: Iterator[Row]) =>
        Iterator.single(fold(k.get(0), rows, lowSpeedThreshold))
      }(Encoders.row(out))
      .toDF()
  }

  /** One key's output row from its rows in order. */
  private def fold(key: Any, rows: Iterator[Row], low: Double): Row = {
    var n = 0L
    var tMin, tMax = 0L
    var anyT = false
    var stopped = 0L
    var distance = 0.0
    // the previous row's tsec, lat, lon and speed, and which are null
    var pTNull, pLatNull, pLonNull, pSpeedNull = true
    var pT = 0L
    var pLat, pLon, pSpeed = 0.0
    while (rows.hasNext) {
      val r = rows.next()
      val tNull = r.isNullAt(1)
      val latNull = r.isNullAt(2)
      val lonNull = r.isNullAt(3)
      val speedNull = r.isNullAt(4)
      val t = if (tNull) 0L else r.getLong(1)
      val la = if (latNull) 0.0 else r.getDouble(2)
      val lo = if (lonNull) 0.0 else r.getDouble(3)
      val sp = if (speedNull) 0.0 else r.getDouble(4)
      // A first leg or one after a null lat adds 0.0: a no-op on a sum
      // that starts at +0.0 and never falls. The first row has no
      // previous row, so both of its terms are skipped.
      if (!pLatNull && !pLonNull && !latNull && !lonNull)
        distance += GeoFunctions.haversineKm(pLat, pLon, la, lo)
      if (!pSpeedNull && !speedNull && below(sp, low) && below(pSpeed, low) && !tNull && !pTNull)
        stopped = Math.addExact(stopped, Math.subtractExact(t, pT))
      if (!tNull) {
        if (!anyT || t < tMin) tMin = t
        if (!anyT || t > tMax) tMax = t
        anyT = true
      }
      pTNull = tNull; pLatNull = latNull; pLonNull = lonNull; pSpeedNull = speedNull
      pT = t; pLat = la; pLon = lo; pSpeed = sp
      n += 1
    }
    if (anyT) {
      val total = Math.subtractExact(tMax, tMin)
      Row(key, n, total, stopped, distance, Math.subtractExact(total, stopped))
    } else Row(key, n, null, stopped, distance, null)
  }

  /** Spark's `<` on doubles (NaN sorts above every number). */
  private def below(x: Double, y: Double): Boolean = SQLOrderingUtil.compareDoubles(x, y) < 0
}
