package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial column functions.
  *
  * Re-expresses the reference's great-circle math
  * (reference: TripAggregatorApplication.kt:27-51) as a composition of
  * native Spark functions — stays inside whole-stage codegen, no UDF
  * serialization, fully distributed.
  */
object GeoFunctions {

  private val EarthRadiusKm = 6371.0

  def degToRad(c: Column): Column = c * lit(math.Pi) / lit(180.0)

  /** Haversine great-circle distance in kilometers between
    * (lat1, lon1) and (lat2, lon2), all in degrees.
    *
    * h = sin²(Δφ/2) + cos φ1 · cos φ2 · sin²(Δλ/2)
    * d = 2 R asin(√h)
    *
    * (The reference implementation at TripAggregatorApplication.kt:31-51
    * swaps lat/lon into its x/y names and mixes up the deltas; we keep
    * the textbook formula — the reference's *capability* is
    * "pairwise GPS distance", which this provides correctly.)
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val phi1 = degToRad(lat1)
    val phi2 = degToRad(lat2)
    val dPhi = degToRad(lat2 - lat1)
    val dLambda = degToRad(lon2 - lon1)
    val h =
      pow(sin(dPhi / 2), 2) +
        cos(phi1) * cos(phi2) * pow(sin(dLambda / 2), 2)
    lit(2.0 * EarthRadiusKm) * asin(sqrt(h))
  }

  /** Same formula on doubles, for row-at-a-time code (the trip fold,
    * the stateful trip aggregate). It spells the Column version's
    * operations in the order Spark's generated code runs them — degrees
    * to radians as `(x * π) / 180`, `java.lang.StrictMath.pow` for
    * `pow`, `java.lang.Math` for sin, cos, sqrt and asin — so the two
    * give bit-identical distances.
    */
  def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val phi1 = lat1 * math.Pi / 180.0
    val phi2 = lat2 * math.Pi / 180.0
    val dPhi = (lat2 - lat1) * math.Pi / 180.0
    val dLambda = (lon2 - lon1) * math.Pi / 180.0
    val h =
      StrictMath.pow(Math.sin(dPhi / 2.0), 2.0) +
        Math.cos(phi1) * Math.cos(phi2) * StrictMath.pow(Math.sin(dLambda / 2.0), 2.0)
    2.0 * EarthRadiusKm * Math.asin(Math.sqrt(h))
  }

  /** Same formula as a SQL string fragment, used to keep the DuckDB
    * oracle bit-for-bit aligned with the Spark plan (same operation
    * order). Arguments are SQL expressions in degrees.
    */
  def haversineKmSql(lat1: String, lon1: String, lat2: String, lon2: String): String = {
    def rad(e: String) = s"(($e) * PI() / 180.0)"
    val phi1 = rad(lat1)
    val phi2 = rad(lat2)
    val dPhi = rad(s"($lat2) - ($lat1)")
    val dLambda = rad(s"($lon2) - ($lon1)")
    s"(2.0 * 6371.0 * asin(sqrt(pow(sin($dPhi / 2), 2) + cos($phi1) * cos($phi2) * pow(sin($dLambda / 2), 2))))"
  }
}
