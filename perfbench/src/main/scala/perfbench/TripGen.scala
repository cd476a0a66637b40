package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One generated telemetry line with the ground truth the reference
  * reads. `lat`/`lon`/`speed` are NaN on lines without a GPS reading;
  * `valid` is false for the malformed lines the parser must drop.
  */
final case class Msg(
    trip: Long,
    tsec: Long,
    kind: String,
    lat: Double,
    lon: Double,
    speed: Double,
    valid: Boolean,
    line: String) {
  def hasGps: Boolean = !lat.isNaN
}

/** The traffic dimensions the generator varies. The 3 s out-of-order
  * bound is the reference application's; the default shares, skew and
  * concurrency are assumptions chosen so each dimension shows in a
  * short run, not measured traffic (see perfbench/README.md).
  *
  * @param trips          number of trips
  * @param readings       approximate number of valid messages in total
  * @param lengthSkew     Zipf exponent of trip lengths: one long-haul
  *                       trip holds a large share of the messages, so
  *                       the keyed shuffle and window see task skew
  * @param malformedShare extra corrupt lines per valid message
  *                       (truncated frames, garbage, missing trip id)
  * @param disorderShare  share of messages delivered one step (2 s)
  *                       late, inside the reference's 3 s bound
  * @param lateShare      share of readings delivered far beyond the
  *                       3 s bound, which take the sessionizer's late path
  * @param pauseShare     share of trips with one parked stretch longer
  *                       than the inactivity gap, so a trip splits into
  *                       two sessions and the sink sees updates
  * @param concurrency    trips active at once on average; starts are
  *                       uniform, so trip ends are staggered
  * @param files          number of files the arrival order is cut into
  */
final case class TripShape(
    trips: Int,
    readings: Int,
    lengthSkew: Double = 0.8,
    malformedShare: Double = 0.01,
    disorderShare: Double = 0.1,
    lateShare: Double = 0.005,
    pauseShare: Double = 0.3,
    concurrency: Int = 50,
    files: Int = 4)

/** Seeded generator of reference-shaped JSON trip telemetry.
  *
  * Every message sits on an even second and the streaming watermark
  * delay is odd (3 s), so an event time never equals a watermark: the
  * late-drop decision has no ties. A message delayed for disorder
  * arrives after every message up to 2 s newer, never later, so it is
  * always on time; a late message arrives at least `GapS` seconds
  * after its event time.
  */
object TripGen {
  val StepS = 2L
  val GapS = 20L
  val DelayS = 3L
  private val Epoch0 = 1709251200L // 2024-03-01T00:00:00Z

  final case class Generated(files: IndexedSeq[IndexedSeq[Msg]]) {
    def all: IndexedSeq[Msg] = files.flatten
    def valid: IndexedSeq[Msg] = all.filter(_.valid)
    def lines: Long = files.iterator.map(_.size.toLong).sum
  }

  def generate(shape: TripShape, seed: Long): Generated = {
    val rnd = new SplittableRandom(seed)
    val weights = Array.tabulate(shape.trips)(i => 1.0 / math.pow(i + 1, shape.lengthSkew))
    shuffle(weights, rnd)
    val wSum = weights.sum
    val lengths = weights.map(w => math.max(8, math.round(shape.readings * w / wSum).toInt))
    val durations = lengths.map(_ * StepS + GapS * 3)
    val horizon = math.max(durations.sum / shape.concurrency, (durations.max * 1.2).toLong)

    // (arrival key, sequence) per message; sorting gives delivery order
    val out = ArrayBuffer.empty[(Long, Long, Msg)]
    var seq = 0L
    def emit(key: Long, m: Msg): Unit = { out += ((key, seq, m)); seq += 1 }

    var i = 0
    while (i < shape.trips) {
      val trip = 1000L + i
      val start = 2 * (rnd.nextLong(math.max(1L, (horizon - durations(i)) / 2)) + 1)
      val pauseAt = if (rnd.nextDouble() < shape.pauseShare) 2 + rnd.nextInt(lengths(i) - 4) else -1
      var t = start
      var lat = 52.0 + rnd.nextDouble()
      var lon = 4.5 + rnd.nextDouble()
      var heading = rnd.nextDouble() * 360.0
      var moving = false
      var speed = 0.0
      var k = 0
      while (k < lengths(i)) {
        if (k == pauseAt) t += GapS + StepS * (5 + rnd.nextInt(15))
        val last = k == lengths(i) - 1
        val kind =
          if (k == 0) "TripStartRelativeTime"
          else if (last) "TripEnd"
          else if (rnd.nextDouble() < 0.03) "TripEvent"
          else "TripData"
        val m = kind match {
          case "TripData" =>
            if (moving && rnd.nextDouble() < 0.05) moving = false
            else if (!moving && rnd.nextDouble() < 0.15) moving = true
            speed =
              if (moving) math.min(120.0, math.max(10.0, speed + 0.5 * (rnd.nextInt(21) - 10)))
              else 0.5 * rnd.nextInt(10)
            heading = (heading + rnd.nextDouble() * 20.0 - 10.0 + 360.0) % 360.0
            val km = speed * StepS / 3600.0
            lat = round6(lat + km * math.cos(math.toRadians(heading)) / 111.0)
            lon = round6(lon + km * math.sin(math.toRadians(heading)) /
              (111.0 * math.cos(math.toRadians(lat))))
            Msg(trip, t, kind, lat, lon, speed, valid = true, dataLine(trip, t, lat, lon, speed, heading, rnd))
          case other =>
            Msg(trip, t, other, Double.NaN, Double.NaN, Double.NaN, valid = true, otherLine(trip, t, other, rnd))
        }
        val roll = rnd.nextDouble()
        val key =
          if (kind == "TripData" && roll < shape.lateShare)
            (t + GapS + StepS * rnd.nextInt(30)) * 4 + 3
          else if (roll < shape.lateShare + shape.disorderShare) (t + StepS) * 4 + 3
          else t * 4 + rnd.nextInt(2)
        emit(key, m)
        if (rnd.nextDouble() < shape.malformedShare) emit(key, malformed(m, rnd))
        t += StepS
        k += 1
      }
      i += 1
    }
    val ordered = out.sortBy(e => (e._1, e._2)).map(_._3).toIndexedSeq
    val per = (ordered.size + shape.files - 1) / shape.files
    Generated(ordered.grouped(per).toIndexedSeq)
  }

  /** Writes one JSON-lines file per chunk; returns the file paths.
    * Modification times increase with the file index, because a file
    * stream source replays files in modification-time order. */
  def write(g: Generated, dir: Path): Seq[Path] = {
    Files.createDirectories(dir)
    g.files.zipWithIndex.map { case (msgs, i) =>
      val p = dir.resolve(f"part-$i%05d.json")
      val sb = new java.lang.StringBuilder(msgs.size * 320)
      msgs.foreach(m => sb.append(m.line).append('\n'))
      Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis((Epoch0 + i) * 1000L))
      p
    }
  }

  private def shuffle(a: Array[Double], rnd: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val tmp = a(i); a(i) = a(j); a(j) = tmp
      i -= 1
    }
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  private def iso(t: Long): String = Instant.ofEpochSecond(Epoch0 + t).toString

  private def head(trip: Long, t: Long, kind: String): String =
    s"""{"body":{"tripNumber":$trip,"timestamp":"${iso(t)}","type":"$kind""""

  private def dataLine(trip: Long, t: Long, lat: Double, lon: Double, speed: Double,
      heading: Double, rnd: SplittableRandom): String = {
    val rpm = 800.0 + speed * 30.0 + rnd.nextInt(200)
    val load = 10.0 + rnd.nextInt(80)
    val coolant = 70.0 + rnd.nextInt(30)
    val throttle = 5.0 + rnd.nextInt(60)
    val sats = 4.0 + rnd.nextInt(9)
    head(trip, t, "TripData") +
      s""","pidData":{"VehicleSpeed":$speed,"EngineRpm":$rpm,"CalcEngineLoad":$load,""" +
      s""""EngineCoolantTemp":$coolant,"ThrottlePosition":$throttle,"MilStatus":{"commandedOn":false,"numCodes":0.0},""" +
      s""""GpsReading":{"latitude":$lat,"longitude":$lon,"heading":${round6(heading)},""" +
      s""""horizontalDilutionOfPrecision":1.2,"numberOfSatellites":$sats,"hemisphere":"N","fixQuality":"Standard"}}}}"""
  }

  private def otherLine(trip: Long, t: Long, kind: String, rnd: SplittableRandom): String =
    kind match {
      case "TripStartRelativeTime" =>
        head(trip, t, kind) + s""","odometer":${10000.0 + rnd.nextInt(90000)},""" +
          s""""vehicleProtocol":"CAN11Bit","vin":"WVWZZZ1JZ${trip}X"}}"""
      case "TripEnd" =>
        head(trip, t, kind) + s""","odometer":${10000.0 + rnd.nextInt(90000)},""" +
          s""""fuelConsumed":${0.1 * rnd.nextInt(400)}}}"""
      case _ =>
        if (rnd.nextBoolean())
          head(trip, t, kind) + s""","eventData":{"geoFence":{"type":"Entry","geoFenceId":${rnd.nextInt(50).toDouble}}}}}"""
        else
          head(trip, t, kind) + s""","eventData":{"accelerometer":{"secondsRelativeToTrigger":-1.5,""" +
            s""""accelerometerType":"Triggered","triggeredAxis":"PositiveXAxis","samples":[{"x":0.1,"y":0.2,"z":9.8}]}}}}"""
    }

  /** A corrupt copy of `m`: a truncated frame, line noise, or a body
    * without a trip number. All three parse to a null trip id. */
  private def malformed(m: Msg, rnd: SplittableRandom): Msg = {
    val line = rnd.nextInt(3) match {
      case 0 => m.line.substring(0, 8 + rnd.nextInt(10))
      case 1 => f"#frame-error crc=0x${rnd.nextInt() & 0x7fffffff}%08x"
      case _ => s"""{"body":{"timestamp":"${iso(m.tsec)}","type":"TripData"}}"""
    }
    Msg(m.trip, m.tsec, m.kind, Double.NaN, Double.NaN, Double.NaN, valid = false, line)
  }
}
