package graft

import graft.model.TripModel
import graft.sinks.JdbcUpsertSink
import graft.streaming.SessionPipeline
import graft.streaming.SessionPipeline.Reading
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** An events-shaped streaming test record. */
case class Ev(user_id: Long, tsec: Long, value: Double)
case class DedupEv(event_id: Long, ts: java.sql.Timestamp)

/** Tolerant JSON → typed trip events (A1). */
class TripModelSpec extends SparkTestBase {
  import spark.implicits._

  // RDD-backed, so the executed plan (filter, generate, decode kernel)
  // runs: a local Seq would be folded into a LocalRelation and
  // evaluated at optimization
  private def rawDf(ls: Seq[String]) = spark.sparkContext.parallelize(ls, 2).toDF("raw")

  private val start =
    """{"body":{"tripNumber":7,"timestamp":"2020-01-01T00:00:00Z","type":"TripStartRelativeTime",
      |"odometer":1200,"vehicleProtocol":"CAN11Bit","vin":"VIN123"}}""".stripMargin.replace("\n", "")
  private val data =
    """{"body":{"tripNumber":7,"timestamp":"2020-01-01T00:00:05Z","type":"TripData",
      |"pidData":{"VehicleSpeed":42,"EngineRpm":2100,
      |"GpsReading":{"latitude":19.4,"longitude":-99.1,"heading":12,
      |"horizontalDilutionOfPrecision":1,"numberOfSatellites":7,
      |"hemisphere":"NorthWest","fixQuality":"Standard"},
      |"MilStatus":{"commandedOn":false,"numCodes":0},
      |"FuelStatus":{"closedLoopO2SensorFault":true,
      |"closedLoopO2SensorFuelControl":false,"openLoopDrivingConditions":false,
      |"openLoopSystemWideFault":false,"openLoopNotYetSatisfied":true},
      |"CommandedSecondaryAirStatus":{"pumpCommandedOnForDiagnostics":false,
      |"downstreamOfFirstCatalyticConverter":false,"fromOutsideAtmosphereOrOff":false,
      |"upstreamOfFirstCatalyticConverter":true},
      |"UnknownPid":{"x":1}}}}""".stripMargin.replace("\n", "")
  private val end =
    """{"body":{"tripNumber":7,"timestamp":"2020-01-01T00:10:00Z","type":"TripEnd",
      |"odometer":1212,"fuelConsumed":1.5}}""".stripMargin.replace("\n", "")

  test("parses the reference message shapes; malformed rows dropped") {
    val raw = rawDf(Seq(start, data, end, "not json at all", """{"body":{}}"""))
    val out = TripModel.parseRaw(raw, "raw").orderBy("ts")
    val rows = out.collect()
    assert(rows.length == 3) // malformed + missing tripNumber filtered
    val d = rows(1)
    assert(d.getAs[String]("event_type") == "TripData")
    assert(d.getAs[Double]("speed_kmh") == 42.0)
    assert(d.getAs[Double]("lat") == 19.4)
    assert(d.getAs[String]("gps_fix_quality") == "Standard")
    assert(d.getAs[Boolean]("fuel_o2_fault"))
    assert(d.getAs[Boolean]("sec_air_upstream"))
    assert(rows(0).getAs[String]("vin") == "VIN123")
    assert(rows(2).getAs[Double]("fuel_consumed") == 1.5)
  }

  test("parses TripEvent payloads (EventData.kt); invalid enums null out") {
    val accel =
      """{"body":{"tripNumber":9,"timestamp":"2020-01-01T01:00:00Z","type":"TripEvent",
        |"eventData":{"accelerometer":{"secondsRelativeToTrigger":2,
        |"accelerometerType":"Triggered","triggeredAxis":"NegativeZAxis",
        |"samples":[{"x":1,"y":2,"z":3},{"x":4,"y":5,"z":6}]}}}}""".stripMargin.replace("\n", "")
    val fence =
      """{"body":{"tripNumber":9,"timestamp":"2020-01-01T01:00:05Z","type":"TripEvent",
        |"eventData":{"timeFence":{"type":"End","tripId":9,"distanceTraveled":12.5,
        |"durationInMinutes":30},
        |"geoFence":{"type":"Entry","geoFenceId":77}}}}""".stripMargin.replace("\n", "")
    val badEnum =
      """{"body":{"tripNumber":9,"timestamp":"2020-01-01T01:00:10Z","type":"TripEvent",
        |"eventData":{"accelerometer":{"triggeredAxis":"SidewaysAxis"},
        |"geoFence":{"type":"Teleport","geoFenceId":1}}}}""".stripMargin.replace("\n", "")
    val out = TripModel.parseRaw(rawDf(Seq(accel, fence, badEnum)), "raw")
      .orderBy("ts").collect()
    assert(out.length == 3)
    assert(out(0).getAs[String]("accel_axis") == "NegativeZAxis")
    assert(out(0).getAs[Double]("accel_offset_s") == 2.0)
    assert(out(0).getAs[Int]("n_accel_points") == 2)
    assert(out(1).getAs[String]("time_fence_type") == "End")
    assert(out(1).getAs[Double]("time_fence_distance") == 12.5)
    assert(out(1).getAs[String]("geo_fence_type") == "Entry")
    assert(out(1).getAs[Int]("geo_fence_id") == 77)
    // reference valueOf() would throw -> tolerant-null here
    assert(out(2).getAs[String]("accel_axis") == null)
    assert(out(2).getAs[String]("geo_fence_type") == null)
  }

  test("full ParameterIdData breadth parses under class-name keys") {
    import org.apache.spark.sql.functions.col
    val msg =
      """{"body":{"tripNumber":11,"timestamp":"2020-01-01T02:00:00Z","type":"TripData",
        |"pidData":{"EngineOilTemperature":95,"FuelType":"Diesel",
        |"EngineFuelRate":7.25,"BarometricPressure":101,
        |"MonitorStatusInThisDriveCycle":{"isMisfireTestAvailable":true,
        |"isCatalystTestComplete":false},
        |"CatalystTemperature":[{"sensors":[{"temperatureInCelsius":300.5}]}],
        |"OxygenSensorsData":[{"sensors":[{"voltage":0.45,"shortTermFuelTrim":1.2}]}],
        |"MaximumValues":{"ofEquivalenceRatio":2.0,"ofOxygenSensorVoltage":8,
        |"ofOxygenSensorCurrentInMilliAmperes":1.5,
        |"ofIntakeManifoldAbsolutePressureInKiloPascals":255},
        |"OnBoardDiagnosticsStandardConformation":["OBDII","EOBD"],
        |"AcceleratorPedalPosition":{"positionPercentD":10,"positionPercentE":11,
        |"positionPercentF":12}}}}""".stripMargin.replace("\n", "")
    val row = rawDf(Seq(msg))
      .select(TripModel.parse(col("raw")).as("m"))
      .select(
        col("m.body.pidData.EngineOilTemperature").as("oil"),
        col("m.body.pidData.FuelType").as("fuel"),
        col("m.body.pidData.MonitorStatusInThisDriveCycle.isMisfireTestAvailable").as("mis"),
        col("m.body.pidData.MonitorStatusInThisDriveCycle.isCatalystTestComplete").as("cat"),
        col("m.body.pidData.CatalystTemperature")(0)("sensors")(0)("temperatureInCelsius").as("ct"),
        col("m.body.pidData.OxygenSensorsData")(0)("sensors")(0)("voltage").as("v"),
        col("m.body.pidData.MaximumValues.ofEquivalenceRatio").as("mer"),
        col("m.body.pidData.OnBoardDiagnosticsStandardConformation").as("obd"),
        col("m.body.pidData.AcceleratorPedalPosition.positionPercentE").as("pedal"))
      .head()
    assert(row.getAs[Double]("oil") == 95.0)
    assert(row.getAs[String]("fuel") == "Diesel")
    assert(row.getAs[Boolean]("mis") && !row.getAs[Boolean]("cat"))
    assert(row.getAs[Double]("ct") == 300.5)
    assert(row.getAs[Double]("v") == 0.45)
    assert(row.getAs[Double]("mer") == 2.0)
    assert(row.getSeq[String](row.fieldIndex("obd")) == Seq("OBDII", "EOBD"))
    assert(row.getAs[Double]("pedal") == 11.0)
  }
}

/** `parseRaw`/`parseDeposits` decode each message once, and `parseRaw`
  * decodes only the fields it emits yet keeps the tolerant-null
  * contract of a full-schema parse.
  */
class TripParseSpec extends SparkTestBase
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._
  import org.apache.spark.sql.DataFrame
  import graft.functions.{JsonDecode, JsonExpressions}
  import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
  import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

  // an RDD-backed frame: a local Seq would be folded into a
  // LocalRelation at optimization, leaving no decode in the plan
  private def rawDf(ls: Seq[String]): DataFrame =
    spark.sparkContext.parallelize(ls, 2).toDF("raw")

  /** The JSON decodes in the executed plan: `from_json`'s
    * JsonToStructs and the decode kernel alike.
    */
  private def decodes(df: DataFrame): Seq[Expression] =
    collect(df.queryExecution.executedPlan) { case p =>
      p.expressions.flatMap(_.collect {
        case j: JsonToStructs => j
        case k: JsonDecode => k
      })
    }.flatten

  /** Nested field count of a type (struct members at every depth,
    * through array elements).
    */
  private def fieldCount(t: DataType): Int = t match {
    case s: StructType => s.fields.map(f => 1 + fieldCount(f.dataType)).sum
    case a: ArrayType => fieldCount(a.elementType)
    case _ => 0
  }

  private def ts(s: Int) = f"2020-01-01T00:00:$s%02dZ"
  private def msg(trip: String, s: Int, rest: String = "") =
    s"""{"body":{"tripNumber":$trip,"timestamp":"${ts(s)}","type":"TripData"$rest}}"""

  private val lines: Seq[String] = Seq(
    msg("1", 1, ""","vehicleProtocol":"CAN11Bit","odometer":10,"vin":"V1","fuelConsumed":0.5"""),
    msg("1", 2, ""","pidData":{"VehicleSpeed":10,"EngineRpm":900,"GpsReading":{"latitude":1.5,""" +
      """"longitude":2.5,"fixQuality":"Standard"},"MilStatus":{"commandedOn":true},""" +
      """"FuelStatus":{"closedLoopO2SensorFault":false},""" +
      """"CommandedSecondaryAirStatus":{"upstreamOfFirstCatalyticConverter":true},""" +
      """"RawAccelerometer":[{"offsets":[{"x":1,"y":2,"z":3}],"base":{"x":0,"y":0,"z":0}},{}]}"""),
    // a mistyped value in a pid parseRaw never reads, and in one it reads
    msg("2", 3, ""","pidData":{"VehicleSpeed":11,"FuelPressure":"high","EngineRpm":950}"""),
    msg("2", 4, ""","pidData":{"VehicleSpeed":"fast","EngineRpm":951}"""),
    msg("2", 5, ""","pidData":{"MonitorStatusInThisDriveCycle":{"isMisfireTestAvailable":"yes"},"VehicleSpeed":12}"""),
    // an object where an array is expected (read through size, and unread)
    msg("3", 6, ""","pidData":{"RawAccelerometer":{"base":{"x":1}},"VehicleSpeed":13}"""),
    msg("3", 7, ""","pidData":{"OxygenSensorsData":{"sensors":[]},"VehicleSpeed":14}"""),
    // an array where an object is expected (read, and unread)
    msg("3", 8, ""","pidData":{"GpsReading":[1,2],"VehicleSpeed":15}"""),
    msg("3", 9, ""","pidData":{"AcceleratorPedalPosition":[true],"VehicleSpeed":16}"""),
    msg("3", 10, ""","eventData":[{"gps":{}}]"""),
    // unknown keys at every level and duplicate keys
    """{"hdr":{"v":[1,2]},"body":{"tripNumber":4,"timestamp":"2020-01-01T00:00:11Z",""" +
      """"extra":"x","pidData":{"UnknownPid":{"x":1},"VehicleSpeed":17}}}""",
    """{"body":{"tripNumber":4,"tripNumber":5,"timestamp":"2020-01-01T00:00:12Z",""" +
      """"pidData":{"VehicleSpeed":1,"VehicleSpeed":2}}}""",
    // truncated and non-JSON lines, empty objects
    """{"body":{"tripNumber":6,"timestamp":"2020-01-01T00:00:13Z","pidData":{"VehicleSpeed":3""",
    """{"body":{"tripNumber":6,"timestamp":"2020-01-01T00:00:14Z","pidData":{"FuelType":"Diesel"""",
    "not json", "{}", """{"body":{}}""", "",
    // a string and a null tripNumber
    msg("\"7\"", 15), msg("null", 16),
    // the four event payloads, then invalid enums
    msg("8", 17, ""","eventData":{"accelerometer":{"secondsRelativeToTrigger":2,""" +
      """"accelerometerType":"Triggered","triggeredAxis":"NegativeZAxis","samples":[{"x":1},{"y":2}]}}"""),
    msg("8", 18, ""","eventData":{"timeFence":{"type":"End","tripId":8,"distanceTraveled":12.5,""" +
      """"durationInMinutes":30}}"""),
    msg("8", 19, ""","eventData":{"geoFence":{"type":"Entry","geoFenceId":77}}"""),
    msg("8", 20, ""","eventData":{"gps":{"latitude":"north","fixQuality":"Standard"}}"""),
    msg("9", 21, ""","vehicleProtocol":"CAN64Bit","pidData":{"GpsReading":{"fixQuality":"Perfect"}},""" +
      """"eventData":{"accelerometer":{"triggeredAxis":"SidewaysAxis"},"timeFence":{"type":"Middle"},""" +
      """"geoFence":{"type":"Teleport","geoFenceId":1.9}}"""))

  /** parseRaw as a full-contract parse: `TripModel.parse` (the whole
    * messageSchema), the 23 output columns and the trip_id filter.
    */
  private def reference(raw: DataFrame): DataFrame = {
    import TripModel._
    def oneOf(c: String, valid: Seq[String]) = when(col(c).isin(valid: _*), col(c))
    raw.select(parse(col("raw")).as("m")).select(
      col("m.body.tripNumber").as("trip_id"),
      to_timestamp(col("m.body.timestamp")).as("ts"),
      col("m.body.type").as("event_type"),
      col("m.body.odometer").as("odometer"),
      oneOf("m.body.vehicleProtocol", vehicleProtocols).as("vehicle_protocol"),
      col("m.body.vin").as("vin"),
      col("m.body.fuelConsumed").as("fuel_consumed"),
      col("m.body.pidData.VehicleSpeed").as("speed_kmh"),
      col("m.body.pidData.EngineRpm").as("rpm"),
      col("m.body.pidData.GpsReading.latitude").as("lat"),
      col("m.body.pidData.GpsReading.longitude").as("lon"),
      oneOf("m.body.pidData.GpsReading.fixQuality", gpsFixQualities).as("gps_fix_quality"),
      col("m.body.pidData.MilStatus.commandedOn").as("mil_on"),
      col("m.body.pidData.FuelStatus.closedLoopO2SensorFault").as("fuel_o2_fault"),
      col("m.body.pidData.CommandedSecondaryAirStatus.upstreamOfFirstCatalyticConverter")
        .as("sec_air_upstream"),
      size(col("m.body.pidData.RawAccelerometer")).as("n_accel_samples"),
      oneOf("m.body.eventData.accelerometer.triggeredAxis", triggeredAxes).as("accel_axis"),
      col("m.body.eventData.accelerometer.secondsRelativeToTrigger").as("accel_offset_s"),
      size(col("m.body.eventData.accelerometer.samples")).as("n_accel_points"),
      oneOf("m.body.eventData.timeFence.type", timeFenceTypes).as("time_fence_type"),
      col("m.body.eventData.timeFence.distanceTraveled").as("time_fence_distance"),
      oneOf("m.body.eventData.geoFence.type", geoFenceTypes).as("geo_fence_type"),
      col("m.body.eventData.geoFence.geoFenceId").cast("int").as("geo_fence_id"))
      .filter(col("trip_id").isNotNull)
  }

  test("parseRaw decodes once, with a schema cut to the fields it emits") {
    val parsed = TripModel.parseRaw(rawDf(lines), "raw")
    for (df <- Seq(parsed, parsed.select("trip_id", "ts", "lat", "lon", "speed_kmh"))) {
      val js = decodes(df)
      assert(js.length == 1, s"${js.length} JSON decodes:\n${df.queryExecution.executedPlan}")
      assert(js.head.isInstanceOf[JsonDecode], s"not the decode kernel: ${js.head}")
    }
    assert(fieldCount(TripModel.messageSchema) == 177)
    assert(fieldCount(decodes(parsed).head.dataType) == 44)
  }

  test("parseDeposits decodes once") {
    val raw = rawDf(Seq("""{"id":1,"amount":2.5,"timestamp":3}""", "bad"))
    val df = TripModel.parseDeposits(raw, "raw")
    assert(decodes(df).length == 1, s"${df.queryExecution.executedPlan}")
    assert(decodes(df).head.isInstanceOf[JsonDecode], s"${df.queryExecution.executedPlan}")
    assert(df.as[(Int, Double, Long, Boolean)].collect().toSeq == Seq((1, 2.5, 3L, false)))
  }

  test("parseRaw equals the full-schema parse on malformed and edge-case lines") {
    val raw = rawDf(lines)
    val got = TripModel.parseRaw(raw, "raw")
    val want = reference(raw)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(w.length == 17, w.mkString("\n")) // non-vacuous: most lines survive
    assert(g.sortBy(_.toString) == w.sortBy(_.toString),
      s"\ngot:\n${g.mkString("\n")}\nwant:\n${w.mkString("\n")}")
  }

  private def utf8(t: String): Array[Byte] = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private def bytes(parts: Any*): Array[Byte] = parts.flatMap {
    case t: String => utf8(t).toSeq
    case b: Int => Seq(b.toByte)
  }.toArray

  /** Lines at the decode kernel's plain/fallback boundary, as raw
    * bytes (some are not UTF-8). Deposit-shaped lines sit among the
    * trip-shaped ones, so each schema sees the other's as unread keys.
    */
  private val edgeLines: Seq[Array[Byte]] = Seq(
    // a number written as a string in a long, double and boolean field
    msg("\"12\"", 22), msg("12", 23, ""","odometer":"1.5""""),
    msg("12", 24, ""","pidData":{"MilStatus":{"commandedOn":"true"}}"""),
    """{"id":"1","amount":2.5}""",
    """{"id":1,"amount":"2.5","timestamp":"3","is_terminator":"true"}""",
    // NaN and Infinity as tokens and as strings
    msg("13", 25, ""","odometer":NaN,"fuelConsumed":-Infinity"""),
    msg("13", 26, ""","odometer":"NaN","fuelConsumed":"Infinity""""),
    msg("NaN", 27), """{"id":2,"amount":NaN}""", """{"id":3,"amount":"-Infinity"}""",
    """{"id":4,"amount":Infinity,"timestamp":"NaN"}""",
    // int overflow in id, long overflow in tripNumber, big-integer literals
    """{"id":2147483648,"amount":1}""", """{"id":-2147483649,"amount":1}""",
    """{"id":9,"timestamp":9223372036854775807}""",
    msg("9223372036854775808", 28), msg("-9223372036854775809", 29),
    msg("14", 30, ""","odometer":123456789012345678901234567890"""),
    msg("123456789012345678901234567890", 31), """{"id":5,"amount":1e400}""",
    msg("1e3", 32), msg("-0", 33, ""","odometer":-0.0"""),
    // a read key repeated: first mistyped, then valid (and both valid)
    """{"body":{"tripNumber":"x","tripNumber":15,"timestamp":"2020-01-01T00:00:32Z"}}""",
    """{"id":"x","id":6,"amount":1.0}""", """{"id":6,"id":7,"amount":1.0}""",
    msg("15", 34, ""","pidData":{"GpsReading":{"latitude":"n","latitude":1.5}}"""),
    // trailing garbage, a stray brace, a second root value
    msg("16", 35) + " garbage", msg("16", 36) + "}", msg("16", 37) + " " + msg("17", 38),
    """{"id":7} trailing""",
    // top-level arrays
    "[" + msg("18", 39) + "]", "[" + msg("18", 40) + "," + msg("19", 41) + "]", "[]",
    """[{"id":8,"amount":1.0}]""",
    // null nested structs
    """{"body":null}""",
    msg("20", 42, ""","pidData":null,"eventData":{"accelerometer":null,"timeFence":null}"""),
    msg("20", 43, ""","pidData":{"GpsReading":null,"MilStatus":null}"""),
    // arrays with null and with mistyped elements
    msg("21", 44, ""","pidData":{"RawAccelerometer":[null,{"base":null,"offsets":[null]}]}"""),
    msg("21", 45, ""","pidData":{"RawAccelerometer":[1,"x",{}]}"""),
    msg("21", 46, ""","eventData":{"accelerometer":{"samples":[null,{"x":"1"}]}}"""),
    msg("21", 47, ""","pidData":{"RawAccelerometer":[{"offsets":[{"x":true}]}]}"""),
    msg("21", 48, ""","pidData":{"RawAccelerometer":null}"""),
    // escapes, non-ASCII text, single quotes, surrounding whitespace
    msg("24", 49, ",\"vin\":\"a\\\"bé\\ud800\\/\""),
    msg("24", 50, ""","vin":"München €","type":"𝄞""""),
    """{'body':{'tripNumber':24,'vin':'single'}}""", "  " + msg("25", 51) + "  ",
    "\t" + """{"id":10,"amount":0.5}""" + "\r"
  ).map(utf8) ++ Seq(
    // invalid UTF-8 inside a read string and inside an unread one
    bytes("""{"body":{"tripNumber":22,"vin":"ab""", 0xFF, """cd"}}"""),
    bytes("""{"body":{"tripNumber":22,"extra":"ab""", 0xFF, """cd"}}"""),
    bytes("""{"body":{"tripNumber":22,"vin":"over""", 0xC0, 0xAF, """long"}}"""),
    bytes("""{"body":{"tripNumber":22,"vin":"sur""", 0xED, 0xA0, 0x80, """rogate"}}"""),
    bytes("""{"body":{"tripNumber":22,"extra":"cut""", 0xE2, 0x82, """"}}"""),
    bytes("""{"id":11,"note":"x""", 0xF8, 0x88, 0x80, 0x80, 0x80, """"}"""),
    // a BOM, a NUL byte
    bytes(0xEF, 0xBB, 0xBF, """{"body":{"tripNumber":23}}"""),
    bytes("""{"body":{"tripNumber":23,"vin":"a""", 0, """b"}}"""))

  private def bytesDf(ls: Seq[Array[Byte]]): DataFrame =
    spark.sparkContext.parallelize(ls.zipWithIndex, 3).toDF("bin", "i")
      .select(col("i"), col("bin").cast("string").as("raw"))

  /** The lines on which the kernel's row differs from `from_json`'s,
    * both decoded in one projection.
    */
  private def mismatches(raw: DataFrame, schema: StructType): Seq[String] =
    raw.select(col("i"), col("raw"),
        JsonExpressions.decodeJson(col("raw"), schema).as("k"),
        from_json(col("raw"), schema).as("j"))
      .collect().toSeq
      .filter(r => r.get(2) != r.get(3) || String.valueOf(r.get(2)) != String.valueOf(r.get(3)))
      .map(r => s"line ${r.getInt(0)}: ${r.getString(1)}\n  kernel:    ${r.get(2)}\n  from_json: ${r.get(3)}")

  private val schemas = Seq("read" -> TripModel.readSchema, "deposit" -> TripModel.depositSchema)

  test("the decode kernel equals from_json row for row on every edge line") {
    val raw = bytesDf(lines.map(utf8) ++ edgeLines)
    for ((name, schema) <- schemas) {
      val bad = mismatches(raw, schema)
      assert(bad.isEmpty, s"$name schema:\n${bad.mkString("\n")}")
    }
    val got = TripModel.parseRaw(raw, "raw")
    val want = reference(raw)
    assert(got.collect().toSeq.sortBy(_.toString) == want.collect().toSeq.sortBy(_.toString))
  }

  /** The resolved kernel that decodes `base`'s `raw` with `schema`. */
  private def kernel(schema: StructType, base: DataFrame = rawDf(Seq("{}"))): JsonDecode =
    base.select(JsonExpressions.decodeJson(col("raw"), schema)).queryExecution.analyzed
      .expressions.flatMap(_.collect { case k: JsonDecode => k }).head

  test("the kernel's fallback is the expression from_json resolves to") {
    for ((_, schema) <- schemas) {
      val base = rawDf(Seq("{}"))
      val k = kernel(schema, base)
      val j = base.select(from_json(col("raw"), schema)).queryExecution.analyzed
        .expressions.flatMap(_.collect { case j: JsonToStructs => j }).head
      assert(k.fallback == j, s"${k.fallback} vs $j")
      assert(k.dataType == j.dataType)
    }
  }

  test("plain lines take the fast path, the rest the fallback") {
    import org.apache.spark.unsafe.types.UTF8String
    val read = kernel(TripModel.readSchema)
    def plain(b: Array[Byte]) = read.isPlain(UTF8String.fromBytes(b))
    // the first two edge-case lines are well-typed; so are these
    for (l <- lines.take(2) ++ Seq(msg("1", 1, ""","odometer":NaN"""), """{"body":null}""",
        msg("1", 2, ""","vin":"München""""), "  {}  "))
      assert(plain(utf8(l)), l)
    for (l <- Seq(msg("\"12\"", 1), msg("9223372036854775808", 1), msg("1e3", 1),
        msg("1", 1) + " x", """{"body":{"tripNumber":1,"tripNumber":2}}""", "[{}]", "", "1"))
      assert(!plain(utf8(l)), l)
    for (b <- edgeLines.takeRight(8)) assert(!plain(b), new String(b, "UTF-8"))
    val deposit = kernel(TripModel.depositSchema)
    assert(deposit.isPlain(UTF8String.fromString("""{"id":2147483647,"amount":1}""")))
    assert(!deposit.isPlain(UTF8String.fromString("""{"id":2147483648,"amount":1}""")))
  }

  // -- a property: mutated generated messages decode alike ----------

  private sealed trait J { def render: String }
  private case class JObj(kv: Vector[(String, J)]) extends J {
    def render: String = kv.map { case (k, v) => "\"" + k + "\":" + v.render }.mkString("{", ",", "}")
  }
  private case class JArr(vs: Vector[J]) extends J {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }
  private case class JLit(render: String) extends J

  import org.scalacheck.Gen
  import org.apache.spark.sql.types._

  /** A value of type `t` that the kernel reads plainly (or null). */
  private def typed(t: DataType): Gen[J] = Gen.frequency(12 -> (t match {
    case LongType => Gen.frequency(8 -> Gen.choose(-5000L, 5000L),
      1 -> Gen.oneOf(Long.MaxValue, Long.MinValue, 1L << 40)).map(v => JLit(v.toString))
    case IntegerType => Gen.frequency(8 -> Gen.choose(-5000, 5000),
      1 -> Gen.oneOf(Int.MaxValue, Int.MinValue)).map(v => JLit(v.toString))
    case DoubleType => Gen.frequency(6 -> Gen.choose(-1e4, 1e4).map(_.toString),
      2 -> Gen.choose(-100, 100).map(_.toString),
      1 -> Gen.oneOf("NaN", "-Infinity", "1.5e300", "-0.0", "4.9E-324")).map(JLit)
    case StringType => Gen.frequency(8 -> Gen.alphaNumStr.map(_.take(8)),
      1 -> Gen.oneOf("é€", "a\\\"b", "\\u00e9", "Standard", "CAN11Bit")).map(v => JLit("\"" + v + "\""))
    case BooleanType => Gen.oneOf(JLit("true"), JLit("false"))
    case s: StructType =>
      Gen.sequence[List[Option[(String, J)]], Option[(String, J)]](s.fields.toList.map { f =>
        Gen.frequency(1 -> Gen.const(None), 2 -> typed(f.dataType).map(v => Some(f.name -> v)))
      }).flatMap { kv =>
        Gen.frequency(4 -> Gen.const(Nil), 1 -> anyValue.map(v => List("extra" -> v)))
          .map(extra => JObj((kv.flatten ++ extra).toVector))
      }
    case a: ArrayType => Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, typed(a.elementType)))
      .map(vs => JArr(vs.toVector))
    case _ => Gen.const(JLit("null"))
  }), 1 -> Gen.const(JLit("null")))

  /** Any JSON value, mostly of the wrong type for a field. */
  private val anyValue: Gen[J] = Gen.oneOf("null", "0", "-7", "2.5", "1e3", "\"s\"", "\"12\"",
    "\"NaN\"", "true", "false", "{}", "[]", "[1,\"x\",null]", "{\"x\":1}", "NaN", "2147483648",
    "9223372036854775808", "123456789012345678901234567890").map(JLit)

  /** One mutation at a random depth: drop, retype or duplicate a
    * field (the duplicate mistyped or not), or retype an element.
    */
  private def mutate(j: J): Gen[J] = j match {
    case JObj(kv) if kv.nonEmpty => Gen.choose(0, kv.length - 1).flatMap { i =>
      val (k, v) = kv(i)
      Gen.frequency(
        3 -> mutate(v).map(m => JObj(kv.updated(i, k -> m))),
        1 -> Gen.const(JObj(kv.patch(i, Nil, 1))),
        1 -> anyValue.map(a => JObj(kv.updated(i, k -> a))),
        1 -> anyValue.map(a => JObj(kv.patch(i, Seq(k -> a), 0))),
        1 -> Gen.const(JObj(kv :+ (k -> v))))
    }
    case JArr(vs) if vs.nonEmpty => Gen.choose(0, vs.length - 1).flatMap { i =>
      Gen.oneOf(mutate(vs(i)), anyValue).map(m => JArr(vs.updated(i, m)))
    }
    case _ => anyValue
  }

  /** A generated message for `schema`, mutated 0–3 times, then
    * truncated at a random byte one time in six.
    */
  private def mutatedLine(schema: StructType): Gen[String] = for {
    msg <- typed(schema).map { case JLit(_) => JObj(Vector.empty); case m => m }
    n <- Gen.choose(0, 3)
    m <- (1 to n).foldLeft(Gen.const(msg: J))((g, _) => g.flatMap(mutate))
    text = m.render
    cut <- Gen.frequency(5 -> Gen.const(text.length), 1 -> Gen.choose(0, text.length))
  } yield text.take(cut)

  test("property: the kernel equals from_json on mutated generated messages") {
    import org.scalacheck.{Prop, Test}
    for ((name, schema) <- schemas) {
      val prop = Prop.forAllNoShrink(Gen.listOfN(300, mutatedLine(schema))) { ls =>
        val bad = mismatches(bytesDf(ls.map(utf8)), schema)
        Prop(bad.isEmpty) :| bad.take(3).mkString("\n")
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6)
        .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
      assert(res.passed, s"$name schema: ${org.scalacheck.util.Pretty.pretty(res)}")
    }
  }
}

/** Streaming sessionization + watermark + stateful aggregation (D1-D4). */
class StreamingSessionSpec extends SparkTestBase {
  import spark.implicits._

  test("session_window streaming agg closes sessions at the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = SessionPipeline.sessionWindowAgg(
      input.toDF(), gap = "2 minutes", watermark = "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      input.addData(
        Ev(1L, 1000L, 5.0), Ev(1L, 1060L, 7.0), // one session (gap < 2 min)
        Ev(1L, 10000L, 1.0),                    // separate session
        Ev(2L, 1000L, 2.0))
      q.processAllAvailable()
      // advance the watermark past every closed session
      input.addData(Ev(9L, 999999L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_out")
      .select("user_id", "start_s", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got.contains((1L, 1000L, 2L, 12.0)), s"got $got")
    assert(got.contains((1L, 10000L, 1L, 1.0)), s"got $got")
    assert(got.contains((2L, 1000L, 1L, 2.0)), s"got $got")
  }

  test("stateful trip aggregate emits on inactivity timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Reading]
    val sessions = SessionPipeline.statefulTripAggregate(
      input.toDS(), maxRetentionMs = 500, lowSpeed = 5.0)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("trips_out")
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()

    input.addData(
      Reading(1L, 0L, 0.0, 0.0, 1.0, 10.0),
      Reading(1L, 10L, 1.0, 0.0, 2.0, 20.0))
    // wait for the inactivity timer to fire (timeout-only batches)
    var tries = 0
    while (spark.table("trips_out").isEmpty && tries < 100) {
      Thread.sleep(200); tries += 1
    }
    q.stop()
    val rows = spark.table("trips_out")
      .as[SessionPipeline.TripSession].collect()
    assert(rows.length == 1, s"got ${rows.toSeq}")
    val t = rows.head
    assert(t.user_id == 1L && t.n_events == 2L && t.total_s == 10L)
    assert(t.stopped_s == 10L) // both readings below 5 km/h
    assert(math.abs(t.distance_km - 111.19) < 0.1)
    assert(t.sum_value == 30.0)
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DedupEv]
    val deduped = SessionPipeline.streamingDedup(
      input.toDF(), Seq("event_id"), "ts", "1 minute")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(
        DedupEv(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
        DedupEv(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02")),
        DedupEv(2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03")))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dedup_out").select("event_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}

/** JDBC batched upsert against embedded Derby (A9). */
class JdbcSinkSpec extends SparkTestBase {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  test("upsert inserts then accumulates on conflict (reference deposit semantics)") {
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE accounts (id BIGINT PRIMARY KEY, balance DOUBLE, is_terminator BOOLEAN)")
    conn.close()

    val sink = new JdbcUpsertSink(
      url = url, driver = driver, table = "accounts",
      keyCols = Seq("id"), valCols = Seq("balance", "is_terminator"),
      updateExprs = Map(
        "balance" -> "accounts.balance + excluded.balance",
        "is_terminator" -> "accounts.is_terminator OR excluded.is_terminator"),
      batchSize = 2, dialect = "derby")

    sink.writeBatch(Seq((1L, 10.0, false), (2L, 5.0, false))
      .toDF("id", "balance", "is_terminator"))
    sink.writeBatch(Seq((1L, 2.5, true), (3L, 1.0, false))
      .toDF("id", "balance", "is_terminator"))

    val c2 = java.sql.DriverManager.getConnection(url)
    val rs = c2.createStatement().executeQuery(
      "SELECT id, balance, is_terminator FROM accounts ORDER BY id")
    val got = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toList
    c2.close()
    assert(got == List((1L, 12.5, true), (2L, 5.0, false), (3L, 1.0, false)))
  }

  test("derby batches: a repeated key flushes first, a later batch updates an earlier flush's insert") {
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE ledger (id BIGINT PRIMARY KEY, balance DOUBLE, n INTEGER)")
    conn.close()
    val sink = new JdbcUpsertSink(
      url = url, driver = driver, table = "ledger",
      keyCols = Seq("id"), valCols = Seq("balance", "n"),
      updateExprs = Map(
        "balance" -> "ledger.balance + excluded.balance",
        "n" -> "ledger.n + excluded.n"),
      batchSize = 3, dialect = "derby")
    // one partition, in this order: key 1 twice in the first batch
    // (accumulating), keys 2, 3, 4 fill the next batch, and the last
    // batch updates keys 1 and 3, which earlier flushes inserted
    val rows = Seq((1L, 10.0, 1), (1L, 5.0, 1), (2L, 1.0, 1), (3L, 2.0, 1), (4L, 4.0, 1),
      (1L, 0.5, 1), (3L, 0.25, 1))
    sink.writeBatch(spark.sparkContext.parallelize(rows, 1).toDF("id", "balance", "n"))
    val c2 = java.sql.DriverManager.getConnection(url)
    val rs = c2.createStatement().executeQuery("SELECT id, balance, n FROM ledger ORDER BY id")
    val got = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toList
    c2.close()
    assert(got == List((1L, 15.5, 3), (2L, 1.0, 1), (3L, 2.25, 2), (4L, 4.0, 1)))
  }

  test("postgres dialect renders the reference ON CONFLICT statement") {
    val sink = new JdbcUpsertSink(
      url = "jdbc:postgresql://ignored/db", driver = "org.postgresql.Driver",
      table = "accounts", keyCols = Seq("id"), valCols = Seq("balance"),
      updateExprs = Map("balance" -> "accounts.balance + excluded.balance"))
    val sql = sink.upsertSql(org.apache.spark.sql.types.StructType(Nil))
    assert(sql.contains("ON CONFLICT (id) DO UPDATE SET balance = accounts.balance + excluded.balance"))
  }
}

/** Sliding windows + checkpointed recovery (D3, A10). */
class StreamingWindowSpec extends SparkTestBase {
  import spark.implicits._

  test("sliding window emits one row per covering window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = input.toDF()
      .withColumn("ts", timestamp_seconds(col("tsec")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .select(unix_timestamp(col("window.start")).as("start_s"), col("n"), col("v"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("slide_out").start()
    try {
      input.addData(Ev(1L, 600L, 2.0), Ev(1L, 700L, 3.0))
      q.processAllAvailable()
      input.addData(Ev(9L, 999999L, 0.0)) // advance watermark
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("slide_out")
      .select("start_s", "n", "v").as[(Long, Long, Double)].collect().toSet
    // events at 600 & 700 s fall in windows [300,900) and [600,1200)
    assert(got.contains((300L, 2L, 5.0)), s"got $got")
    assert(got.contains((600L, 2L, 5.0)), s"got $got")
  }

  test("checkpointed restart does not reprocess or duplicate output") {
    val src = java.nio.file.Files.createTempDirectory("graft-ckpt-src").toFile
    val out = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(src.getAbsolutePath)
    val schema = spark.read.parquet(src.getAbsolutePath).schema

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src.getAbsolutePath)
      val q = stream.writeStream
        .format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.parquet(out.getAbsolutePath).count() == 2)
    runOnce() // restart from checkpoint: no new data → no new rows
    assert(spark.read.parquet(out.getAbsolutePath).count() == 2)
    // new file arrives; restart picks up ONLY the delta
    Seq((3L, 30.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src.getAbsolutePath)
    runOnce()
    assert(spark.read.parquet(out.getAbsolutePath).count() == 3)
  }
}

/** Stream-stream join with watermarks + time bounds (D7). */
class StreamStreamJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("inner join of two streams within a time bound") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val c = clicks.toDF()
      .select($"user_id", timestamp_seconds($"tsec").as("click_ts"), $"value".as("click_v"))
      .withWatermark("click_ts", "1 hour")
    val b = buys.toDF()
      .select($"user_id".as("buy_user"), timestamp_seconds($"tsec").as("buy_ts"), $"value".as("buy_v"))
      .withWatermark("buy_ts", "1 hour")
    val joined = c.join(b,
      $"user_id" === $"buy_user" &&
        $"buy_ts" >= $"click_ts" && $"buy_ts" <= $"click_ts" + expr("INTERVAL 10 MINUTES"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      clicks.addData(Ev(1L, 1000L, 1.0), Ev(2L, 1000L, 2.0))
      buys.addData(Ev(1L, 1300L, 10.0))   // within 10 min of user 1's click
      buys.addData(Ev(2L, 99999L, 20.0))  // far outside the bound
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_out")
      .select("user_id", "click_v", "buy_v").as[(Long, Double, Double)].collect().toSet
    assert(got == Set((1L, 1.0, 10.0)), s"got $got")
  }
}

/** The same keyed streaming state paths under the RocksDB state store
  * (the 100 TB posture: disk-backed state instead of executor heap —
  * see Sources.useRocksDBStateStore). Both the built-in session_window
  * aggregation and the custom flatMapGroupsWithState sessionizer must
  * produce identical results under either provider, and the query
  * progress must show RocksDB actually served the state rows.
  */
class RocksDBStateStoreSpec extends SparkTestBase {
  import spark.implicits._
  import graft.sources.Sources
  import scala.jdk.CollectionConverters._

  private def withRocksDB[A](body: => A): A = {
    val prev = Sources.useRocksDBStateStore(spark)
    try body finally Sources.restoreStateStore(spark, prev)
  }

  test("session_window agg matches default-provider results under RocksDB") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Ev]
      val agg = SessionPipeline.sessionWindowAgg(
        input.toDF(), gap = "2 minutes", watermark = "10 minutes")
      val q = agg.writeStream.outputMode("append")
        .format("memory").queryName("rocks_sess_out").start()
      try {
        input.addData(
          Ev(1L, 1000L, 5.0), Ev(1L, 1060L, 7.0),
          Ev(1L, 10000L, 1.0), Ev(2L, 1000L, 2.0))
        q.processAllAvailable()
        input.addData(Ev(9L, 999999L, 0.0))
        q.processAllAvailable()
        // the state operator must be RocksDB-backed, not heap-backed
        val metrics = q.lastProgress.stateOperators.head.customMetrics
        assert(metrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics in ${metrics.keySet}")
      } finally q.stop()
      val got = spark.table("rocks_sess_out")
        .select("user_id", "start_s", "n_events", "sum_value")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == Set(
        (1L, 1000L, 2L, 12.0), (1L, 10000L, 1L, 1.0), (2L, 1000L, 1L, 2.0)),
        s"got $got")
    }
  }

  test("custom stateful sessionizer emits on timeout under RocksDB") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Reading]
      val sessions = SessionPipeline.statefulTripAggregate(
        input.toDS(), maxRetentionMs = 500, lowSpeed = 5.0)
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName("rocks_trips_out")
        .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
      try {
        input.addData(
          Reading(1L, 0L, 0.0, 0.0, 1.0, 10.0),
          Reading(1L, 10L, 1.0, 0.0, 2.0, 20.0))
        var tries = 0
        while (spark.table("rocks_trips_out").isEmpty && tries < 100) {
          Thread.sleep(200); tries += 1
        }
      } finally q.stop()
      val rows = spark.table("rocks_trips_out")
        .as[SessionPipeline.TripSession].collect()
      assert(rows.length == 1, s"got ${rows.toSeq}")
      val t = rows.head
      assert(t.user_id == 1L && t.n_events == 2L && t.total_s == 10L)
      assert(t.sum_value == 30.0)
    }
  }

  test("streaming dedup state lives in RocksDB") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[DedupEv]
      val deduped = SessionPipeline.streamingDedup(
        input.toDF(), Seq("event_id"), "ts", "1 minute")
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName("rocks_dedup_out").start()
      try {
        input.addData(
          DedupEv(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
          DedupEv(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02")),
          DedupEv(2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03")))
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.table("rocks_dedup_out").select("event_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    }
  }
}
