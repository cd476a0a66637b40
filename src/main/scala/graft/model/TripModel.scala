package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's telemetry JSON contract re-expressed as a Spark
  * schema + tolerant parser.
  *
  * Reference shape (JSONUtil.kt:127-168): messages are
  * `{"body": {"tripNumber": N, "timestamp": ISO, "type":
  * "TripStartRelativeTime"|"TripData"|"TripEnd", ...}}` with
  * `pidData` carrying a map of OBD-II readings (JSONUtil.kt:25-125).
  * The reference parses ~15 PID kinds and drops unknown keys
  * (JSONUtil.kt:116-118); malformed messages become null and are
  * filtered (TripAggregatorApplication.kt:194).
  *
  * Spark-first: ONE wide nullable schema instead of a sealed class
  * hierarchy. [[messageSchema]] is the full wire contract, and
  * [[parse]] decodes all of it. [[parseRaw]] decodes each message
  * once, against a read schema cut from messageSchema to the fields
  * its columns emit; the pids and event payloads it does not emit
  * are skipped like unknown keys. `from_json` in PERMISSIVE mode
  * nulls malformed rows, and the `trip_id IS NOT NULL` filter is the
  * reference's tolerant-parse-then-filter, codegen'd.
  */
object TripModel {

  val gpsSchema: StructType = StructType(Seq(
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("heading", DoubleType),
    StructField("horizontalDilutionOfPrecision", DoubleType),
    StructField("numberOfSatellites", DoubleType),
    StructField("hemisphere", StringType),
    StructField("fixQuality", StringType)))

  val milSchema: StructType = StructType(Seq(
    StructField("commandedOn", BooleanType),
    StructField("numCodes", DoubleType)))

  /** Fuel system status flags (JSONUtil.kt:44-55, FuelSystemStatus). */
  val fuelStatusSchema: StructType = StructType(Seq(
    StructField("closedLoopO2SensorFault", BooleanType),
    StructField("closedLoopO2SensorFuelControl", BooleanType),
    StructField("openLoopDrivingConditions", BooleanType),
    StructField("openLoopSystemWideFault", BooleanType),
    StructField("openLoopNotYetSatisfied", BooleanType)))

  /** Secondary air system flags (JSONUtil.kt:68-78,
    * CommandedSecondaryAirStatus).
    */
  val secondaryAirSchema: StructType = StructType(Seq(
    StructField("pumpCommandedOnForDiagnostics", BooleanType),
    StructField("downstreamOfFirstCatalyticConverter", BooleanType),
    StructField("fromOutsideAtmosphereOrOff", BooleanType),
    StructField("upstreamOfFirstCatalyticConverter", BooleanType)))

  val pointSchema: StructType = StructType(Seq(
    StructField("x", DoubleType),
    StructField("y", DoubleType),
    StructField("z", DoubleType)))

  /** Reference: RawAccelerometer with offset points + base point
    * (JSONUtil.kt:79-101, ParameterIdData.kt:366-370).
    */
  val accelSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("offsets", ArrayType(pointSchema)),
    StructField("base", pointSchema))))

  /** Valid enum values (VehicleProtocol.kt, EventData.kt:47-65);
    * out-of-range strings null out, mirroring the reference's
    * `valueOf` throw → tolerant-null path.
    */
  val vehicleProtocols: Seq[String] = Seq(
    "VPW1", "PWM", "ISO9141", "ISO14230", "ISO14230FastInit",
    "CAN11Bit", "CAN29Bit")
  val gpsFixQualities: Seq[String] = Seq("NoFix", "Standard", "Differential")

  /** Oxygen-sensor payload shapes (ParameterIdData.kt:
    * OxygenSensorData / BankOxygenSensorsData / EquivalenceRatio* /
    * CatalystTemperature*). Struct member names are the Kotlin
    * property names — Gson's wire names.
    */
  val oxygenSensorsDataSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("sensors", ArrayType(StructType(Seq(
      StructField("voltage", DoubleType),
      StructField("shortTermFuelTrim", DoubleType))))))))
  val oxygenPresenceByBankSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("sensors", ArrayType(BooleanType)))))
  val equivalenceRatioVoltageSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("ratio", DoubleType),
    StructField("voltage", DoubleType))))
  val equivalentRatioCurrentSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("ratio", DoubleType),
    StructField("current", DoubleType))))
  val catalystTemperatureSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("sensors", ArrayType(StructType(Seq(
      StructField("temperatureInCelsius", DoubleType))))))))

  /** MonitorStatusInThisDriveCycle: 22 availability/completion flags
    * (ParameterIdData.kt) — property names verbatim.
    */
  val monitorStatusSchema: StructType = StructType(
    Seq("Misfire", "FuelSystem", "Components", "Catalyst",
        "HeatedCatalyst", "EvaporativeSystem", "SecondaryAirSystem",
        "AcRefrigerant", "OxygenSensor", "OxygenSensorHeater",
        "ExhaustGasRecirculationSystem")
      .flatMap(t => Seq(
        StructField(s"is${t}TestAvailable", BooleanType),
        StructField(s"is${t}TestComplete", BooleanType))))

  /** The wire PIDs the reference's `toTrip` actually parses
    * (JSONUtil.kt:25-125) use the abbreviated keys below
    * (EngineRpm, CalcEngineLoad, …). The REST of the
    * ParameterIdData hierarchy (~40 kinds) is dead in the reference
    * — `toParameterIdsData` defines no wire key for them and drops
    * unknown keys — so for completeness they are modeled under
    * their CLASS NAMES as keys (the natural Gson convention; a
    * producer emitting them picks the key, the reference never
    * did). Payload member names are the Kotlin property names,
    * which ARE Gson's wire names. All nullable; parseRaw's read
    * schema leaves the kinds it does not emit undecoded.
    */
  val pidSchema: StructType = StructType(Seq(
    // --- the 16 kinds on the reference's live wire path ---
    StructField("VehicleSpeed", DoubleType),
    StructField("EngineRpm", DoubleType),
    StructField("EngineCoolantTemp", DoubleType),
    StructField("CalcEngineLoad", DoubleType),
    StructField("FuelPressure", DoubleType),
    StructField("IntakeManifoldAbsPressure", DoubleType),
    StructField("TimingAdvance", DoubleType),
    StructField("IntakeAirTemp", DoubleType),
    StructField("MafAirFlowRate", DoubleType),
    StructField("ThrottlePosition", DoubleType),
    StructField("FreezeFrameTroubleCode", StringType),
    StructField("MilStatus", milSchema),
    StructField("FuelStatus", fuelStatusSchema),
    StructField("CommandedSecondaryAirStatus", secondaryAirSchema),
    StructField("GpsReading", gpsSchema),
    StructField("RawAccelerometer", accelSchema),
    // --- the dead-in-reference kinds, class-name keys ---
    StructField("FuelPercentTrim", StructType(Seq(
      StructField("shortTermFuelPercentTrimInBankOne", DoubleType),
      StructField("shortTermFuelPercentTrimInBankTwo", DoubleType),
      StructField("longTermFuelPercentTrimInBankOne", DoubleType),
      StructField("longTermFuelPercentTrimInBankTwo", DoubleType)))),
    StructField("OxygenSensorsPresent", StructType(Seq(
      StructField("isSensorOnePresent", BooleanType),
      StructField("isSensorTwoPresent", BooleanType),
      StructField("isSensorThreePresent", BooleanType),
      StructField("isSensorFourPresent", BooleanType)))),
    StructField("OxygenSensorsData", oxygenSensorsDataSchema),
    StructField("OnBoardDiagnosticsStandardConformation",
      ArrayType(StringType)), // OnBoardDiagnosticsStandard enum names
    StructField("OxygenSensorsPresenceByBank", oxygenPresenceByBankSchema),
    StructField("RuntimeSinceEngineStarted", DoubleType),
    StructField("DistanceTraveledWithMalfunctionIndicatorLampOn", DoubleType),
    StructField("FuelRailPressureRelativeToManifoldVacuum", DoubleType),
    StructField("FuelRailPressure", DoubleType),
    StructField("OxygenEquivalenceRatioVoltage", equivalenceRatioVoltageSchema),
    StructField("CommandedExhaustGasRecirculation", DoubleType),
    StructField("ExhaustGasRecirculationError", DoubleType),
    StructField("CommandedEvaporativePurge", DoubleType),
    StructField("FuelLevelInput", DoubleType),
    StructField("WarmUpsSinceCodesWereCleared", DoubleType),
    StructField("DistanceTraveledSinceCodesWereCleared", DoubleType),
    StructField("EvaporativeSystemVaporPressure", DoubleType),
    StructField("BarometricPressure", DoubleType),
    StructField("OxygenSensorsEquivalentRatioCurrent", equivalentRatioCurrentSchema),
    StructField("CatalystTemperature", catalystTemperatureSchema),
    StructField("MonitorStatusInThisDriveCycle", monitorStatusSchema),
    StructField("ControlModuleVoltage", DoubleType),
    StructField("AbsoluteLoadValue", DoubleType),
    StructField("CommandedEquivalenceRatio", DoubleType),
    StructField("RelativeThrottlePosition", DoubleType),
    StructField("AmbientAirTemperature", DoubleType),
    StructField("AbsoluteThrottlePosition", StructType(Seq(
      StructField("opennessOfThrottleB", DoubleType),
      StructField("opennessOfThrottleC", DoubleType)))),
    StructField("AcceleratorPedalPosition", StructType(Seq(
      StructField("positionPercentD", DoubleType),
      StructField("positionPercentE", DoubleType),
      StructField("positionPercentF", DoubleType)))),
    StructField("CommandedThrottleActuator", DoubleType),
    StructField("TimeTraveledWithMalfunctionIndicatorLampOn", DoubleType),
    StructField("TimeSinceTroubleCodesCleared", DoubleType),
    StructField("MaximumValues", StructType(Seq(
      StructField("ofEquivalenceRatio", DoubleType),
      StructField("ofOxygenSensorVoltage", DoubleType),
      StructField("ofOxygenSensorCurrentInMilliAmperes", DoubleType),
      StructField("ofIntakeManifoldAbsolutePressureInKiloPascals", DoubleType)))),
    StructField("MaximumAirFlowRateFromManifoldSensor", DoubleType),
    StructField("FuelType", StringType), // FuelType enum name
    StructField("AlcoholFuelDetected", DoubleType),
    StructField("AbsoluteEvaporativeSystemVaporPressure", DoubleType),
    StructField("AbsoluteFuelRailPressure", DoubleType),
    StructField("RelativeAcceleratorGasPedalPosition", DoubleType),
    StructField("HybridBatteryPackRemainingLife", DoubleType),
    StructField("EngineOilTemperature", DoubleType),
    StructField("FuelInjectionTiming", DoubleType),
    StructField("EngineFuelRate", DoubleType),
    StructField("NormalizedAccelerometer", StructType(Seq(
      StructField("offsets", ArrayType(pointSchema)),
      StructField("base", pointSchema)))),
    StructField("FuelLevelInputSmoothed", DoubleType)))

  /** TripEvent payloads (EventData.kt:1-77): accelerometer trigger
    * events, time-fence / geo-fence events, and GPS events — modeled
    * as one wide nullable struct (exactly one branch set per event,
    * the Spark-first image of the sealed hierarchy). Note: the
    * reference's own `toTrip` (JSONUtil.kt:127-168) never constructs
    * a TripEvent, so these payloads are dead on its wire today; they
    * are modeled here so a producer emitting them gets typed, pruned
    * columns instead of dropped data.
    */
  val accelerometerEventSchema: StructType = StructType(Seq(
    StructField("secondsRelativeToTrigger", DoubleType),
    StructField("accelerometerType", StringType), // AccelerometerDataType
    StructField("triggeredAxis", StringType), // TriggeredAxis
    StructField("samples", ArrayType(pointSchema))))

  val timeFenceSchema: StructType = StructType(Seq(
    StructField("type", StringType), // Start | End
    StructField("tripId", DoubleType),
    StructField("distanceTraveled", DoubleType),
    StructField("durationInMinutes", DoubleType)))

  val geoFenceSchema: StructType = StructType(Seq(
    StructField("type", StringType), // Entry | Exit
    StructField("geoFenceId", DoubleType)))

  val eventDataSchema: StructType = StructType(Seq(
    StructField("accelerometer", accelerometerEventSchema),
    StructField("timeFence", timeFenceSchema),
    StructField("geoFence", geoFenceSchema),
    StructField("gps", gpsSchema)))

  /** Valid EventData enum values (EventData.kt:5-15,29,39). */
  val accelerometerTypes: Seq[String] = Seq("Triggered", "Histogram", "Unknown")
  val triggeredAxes: Seq[String] = Seq(
    "PositiveXAxis", "NegativeXAxis", "PositiveYAxis",
    "NegativeYAxis", "PositiveZAxis", "NegativeZAxis")
  val timeFenceTypes: Seq[String] = Seq("Start", "End")
  val geoFenceTypes: Seq[String] = Seq("Entry", "Exit")

  val bodySchema: StructType = StructType(Seq(
    StructField("tripNumber", LongType),
    StructField("timestamp", StringType),
    StructField("type", StringType),
    StructField("odometer", DoubleType),
    StructField("vehicleProtocol", StringType),
    StructField("vin", StringType),
    StructField("fuelConsumed", DoubleType),
    StructField("pidData", pidSchema),
    StructField("eventData", eventDataSchema)))

  val messageSchema: StructType = StructType(Seq(
    StructField("body", bodySchema)))

  /** Tolerant parse of a raw JSON string column against the full
    * wire contract. Malformed rows surface with a null
    * `body.tripNumber` (reference: map-to-null + filter).
    */
  def parse(raw: Column): Column = from_json(raw, messageSchema)

  /** The reference's second input stream: bank-account deposit
    * messages (BankAccountDeposit.kt — `{"id": N, "amount": X,
    * "timestamp": T, "is_terminator": B}`), tolerant-parsed
    * (JSONUtil.kt:16-23: Gson parse, malformed → null → filtered).
    * PERMISSIVE `from_json` + null-filter is the same contract;
    * a missing `is_terminator` defaults to false like Gson's
    * primitive-boolean default.
    */
  val depositSchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("amount", DoubleType),
    StructField("timestamp", LongType),
    StructField("is_terminator", BooleanType)))

  /** Tolerant deposit-message parse: raw-string df → typed rows
    * (account_id, amount, ts, is_terminator).
    *
    * Deliberate divergence from the reference: Gson into a primitive
    * Int `id` silently yields id=0 for a MISSING field, conflating
    * those rows with a real account 0. Here a missing `id` is treated
    * as malformed and dropped — the safer contract for an upsert
    * keyed on account_id (is_terminator keeps the Gson
    * primitive-boolean default of false).
    */
  def parseDeposits(df: DataFrame, rawCol: String): DataFrame =
    decodeOnce(df, rawCol, depositSchema, "account_id",
      col("_msg.id").as("account_id"),
      col("_msg.amount").as("amount"),
      col("_msg.timestamp").as("ts"),
      coalesce(col("_msg.is_terminator"), lit(false)).as("is_terminator"))

  /** `rawCol` decoded with `schema` into `_msg` exactly once per row,
    * projected to `cols`, keeping the rows whose `key` is non-null.
    *
    * The decode is a generator's output, not a projection alias:
    * predicate pushdown (PushPredicateThroughNonJoin) moves a filter
    * below a Project by copying the aliased expression into it, so
    * with `_msg` as an alias the key filter would run its own
    * `from_json` under the Project's — two decodes of every line. A
    * predicate on a Generate's output stays above the Generate, so
    * the one decode feeds both the filter and `cols`.
    */
  private def decodeOnce(df: DataFrame, rawCol: String, schema: StructType,
      key: String, cols: Column*): DataFrame =
    df.select(explode(array(from_json(col(rawCol), schema))).as("_msg"))
      .select(cols: _*)
      .filter(col(key).isNotNull)

  private def oneOf(valid: Seq[String])(c: Column): Column =
    when(c.isin(valid: _*), c)

  /** parseRaw's output columns: name, field path under the message
    * root, and how the value is read. The paths are all parseRaw
    * decodes (see [[readSchema]]).
    */
  private val rawColumns: Seq[(String, String, Column => Column)] = Seq(
    ("trip_id", "body.tripNumber", identity),
    ("ts", "body.timestamp", c => to_timestamp(c)),
    ("event_type", "body.type", identity),
    ("odometer", "body.odometer", identity),
    ("vehicle_protocol", "body.vehicleProtocol", oneOf(vehicleProtocols)),
    ("vin", "body.vin", identity),
    ("fuel_consumed", "body.fuelConsumed", identity),
    ("speed_kmh", "body.pidData.VehicleSpeed", identity),
    ("rpm", "body.pidData.EngineRpm", identity),
    ("lat", "body.pidData.GpsReading.latitude", identity),
    ("lon", "body.pidData.GpsReading.longitude", identity),
    ("gps_fix_quality", "body.pidData.GpsReading.fixQuality", oneOf(gpsFixQualities)),
    ("mil_on", "body.pidData.MilStatus.commandedOn", identity),
    ("fuel_o2_fault", "body.pidData.FuelStatus.closedLoopO2SensorFault", identity),
    ("sec_air_upstream",
      "body.pidData.CommandedSecondaryAirStatus.upstreamOfFirstCatalyticConverter", identity),
    ("n_accel_samples", "body.pidData.RawAccelerometer", size),
    // TripEvent payloads (EventData.kt) — enum-validated like
    // vehicleProtocol: out-of-range values null out, mirroring the
    // reference's valueOf-throw → tolerant-null path.
    ("accel_axis", "body.eventData.accelerometer.triggeredAxis", oneOf(triggeredAxes)),
    ("accel_offset_s", "body.eventData.accelerometer.secondsRelativeToTrigger", identity),
    ("n_accel_points", "body.eventData.accelerometer.samples", size),
    ("time_fence_type", "body.eventData.timeFence.type", oneOf(timeFenceTypes)),
    ("time_fence_distance", "body.eventData.timeFence.distanceTraveled", identity),
    ("geo_fence_type", "body.eventData.geoFence.type", oneOf(geoFenceTypes)),
    ("geo_fence_id", "body.eventData.geoFence.geoFenceId", _.cast("int")))

  /** `schema` cut down to the fields on `paths` (each a field-name
    * path from the root, through structs only). A path that ends at a
    * field keeps that field's whole type, so an array read only
    * through `size` still decodes — and nulls out — exactly as under
    * the full schema.
    */
  private def prunedTo(schema: StructType, paths: Seq[List[String]]): StructType =
    StructType(schema.fields.toSeq.flatMap { f =>
      val under = paths.collect { case name :: rest if name == f.name => rest }
      if (under.isEmpty) None
      else if (under.contains(Nil)) Some(f)
      else Some(f.copy(dataType = prunedTo(f.dataType.asInstanceOf[StructType], under)))
    })

  /** [[messageSchema]] cut to the fields parseRaw emits (44 of its 177
    * nested fields). `from_json` itself is pruned only at its top
    * level (`body`), and a read struct over 100 fields
    * (`spark.sql.codegen.maxFields`) drops the projection out of
    * whole-stage codegen. Unread keys are skipped like unknown keys,
    * and a mistyped value nulls only its own field under either
    * schema (partial results), so every emitted column is the one the
    * full schema gives.
    */
  private val readSchema: StructType =
    prunedTo(messageSchema, rawColumns.map(_._2.split('.').toList))

  /** Full pipeline stage: raw-string df → flat typed trip events. */
  def parseRaw(df: DataFrame, rawCol: String): DataFrame =
    decodeOnce(df, rawCol, readSchema, "trip_id",
      rawColumns.map { case (name, path, read) => read(col(s"_msg.$path")).as(name) }: _*)
}
