package perfbench

/** Plain-Scala reference for the two trip workloads, written from the
  * reference application's rules and sharing no code with graft.
  *
  * Batch: a trip's messages split into sessions at inactivity gaps
  * longer than `gapS`; each session's GPS readings, sorted by time,
  * give the reference `TripAggregation`: haversine distance between
  * consecutive points, total time, stopped time (time between two
  * consecutive readings that are both below 5 km/h, which sums a run's
  * duration) and moving time = total − stopped.
  *
  * Streaming: files are micro-batches in order. A batch's watermark is
  * the largest event time seen in earlier batches minus `delayS`. A
  * session closes when a later message of its trip comes more than
  * `gapS` after its last one, or when the watermark passes its last
  * message + `gapS`; after the last file one more batch runs with the
  * final watermark. A message at or behind the watermark is late. Late
  * messages are kept, as in the reference's keyed global window, which
  * never treats an element as late: one joins its trip's open session,
  * or, when that session has closed, opens a session of its own that
  * the watermark closes at once.
  */
object TripReference {
  val LowSpeedKmh = 5.0
  val EarthRadiusKm = 6371.0

  final case class TripAgg(tripKey: Long, nEvents: Long, totalS: Long, stoppedS: Long,
      distanceKm: Double, movingS: Long)

  /** Totals the streaming sink accumulates per trip over the sessions
    * emitted for it. */
  final case class TripTotals(trip: Long, sessions: Long, events: Long, sumSpeed: Double)

  final case class StreamResult(totals: Map[Long, TripTotals], sessions: Long, late: Long)

  def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2.0 * EarthRadiusKm * math.asin(math.sqrt(a))
  }

  /** Session key the batch pipeline writes: trip id × 100 + 1-based
    * session number. */
  def tripKey(trip: Long, session: Int): Long = trip * 100 + session

  def batch(msgs: Seq[Msg], gapS: Long): Map[Long, TripAgg] =
    msgs.filter(_.valid).groupBy(_.trip).toSeq.flatMap { case (trip, ms) =>
      splitSessions(ms.sortBy(_.tsec), gapS).zipWithIndex.flatMap { case (s, i) =>
        val gps = s.filter(_.hasGps)
        if (gps.isEmpty) None else Some(aggregate(tripKey(trip, i + 1), gps))
      }
    }.map(a => a.tripKey -> a).toMap

  private def splitSessions(sorted: Seq[Msg], gapS: Long): Seq[Seq[Msg]] = {
    val out = Vector.newBuilder[Seq[Msg]]
    var cur = Vector.empty[Msg]
    sorted.foreach { m =>
      if (cur.nonEmpty && m.tsec - cur.last.tsec > gapS) { out += cur; cur = Vector.empty }
      cur :+= m
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }

  /** Reference TripAggregation over time-sorted GPS readings. */
  def aggregate(key: Long, gps: Seq[Msg]): TripAgg = {
    var dist = 0.0
    var stopped = 0L
    gps.sliding(2).foreach {
      case Seq(a, b) =>
        dist += haversineKm(a.lat, a.lon, b.lat, b.lon)
        if (a.speed < LowSpeedKmh && b.speed < LowSpeedKmh) stopped += b.tsec - a.tsec
      case _ =>
    }
    val total = gps.last.tsec - gps.head.tsec
    TripAgg(key, gps.size, total, stopped, dist, total - stopped)
  }

  def stream(files: Seq[Seq[Msg]], gapS: Long, delayS: Long): StreamResult = {
    final case class Open(start: Long, last: Long, n: Long, sum: Double)
    val open = scala.collection.mutable.Map.empty[Long, Open]
    val totals = scala.collection.mutable.Map.empty[Long, TripTotals]
    var sessions = 0L
    var late = 0L
    var maxTs = Long.MinValue

    def close(trip: Long, s: Open): Unit = {
      val t = totals.getOrElse(trip, TripTotals(trip, 0, 0, 0.0))
      totals(trip) = TripTotals(trip, t.sessions + 1, t.events + s.n, t.sumSpeed + s.sum)
      sessions += 1
    }
    def expire(wm: Long): Unit =
      open.toSeq.foreach { case (trip, s) =>
        if (s.last + gapS < wm) { close(trip, s); open.remove(trip) }
      }

    files.foreach { file =>
      // watermark 0 until the first batch has seen data
      val wm = if (maxTs == Long.MinValue) Long.MinValue else maxTs - delayS
      val valid = file.filter(_.valid)
      late += valid.count(_.tsec <= wm)
      valid.groupBy(_.trip).foreach { case (trip, ms) =>
        ms.sortBy(_.tsec).foreach { m =>
          val v = if (m.speed.isNaN) 0.0 else m.speed
          open.get(trip) match {
            case Some(s) if m.tsec - s.last > gapS =>
              close(trip, s); open(trip) = Open(m.tsec, m.tsec, 1, v)
            case Some(s) => open(trip) = Open(s.start, math.max(s.last, m.tsec), s.n + 1, s.sum + v)
            case None => open(trip) = Open(m.tsec, m.tsec, 1, v)
          }
        }
      }
      expire(wm)
      if (valid.nonEmpty) maxTs = math.max(maxTs, valid.map(_.tsec).max)
    }
    expire(maxTs - delayS)
    StreamResult(totals.toMap, sessions, late)
  }
}
