package perfbench

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

class TripGenSpec extends AnyFunSuite {
  private val shape = TripShape(trips = 30, readings = 3000, lateShare = 0.02, files = 6)

  private def bytes(dir: Path): Seq[(String, Seq[Byte])] =
    TripGen.write(TripGen.generate(shape, 42), dir)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)

  test("the same seed writes byte-identical files") {
    val tmp = Files.createTempDirectory(Paths.get("target"), "gen")
    assert(bytes(tmp.resolve("a")) == bytes(tmp.resolve("b")))
  }

  test("another seed writes other files") {
    val a = TripGen.generate(shape, 1).all.map(_.line)
    val b = TripGen.generate(shape, 2).all.map(_.line)
    assert(a != b)
  }

  test("every traffic dimension is present") {
    val g = TripGen.generate(shape, 7)
    val all = g.all
    assert(g.files.size == 6)
    assert(all.count(!_.valid) > 0, "malformed lines")
    val lengths = all.filter(_.valid).groupBy(_.trip).values.map(_.size).toSeq.sorted
    assert(lengths.last > 4 * lengths(lengths.size / 2), "skewed trip lengths")
    // out of order: some message arrives after a newer one
    val ts = all.filter(_.valid).map(_.tsec)
    assert(ts.zip(ts.tail).exists { case (a, b) => a > b })
    assert(TripReference.stream(g.files, TripGen.GapS, TripGen.DelayS).late > 0, "late messages")
    val ends = all.filter(_.kind == "TripEnd").map(_.tsec).distinct
    assert(ends.size > shape.trips / 2, "staggered trip ends")
  }

  test("disorder stays inside the 3 s bound; only late messages exceed it") {
    val g = TripGen.generate(shape, 9)
    var maxSeen = Long.MinValue
    var beyond = 0
    g.all.filter(_.valid).foreach { m =>
      if (m.tsec < maxSeen - TripGen.DelayS) beyond += 1
      maxSeen = math.max(maxSeen, m.tsec)
    }
    val late = g.all.count(m => m.valid && m.kind == "TripData") * shape.lateShare
    assert(beyond > 0 && beyond < 3 * late)
  }
}

class TripReferenceSpec extends AnyFunSuite {
  private def gps(trip: Long, t: Long, lat: Double, speed: Double) =
    Msg(trip, t, "TripData", lat, 4.0, speed, valid = true, "")

  test("one hand-computed trip") {
    // 0.001° of latitude is R·π/180·0.001 km along a meridian
    val leg = 6371.0 * math.Pi / 180.0 * 0.001
    val trip = Seq(gps(1, 6, 52.002, 40.0), gps(1, 0, 52.000, 0.0),
      gps(1, 4, 52.001, 30.0), gps(1, 2, 52.000, 3.0))
    val a = TripReference.batch(trip, gapS = 20)(TripReference.tripKey(1, 1))
    assert(a.nEvents == 4)
    assert(a.totalS == 6)
    assert(a.stoppedS == 2) // only 0 → 2 s has both readings below 5 km/h
    assert(a.movingS == 4)
    assert(math.abs(a.distanceKm - 2 * leg) < 1e-12)
  }

  test("an inactivity gap splits a trip into two sessions") {
    val trip = Seq(gps(1, 0, 52.0, 0.0), gps(1, 2, 52.0, 0.0), gps(1, 40, 52.0, 0.0), gps(1, 42, 52.0, 0.0))
    val out = TripReference.batch(trip, gapS = 20)
    assert(out.keySet == Set(101L, 102L))
    assert(out(101L).stoppedS == 2 && out(102L).stoppedS == 2)
  }

  test("streaming emission and late rule") {
    val b0 = Seq(gps(1, 0, 52.0, 10.0), gps(2, 2, 52.0, 1.0), gps(1, 30, 52.0, 20.0))
    // watermark 30 - 3 = 27: trip 2's t=4 is late but its session is
    // still open, so it joins it; the session then closes (4 + 20 < 27)
    val b1 = Seq(gps(2, 4, 52.0, 2.0), gps(1, 32, 52.0, 30.0), gps(1, 80, 52.0, 40.0))
    // watermark 77: trip 2's t=6 is late and its session has closed, so
    // it opens a session of its own that closes at once (6 + 20 < 77)
    val b2 = Seq(gps(2, 6, 52.0, 4.0), gps(1, 82, 52.0, 0.0))
    val r = TripReference.stream(Seq(b0, b1, b2), gapS = 20, delayS = 3)
    assert(r.late == 2)
    // trip 1 emits [0] and [30, 32]; [80, 82] stays open past the final
    // watermark 79
    assert(r.totals(1L) == TripReference.TripTotals(1, 2, 3, 60.0))
    assert(r.totals(2L) == TripReference.TripTotals(2, 2, 3, 7.0))
    assert(r.sessions == 4)
  }
}

class TraceSpec extends AnyFunSuite {
  test("child spans never exceed their parent, and self times add up") {
    val t = new Tracer
    t.span("pass") {
      t.span("a")(Thread.sleep(5))()
      t.span("b") {
        t.span("b1")(Thread.sleep(3))()
        Thread.sleep(2)
      }()
    }()
    val spans = t.spans
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter(_.parent >= 0).foreach { c =>
      val p = byId(c.parent)
      assert(c.startNs >= p.startNs && c.endNs <= p.endNs, s"${c.name} outside ${p.name}")
    }
    val self = Tracer.selfMs(spans)
    assert(self.values.forall(_ >= 0.0))
    val root = spans.find(_.parent < 0).get
    assert(math.abs(self.values.sum - root.ms) < 1e-6)
    assert(spans.map(_.name) == Seq("pass", "a", "b", "b1"))
  }
}
