package perfbench

import graft.pipeline.IngestPipeline
import graft.schema.{GeoPoint, TrafficObservation, WeatherObservation}
import graft.sources.HttpJsonSource.Fetcher
import org.apache.spark.sql.{SaveMode, SparkSession}

import java.nio.file.Path
import java.time.{ZoneOffset, ZonedDateTime}
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** `hourly_cycle`: back-to-back `IngestPipeline.run` cycles, one caller
  * (closed loop), each fetching every point's traffic and weather
  * payload from a seeded fixture fetcher, appending both tables and
  * republishing the latest-hour snapshot over the whole history.
  *
  * Set-up writes a seeded history of `HistoryDays` × 24 hourly file
  * sets with the layout real hourly appends leave: per hour and table,
  * one file per task of the append (`min(points, cores)` files) in the
  * hour's `date=` directory.
  */
object HourlyCycle {
  val Points = 200
  val HistoryDays = 3
  val Setups = 2
  val WarmCycles = 1
  val FetchDelayNanos = 1000000L
  val TransientShare = 0.02
  val MalformedShare = 0.01
  private val Epoch = ZonedDateTime.of(2026, 1, 1, 0, 0, 0, 0, ZoneOffset.UTC)

  /** Seeded payload values of one (hour, source, point) unit. */
  final case class Payload(hour: Int, traffic: Boolean, point: Int, seed: Long) {
    private val rng = new SplittableRandom(
      seed * 1000003L + hour * 7919L * 2 + (if (traffic) 1 else 0) * 104729L +
        point * 15485863L)
    val malformed: Boolean = rng.nextDouble() < MalformedShare
    val transient: Boolean = rng.nextDouble() < TransientShare
    val speed: Long = rng.nextLong(5, 90)
    val freeFlow: Long = rng.nextLong(30, 90)
    val travel: Long = rng.nextLong(20, 400)
    val freeTravel: Long = rng.nextLong(20, 300)
    val confidence: Double = rng.nextInt(50, 101) / 100.0
    val closure: Boolean = rng.nextInt(100) == 0
    val kelvin: Double = 260.0 + rng.nextInt(0, 3500) / 100.0
    val pressure: Long = rng.nextLong(980, 1040)
    val humidity: Long = rng.nextLong(30, 100)
    val wind: Double = rng.nextInt(0, 2000) / 100.0
    val deg: Long = rng.nextLong(0, 360)
    val clouds: Long = rng.nextLong(0, 101)
  }

  def points(seed: Long): IndexedSeq[GeoPoint] = {
    val rng = new SplittableRandom(seed)
    (0 until Points).map { i =>
      GeoPoint(s"point_$i",
        f"${55.60 + rng.nextInt(0, 150000) / 1e6}%.6f",
        f"${12.45 + rng.nextInt(0, 200000) / 1e6}%.6f")
    }
  }

  private def stamp(hour: Int): (String, String) =
    IngestPipeline.runStamp("UTC", Epoch.plusHours(hour))

  private def round2(d: Double) = BigDecimal(d).setScale(2,
    BigDecimal.RoundingMode.HALF_UP).toDouble

  def trafficJson(u: Payload): String =
    if (u.malformed) """{"flowSegmentData":null}"""
    else s"""{"flowSegmentData":{"frc":"FRC${u.point % 7}","currentSpeed":${u.speed},""" +
      s""""freeFlowSpeed":${u.freeFlow},"currentTravelTime":${u.travel},""" +
      s""""freeFlowTravelTime":${u.freeTravel},"confidence":${u.confidence},""" +
      s""""roadClosure":${u.closure},"coordinates":{"coordinate":[""" +
      s"""{"latitude":55.6612,"longitude":12.5012},""" +
      s"""{"latitude":55.6623,"longitude":12.5023}]}}}"""

  def weatherJson(u: Payload): String =
    if (u.malformed) """{"weather":[],"main":null}"""
    else s"""{"weather":[{"main":"Clouds","description":"overcast clouds"}],""" +
      s""""main":{"temp":${u.kelvin},"feels_like":${u.kelvin - 1.5},""" +
      s""""temp_min":${u.kelvin - 1},"temp_max":${u.kelvin + 1},""" +
      s""""pressure":${u.pressure},"humidity":${u.humidity}},"visibility":10000,""" +
      s""""wind":{"speed":${u.wind},"deg":${u.deg}},"clouds":{"all":${u.clouds}},""" +
      s""""sys":{"country":"DK"},"name":"Copenhagen"}"""

  private def trafficRow(p: GeoPoint, u: Payload, d: String, t: String) =
    TrafficObservation(d, t, p.geo_name, p.lat, p.lon, s"FRC${u.point % 7}",
      u.speed, u.freeFlow, u.travel, u.freeTravel, u.confidence, u.closure,
      s"${p.lat},${p.lon}", "55.6612,12.5012", "55.6623,12.5023")

  private def weatherRow(p: GeoPoint, u: Payload, d: String, t: String) =
    WeatherObservation(d, t, p.geo_name, "DK", "Copenhagen", "Clouds",
      "overcast clouds", u.kelvin - 273.15, u.kelvin - 1.5 - 273.15,
      u.kelvin - 1 - 273.15, u.kelvin + 1 - 273.15, u.pressure, u.humidity,
      10000L, u.wind, u.deg, u.clouds, s"${p.lat},${p.lon}")

  /** The benchmark's fixture fetcher: waits `FetchDelayNanos` per call
    * (a stand-in for the API round trip), fails a seeded ~2% of units
    * once, and serves seeded payloads, ~1% of them malformed. Counts
    * calls and the time spent inside it.
    */
  final class Fixture(seed: Long, pts: IndexedSeq[GeoPoint]) extends Fetcher {
    var hour = 0
    var calls = 0L
    var nanos = 0L
    private val index = pts.zipWithIndex.toMap
    private val attempted = mutable.Set.empty[(Boolean, Int)]

    def startHour(h: Int): Unit = { hour = h; attempted.clear() }

    def apply(url: String, p: GeoPoint): Try[String] = {
      val t0 = System.nanoTime()
      LockSupport.parkNanos(FetchDelayNanos)
      val traffic = url.startsWith("traffic")
      val u = Payload(hour, traffic, index(p), seed)
      val first = attempted.add((traffic, u.point))
      calls += 1
      val r =
        if (u.transient && first)
          Failure(new RuntimeException(s"HTTP 503 for ${p.geo_name}"))
        else Success(if (traffic) trafficJson(u) else weatherJson(u))
      val t1 = System.nanoTime()
      nanos += t1 - t0
      Trace.leaf("sources.fetch", t0, t1)
      r
    }
  }

  /** Write `hours` seeded hourly file sets into `base`: every hour of
    * `Points` well-formed rows, cut into `min(Points, cores)` files per
    * table — the files one hourly append writes. One task writes each
    * day; `maxRecordsPerFile` rolls its output at the hourly file size.
    */
  private def seedHistory(spark: SparkSession, seed: Long,
      pts: IndexedSeq[GeoPoint], hours: Int, base: Path): Unit = {
    import spark.implicits._
    val filesPerHour = math.min(Points, spark.sparkContext.defaultParallelism)
    val perFile = math.ceil(Points.toDouble / filesPerHour).toLong
    val days = hours / 24
    def write[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
        rows: Seq[T], table: String): Unit =
      spark.createDataset(spark.sparkContext.parallelize(rows, days))
        .write.mode(SaveMode.Append).option("maxRecordsPerFile", perFile)
        .partitionBy("date").parquet(base.resolve(table).toString)
    val stamps = (0 until hours).map(stamp)
    val units = for (h <- 0 until hours; i <- pts.indices) yield (h, i, stamps(h))
    write(units.map { case (h, i, (d, t)) =>
      trafficRow(pts(i), Payload(h, traffic = true, i, seed), d, t) }, "traffic_table")
    write(units.map { case (h, i, (d, t)) =>
      weatherRow(pts(i), Payload(h, traffic = false, i, seed), d, t) }, "weather_table")
  }

  /** The snapshot rows hour `h` must publish: every point whose traffic
    * and weather payloads are both well formed (transient failures
    * succeed on their retry), as (geo_name, speed, temperature).
    */
  private def expected(seed: Long, pts: IndexedSeq[GeoPoint], h: Int)
      : Set[(String, Long, Double)] =
    pts.indices.flatMap { i =>
      val t = Payload(h, traffic = true, i, seed)
      val w = Payload(h, traffic = false, i, seed)
      if (t.malformed || w.malformed) None
      else Some((pts(i).geo_name, t.speed, round2(w.kelvin - 273.15)))
    }.toSet

  /** Layer of one query execution inside `IngestPipeline.run`. */
  private def classify(qe: org.apache.spark.sql.execution.QueryExecution)
      : Option[String] = {
    Trace.outputPath(qe) match {
      case Some(p) if p.endsWith("traffic_table") || p.endsWith("weather_table") =>
        Some("pipeline.append")
      case Some(p) if p.contains("latest_joined_data") => Some("layout.publish")
      case Some(_) => None
      case None =>
        val plan = qe.analyzed.toString
        if (plan.contains("from_json")) Some("ingestops.extract")
        else if (plan.contains("Join")) Some("snapshot")
        else None
    }
  }

  def run(spark: SparkSession, seed: Long, seconds: Double,
      work: Path): Outcome = {
    val pts = points(seed)
    val hours = HistoryDays * 24
    val setupTimes = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      seedHistory(spark, seed, pts, hours, work.resolve(s"history-$i"))
      Log(f"setup $i: ${Stats.seconds(t0)}%.3f s")
      Stats.seconds(t0)
    }
    val base = work.resolve(s"history-$Setups")
    val cfg = IngestPipeline.Config(
      trafficUrlTemplate = "traffic://{lat},{lon}",
      weatherUrlTemplate = "weather://{lat},{lon}",
      points = pts,
      trafficPath = base.resolve("traffic_table").toString,
      weatherPath = base.resolve("weather_table").toString,
      snapshotPath = base.resolve("latest_joined_data").toString,
      zone = "UTC",
      retries = 3,
      retryDelayMillis = FetchDelayNanos / 1000000L)
    val fixture = new Fixture(seed, pts)
    Trace.classify = classify

    var hour = hours
    var failed = 0L
    var cycles = 0L
    val times = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.Map.empty[String, Double]
    def cycle(): Double = {
      fixture.startHour(hour)
      val (calls0, nanos0) = (fixture.calls, fixture.nanos)
      Trace.drainCounters()
      val t0 = System.nanoTime()
      val report = Trace.span("cycle")(
        IngestPipeline.run(spark, cfg, fixture, Epoch.plusHours(hour)))
      val dt = Stats.seconds(t0)
      Log(f"cycle $cycles: $dt%.3f s")
      val c = Trace.drainCounters()
      // Untimed check: the published snapshot is exactly this hour's
      // expected rows.
      val (d, t) = stamp(hour)
      val got = Trace.span("check")(spark.read.parquet(cfg.snapshotPath)
        .select("date", "time", "geo_name", "current_speed", "temperature")
        .collect()).map(r => (r.getString(0), r.getString(1),
          (r.getString(2), r.getLong(3), round2(r.getDouble(4)))))
      val want = expected(seed, pts, hour)
      val ok = report.failures.isEmpty && got.length == want.size &&
        got.forall { case (gd, gt, row) => gd == d && gt == t && want(row) }
      if (!ok) failed += 1
      cycles += 1
      hour += 1
      if (Trace.enabled) {
        def g(k: String) = c.getOrElse(k, 0.0)
        def sum(l: String) = g(s"$l.plan_s") + g(s"$l.exec_s")
        val units = 2L * Points
        val rowsIn = units - report.failures.size
        val rowsOut = report.trafficRows + report.weatherRows
        Seq(
          "sources.fetch_s" -> (fixture.nanos - nanos0) / 1e9,
          "sources.calls" -> (fixture.calls - calls0).toDouble,
          "sources.retries" -> (fixture.calls - calls0 - units).toDouble,
          "sources.failed_units" -> report.failures.size.toDouble,
          "ingestops.extract_s" -> sum("ingestops.extract"),
          "ingestops.rows_in" -> rowsIn.toDouble,
          "ingestops.rows_out" -> rowsOut.toDouble,
          "ingestops.malformed_dropped" -> (rowsIn - rowsOut).toDouble,
          "pipeline.append_s" -> sum("pipeline.append"),
          "pipeline.files_written" -> g("pipeline.append.files_written"),
          "pipeline.bytes_written" -> g("pipeline.append.bytes_written"),
          "snapshot.plan_s" -> g("snapshot.plan_s"),
          "snapshot.exec_s" -> g("snapshot.exec_s"),
          "snapshot.files_read" -> g("snapshot.files_read"),
          "snapshot.bytes_read" -> g("snapshot.bytes_read"),
          "snapshot.rows_read" -> g("snapshot.rows_read"),
          "snapshot.rows_out" -> report.snapshotRows.toDouble,
          "snapshot.rows_out_per_row_read" ->
            report.snapshotRows / math.max(1.0, g("snapshot.rows_read")),
          "layout.publish_s" -> sum("layout.publish"),
          "spark.tasks" -> g("spark.tasks"),
          "spark.executor_cpu_s" -> g("spark.executor_cpu_s"),
          "spark.gc_s" -> g("spark.gc_s")
        ).foreach { case (k, v) => layers(k) = layers.getOrElse(k, 0.0) + v }
      }
      dt
    }

    (1 to WarmCycles).foreach(_ => cycle())
    layers.clear()
    val window0 = System.nanoTime()
    while (times.isEmpty || Stats.seconds(window0) < seconds) times += cycle()

    val tables = Seq("traffic_table", "weather_table").map(base.resolve)
    val storedRows = tables.map(p => spark.read.parquet(p.toString).count()).sum
    Outcome(
      attempted = cycles,
      failed = failed,
      endToEnd = Seq(
        ("setup_s", Stats.median(setupTimes), "s"),
        ("cycle_s", Stats.median(times.toSeq), "s"),
        ("op_geomean_s", Stats.geomean(times.toSeq), "s"),
        ("bytes_per_row", tables.map(Stats.du).sum.toDouble / storedRows, "bytes")),
      perLayer = layers.map { case (k, v) => k -> v / times.size }.toMap,
      diagnostics = Seq("history_hours" -> hours.toDouble,
        "points" -> Points.toDouble) ++ Stats.tail("cycle_s", times.toSeq))
  }
}
