package perfbench

import graft.pipeline.IngestPipeline
import graft.schema.{GeoPoint, TrafficObservation, WeatherObservation}
import graft.streaming.StreamingIngest
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, Paths}
import java.time.{ZoneOffset, ZonedDateTime}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** The paper's job: hourly `IngestPipeline.run` over an injected fetcher,
  * then an AvailableNow `StreamingIngest` catch-up over a backlog of hour
  * files, both on top of a seeded history in the pipeline's own layout
  * (date-partitioned parquet, one file per hourly append).
  */
final class HourlyIngest(a: Args, t: Tracer, out: Outcome) extends Workload {
  import HourlyIngest._

  private val gen = new Payloads(a.seed)
  private val root = Paths.get(a.runDir, "ingest")
  private val history = root.resolve("history")
  private val live = root.resolve("live")
  private def cfg = IngestPipeline.Config(
    trafficUrlTemplate = "traffic", weatherUrlTemplate = "weather",
    points = gen.points, trafficPath = s"$live/traffic", weatherPath = s"$live/weather",
    snapshotPath = s"$live/snapshot", zone = "UTC", retries = Retries,
    retryDelayMillis = 1L)

  private val hourMs = mutable.ArrayBuffer.empty[Double]
  private val catchupRates = mutable.ArrayBuffer.empty[Double]
  private val drainMs = mutable.ArrayBuffer.empty[Double]
  private var backlogHours = 0
  private var snapshotRowsOut = 0L
  /** Hour index → points that land a traffic / weather row. */
  private val landed = mutable.HashMap.empty[Int, (Set[Int], Set[Int])]
  private var nextBacklog = 0

  def tables: Seq[String] = Nil

  def setup(s: SparkSession, k: Int): Unit = {
    t.span("setup.fixture") { writeHistory(s) }
    t.span("setup.warm_pass") {
      restore()
      hour(s, HistoryHours, timed = false)
      drain(s, HistoryHours + 1, 1, timed = false)
    }
  }

  def measure(s: SparkSession): Unit = {
    gen.resetCounts()
    restore()
    landed.clear()
    (0 until HistoryHours).foreach(h => landed(h) = (gen.points.indices.toSet, gen.points.indices.toSet))
    // Counts are fixed up front from the window, so the mix of hourly
    // runs and drains (which differ in cost) is the same in every run.
    val hours = math.max(MinHours, math.round(a.seconds * HoursPerSecond).toInt)
    val drains = math.max(MinDrains, math.round(a.seconds * DrainsPerSecond).toInt)
    var h = HistoryHours
    for (_ <- 1 to hours) {
      hour(s, h, timed = true)
      h += 1
    }
    checkSnapshot(s, "after the last hour")
    for (_ <- 1 to drains) {
      drain(s, h, BacklogHours, timed = true)
      h += BacklogHours
    }
    checkSnapshot(s, "after the catch-up")
    val ingested = hourMs.size + backlogHours
    val passMs = Layers.median(hourMs.toSeq)
    val workMs = hourMs.sum + drainMs.sum
    out.put("pass_s", passMs / 1000.0, "s")
    out.put("ops_per_s", ingested / (workMs / 1000.0), "1/s")
  }

  /** The seeded history: `HistoryHours` hourly appends per table in the
    * pipeline's layout (date partitions, one file per hour), written in
    * every set-up. Its rows follow the table schemas; only timed hours
    * are compared with the generator.
    */
  private def writeHistory(s: SparkSession): Unit = {
    import s.implicits._
    deleteTree(history)
    val hours = 0 until HistoryHours
    def write(df: DataFrame, dir: String): Unit = {
      val byHour = df.rdd.keyBy(r => hourOf(r.getString(0), r.getString(1)))
        .partitionBy(new HashPartitioner(HistoryHours)).values
      s.createDataFrame(byHour, df.schema)
        .write.partitionBy("date").parquet(history.resolve(dir).toString)
    }
    val obs = for (h <- hours; p <- gen.points.indices) yield (h, p)
    write(obs.map { case (h, p) =>
      val (date, time) = stamp(h)
      val g = gen.points(p)
      val c = s"${g.lat},${g.lon}"
      TrafficObservation(date, time, g.geo_name, g.lat, g.lon, "FRC2", gen.speed(h, p), 80L,
        120L, 90L, 0.9, road_closure = false, c, c, c)
    }.toDF(), "traffic")
    write(obs.map { case (h, p) =>
      val (date, time) = stamp(h)
      val g = gen.points(p)
      WeatherObservation(date, time, g.geo_name, "DK", "Copenhagen", "Clouds",
        "scattered clouds", 5.0, 3.0, 4.0, 6.0, 1012L, gen.humidity(h, p), 10000L, 3.5, 200L,
        40L, s"${g.lat},${g.lon}")
    }.toDF(), "weather")
  }

  /** Fresh copy of the history as the live tables; no snapshot yet. */
  private def restore(): Unit = {
    deleteTree(live)
    copyTree(history, live)
  }

  /** One hourly run at hour `h`, checked against the generator. */
  private def hour(s: SparkSession, h: Int, timed: Boolean): Unit = {
    val fetcher: graft.sources.HttpJsonSource.Fetcher = (api, p) => {
      val i = gen.points.indexOf(p)
      t.span("sources.fetch")(gen.fetch(api, h, i))
    }
    gen.resetAttempts()
    val t0 = System.nanoTime()
    val report = t.span("pipeline.run", "pipeline.run") {
      IngestPipeline.run(s, cfg, fetcher, ZonedDateTime.ofInstant(instant(h), ZoneOffset.UTC))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val tr = gen.points.indices.filter(p => gen.lands("traffic", h, p)).toSet
    val we = gen.points.indices.filter(p => gen.lands("weather", h, p)).toSet
    landed(h) = (tr, we)
    val exhausted = gen.points.indices.count(p => gen.exhausted("traffic", h, p)) +
      gen.points.indices.count(p => gen.exhausted("weather", h, p))
    if (timed) {
      hourMs += ms
      snapshotRowsOut += report.snapshotRows
      val expectTraffic = tr.size + (if (a.corrupt) 1 else 0)
      out.check(report.trafficRows == expectTraffic,
        s"hour $h: ${report.trafficRows} traffic rows, expected $expectTraffic")
      out.check(report.weatherRows == we.size,
        s"hour $h: ${report.weatherRows} weather rows, expected ${we.size}")
      out.check(report.failures.size == exhausted,
        s"hour $h: ${report.failures.size} failed fetches, expected $exhausted")
      val snap = expectedSnapshot().size
      out.check(report.snapshotRows == snap,
        s"hour $h: ${report.snapshotRows} snapshot rows, expected $snap")
    }
  }

  /** Writes a backlog of `n` hour files from hour `h0` and drains it with
    * an AvailableNow stream.
    */
  private def drain(s: SparkSession, h0: Int, n: Int, timed: Boolean): Unit = {
    nextBacklog += 1
    val dir = root.resolve(s"backlog$nextBacklog")
    Files.createDirectories(dir)
    for (h <- h0 until h0 + n) {
      val (date, time) = stamp(h)
      val lines = for {
        api <- Seq("traffic", "weather")
        p <- gen.points.indices if gen.arrives(api, h, p)
      } yield {
        val g = gen.points(p)
        s"""{"geo_name":${Json.str(g.geo_name)},"lat":${Json.str(g.lat)},""" +
          s""""lon":${Json.str(g.lon)},"payload":${Json.str(gen.payload(api, h, p, gen.wellFormed(api, h, p)))},""" +
          s""""date":"$date","time":"$time","data_type":"$api"}"""
      }
      Files.writeString(dir.resolve(f"hour-$h%05d.json"), lines.mkString("", "\n", "\n"))
      landed(h) = (gen.points.indices.filter(p => gen.lands("traffic", h, p)).toSet,
        gen.points.indices.filter(p => gen.lands("weather", h, p)).toSet)
    }
    val t0 = System.nanoTime()
    t.span("streaming.drain", "streaming.drain") {
      val q = StreamingIngest.start(s, dir.toString, cfg.trafficPath, cfg.weatherPath,
        cfg.snapshotPath, root.resolve(s"checkpoint$nextBacklog").toString)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (timed) {
      catchupRates += n / sec
      drainMs += sec * 1000
      backlogHours += n
    }
  }

  /** The published snapshot must equal the latest traffic hour joined
    * with its weather rows (the MAX is taken over traffic only).
    */
  private def checkSnapshot(s: SparkSession, when: String): Unit = {
    val got = s.read.parquet(cfg.snapshotPath)
      .select(col("geo_name"), col("date"), col("time"), col("current_speed"),
        col("humidity_percent"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    out.check(got == expectedSnapshot(), s"snapshot $when: ${got.size} rows differ from the expected join")
  }

  private def expectedSnapshot(): Set[(String, String, String, Long, Long)] = {
    val latest = landed.collect { case (h, (tr, _)) if tr.nonEmpty => h }.max
    val (tr, we) = landed(latest)
    val (date, time) = stamp(latest)
    (tr intersect we).map { p =>
      (gen.points(p).geo_name, date, time, gen.speed(latest, p), gen.humidity(latest, p))
    }
  }

  def layers(m: Layers): Unit = {
    val r = m.r
    val runs = r.execsIn(_ == "pipeline.run").filter(_.startUs >= t.measureStartUs)
    def isSnapshot(e: r.Exec) = e.writes.exists(_.startsWith(cfg.snapshotPath)) ||
      e.reads.exists(p => p.startsWith(cfg.trafficPath) || p.startsWith(cfg.weatherPath))
    val (snap, append) = runs.partition(isSnapshot)
    val fetch = t.timed(_ == "sources.fetch")
    m.put("sources.fetch_ms", fetch.map(_.ms).sum)
    m.put("sources.attempts", gen.attempts)
    m.put("sources.retries", gen.attempts - gen.calls)
    m.put("sources.exhausted", gen.exhaustedCount)
    m.put("sources.success_ratio", gen.successes.toDouble / math.max(1L, gen.attempts))
    val appendMs = append.map(_.ms).sum
    val rowsAppended = append.map(_.rowsWritten).sum
    m.put("pipeline.append_ms", appendMs)
    m.put("pipeline.append_jobs", r.jobsOf(append).size)
    m.put("pipeline.files_written", append.map(_.filesWritten).sum)
    m.put("pipeline.rows_appended", rowsAppended)
    m.put("pipeline.malformed_dropped", gen.successes - rowsAppended)
    val snapMs = snap.map(_.ms).sum
    m.put("snapshot.ms", snapMs)
    m.put("snapshot.jobs", r.jobsOf(snap).size)
    m.put("snapshot.files_scanned", snap.map(_.filesScanned).sum)
    m.put("snapshot.rows_scanned_per_row_out",
      snap.map(_.rowsScanned).sum.toDouble / math.max(1L, snapshotRowsOut))
    val batches = r.addBatches.filter(_._1 >= t.measureStartUs)
    m.put("streaming.batches", batches.size)
    m.put("streaming.add_batch_ms", batches.map(_._2).sum)
    m.put("streaming.jobs_per_hour",
      r.jobsIn(_ == "streaming.drain").size.toDouble / math.max(1, backlogHours))
    m.plans()
    m.exec(t.timed(s => s == "pipeline.run" || s == "streaming.drain"),
      p => p == "pipeline.run" || p == "streaming.drain")
    val runWall = t.timed(_ == "pipeline.run").map(_.ms).sum
    m.put("self_ms.sources", fetch.map(_.ms).sum)
    m.put("self_ms.snapshot", snapMs)
    m.put("self_ms.pipeline", runWall - fetch.map(_.ms).sum - snapMs)
    m.put("hour_ms_p50", Layers.median(hourMs.toSeq))
    m.put("hour_ms_p90", Layers.percentile(hourMs.toSeq, 90))
    m.put("hours", hourMs.size)
    m.put("catchup_hours_per_s", Layers.median(catchupRates.toSeq))
  }
}

object HourlyIngest {
  val Points = 10
  val Retries = 3
  val HistoryHours = 24
  val BacklogHours = 3
  /** Timed hourly runs and drains per second of `--seconds`: an hourly
    * run takes about 1.5 s and a drain about 2.7 s on a 4-core machine.
    */
  val HoursPerSecond = 0.5
  val DrainsPerSecond = 0.2
  val MinHours = 5
  val MinDrains = 2
  private val Base = ZonedDateTime.of(2024, 3, 1, 0, 0, 0, 0, ZoneOffset.UTC).toInstant
  private val DateF = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val TimeF = DateTimeFormatter.ofPattern("HH:mm").withZone(ZoneOffset.UTC)

  def instant(h: Int): java.time.Instant = Base.plusSeconds(3600L * h)
  def stamp(h: Int): (String, String) = (DateF.format(instant(h)), TimeF.format(instant(h)))
  def hourOf(date: String, time: String): Int =
    ((ZonedDateTime.of(java.time.LocalDate.parse(date), java.time.LocalTime.parse(time),
      ZoneOffset.UTC).toInstant.getEpochSecond - Base.getEpochSecond) / 3600).toInt

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }
}

/** Seeded API responses. Every draw is a pure function of (seed, api,
  * hour, point), so the expected rows of any hour are known up front.
  */
final class Payloads(seed: Long) {
  import HourlyIngest._

  val points: Seq[GeoPoint] = {
    val r = Main.random(seed, "points")
    (0 until Points).map(i => GeoPoint(f"geo_$i%02d",
      f"${55.6 + r.nextInt(1000) / 10000.0}%.4f", f"${12.5 + r.nextInt(1000) / 10000.0}%.4f"))
  }

  private def rnd(api: String, h: Int, p: Int, salt: Int): scala.util.Random =
    Main.random(seed, api, h, p, salt)

  /** Failed attempts before a success; `Retries` or more = exhausted. */
  def failuresBefore(api: String, h: Int, p: Int): Int = {
    val r = rnd(api, h, p, 1)
    if (r.nextDouble() < 0.10) 1 + r.nextInt(Retries + 1) else 0
  }
  def exhausted(api: String, h: Int, p: Int): Boolean = failuresBefore(api, h, p) >= Retries
  def wellFormed(api: String, h: Int, p: Int): Boolean = rnd(api, h, p, 2).nextDouble() >= 0.05
  /** The payload reaches the pipeline (fetched, possibly after retries). */
  def arrives(api: String, h: Int, p: Int): Boolean = !exhausted(api, h, p)
  /** The payload yields a table row. */
  def lands(api: String, h: Int, p: Int): Boolean = arrives(api, h, p) && wellFormed(api, h, p)
  def speed(h: Int, p: Int): Long = 10 + rnd("traffic", h, p, 3).nextInt(90)
  def humidity(h: Int, p: Int): Long = 30 + rnd("weather", h, p, 3).nextInt(70)

  // Counts at the fetcher; it may be called from several threads.
  private val attemptsSoFar = mutable.HashMap.empty[(String, Int, Int), Int]
  var calls, attempts, successes, exhaustedCount = 0L
  def resetAttempts(): Unit = synchronized(attemptsSoFar.clear())
  def resetCounts(): Unit = synchronized { calls = 0; attempts = 0; successes = 0; exhaustedCount = 0 }

  /** One call of the injected fetcher, with the API round-trip delay. */
  def fetch(api: String, h: Int, p: Int): Try[String] = {
    val n = synchronized {
      val n = attemptsSoFar.getOrElse((api, h, p), 0)
      attemptsSoFar((api, h, p)) = n + 1
      attempts += 1
      if (n == 0) calls += 1
      n
    }
    Thread.sleep(1 + rnd(api, h, p, 4 + n).nextInt(4))
    val fails = n < failuresBefore(api, h, p)
    synchronized(if (!fails) successes += 1 else if (n == Retries - 1) exhaustedCount += 1)
    if (fails) Failure(new RuntimeException(s"$api $h ${points(p).geo_name}: status 503"))
    else Success(payload(api, h, p, wellFormed(api, h, p)))
  }

  def payload(api: String, h: Int, p: Int, wellFormed: Boolean): String = {
    val r = rnd(api, h, p, 5)
    val g = points(p)
    if (api == "traffic") {
      if (!wellFormed) """{"error":"no flowSegmentData"}"""
      else {
        val free = 50 + r.nextInt(60)
        val coords = (0 to r.nextInt(3)).map(i =>
          f"""{"latitude":${g.lat.toDouble + i / 1000.0}%.5f,"longitude":${g.lon.toDouble + i / 1000.0}%.5f}""")
        s"""{"flowSegmentData":{"frc":"FRC${r.nextInt(7)}","currentSpeed":${speed(h, p)},""" +
          s""""freeFlowSpeed":$free,"currentTravelTime":${60 + r.nextInt(600)},""" +
          s""""freeFlowTravelTime":${60 + r.nextInt(300)},"confidence":${r.nextInt(100) / 100.0},""" +
          s""""roadClosure":${r.nextInt(50) == 0},"coordinates":{"coordinate":[${coords.mkString(",")}]}}}"""
      }
    } else {
      if (!wellFormed) """{"weather":[],"main":{"temp":280.0}}"""
      else {
        val temp = 265.0 + r.nextInt(3000) / 100.0
        s"""{"weather":[{"main":"Clouds","description":"scattered clouds"}],""" +
          s""""main":{"temp":$temp,"feels_like":${temp - 2},"temp_min":${temp - 1},""" +
          s""""temp_max":${temp + 1},"pressure":${990 + r.nextInt(40)},"humidity":${humidity(h, p)}},""" +
          s""""visibility":${1000 * (1 + r.nextInt(10))},"wind":{"speed":${r.nextInt(150) / 10.0},""" +
          s""""deg":${r.nextInt(360)}},"clouds":{"all":${r.nextInt(101)}},"sys":{"country":"DK"},""" +
          s""""name":"Copenhagen"}"""
      }
    }
  }
}
