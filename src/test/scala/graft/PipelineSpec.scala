package graft

import graft.pipeline.IngestPipeline
import graft.pipeline.IngestPipeline.Config
import graft.schema.GeoPoint
import graft.sources.HttpJsonSource

import java.nio.file.{Files, Paths}
import java.time.{ZoneId, ZonedDateTime}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Success, Try}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(base: String): Config = Config(
    trafficUrlTemplate = "traffic://{lat},{lon}?key={key}",
    weatherUrlTemplate = "weather://{lat},{lon}?key={key}",
    points = Fixtures.geoPoints,
    trafficPath = s"$base/traffic_table",
    weatherPath = s"$base/weather_table",
    snapshotPath = s"$base/latest_joined_data",
    retryDelayMillis = 0L)

  private val hour1 = ZonedDateTime.of(2026, 8, 12, 9, 0, 0, 0, ZoneId.of("UTC"))
  private val hour2 = hour1.plusHours(1)

  /** Fixture fetcher: dispatches on URL scheme like the reference's two
    * templates; speed varies per hour so rows are distinguishable.
    */
  private def okFetcher(speed: Long): HttpJsonSource.Fetcher = (url, p) =>
    Success(
      if (url.startsWith("traffic")) Fixtures.tomtom(currentSpeed = speed)
      else Fixtures.openWeather())

  test("two hourly runs: append grows history, snapshot holds only latest") {
    val base = tmpDir("pipeline")
    val c = cfg(base)
    val r1 = IngestPipeline.run(spark, c, okFetcher(30), hour1)
    assert(r1.trafficRows == 3 && r1.weatherRows == 3 && r1.snapshotRows == 3)
    assert(r1.failures.isEmpty)
    val r2 = IngestPipeline.run(spark, c, okFetcher(55), hour2)
    assert(r2.snapshotRows == 3)
    // K1 append semantics: both hours in history
    val hist = spark.read.parquet(c.trafficPath)
    assert(hist.count() == 6)
    // K2 overwrite semantics: snapshot has ONLY the latest hour
    val snap = spark.read.parquet(c.snapshotPath)
    assert(snap.select("time").distinct().as[String].collect().toSeq ==
      Seq("10:00"))
    assert(snap.select("current_speed").distinct().as[Long]
      .collect().toSeq == Seq(55L))
    // one run-constant stamp shared by all rows of a run (P9)
    assert(hist.select("date", "time").distinct().count() == 2)
  }

  test("per-unit isolation: one failing point skips, others proceed (O2)") {
    val base = tmpDir("pipeline")
    val flaky: HttpJsonSource.Fetcher = (url, p) =>
      if (p.geo_name == "langebro") Failure(new RuntimeException("HTTP 500"))
      else okFetcher(30)(url, p)
    val r = IngestPipeline.run(spark, cfg(base), flaky, hour1)
    assert(r.trafficRows == 2 && r.weatherRows == 2)
    // both fetch phases record the failure in the side channel
    assert(r.failures.map(_._1).toSet == Set("langebro"))
    assert(r.failures.length == 2)
  }

  test("retry: succeeds on third attempt (S3: tries=3)") {
    // Counted per (API, point): the run's calls interleave across threads.
    val calls = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    val eventuallyOk: HttpJsonSource.Fetcher = (url, p) =>
      if (calls.computeIfAbsent(url.take(7) + p.geo_name, _ => new AtomicInteger())
          .incrementAndGet() % 3 == 0) okFetcher(30)(url, p)
      else Failure(new RuntimeException("transient"))
    val r = IngestPipeline.run(spark, cfg(tmpDir("pipeline")), eventuallyOk, hour1)
    assert(r.trafficRows == 3 && r.weatherRows == 3 && r.failures.isEmpty)
  }

  test("all fetches fail: empty-batch suppression writes nothing (K3/F3)") {
    val base = tmpDir("pipeline")
    val dead: HttpJsonSource.Fetcher = (_, _) =>
      Failure(new RuntimeException("down"))
    val r = IngestPipeline.run(spark, cfg(base), dead, hour1)
    assert(r.trafficRows == 0 && r.weatherRows == 0 && r.snapshotRows == 0)
    assert(r.failures.length == 6)
    assert(Try(spark.read.parquet(s"$base/traffic_table").count()).isFailure)
  }

  test("all payloads malformed: 0 rows and no history dir is created (K3)") {
    val base = tmpDir("pipeline")
    val garbage: HttpJsonSource.Fetcher = (_, _) => Success(Fixtures.notJson)
    val r = IngestPipeline.run(spark, cfg(base), garbage, hour1)
    assert(r.trafficRows == 0 && r.weatherRows == 0 && r.snapshotRows == 0)
    assert(r.failures.isEmpty)
    assert(!Files.exists(Paths.get(base, "traffic_table")))
    assert(!Files.exists(Paths.get(base, "weather_table")))
    assert(!Files.exists(Paths.get(base, "latest_joined_data")))
  }

  test("malformed payloads drop per-record, run continues (P12/K4)") {
    val badJson: HttpJsonSource.Fetcher = (url, p) =>
      if (p.geo_name == "langebro") Success(Fixtures.notJson)
      else okFetcher(30)(url, p)
    val r = IngestPipeline.run(spark, cfg(tmpDir("pipeline")), badJson, hour1)
    assert(r.trafficRows == 2)
    // weather parser also rejects the non-JSON payload
    assert(r.weatherRows == 2)
    assert(r.snapshotRows == 2)
  }

  test("snapshot refreshes from on-disk history even when this run appends " +
    "no traffic rows (regression: the reference's scheduled query reruns " +
    "unconditionally every hour)") {
    val base = tmpDir("pipeline")
    val c = cfg(base)
    assert(IngestPipeline.run(spark, c, okFetcher(30), hour1).snapshotRows == 3)
    // hour 2: traffic API down, weather still appending — the snapshot
    // must still be recomputed from history, not skipped.
    val trafficDown: HttpJsonSource.Fetcher = (url, p) =>
      if (url.startsWith("traffic")) Failure(new RuntimeException("HTTP 503"))
      else okFetcher(41)(url, p)
    val r2 = IngestPipeline.run(spark, c, trafficDown, hour2)
    assert(r2.trafficRows == 0 && r2.weatherRows == 3)
    assert(r2.snapshotRows == 3) // latest traffic hour (hour 1) still joins
  }

  test("concurrent fetches: with a seeded, different delay per point, rows " +
    "and failures still come back in point order, each point isolated (O1/O2)") {
    val points = (0 until 12).map(i => GeoPoint(f"p$i%02d", s"55.$i", s"12.$i"))
    val delay = points.map(p => p.geo_name -> new scala.util.Random(p.geo_name.hashCode)
      .nextInt(40)).toMap
    val inFlight, peak = new AtomicInteger(0)
    // every third point fails on both APIs; the rest answer with their index
    val sleepy: HttpJsonSource.Fetcher = (url, p) => {
      peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try {
        Thread.sleep(delay(p.geo_name))
        val i = points.indexOf(p)
        if (i % 3 == 0) Failure(new RuntimeException(s"$url ${p.geo_name}"))
        else Success(
          if (url.startsWith("traffic")) Fixtures.tomtom(currentSpeed = i)
          else Fixtures.openWeather())
      } finally inFlight.decrementAndGet()
    }
    val ok = points.zipWithIndex.collect { case (p, i) if i % 3 != 0 => p }
    val down = points.zipWithIndex.collect { case (p, i) if i % 3 == 0 => p }
    val Seq((tRows, tFail), (wRows, wFail)) = HttpJsonSource.fetchAll(
      Seq("traffic://x", "weather://x"), points, sleepy)
    assert(tRows.map(_.geo_name) == ok.map(_.geo_name))
    assert(wRows.map(_.geo_name) == ok.map(_.geo_name))
    assert(tRows.map(_.payload) == ok.map(p =>
      Fixtures.tomtom(currentSpeed = points.indexOf(p))))
    assert(tFail.map(_._1) == down && wFail.map(_._1) == down)
    assert(tFail.map(_._2.getMessage) == down.map(p => s"traffic://x ${p.geo_name}"))
    assert(peak.get() > 1 && peak.get() <= 4, s"peak concurrency ${peak.get()}")

    val c = cfg(tmpDir("pipeline")).copy(points = points)
    val r = IngestPipeline.run(spark, c, sleepy, hour1)
    assert(r.trafficRows == ok.size && r.weatherRows == ok.size)
    assert(r.failures.map(_._1) == (down ++ down).map(_.geo_name))
    assert(spark.read.parquet(c.trafficPath).select("geo_name", "current_speed")
      .as[(String, Long)].collect().sorted.toSeq ==
      ok.map(p => p.geo_name -> points.indexOf(p).toLong))
  }

  test("RunReport: per-stage milliseconds within the wall time, and the " +
    "malformed payloads each table dropped (fetched minus landed)") {
    val badTraffic: HttpJsonSource.Fetcher = (url, p) =>
      if (p.geo_name == "langebro" && url.startsWith("traffic"))
        Success(Fixtures.notJson)
      else okFetcher(30)(url, p)
    val r = IngestPipeline.run(spark, cfg(tmpDir("pipeline")), badTraffic, hour1)
    assert(r.trafficRows == 2 && r.weatherRows == 3)
    assert(r.trafficDropped == 1 && r.weatherDropped == 0)
    assert(Seq(r.fetchMillis, r.appendMillis, r.snapshotMillis).forall(_ >= 0))
    assert(r.fetchMillis + r.appendMillis + r.snapshotMillis <= r.wallMillis)
    assert(r.snapshotMillis > 0)
  }

  test("a failed traffic append fails the run, still lands the weather " +
    "append and leaves the previous snapshot served (K4); the next good run " +
    "publishes") {
    val base = tmpDir("pipeline")
    val c = cfg(base)
    assert(IngestPipeline.run(spark, c, okFetcher(30), hour1).snapshotRows == 3)
    def snapshot = spark.read.parquet(c.snapshotPath)
      .select("time", "current_speed").as[(String, Long)].collect().toSeq
    val before = snapshot
    val failed = intercept[Exception] {
      HookedCommitProtocol.withHook(spark) { path =>
        if (path.contains("traffic_table")) throw new RuntimeException("injected")
      }(IngestPipeline.run(spark, c, okFetcher(55), hour2))
    }
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected")), failed)
    def times(table: String) =
      spark.read.parquet(table).select("time").as[String].collect().toSeq
    assert(times(c.weatherPath).count(_ == "10:00") == 3)
    assert(!times(c.trafficPath).contains("10:00"))
    // the run staged a snapshot beside the appends; none of it is served
    // or left behind
    assert(snapshot == before && before.forall(_ == ("09:00", 30L)))
    assert(!Files.exists(Paths.get(s"${c.snapshotPath}.staging")))

    val hour3 = hour2.plusHours(1)
    val r3 = IngestPipeline.run(spark, c, okFetcher(70), hour3)
    assert(r3.snapshotRows == 3)
    assert(snapshot.sorted == Seq.fill(3)(("11:00", 70L)))
    val full = graft.operators.SnapshotQuery.latestJoined(
      spark.read.parquet(c.trafficPath), spark.read.parquet(c.weatherPath))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(df(_)): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(spark.read.parquet(c.snapshotPath)) == rows(full))
  }

  test("url template rendering substitutes lat/lon/key (S1 URL shape)") {
    val url = HttpJsonSource.renderUrl(
      "https://api/x?point={lat},{lon}&key={key}",
      GeoPoint("g", "55.1", "12.5"), "SECRET")
    assert(url == "https://api/x?point=55.1,12.5&key=SECRET")
  }
}
