package graft.pipeline

import graft.pipeline.IngestPipeline.Config
import graft.schema.GeoPoint
import graft.sources.HttpJsonSource.Fetcher

import java.time.{ZoneId, ZonedDateTime}
import scala.util.{Failure, Success}

/** Runnable end-to-end demo of the ingest engine: three hourly runs with
  * fixture payloads (this environment is zero-egress; swap the fetcher
  * for `HttpJsonSource.httpFetcher(apiKey)` for live APIs), showing
  * append history growth, snapshot overwrite semantics, and per-unit
  * failure isolation.
  *
  *   sbt "runMain graft.pipeline.PipelineDemo [baseDir]"
  */
object PipelineDemo {

  private def trafficPayload(speed: Long): String =
    s"""{"flowSegmentData":{"frc":"FRC2","currentSpeed":$speed,
       |"freeFlowSpeed":50,"currentTravelTime":108,"freeFlowTravelTime":71,
       |"confidence":0.95,"roadClosure":false,"coordinates":{"coordinate":[
       |{"latitude":55.661234,"longitude":12.501234},
       |{"latitude":55.662345,"longitude":12.502345}]}}}""".stripMargin
      .replace("\n", "")

  private val weatherPayload: String =
    """{"weather":[{"main":"Rain","description":"light rain"}],
      |"main":{"temp":281.65,"feels_like":279.91,"temp_min":280.93,
      |"temp_max":282.04,"pressure":1009,"humidity":87},"visibility":10000,
      |"wind":{"speed":6.2,"deg":240},"clouds":{"all":75},
      |"sys":{"country":"DK"},"name":"Frederiksberg"}""".stripMargin
      .replace("\n", "")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")

    val cfg = Config(
      trafficUrlTemplate = "traffic://{lat},{lon}?key={key}",
      weatherUrlTemplate = "weather://{lat},{lon}?key={key}",
      points = Seq(
        GeoPoint("noerrebrogade", "55.694843", "12.548434"),
        GeoPoint("torvegade/knippelsbro", "55.671906", "12.581135"),
        GeoPoint("langebro", "55.668548", "12.571472")),
      trafficPath = s"$base/traffic_table",
      weatherPath = s"$base/weather_table",
      snapshotPath = s"$base/latest_joined_data",
      retryDelayMillis = 0L)

    def fetcher(speed: Long): Fetcher = (url, _) =>
      Success(if (url.startsWith("traffic")) trafficPayload(speed)
      else weatherPayload)

    val h1 = ZonedDateTime.of(2026, 8, 12, 9, 0, 0, 0, ZoneId.of("UTC"))
    println(s"RUN1: ${IngestPipeline.run(spark, cfg, fetcher(30), h1)}")
    println(s"RUN2: ${IngestPipeline.run(spark, cfg, fetcher(60), h1.plusHours(1))}")
    // third hour: one point down (exhausts retries, others proceed)
    val flaky: Fetcher = (url, p) =>
      if (p.geo_name == "langebro") Failure(new RuntimeException("HTTP 503"))
      else fetcher(90)(url, p)
    println(s"RUN3: ${IngestPipeline.run(spark, cfg, flaky, h1.plusHours(2))}")

    println(s"history rows: ${spark.read.parquet(cfg.trafficPath).count()}")
    println("latest_joined_data after run 3:")
    spark.read.parquet(cfg.snapshotPath)
      .select("date", "time", "geo_name", "current_speed", "temperature",
        "weather_main")
      .show(20, truncate = false)
    spark.stop()
  }
}
