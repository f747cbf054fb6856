package graft.streaming

import graft.streaming.StatefulOps.Event
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import java.nio.file.{Files, Paths}

/** Runnable demo of the stateful streaming surface: a file-source event
  * stream → watermarked hourly aggregation + gap-based sessionization.
  *
  *   sbt "runMain graft.streaming.StreamingDemo"
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = Files.createTempDirectory("graft-stream-demo").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
      s"""{"event_id":$id,"ts":"2026-08-12T$t.000Z","user_id":$user,"event_type":"$typ","value":$v}"""
    Files.write(Paths.get(in, "batch1.json"), Seq(
      ev(1, "09:00:00", 1, "click", 1.0),
      ev(2, "09:05:00", 1, "click", 2.0),
      ev(3, "09:40:00", 1, "purchase", 4.0), // >30 min gap → new session
      ev(4, "09:10:00", 2, "error", 9.0),
      ev(6, "09:02:00", 1, "error", 3.0), // joins user 1's 09:05 click
      ev(5, "13:00:00", 99, "click", 0.0) // advances the watermark
    ).mkString("\n").getBytes("UTF-8"))

    val schema = "event_id long, ts timestamp, user_id long, " +
      "event_type string, value double"
    val events = spark.readStream.schema(schema).json(in).as[Event]

    val sessions = StatefulOps.sessionize(events,
        gapMillis = 30 * 60 * 1000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    val hourly = StatefulOps.hourlyCounts(events.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append()).start()
    val joined = StatefulOps.clickErrorIntervalJoin(
        events.filter(col("event_type") === "click"),
        events.filter(col("event_type") === "error"),
        intervalMinutes = 60)
      .writeStream.format("memory").queryName("cejoin")
      .outputMode(OutputMode.Append()).start()
    val asof = StatefulOps.asofEnrich(events)
      .writeStream.format("memory").queryName("asof")
      .outputMode(OutputMode.Append()).start()
    sessions.processAllAvailable()
    hourly.processAllAvailable()
    joined.processAllAvailable()
    asof.processAllAvailable()

    println("closed sessions:")
    spark.table("sessions").orderBy("user_id", "started").show(false)
    println("hourly counts (watermark-closed windows):")
    spark.table("hourly").orderBy("hour_start", "event_type").show(false)
    println("clicks joined to same-user errors within the hour:")
    spark.table("cejoin").orderBy("click_id", "error_id").show(false)
    println("as-of enrichment (latest error at or before each click):")
    spark.table("asof").orderBy("event_id").show(false)
    sessions.stop(); hourly.stop(); joined.stop(); asof.stop()
    spark.stop()
  }
}
