package graft

import graft.streaming.StreamingIngest
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatchFile(dir: String, name: String,
      records: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      records.mkString("\n").getBytes("UTF-8"))

  private def rec(geo: String, payload: String, date: String, time: String,
      dataType: String): String = {
    val esc = payload.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ")
    s"""{"geo_name":"$geo","lat":"55.1","lon":"12.5","payload":"$esc","date":"$date","time":"$time","data_type":"$dataType"}"""
  }

  test("AvailableNow stream: two batches append history, snapshot = latest") {
    val base = tmpDir("stream")
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    writeBatchFile(in, "h1.json",
      Seq(rec("a", Fixtures.tomtom(currentSpeed = 30), "2026-08-12", "09:00", "traffic"),
        rec("a", Fixtures.openWeather(), "2026-08-12", "09:00", "weather")))
    val q1 = StreamingIngest.start(spark, in, s"$base/traffic", s"$base/weather",
      s"$base/snapshot", s"$base/ckpt")
    q1.awaitTermination()

    // second hour arrives as a new file; restart with same checkpoint —
    // only the new file is processed (exactly-once source tracking)
    writeBatchFile(in, "h2.json",
      Seq(rec("a", Fixtures.tomtom(currentSpeed = 60), "2026-08-12", "10:00", "traffic"),
        rec("a", Fixtures.openWeather(temp = 280.15), "2026-08-12", "10:00", "weather")))
    val q2 = StreamingIngest.start(spark, in, s"$base/traffic", s"$base/weather",
      s"$base/snapshot", s"$base/ckpt")
    q2.awaitTermination()

    assert(spark.read.parquet(s"$base/traffic").count() == 2)
    val snap = spark.read.parquet(s"$base/snapshot")
    assert(snap.count() == 1)
    val r = snap.collect().head
    assert(r.getAs[String]("time") == "10:00")
    assert(r.getAs[Long]("current_speed") == 60L)
    assert(math.abs(r.getAs[Double]("temperature") - 7.0) < 1e-9)
  }

  test("ProcessingTime trigger (the reference's live hourly cadence) " +
    "lands the same rows as the AvailableNow path") {
    val base = tmpDir("stream")
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    writeBatchFile(in, "h1.json",
      Seq(rec("a", Fixtures.tomtom(currentSpeed = 30), "2026-08-12", "09:00", "traffic"),
        rec("a", Fixtures.openWeather(), "2026-08-12", "09:00", "weather")))
    // 100 ms stands in for the reference's 1-hour cadence
    // (/root/reference README: hourly Cloud Scheduler trigger) — the
    // trigger CONTRACT (fires repeatedly, query keeps running between
    // batches) is what's under test, not the wall-clock interval.
    val q = StreamingIngest.start(spark, in, s"$base/traffic", s"$base/weather",
      s"$base/snapshot", s"$base/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable()
      // next "hour" arrives while the SAME query keeps running — no
      // restart, unlike the AvailableNow path
      writeBatchFile(in, "h2.json",
        Seq(rec("a", Fixtures.tomtom(currentSpeed = 60), "2026-08-12", "10:00", "traffic"),
          rec("a", Fixtures.openWeather(temp = 280.15), "2026-08-12", "10:00", "weather")))
      q.processAllAvailable()
    } finally q.stop()

    // identical outcome to the AvailableNow test: full history appended,
    // snapshot overwritten to the latest hour only
    assert(spark.read.parquet(s"$base/traffic").count() == 2)
    val snap = spark.read.parquet(s"$base/snapshot")
    assert(snap.count() == 1)
    val r = snap.collect().head
    assert(r.getAs[String]("time") == "10:00")
    assert(r.getAs[Long]("current_speed") == 60L)
  }

  test("stream batch equals batch-pipeline output for the same payloads") {
    val base = tmpDir("stream")
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    writeBatchFile(in, "b.json", Fixtures.geoPoints.flatMap { p =>
      Seq(rec(p.geo_name, Fixtures.tomtom(), "2026-08-12", "09:00", "traffic"),
        rec(p.geo_name, Fixtures.openWeather(), "2026-08-12", "09:00", "weather"))
    })
    StreamingIngest.start(spark, in, s"$base/traffic", s"$base/weather",
      s"$base/snapshot", s"$base/ckpt").awaitTermination()
    val snap = spark.read.parquet(s"$base/snapshot")
    assert(snap.count() == 3)
    assert(snap.columns.length == 29) // 15 + 18 − 4 USING keys
    assert(snap.select("geo_name").as[String].collect().toSet ==
      Fixtures.geoPoints.map(_.geo_name).toSet)
  }

  test("one backlog file spanning three stamps across midnight: each stamp " +
    "lands in its own date dir with its own time, snapshot = newest hour") {
    val base = tmpDir("stream")
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    val stamps = Seq("2026-08-12" -> "23:00", "2026-08-13" -> "00:00",
      "2026-08-13" -> "01:00")
    writeBatchFile(in, "backlog.json", stamps.zipWithIndex.flatMap {
      case ((d, t), i) =>
        Seq(rec("a", Fixtures.tomtom(currentSpeed = 30L + i), d, t, "traffic"),
          rec("a", Fixtures.openWeather(), d, t, "weather"))
    })
    StreamingIngest.start(spark, in, s"$base/traffic", s"$base/weather",
      s"$base/snapshot", s"$base/ckpt").awaitTermination()

    for (table <- Seq("traffic", "weather")) {
      def timesIn(d: String) = spark.read.parquet(s"$base/$table/date=$d")
        .select("time").as[String].collect().sorted.toSeq
      assert(timesIn("2026-08-12") == Seq("23:00"), table)
      assert(timesIn("2026-08-13") == Seq("00:00", "01:00"), table)
    }
    val speeds = spark.read.parquet(s"$base/traffic")
      .select("date", "time", "current_speed").as[(String, String, Long)]
      .collect().sorted.toSeq
    assert(speeds == stamps.zipWithIndex.map { case ((d, t), i) => (d, t, 30L + i) })
    val snap = spark.read.parquet(s"$base/snapshot")
      .select("date", "time", "current_speed").as[(String, String, Long)].collect()
    assert(snap.toSeq == Seq(("2026-08-13", "01:00", 32L)))
  }

  test("records with a NULL date or NULL time are dropped, never written " +
    "under __HIVE_DEFAULT_PARTITION__") {
    val base = tmpDir("stream")
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def unstamped(r: String, field: String) =
      r.replaceAll(s""""$field":"[^"]*"""", s""""$field":null""")
    writeBatchFile(in, "h.json", Seq(
      rec("a", Fixtures.tomtom(), "2026-08-12", "09:00", "traffic"),
      rec("a", Fixtures.openWeather(), "2026-08-12", "09:00", "weather"),
      unstamped(rec("b", Fixtures.tomtom(), "2026-08-12", "09:00", "traffic"), "date"),
      unstamped(rec("b", Fixtures.openWeather(), "2026-08-12", "09:00", "weather"), "date"),
      unstamped(rec("c", Fixtures.tomtom(), "2026-08-12", "09:00", "traffic"), "time"),
      unstamped(rec("c", Fixtures.openWeather(), "2026-08-12", "09:00", "weather"), "time")))
    StreamingIngest.start(spark, in, s"$base/traffic", s"$base/weather",
      s"$base/snapshot", s"$base/ckpt").awaitTermination()

    for (table <- Seq("traffic", "weather")) {
      val dirs = Files.list(Paths.get(base, table)).toArray.map(_.toString)
        .filter(_.contains("date="))
      assert(dirs.toSeq.map(_.split('/').last) == Seq("date=2026-08-12"), table)
      assert(spark.read.parquet(s"$base/$table").select("geo_name").as[String]
        .collect().toSeq == Seq("a"), table)
    }
    assert(spark.read.parquet(s"$base/snapshot").count() == 1)
  }

  test("a drain into existing tables runs no emptiness probe (four jobs), " +
    "and a table without rows gains no data file") {
    val base = tmpDir("stream")
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    def drain(name: String, records: Seq[String]): Unit = {
      writeBatchFile(in, name, records)
      StreamingIngest.start(spark, in, s"$base/traffic", s"$base/weather",
        s"$base/snapshot", s"$base/ckpt").awaitTermination()
    }
    drain("h1.json", Seq(
      rec("a", Fixtures.tomtom(currentSpeed = 30), "2026-08-12", "09:00", "traffic"),
      rec("a", Fixtures.openWeather(), "2026-08-12", "09:00", "weather")))
    def dataFiles(table: String) = {
      val s = Files.walk(Paths.get(base, table))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val trafficBefore = dataFiles("traffic")

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      // hour 2: its traffic payload is malformed, so traffic has no rows
      drain("h2.json", Seq(
        rec("a", Fixtures.notJson, "2026-08-12", "10:00", "traffic"),
        rec("a", Fixtures.openWeather(), "2026-08-12", "10:00", "weather")))
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // two appends, the newest-hour scan and the snapshot publish, which
    // looks that driver-local hour up inside the weather scan; each
    // emptiness probe would add one
    assert(jobs.get() == 4)
    assert(dataFiles("traffic") == trafficBefore)
    assert(spark.read.parquet(s"$base/weather").count() == 2)
    // the newest traffic hour is still 09:00, with its weather match
    assert(spark.read.parquet(s"$base/snapshot").count() == 1)
  }

  test("a weather-only micro-batch into an absent traffic root creates no " +
    "traffic dir (K3) and appends its weather rows") {
    val base = tmpDir("stream")
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    writeBatchFile(in, "w.json",
      Seq(rec("a", Fixtures.openWeather(), "2026-08-12", "09:00", "weather")))
    StreamingIngest.start(spark, in, s"$base/traffic", s"$base/weather",
      s"$base/snapshot", s"$base/ckpt").awaitTermination()
    assert(!Files.exists(Paths.get(base, "traffic")))
    assert(!Files.exists(Paths.get(base, "snapshot")))
    assert(spark.read.parquet(s"$base/weather").count() == 1)
  }
}
