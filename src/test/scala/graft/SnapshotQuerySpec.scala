package graft

import graft.operators.SnapshotQuery
import graft.schema.{Schemas, TrafficObservation, WeatherObservation}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}

import java.nio.file.{Files, Paths}

class SnapshotQuerySpec extends SparkSpec {
  import spark.implicits._

  private def t(date: String, time: String, geo: String): TrafficObservation =
    TrafficObservation(date, time, geo, "55.1", "12.5", "FRC2",
      33L, 50L, 108L, 71L, 0.95, road_closure = false,
      s"55.1,12.5", "55.0,12.0", "55.2,12.9")

  private def w(date: String, time: String, geo: String): WeatherObservation =
    WeatherObservation(date, time, geo, "DK", "Frederiksberg", "Rain",
      "light rain", 8.5, 6.76, 7.78, 8.89, 1009L, 87L, 10000L, 6.2,
      240L, 75L, s"55.1,12.5")

  private def ds[T: org.apache.spark.sql.Encoder](xs: Seq[T]): Dataset[T] =
    xs.toDS()

  // Golden fixture: 3 hours × 3 geo points, one point missing from weather
  // in the latest hour (FIXTURES.md §2).
  private val hours = Seq("08:00", "09:00", "10:00")
  private val geos = Seq("a", "b", "c")
  private val traffic = for (h <- hours; g <- geos) yield t("2026-08-12", h, g)
  private val weather =
    (for (h <- hours.take(2); g <- geos) yield w("2026-08-12", h, g)) ++
      geos.filterNot(_ == "c").map(g => w("2026-08-12", "10:00", g))

  test("golden: snapshot keeps only latest-hour rows where both sides exist") {
    val out = SnapshotQuery.latestJoined(ds(traffic).toDF(), ds(weather).toDF())
    val rows = out.select("geo_name", "time").as[(String, String)]
      .collect().sorted
    assert(rows.toSeq == Seq("a" -> "10:00", "b" -> "10:00"))
    // USING semantics: join keys appear exactly once
    assert(out.columns.count(_ == "date") == 1)
    assert(out.columns.length == 15 + 18 - 4)
  }

  test("MAX comes from traffic only: latest traffic hour with zero weather" +
    " match ⇒ empty snapshot (not the newest matching hour)") {
    val wOld = weather.filter(_.time != "10:00") // weather stops at 09:00
    val out = SnapshotQuery.latestJoined(ds(traffic).toDF(), ds(wOld).toDF())
    assert(out.count() == 0)
  }

  test("SQL-text form matches the DataFrame form") {
    ds(traffic).toDF().createOrReplaceTempView("traffic_table")
    ds(weather).toDF().createOrReplaceTempView("weather_table")
    val sql = SnapshotQuery.latestJoinedSql(spark)
    val df = SnapshotQuery.latestJoined(ds(traffic).toDF(), ds(weather).toDF())
    assert(sql.select("geo_name").as[String].collect().sorted.toSeq ==
      df.select("geo_name").as[String].collect().sorted.toSeq)
  }

  test("property: every snapshot row carries the global max traffic " +
    "timestamp, and row count ≤ geo points present at that timestamp") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val hist = Seq.fill(1 + rnd.nextInt(40)) {
        (f"2026-08-${1 + rnd.nextInt(28)}%02d",
          f"${rnd.nextInt(24)}%02d:00",
          "abcd" (rnd.nextInt(4)).toString,
          rnd.nextDouble() < 0.7)
      }
      val tr = hist.map { case (d, h, g, _) => t(d, h, g) }.distinct
      val we = hist.collect { case (d, h, g, true) => w(d, h, g) }.distinct
      val maxKey = tr.map(o => (o.date, o.time)).max
      val out = SnapshotQuery.latestJoined(ds(tr).toDF(), ds(we).toDF())
        .select("date", "time", "geo_name")
        .as[(String, String, String)].collect()
      assert(out.forall { case (d, h, _) => (d, h) == maxKey })
      val geoAtMax = tr.filter(o => (o.date, o.time) == maxKey)
        .map(_.geo_name).distinct
      assert(out.length <= geoAtMax.length)
    }
  }

  // ---- publishLatest: the partition-pruned refresh over on-disk history ----

  /** A random history over two months: 4 geo points, 70 % of the
    * traffic rows with a weather row for the same hour.
    */
  private def history(rnd: scala.util.Random)
      : (Seq[TrafficObservation], Seq[WeatherObservation]) = {
    val hist = Seq.fill(1 + rnd.nextInt(40)) {
      (f"2026-0${8 + rnd.nextInt(2)}-${1 + rnd.nextInt(28)}%02d",
        f"${rnd.nextInt(24)}%02d:00",
        "abcd" (rnd.nextInt(4)).toString,
        rnd.nextDouble() < 0.7)
    }
    (hist.map { case (d, h, g, _) => t(d, h, g) }.distinct,
      hist.collect { case (d, h, g, true) => w(d, h, g) }.distinct)
  }

  /** Appends one write per date, in the given date order — the layout
    * `IngestPipeline` writes.
    */
  private def appendByDate(df: DataFrame, path: String, dates: Seq[String]): Unit =
    dates.foreach { d =>
      df.filter(df("date") === d).write.mode(SaveMode.Append)
        .partitionBy("date").parquet(path)
    }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(df(_)): _*).collect().map(_.toString).sorted.toSeq

  /** publishLatest's output, count and column names, order and types
    * equal latestJoined over the full-history read.
    */
  private def assertExact(base: String): Unit =
    assertPublished(base, SnapshotQuery.publishLatest(spark, s"$base/traffic",
      s"$base/weather", s"$base/snapshot"))

  /** The snapshot published at `base` (`n` rows) equals latestJoined
    * over the full-history read, with its column names, order and types.
    */
  private def assertPublished(base: String, n: Long): Unit = {
    val full = SnapshotQuery.latestJoined(
      spark.read.schema(Schemas.trafficTableSchema).parquet(s"$base/traffic"),
      spark.read.schema(Schemas.weatherTableSchema).parquet(s"$base/weather"))
    val published = spark.read.parquet(s"$base/snapshot")
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(shape(published) == shape(full))
    assert(rows(published) == rows(full))
    assert(n == published.count())
  }

  test("publishLatest equals latestJoined over the full history, whatever " +
    "order the dates were appended in (newest date before older ones)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 6) {
      val base = tmpDir("snapshot")
      val (tr, we) = history(rnd)
      val dates = (tr.map(_.date) ++ we.map(_.date)).distinct.sorted.reverse
      appendByDate(ds(tr).toDF(), s"$base/traffic", dates)
      appendByDate(ds(we).toDF(), s"$base/weather", rnd.shuffle(dates))
      assertExact(base)
    }
  }

  test("publishLatest keeps the join's semantics on duplicate and NULL " +
    "keys, and publishes its shape whether rows match, none do, or the MAX " +
    "is NULL") {
    val d = "2026-08-12"
    def speed(o: TrafficObservation, v: Long) = o.copy(current_speed = v)
    // the newest hour: "a" twice in traffic and three times in weather
    // (two of them identical), so 2 x 3 matches; "b" only in traffic,
    // twice; NULL geo_name / original_coordinates on both sides must
    // never match
    val tr = Seq(t(d, "09:00", "a"), t(d, "10:00", "a"), speed(t(d, "10:00", "a"), 40L),
      t(d, "10:00", "b"), t(d, "10:00", "b"), t(d, "10:00", null),
      t(d, "10:00", "c").copy(original_coordinates = null))
    val we = Seq(w(d, "09:00", "a"), w(d, "10:00", "a"), w(d, "10:00", "a"),
      w(d, "10:00", "a").copy(temperature = 1.5), w(d, "10:00", null),
      w(d, "10:00", "c").copy(original_coordinates = null))
    val base = tmpDir("snapshot")
    appendByDate(ds(tr).toDF(), s"$base/traffic", Seq(d))
    appendByDate(ds(we).toDF(), s"$base/weather", Seq(d))
    assertExact(base)
    val got = spark.read.parquet(s"$base/snapshot")
      .select("geo_name", "original_coordinates").as[(String, String)].collect()
    assert(got.length == 6 && got.forall { case (g, c) => g == "a" && c != null })

    // the weather dir exists but holds no row of the newest hour
    val noMatch = tmpDir("snapshot")
    appendByDate(ds(tr).toDF(), s"$noMatch/traffic", Seq(d))
    appendByDate(ds(we.filter(_.time != "10:00")).toDF(), s"$noMatch/weather", Seq(d))
    assertExact(noMatch)
    assert(spark.read.parquet(s"$noMatch/snapshot").count() == 0)

    // no traffic row has a timestamp: the MAX is NULL
    val nullMax = tmpDir("snapshot")
    Files.createDirectories(Paths.get(nullMax, "traffic", s"date=$d"))
    appendByDate(ds(we).toDF(), s"$nullMax/weather", Seq(d))
    assertExact(nullMax)
    assert(spark.read.parquet(s"$nullMax/snapshot").count() == 0)
  }

  test("publishLatest: no weather dir for the newest date ⇒ empty snapshot, " +
    "not an older hour") {
    val rnd = new scala.util.Random(8)
    for (_ <- 1 to 4) {
      val base = tmpDir("snapshot")
      val (tr, we) = history(rnd)
      val newest = tr.map(_.date).max
      appendByDate(ds(tr).toDF(), s"$base/traffic", tr.map(_.date).distinct)
      val older = we.filter(_.date != newest)
      appendByDate(ds(older).toDF(), s"$base/weather", older.map(_.date).distinct)
      // the root must exist for a refresh at all
      if (older.isEmpty) Files.createDirectories(Paths.get(base, "weather"))
      assertExact(base)
      assert(spark.read.parquet(s"$base/snapshot").count() == 0)
    }
  }

  test("publishLatest: an empty newest date dir (a crashed append) falls " +
    "back to the previous date") {
    val rnd = new scala.util.Random(9)
    for (_ <- 1 to 4) {
      val base = tmpDir("snapshot")
      val (tr, we) = history(rnd)
      appendByDate(ds(tr).toDF(), s"$base/traffic", tr.map(_.date).distinct)
      appendByDate(ds(we).toDF(), s"$base/weather", we.map(_.date).distinct)
      Files.createDirectories(Paths.get(base, "traffic", "date=2026-12-31"))
      Files.createDirectories(Paths.get(base, "weather", "date=2026-12-31"))
      assertExact(base)
      val latest = tr.map(o => (o.date, o.time)).max
      val got = spark.read.parquet(s"$base/snapshot").select("date", "time")
        .as[(String, String)].collect()
      assert(got.forall(_ == latest))
    }
    // nothing but the empty dir: the MAX is NULL, the snapshot empty
    val base = tmpDir("snapshot")
    Files.createDirectories(Paths.get(base, "traffic", "date=2026-12-31"))
    Files.createDirectories(Paths.get(base, "weather"))
    assertExact(base)
    assert(spark.read.parquet(s"$base/snapshot").count() == 0)
  }

  test("publishLatest: an absent traffic or weather root returns 0 and " +
    "publishes nothing") {
    for (absent <- Seq("traffic", "weather")) {
      val base = tmpDir("snapshot")
      if (absent != "traffic")
        appendByDate(ds(traffic).toDF(), s"$base/traffic", Seq("2026-08-12"))
      if (absent != "weather")
        appendByDate(ds(weather).toDF(), s"$base/weather", Seq("2026-08-12"))
      assert(SnapshotQuery.publishLatest(spark, s"$base/traffic", s"$base/weather",
        s"$base/snapshot") == 0L)
      assert(!Files.exists(Paths.get(base, "snapshot")))
    }
  }

  // ---- the overlapped refresh of an hourly run (IngestPipeline.run) ----

  /** One hourly run against the history at `base`, as `IngestPipeline`
    * runs it: a `Refresh` lists both tables, the run appends its rows
    * stamped `date`, then the refresh stages the listed files plus the
    * run's own rows and swaps. The MAX runs after the appends here, so
    * only the listing keeps the run's files out of it. Returns the
    * refresh, for its `readsHistory`.
    */
  private def overlappedRun(base: String, date: String, runTr: Seq[TrafficObservation],
      runWe: Seq[WeatherObservation]): SnapshotQuery.Refresh = {
    val refresh = new SnapshotQuery.Refresh(spark, s"$base/traffic", s"$base/weather",
      s"$base/snapshot", date)
    if (runTr.nonEmpty) appendByDate(ds(runTr).toDF(), s"$base/traffic", Seq(date))
    if (runWe.nonEmpty) appendByDate(ds(runWe).toDF(), s"$base/weather", Seq(date))
    assert(refresh.publishes(runTr.nonEmpty, runWe.nonEmpty))
    val n = refresh.stage(refresh.listedMax(),
      SnapshotQuery.stamped(ds(runTr).toDF()).collect().toSeq,
      Some(ds(runWe).toDF()).filter(_ => runWe.nonEmpty))
    refresh.swap()
    assertPublished(base, n)
    refresh
  }

  /** A run's rows at `(date, time)`: 1–5 traffic rows over random points
    * (repeats allowed, so they may duplicate each other and history
    * rows), and a weather row for 70 % of them.
    */
  private def runRows(rnd: scala.util.Random, date: String, time: String)
      : (Seq[TrafficObservation], Seq[WeatherObservation]) = {
    val geos = Seq.fill(1 + rnd.nextInt(5))("abcd" (rnd.nextInt(4)).toString)
    (geos.map(t(date, time, _).copy(current_speed = 77L)),
      geos.distinct.filter(_ => rnd.nextDouble() < 0.7).map(w(date, time, _)))
  }

  private def written(base: String, tr: Seq[TrafficObservation],
      we: Seq[WeatherObservation]): Unit = {
    appendByDate(ds(tr).toDF(), s"$base/traffic", tr.map(_.date).distinct)
    appendByDate(ds(we).toDF(), s"$base/weather", we.map(_.date).distinct)
    Files.createDirectories(Paths.get(base, "weather")) // a history may have no weather row
  }

  test("overlapped refresh: a listing taken before the run's appends plus " +
    "the run's own rows equals latestJoined over the full history read " +
    "after them") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      // the run's hour on a newer day: the listing has no dir at or
      // after its stamp, so no MAX job
      val rollover = tmpDir("overlap")
      val (tr, we) = history(rnd)
      written(rollover, tr, we)
      val (rt, rw) = runRows(rnd, "2026-10-01", "00:00")
      assert(!overlappedRun(rollover, "2026-10-01", rt, rw).readsHistory)

      // the run repeats the newest listed hour: ties are kept, and
      // duplicate keys multiply with the history's rows
      val repeat = tmpDir("overlap")
      val (tr2, we2) = history(rnd)
      written(repeat, tr2, we2)
      val (d, h) = tr2.map(o => (o.date, o.time)).max
      val (rt2, rw2) = runRows(rnd, d, h)
      assert(overlappedRun(repeat, d, rt2, rw2).readsHistory)

      // no traffic row lands, but weather rows arrive for the newest
      // listed hour: they join the listed traffic rows (late weather)
      val late = tmpDir("overlap")
      val (tr3, we3) = history(rnd)
      val (d3, h3) = tr3.map(o => (o.date, o.time)).max
      written(late, tr3, we3.filterNot(o => (o.date, o.time) == (d3, h3)))
      overlappedRun(late, d3, Nil,
        tr3.filter(o => (o.date, o.time) == (d3, h3)).map(o => w(d3, h3, o.geo_name)))
    }
  }

  test("overlapped refresh: an empty newest listed dir (a crashed append) " +
    "and tables absent before the first run") {
    val rnd = new scala.util.Random(12)
    for (runLandsTraffic <- Seq(true, false)) {
      val base = tmpDir("overlap")
      val (tr, we) = history(rnd)
      written(base, tr, we)
      Files.createDirectories(Paths.get(base, "traffic", "date=2026-12-31"))
      Files.createDirectories(Paths.get(base, "weather", "date=2026-12-31"))
      // with no traffic row of its own, the run's refresh falls back to
      // the older listed dirs
      val (rt, rw) = runRows(rnd, "2026-12-31", "05:00")
      overlappedRun(base, "2026-12-31", if (runLandsTraffic) rt else Nil, rw)
    }
    // the first run: neither root exists when the refresh lists them
    val first = tmpDir("overlap")
    val (rt, rw) = runRows(rnd, "2026-08-12", "09:00")
    assert(!overlappedRun(first, "2026-08-12", rt, rw :+ w("2026-08-12", "09:00", "a"))
      .readsHistory)
  }
}
