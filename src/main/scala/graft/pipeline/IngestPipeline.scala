package graft.pipeline

import graft.operators.{IngestOps, SnapshotQuery}
import graft.schema.{GeoPoint, RawFetch}
import graft.sources.HttpJsonSource
import graft.sources.HttpJsonSource.Fetcher
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.time.ZonedDateTime
import java.time.format.DateTimeFormatter

/** The hourly micro-batch run (SURVEY.md §2.8 O1–O5, §3 entry points 1+2):
  * fetch → transform → append, then the snapshot query → overwrite.
  *
  * Semantics preserved from the reference:
  *  - ONE timestamp captured at run start, shared by every row of the run
  *    (`deployment_function.py:58-63`) — this is what makes the 4-key
  *    equi join possible at all.
  *  - Per-unit error isolation: a point that fails all retries is
  *    recorded and skipped, never aborting the run (`:297-307`).
  *  - Empty-batch suppression: nothing is written when a stage yields
  *    zero rows (`:212-214`).
  *  - Append for the two observation tables (`:188`), overwrite for the
  *    snapshot (`README.md:84`).
  */
object IngestPipeline {

  final case class Config(
      trafficUrlTemplate: String,
      weatherUrlTemplate: String,
      points: Seq[GeoPoint],
      trafficPath: String,
      weatherPath: String,
      snapshotPath: String,
      zone: String = "Europe/Copenhagen",
      retries: Int = 3,
      retryDelayMillis: Long = 1000L)

  final case class RunReport(
      date: String, time: String,
      trafficRows: Long, weatherRows: Long, snapshotRows: Long,
      failures: Seq[(String, String)], // (geo_name, error) side channel (O2)
      wallMillis: Long) // O4

  /** Run-constant timestamp, formatted with the reference's zero-padded
    * patterns (`deployment_function.py:62-63`).
    */
  def runStamp(zone: String, now: ZonedDateTime = null): (String, String) = {
    val t = if (now != null) now else ZonedDateTime.now(java.time.ZoneId.of(zone))
    (t.format(DateTimeFormatter.ofPattern("yyyy-MM-dd")),
      t.format(DateTimeFormatter.ofPattern("HH:mm")))
  }

  private def toDf(spark: SparkSession, rows: Seq[RawFetch]): DataFrame = {
    import spark.implicits._
    rows.toDS().toDF()
  }

  /** One full hourly run. `fetcher` is injectable (fixtures in tests,
    * `HttpJsonSource.httpFetcher` in production).
    */
  def run(spark: SparkSession, cfg: Config, fetcher: Fetcher,
      now: ZonedDateTime = null): RunReport = {
    val t0 = System.nanoTime()
    val (date, time) = runStamp(cfg.zone, now)
    val retrying = HttpJsonSource.withRetry(fetcher, cfg.retries, cfg.retryDelayMillis)

    // S1/S2 fan-out with O2 isolation — traffic and weather independently.
    val (trafficRaw, tFail) =
      HttpJsonSource.fetchAll(cfg.trafficUrlTemplate, cfg.points, retrying)
    val (weatherRaw, wFail) =
      HttpJsonSource.fetchAll(cfg.weatherUrlTemplate, cfg.points, retrying)

    // Transform + K1 append, with K3 empty suppression and K4 isolation.
    // The rows are driver-local: the transform over a LocalRelation folds
    // to a LocalRelation, so `collect()` runs no job and a non-empty
    // stage costs exactly its one write.
    def appendStage(raw: Seq[RawFetch],
        transform: DataFrame => DataFrame, path: String): Long =
      if (raw.isEmpty) 0L
      else {
        val out = transform(toDf(spark, raw))
        val rows = out.collect()
        // Hive-style date partitioning: each hourly append lands in its
        // run-date directory, so history queries with a date predicate
        // prune at the file listing — the layout choice that keeps the
        // append-forever table queryable at 100 TB (SURVEY.md §4).
        if (rows.nonEmpty)
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
            .write.mode(SaveMode.Append).partitionBy("date").parquet(path)
        rows.length.toLong
      }

    val nT = appendStage(trafficRaw,
      IngestOps.trafficFromRaw(_, date, time), cfg.trafficPath)
    val nW = appendStage(weatherRaw,
      IngestOps.weatherFromRaw(_, date, time), cfg.weatherPath)

    // Entry point 2: the latest-snapshot query → K2 overwrite, reading
    // only the newest date partition of each history table.
    // The reference's scheduled query reruns every hour UNCONDITIONALLY
    // (README.md:83-84), so the refresh is guarded only on the history
    // tables existing — not on this run having appended traffic rows. A
    // run whose traffic fetches all fail but whose weather rows land
    // must still refresh: a late-arriving weather row for the latest
    // traffic hour belongs in the snapshot.
    val nS = SnapshotQuery.publishLatest(spark, cfg.trafficPath,
      cfg.weatherPath, cfg.snapshotPath)

    RunReport(date, time, nT, nW, nS,
      (tFail ++ wFail).map { case (p, e) => p.geo_name -> e.getMessage },
      (System.nanoTime() - t0) / 1000000L)
  }
}
