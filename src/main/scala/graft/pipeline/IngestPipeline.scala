package graft.pipeline

import graft.operators.{IngestOps, Par, SnapshotQuery}
import graft.schema.{GeoPoint, RawFetch}
import graft.sources.HttpJsonSource
import graft.sources.HttpJsonSource.Fetcher
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  *
  * The traffic and weather halves are independent until the snapshot,
  * so their fetches share one bounded pool and their transforms and
  * appends run together; the snapshot starts once both appends have
  * ended.
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

  /** What one run did. Per stage: `fetchMillis` (all fetches, retries
    * included), `appendMillis` (transform and both appends) and
    * `snapshotMillis` (the refresh); `*Dropped` counts the payloads a
    * table's transform rejected as malformed (fetched minus landed, P12).
    */
  final case class RunReport(
      date: String, time: String,
      trafficRows: Long, weatherRows: Long, snapshotRows: Long,
      failures: Seq[(String, String)], // (geo_name, error) side channel (O2)
      wallMillis: Long, // O4
      fetchMillis: Long, appendMillis: Long, snapshotMillis: Long,
      trafficDropped: Long, weatherDropped: Long)

  /** Run-constant timestamp, formatted with the reference's zero-padded
    * patterns (`deployment_function.py:62-63`).
    */
  def runStamp(zone: String, now: ZonedDateTime = null): (String, String) = {
    val t = if (now != null) now else ZonedDateTime.now(java.time.ZoneId.of(zone))
    (t.format(DateTimeFormatter.ofPattern("yyyy-MM-dd")),
      t.format(DateTimeFormatter.ofPattern("HH:mm")))
  }

  /** One table's rows of the run, transformed on the driver: over a
    * `LocalRelation` the transform folds to a `LocalRelation`, so the
    * `collect()` runs no job, and the rows stay driver-local for the
    * append.
    */
  private def transformed(spark: SparkSession, raw: Seq[RawFetch],
      transform: DataFrame => DataFrame): (DataFrame, Long) = {
    import spark.implicits._
    val out = transform(raw.toDS().toDF())
    val rows = out.collect()
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema),
      rows.length.toLong)
  }

  /** One full hourly run. `fetcher` is injectable (fixtures in tests,
    * `HttpJsonSource.httpFetcher` in production) and is called from
    * several threads at once.
    */
  def run(spark: SparkSession, cfg: Config, fetcher: Fetcher,
      now: ZonedDateTime = null): RunReport = {
    val t0 = System.nanoTime()
    val (date, time) = runStamp(cfg.zone, now)
    val retrying = HttpJsonSource.withRetry(fetcher, cfg.retries, cfg.retryDelayMillis)

    // S1/S2 fan-out with O2 isolation: every (API, point) call of the run.
    val Seq((trafficRaw, tFail), (weatherRaw, wFail)) = HttpJsonSource.fetchAll(
      Seq(cfg.trafficUrlTemplate, cfg.weatherUrlTemplate), cfg.points, retrying)
    val t1 = System.nanoTime()

    // Transform + K1 append of both tables together, with K3 empty
    // suppression and K4 isolation; a non-empty table costs exactly its
    // one write. The two transforms are driver-side Catalyst folding
    // only, so they overlap too.
    val Seq((traffic, nT), (weather, nW)) = Par.buildAll(Seq[() => (DataFrame, Long)](
      () => transformed(spark, trafficRaw, IngestOps.trafficFromRaw(_, date, time)),
      () => transformed(spark, weatherRaw, IngestOps.weatherFromRaw(_, date, time))))(_())
    IngestOps.appendPartitioned(traffic -> cfg.trafficPath, weather -> cfg.weatherPath)
    val t2 = System.nanoTime()

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
    val t3 = System.nanoTime()

    def ms(from: Long, to: Long) = (to - from) / 1000000L
    RunReport(date, time, nT, nW, nS,
      (tFail ++ wFail).map { case (p, e) => p.geo_name -> e.getMessage },
      ms(t0, t3), ms(t0, t1), ms(t1, t2), ms(t2, t3),
      trafficRaw.size - nT, weatherRaw.size - nW)
  }
}
