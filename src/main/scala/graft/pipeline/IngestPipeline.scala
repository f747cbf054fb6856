package graft.pipeline

import graft.operators.{IngestOps, Par, SnapshotQuery}
import graft.schema.{GeoPoint, RawFetch}
import graft.sources.HttpJsonSource
import graft.sources.HttpJsonSource.Fetcher
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.time.ZonedDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

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
  * appends run together. The snapshot refresh overlaps them too: its
  * input is both tables as listed when the run starts plus the run's
  * own rows, so it needs neither to wait for the appends nor to read
  * them back. It stages beside the appends and is swapped in once both
  * have landed.
  *
  * Single-writer contract: one process appends to the two tables and
  * publishes the snapshot at a time (one hourly trigger, or one
  * streaming query). Under it the listing plus the run's rows is exactly
  * the history after the run's appends. Concurrent writers race at the
  * snapshot swap, where the last one wins, as with any overwrite.
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

  /** What one run did. Per stage, partitioning `wallMillis`:
    * `fetchMillis` (all fetches, retries included), `appendMillis`
    * (transform and both appends) and `snapshotMillis` (the refresh time
    * the run still waits for after both appends end, the swap
    * included; the rest of the refresh overlaps the other stages);
    * `*Dropped` counts the payloads a table's transform rejected as
    * malformed (fetched minus landed, P12).
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
    * append. With `stamp` the collected rows also carry their timestamp
    * for the refresh ([[SnapshotQuery.stamped]]); the appended frame
    * leaves it out.
    */
  private def transformed(spark: SparkSession, raw: Seq[RawFetch],
      transform: DataFrame => DataFrame, stamp: Boolean = false): (DataFrame, Seq[Row]) = {
    import spark.implicits._
    val out = transform(raw.toDS().toDF())
    val rows = (if (stamp) SnapshotQuery.stamped(out) else out).collect().toSeq
    val table = if (stamp) rows.map(r => Row.fromSeq(r.toSeq.init)) else rows
    (spark.createDataFrame(table.asJava, out.schema), rows)
  }

  /** `body` started on a thread of its own, created here so that its
    * jobs keep the caller's job group and local properties. The
    * returned function waits for the result and rethrows a failure.
    */
  private def started[T](body: => T): () => T = {
    val task = new FutureTask[T](() => body)
    val thread = new Thread(task, "graft-ingest-refresh")
    thread.setDaemon(true)
    thread.start()
    () => try task.get() catch { case e: ExecutionException => throw e.getCause }
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

    // The refresh's input, listed before anything of this run lands
    // (`SnapshotQuery.Refresh`), and its MAX over the listed history,
    // which runs while the fetches do.
    val refresh = new SnapshotQuery.Refresh(spark, cfg.trafficPath, cfg.weatherPath,
      cfg.snapshotPath, date)
    val listedMax =
      if (refresh.readsHistory) started(refresh.listedMax()) else () => Seq.empty[Row]
    try {
      // S1/S2 fan-out with O2 isolation: every (API, point) call of the run.
      val Seq((trafficRaw, tFail), (weatherRaw, wFail)) = HttpJsonSource.fetchAll(
        Seq(cfg.trafficUrlTemplate, cfg.weatherUrlTemplate), cfg.points, retrying)
      val t1 = System.nanoTime()

      // The two transforms are driver-side Catalyst folding only, so
      // they overlap.
      val Seq((traffic, trafficRows), (weather, weatherRows)) =
        Par.buildAll(Seq[() => (DataFrame, Seq[Row])](
          () => transformed(spark, trafficRaw, IngestOps.trafficFromRaw(_, date, time),
            stamp = true),
          () => transformed(spark, weatherRaw, IngestOps.weatherFromRaw(_, date, time))))(_())
      val (nT, nW) = (trafficRows.size.toLong, weatherRows.size.toLong)

      // K1 append of both tables together, with K3 empty suppression and
      // K4 isolation; a non-empty table costs exactly its one write.
      val appendsEnd = new AtomicLong(t1)
      val appends = IngestOps.appends(traffic -> cfg.trafficPath, weather -> cfg.weatherPath)
        .map(append => () => { append(); appendsEnd.accumulateAndGet(System.nanoTime(), math.max); () })

      // Entry point 2: the latest-snapshot query → K2 overwrite, staged
      // beside the appends. The reference's scheduled query reruns every
      // hour UNCONDITIONALLY (README.md:83-84), so the refresh is guarded
      // only on the history tables existing after the appends — not on
      // this run having appended traffic rows. A run whose traffic
      // fetches all fail but whose weather rows land must still refresh:
      // a late-arriving weather row for the latest traffic hour belongs
      // in the snapshot.
      val publishes = refresh.publishes(nT > 0, nW > 0)
      val nS = new AtomicLong()
      val stage: () => Unit = () =>
        nS.set(refresh.stage(listedMax(), trafficRows, Some(weather).filter(_ => nW > 0)))
      // The staged snapshot is served only once both appends have
      // landed: a failed append leaves the old snapshot served (K4).
      try Par.runAll(appends ++ Seq(stage).filter(_ => publishes): _*)
      catch { case e: Throwable =>
        if (publishes) refresh.discard()
        throw e
      }
      if (publishes) refresh.swap()
      val t3 = System.nanoTime()

      def ms(from: Long, to: Long) = (to - from) / 1000000L
      RunReport(date, time, nT, nW, nS.get,
        (tFail ++ wFail).map { case (p, e) => p.geo_name -> e.getMessage },
        ms(t0, t3), ms(t0, t1), ms(t1, appendsEnd.get), ms(appendsEnd.get, t3),
        trafficRaw.size - nT, weatherRaw.size - nW)
    } finally scala.util.Try(listedMax()) // no job of the run outlives it
  }
}
