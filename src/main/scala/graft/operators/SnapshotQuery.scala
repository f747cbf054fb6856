package graft.operators

import graft.schema.Schemas
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The flagship snapshot query (`bigquery_scheduled_query.sql:1-17`):
  *
  *   traffic INNER JOIN weather USING (date,time,geo_name,original_coordinates)
  *   WHERE datetime(date,time) = (SELECT MAX(datetime(date,time)) FROM traffic)
  *
  * Faithful semantics (SURVEY.md §7.4): the MAX reads the traffic table
  * ONLY — if the newest traffic hour has no weather match the snapshot is
  * empty; we must not "improve" this to a MAX over the join.
  *
  * Physical shape at scale: the MAX is a 1-row aggregate broadcast back
  * as an equality filter (Spark plans the SQL scalar subquery the same
  * way); the filter lands BEFORE the join on both inputs, so the join
  * only ever sees one hour of data — broadcastable regardless of history
  * size. Date+time parse: one `to_timestamp(concat_ws(...))` replaces
  * PARSE_DATE + PARSE_TIME + DATETIME (D1–D3) with identical ordering
  * semantics (strings are zero-padded fixed-width).
  *
  * The hourly refresh over the on-disk history ([[publishLatest]])
  * prunes one step earlier, at the file listing: it reads only the
  * newest `date=` partition of each table, and looks the newest traffic
  * hour's rows up by key inside the weather scan instead of joining.
  */
object SnapshotQuery {

  /** `datetime(date, time)` over the string pair (D1–D3). */
  def tsExpr(dateCol: String = "date", timeCol: String = "time") =
    to_timestamp(concat_ws(" ", col(dateCol), col(timeCol)), "yyyy-MM-dd HH:mm")

  /** DataFrame form. */
  def latestJoined(traffic: DataFrame, weather: DataFrame): DataFrame = {
    val mx = traffic.agg(max(tsExpr()).as("max_ts"))
    traffic
      .join(broadcast(mx), tsExpr() === col("max_ts")) // F1 on traffic side
      .drop("max_ts")
      .join(weather.join(broadcast(mx), tsExpr() === col("max_ts"))
        .drop("max_ts"), Schemas.joinKeys, "inner") // J1: USING semantics
  }

  /** SQL-text form — the reference query modulo BigQuery→Spark datetime
    * function names; exercises Catalyst's ScalarSubquery planning.
    * Expects temp views `traffic_table` / `weather_table`.
    */
  def latestJoinedSql(spark: SparkSession): DataFrame = spark.sql(
    """SELECT *
      |FROM traffic_table
      |INNER JOIN weather_table
      |USING (date, time, geo_name, original_coordinates)
      |WHERE to_timestamp(concat_ws(' ', date, time), 'yyyy-MM-dd HH:mm') =
      |  (SELECT MAX(to_timestamp(concat_ws(' ', date, time), 'yyyy-MM-dd HH:mm'))
      |   FROM traffic_table)""".stripMargin)

  /** The hourly snapshot refresh over the date-partitioned history
    * tables (K2): publishes the latest traffic hour joined with its
    * weather rows to `snapshotPath` and returns the published row count.
    * Returns 0 and publishes nothing while either table root is absent.
    * It is a [[Refresh]] listed now with no rows of its own: list,
    * stage, swap. The streaming `foreachBatch` calls it after its
    * appends; `IngestPipeline.run` runs a [[Refresh]] listed at run start
    * beside its appends instead.
    *
    * Equal to [[latestJoined]] over the full-history read, but lists and
    * scans one date partition of each table, once, so the hourly cost
    * does not grow with the append-forever history: the pipeline's
    * zero-padded `yyyy-MM-dd` stamps sort lexicographically in timestamp
    * order, so the global MAX lies in the newest `date=` dir that has a
    * non-NULL one (a dir left empty by a crashed append falls back to
    * the one before it). The job that finds the MAX also returns the
    * rows that hold it — each task keeps its partition-local newest
    * hour, ties included, and the driver keeps the global one — so the
    * traffic dir is not read again. The join is then one narrow pass
    * over the same date's weather dir ([[lookupJoin]]): no join node,
    * no exchange, and the publish is the refresh's second and last job.
    * The MAX still reads traffic only, and weather is restricted to the
    * hour's own keys — no dir there means no match, so the snapshot is
    * empty, exactly as the full-history query answers.
    */
  def publishLatest(spark: SparkSession, trafficPath: String,
      weatherPath: String, snapshotPath: String): Long = {
    val refresh = new Refresh(spark, trafficPath, weatherPath, snapshotPath)
    if (!refresh.publishes()) return 0L
    val rows = refresh.stage(refresh.listedMax())
    refresh.swap()
    rows
  }

  /** One snapshot refresh, split so that a writer can run it beside its
    * own appends: its input is both tables as listed at construction
    * plus the rows the writer appends after that, all stamped `date` (a
    * `yyyy-MM-dd` run stamp; "" when the writer adds no rows).
    *
    * Single-writer contract: one process appends to the two tables and
    * publishes the snapshot at a time. Under it the listing plus the
    * writer's own rows is exactly the history after its appends, so the
    * refresh equals [[latestJoined]] over that history without reading
    * the appended files. Concurrent writers race at [[swap]], where the
    * last one wins.
    *
    * The MAX ([[listedMax]]) needs only the listed traffic dirs dated at
    * or after `date`: older dirs hold only older hours, so they count
    * only when neither those dirs nor the writer's rows have a
    * timestamp. On a day rollover there is no such dir and no MAX job.
    * [[stage]] writes the snapshot to a staging dir and [[swap]] serves
    * it, so a writer whose append fails [[discard]]s it and the old
    * snapshot stays served.
    */
  final class Refresh(spark: SparkSession, trafficPath: String, weatherPath: String,
      snapshotPath: String, date: String = "") {
    private val traffic = new Listed(spark, trafficPath)
    private val weather = new Listed(spark, weatherPath)
    // the dirs the writer appends to: listed before its rows land
    Seq(traffic, weather).foreach(_.filesOf(date))
    private val (recent, older) = traffic.dates.partition(_ >= date)

    /** Whether the tables exist once the writer's appends land, given
      * whether it lands traffic and weather rows: only then is there a
      * snapshot to publish.
      */
    def publishes(trafficLands: Boolean = false, weatherLands: Boolean = false): Boolean =
      (traffic.exists || trafficLands) && (weather.exists || weatherLands)

    /** Whether [[listedMax]] has a dir to read, so runs a job. */
    def readsHistory: Boolean = recent.nonEmpty

    /** The newest traffic hour of the listed dirs dated at or after
      * `date`, for [[stage]]; it reads no row of the writer's.
      */
    def listedMax(): Seq[Row] = newestListed(traffic, recent)

    /** Writes the snapshot to the staging dir and returns its row count.
      * The newest traffic hour is the newest of `listedMax` and
      * `runTraffic` ([[stamped]] rows the writer appends), ties kept, or
      * else that of the older listed dirs. Its weather rows are the
      * listed files of the hour's dates plus `runWeather`, the weather
      * rows the writer appends. Nothing is served until [[swap]].
      */
    def stage(listedMax: Seq[Row], runTraffic: Seq[Row] = Nil,
        runWeather: Option[DataFrame] = None): Long = {
      val hour = newest(listedMax ++ runTraffic) match {
        case Seq() => newestListed(traffic, older)
        case h => h
      }
      val joined =
        if (hour.isEmpty) empty(spark, snapshotSchema) // no traffic row has a timestamp: the MAX is NULL
        else {
          val listed = weather.read(Schemas.weatherTableSchema,
            hour.map(r => r.getString(r.fieldIndex("date"))).distinct)
          lookupJoin(hour, runWeather.fold(listed)(listed.unionByName))
        }
      // Overwrite even when empty: the reference's scheduled query
      // replaces latest_joined_data with whatever the join returns. The
      // row count rides on the staging write instead of a
      // cache()+count() job.
      val rows = Observation()
      Layout.stageOverwrite(joined.observe(rows, count(lit(1)).as("rows")), snapshotPath)
      rows.get("rows").asInstanceOf[Long]
    }

    /** Serves the staged snapshot: the live dir is renamed aside and the
      * staged one into place, so a snapshot reader never sees a partial
      * snapshot.
      */
    def swap(): Unit = Layout.swapStaged(spark, snapshotPath)

    /** Drops a staged snapshot that will not be served. */
    def discard(): Unit = Layout.discardStaged(spark, snapshotPath)
  }

  /** One history table as a refresh reads it: whether its root exists,
    * its `date=` values newest first, both as of construction, and each
    * dir's data files as of the dir's first [[filesOf]]. A refresh reads
    * exactly these files, never a file that landed after them.
    */
  private final class Listed(spark: SparkSession, path: String) {
    private val root = new Path(path)
    private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists: Boolean = fs.exists(root)
    private val dirs: Map[String, Path] =
      if (!exists) Map.empty
      else fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith("date="))
        .map(p => ExternalCatalogUtils.unescapePathName(p.getName.stripPrefix("date=")) -> p)
        .toMap
    /** The `date=` values, newest first. */
    val dates: Seq[String] = dirs.keys.toSeq.sorted.reverse
    private val listed =
      new java.util.concurrent.ConcurrentHashMap[String, Array[FileStatus]]()

    /** The data files of `date`'s dir, listed on the first call. */
    def filesOf(date: String): Array[FileStatus] =
      dirs.get(date).fold(Array.empty[FileStatus])(dir =>
        listed.computeIfAbsent(date, _ => fs.listStatus(dir).filter { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".")
        }))

    /** The rows of the listed files of `dates` under `table`'s schema,
      * every column nullable as a file read declares it, and `date` the
      * partition column (last). The scan's file index is handed the
      * listed files, so it lists nothing itself: a file that lands in
      * the dir while the scan is planned is not read, and a day of many
      * files costs no parallel-listing job, as a read of that many file
      * paths would.
      */
    def read(table: StructType, dates: Seq[String]): DataFrame = {
      val schema = StructType(table.map(_.copy(nullable = true)))
      val files = dates.filter(d => filesOf(d).nonEmpty).map(d => dirs(d) -> filesOf(d)).toMap
      if (files.isEmpty) return empty(spark, schema)
      val cache = new FileStatusCache {
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] = files.get(p)
        def putLeafFiles(p: Path, f: Array[FileStatus]): Unit = ()
        def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(spark, files.keys.toSeq,
        Map("basePath" -> root.toString), Some(schema), cache)
      val partitions = index.partitionSchema
      spark.baseRelationToDataFrame(HadoopFsRelation(index, partitions,
        StructType(schema.filterNot(f => partitions.fieldNames.contains(f.name))),
        None, new ParquetFileFormat, Map.empty)(spark))
    }
  }

  /** The newest traffic hour of the listed dirs `dates`, each row with
    * its timestamp in a last column ([[stamped]]): the dirs are tried
    * newest first, one job each, until one holds a row with a
    * timestamp. Empty when none does (the MAX over them is NULL); no
    * dir, no job.
    */
  private def newestListed(traffic: Listed, dates: Seq[String]): Seq[Row] = {
    def newestHour(date: String): Seq[Row] = {
      val rows = stamped(traffic.read(Schemas.trafficTableSchema, Seq(date)))
        .where(col(TsCol).isNotNull)
      newest(rows.mapPartitions(newestRows)(Encoders.row(rows.schema)).collect().toSeq)
    }
    dates.sorted.reverse.iterator.filter(traffic.filesOf(_).nonEmpty)
      .map(newestHour).find(_.nonEmpty).getOrElse(Nil)
  }

  /** `traffic` with each row's timestamp (`tsExpr`, as epoch micros) in
    * a last column: the shape of a [[Refresh]]'s traffic rows.
    */
  def stamped(traffic: DataFrame): DataFrame = traffic.withColumn(TsCol, unix_micros(tsExpr()))

  /** The rows of the newest hour among [[stamped]] `rows`, ties kept; a
    * row without a timestamp never counts. The rows may come from
    * different reads: the lookup finds their columns by name.
    */
  private def newest(rows: Seq[Row]): Seq[Row] =
    newestRows(rows.iterator.filterNot(r => r.isNullAt(r.length - 1))).toSeq

  private def empty(spark: SparkSession, schema: StructType) =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private val TsCol = "__graft_ts"

  private def nonKeys(schema: StructType): Seq[String] =
    schema.fieldNames.toSeq.filterNot(Schemas.joinKeys.contains)

  /** The published snapshot's columns, in the USING join's order: the 4
    * keys, then traffic's other columns, then weather's. Every column is
    * nullable, as the Parquet write stores it. Both the lookup publish
    * and the NULL-MAX empty one take their shape from here.
    */
  val snapshotSchema: StructType = {
    import Schemas.{trafficTableSchema => t, weatherTableSchema => w}
    StructType(((Schemas.joinKeys ++ nonKeys(t)).map(t(_)) ++ nonKeys(w).map(w(_)))
      .map(_.copy(nullable = true)))
  }

  /** The inner USING join of the driver-local newest traffic `hour` with
    * `weather`, as one narrow pass. Weather is filtered to the hour's
    * `time` strings — join keys, so the filter drops no match, and it is
    * pushed into the Parquet scan — and read from one partition: one
    * task, one output file. Each weather row is looked up by its 4 keys
    * among the hour's traffic rows and emits one row per match, so
    * duplicates on either side multiply as in the join. A NULL key
    * matches nothing.
    */
  private def lookupJoin(hour: Seq[Row], weather: DataFrame): DataFrame = {
    def at(r: Row, idx: Array[Int]): Seq[Any] = idx.toSeq.map(r.get)
    // by name: a read that lists `date=` dirs puts `date` last, and the
    // hour's rows may come from such a read and from a run's own rows
    def idx(s: StructType, names: Seq[String]) = names.map(s.fieldIndex).toArray
    val byKey = hour.map { r =>
      at(r, idx(r.schema, Schemas.joinKeys)) ->
        at(r, idx(r.schema, nonKeys(Schemas.trafficTableSchema)))
    }.filterNot(_._1.contains(null)).groupMap(_._1)(_._2)
    val (wKeys, wRest) = (idx(weather.schema, Schemas.joinKeys),
      idx(weather.schema, nonKeys(Schemas.weatherTableSchema)))
    weather.filter(col("time").isin(hour.map(_.getAs[String]("time")).distinct: _*))
      .coalesce(1)
      .mapPartitions(_.flatMap { r =>
        val k = at(r, wKeys)
        byKey.getOrElse(k, Nil).map(tr => Row.fromSeq(k ++ tr ++ at(r, wRest)))
      })(Encoders.row(snapshotSchema))
  }

  /** The rows of the newest hour (largest last column, the timestamp),
    * ties kept.
    */
  private def newestRows(rows: Iterator[Row]): Iterator[Row] = {
    var newest = Long.MinValue
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    rows.foreach { r =>
      val t = r.getLong(r.length - 1)
      if (t > newest) { newest = t; out.clear() }
      if (t == newest) out += r
    }
    out.iterator
  }
}
