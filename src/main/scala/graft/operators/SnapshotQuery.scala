package graft.operators

import graft.schema.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
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
    val trafficRoot = new Path(trafficPath)
    val weatherRoot = new Path(weatherPath)
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(p: Path) = p.getFileSystem(conf).exists(p)
    if (!exists(trafficRoot) || !exists(weatherRoot)) return 0L

    def empty(schema: StructType) =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    // `basePath` keeps `date` a partition column while listing one dir.
    def day(root: Path, schema: StructType, dir: String): DataFrame =
      if (!exists(new Path(root, dir))) empty(schema)
      else spark.read.schema(schema).option("basePath", root.toString)
        .parquet(new Path(root, dir).toString)
    val newestFirst = trafficRoot.getFileSystem(conf).listStatus(trafficRoot)
      .map(_.getPath.getName).filter(_.startsWith("date="))
      .sortBy(n => ExternalCatalogUtils.unescapePathName(n.stripPrefix("date=")))
      .reverse
    // The dir's newest traffic hour, with its ts as epoch micros in a
    // last column: one job, one scan.
    def newestHour(dir: String): Seq[Row] = {
      val stamped = day(trafficRoot, Schemas.trafficTableSchema, dir)
        .withColumn(TsCol, unix_micros(tsExpr())).where(col(TsCol).isNotNull)
      val ts = stamped.schema.fieldIndex(TsCol)
      newestRows(ts, stamped.mapPartitions(newestRows(ts, _))(
        Encoders.row(stamped.schema)).collect().iterator).toSeq
    }
    val latest = newestFirst.iterator.map(dir => dir -> newestHour(dir))
      .find(_._2.nonEmpty)

    val joined = latest match {
      case Some((dir, hour)) =>
        lookupJoin(hour, day(weatherRoot, Schemas.weatherTableSchema, dir))
      case None => empty(snapshotSchema) // no traffic row has a timestamp: the MAX is NULL
    }
    // Overwrite even when empty: the reference's scheduled query replaces
    // latest_joined_data with whatever the join returns. Staged write +
    // swap, so a concurrent snapshot reader never sees a partial snapshot.
    // The row count rides on the publishing write instead of a
    // cache()+count() job.
    val rows = Observation()
    Layout.publishOverwrite(
      joined.observe(rows, count(lit(1)).as("rows")), snapshotPath)
    rows.get("rows").asInstanceOf[Long]
  }

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
    // by name: a read that lists `date=` dirs puts `date` last
    def idx(s: StructType, names: Seq[String]) = names.map(s.fieldIndex).toArray
    val (tKeys, tRest) = (idx(hour.head.schema, Schemas.joinKeys),
      idx(hour.head.schema, nonKeys(Schemas.trafficTableSchema)))
    val byKey = hour.map(r => at(r, tKeys) -> at(r, tRest))
      .filterNot(_._1.contains(null)).groupMap(_._1)(_._2)
    val (wKeys, wRest) = (idx(weather.schema, Schemas.joinKeys),
      idx(weather.schema, nonKeys(Schemas.weatherTableSchema)))
    weather.filter(col("time").isin(hour.map(_.getAs[String]("time")).distinct: _*))
      .coalesce(1)
      .mapPartitions(_.flatMap { r =>
        val k = at(r, wKeys)
        byKey.getOrElse(k, Nil).map(tr => Row.fromSeq(k ++ tr ++ at(r, wRest)))
      })(Encoders.row(snapshotSchema))
  }

  /** The rows of `rows`' newest hour (largest `ts` column), ties kept. */
  private def newestRows(ts: Int, rows: Iterator[Row]): Iterator[Row] = {
    var newest = Long.MinValue
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    rows.foreach { r =>
      val t = r.getLong(ts)
      if (t > newest) { newest = t; out.clear() }
      if (t == newest) out += r
    }
    out.iterator
  }
}
