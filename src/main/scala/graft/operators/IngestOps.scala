package graft.operators

import graft.schema.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The two reference handlers re-expressed as single vectorized
  * projections over nested JSON (SURVEY.md §2.3 P1–P12).
  *
  * Input: a DataFrame of `RawFetch` rows (geo_name, lat, lon, payload)
  * plus run-constant `date`/`time` strings (P8/P9 — ONE timestamp per
  * run, stamped by the caller, so the 4-key join works;
  * `deployment_function.py:58-63`). The stamp may also be given as
  * columns, for inputs whose records carry their own run's stamp (the
  * streaming backlog).
  *
  * Malformed payloads (missing `flowSegmentData`, empty `weather` array)
  * null out under PERMISSIVE `from_json` and are dropped — the Spark
  * image of the handlers' return-None-on-exception (P12,
  * `deployment_function.py:123-125`, `:174-176`).
  */
object IngestOps {

  /** `"<lat>,<lon>"` — string concatenation, not arithmetic: lat/lon are
    * strings end-to-end (`deployment_function.py:119`, `:158`).
    */
  private def coordPair(lat: Column, lon: Column): Column =
    concat_ws(",", lat, lon)

  /** Traffic handler (`deployment_function.py:92-128`) → 15-column
    * traffic_table rows.
    */
  def trafficFromRaw(raw: DataFrame, runDate: String, runTime: String)
      : DataFrame = trafficFromRaw(raw, lit(runDate), lit(runTime))

  def trafficFromRaw(raw: DataFrame, runDate: Column, runTime: Column)
      : DataFrame = {
    val parsed = raw.withColumn("j",
      from_json(col("payload"), Schemas.tomtomSchema))
    val f = col("j.flowSegmentData")
    val coords = f.getField("coordinates").getField("coordinate")
    val firstC = element_at(coords, 1) // P2: head
    val lastC = element_at(coords, -1) // P3: negative index = last
    parsed
      .filter(f.isNotNull && coords.isNotNull && size(coords) >= 1 &&
        f.getField("currentSpeed").isNotNull) // P12: drop bad records
      .select(
        runDate.as("date"), // P8/P9: run-constant stamp
        runTime.as("time"),
        col("geo_name"),
        col("lat").as("latitude"),
        col("lon").as("longitude"),
        f.getField("frc").as("road_class"), // P1
        f.getField("currentSpeed").as("current_speed"),
        f.getField("freeFlowSpeed").as("free_flow_speed"),
        f.getField("currentTravelTime").as("current_travel_time"),
        f.getField("freeFlowTravelTime").as("free_flow_travel_time"),
        f.getField("confidence").as("confidence"),
        f.getField("roadClosure").as("road_closure"),
        coordPair(col("lat"), col("lon")).as("original_coordinates"), // P7
        coordPair(firstC.getField("latitude").cast("string"), // P6: cast
          firstC.getField("longitude").cast("string")).as("first_coordinates"),
        coordPair(lastC.getField("latitude").cast("string"),
          lastC.getField("longitude").cast("string")).as("last_coordinates"))
  }

  /** Weather handler (`deployment_function.py:131-179`) → 18-column
    * weather_table rows. Kelvin→Celsius is `x − 273.15` (P5,
    * `deployment_function.py:140-143`).
    */
  def weatherFromRaw(raw: DataFrame, runDate: String, runTime: String)
      : DataFrame = weatherFromRaw(raw, lit(runDate), lit(runTime))

  def weatherFromRaw(raw: DataFrame, runDate: Column, runTime: Column)
      : DataFrame = {
    val parsed = raw.withColumn("j",
      from_json(col("payload"), Schemas.openWeatherSchema))
    val j = col("j")
    val w0 = element_at(j.getField("weather"), 1) // P4: weather[0]
    val m = j.getField("main")
    def k2c(c: Column): Column = c - lit(273.15) // P5
    parsed
      .filter(j.isNotNull && j.getField("weather").isNotNull &&
        size(j.getField("weather")) >= 1 && m.isNotNull &&
        m.getField("temp").isNotNull) // P12
      .select(
        runDate.as("date"),
        runTime.as("time"),
        col("geo_name"),
        j.getField("sys").getField("country").as("country"),
        j.getField("name").as("city_area_name"),
        w0.getField("main").as("weather_main"),
        w0.getField("description").as("weather_description"),
        k2c(m.getField("temp")).as("temperature"),
        k2c(m.getField("feels_like")).as("feels_like"),
        k2c(m.getField("temp_min")).as("temp_min"),
        k2c(m.getField("temp_max")).as("temp_max"),
        m.getField("pressure").as("pressure"),
        m.getField("humidity").as("humidity_percent"),
        j.getField("visibility").as("visibility"),
        j.getField("wind").getField("speed").as("wind_speed"),
        j.getField("wind").getField("deg").as("wind_direction_degrees"),
        j.getField("clouds").getField("all").as("cloudiness_percent"),
        coordPair(col("lat"), col("lon")).as("original_coordinates"))
  }

  /** Appends one batch to the two date-partitioned observation tables
    * (K1): each `(rows, tableRoot)` is written with `partitionBy("date")`,
    * so each run stamp lands in its own date dir and history scans with
    * a date predicate prune at the file listing — the layout that keeps
    * the append-forever tables queryable at 100 TB (SURVEY.md §4).
    *
    * The tables are independent until the snapshot, so their appends run
    * together through [[Par.runAll]]: the call returns once every append
    * has ended and then rethrows the first failure, so a failing table
    * never stops its sibling's append (K4).
    *
    * Empty-batch suppression (K3): a table with no rows never creates
    * its root. Driver-local rows (a `LocalRelation`: one hour of points)
    * are checked by the relation's own row count, with no execution,
    * and written from one partition, so an hourly append adds one file
    * per table. Other rows are probed only while the root is absent: a
    * zero-row partitioned append into an existing root writes no data
    * file.
    */
  def appendPartitioned(tables: (DataFrame, String)*): Unit =
    Par.runAll(appends(tables: _*): _*)

  /** The one-table bodies [[appendPartitioned]] runs together, for a
    * caller that runs them beside work of its own.
    */
  def appends(tables: (DataFrame, String)*): Seq[() => Unit] =
    tables.map { case (rows, path) => () =>
      val root = new Path(path)
      def rootExists =
        root.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration).exists(root)
      val localNonEmpty = rows.queryExecution.analyzed match {
        case l: LocalRelation => Some(l.data.nonEmpty)
        case _ => None
      }
      if (localNonEmpty.getOrElse(rootExists || !rows.isEmpty))
        (if (localNonEmpty.isDefined) rows.coalesce(1) else rows)
          .write.mode(SaveMode.Append).partitionBy("date").parquet(path)
    }
}
