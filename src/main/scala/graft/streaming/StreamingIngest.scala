package graft.streaming

import graft.operators.{IngestOps, SnapshotQuery}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming image of the hourly trigger (SURVEY.md §2.1 S6):
  * the Cloud Scheduler → Pub/Sub → rerun loop becomes a file-source
  * stream of raw payload batches processed with `Trigger.AvailableNow`
  * (or `ProcessingTime` for a live deployment).
  *
  * Input directory layout: JSON-lines files, one object per fetch:
  *   {"geo_name":..., "lat":..., "lon":..., "payload":"<raw API json>",
  *    "date":"yyyy-MM-dd", "time":"HH:mm", "data_type":"traffic"|"weather"}
  * (`date`/`time` ride with the record because the run-constant stamp
  * happens at fetch time — late-arriving files keep their original run
  * stamp, reproducing the reference's wall-clock-at-run-start semantics.)
  *
  * The snapshot is maintained by `foreachBatch` overwrite — the streaming
  * analogue of the hourly scheduled query (K2 / outputMode complete).
  * No watermarks: the reference is stateless by construction
  * (SURVEY.md §2.9); every micro-batch recomputes "latest" from the
  * appended history, reading only its newest date partition
  * (`SnapshotQuery.publishLatest`: one job finds the newest traffic hour
  * and keeps its rows on the driver, one job looks them up inside the
  * weather scan and writes the snapshot).
  */
object StreamingIngest {

  val rawBatchSchema: StructType = StructType(Seq(
    StructField("geo_name", StringType), StructField("lat", StringType),
    StructField("lon", StringType), StructField("payload", StringType),
    StructField("date", StringType), StructField("time", StringType),
    StructField("data_type", StringType)))

  /** Raw payload stream → appended observation tables + refreshed
    * snapshot, one micro-batch at a time. Returns the started query;
    * callers `processAllAvailable()` or `awaitTermination()`.
    */
  def start(spark: SparkSession, inputDir: String, trafficPath: String,
      weatherPath: String, snapshotPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val raw = spark.readStream.schema(rawBatchSchema).json(inputDir)
    raw.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeMicroBatch(batch, trafficPath, weatherPath, snapshotPath)
      }
      .start()
  }

  /** One micro-batch: split by data_type, run the batch transforms once
    * per table with each record's own run stamp, append both tables
    * together (`IngestOps.appendPartitioned`, which also keeps a table
    * without rows from creating its root, K3), then republish the
    * snapshot from the newest date partition. A backlog of several hours
    * appends in one write per table: the `date` partitioning puts each
    * stamp in its own directory. No emptiness probe runs once both
    * roots exist: an empty table's append writes no data file. A
    * micro-batch into existing roots is four jobs: the two appends, the
    * refresh's MAX and its publish.
    */
  private[streaming] def writeMicroBatch(batch: DataFrame, trafficPath: String,
      weatherPath: String, snapshotPath: String): Unit = {
    // A record without a run stamp belongs to no hour: dropped, never
    // written under `__HIVE_DEFAULT_PARTITION__`.
    val stamped = batch.filter(col("date").isNotNull && col("time").isNotNull)
    def rows(dataType: String, transform: (DataFrame, Column, Column) => DataFrame) =
      transform(stamped.filter(col("data_type") === dataType), col("date"), col("time"))
    IngestOps.appendPartitioned(
      rows("traffic", IngestOps.trafficFromRaw) -> trafficPath,
      rows("weather", IngestOps.weatherFromRaw) -> weatherPath)
    SnapshotQuery.publishLatest(batch.sparkSession, trafficPath, weatherPath,
      snapshotPath)
  }
}
