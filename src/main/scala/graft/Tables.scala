package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  * One parquet file per table under `sfDir`. All reads go through here so
  * scans stay prunable (Catalyst pushes filters/projections into the
  * FileSourceScan) and so a future switch to a catalog/bucketed layout is
  * one-line.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")

  /** `events.parquet` normalization: the driver has shipped `ts` as
    * TIMESTAMP(NANOS) (which Spark's parquet reader rejects — read
    * nanos as long, then `DIV 1000` to µs; integer DIV, not `/`:
    * ns-epoch ≈ 1.7e18 exceeds double's 2^53 exact range) and as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as
    * TIMESTAMP_NTZ — cast to TimestampType, a wall-clock no-op in the
    * UTC session both mains pin). Both normalize to the SAME µs-exact
    * TimestampType column DuckDB's native read produces, so every
    * downstream query and oracle is encoding-independent.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** The corpus tables read under their declared schemas — the types of
    * every generated scale dir — so constructing a frame over them runs
    * no footer-inference job. A column missing from a file reads as
    * NULL. [[load]] keeps inferring, for the other tables and for any
    * external input.
    */
  def documents(s: SparkSession, d: String): DataFrame =
    s.read.schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT").parquet(s"$d/documents.parquet")
  def embeddings(s: SparkSession, d: String): DataFrame =
    s.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      .parquet(s"$d/embeddings.parquet")

  /** Register every table as a temp view (for `spark.sql` entry points).
    * `events` goes through its nanos-conversion wrapper.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
