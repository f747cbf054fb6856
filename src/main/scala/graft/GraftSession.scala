package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains build (Bench, Verify, BenchOne and
  * the dev tools/demos), so their confs cannot drift apart.
  */
object GraftSession {

  /** `cpus` local threads and as many shuffle partitions, UTC, AQE on,
    * no UI, WARN logging. Bench-scale inputs are single-digit-MB files;
    * 1 MB splits spread the scans across local threads. A production
    * cluster reading TB-scale tables keeps the 128 MB default.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Integer environment variable `name`, `default` when unset; a
    * non-numeric value fails naming the variable.
    */
  def envInt(name: String, default: Int): Int =
    sys.env.get(name).fold(default)(v => v.trim.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"$name must be an integer, got '$v'")))
}
