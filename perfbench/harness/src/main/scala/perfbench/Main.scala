package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: String, runDir: String, out: String,
    corrupt: Boolean)

/** What a run reports: operations attempted and failed, and metrics. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
  }
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

/** One workload: a set-up, repeated on fresh sessions, then a timed
  * measurement on the last session.
  */
trait Workload {
  /** Input tables the workload reads, warmed in every set-up. */
  def tables: Seq[String]
  /** The workload's part of one set-up, after the session start and the
    * table warm-up: its fixtures and one warm unit of its work, where it
    * has them. `k` counts set-ups from 1.
    */
  def setup(spark: SparkSession, k: Int): Unit
  /** Runs once after the set-ups, on the last session, before the timed
    * part and outside `setup_s`: work the timed part needs once per run
    * (reference results, and warming the code paths it runs).
    */
  def warmup(spark: SparkSession): Unit = ()
  /** Runs the timed part, sized from `--seconds`, and reports its
    * end-to-end metrics.
    */
  def measure(spark: SparkSession): Unit
  /** Per-layer metrics of this workload's timed part (traced runs). */
  def layers(m: Layers): Unit
}

object Main {
  /** Set-ups per run, each doing the same work on a fresh session:
    * `setup_s` is their median. The first one also pays for class
    * loading and JIT warm-up, so the median is a warm set-up.
    */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}")
    val out = new Outcome
    val wl: Workload = a.workload match {
      case "hourly_ingest" => new HourlyIngest(a, tracer, out)
      case "index_lifecycle" => new IndexLifecycle(a, tracer, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val setupMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = tracer.setup("setup") {
        val s = tracer.span("setup.session") { session(a, k) }
        tracer.attach(s)
        tracer.span("setup.table_warm") { warmTables(s, a.data, wl.tables) }
        wl.setup(s, k)
        s
      }
      setupMs += (System.nanoTime() - t0) / 1e6
    }
    val w0 = System.nanoTime()
    tracer.setup("warmup") { wl.warmup(spark) }
    val warmupMs = (System.nanoTime() - w0) / 1e6
    // The timed part starts on a collected heap, not with the set-ups'
    // garbage.
    System.gc()
    val calBefore = calibrate(spark)
    tracer.measureStartUs = tracer.nowUs
    wl.measure(spark)
    out.put("calib_ms", (calBefore + calibrate(spark)) / 2, "ms")
    out.put("setup_s", Layers.median(setupMs.toSeq) / 1000.0, "s")
    setupMs.zipWithIndex.foreach { case (ms, i) => out.put(s"setup${i + 1}_s", ms / 1000.0, "s") }
    out.put("warmup_s", warmupMs / 1000.0, "s")
    if (a.trace) {
      tracer.drain()
      val m = new Layers(tracer, out, Runtime.getRuntime.availableProcessors)
      m.setup()
      out.metrics.get("pass_s").foreach(v => m.put("trace.pass_s", v._1))
      wl.layers(m)
      m.finish()
      Files.writeString(Paths.get(a.runDir, "spans.jsonl"), tracer.toJsonLines)
      Files.writeString(Paths.get(a.runDir, "jobs.jsonl"), tracer.recorder.jobsJson)
      Files.writeString(Paths.get(a.runDir, "execs.jsonl"), tracer.recorder.execsJson)
    }
    spark.stop()
    Files.writeString(Paths.get(a.out), toJson(out, a.trace))
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("run-dir"), m("out"), argv.contains("--corrupt-expectation"))
  }

  /** The `graft.Bench` session on `local[<cores>]`, with a fresh
    * warehouse (fixture roots live there) and scratch dirs in the run
    * directory.
    */
  def session(a: Args, k: Int): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse/s$k")
      .config("spark.local.dir", s"${a.runDir}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Milliseconds of a fixed Spark job that runs no engine code (the
    * fastest of three runs), taken just before and just after the timed
    * part: how fast the machine was. Other tenants of a shared machine
    * slow every Spark job by up to half for minutes at a time; a run
    * with a high `calib_ms` ran on a slow machine. The job is one task
    * per core of pure arithmetic on the SparkContext: no shuffle or
    * disk, and no SQL, so the engine's state does not reach it.
    */
  def calibrate(s: SparkSession): Double = {
    val sc = s.sparkContext
    val n = sc.defaultParallelism
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(0 until n, n).map { i =>
        var x = i.toLong
        var k = 0
        while (k < CalibSteps) {
          x = x * 6364136223846793005L + 1442695040888963407L
          k += 1
        }
        x
      }.reduce(_ ^ _)
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  /** Steps of the calibration's arithmetic in each task. */
  val CalibSteps = 20000000

  /** A generator for one seeded draw. The parts are hashed together:
    * `java.util.Random` streams from nearby seeds start out correlated.
    */
  def random(parts: Any*): scala.util.Random = {
    val h = scala.util.hashing.MurmurHash3.orderedHash(parts)
    new scala.util.Random(h.toLong * 0x9E3779B97F4A7C15L + h)
  }

  /** Touch each input table once, as `graft.Bench` does. */
  def warmTables(s: SparkSession, data: String, tables: Seq[String]): Unit =
    tables.foreach { n =>
      val df = if (n == "events") graft.Tables.events(s, data) else graft.Tables.load(s, data, n)
      df.write.format("noop").mode("overwrite").save()
    }

  private def toJson(o: Outcome, traced: Boolean): String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = o.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"attempted":${o.attempted},"failed":${o.failed},"traced":$traced,"metrics":{$ms}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
