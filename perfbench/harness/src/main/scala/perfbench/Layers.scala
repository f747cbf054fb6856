package perfbench

/** Per-layer metrics of a traced run, computed from the benchmark's
  * spans and the listener counts. Every name in [[Layers.Names]] is
  * reported; a layer the workload does not exercise reads 0.
  */
final class Layers(val t: Tracer, out: Outcome, cores: Int) {
  val r: Recorder = t.recorder

  /** Units of per-layer metrics are those BENCHMARK.json declares. */
  def put(name: String, v: Double): Unit = out.put(name, v, "")

  /** Medians over the run's set-ups of each set-up step, plus the
    * warm-up after them (a warm pass run once).
    */
  def setup(): Unit = {
    def under(root: String, step: String) = t.spans.filter(_.name == root).toSeq.map(r =>
      t.spans.filter(s => s.parent == r.id && s.name == s"setup.$step").map(_.ms).sum)
    for (step <- Seq("session", "table_warm", "fixture", "warm_pass"))
      put(s"setup.${step}_ms", Layers.median(under("setup", step)) + under("warmup", step).sum)
  }

  /** Query construction: the spans around `QuerySpec.fn`. */
  def operators(): Unit = {
    val spans = t.timed(_.startsWith("operators.construct"))
    val js = r.jobsIn(_ == "operators.construct")
    val wall = spans.map(_.ms).sum
    val jobMs = Recorder.jobCoverMs(spans, js)
    put("operators.construct_ms", wall)
    put("operators.construct_jobs", js.size)
    put("operators.construct_job_ms", jobMs)
    put("operators.construct_driver_ms", wall - jobMs)
    js.groupBy(j => Layers.module(j.site)).foreach { case (m, g) =>
      val name = s"operators.construct_jobs.$m"
      put(name, out.metrics.get(name).map(_._1).getOrElse(0.0) + g.size)
    }
  }

  /** Catalyst phases of the query executions the timed part's calls
    * started (not the benchmark's own calibrations and checks).
    */
  def plans(): Unit = {
    val es = r.execsIn(_ != "other").filter(_.startUs >= t.measureStartUs)
    put("plans.analysis_ms", es.map(_.analysisMs).sum)
    put("plans.optimization_ms", es.map(_.optimizationMs).sum)
    put("plans.planning_ms", es.map(_.planningMs).sum)
    put("plans.queries", es.size)
  }

  /** Spark execution of the jobs tagged with a phase in `phase`, inside
    * the wall-clock `spans`.
    */
  def exec(spans: Seq[Span], phase: String => Boolean): Unit = {
    val js = r.jobsIn(phase)
    val tk = r.tasks(phase)
    val wall = spans.map(_.ms).sum
    put("exec.ms", wall)
    put("exec.jobs", js.size)
    put("exec.stages", tk.stages)
    put("exec.tasks", tk.tasks)
    put("exec.executor_run_ms", tk.runMs)
    put("exec.executor_cpu_ms", tk.cpuNs / 1e6)
    put("exec.gc_ms", tk.gcMs)
    put("exec.sched_delay_ms", tk.schedMs)
    put("exec.core_util", if (wall > 0) tk.runMs / (wall * cores) else 0.0)
    put("exec.driver_gap_ms", wall - Recorder.jobCoverMs(spans, js))
    put("exec.task_skew", r.skew(phase))
    put("exec.shuffle_write_bytes", tk.shuffleW)
    put("exec.shuffle_read_bytes", tk.shuffleR)
    put("exec.spill_bytes", tk.spill)
    put("exec.input_bytes", tk.input)
    put("exec.peak_cached_bytes", r.peakCachedBytes)
  }

  /** Self time per layer: each timed span minus the part of it its
    * child spans cover, summed by the layer its name starts with.
    */
  def selfTimes(): Map[String, Double] = {
    val timed = t.timed(_ => true)
    val byParent = timed.groupBy(_.parent)
    timed.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
        s.ms - Recorder.unionLength(kids) / 1000.0
      }.sum
    }
  }

  def finish(): Unit = {
    selfTimes().foreach { case (layer, ms) =>
      val name = s"self_ms.$layer"
      if (Layers.Names.contains(name) && !out.metrics.contains(name)) put(name, ms)
    }
    Layers.Names.foreach(n => if (!out.metrics.contains(n)) put(n, 0.0))
  }
}

object Layers {
  val Kinds = Seq("bm25", "ivf", "dedup")
  /** Call-site buckets of construction jobs: engine modules, `async`
    * (broadcast and subquery jobs started from Spark's own pool) and
    * `other`.
    */
  val Modules = Seq("Dedup", "Retrieval", "Similarity", "FoldProtocol", "Tables", "Par",
    "Curation", "CorpusPipeline", "async", "other")

  /** Every per-layer metric, in report order. */
  val Names: Seq[String] =
    Seq("setup.session_ms", "setup.table_warm_ms", "setup.fixture_ms", "setup.warm_pass_ms",
      "sources.fetch_ms", "sources.attempts", "sources.retries", "sources.exhausted",
      "sources.success_ratio",
      "pipeline.append_ms", "pipeline.append_jobs", "pipeline.files_written",
      "pipeline.rows_appended", "pipeline.malformed_dropped",
      "snapshot.ms", "snapshot.jobs", "snapshot.files_scanned",
      "snapshot.rows_scanned_per_row_out",
      "streaming.batches", "streaming.add_batch_ms", "streaming.jobs_per_hour",
      "operators.construct_ms", "operators.construct_jobs", "operators.construct_job_ms",
      "operators.construct_driver_ms") ++
      Modules.map(m => s"operators.construct_jobs.$m") ++
      Seq("plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms", "plans.queries",
        "exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_ms",
        "exec.executor_cpu_ms", "exec.gc_ms", "exec.sched_delay_ms", "exec.core_util",
        "exec.driver_gap_ms", "exec.task_skew", "exec.shuffle_write_bytes",
        "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.input_bytes",
        "exec.peak_cached_bytes") ++
      Seq("fold", "delete", "compact").flatMap(op => Kinds.map(k => s"index.${op}_ms.$k")) ++
      Seq("index.vacuum_ms.bm25", "index.jobs_per_op") ++
      Kinds.map(k => s"index.serve_ms.$k") ++
      Seq("index.subroots_read", "index.bytes_written", "index.stored_bytes",
        "index.fsck_issues") ++
      Seq("sources", "pipeline", "snapshot", "streaming", "operators", "exec",
        "index").map(l => s"self_ms.$l") ++
      Seq("share.construct", "share.exec", "trace.pass_s", "calib_ms", "hour_ms_p50",
        "hour_ms_p90",
        "hours", "catchup_hours_per_s", "lifecycle_s", "serve_ms_p50", "serve_s", "space_amp",
        "failed_frac")

  /** Engine module of a job, from its call site ("count at Dedup.scala:480"). */
  def module(site: String): String = {
    val m = """ at (\w+)\.(scala|java):""".r.findFirstMatchIn(site).map(_.group(1)).getOrElse("other")
    if (m == "CompletableFuture") "async" else if (Modules.contains(m)) m else "other"
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
}
