package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** One timed interval of the benchmark: a call into a layer's public
  * function, or a benchmark phase around several. Times are epoch
  * microseconds so they line up with the Spark listener clocks.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** Spans and the phase tag of the benchmark thread.
  *
  * With tracing on, every span is kept in memory and the listeners of
  * [[Recorder]] watch every session the run starts; with tracing off a
  * span only runs its body, so the untraced run measures the program
  * alone.
  */
final class Tracer(val on: Boolean, val run: String) {
  private val nanoBase = System.nanoTime()
  private val epochUsBase = System.currentTimeMillis() * 1000L
  def nowUs: Long = epochUsBase + (System.nanoTime() - nanoBase) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  // Open spans of each thread; threads started inside a span inherit it.
  private val stack = new InheritableThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 1
  val recorder = new Recorder(this)
  private var spark: SparkSession = null

  /** Phase timeline (epoch µs, phase) of the benchmark thread, so query
    * executions (which carry no local properties) can be attributed.
    */
  private val timeline = mutable.ArrayBuffer[(Long, String)](0L -> "other")
  @volatile private var phase = "other"
  /** While set, tagged spans keep the "setup" phase: set-up work is
    * never counted as the timed work it warms.
    */
  private var inSetup = false
  /** Epoch µs at which the timed part started. */
  var measureStartUs = Long.MaxValue

  def attach(s: SparkSession): Unit = {
    spark = s
    setPhase(phase)
    if (on) recorder.attach(s)
  }

  private def setPhase(p: String): Unit = if (on) {
    phase = p
    if (spark != null) spark.sparkContext.setLocalProperty(Tracer.PhaseKey, p)
    timeline.synchronized { timeline += (nowUs -> p) }
  }

  def phaseAt(us: Long): String = timeline.synchronized {
    var i = timeline.size - 1
    while (i > 0 && timeline(i)._1 > us) i -= 1
    timeline(i)._2
  }

  /** Runs `body` inside span `name`. With `phase`, jobs the body starts
    * are tagged with that phase (pool threads it starts inherit the tag).
    */
  def span[T](name: String, phase: String = null)(body: => T): T = {
    val before = this.phase
    val tag = phase != null && !inSetup
    if (tag) setPhase(phase)
    try {
      if (!on) body
      else {
        val id = synchronized { val i = nextId; nextId += 1; i }
        val parent = stack.get.headOption.getOrElse(0)
        stack.set(id :: stack.get)
        val t0 = nowUs
        try body
        finally {
          stack.set(stack.get.tail)
          synchronized { spans += Span(id, name, parent, run, t0, nowUs) }
        }
      }
    } finally if (tag) setPhase(before)
  }

  /** One set-up (or the warm-up after them), a root span named `root`:
    * tagged spans inside keep the "setup" phase.
    */
  def setup[T](root: String)(body: => T): T = {
    setPhase("setup")
    inSetup = true
    try span(root)(body)
    finally { inSetup = false; setPhase("other") }
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit =
    if (on && spark != null) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Spans of the timed part whose name satisfies `p`. */
  def timed(p: String => Boolean): Seq[Span] =
    spans.filter(s => s.startUs >= measureStartUs && p(s.name)).toSeq

  def toJsonLines: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
      s""""start_us":${s.startUs},"end_us":${s.endUs}}"""
  }.mkString("\n")
}

object Tracer {
  val PhaseKey = "perfbench.phase"
}

/** Counts from the Spark listeners the benchmark registers: jobs, stages
  * and tasks by phase, query executions with their planning phases and
  * the table paths they read and write, streaming progress, and cached
  * block bytes. Every session of a run reports into one recorder; job
  * and stage ids are keyed by the session's generation.
  */
final class Recorder(tracer: Tracer) {
  import Recorder.Job
  final class Stage(val phase: String) {
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  final class Tasks {
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs, schedMs, shuffleW, shuffleR, spill, input = 0L
  }
  final class Exec(val gen: Int, val qe: AnyRef, val phase: String, val startUs: Long,
      val ms: Double, val analysisMs: Double, val optimizationMs: Double,
      val planningMs: Double, val reads: Seq[String], val writes: Seq[String],
      val filesScanned: Long, val rowsScanned: Long, val filesWritten: Long,
      val rowsWritten: Long, val bytesWritten: Long) {
    /** The SQL execution id its jobs carry, or -1. */
    def id: Long = Recorder.this.synchronized(Option(sqlIds.get(qe)).map(_.longValue).getOrElse(-1L))
  }

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[(Int, Int), Job]
  private val stages = mutable.HashMap.empty[(Int, Int), Stage]
  val tasksByPhase = mutable.HashMap.empty[String, Tasks]
  val stageSkew = mutable.HashMap.empty[String, Double]
  val execs = mutable.ArrayBuffer.empty[Exec]
  /** (trigger start epoch µs, `addBatch` ms) of every streaming progress event. */
  val addBatches = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.HashMap.empty[String, Long]
  // Scan nodes already counted: a cached relation's scan shows up again
  // in every execution that reads the cache, but it ran once.
  private val countedScans = new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]()
  private val sqlIds = new java.util.IdentityHashMap[AnyRef, java.lang.Long]()
  private var cachedNow = 0L
  var peakCachedBytes = 0L
  private var gen = 0

  def attach(s: SparkSession): Unit = synchronized {
    gen += 1
    val g = gen
    s.sparkContext.addSparkListener(new Listener(g))
    s.listenerManager.register(new ExecListener(g))
    s.streams.addListener(new StreamListener)
  }

  private final class Listener(g: Int) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val p = Option(e.properties)
      val phase = p.flatMap(x => Option(x.getProperty(Tracer.PhaseKey))).getOrElse("other")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val j = Job(g, e.jobId, phase, site, exec, e.time * 1000L)
      jobs += j
      jobById((g, e.jobId)) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobById.get((g, e.jobId)).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Recorder.this.synchronized {
        val phase = Option(e.properties)
          .flatMap(x => Option(x.getProperty(Tracer.PhaseKey))).getOrElse("other")
        stages((g, e.stageInfo.stageId)) = new Stage(phase)
        tasksByPhase.getOrElseUpdate(phase, new Tasks).stages += 1
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        stages.remove((g, e.stageInfo.stageId)).foreach { st =>
          if (st.taskMs.size >= 2) {
            val sorted = st.taskMs.sorted
            val median = math.max(sorted(sorted.size / 2), 1L)
            val skew = sorted.last.toDouble / median
            stageSkew(st.phase) = math.max(stageSkew.getOrElse(st.phase, 1.0), skew)
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val st = stages.getOrElse((g, e.stageId), new Stage("other"))
      val t = tasksByPhase.getOrElseUpdate(st.phase, new Tasks)
      val m = e.taskMetrics
      val info = e.taskInfo
      t.tasks += 1
      st.taskMs += info.duration
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        t.shuffleW += m.shuffleWriteMetrics.bytesWritten
        t.shuffleR += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        val qe = org.apache.spark.sql.PerfbenchSql.queryExecution(end)
        if (qe != null) Recorder.this.synchronized(sqlIds.put(qe, end.executionId))
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Recorder.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isInstanceOf[RDDBlockId]) {
          val key = s"$g/${b.blockId.name}"
          val size = b.memSize + b.diskSize
          cachedNow += size - blocks.getOrElse(key, 0L)
          if (size == 0) blocks.remove(key) else blocks(key) = size
          peakCachedBytes = math.max(peakCachedBytes, cachedNow)
        }
      }
  }

  private final class ExecListener(g: Int) extends QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phaseMs(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = phases.get("analysis").map(_.startTimeMs * 1000L)
        .getOrElse(tracer.nowUs - durationNs / 1000L)
      val nodes = Recorder.nodes(qe.executedPlan)
      val scans = Recorder.this.synchronized {
        nodes.collect { case f: FileSourceScanExec if countedScans.put(f, true) == null => f }
      }
      val writes = nodes.collect {
        case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c
      }
      def metric(p: SparkPlan, n: String) = p.metrics.get(n).map(_.value).getOrElse(0L)
      def wmetric(n: String) = writes.map(_.metrics.get(n).map(_.value).getOrElse(0L)).sum
      val e = new Exec(g, qe, tracer.phaseAt(start), start, durationNs / 1e6,
        phaseMs("analysis"), phaseMs("optimization"), phaseMs("planning"),
        scans.flatMap(_.relation.location.rootPaths.map(_.toUri.getPath)),
        writes.map(_.outputPath.toUri.getPath),
        scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numOutputRows")).sum,
        wmetric("numFiles"), wmetric("numOutputRows"), wmetric("numOutputBytes"))
      Recorder.this.synchronized(execs += e)
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
  }

  private final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val add = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
      Recorder.this.synchronized(addBatches += (startUs -> add))
    }
  }

  def jobsJson: String = synchronized(jobs.map { j =>
    s"""{"gen":${j.gen},"job":${j.id},"phase":"${j.phase}","site":${Json.str(j.site)},""" +
      s""""exec":${j.execId},"start_us":${j.startUs},"end_us":${j.endUs}}"""
  }.mkString("\n"))

  def execsJson: String = synchronized(execs.map { e =>
    s"""{"gen":${e.gen},"exec":${e.id},"phase":"${e.phase}","start_us":${e.startUs},""" +
      s""""ms":${e.ms},"analysis_ms":${e.analysisMs},"optimization_ms":${e.optimizationMs},""" +
      s""""planning_ms":${e.planningMs},"reads":[${e.reads.map(Json.str).mkString(",")}],""" +
      s""""writes":[${e.writes.map(Json.str).mkString(",")}],"files_scanned":${e.filesScanned},""" +
      s""""rows_scanned":${e.rowsScanned},"files_written":${e.filesWritten},""" +
      s""""rows_written":${e.rowsWritten},"bytes_written":${e.bytesWritten}}"""
  }.mkString("\n"))

  /** Jobs whose phase satisfies `p`. */
  def jobsIn(p: String => Boolean): Seq[Job] = synchronized(jobs.filter(j => p(j.phase)).toSeq)

  /** Executions whose phase satisfies `p`. */
  def execsIn(p: String => Boolean): Seq[Exec] = synchronized(execs.filter(e => p(e.phase)).toSeq)

  /** Jobs of the given executions (matched on the execution id). */
  def jobsOf(es: Seq[Exec]): Seq[Job] = synchronized {
    val ids = es.map(e => (e.gen, e.id)).toSet
    jobs.filter(j => ids.contains((j.gen, j.execId))).toSeq
  }

  def tasks(p: String => Boolean): Tasks = synchronized {
    val sum = new Tasks
    tasksByPhase.foreach { case (ph, t) =>
      if (p(ph)) {
        sum.stages += t.stages; sum.tasks += t.tasks; sum.runMs += t.runMs
        sum.cpuNs += t.cpuNs; sum.gcMs += t.gcMs; sum.schedMs += t.schedMs
        sum.shuffleW += t.shuffleW; sum.shuffleR += t.shuffleR
        sum.spill += t.spill; sum.input += t.input
      }
    }
    sum
  }

  def skew(p: String => Boolean): Double = synchronized {
    (stageSkew.collect { case (ph, s) if p(ph) => s } ++ Seq(1.0)).max
  }
}

object Recorder {
  final case class Job(gen: Int, id: Int, phase: String, site: String,
      execId: Long, startUs: Long, var endUs: Long = -1L)

  /** Every physical node of an executed plan, looking through adaptive
    * plans, query stages, reused exchanges, cached relations and
    * subqueries.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time of `spans` covered by the given jobs, in ms. */
  def jobCoverMs(spans: Seq[Span], js: Seq[Recorder.Job]): Double =
    spans.map { s =>
      Recorder.unionLength(js.filter(j => j.endUs > s.startUs && j.startUs < s.endUs)
        .map(j => (math.max(j.startUs, s.startUs), math.min(j.endUs, s.endUs))))
    }.sum / 1000.0
}
