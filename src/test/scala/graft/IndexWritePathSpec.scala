package graft

import graft.index.FoldProtocol
import graft.operators.{Dedup, Retrieval, Similarity}
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, SQLHadoopMapReduceCommitProtocol}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions.{col, lit}

import scala.jdk.CollectionConverters._

/** A file commit protocol whose job commit first runs
  * [[HookedCommitProtocol.beforeCommit]] with the output path — the
  * seam the specs use to act at a known point INSIDE one write of an
  * index call (steal the lease while a sibling is writing, fail one
  * sibling). Installed per test through
  * `spark.sql.sources.commitProtocolClass`.
  */
class HookedCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean = false)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path,
      dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = {
    HookedCommitProtocol.beforeCommit(path)
    super.commitJob(jobContext, taskCommits)
  }
}

object HookedCommitProtocol {
  @volatile var beforeCommit: String => Unit = _ => ()

  /** Runs `body` with the protocol installed and `hook` as its
    * [[beforeCommit]], restoring the session's protocol after.
    */
  def withHook[T](spark: SparkSession)(hook: String => Unit)(body: => T): T = {
    val key = "spark.sql.sources.commitProtocolClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, classOf[HookedCommitProtocol].getName)
    beforeCommit = hook
    try body
    finally {
      beforeCommit = _ => ()
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}

/** The index write path's fixed cost: partitioned index writes run
  * exactly `spark.sql.shuffle.partitions` tasks, index reads declare
  * their schemas (no footer-inference job), and overlapped sibling
  * writes keep every commit point fenced on the lease-holding thread.
  */
class IndexWritePathSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
  private def vecs = Tables.embeddings(spark, sf0001)
    .select($"vec_id", $"embedding".as("v"))

  test("a legacy tombstone dir without hw still hides every victim " +
    "under the declared read schema, current and as-of") {
    val root = tmpDir("legacy-tombstone")
    val p = new FoldProtocol(root, "_ledger")
    def write(dir: String, ids: Seq[Long]): Unit =
      ids.toDF("v").write.parquet(s"$root/$dir")
    write("data/seed", Seq(1L, 2L, 3L, 4L))
    write("data/b1", Seq(5L, 6L))
    p.commit("1")
    // a tombstone from before high-water marks: no hw column, and an
    // INT id narrower than the served BIGINT one
    Seq(2, 5).toDF("v").write.parquet(s"$root/tombstones/d2")
    p.commit("d2")
    // a fold AFTER the delete re-ingests victim 2
    write("data/b3", Seq(2L))
    p.commit("3")
    def read(df: DataFrame) = df.select($"v").as[Long].collect().toSeq.sorted
    def scan(d: String) = spark.read.schema("v BIGINT").parquet(d)
    // hw NULL = Long.MaxValue: the legacy hide-from-everything
    // semantics, so the re-ingested 2 stays hidden as before
    assert(read(p.readCommittedStripped(spark, "data", "v")(scan)) ==
      Seq(1L, 3L, 4L, 6L))
    assert(read(p.readCommittedStrippedAsOf(spark, "data", "v", 3L)(scan)) ==
      Seq(1L, 3L, 4L, 6L))
    assert(read(p.readCommittedStrippedAsOf(spark, "data", "v", 2L)(scan)) ==
      Seq(1L, 3L, 4L, 6L))
    // below the delete's ledger id the tombstone does not apply
    assert(read(p.readCommittedStrippedAsOf(spark, "data", "v", 1L)(scan)) ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  /** One job as the listener saw it: its id, its SQL execution id (-1
    * outside any), the call site of its final stage, that stage's task
    * count, and whether that stage is a result stage (a write or a
    * broadcast collect, not an AQE shuffle-map job).
    */
  private final case class JobSeen(id: Int, exec: Long, site: String,
      tasks: Int, result: Boolean) {
    def inference: Boolean = exec == -1L && site.startsWith("parquet at ")
  }

  /** Runs `body` and returns the jobs it launched, the execution ids of
    * its hive-partitioned writes and every node of the physical plans
    * its SQL executions ran (write commands' inner plans included).
    */
  private def recording(body: => Unit)
      : (Seq[JobSeen], Set[Long], Seq[SparkPlan]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobSeen]()
    val partitioned = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val last = e.stageInfos.maxBy(_.stageId)
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        jobs.add(JobSeen(e.jobId, exec, last.name, last.numTasks,
          org.apache.spark.sql.ListenerAccess.isResultStage(last)))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          val qe = org.apache.spark.sql.ListenerAccess.queryExecution(end)
          if (qe != null) {
            plans.add(qe.executedPlan)
            if (helper.collect(qe.executedPlan) {
                  case DataWritingCommandExec(
                      c: InsertIntoHadoopFsRelationCommand, _)
                    if c.partitionColumns.nonEmpty => c
                }.nonEmpty)
              partitioned.add(end.executionId)
          }
        case _ =>
      }
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (jobs.asScala.toSeq, partitioned.asScala.toSet,
        plans.asScala.toSeq.flatMap(nodes))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val helper = new AdaptiveSparkPlanHelper {}

  /** Every node of `p`, subqueries and command inner plans included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    helper.collectWithSubqueries(p) {
      case cr: CommandResultExec => cr +: nodes(cr.commandPhysicalPlan)
      case n => Seq(n)
    }.flatten

  private def scansOf(plan: Seq[SparkPlan], dir: String): Seq[FileSourceScanExec] =
    plan.collect { case f: FileSourceScanExec
      if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f }

  test("fold, delete and compact of BM25, IVF and dedup launch no " +
    "schema-inference job, and every partitioned write stage runs " +
    "spark.sql.shuffle.partitions tasks") {
    val slots = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // input frames are built (and their own schemas inferred) first
    val d = docs
    val v = vecs
    val seed = col("doc_id") % 5 =!= 4
    val vseed = col("vec_id") % 5 =!= 4
    val kinds: Seq[(String, String => Unit, String => Unit, String => Unit,
        String => Unit, Boolean)] = Seq(
      ("bm25",
        Retrieval.writeBm25Index(d.filter(seed), _),
        Retrieval.appendToBm25Index(d.filter(!seed), _, 1L),
        Retrieval.deleteFromBm25Index(d.filter($"doc_id" % 9 === 0)
          .select($"doc_id"), _, 2L),
        Retrieval.compactBm25Index(spark, _),
        true),
      ("ivf",
        Similarity.writeIvfIndex(v.filter(vseed), _),
        Similarity.appendToIvfIndex(v.filter(!vseed), _, 1L),
        Similarity.deleteFromIvfIndex(v.filter($"vec_id" % 9 === 0)
          .select($"vec_id"), _, 2L),
        Similarity.compactIvfIndex(spark, _),
        true),
      ("dedup",
        Dedup.writeIndex(d.filter(seed), _),
        Dedup.appendToIndex(d.filter(!seed), _, 1L),
        Dedup.deleteFromIndex(d.filter($"doc_id" % 9 === 0)
          .select($"doc_id"), _, 2L),
        Dedup.compactIndex(spark, _),
        false))
    for ((name, write, fold, delete, compact, cellWrites) <- kinds) {
      val root = tmpDir(s"write-path-$name")
      for ((op, call) <- Seq("write" -> write, "fold" -> fold,
          "delete" -> delete, "compact" -> compact)) {
        val (jobs, partitioned, _) = recording(call(root))
        val inference = jobs.filter(_.inference)
        assert(inference.isEmpty,
          s"$name $op ran schema-inference jobs: ${inference.map(_.site)}")
        // a write execution's LAST result-stage job is the write itself
        // (its broadcast collects and shuffle-map stages run before it)
        val writeStages = jobs.filter(j => j.result && partitioned(j.exec))
          .groupBy(_.exec).values.map(_.maxBy(_.id)).toSeq
        assert(writeStages.forall(_.tasks == slots),
          s"$name $op: partitioned write stages ran " +
            s"${writeStages.map(_.tasks)} tasks, not $slots")
        // every payload write of a cell/bucket index is partitioned;
        // a delete only stages tombstones and stats
        if (cellWrites && op != "delete")
          assert(writeStages.nonEmpty, s"$name $op: no partitioned write seen")
      }
    }
  }

  test("fencing under overlap: a lease stolen while a compaction's " +
    "overlapped sides are writing fails the publish and leaves the " +
    "manifest unchanged") {
    val root = tmpDir("overlap-steal")
    val p = Retrieval.protocol(root)
    Retrieval.writeBm25Index(docs.filter($"doc_id" % 5 =!= 4), root)
    Retrieval.appendToBm25Index(docs.filter($"doc_id" % 5 === 4), root, 1L)
    def served() = Retrieval.bm25TopK(spark, root, Retrieval.QueryTerms)
      .as[(Long, Double)].collect().toSeq
    val before = (served(), p.manifest(), p.entries())
    val lease = new org.apache.hadoop.fs.Path(root, "_writer_lease")
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stolen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      HookedCommitProtocol.withHook(spark) { path =>
        // the postings side is committing its staged write while the
        // stats side runs beside it: a thief takes the lease now
        if (path.contains(".postings.compacting") &&
            stolen.compareAndSet(false, true)) {
          fs.delete(lease, false)
          val out = fs.create(lease, false)
          try out.write(s"thief@${System.currentTimeMillis()}"
            .getBytes("UTF-8")) finally out.close()
        }
      }(Retrieval.compactBm25Index(spark, root))
    }
    assert(stolen.get(), "the steal must land inside a side's write")
    assert(err.getMessage.contains("fencing check failed"),
      s"the publish must fail the fence, got: ${err.getMessage}")
    assert(p.manifest() == before._2, "the manifest must be unchanged")
    assert(p.entries() == before._3)
    assert(p.leaseHolder().exists(_.startsWith("thief@")),
      "the thief's lease must be left intact")
    fs.delete(lease, false)
    assert(served() == before._1, "the pre-steal index keeps serving")
    Retrieval.compactBm25Index(spark, root)
    assert(served() == before._1, "a later legitimate compaction lands")
  }

  test("fencing under overlap: a failing sibling inside a fold's " +
    "overlapped writes leaves no ledger entry, and the replay commits") {
    val cases: Seq[(String, String, (DataFrame, String) => Unit,
        (DataFrame, String) => Boolean, String => Set[Long],
        String => Seq[Long])] = Seq(
      ("bm25", "/stats/b1",
        Retrieval.writeBm25Index(_, _),
        Retrieval.appendToBm25Index(_, _, 1L),
        Retrieval.protocol(_).foldedBatches(),
        root => Retrieval.bm25TopK(spark, root, Retrieval.QueryTerms)
          .as[(Long, Double)].collect().toSeq.map(_._1)),
      ("dedup", "/hashes/b1",
        Dedup.writeIndex(_, _),
        Dedup.appendToIndex(_, _, 1L),
        Dedup.foldedBatches(_),
        root => Dedup.incrementalKeepNewIndexed(root,
          docs.filter($"doc_id" % 7 === 0)).select($"doc_id").as[Long]
          .collect().toSeq.sorted))
    for ((name, failing, write, fold, folded, served) <- cases) {
      val root = tmpDir(s"overlap-fail-$name")
      write(docs.filter($"doc_id" % 5 =!= 4), root)
      val before = served(root)
      val batch = docs.filter($"doc_id" % 5 === 4)
      intercept[Exception] {
        HookedCommitProtocol.withHook(spark) { path =>
          if (path.endsWith(failing))
            throw new java.io.IOException(s"injected failure writing $path")
        }(fold(batch, root))
      }
      assert(!folded(root).contains(1L),
        s"$name: a failed sibling must leave no ledger entry")
      assert(served(root) == before, s"$name: the failed fold must not serve")
      assert(fold(batch, root), s"$name: the replay must commit")
      assert(folded(root).contains(1L))
    }
  }

  private def ivfQueries(v: DataFrame) =
    v.filter($"vec_id" < 8).select($"vec_id".as("query_id"), $"v".as("qv"))

  test("IVF serves and folds of every kind scan cents/ once and run no " +
    "centroid aggregate; a float serve runs at most 6 jobs") {
    val v = vecs
    val q = ivfQueries(v)
    val kinds: Seq[(String, String => Unit, String => Boolean,
        String => Unit)] = Seq(
      ("ivf", Similarity.writeIvfIndex(v.filter($"vec_id" % 5 =!= 4), _),
        Similarity.appendToIvfIndex(v.filter($"vec_id" % 5 === 4), _, 1L),
        root => Similarity.indexTopK(spark, root, q).collect()),
      ("pq", Similarity.writeIvfPqIndex(v.filter($"vec_id" % 5 =!= 4), _),
        Similarity.appendToIvfPqIndex(v.filter($"vec_id" % 5 === 4), _, 1L),
        root => Similarity.ivfPqTopK(spark, root, q, v).collect()),
      ("binary",
        Similarity.writeIvfBinaryIndex(v.filter($"vec_id" % 5 =!= 4), _),
        Similarity.appendToIvfBinaryIndex(v.filter($"vec_id" % 5 === 4),
          _, 1L),
        root => Similarity.ivfBinaryTopK(spark, root, q, v).collect()))
    for ((name, write, fold, serve) <- kinds) {
      val root = tmpDir(s"serve-fold-$name")
      write(root)
      for ((op, call) <- Seq[(String, () => Unit)](
          "fold" -> (() => assert(fold(root))), "serve" -> (() => serve(root)))) {
        val (jobs, _, plan) = recording(call())
        assert(scansOf(plan, "/cents").size == 1,
          s"$name $op: cents/ scans ${scansOf(plan, "/cents").size}")
        val centroidAggs = plan.collect { case a: BaseAggregateExec
          if a.aggregateExpressions.exists(_.references.exists(_.name == "cv")) => a }
        assert(centroidAggs.isEmpty, s"$name $op: $centroidAggs")
        if (name == "ivf" && op == "serve")
          assert(jobs.size <= 6, s"float serve ran ${jobs.size} jobs")
      }
    }
  }

  private def bm25Queries(terms: Seq[String]*) =
    terms.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "terms")

  test("bm25Batch constructs without a distinct shuffle and plans the " +
    "stats as literals, not a broadcast; the postings write plans one " +
    "exchange") {
    val root = tmpDir("bm25-batch-plan")
    val (_, _, writePlan) =
      recording(Retrieval.writeBm25Index(docs, root))
    val postingsWrite = writePlan.collect {
      case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
        if c.outputPath.toString.contains("/postings/") => w
    }
    assert(postingsWrite.size == 1)
    assert(nodes(postingsWrite.head).count {
      case _: ShuffleExchangeExec => true
      case _ => false
    } == 1, postingsWrite.head)
    var served: DataFrame = null
    val (_, _, construct) = recording {
      served = Retrieval.bm25Batch(spark, root,
        bm25Queries(Seq("query", "scan"), Seq("dup", "query")))
    }
    // the stats row's group-less sum is the only aggregate: nothing
    // groups the query terms
    assert(!construct.exists {
      case a: BaseAggregateExec => a.groupingExpressions.nonEmpty
      case _ => false
    }, construct.map(_.nodeName).distinct)
    val (_, _, serve) = recording(served.collect())
    assert(scansOf(serve, "/stats").isEmpty, "the serve re-reads the stats")
    assert(!serve.exists {
      case b: BroadcastExchangeExec => scansOf(nodes(b), "/stats").nonEmpty
      case _ => false
    })
  }

  test("edge serves equal a from-scratch build's: empty query frames, " +
    "BM25 terms absent from the index, every indexed row deleted") {
    val d = docs
    val v = vecs
    def bm25(root: String, qs: DataFrame) =
      Retrieval.bm25Batch(spark, root, qs)
        .as[(Long, Long, Int)].collect().toSeq.sorted
    def ivf(root: String, qs: DataFrame) =
      Similarity.indexTopK(spark, root, qs)
        .as[(Long, Long, Int)].collect().toSeq.sorted
    def pq(root: String, qs: DataFrame) =
      Similarity.ivfPqTopK(spark, root, qs, v)
        .as[(Long, Long, Int)].collect().toSeq.sorted
    val noTerms = bm25Queries()
    val noVecs = ivfQueries(v).where(lit(false))
    val absent = bm25Queries(Seq("zzqx", "qqzx"), Seq("xzzq"))
    val present = bm25Queries(Seq("query", "scan"), Seq("dup"))
    val bm = tmpDir("edge-bm25")
    Retrieval.writeBm25Index(d, bm)
    val iv = tmpDir("edge-ivf")
    Similarity.writeIvfIndex(v, iv)
    val pqRoot = tmpDir("edge-pq")
    Similarity.writeIvfPqIndex(v, pqRoot)
    assert(bm25(bm, present).nonEmpty && ivf(iv, ivfQueries(v)).nonEmpty)
    // a from-scratch build over the same rows serves the same nothing
    val bmFresh = tmpDir("edge-bm25-fresh")
    Retrieval.writeBm25Index(d, bmFresh)
    assert(bm25(bm, noTerms) == bm25(bmFresh, noTerms))
    assert(bm25(bm, noTerms).isEmpty)
    assert(bm25(bm, absent) == bm25(bmFresh, absent))
    assert(bm25(bm, absent).isEmpty)
    assert(ivf(iv, noVecs).isEmpty && pq(pqRoot, noVecs).isEmpty)
    // every indexed row deleted serves what a build over no rows does
    assert(Retrieval.deleteFromBm25Index(d.select($"doc_id"), bm, 1L))
    assert(Similarity.deleteFromIvfIndex(v.select($"vec_id"), iv, 1L))
    val bmEmpty = tmpDir("edge-bm25-empty")
    Retrieval.writeBm25Index(d.where(lit(false)), bmEmpty)
    val ivEmpty = tmpDir("edge-ivf-empty")
    Similarity.writeIvfIndex(v.where(lit(false)), ivEmpty)
    assert(bm25(bm, present) == bm25(bmEmpty, present))
    assert(bm25(bm, present).isEmpty)
    assert(ivf(iv, ivfQueries(v)) == ivf(ivEmpty, ivfQueries(v)))
    assert(ivf(iv, ivfQueries(v)).isEmpty)
  }
}
