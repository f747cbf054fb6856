package perfbench

import graft.Tables
import graft.index.FoldProtocol
import graft.operators.{Dedup, Retrieval, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** A seeded schedule over three persisted index kinds through their
  * public functions: seed → folds (a serve after each) → delete → serve
  * → compact (and vacuum, for BM25) → serve. The final serve of each
  * kind is compared with the same serve over a from-scratch build of the
  * surviving rows, and every root must pass `FoldProtocol.fsck`.
  */
final class IndexLifecycle(a: Args, t: Tracer, out: Outcome) extends Workload {
  import IndexLifecycle._

  private val root = Paths.get(a.runDir, "index")
  private var lifecycles = 0
  /** Milliseconds of each index call ("fold.bm25") and each serve
    * ("bm25.2": the kind's second serve), one entry per lifecycle.
    */
  private val opMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val serveMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val spaceAmp = mutable.ArrayBuffer.empty[Double]
  private var subroots = 0L
  private var storedBytes = 0L
  private var fsckIssues = 0L

  private val plans = mutable.HashMap.empty[String, Plan]

  /** The seeded id partition of kind `k`'s input, shared by set-up and
    * timed part: ids in the seed build, in each fold batch, in the delete
    * batch, and the incoming batch the dedup serve screens. Ids that are
    * multiples of the IVF seeding stride stay in the seed and are never
    * deleted, so a from-scratch build over the survivors starts from the
    * same centroid seeds.
    */
  private def plan(s: SparkSession, k: Kind): Plan = plans.getOrElseUpdate(k.name, {
    val n = k.input(s).count()
    val r = Main.random(a.seed, k.name, n)
    // Exact shares, so every seed does the same amount of work: 60 % in
    // the seed build, 10 % per fold, the rest incoming; 10 % deleted.
    val (stride, rest) = (0L until n).partition(_ % IvfStride == 0)
    val ids = r.shuffle(rest)
    val nSeed = (n * 6 / 10).toInt - stride.size
    val nFold = (n / 10).toInt
    val folds = (0 until Folds).map(f => ids.slice(nSeed + f * nFold, nSeed + (f + 1) * nFold).toSet)
    val indexed = ids.take(nSeed + Folds * nFold)
    val deleted = r.shuffle(indexed).take((n / 10).toInt).toSet
    Plan(n, (stride ++ ids.take(nSeed)).toSet, folds, deleted, ids.drop(indexed.size).toSet)
  })

  private def docs(s: SparkSession): DataFrame =
    Tables.documents(s, a.data).select(col("doc_id"), col("text"))
  private def vecs(s: SparkSession): DataFrame =
    Tables.embeddings(s, a.data).select(col("vec_id"), col("embedding").as("v"))
  private def subset(df: DataFrame, key: String, ids: Set[Long]): DataFrame =
    df.filter(col(key).isin(ids.toSeq.sorted: _*))

  def tables: Seq[String] = Seq("documents", "embeddings")

  /** Expected final serve of each kind: the serve over a from-scratch
    * build of the rows that survive the timed schedule.
    */
  private val expected = mutable.HashMap.empty[String, Seq[String]]

  /** The lifecycle starts from fresh roots, so a set-up is the session
    * and the table warm-up alone.
    */
  def setup(s: SparkSession, k: Int): Unit = ()

  /** Builds the reference index of each kind (a from-scratch build of
    * the surviving rows) and serves it, which records the expected final
    * serves and warms the write and serve paths.
    */
  override def warmup(s: SparkSession): Unit = {
    all.foreach { kind =>
      val p = plan(s, kind)
      val path = root.resolve(s"reference-${kind.name}").toString
      t.span("setup.fixture")(kind.write(subset(kind.input(s), kind.key, p.survivors), path))
      t.span("setup.warm_pass") {
        val rows = kind.check(s, path, p, kind.serve(s, path, p)).map(_.toString).sorted
        expected(kind.name) = if (a.corrupt && (kind eq dedup)) rows.drop(1) else rows
      }
    }
  }

  /** Runs the same lifecycle at least twice and times each call by its
    * fastest run (as `graft.Bench` takes the best of three runs per
    * query): a burst of load on a shared machine that slows one run of a
    * call is not counted, nor is the JIT compilation of the fold, delete,
    * compact and vacuum paths, which the first lifecycle is the first to
    * run.
    */
  def measure(s: SparkSession): Unit = {
    val n = math.max(MinLifecycles, math.round(a.seconds / LifecycleSeconds).toInt)
    (1 to n).foreach(lifecycle(s, _))
    out.put("pass_s", best(opMs) / 1000.0, "s")
    out.put("ops_per_s", (opMs.size + serveMs.size) / ((best(opMs) + best(serveMs)) / 1000.0), "1/s")
  }

  /** Sum over calls of each call's fastest run. */
  private def best(ms: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]): Double =
    ms.valuesIterator.map(_.min).sum

  /** One index kind: how to build, fold, delete, compact and serve it. */
  private trait Kind {
    def name: String
    def key: String
    def input(s: SparkSession): DataFrame
    def kinds: Seq[String]
    def protocol(path: String): FoldProtocol
    def write(in: DataFrame, path: String): Unit
    def fold(in: DataFrame, path: String, batch: Long): Unit
    def delete(ids: DataFrame, path: String, id: Long): Unit
    def compact(s: SparkSession, path: String): Unit
    def vacuum(s: SparkSession, path: String, floor: Long): Unit = ()
    /** Builds the serve's DataFrame (the operator's construction). */
    def query(s: SparkSession, path: String, p: Plan): DataFrame
    def serve(s: SparkSession, path: String, p: Plan): Seq[Row] = query(s, path, p).collect().toSeq
    /** The serve the final state is checked with; approximate kinds
      * override it with an exact form.
      */
    def check(s: SparkSession, path: String, p: Plan, served: Seq[Row]): Seq[Row] = served
  }

  private val bm25 = new Kind {
    val name = "bm25"; val key = "doc_id"; val kinds = Seq("postings", "stats")
    def input(s: SparkSession) = docs(s)
    def protocol(path: String) = new FoldProtocol(path, "_postings_ledger")
    def write(in: DataFrame, path: String) = Retrieval.writeBm25Index(in, path)
    def fold(in: DataFrame, path: String, b: Long) = Retrieval.appendToBm25Index(in, path, b)
    def delete(ids: DataFrame, path: String, id: Long) = Retrieval.deleteFromBm25Index(ids, path, id)
    def compact(s: SparkSession, path: String) = Retrieval.compactBm25Index(s, path)
    override def vacuum(s: SparkSession, path: String, floor: Long) =
      Retrieval.vacuumBm25Index(s, path, floor)
    def query(s: SparkSession, path: String, p: Plan) = {
      import s.implicits._
      Retrieval.bm25Batch(s, path, bm25Queries.toDF("query_id", "terms"))
    }
  }

  private val ivf = new Kind {
    val name = "ivf"; val key = "vec_id"; val kinds = Seq("vectors")
    def input(s: SparkSession) = vecs(s)
    def protocol(path: String) = new FoldProtocol(path, "_vec_ledger")
    def write(in: DataFrame, path: String) = Similarity.writeIvfIndex(in, path)
    def fold(in: DataFrame, path: String, b: Long) = Similarity.appendToIvfIndex(in, path, b)
    def delete(ids: DataFrame, path: String, id: Long) = Similarity.deleteFromIvfIndex(ids, path, id)
    def compact(s: SparkSession, path: String) = Similarity.compactIvfIndex(s, path)
    def query(s: SparkSession, path: String, p: Plan) =
      Similarity.indexTopK(s, path, ivfQueryFrame(s, p))
    // Centroids are trained on the build input, so a rebuilt index has
    // other cells; probing every cell makes both sides exact.
    override def check(s: SparkSession, path: String, p: Plan, served: Seq[Row]) = {
      val cells = (p.rows / IvfStride + 1).toInt
      Similarity.indexTopK(s, path, ivfQueryFrame(s, p), nprobe = cells).collect().toSeq
    }
  }

  private val dedup = new Kind {
    val name = "dedup"; val key = "doc_id"; val kinds = Seq("shingles", "hashes")
    def input(s: SparkSession) = docs(s)
    def protocol(path: String) = new FoldProtocol(path, "df/_ledger")
    def write(in: DataFrame, path: String) = Dedup.writeIndex(in, path)
    def fold(in: DataFrame, path: String, b: Long) = Dedup.appendToIndex(in, path, b)
    def delete(ids: DataFrame, path: String, id: Long) = Dedup.deleteFromIndex(ids, path, id)
    def compact(s: SparkSession, path: String) = Dedup.compactIndex(s, path)
    def query(s: SparkSession, path: String, p: Plan) =
      Dedup.incrementalKeepNewIndexed(path,
        subset(Tables.documents(s, a.data), "doc_id", p.incoming))
        .select(col("doc_id"))
  }

  private val all = Seq(bm25, ivf, dedup)

  private def ivfQueryFrame(s: SparkSession, p: Plan): DataFrame =
    subset(vecs(s), "vec_id", p.incoming.toSeq.sorted.take(8).toSet)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  private def bm25Queries: Seq[(Long, Seq[String])] = {
    val r = Main.random(a.seed, "bm25 queries")
    (0L until 3L).map(q => q -> r.shuffle(Vocabulary).take(2))
  }

  /** One timed lifecycle of every kind on fresh roots. */
  private def lifecycle(s: SparkSession, n: Int): Unit = {
    var before = 0L
    var after = 0L
    all.foreach { k =>
      val p = plan(s, k)
      val path = root.resolve(s"${k.name}-$n").toString
      val in = k.input(s)
      def op(what: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        t.span(s"index.$what.${k.name}", s"index.$what.${k.name}")(body)
        opMs.getOrElseUpdate(s"$what.${k.name}", mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      }
      var served = 0
      def serve(): Seq[Row] = {
        if (t.on) subroots += k.kinds.map(k.protocol(path).committedDirsOrEmpty(_).size).sum
        val t0 = System.nanoTime()
        val rows = t.span(s"index.serve.${k.name}") {
          val df = t.span(s"operators.construct/${k.name}", "operators.construct")(k.query(s, path, p))
          t.span(s"exec.collect/${k.name}", "exec.collect")(df.collect().toSeq)
        }
        served += 1
        serveMs.getOrElseUpdate(s"${k.name}.$served", mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
        rows
      }
      op("write")(k.write(subset(in, k.key, p.seedIds), path))
      p.folds.zipWithIndex.foreach { case (ids, i) =>
        op("fold")(k.fold(subset(in, k.key, ids), path, i + 1L))
        serve()
      }
      val deleteId = p.folds.size + 1L
      op("delete")(k.delete(subset(in, k.key, p.deleted).select(col(k.key)), path, deleteId))
      serve()
      before += du(Paths.get(path))
      op("compact")(k.compact(s, path))
      if (k eq bm25) op("vacuum")(k.vacuum(s, path, deleteId))
      after += du(Paths.get(path))
      val got = k.check(s, path, p, serve()).map(_.toString).sorted
      out.check(got == expected(k.name),
        s"${k.name}: final serve differs from a from-scratch build (${got.size} vs ${expected(k.name).size} rows)")
      val report = k.protocol(path).fsck(k.kinds)
      fsckIssues += report.issues.count(_.severity != "info")
      out.check(report.clean, s"${k.name}: fsck reports ${report.issues}")
      storedBytes += du(Paths.get(path))
    }
    lifecycles += 1
    spaceAmp += before.toDouble / math.max(1L, after)
  }

  def layers(m: Layers): Unit = {
    for (op <- Seq("fold", "delete", "compact"); k <- Layers.Kinds)
      m.put(s"index.${op}_ms.$k", t.timed(_ == s"index.$op.$k").map(_.ms).sum / lifecycles)
    m.put("index.vacuum_ms.bm25", t.timed(_ == "index.vacuum.bm25").map(_.ms).sum / lifecycles)
    for (k <- Layers.Kinds)
      m.put(s"index.serve_ms.$k", t.timed(_ == s"index.serve.$k").map(_.ms).sum / lifecycles)
    val writePhases = (p: String) => p.startsWith("index.")
    m.put("index.jobs_per_op", m.r.jobsIn(writePhases).size.toDouble / (opMs.size * lifecycles))
    m.put("index.subroots_read", subroots.toDouble / lifecycles)
    m.put("index.bytes_written", m.r.execsIn(writePhases)
      .filter(_.startUs >= t.measureStartUs).map(_.bytesWritten).sum.toDouble / lifecycles)
    m.put("index.stored_bytes", storedBytes.toDouble / lifecycles)
    m.put("index.fsck_issues", fsckIssues)
    m.put("lifecycle_s", best(opMs) / 1000.0)
    m.put("serve_ms_p50", Layers.median(serveMs.values.map(_.min).toSeq))
    m.put("serve_s", best(serveMs) / 1000.0)
    m.put("space_amp", Layers.median(spaceAmp.toSeq))
    m.operators()
    m.plans()
    m.exec(t.timed(_.startsWith("exec.collect")), _ == "exec.collect")
    val construct = t.timed(_.startsWith("operators.construct")).map(_.ms).sum
    val exec = t.timed(_.startsWith("exec.collect")).map(_.ms).sum
    m.put("share.construct", construct / (construct + exec))
    m.put("share.exec", exec / (construct + exec))
  }
}

object IndexLifecycle {
  /** An id partition; `rows` is the input's row count. */
  final case class Plan(rows: Long, seedIds: Set[Long], folds: Seq[Set[Long]],
      deleted: Set[Long], incoming: Set[Long]) {
    def survivors: Set[Long] = (seedIds ++ folds.flatten) -- deleted
  }

  val Folds = 1
  /** One lifecycle of the three kinds (index calls and serves) takes
    * about 23 s on a 4-core machine; the timed part runs one per 25 s of
    * `--seconds`, and at least two.
    */
  val LifecycleSeconds = 25.0
  val MinLifecycles = 2
  /** `Similarity.writeIvfIndex` seeds its centroids from every 25th id. */
  val IvfStride = 25
  val Vocabulary: Seq[String] = ("key agg row scan slow fast table value part hash merge " +
    "batch spark line sort window order data column join small customer query stream " +
    "group big filter vector dup").split(" ").toSeq

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
}
