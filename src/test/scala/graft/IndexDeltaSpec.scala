package graft

import graft.operators.{Dedup, Retrieval}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{explode, xxhash64}

/** Folds and deletes pay for the batch, not for the corpus: the dedup
  * df is stored as signed per-ledger-id delta sub-roots (like the BM25
  * stats), so a fold or delete writes its own delta and never reads or
  * rewrites the corpus df; compactions and vacuums collapse the deltas
  * without subtracting a delete twice.
  */
class IndexDeltaSpec extends SparkSpec {
  import spark.implicits._

  /** The scale-0.01 tables, beside the usual scale-0.001 ones. */
  private def sf001 = sf0001.stripSuffix("sf0.001") + "sf0.01"

  /** Input records read by the tasks `body` launches. */
  private def recordsRead(body: => Unit): Long = {
    val read = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          read.addAndGet(m.inputMetrics.recordsRead))
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      read.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `df` written to its own parquet dir and read back, so a call's
    * input records count exactly the rows it scans of it.
    */
  private def persisted(df: DataFrame, name: String): DataFrame = {
    val dir = s"${tmpDir(name)}/t"
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def rows(path: String): Long = spark.read.parquet(path).count()

  test("a fixed 25-doc fold reads the same input records at N = 100 and " +
    "4N = 400 docs for dedup and BM25; the dedup fold writes at most " +
    "its distinct shingles as df rows, and a fixed 25-id delete's df " +
    "write does not grow with N") {
    val docs = Tables.documents(spark, sf001).select($"doc_id", $"text")
    val batch = persisted(docs.filter($"doc_id" >= 450 && $"doc_id" < 475),
      "delta-batch")
    val victims = persisted(docs.filter($"doc_id" < 100 && $"doc_id" % 4 === 0)
      .select($"doc_id"), "delta-victims")
    val batchShingles = batch.select(explode(Dedup.shingles3($"text")).as("sh"))
      .select(xxhash64($"sh")).distinct().count()
    val seen = Seq(100, 400).map { n =>
      val corpus = persisted(docs.filter($"doc_id" < n), s"delta-corpus-$n")
      val dedup = tmpDir(s"delta-dedup-$n")
      val bm25 = tmpDir(s"delta-bm25-$n")
      Dedup.writeIndex(corpus, dedup)
      Retrieval.writeBm25Index(corpus, bm25)
      val dedupFold = recordsRead(assert(Dedup.appendToIndex(batch, dedup, 1L)))
      val bm25Fold = recordsRead(assert(Retrieval.appendToBm25Index(batch, bm25, 1L)))
      val dfDir = Dedup.protocol(dedup).dir("df")
      assert(rows(s"$dfDir/b1") <= batchShingles,
        s"N=$n: the fold wrote more df rows than its distinct shingles")
      assert(Dedup.deleteFromIndex(victims, dedup, 2L))
      (n, dedupFold, bm25Fold, rows(s"$dfDir/d2"))
    }
    val Seq((_, dFold1, bFold1, del1), (_, dFold4, bFold4, del4)) = seen
    def within(a: Long, b: Long) = a > 0 && b <= 1.5 * a && a <= 1.5 * b
    assert(within(dFold1, dFold4), s"dedup fold input records: $seen")
    assert(within(bFold1, bFold4), s"BM25 fold input records: $seen")
    assert(within(del1, del4), s"dedup delete df rows: $seen")
  }

  test("fold -> delete -> compact and fold -> delete -> vacuum serve a " +
    "from-scratch build's rows, and their summed df is its df (no delete " +
    "subtracted twice)") {
    val docs = Tables.documents(spark, sf0001)
    val seed = docs.filter($"doc_id" % 5 < 3)
    val wave = docs.filter($"doc_id" % 5 === 3)
    val isVictim = $"doc_id" % 10 === 0 || $"doc_id" % 10 === 7
    val incoming = docs.filter($"doc_id" % 5 === 4)
    val scratch = tmpDir("delta-scratch")
    Dedup.writeIndex(seed.union(wave).filter(!isVictim), scratch)
    def served(root: String) = Dedup.incrementalKeepNewIndexed(root, incoming)
      .select($"doc_id").as[Long].collect().toSet
    def df(root: String) =
      Dedup.servedDf(spark, root).as[(Long, Long)].collect().toMap
    val expected = (served(scratch), df(scratch))
    def check(root: String, step: String): Unit = {
      assert(served(root) == expected._1, s"$step: served rows differ")
      assert(df(root) == expected._2, s"$step: summed df differs")
      assert(Dedup.protocol(root)
        .fsck(Seq("shingles", "hashes", "df", "tombstones")).clean, step)
    }
    def lifecycle(name: String): String = {
      val root = tmpDir(name)
      Dedup.writeIndex(seed, root)
      assert(Dedup.appendToIndex(wave, root, 1L))
      assert(Dedup.deleteFromIndex(
        seed.union(wave).filter(isVictim).select($"doc_id"), root, 2L))
      check(root, s"$name after the delete")
      root
    }
    val dfDirs = (root: String) => Dedup.protocol(root).committedDirs("df")
      .map(d => d.substring(d.lastIndexOf('/') + 1))

    // compaction: the df collapse is c1 like the other frames' and sums
    // only what it supersedes, so the delete above the newest fold stays
    // a separate delta
    val compacted = lifecycle("delta-compact")
    Dedup.compactIndex(spark, compacted)
    assert(dfDirs(compacted) == Seq("c1", "d2"))
    check(compacted, "compact")
    // a vacuum at the compaction's floor has nothing left to collapse
    assert(!Dedup.vacuumDedupIndex(spark, compacted, 1L))
    check(compacted, "vacuum at the compaction's floor")

    // vacuum at floor 1 keeps the delete a separate delta; floor 2 and a
    // later compaction absorb it
    val vacuumed = lifecycle("delta-vacuum")
    assert(Dedup.vacuumDedupIndex(spark, vacuumed, 1L))
    assert(dfDirs(vacuumed) == Seq("c1", "d2"))
    check(vacuumed, "vacuum 1")
    assert(Dedup.vacuumDedupIndex(spark, vacuumed, 2L))
    assert(dfDirs(vacuumed) == Seq("c2"))
    check(vacuumed, "vacuum 2")
    Dedup.compactIndex(spark, vacuumed)
    assert(dfDirs(vacuumed) == Seq("c2"))
    check(vacuumed, "vacuum 2 then compact")
  }

  test("a root whose df is the flat summary of the layout before df " +
    "deltas upgrades in place on first open and then folds and serves " +
    "like a from-scratch build; one with a delete above its newest fold " +
    "refuses") {
    val docs = Tables.documents(spark, sf0001)
    val seed = docs.filter($"doc_id" % 5 < 3)
    val wave = docs.filter($"doc_id" % 5 === 3)
    val incoming = docs.filter($"doc_id" % 5 === 4)
    val late = incoming.filter($"doc_id" % 10 === 4)
    val conf = spark.sparkContext.hadoopConfiguration
    // the old layout: df/ holds the one summary frame (of `live`) beside
    // the ledger
    def flatten(root: String, live: org.apache.spark.sql.DataFrame): Unit = {
      val summary = tmpDir("flat-df-summary")
      Dedup.writeIndex(live, summary)
      val dfDir = new org.apache.hadoop.fs.Path(Dedup.protocol(root).dir("df"))
      val fs = dfDir.getFileSystem(conf)
      fs.listStatus(dfDir).filter(_.isDirectory)
        .foreach(st => fs.delete(st.getPath, true))
      val src = new org.apache.hadoop.fs.Path(Dedup.protocol(summary).dir("df"), "seed")
      fs.listStatus(src).foreach(st =>
        assert(fs.rename(st.getPath, new org.apache.hadoop.fs.Path(dfDir, st.getPath.getName))))
    }
    def served(root: String) = Dedup.incrementalKeepNewIndexed(root, incoming)
      .select($"doc_id").as[Long].collect().toSet
    def df(root: String) =
      Dedup.servedDf(spark, root).as[(Long, Long)].collect().toMap

    val legacy = tmpDir("flat-df")
    Dedup.writeIndex(seed, legacy)
    assert(Dedup.appendToIndex(wave, legacy, 1L))
    val summary = tmpDir("flat-df-rebuilt")
    Dedup.writeIndex(seed.union(wave), summary)
    flatten(legacy, seed.union(wave))
    assert(Dedup.protocol(legacy).isFlat("df"))
    assert(served(legacy) == served(summary))
    assert(!Dedup.protocol(legacy).isFlat("df"))
    assert(Dedup.protocol(legacy).committedDirs("df")
      .map(d => d.substring(d.lastIndexOf('/') + 1)) == Seq("c1"))
    assert(Dedup.appendToIndex(late, legacy, 2L))
    val scratch = tmpDir("flat-df-scratch")
    Dedup.writeIndex(seed.union(wave).union(late), scratch)
    assert(df(legacy) == df(scratch))
    assert(served(legacy) == served(scratch))
    assert(Dedup.protocol(legacy)
      .fsck(Seq("shingles", "hashes", "df", "tombstones")).clean)

    val refused = tmpDir("flat-df-late-delete")
    Dedup.writeIndex(seed, refused)
    assert(Dedup.deleteFromIndex(seed.filter($"doc_id" % 10 === 0)
      .select($"doc_id"), refused, 1L))
    flatten(refused, seed.filter($"doc_id" % 10 =!= 0))
    val e = intercept[IllegalArgumentException](df(refused))
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("a delete whose id list repeats ids and names absent ids hides " +
    "exactly the present docs, BM25 -n counts each present victim once, " +
    "and fsck is clean") {
    val docs = Tables.documents(spark, sf0001)
    val history = docs.filter($"doc_id" % 5 =!= 4).select($"doc_id", $"text")
    val incoming = docs.filter($"doc_id" % 5 === 4)
    val isVictim = $"doc_id" % 9 === 0
    val victimIds = history.filter(isVictim).select($"doc_id").as[Long]
      .collect().toSeq
    val ids = (victimIds ++ victimIds ++ Seq(1000001L, 1000002L)).toDF("doc_id")
    val live = history.filter(!isVictim)

    val bm25 = tmpDir("dup-ids-bm25")
    val bm25Scratch = tmpDir("dup-ids-bm25-scratch")
    Retrieval.writeBm25Index(history, bm25)
    Retrieval.writeBm25Index(live, bm25Scratch)
    assert(Retrieval.deleteFromBm25Index(ids, bm25, 1L))
    val p = Retrieval.protocol(bm25)
    assert(spark.read.parquet(s"${p.dir("stats")}/d1").select($"n")
      .as[Long].collect().toSeq == Seq(-victimIds.size.toLong))
    def ranked(root: String) = Retrieval.bm25TopK(spark, root, Retrieval.QueryTerms)
      .as[(Long, Double)].collect().toSeq
    assert(ranked(bm25) == ranked(bm25Scratch))
    assert(p.fsck(Seq("postings", "stats", "tombstones")).clean)

    val dedup = tmpDir("dup-ids-dedup")
    val dedupScratch = tmpDir("dup-ids-dedup-scratch")
    Dedup.writeIndex(history, dedup)
    Dedup.writeIndex(live, dedupScratch)
    assert(Dedup.deleteFromIndex(ids, dedup, 1L))
    def served(root: String) = Dedup.incrementalKeepNewIndexed(root, incoming)
      .select($"doc_id").as[Long].collect().toSet
    def df(root: String) =
      Dedup.servedDf(spark, root).as[(Long, Long)].collect().toMap
    assert(served(dedup) == served(dedupScratch))
    assert(df(dedup) == df(dedupScratch))
    assert(Dedup.protocol(dedup)
      .fsck(Seq("shingles", "hashes", "df", "tombstones")).clean)
  }
}
