package graft

import graft.operators.Dedup
import graft.streaming.StreamingDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming index-backed dedup: micro-batch survivors must equal
  * the batch operator applied sequentially (corpus grows by survivors
  * only), across exact dups, near dups, and cross-batch dups.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  // 20 words → 18 distinct 3-shingles; one trailing-word change keeps
  // Jaccard at 17/19 ≈ 0.89 ≥ 0.8 (near-dup), two early changes drop it
  // well below.
  private val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 " +
    "w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"
  private val nearDup = base.replace("w20", "x20")
  private val fresh = "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 " +
    "f11 f12 f13 f14 f15 f16 f17 f18 f19 f20"

  /** The streamed corpus: one `b<batchId>` subdir per committed batch. */
  private def corpusOf(out: String) =
    spark.read.option("recursiveFileLookup", "true").parquet(out)

  test("stream dedup vs persisted index: exact/near dups drop across " +
    "micro-batches, survivors grow the index, result equals the batch " +
    "operator applied sequentially") {
    implicit val sc = spark.sqlContext
    val idx = tmpDir("sdedup-idx")
    val out = tmpDir("sdedup-out")
    val ckpt = tmpDir("sdedup-ckpt")
    val init = Seq((1L, base)).toDF("doc_id", "text")
    Dedup.writeIndex(init, idx)

    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(
      in.toDF().toDF("doc_id", "text"), idx, out, ckpt, compactEvery = 2)
    try {
      // batch 1: 10 = exact dup of corpus doc 1; 11 = near dup of 1;
      // 12 = fresh
      in.addData((10L, base), (11L, nearDup), (12L, fresh))
      q.processAllAvailable()
      // batch 2: 20 = exact dup of batch-1 SURVIVOR 12 (cross-batch);
      // 21 = near dup of DROPPED 11 → still a near dup of corpus doc 1;
      // 22 = genuinely new
      in.addData((20L, fresh), (21L, nearDup),
        (22L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 " +
          "z11 z12 z13 z14 z15 z16 z17 z18 z19 z20"))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = corpusOf(out).select($"doc_id").as[Long].collect().toSet
    assert(streamed == Set(12L, 22L))

    // compactEvery=2 fired after batchId 1: each index frame's listing
    // is bounded to ONE compact/ dir (seed + b-dirs rewritten), with
    // every assertion below still holding against the compacted index
    for (sub <- Seq("shingles", "hashes")) {
      import scala.jdk.CollectionConverters._
      val roots = java.nio.file.Files.list(java.nio.file.Paths.get(
        Dedup.protocol(idx).dir(sub))).iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq
      assert(roots.size == 1 && roots.head.matches("c\\d+"),
        s"$sub not auto-compacted: $roots")
    }

    // sequential batch reference: corpus grows by survivors only
    val b1 = Seq((10L, base), (11L, nearDup), (12L, fresh))
      .toDF("doc_id", "text")
    val b2 = Seq((20L, fresh), (21L, nearDup),
      (22L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 " +
        "z11 z12 z13 z14 z15 z16 z17 z18 z19 z20"))
      .toDF("doc_id", "text")
    val s1 = Dedup.incrementalKeepNew(init, b1)
    val s2 = Dedup.incrementalKeepNew(init.union(s1), b2)
    val reference = (s1.select($"doc_id").as[Long].collect() ++
      s2.select($"doc_id").as[Long].collect()).toSet
    assert(streamed == reference)

    // the index grew by exactly the survivors: a from-scratch index over
    // init ∪ survivors has the identical df summary
    val scratch = tmpDir("sdedup-scratch")
    Dedup.writeIndex(
      init.union(corpusOf(out).select($"doc_id", $"text")), scratch)
    val dfGrown = Dedup.servedDf(spark, idx).as[(Long, Long)].collect().toMap
    val dfScratch = Dedup.servedDf(spark, scratch).as[(Long, Long)].collect().toMap
    assert(dfGrown == dfScratch)
  }

  test("takedown stream: a ledgered delete batch un-shields future " +
    "ingest exactly once; ingest folds and delete batches share the " +
    "ledger without colliding") {
    implicit val sc = spark.sqlContext
    val idx = tmpDir("sdel-idx")
    val out = tmpDir("sdel-out")
    // corpus doc 1 shields every later exact dup of `base`
    Dedup.writeIndex(Seq((1L, base)).toDF("doc_id", "text"), idx)
    StreamingDedup.publishBatch(
      Seq((10L, base)).toDF("doc_id", "text"), 0L, idx, out)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "b0")),
      "doc 10 must drop against corpus doc 1 (empty batch suppressed)")

    // takedown micro-batch 0 deletes the shield — its deleteId lives in
    // the d-namespace, so it cannot collide with ingest fold 0
    val ids = MemoryStream[Long]
    val q = StreamingDedup.startDeletes(
      ids.toDF().toDF("doc_id"), idx, tmpDir("sdel-ckpt"))
    try {
      ids.addData(1L)
      q.processAllAvailable()
    } finally q.stop()
    val ledger = new graft.index.FoldProtocol(idx, "df/_ledger")
    assert(Dedup.foldedBatches(idx).isEmpty &&
      ledger.deletedBatches() == Set(0L),
      "the delete batch must land in the d-namespace, not as a fold")

    // the next ingest batch re-submits the same content: with the
    // shield tombstoned it must survive and fold in
    StreamingDedup.publishBatch(
      Seq((20L, base)).toDF("doc_id", "text"), 1L, idx, out)
    val streamed = corpusOf(out).select($"doc_id").as[Long].collect().toSet
    assert(streamed == Set(20L), s"un-shielded doc must survive: $streamed")
    assert(Dedup.foldedBatches(idx) == Set(1L) &&
      ledger.deletedBatches() == Set(0L),
      "fold 1 and delete 0 coexist in one ledger")

    // replayed delete batch is a committed no-op (state unchanged)
    assert(!Dedup.deleteFromIndex(Seq(1L).toDF("doc_id"), idx, 0L))
  }

  test("checkpoint reset: a fresh takedown checkpoint mints a new " +
    "epoch, so its batchId-0 delete still tombstones instead of " +
    "short-circuiting against the old checkpoint's committed d0") {
    implicit val sc = spark.sqlContext
    val idx = tmpDir("sdel-epoch-idx")
    val out = tmpDir("sdel-epoch-out")
    // two shields: doc 1 (base) and doc 2 (fresh)
    Dedup.writeIndex(
      Seq((1L, base), (2L, fresh)).toDF("doc_id", "text"), idx)

    // takedown of doc 1 through checkpoint A (epoch 0, deleteId 0)
    val ids1 = MemoryStream[Long]
    val q1 = StreamingDedup.startDeletes(
      ids1.toDF().toDF("doc_id"), idx, tmpDir("sdel-epoch-ckptA"))
    try { ids1.addData(1L); q1.processAllAvailable() } finally q1.stop()
    assert(Dedup.deletedBatchIds(idx) == Set(0L))

    // CHECKPOINT RESET: a brand-new checkpoint restarts batchIds at 0.
    // Raw batchId deleteIds would see d0 committed and silently skip
    // this takedown; the minted epoch keeps it live.
    val ids2 = MemoryStream[Long]
    val q2 = StreamingDedup.startDeletes(
      ids2.toDF().toDF("doc_id"), idx, tmpDir("sdel-epoch-ckptB"))
    try { ids2.addData(2L); q2.processAllAvailable() } finally q2.stop()
    assert(Dedup.deletedBatchIds(idx) == Set(0L, 1L << 32),
      s"fresh checkpoint must mint epoch 1: ${Dedup.deletedBatchIds(idx)}")

    // the reset-epoch takedown really un-shields: a dup of doc 2's
    // text survives ingest now
    StreamingDedup.publishBatch(
      Seq((30L, fresh)).toDF("doc_id", "text"), 1L, idx, out)
    assert(corpusOf(out).select($"doc_id").as[Long].collect().toSet ==
      Set(30L), "takedown after the reset must un-shield doc 2")

    // replay WITHIN a checkpoint still short-circuits: the epoch is
    // pinned in the marker, so redelivered batchIds map to the same
    // committed deleteIds
    assert(!Dedup.deleteFromIndex(Seq(2L).toDF("doc_id"), idx, 1L << 32))

    // a PRE-EPOCH checkpoint (Spark metadata present, no marker) keeps
    // epoch 0 so its replayed legacy deleteIds stay committed no-ops
    val legacy = tmpDir("sdel-epoch-legacy")
    val fs = new org.apache.hadoop.fs.Path(legacy)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = fs.create(
      new org.apache.hadoop.fs.Path(legacy, "metadata"), false)
    try meta.write("{}".getBytes("UTF-8")) finally meta.close()
    assert(StreamingDedup.deleteEpoch(
      Seq(0L).toDF("doc_id"), idx, legacy) == 0L)

    // a TRUNCATED marker (crash between create and close under the old
    // plain-write scheme) reads as absent and is re-minted atomically —
    // the takedown stream must not be permanently wedged by it
    val wedged = tmpDir("sdel-epoch-truncated")
    val wfs = new org.apache.hadoop.fs.Path(wedged)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    wfs.mkdirs(new org.apache.hadoop.fs.Path(wedged))
    wfs.create(new org.apache.hadoop.fs.Path(
      wedged, "_graft_delete_epoch"), false).close() // 0-byte marker
    val reminted = StreamingDedup.deleteEpoch(
      Seq(0L).toDF("doc_id"), idx, wedged)
    assert(reminted == 2L,
      s"truncated marker must re-mint max committed epoch + 1: $reminted")
    assert(StreamingDedup.deleteEpoch(
      Seq(0L).toDF("doc_id"), idx, wedged) == 2L,
      "the re-minted marker must be pinned for subsequent resolutions")
  }

  test("takedown ids outside the fold sequence keep the served df exact " +
    "across compactions: an epoch-namespaced delete never hides later " +
    "folds, and a raw-batchId delete at or below a collapse still serves") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val incoming = docs.filter($"doc_id" % 5 === 4)
    val history = docs.filter($"doc_id" % 5 =!= 4)
    val seed = history.filter($"doc_id" % 8 < 2)
    def wave(k: Int) = history.filter($"doc_id" % 8 === k + 1)
    val isVictim = $"doc_id" % 10 === 0
    def check(root: String, live: org.apache.spark.sql.DataFrame,
        step: String): Unit = {
      val scratch = tmpDir("takedown-ids-scratch")
      Dedup.writeIndex(live, scratch)
      def served(r: String) = Dedup.incrementalKeepNewIndexed(r, incoming)
        .select($"doc_id").as[Long].collect().toSet
      def df(r: String) =
        Dedup.servedDf(spark, r).as[(Long, Long)].collect().toMap
      assert(df(root) == df(scratch), s"$step: served df differs")
      assert(served(root) == served(scratch), s"$step: served rows differ")
      assert(Dedup.protocol(root)
        .fsck(Seq("shingles", "hashes", "df", "tombstones")).clean, step)
    }
    def dfDirs(root: String) = Dedup.protocol(root).committedDirs("df")
      .map(d => d.substring(d.lastIndexOf('/') + 1))

    // fold 1, an epoch-1 takedown, compaction, fold 2: the df collapse
    // is c1 and the takedown delta stays beside it, so fold 2 serves
    val epoch = tmpDir("takedown-ids-epoch")
    Dedup.writeIndex(seed, epoch)
    assert(Dedup.appendToIndex(wave(1), epoch, 1L))
    val early = seed.union(wave(1))
    assert(Dedup.deleteFromIndex(early.filter(isVictim).select($"doc_id"),
      epoch, 1L << 32))
    Dedup.compactIndex(spark, epoch)
    assert(dfDirs(epoch) == Seq("c1", s"d${1L << 32}"))
    assert(Dedup.appendToIndex(wave(2), epoch, 2L))
    check(epoch, early.filter(!isVictim).union(wave(2)), "epoch takedown")

    // folds 1-5, compaction (c5), then takedown batch 1 (raw id 1 ≤ 5):
    // its delta serves beside c5, survives a compaction at the same
    // high-water mark, and a later compaction absorbs it
    val raw = tmpDir("takedown-ids-raw")
    Dedup.writeIndex(seed, raw)
    for (k <- 1 to 5) assert(Dedup.appendToIndex(wave(k), raw, k.toLong))
    Dedup.compactIndex(spark, raw)
    val folded = (1 to 5).map(wave).foldLeft(seed)(_.union(_))
    assert(Dedup.deleteFromIndex(folded.filter(isVictim).select($"doc_id"),
      raw, 1L))
    val live = folded.filter(!isVictim)
    check(raw, live, "raw takedown below the collapse")
    Dedup.compactIndex(spark, raw)
    assert(dfDirs(raw) == Seq("c5", "d1"))
    check(raw, live, "compaction at the same high-water mark")
    assert(Dedup.appendToIndex(wave(6), raw, 6L))
    Dedup.compactIndex(spark, raw)
    assert(dfDirs(raw) == Seq("c6"))
    check(raw, live.union(wave(6)), "compaction that absorbs the takedown")

    // the same for the BM25 stats deltas
    val bm25 = tmpDir("takedown-ids-bm25")
    graft.operators.Retrieval.writeBm25Index(seed, bm25)
    for (k <- 1 to 5)
      assert(graft.operators.Retrieval.appendToBm25Index(wave(k), bm25, k.toLong))
    graft.operators.Retrieval.compactBm25Index(spark, bm25)
    assert(graft.operators.Retrieval.deleteFromBm25Index(
      folded.filter(isVictim).select($"doc_id"), bm25, 1L))
    val bm25Scratch = tmpDir("takedown-ids-bm25-scratch")
    graft.operators.Retrieval.writeBm25Index(live, bm25Scratch)
    def ranked(root: String) = graft.operators.Retrieval.bm25TopK(
      spark, root, graft.operators.Retrieval.QueryTerms)
      .as[(Long, Double)].collect().toSeq
    assert(ranked(bm25) == ranked(bm25Scratch))
  }

  test("replay idempotence: redelivering a batchId after every crash " +
    "window — post-commit, between corpus write and fold, mid-fold " +
    "before the df commit — leaves corpus and df summary exactly-once") {
    val idx = tmpDir("sdedup-r-idx")
    val out = tmpDir("sdedup-r-out")
    val init = Seq((1L, base)).toDF("doc_id", "text")
    Dedup.writeIndex(init, idx)

    def state() = (
      corpusOf(out).select($"doc_id").as[Long].collect().toSet,
      Dedup.servedDf(spark, idx).as[(Long, Long)].collect().toMap)

    // batch 0: normal publish, then a POST-COMMIT replay (restart after
    // the checkpoint-side crash: ledger already has the batch).
    val b0 = Seq((10L, base), (12L, fresh)).toDF("doc_id", "text")
    StreamingDedup.publishBatch(b0, 0L, idx, out)
    val afterB0 = state()
    assert(afterB0._1 == Set(12L)) // 10 = exact dup of corpus doc 1
    StreamingDedup.publishBatch(b0, 0L, idx, out)
    assert(state() == afterB0, "post-commit replay must be a no-op")

    // batch 1: crash BETWEEN the corpus write and the index fold — the
    // survivors' file-set exists, the ledger does not know the batch.
    val g = "g1 g2 g3 g4 g5 g6 g7 g8 g9 g10 " +
      "g11 g12 g13 g14 g15 g16 g17 g18 g19 g20"
    val b1 = Seq((20L, fresh), (21L, g)).toDF("doc_id", "text")
    val s1 = Dedup.incrementalKeepNewIndexed(idx, b1)
    s1.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$out/b1") // what publishBatch wrote before the crash
    StreamingDedup.publishBatch(b1, 1L, idx, out) // the restart's replay
    val afterB1 = state()
    assert(afterB1._1 == Set(12L, 21L)) // 20 = cross-batch dup of 12
    // the df summary matches a from-scratch index over the survivors —
    // i.e. batch 1 was folded exactly once despite the partial publish
    val scratch1 = tmpDir("sdedup-r-scratch1")
    Dedup.writeIndex(
      init.union(corpusOf(out).select($"doc_id", $"text")), scratch1)
    assert(afterB1._2 == Dedup.servedDf(spark, scratch1)
      .as[(Long, Long)].collect().toMap)

    // batch 2: crash MID-FOLD — survivors written, shingle/hash/df
    // b-dirs staged, the ledger replace (the commit point) never ran. The orphan b-dirs
    // must stay invisible to readers and be rewritten by the replay.
    val h = "h1 h2 h3 h4 h5 h6 h7 h8 h9 h10 " +
      "h11 h12 h13 h14 h15 h16 h17 h18 h19 h20"
    val b2 = Seq((30L, h)).toDF("doc_id", "text")
    val s2 = Dedup.incrementalKeepNewIndexed(idx, b2)
    s2.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$out/b2")
    Dedup.stageBatchFold(s2, idx, 2L) // fold dies before its ledger commit
    // orphan b-dirs are excluded from reads: recomputing the batch's
    // survivors against the index still sees the PRE-fold state
    assert(Dedup.incrementalKeepNewIndexed(idx, b2)
      .select($"doc_id").as[Long].collect().toSet == Set(30L))
    StreamingDedup.publishBatch(b2, 2L, idx, out) // the restart's replay
    val afterB2 = state()
    assert(afterB2._1 == Set(12L, 21L, 30L))
    val scratch2 = tmpDir("sdedup-r-scratch2")
    Dedup.writeIndex(
      init.union(corpusOf(out).select($"doc_id", $"text")), scratch2)
    assert(afterB2._2 == Dedup.servedDf(spark, scratch2)
      .as[(Long, Long)].collect().toMap)
    // and a final full replay of everything already committed is inert
    StreamingDedup.publishBatch(b0, 0L, idx, out)
    StreamingDedup.publishBatch(b1, 1L, idx, out)
    StreamingDedup.publishBatch(b2, 2L, idx, out)
    assert(state() == afterB2)
  }
}
