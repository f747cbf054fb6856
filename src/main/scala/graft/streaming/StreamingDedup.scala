package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus dedup against the PERSISTED dedup index — the
  * ingestion-time shape of `dedup_incremental_indexed`. Each micro-batch:
  *
  *   1. dedups the batch against index ∪ batch
  *      (`Dedup.incrementalKeepNewIndexed` — the exact batch operator,
  *      so semantics parity with the gated query is structural, not
  *      re-implemented),
  *   2. appends the survivors to the corpus sink,
  *   3. folds the survivors into the index (`Dedup.appendToIndex`) so
  *      the NEXT micro-batch dedups against the grown corpus.
  *
  * The durable state is the ON-DISK index, not a streaming state store:
  * dropped documents never enter it, survivors enter it exactly once,
  * and a restart resumes from whatever the index last published.
  *
  * EXACTLY-ONCE under replay: foreachBatch redelivers a micro-batch
  * with the SAME batchId when the query restarts between the sink
  * write and the checkpoint commit — the window where a naive
  * append-sink + index-append pipeline double-counts the batch. Here
  * every publish is batchId-keyed: survivors land in
  * `outPath/b<batchId>` with overwrite semantics (a replay rewrites
  * the same directory), the index fold writes b-dirs the same way, and
  * the fold's COMMIT POINT is the atomic replace of the batch ledger
  * (`Dedup.appendToIndex`). A batchId found
  * in the ledger short-circuits the whole publish — whatever partial
  * state the crash left is either rewritten wholesale (pre-commit) or
  * skipped (post-commit), so corpus AND index are exactly-once.
  * Contrast with
  * `StatefulOps.dedupWithinWatermark`, which bounds its state by a
  * watermark horizon and therefore only dedups WITHIN that horizon; this
  * operator dedups against the whole accumulated corpus for the cost of
  * an index read per batch (O(|corpus|) compact hash rows, not corpus
  * text — see `Dedup.writeIndex`).
  *
  * Scale shape per batch: candidate pairs are only ever generated
  * against the incoming side (the batch), the index pair frame is
  * scanned once, and the index append is O(|survivors|): it writes the
  * survivors' shingle, hash and df rows and never reads the index.
  */
object StreamingDedup {

  /** Start the dedup stream: `docs` must be a streaming frame with at
    * least (doc_id, text). The index at `indexPath` must exist — seed it
    * with `Dedup.writeIndex` over the initial corpus (possibly empty).
    * Exact-dup precedence follows doc_id order, so ids must be
    * monotonically assigned across batches (any ingest sequence number
    * works).
    */
  def start(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, compactEvery: Int = 16): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishBatch(batch, batchId, indexPath, outPath)
        // Bound the index's O(folds) file listing without an external
        // scheduler: compact every `compactEvery` committed folds.
        // Gated on the LEDGER, not on "this invocation folded":
        // compaction is idempotent (it rewrites whatever sub-dirs are
        // committed), so re-running it on a replayed batchId is safe
        // and covers the crash window between the fold's commit and
        // the compaction. foreachBatch is the single writer
        // compactIndex requires.
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1
            && Dedup.foldedBatches(indexPath).contains(batchId))
          Dedup.compactIndex(batch.sparkSession, indexPath)
      }
      .start()

  /** Takedown stream: each micro-batch of victim `doc_id` rows
    * tombstones them out of the persisted index through
    * `Dedup.deleteFromIndex`, EXACTLY ONCE under replay — deleteIds
    * ride the same ledger as ingest folds in their own `d` namespace,
    * so a takedown batchId never collides with an ingest batchId and a
    * redelivered micro-batch short-circuits. From the commit instant
    * the victims stop shielding future ingest from dedup (their
    * shingle/hash rows anti-join away and the df stop-list is
    * corrected); the next scheduled compaction purges them physically.
    *
    * CHECKPOINT-RESET safety: streaming batchIds restart at 0 on a
    * fresh checkpoint, so a raw-batchId deleteId would find `d0`
    * already committed and silently short-circuit a NEW takedown — a
    * compliance hazard. DeleteIds are therefore epoch-namespaced:
    * `deleteId = epoch << 32 | batchId`, where the epoch is pinned in
    * a `_graft_delete_epoch` marker inside the checkpoint (replays of
    * one checkpoint reuse it — exactly-once is untouched) and a FRESH
    * checkpoint over an index with committed deletes mints
    * `max committed epoch + 1`. A pre-epoch checkpoint (Spark
    * `metadata` present, no marker) keeps epoch 0, i.e. its legacy
    * raw-batchId deleteIds, so upgrades replay exactly.
    *
    * Single-writer caveat: every index publish (fold, delete, compact)
    * assumes ONE writer at a time. Drive takedowns and ingest from the
    * same process and do not run the two sinks' micro-batches
    * concurrently (takedown streams are low-rate by nature; a paused
    * trigger or a shared queue serializes them).
    */
  def startDeletes(ids: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery = {
    val epoch = deleteEpoch(ids, indexPath, checkpoint)
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Dedup.deleteFromIndex(
          batch.select(org.apache.spark.sql.functions.col("doc_id")),
          indexPath, (epoch << 32) | batchId)
        ()
      }
      .start()
  }

  /** Resolve (and pin) the takedown epoch for `checkpoint` — see
    * [[startDeletes]]. Exposed to the reset spec.
    */
  private[graft] def deleteEpoch(ids: DataFrame, indexPath: String,
      checkpoint: String): Long =
    epochFor(ids, checkpoint,
      Dedup.deletedBatchIds(indexPath))

  /** The epoch resolution generalized over WHICH ledger(s) hold the
    * already-committed deleteIds — the cross-index sweep passes the
    * union over its four roots, single-index streams their own.
    */
  private[graft] def epochFor(ids: DataFrame, checkpoint: String,
      committedDeleteIds: => Set[Long]): Long = {
    val cp = new org.apache.hadoop.fs.Path(checkpoint)
    val fs = cp.getFileSystem(
      ids.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(cp, "_graft_delete_epoch")
    // An empty/truncated marker (a crash between create and close under
    // the old plain-write scheme) reads as ABSENT and is re-minted —
    // never a permanently wedged takedown stream.
    val existing: Option[Long] =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        txt.toLongOption
      }
    existing.getOrElse {
      val epoch =
        if (fs.exists(new org.apache.hadoop.fs.Path(cp, "metadata"))) 0L
        else committedDeleteIds
          .map(_ >> 32).maxOption.map(_ + 1L).getOrElse(0L)
      // Staged write + atomic replace (the ledger/manifest commit
      // primitive): a crash leaves either no marker or a complete one.
      val tmp = new org.apache.hadoop.fs.Path(cp, "._graft_delete_epoch.tmp")
      val out = fs.create(tmp, true)
      try out.write(epoch.toString.getBytes("UTF-8")) finally out.close()
      graft.index.FoldProtocol.atomicReplace(
        ids.sparkSession.sparkContext.hadoopConfiguration, tmp, marker)
      epoch
    }
  }

  /** One micro-batch publish — the replay-idempotent unit (also invoked
    * directly by the restart spec, which simulates every crash window by
    * re-delivering the same batchId against partial state).
    */
  def publishBatch(batch: DataFrame, batchId: Long, indexPath: String,
      outPath: String): Unit = {
    // Post-commit replay: the ledger says this batch's survivors are in
    // the corpus and folded into the index. Nothing to do.
    if (Dedup.foldedBatches(indexPath).contains(batchId)) return
    // localCheckpoint: survivors feed BOTH the corpus write and the
    // index-fold reads — bounded (batch-sized), and avoids re-running
    // the dedup join per consumer.
    val survivors =
      Dedup.incrementalKeepNewIndexed(indexPath, batch).localCheckpoint()
    if (!survivors.isEmpty) { // K3-style empty-batch suppression
      // Overwrite into a batch-keyed dir: a pre-commit replay rewrites
      // the same directory instead of appending a duplicate file-set.
      survivors.write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
      Dedup.appendToIndex(survivors, indexPath, batchId)
    }
  }
}
