package graft.streaming

import graft.operators.Retrieval
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming keyword search against the PERSISTED BM25 inverted index —
  * the serving-time shape of `text_bm25_multi`, completing the triad:
  * `StreamingDedup` ingests into the dedup index, `StreamingSimilarity`
  * serves/ingests the IVF index, this module serves/ingests the BM25
  * index. Each micro-batch of queries `(query_id, terms)`:
  *
  *   1. collects the batch's term buckets driver-side (bounded by the
  *      micro-batch) into a static PartitionFilter,
  *   2. reads ONLY those `bucket=` directories of every committed
  *      posting sub-root — |terms|/Buckets of the postings bytes, raw
  *      corpus never touched,
  *   3. ranks per query with the bounded-state `top_k` aggregate and
  *      lands `(query_id, doc_id, rank)` batchId-keyed.
  *
  * The search side is READ-ONLY, so replay idempotence needs no
  * ledger: a redelivered batchId rewrites its own output directory
  * (overwrite semantics), the `StreamingSimilarity.start` contract.
  * The ingest side MUTATES the index and therefore commits through
  * the index's batch ledger (`Retrieval.appendToBm25Index`).
  */
object StreamingRetrieval {

  /** Start the search stream: `queries` must be a streaming frame with
    * (query_id, terms: array<string>). The index at `indexPath` must
    * exist (`Retrieval.ensureBm25Index` or an equivalent build).
    */
  def start(queries: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, k: Int = 10): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishBatch(batch, batchId, indexPath, outPath, k)
      }
      .start()

  /** One micro-batch publish — the replay-idempotent unit (also invoked
    * directly by the spec to simulate a redelivered batch).
    */
  def publishBatch(batch: DataFrame, batchId: Long, indexPath: String,
      outPath: String, k: Int = 10): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    Retrieval.bm25Batch(batch.sparkSession, indexPath, batch, k)
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** The WRITE side: fold micro-batches of NEW documents into the
    * persisted BM25 index — `Retrieval.appendToBm25Index` per batch
    * (tokenize the BATCH only; postings + mergeable stats land in a
    * ledgered `b<batchId>/` sub-root), exactly-once under replay via
    * the index ledger. The NEXT search batch automatically ranks over
    * the grown corpus with its df/N/avgdl shifted accordingly.
    * Maintenance every `compactEvery` batches via
    * [[IngestMaintenance]]: compact-all by default, or — with
    * `retainCommits` ≥ 1 — a floor-bounded vacuum holding the newest
    * `retainCommits` commits as-of-readable.
    */
  def startIngest(docs: DataFrame, indexPath: String,
      checkpoint: String, compactEvery: Int = 16,
      retainCommits: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          Retrieval.appendToBm25Index(batch, indexPath, batchId)
          IngestMaintenance.run(Retrieval.protocol(indexPath), batchId,
            compactEvery, retainCommits)(
            Retrieval.compactBm25Index(batch.sparkSession, indexPath))(
            Retrieval.vacuumBm25Index(batch.sparkSession, indexPath, _))
        }
      }
      .start()

  /** Streaming EXACT-PHRASE search against the persisted positional
    * index — `Retrieval.phraseBatch` per micro-batch of
    * `(query_id, phrase)`: one static bucket PartitionFilter per
    * batch, batchId-keyed overwrite output. Read-only ⇒
    * replay-idempotent without a ledger, the [[start]] contract.
    */
  def startPhrase(queries: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, k: Int = 10): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishPhraseBatch(batch, batchId, indexPath, outPath, k)
      }
      .start()

  /** One phrase micro-batch publish — the replay-idempotent unit. */
  def publishPhraseBatch(batch: DataFrame, batchId: Long,
      indexPath: String, outPath: String, k: Int = 10): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    Retrieval.phraseBatch(batch.sparkSession, indexPath, batch, k)
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** Fold micro-batches of NEW documents into the positional index —
    * `Retrieval.Phrase.appendTo` per batch (pair postings of the
    * BATCH only land in a ledgered `b<batchId>/` sub-root),
    * exactly-once under replay via the index ledger; ledger-gated
    * periodic compaction, same as [[startIngest]].
    */
  def startPhraseIngest(docs: DataFrame, indexPath: String,
      checkpoint: String, compactEvery: Int = 16,
      retainCommits: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          Retrieval.Phrase.appendTo(batch, indexPath, batchId)
          IngestMaintenance.run(Retrieval.protocol(indexPath), batchId,
            compactEvery, retainCommits)(
            Retrieval.Phrase.compact(batch.sparkSession, indexPath))(
            Retrieval.Phrase.vacuum(batch.sparkSession, indexPath, _))
        }
      }
      .start()

  /** Streaming SUBSTRING (grep) search against the persisted trigram
    * index — `Retrieval.substringBatch` per micro-batch of
    * `(query_id, needle)`: one static bucket PartitionFilter + one
    * candidate-verify join per batch, batchId-keyed overwrite output.
    * Read-only ⇒ replay-idempotent without a ledger. `docs` is the
    * corpus frame the exact verify greps (the serve contract of
    * `text_substring`).
    */
  def startSubstring(queries: DataFrame, indexPath: String,
      docs: DataFrame, outPath: String, checkpoint: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishSubstringBatch(batch, batchId, indexPath, docs, outPath)
      }
      .start()

  /** One substring micro-batch publish — the replay-idempotent unit. */
  def publishSubstringBatch(batch: DataFrame, batchId: Long,
      indexPath: String, docs: DataFrame, outPath: String): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    Retrieval.substringBatch(batch.sparkSession, indexPath, docs, batch)
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** Fold micro-batches of NEW documents into the trigram index —
    * ledgered postings-only folds with ledger-gated periodic
    * compaction via the shared [[Retrieval.Trigram.compact]].
    */
  def startSubstringIngest(docs: DataFrame, indexPath: String,
      checkpoint: String, compactEvery: Int = 16,
      retainCommits: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          Retrieval.Trigram.appendTo(batch, indexPath, batchId)
          IngestMaintenance.run(Retrieval.protocol(indexPath), batchId,
            compactEvery, retainCommits)(
            Retrieval.Trigram.compact(batch.sparkSession, indexPath))(
            Retrieval.Trigram.vacuum(batch.sparkSession, indexPath, _))
        }
      }
      .start()

  // ---- streaming serves for the remaining retrieval classes ----
  // NEAR / regex / fuzzy / prefix complete the streaming-serve
  // symmetry: every batch retrieval class the engine answers now has
  // a batchId-keyed replay-idempotent streaming twin. Unlike
  // bm25Batch/phraseBatch/substringBatch (whole-batch distributed
  // formulations), these four serve per-query plans UNIONED into one
  // job per micro-batch: the batch's queries are collected
  // driver-side — bounded by the micro-batch itself, the same bound
  // class as the probe-cell collects — and each query's serve is
  // already bucket-pruned (or an explicit full-verify fallback), so
  // the union is q cheap scans, not q corpus passes. Read-only ⇒
  // replay-idempotent via batchId-keyed overwrite, no ledger.

  /** Streaming NEAR search: micro-batches of
    * `(query_id, words: array<string>)` against the word-positional
    * index.
    */
  def startNear(queries: DataFrame, indexPath: String, outPath: String,
      checkpoint: String,
      window: Int = Retrieval.NearWindow): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishNearBatch(batch, batchId, indexPath, outPath, window)
      }
      .start()

  /** One NEAR micro-batch publish — the replay-idempotent unit. */
  def publishNearBatch(batch: DataFrame, batchId: Long,
      indexPath: String, outPath: String, window: Int): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    val s = batch.sparkSession
    import org.apache.spark.sql.functions.{col, lit}
    val qs = batch.select(col("query_id"), col("words")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
    qs.map { case (qid, ws) =>
      Retrieval.nearSearch(s, indexPath, ws, window)
        .select(lit(qid).as("query_id"), col("doc_id"),
          col("best_span"), col("n_windows"))
    }.reduce(_.union(_))
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** Streaming regex (grep -E) search: micro-batches of
    * `(query_id, pattern)` against the trigram index; `docs` is the
    * verify corpus, the `text_regex` contract (finite-language prune
    * where possible, explicit full-verify fallback otherwise).
    */
  def startRegex(queries: DataFrame, indexPath: String, docs: DataFrame,
      outPath: String, checkpoint: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishRegexBatch(batch, batchId, indexPath, docs, outPath)
      }
      .start()

  /** One regex micro-batch publish — the replay-idempotent unit. */
  def publishRegexBatch(batch: DataFrame, batchId: Long,
      indexPath: String, docs: DataFrame, outPath: String): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    val s = batch.sparkSession
    import org.apache.spark.sql.functions.{col, lit}
    val qs = batch.select(col("query_id"), col("pattern")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    qs.map { case (qid, pat) =>
      Retrieval.regexSearch(s, indexPath, docs, pat)
        .select(lit(qid).as("query_id"), col("doc_id"), col("n_match"))
    }.reduce(_.union(_))
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** Streaming fuzzy (edit-distance) term search: micro-batches of
    * `(query_id, term, max_dist)` against the trigram index.
    */
  def startFuzzy(queries: DataFrame, indexPath: String, docs: DataFrame,
      outPath: String, checkpoint: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishFuzzyBatch(batch, batchId, indexPath, docs, outPath)
      }
      .start()

  /** One fuzzy micro-batch publish — the replay-idempotent unit. */
  def publishFuzzyBatch(batch: DataFrame, batchId: Long,
      indexPath: String, docs: DataFrame, outPath: String): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    val s = batch.sparkSession
    import org.apache.spark.sql.functions.{col, lit}
    // max_dist arrives as whatever integer type the stream's source
    // inferred (LongType for parquet/JSON) — cast in the plan so the
    // row read below never depends on the source's physical type.
    val qs = batch.select(col("query_id"), col("term"),
        col("max_dist").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    qs.map { case (qid, term, d) =>
      Retrieval.fuzzySearch(s, indexPath, docs, term, d)
        .select(lit(qid).as("query_id"), col("doc_id"),
          col("n_variants"), col("tf_sum"), col("best_dist"))
    }.reduce(_.union(_))
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** Streaming prefix (autocomplete) search: micro-batches of
    * `(query_id, prefix)` against the trigram index.
    */
  def startPrefix(queries: DataFrame, indexPath: String, docs: DataFrame,
      outPath: String, checkpoint: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishPrefixBatch(batch, batchId, indexPath, docs, outPath)
      }
      .start()

  /** One prefix micro-batch publish — the replay-idempotent unit. */
  def publishPrefixBatch(batch: DataFrame, batchId: Long,
      indexPath: String, docs: DataFrame, outPath: String): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    val s = batch.sparkSession
    import org.apache.spark.sql.functions.{col, lit}
    val qs = batch.select(col("query_id"), col("prefix")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    qs.map { case (qid, pre) =>
      Retrieval.prefixSearch(s, indexPath, docs, pre)
        .select(lit(qid).as("query_id"), col("doc_id"), col("tf"),
          col("n_variants"))
    }.reduce(_.union(_))
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** Streaming suffix (trailing-wildcard) search: micro-batches of
    * `(query_id, suffix)` against the same trigram index the prefix
    * serve reads — the symmetry twin of [[startPrefix]].
    */
  def startSuffix(queries: DataFrame, indexPath: String, docs: DataFrame,
      outPath: String, checkpoint: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishSuffixBatch(batch, batchId, indexPath, docs, outPath)
      }
      .start()

  /** One suffix micro-batch publish — the replay-idempotent unit. */
  def publishSuffixBatch(batch: DataFrame, batchId: Long,
      indexPath: String, docs: DataFrame, outPath: String): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    val s = batch.sparkSession
    import org.apache.spark.sql.functions.{col, lit}
    val qs = batch.select(col("query_id"), col("suffix")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    qs.map { case (qid, suf) =>
      Retrieval.suffixSearch(s, indexPath, docs, suf)
        .select(lit(qid).as("query_id"), col("doc_id"), col("tf"),
          col("n_variants"))
    }.reduce(_.union(_))
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** Streaming boolean (must / should / must-not) retrieval: micro-
    * batches of `(query_id, must, should, must_not)` array queries
    * against the persisted inverted index. Unlike the per-term serves
    * above, the WHOLE batch evaluates in one distributed job
    * ([[Retrieval.booleanSearch]] is natively multi-query): the batch's
    * union term set prunes index buckets once and every query rides the
    * same postings read.
    */
  def startBoolean(queries: DataFrame, indexPath: String, outPath: String,
      checkpoint: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishBooleanBatch(batch, batchId, indexPath, outPath)
      }
      .start()

  /** One boolean micro-batch publish — the replay-idempotent unit.
    *
    * The collect here is the established query-batch pushdown
    * convention: its bound is the MICRO-BATCH of queries (human-issued,
    * orders of magnitude below corpus scale — the same bound every
    * per-term serve above relies on), never the corpus. NULL clause
    * arrays (a source that emits NULL where this schema means "empty
    * clause") coalesce to empty before the row read, so query 2's empty
    * must_not arriving as NULL can't NPE the batch.
    */
  def publishBooleanBatch(batch: DataFrame, batchId: Long,
      indexPath: String, outPath: String): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    val s = batch.sparkSession
    import org.apache.spark.sql.functions.{coalesce, col, typedLit}
    def clause(c: String) =
      coalesce(col(c), typedLit(Seq.empty[String])).as(c)
    val qs = batch
      .select(col("query_id"), clause("must"), clause("should"),
        clause("must_not"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2),
        r.getSeq[String](3)))
      .toSeq
    Retrieval.booleanSearch(s, indexPath, qs)
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** Streaming twin of `q_asof_matrix`: micro-batches of horizon
    * requests `(horizon)` served through the SAME consistent-horizon
    * cross-index fusion the batch gate runs
    * ([[Retrieval.asOfMatrixServe]] — BM25 + trigram substring +
    * float IVF all read their ledgers AS OF the requested horizon and
    * RRF-fuse). The all-or-nothing honesty contract carries over
    * verbatim: a leg that cannot honestly serve a requested horizon
    * (compacted or refreshed past it) throws its refusal and FAILS the
    * micro-batch rather than publishing a horizon-mixed readout.
    */
  def startAsOfMatrix(horizons: DataFrame, bmIdx: String, subIdx: String,
      annIdx: String, queryPath: String, docs: DataFrame,
      outPath: String, checkpoint: String): StreamingQuery =
    horizons.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishAsOfMatrixBatch(batch, batchId, bmIdx, subIdx, annIdx,
          queryPath, docs, outPath)
      }
      .start()

  /** One as-of-matrix micro-batch publish — the replay-idempotent
    * unit. The horizon collect is bounded by the micro-batch of
    * requests (the query-batch pushdown convention), and further by
    * the ledger id domain after the distinct.
    */
  def publishAsOfMatrixBatch(batch: DataFrame, batchId: Long,
      bmIdx: String, subIdx: String, annIdx: String, queryPath: String,
      docs: DataFrame, outPath: String): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    val s = batch.sparkSession
    import org.apache.spark.sql.functions.col
    // NULL horizons (a source emitting NULL where this schema means
    // "no request") are dropped before the collect — mirroring
    // publishBooleanBatch's coalesce hardening: without the filter a
    // NULL row NPEs getLong and an all-NULL batch makes the reduce
    // below throw on an empty list.
    val hs = batch.select(col("horizon"))
      .filter(col("horizon").isNotNull).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (hs.isEmpty) return
    val qd = s.read.parquet(queryPath)
    hs.map(h =>
        Retrieval.asOfMatrixServe(s, bmIdx, subIdx, annIdx, qd, docs, h))
      .reduce(_.unionByName(_))
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/b$batchId")
  }

  /** Stream takedown requests `(doc_id)` through the CROSS-INDEX sweep
    * — each micro-batch tombstones its ids in all four indexes under
    * `root` via [[Retrieval.takedownSweep]], with the epoch-namespaced
    * deleteId scheme of `StreamingDedup.startDeletes` (a fresh
    * checkpoint must not let batchId 0 collide with an OLD sweep's
    * committed id 0 and silently short-circuit — the epoch source is
    * the union of all four ledgers, since a crashed sweep can leave
    * kinds at different horizons). Replay safety is per-kind
    * exactly-once: a redelivered batch no-ops on committed kinds and
    * completes the rest.
    */
  def startSweep(ids: DataFrame, root: String,
      checkpoint: String): StreamingQuery = {
    val epoch = StreamingDedup.epochFor(ids, checkpoint,
      Retrieval.sweptDeleteIds(root))
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishSweep(batch, batchId, root, epoch)
      }
      .start()
  }

  /** One sweep micro-batch — the replay-idempotent unit (exposed so
    * the spec can re-deliver a batchId against partial state).
    */
  def publishSweep(batch: DataFrame, batchId: Long, root: String,
      epoch: Long): Unit = {
    if (batch.isEmpty) return // empty-batch suppression (K3)
    Retrieval.takedownSweep(batch.sparkSession,
      batch.select(org.apache.spark.sql.functions.col("doc_id")),
      root, (epoch << 32) | batchId)
    ()
  }
}
