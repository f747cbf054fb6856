package graft.operators

import graft.{QuerySpec, Tables}
import graft.index.{Delete, Fixture, Fold, FoldProtocol, IndexKind, Merge, Seed, Step, Vacuum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ranked text retrieval over the `documents` corpus: Okapi BM25
  * scoring of a fixed query-term set, served two ways with ONE result
  * contract (both gate against the same oracle SQL):
  *
  *   - `text_bm25`          — straight from the corpus: one tokenize
  *                            scan builds the query-term postings, a
  *                            second column-pruned scan the corpus
  *                            stats.
  *   - `text_bm25_indexed`  — from a PERSISTED inverted index whose
  *                            posting lists are physically partitioned
  *                            by a hash bucket of the term, so a query
  *                            reads only its terms' buckets (static
  *                            partition pruning) — the corpus pays
  *                            tokenization once at build time, queries
  *                            pay |terms|/Buckets of the postings
  *                            bytes and never touch the raw text.
  *
  * This is to keyword search what `Similarity.ensureIvfIndex` is to
  * embedding search; the training-data use is benchmark-overlap scoring
  * and corpus triage ("which documents answer this probe query") at a
  * cost that does not re-scan 100 TB of text per query.
  */
object Retrieval {

  /** The gate's fixed probe query: one rare term (df ≈ 5% of docs, so
    * idf dominates and near-dup boilerplate surfaces) plus two common
    * ones — the mixed-selectivity shape real probe queries have.
    */
  val QueryTerms: Seq[String] = Seq("dup", "query", "scan")

  // Okapi BM25 constants (the standard Robertson defaults k1=1.2,
  // b=0.75) appear as inline literals in BOTH the Spark expression and
  // the oracle SQL — see the literal-parity note in scorePostings.
  private val TopK = 10

  /** Posting-list hash buckets — the index's LISTING fan-out. The knob
    * trades listing granularity against small-dir overhead: a query
    * term maps to exactly ONE bucket (all its postings colocate), so a
    * q-term query lists ≤ q of the `Buckets` directories whatever the
    * vocabulary size. It does NOT cap write parallelism: postings
    * writes ([[writePostings]]) run the session's shuffle parallelism.
    */
  val Buckets = 32

  /** Bucket-partitioned postings write through
    * [[graft.index.FoldProtocol.writePartitioned]]: the rows cluster on
    * `(bucket, hash(doc_id) % slices)` with `slices = max(1,
    * shuffle partitions / Buckets)`, so once the session has more
    * write slots than buckets a stop-word-heavy bucket spreads across
    * `slices` writers instead of serializing into one straggler task,
    * and each bucket directory holds ~`slices` files. The `bucket=`
    * listing prune is untouched; within-bucket file count is what
    * compaction manages.
    */
  private def writePostings(postings: DataFrame, dir: String): Unit =
    FoldProtocol.writePartitioned(postings, dir, "bucket",
      sliceOf(postings.sparkSession))

  /** The within-bucket write slice of a posting, `hash(doc_id) % slices`
    * (see [[writePostings]]).
    */
  private def sliceOf(s: SparkSession): Column = {
    val slices = math.max(1,
      s.conf.get("spark.sql.shuffle.partitions").toInt / Buckets)
    pmod(xxhash64(col("doc_id")), lit(slices))
  }

  private def words(c: Column): Column = split(c, " ")

  /** BM25 over a postings frame `(word, doc_id, tf, dl)` that holds
    * EVERY posting of each query term (both serving paths guarantee
    * this), joined with the one-row corpus stats `(n, avgdl)`.
    *
    * df per term falls out of the postings themselves (count of rows
    * per word — one row per (term, doc)), so no separate df relation is
    * stored or joined. The df frame is bounded by the LITERAL query
    * term count, and `stats` is a true one-row scalar — the only
    * broadcast. Top-k is orderBy+limit (TakeOrdered: per-partition
    * top-k merged on the driver, no global sort), ordered by the
    * ROUNDED score with doc_id tie-break so the cut is deterministic
    * across engines.
    */
  // Literals spelled identically to the oracle SQL (2.2, 1.2, 0.25,
  // 0.75) — deriving them (K1 + 1, 1 - B) could round to a different
  // double than the literal the oracle parses.
  private val idf = log(lit(1.0) +
    (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
  private val tfNorm = col("tf") * lit(2.2) /
    (col("tf") + lit(1.2) *
      (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))

  private def scorePostings(postings: DataFrame,
      stats: DataFrame): DataFrame =
    scoreWithDf(postings,
      postings.groupBy(col("word"))
        .agg(count(lit(1)).cast("double").as("df")),
      stats)

  /** The BM25 scoring tail with the df frame EXPLICIT — the filtered
    * serve path computes df over the UNFILTERED postings (scores stay
    * identical to the unrestricted ranking; only the candidate set
    * shrinks — the `sim_topk_filtered` semantics lifted to BM25) and
    * then scores a restricted postings frame against it.
    */
  private def scoreWithDf(postings: DataFrame, df_ : DataFrame,
      stats: DataFrame): DataFrame =
    postings.join(df_, Seq("word"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(idf * tfNorm), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopK)

  /** Corpus-direct BM25: the postings of the query terms survive an
    * isin filter applied DIRECTLY on the exploded token stream, so
    * everything past the tokenize scan is |terms|-bounded per doc. The
    * corpus stats (N, avgdl) ride a second scan — that scan prunes to
    * the text column only and aggregates to one row map-side; the
    * indexed path below amortizes even that away.
    */
  def bm25(s: SparkSession, d: String,
      terms: Seq[String] = QueryTerms): DataFrame = {
    val docs = Par.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), words(col("text")).as("ws"))
    val stats = docs
      .select(size(col("ws")).as("dl"))
      .agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
    val postings = docs
      .select(col("doc_id"), size(col("ws")).as("dl"),
        explode(col("ws")).as("word"))
      .filter(col("word").isInCollection(terms))
      .groupBy(col("word"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    scorePostings(postings, stats)
  }

  // ---- persisted inverted index ----
  //   <root>/postings/<sub>/ — (word, doc_id, tf, dl) partitioned by
  //                      `bucket=pmod(xxhash64(word), Buckets)`; dl is
  //                      denormalized onto each posting (8 bytes/row)
  //                      so serving never joins a doc-length table.
  //   <root>/stats/<sub>/ — ONE row (n, sum_dl) per sub-root: the
  //                      MERGEABLE form of the corpus stats (avgdl is
  //                      derived at serve time as Σsum_dl / Σn — exact
  //                      integer sums, so growth cannot drift the
  //                      average).
  // Sub-roots `<sub>` are `seed/` (writeBm25Index), `b<batchId>/` (one
  // per folded append) and `compact/` (compactBm25Index); the set of
  // VALID b-dirs is the ledger at `<root>/_postings_ledger`, replaced
  // atomically AFTER a batch's postings + stats dirs are fully written
  // — the same exactly-once fold protocol as the dedup and IVF
  // indexes. The full vocabulary is indexed (the index serves ANY term
  // set, not just the gate's); ALL postings of a word land in the same
  // `bucket=` value of every sub-root, so the static bucket prune
  // pushes into every union branch.

  private val PostingsSchema =
    "word STRING, doc_id BIGINT, tf BIGINT, dl INT, bucket BIGINT"
  private val StatsSchema = "n BIGINT, sum_dl BIGINT"

  /** The index's staged-commit machinery — ledger, committed-dir
    * resolution, tombstones, publishes (see
    * [[graft.index.FoldProtocol]]).
    */
  private[graft] def protocol(path: String) =
    new graft.index.FoldProtocol(path, "_postings_ledger")

  /** Write one sub-root's postings + mergeable stats from a
    * `documents`-shaped frame. One tokenize scan per output, the two
    * writes overlapped ([[Par.runAll]]). The postings shuffle ONCE: the
    * exploded tokens cluster on [[writePostings]]'s `(bucket, slice)`
    * key, and the tf aggregate groups by keys that contain both, so it
    * runs in the write's own partitions — no fan-out of the document
    * text and no separate aggregate exchange. Overwrite semantics ⇒ a
    * replayed fold rewrites the same dirs wholesale.
    */
  private def writeSubRoot(docs: DataFrame, path: String,
      sub: String): Unit = {
    val p = protocol(path)
    val (postingsDir, statsDir) =
      (s"${p.dir("postings")}/$sub", s"${p.dir("stats")}/$sub")
    Par.runAll(
      () => docs
        .select(col("doc_id"), words(col("text")).as("ws"))
        .select(col("doc_id"), size(col("ws")).as("dl"),
          explode(col("ws")).as("word"))
        .withColumn("bucket", pmod(xxhash64(col("word")), lit(Buckets)))
        .withColumn("slice", sliceOf(docs.sparkSession))
        .repartition(
          docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
          col("bucket"), col("slice"))
        .groupBy(col("word"), col("doc_id"), col("dl"), col("bucket"),
          col("slice"))
        .agg(count(lit(1)).as("tf"))
        .select(col("word"), col("doc_id"), col("dl"), col("tf"),
          col("bucket"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("bucket").parquet(postingsDir),
      () => docs
        .select(size(words(col("text"))).as("dl"))
        .agg(count(lit(1)).as("n"), sum(col("dl")).cast("long").as("sum_dl"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(statsDir))
  }

  /** Build a fresh BM25 index at `path`: the corpus lands in the
    * `seed/` sub-root.
    */
  def writeBm25Index(docs: DataFrame, path: String): Unit =
    writeSubRoot(docs, path, "seed")

  /** BatchIds whose fold is fully committed. */
  def bm25FoldedBatches(path: String): Set[Long] =
    protocol(path).foldedBatches()

  /** Committed fold batchIds of a PHRASE index root (same ledger
    * dialect — named separately so call sites read against the right
    * index kind).
    */
  def phraseFoldedBatches(path: String): Set[Long] =
    protocol(path).foldedBatches()

  /** Fold a batch of NEW documents into a persisted BM25 index,
    * EXACTLY ONCE under replay: a ledgered batchId is a committed
    * no-op; the b-dir writes carry overwrite semantics so a replay
    * after a mid-write crash rewrites the same dirs; the atomic ledger
    * replace is the commit point. The existing index is never touched
    * — the fold costs one tokenize of the BATCH.
    */
  def appendToBm25Index(docs: DataFrame, path: String,
      batchId: Long): Boolean =
    protocol(path).fold(batchId, Seq("postings", "stats")) {
      stageBm25Fold(docs, path, batchId)
    }

  /** Fold step 1 (exposed to the spec so a crash between the write and
    * the ledger commit can be simulated): an uncommitted b-dir is
    * invisible to readers.
    */
  private[graft] def stageBm25Fold(docs: DataFrame, path: String,
      batchId: Long): Unit =
    writeSubRoot(docs, path, s"b$batchId")

  /** Fold step 2: publish the grown ledger via one atomic file move. */
  private[graft] def commitBm25Fold(path: String, batchId: Long): Unit =
    protocol(path).commit(batchId.toString)

  /** Tombstone a batch of documents, EXACTLY ONCE under replay — the
    * index-side half of a takedown/retraction request. Stage writes (1)
    * the victim ids under `tombstones/d<deleteId>/` and (2) a NEGATIVE
    * stats delta sub-root `stats/d<deleteId>/` holding `(-n, -sum_dl)`
    * for the docs actually present in the served index (per-doc dl
    * recovered from their own postings — a doc's postings all carry its
    * denormalized dl), so the mergeable-stats sum stays exact without
    * rewriting anything. The atomic ledger replace (`d<deleteId>`
    * entry) is the commit point: postings anti-join the tombstones and
    * the stats fold in the negative delta from the same instant, so df,
    * N and avgdl all serve as if the docs were never indexed —
    * result-identical to a from-scratch rebuild without them.
    * [[compactBm25Index]] later purges the postings physically.
    * Repeated ids and ids absent from the index are harmless: the
    * semi-join emits each served posting once, so each present victim
    * counts once in `-n`. Cost: the writes are O(|ids|) tombstone rows
    * plus one stats row, and the corpus postings are never rewritten;
    * the READ is not victim-bounded — the semi-join scans every
    * committed posting, because postings are partitioned by word
    * bucket, not by document, so nothing prunes it. Replay-safe: an
    * uncommitted stage reads the UNCHANGED served index, so
    * recomputing the delta after a crash yields the same rows.
    */
  def deleteFromBm25Index(ids: DataFrame, path: String,
      deleteId: Long): Boolean = {
    val p = protocol(path)
    p.delete(deleteId, Seq(s"stats/d$deleteId")) {
      val statsDir = s"${p.dir("stats")}/d$deleteId"
      // the tombstone stage and the stats delta are independent writes
      // (the delta reads the committed tombstones only): overlapped
      Par.runAll(
        () => p.stageTombstones(ids, "doc_id", deleteId),
        () => indexPostings(ids.sparkSession, path)
          .join(ids.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
          .agg((-count(lit(1))).as("n"),
            (-coalesce(sum(col("dl")), lit(0L))).cast("long").as("sum_dl"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(statsDir))
    }
  }

  /** The committed sub-roots under `<root>/<kind>`: every non-batch dir
    * (seed, compact) plus exactly the ledgered b-dirs and d-dirs —
    * orphan dirs from a crashed fold stay invisible until their replay
    * commits.
    */
  private def subRoots(path: String, kind: String): Seq[String] =
    protocol(path).committedDirs(kind)

  /** All committed postings minus committed tombstones: a union of
    * per-sub-root partitioned reads (`basePath` scopes partition
    * discovery per root, so a `bucket` filter pushes into EVERY
    * branch's PartitionFilters — the prune holds across seed + appended
    * batches alike). The tombstone anti-join sits above the union and
    * vanishes entirely when the index has no committed deletes.
    */
  private def indexPostings(s: SparkSession, path: String): DataFrame =
    protocol(path).readCommittedStripped(s, "postings", "doc_id")(r =>
      s.read.schema(PostingsSchema).option("basePath", r).parquet(r))

  /** [[indexPostings]] AS OF a ledger horizon (see
    * `FoldProtocol.readCommittedStrippedAsOf`): fold sub-roots and
    * tombstone batches above the horizon are invisible.
    */
  private def indexPostingsAsOf(s: SparkSession, path: String,
      asOf: Long): DataFrame =
    protocol(path).readCommittedStrippedAsOf(s, "postings", "doc_id",
      asOf)(r =>
      s.read.schema(PostingsSchema).option("basePath", r).parquet(r))

  /** Corpus stats merged across committed sub-roots (delete batches
    * contribute negative deltas): exact integer sums, divided once —
    * growing or shrinking the index cannot drift avgdl.
    */
  private def indexStats(s: SparkSession, path: String): DataFrame =
    statsOf(s, subRoots(path, "stats"))

  /** [[indexStats]] AS OF a ledger horizon: the same merged-delta
    * arithmetic over only the stats sides (seed, `b<id>` positive,
    * `d<id>` negative) whose ledger id is ≤ asOf — so N and avgdl are
    * exactly the horizon corpus's.
    */
  private def indexStatsAsOf(s: SparkSession, path: String,
      asOf: Long): DataFrame =
    statsOf(s, protocol(path).committedDirsAsOf("stats", asOf))

  private def statsOf(s: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(r => s.read.schema(StatsSchema).parquet(r))
      .reduce(_.union(_))
      .agg(sum(col("n")).cast("double").as("n"),
        // no live documents: NULL, as for an index built empty (whose
        // sum_dl is NULL), not a division by zero
        when(sum(col("n")) =!= 0,
          sum(col("sum_dl")).cast("double") / sum(col("n"))).as("avgdl"))

  /** The stats sides `dirs` re-summed to ONE `(n, sum_dl)` row — the
    * integer form compactions, vacuums and merges persist (absorbing
    * the deletes' negative rows; never through the avgdl double).
    */
  private def mergedStats(s: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(r => s.read.schema(StatsSchema).parquet(r))
      .reduce(_.union(_))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("sum_dl")).cast("long").as("sum_dl"))

  /** Compact the index: rewrite all committed sub-roots into ONE
    * `c<hw>/` dir per side (postings still bucket-partitioned, one
    * file per bucket; stats re-merged to one row), each published by a
    * manifest commit (`FoldProtocol.publishDir` — a resolved
    * generation stays readable for one further publish plus the
    * age-based grace bound; the dir name carries the compaction's fold
    * order so later deletes apply to it and stale post-crash
    * tombstones do not). Without it fold N's readers pay an O(N)
    * sub-root listing. The ledger is NOT touched: replayed batchIds
    * (and deleteIds) keep short-circuiting after their dirs are
    * compacted away. The two publishes are each atomic; between them
    * readers see compacted postings with uncompacted stats — both
    * sides cover the corpus exactly once, so served results are
    * identical in that window. The compaction input is the SERVED view
    * (tombstones stripped, negative stats deltas folded in), so the
    * publish doubles as the physical purge of deleted docs; the
    * tombstone dirs are dropped after it. Writer-lease-guarded.
    */
  def compactBm25Index(s: SparkSession, path: String): Unit = {
    val p = protocol(path)
    p.withLease("compact-bm25") {
      val cname = p.compactDirName()
      // both sides stage concurrently; the publishes stay on this
      // (lease-holding) thread
      Par.runAll(
        () => writePostings(indexPostings(s, path),
          s"$path/.postings.compacting/$cname"),
        () => mergedStats(s, subRoots(path, "stats"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/.stats.compacting/$cname"))
      p.publishDir(".postings.compacting", "postings")
      p.publishDir(".stats.compacting", "stats")
      p.clearTombstones()
    }
  }

  /** Floor-bounded retention for the BM25 index — the index-side twin
    * of `TimeTravel.vacuum`, completing the lifecycle the full
    * compaction cannot: [[compactBm25Index]] collapses EVERYTHING
    * (trading every as-of horizon for the reclaim), this collapses
    * only commits ≤ `floor` into one `c<floor>` per side, so horizons
    * ≥ floor keep serving exactly as before while the per-commit dirs
    * below — unbounded small-dir growth at a streaming-ingest cadence
    * — are reclaimed. Horizons < floor REFUSE via the standard
    * compaction honesty guard.
    *
    * Per side: postings `c<floor>` = the SERVED as-of-floor view
    * (tombstones ≤ floor stripped — the collapse doubles as their
    * physical purge), still bucket-partitioned so the static term
    * prune keeps pushing; stats `c<floor>` = one summed row over the
    * stats deltas ≤ floor (absorbing the deletes' negative rows).
    * Each side stages into a dot-dir and lands by ONE atomic rename —
    * the commit point, because the protocol's compaction-supersedes
    * rule hides the collapsed sources the instant the c-dir appears;
    * the purges after are reclamation. A crash between the two side
    * renames serves collapsed postings with uncollapsed stats — both
    * cover the corpus exactly once (the [[compactBm25Index]] window
    * argument). Replays skip present targets and finish the purges; a
    * fully-vacuumed floor is a committed no-op. Floor normalization
    * and the surviving-tombstone detachment guard are the shared
    * FoldProtocol preamble. Writer-lease-guarded.
    */
  def vacuumBm25Index(s: SparkSession, path: String,
      floorRequested: Long): Boolean = {
    val p = protocol(path)
    p.vacuumKinds(s, floorRequested, Seq(
      "postings" -> ((floor, staging) =>
        writePostings(indexPostingsAsOf(s, path, floor), staging)),
      "stats" -> ((floor, staging) =>
        mergedStats(s, p.committedDirsAsOf("stats", floor))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(staging))))
  }

  /** The BM25 index as the fixture layer sees it. */
  val Bm25Kind: IndexKind = IndexKind(protocol, Nil, Seq("postings", "stats"),
    write = writeBm25Index(_, _),
    fold = appendToBm25Index(_, _, _),
    delete = deleteFromBm25Index(_, _, _),
    vacuum = vacuumBm25Index(_, _, _),
    merge = mergeBm25Indexes(_, _, _, _))

  /** The two corpus waves every text-index lifecycle gate replays: the
    * history wave (doc_id % 5 ≠ 4) seeds, the remainder folds as
    * `foldId`.
    */
  private def docWaves(s: SparkSession, d: String,
      foldId: Long): Seq[Step] = {
    lazy val docs = Tables.documents(s, d)
    Seq(Seed(docs.filter(col("doc_id") % 5 =!= 4)),
      Fold(foldId, docs.filter(col("doc_id") % 5 === 4)))
  }

  /** The gates' takedown: doc_id % 7 = 3, victims in both waves. */
  private def docTakedown(s: SparkSession, d: String, deleteId: Long): Step =
    Delete(deleteId, Tables.documents(s, d)
      .filter(col("doc_id") % 7 === 3).select(col("doc_id")))

  /** Seed → fold → takedown at the given ledger ids. */
  private def docLifecycle(s: SparkSession, d: String, foldId: Long,
      deleteId: Long): Seq[Step] =
    docWaves(s, d, foldId) :+ docTakedown(s, d, deleteId)

  /** Two INDEPENDENT crawls of `docs` merged into one root: crawl A
    * (doc_id % 3 ≠ 2, the larger side) primary, crawl B secondary.
    */
  private def mergedCrawls(prefix: String, kind: IndexKind,
      docs: => DataFrame): Merge =
    Merge(
      Fixture(s"${prefix}_src_a", kind,
        Seq(Seed(docs.filter(col("doc_id") % 3 =!= 2)))),
      Fixture(s"${prefix}_src_b", kind,
        Seq(Seed(docs.filter(col("doc_id") % 3 === 2)))))

  /** Build-once cache keyed by the sf dir, same protocol as
    * `Similarity.ensureIvfIndex`: a complete index is reused, anything
    * partial is torn down and rebuilt.
    */
  def ensureBm25Index(s: SparkSession, d: String): String =
    Fixture("graft_bm25_index", Bm25Kind,
      Seq(Seed(Tables.documents(s, d)))).ensure(s, d)

  /** Merge two independently-built BM25 roots into ONE servable root —
    * the inverted-index half of the cross-root union
    * (`Similarity.mergeIvfIndexes` is the ANN half). The postings
    * layout makes this a pure INDEX-level merge with no re-tokenize
    * pass: `bucket = pmod(xxhash64(word), Buckets)` is a global
    * function of the word, so both roots already agree on every word's
    * bucket and the static bucket prune keeps pushing into every
    * branch of the merged union. The primary's committed
    * (tombstone-stripped) postings land as `seed/`, the secondary's as
    * ledgered fold `b0` with a `merged-from=` provenance line; the
    * mergeable `(n, sum_dl)` stats rows ride along per side and df
    * re-aggregates at serve time from the unioned postings themselves
    * — so over disjoint doc spaces the merged root serves EXACTLY what
    * a from-scratch build over the union corpus serves
    * (`text_bm25_merged` reuses `text_bm25`'s oracle verbatim).
    *
    * Cost: two partitioned copies, zero tokenization, zero joins; at
    * 100 TB an in-place variant folds the secondary's postings straight
    * into the primary root as its next b-dir and skips the seed copy.
    */
  def mergeBm25Indexes(s: SparkSession, primary: String,
      secondary: String, dest: String): Unit = {
    val p = protocol(dest)
    def copySide(src: String, sub: String): Unit = {
      writePostings(indexPostings(s, src), s"${p.dir("postings")}/$sub")
      mergedStats(s, subRoots(src, "stats"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"${p.dir("stats")}/$sub")
    }
    copySide(primary, "seed")
    copySide(secondary, "b0")
    p.commitStaged(Seq("postings/b0", "stats/b0"), "0", "merged-from=" +
      s"${new org.apache.hadoop.fs.Path(primary).getName}+" +
      new org.apache.hadoop.fs.Path(secondary).getName)
  }

  /** Build-if-absent the merged-index gate fixture: two INDEPENDENT
    * roots (crawl A = doc_id % 3 ≠ 2, crawl B = the rest), merged via
    * [[mergeBm25Indexes]] with A primary.
    */
  def ensureMergedBm25Index(s: SparkSession, d: String): String =
    Fixture("graft_bm25_merged", Bm25Kind, Seq(
      mergedCrawls("graft_bm25", Bm25Kind, Tables.documents(s, d))))
      .ensure(s, d)

  /** Build-if-absent the merged×time-travel gate fixture — the
    * composition `text_bm25_merged` and `text_bm25_asof` each prove
    * alone: two independent crawls of the HISTORY wave (doc_id % 5 ≠ 4
    * split % 3) merged (seed + `merged-from=` fold b0), then the
    * lifecycle continues ON the merged root — the late wave folds as
    * b1 and a takedown tombstones d2 — so horizons STRADDLE the merge:
    * 0 = just-merged (history union), 1 = + late wave, 2 = post-
    * takedown.
    */
  def ensureMergedAsOfBm25Index(s: SparkSession, d: String): String =
    Fixture("graft_bm25_merged_asof", Bm25Kind,
      mergedCrawls("graft_bm25_ma", Bm25Kind, Tables.documents(s, d)
        .filter(col("doc_id") % 5 =!= 4)) +: docLifecycle(s, d, 1L, 2L).tail)
      .ensure(s, d)

  /** The grown-index gate: seed from the history wave (doc_id % 5 ≠ 4),
    * fold the remainder as one ledgered append, serve — result must be
    * IDENTICAL to scoring the whole corpus, so the fold itself sits
    * under `text_bm25`'s value-level oracle.
    */
  def ensureGrownBm25Index(s: SparkSession, d: String): String =
    Fixture("graft_bm25_grown", Bm25Kind, docWaves(s, d, 0L)).ensure(s, d)

  /** Build-if-absent the full-lifecycle gate fixture: seed from the
    * history wave (doc_id % 5 ≠ 4), fold the remainder as a ledgered
    * append (batch 0), then tombstone doc_id % 7 = 3 as a ledgered
    * delete (batch 1) whose victims span BOTH waves — the
    * seed-append-takedown sequence a production index lives through.
    */
  def ensureEvolvedBm25Index(s: SparkSession, d: String): String =
    Fixture("graft_bm25_evolved", Bm25Kind, docLifecycle(s, d, 0L, 1L))
      .ensure(s, d)

  /** Build-if-absent the AS-OF gate fixture — `Similarity
    * .ensureAsOfIvfIndex`'s contract on the inverted index: ledger ids
    * at DISTINCT dir orders (seed 0, fold `b1`, delete `d2`) so every
    * id is a distinguishable snapshot horizon, including the stats
    * side's `d2` negative delta.
    */
  def ensureAsOfBm25Index(s: SparkSession, d: String): String =
    Fixture("graft_bm25_asof", Bm25Kind, docLifecycle(s, d, 1L, 2L))
      .ensure(s, d)

  /** Build-if-absent the VACUUMED-index gate fixture: the as-of
    * lifecycle (seed = history wave, fold b1 = late wave, takedown d2)
    * then [[vacuumBm25Index]] at floor 1 — the seed collapses into c1,
    * horizon 0 is reclaimed, horizons 1 and 2 must keep serving
    * hash-equal to the unvacuumed construction (same oracle as
    * text_bm25_asof's surviving branches).
    */
  def ensureVacuumedBm25Index(s: SparkSession, d: String): String =
    Fixture("graft_bm25_vacuum", Bm25Kind,
      docLifecycle(s, d, 1L, 2L) :+ Vacuum(1L)).ensure(s, d)

  /** BM25 served from the persisted index. The query terms' buckets are
    * computed driver-side with the SAME xxhash64 the build used (a
    * |terms|-row local relation — bounded by the literal term list, the
    * same class as indexTopK's probe-cell collect), which turns the
    * bucket prune into a STATIC PartitionFilter on every committed
    * sub-root's scan: each lists ≤ |terms| of the `Buckets` directories
    * (plan-pinned in RetrievalSpec) and the raw corpus is never
    * touched.
    */
  def bm25TopK(s: SparkSession, indexPath: String,
      terms: Seq[String] = QueryTerms,
      asOf: Option[Long] = None): DataFrame =
    scorePostings(queryPostings(s, indexPath, terms, asOf),
      asOf.fold(indexStats(s, indexPath))(
        indexStatsAsOf(s, indexPath, _)))

  /** The query terms' full posting set off the pruned index read —
    * shared by the unfiltered, filtered and as-of serves.
    */
  private def queryPostings(s: SparkSession, indexPath: String,
      terms: Seq[String], asOf: Option[Long] = None): DataFrame = {
    // constant term set → buckets computed driver-side (LocalHash),
    // not via a toDF/distinct/collect job per serve
    val buckets = graft.functions.LocalHash.bucketsOf(terms, Buckets)
    asOf.fold(indexPostings(s, indexPath))(
        indexPostingsAsOf(s, indexPath, _))
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("word").isInCollection(terms))
      .select(col("word"), col("doc_id"), col("tf"), col("dl"))
  }

  /** Boolean retrieval fixture: (query_id, must, should, must_not) —
    * interpolated verbatim into the oracle (the literal-parity
    * convention). Roles are disjoint within a query and every must set
    * is non-empty (a pure-should query is ranked retrieval, which BM25
    * already serves).
    */
  val BoolQueries: Seq[(Long, Seq[String], Seq[String], Seq[String])] = Seq(
    (1L, Seq("query", "scan"), Seq("join", "hash"), Seq("dup")),
    (2L, Seq("join"), Seq("sort", "merge", "table"), Seq.empty),
    (3L, Seq("customer", "vector"), Seq.empty, Seq("slow")))

  /** Boolean (must / should / must-not) retrieval from the persisted
    * inverted index — the query class BM25's ranked serve cannot
    * express (hard conjunction and negation): a doc matches iff it
    * contains EVERY must term and NO must-not term; matches rank by how
    * many should terms they contain (doc_id tie-break), top 10 per
    * query. All queries evaluate in ONE distributed job: the batch's
    * term set prunes index buckets once, postings collapse to distinct
    * (word, doc) pairs, the (query, term, role) frame is a ≤
    * Σ|terms|-row literal joined on word, and match/negate/rank are one
    * doc-keyed aggregate + one query-partitioned window — the text is
    * never re-scanned.
    */
  def booleanSearch(s: SparkSession, indexPath: String,
      queries: Seq[(Long, Seq[String], Seq[String], Seq[String])] =
        BoolQueries,
      asOf: Option[Long] = None): DataFrame = {
    import s.implicits._
    val qRows = queries.flatMap { case (qid, must, should, not) =>
      must.map((qid, _, "must")) ++ should.map((qid, _, "should")) ++
        not.map((qid, _, "not"))
    }
    val qdf = qRows.toDF("query_id", "word", "role")
    val req = queries.map { case (qid, must, _, _) => (qid, must.size.toLong) }
      .toDF("query_id", "n_req")
    val posts = queryPostings(s, indexPath, qRows.map(_._2).distinct, asOf)
      .select(col("word"), col("doc_id")).distinct()
    val hits = posts.join(qdf, Seq("word"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        count(when(col("role") === "must", 1)).as("n_must"),
        count(when(col("role") === "should", 1)).as("n_should"),
        count(when(col("role") === "not", 1)).as("n_not"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("n_should").desc, col("doc_id"))
    hits.join(broadcast(req), Seq("query_id"))
      .filter(col("n_must") === col("n_req") && col("n_not") === 0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("n_should"), col("rank"))
  }

  /** The boolean-retrieval oracle, generated from [[BoolQueries]] so the
    * fixture cannot drift between engines: recomputes must/should/not
    * coverage from RAW text (distinct words per doc), making the gate an
    * end-to-end certificate of the index serve.
    */
  private def boolOracleSql: String = boolOracleSqlOver("TRUE")

  /** The boolean oracle restricted to a doc predicate — `TRUE` for the
    * direct gate, the three horizon slices for `text_boolean_asof`.
    */
  private def boolOracleSqlOver(docsWhere: String): String = {
    val qVals = BoolQueries.flatMap { case (qid, m, sh, nt) =>
      m.map(w => s"($qid, '$w', 'must')") ++
        sh.map(w => s"($qid, '$w', 'should')") ++
        nt.map(w => s"($qid, '$w', 'not')")
    }.mkString(", ")
    val reqVals = BoolQueries
      .map { case (qid, m, _, _) => s"($qid, ${m.size})" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id,
       |    unnest(list_distinct(string_split(text, ' '))) AS word
       |  FROM documents WHERE $docsWhere),
       |q(query_id, word, role) AS (SELECT * FROM (VALUES $qVals)),
       |req(query_id, n_req) AS (SELECT * FROM (VALUES $reqVals)),
       |a AS (SELECT q.query_id, t.doc_id,
       |    count(CASE WHEN q.role = 'must' THEN 1 END) AS n_must,
       |    count(CASE WHEN q.role = 'should' THEN 1 END) AS n_should,
       |    count(CASE WHEN q.role = 'not' THEN 1 END) AS n_not
       |  FROM t JOIN q USING (word) GROUP BY 1, 2),
       |r AS (SELECT a.query_id, a.doc_id, a.n_should,
       |    row_number() OVER (PARTITION BY a.query_id
       |                       ORDER BY a.n_should DESC, a.doc_id) AS rank
       |  FROM a JOIN req USING (query_id)
       |  WHERE a.n_must = req.n_req AND a.n_not = 0)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_should,
       |  rank
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** BM25 restricted to an allowed doc set — the production "search
    * within a tenant/language/license slice" shape, from the persisted
    * index: the bucket prune and term filter run first (the only
    * corpus-scale reads, unchanged), df comes off the UNFILTERED
    * query-term postings (global scores — the predicate restricts
    * CANDIDATES, it does not redefine the corpus), and the allowed set
    * lands as a posting-side semi-join after the prune, so the
    * restriction costs one join on a |terms|-bounded frame, never a
    * second index pass. `allowed` is a `(doc_id)` frame — in
    * production a metadata-table sidecar scan with the predicate
    * pushed down.
    */
  def bm25TopKFiltered(s: SparkSession, indexPath: String,
      allowed: DataFrame,
      terms: Seq[String] = QueryTerms): DataFrame = {
    val postings = queryPostings(s, indexPath, terms)
    scoreWithDf(
      postings.join(allowed.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"),
      postings.groupBy(col("word"))
        .agg(count(lit(1)).cast("double").as("df")),
      indexStats(s, indexPath))
  }

  /** MANY queries against the index in one distributed job — the
    * serving core of `text_bm25_multi` and
    * `streaming.StreamingRetrieval`'s per-micro-batch search. `queries`
    * is `(query_id, terms: array<string>)`; output is
    * `(query_id, doc_id, rank)`, rank cut per query on the ROUNDED
    * score with doc_id tie-break (the `top_k` comparator contract).
    *
    * Plan shape: the batch's distinct `(query_id, word)` pairs are
    * collected once (bounded by the query batch — a gate query set or
    * one micro-batch, the indexTopK probe class) and so is the merged
    * `(n, avgdl)` stats row. On the driver the pairs give the bucket
    * set ([[graft.functions.LocalHash]], the hash the build used) — a
    * static PartitionFilter — and the word list, an `isInCollection`
    * filter applied to the postings BEFORE df, so a word shared by many
    * queries counts its documents once; the stats ride as typed
    * literals (NULL for an index with no live documents, as the
    * aggregate gives). The per-query fan-out join against the pairs,
    * a local relation, comes AFTER the df aggregate; per-query ranking
    * is the bounded-state `top_k` aggregate (k-pair buffers merge
    * map-side — no window over the scored set).
    */
  def bm25Batch(s: SparkSession, indexPath: String, queries: DataFrame,
      k: Int = TopK): DataFrame = {
    val exploded = queries
      .select(col("query_id"), explode(col("terms")).as("word"))
    val pairs = exploded.collect().distinct
    // a NULL term matches no posting (the join below is on word)
    val words = pairs.flatMap(r => Option(r.getString(1))).distinct.sorted
      .toSeq
    val qterms = s.createDataFrame(java.util.Arrays.asList(pairs: _*),
      exploded.schema)
    val stats = indexStats(s, indexPath).head()
    def stat(i: Int): Column =
      if (stats.isNullAt(i)) lit(null).cast("double") else lit(stats.getDouble(i))
    val qPostings = indexPostings(s, indexPath)
      .filter(col("bucket").isin(
        graft.functions.LocalHash.bucketsOf(words, Buckets): _*))
      .filter(col("word").isInCollection(words))
      .select(col("word"), col("doc_id"), col("tf"), col("dl"))
    val df_ = qPostings.groupBy(col("word"))
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = qPostings.join(df_, Seq("word"))
      .select(col("*"), stat(0).as("n"), stat(1).as("avgdl"))
      .join(qterms, Seq("word"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(idf * tfNorm), 4).as("score"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k(
        col("score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sc")))
      .select(col("query_id"), col("sc.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Shared oracle: both serving paths are result-identical by
    * contract, so both gate against this SQL. Arithmetic mirrors the
    * Spark expression shape term-for-term (same literal constants, same
    * association) so the 4-decimal rounding is stable across engines;
    * the ORDER BY cuts on the ROUNDED score with doc_id tie-break.
    */
  private def bm25OracleSqlOver(docsWhere: String): String = {
    val termList = QueryTerms.map("'" + _ + "'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents WHERE $docsWhere),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |              avg(len(ws)) AS avgdl FROM d),
       |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
       |tf AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
       |       WHERE word IN ($termList) GROUP BY word, doc_id, dl),
       |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
       |       FROM tf GROUP BY word),
       |sc AS (SELECT tf.doc_id,
       |         sum(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |             * (tf.tf * CAST(2.2 AS DOUBLE)
       |                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))))
       |           AS score
       |       FROM tf JOIN df USING (word), st
       |       GROUP BY tf.doc_id)
       |SELECT doc_id, round(score, 4) AS score FROM sc
       |ORDER BY round(score, 4) DESC, doc_id LIMIT $TopK""".stripMargin
  }

  private val bm25OracleSql: String = bm25OracleSqlOver("TRUE")

  /** Build-if-absent the DELETED-index gate fixture: the full corpus
    * seeded, then one committed delete batch (doc_id % 7 = 3)
    * tombstoned through [[deleteFromBm25Index]].
    */
  def ensureDeletedBm25Index(s: SparkSession, d: String): String =
    Fixture("graft_bm25_del", Bm25Kind,
      Seq(Seed(Tables.documents(s, d)), docTakedown(s, d, 0L))).ensure(s, d)

  // ---- positional phrase index (next-word postings) ----
  //   <root>/postings/<sub>/ — (bg, doc_id, pos) partitioned by
  //                      `bucket=pmod(xxhash64(bg), Buckets)`: one row
  //                      per OCCURRENCE of each ADJACENT word pair,
  //                      `pos` the pair's 0-based anchor in the
  //                      document. The next-word index is what makes
  //                      exact-phrase and proximity queries servable
  //                      without re-scanning text: a phrase of L words
  //                      decomposes into L-1 pair lookups, each a
  //                      bucket-pruned point read, and occurrences fall
  //                      out of position arithmetic — no substring scan
  //                      over 100 TB of bodies. Postings cost one row
  //                      per token (vs one per (term, doc) for BM25's),
  //                      the standard positional-index trade.
  // The root speaks the SAME FoldProtocol dialect as the BM25 index
  // (seed/b/c/d sub-roots, `_postings_ledger`, doc_id tombstones), so
  // ledgered folds, takedowns and compaction compose identically; the
  // gate exercises the seed build.

  /** A postings-only bucketed text index: `<root>/postings/<sub>/`
    * rows of `schema`, partitioned by `bucket=pmod(xxhash64(key),
    * Buckets)`. The positional phrase, character-trigram and
    * word-positional (NEAR) indexes are three values of this one
    * implementation; they differ only in the `postings` function, the
    * key column, the read schema and the compaction's lease tag. The
    * root speaks the BM25 FoldProtocol dialect minus the stats side:
    * the serves need no corpus statistics, so a fold stages exactly
    * one guarded dir and a delete is tombstones only.
    */
  final class PostingsIndex private[Retrieval] (key: String, schema: String,
      leaseTag: String, postings: DataFrame => DataFrame) {

    private def writeSub(docs: DataFrame, path: String, sub: String): Unit =
      writePostings(postings(docs)
        .withColumn("bucket", pmod(xxhash64(col(key)), lit(Buckets))),
        s"${protocol(path).dir("postings")}/$sub")

    /** Build a fresh index at `path` (seed sub-root, same write-fan-out
      * discipline as [[writeBm25Index]]).
      */
    def write(docs: DataFrame, path: String): Unit =
      writeSub(docs, path, "seed")

    /** Ledgered append, exactly once under replay — the BM25 fold
      * contract on the postings alone.
      */
    def appendTo(docs: DataFrame, path: String, batchId: Long): Boolean =
      protocol(path).fold(batchId, Seq("postings")) {
        writeSub(docs, path, s"b$batchId")
      }

    /** Ledgered document takedown — tombstones only (the postings
      * anti-join them at serve time), O(|ids|): nothing is rewritten
      * until compaction.
      */
    def deleteFrom(ids: DataFrame, path: String, deleteId: Long): Boolean = {
      val p = protocol(path)
      p.delete(deleteId) { p.stageTombstones(ids, "doc_id", deleteId) }
    }

    /** All committed postings minus committed tombstones, optionally AS
      * OF a ledger horizon (list-time dir/tombstone scoping) — the
      * same basePath-scoped per-sub-root partitioned reads as
      * [[indexPostings]], so a `bucket` filter pushes into every union
      * branch.
      */
    def read(s: SparkSession, path: String,
        asOf: Option[Long] = None): DataFrame = {
      def scan(r: String) =
        s.read.schema(schema).option("basePath", r).parquet(r)
      asOf.fold(
        protocol(path).readCommittedStripped(s, "postings", "doc_id")(scan))(
        h => protocol(path).readCommittedStrippedAsOf(s, "postings",
          "doc_id", h)(scan))
    }

    /** Compact: every committed posting (tombstones already anti-joined
      * away) rewritten as ONE `c<hw>` dir; sub-roots and tombstones
      * retire through the same publish-and-clear as
      * [[compactBm25Index]]. Serve-identical by construction — the
      * reader sees either the old union or the new single root.
      */
    def compact(s: SparkSession, path: String): Unit = {
      val p = protocol(path)
      p.withLease(leaseTag) {
        writePostings(read(s, path),
          s"$path/.postings.compacting/${p.compactDirName()}")
        p.publishDir(".postings.compacting", "postings")
        p.clearTombstones()
      }
    }

    /** Floor-bounded retention — the shared
      * [[graft.index.FoldProtocol.vacuumKinds]] kernel: one collapsed
      * bucket-partitioned `c<floor>` holding the served as-of view,
      * sources and absorbed tombstones reclaimed, horizons below the
      * floor refusing.
      */
    def vacuum(s: SparkSession, path: String, floorRequested: Long): Boolean =
      protocol(path).vacuumKinds(s, floorRequested, Seq(
        "postings" -> ((floor, staging) =>
          writePostings(read(s, path, Some(floor)), staging))))

    /** Cross-root union of two roots of this index: bucket is a global
      * function of the posting key, so the merge is two partitioned
      * copies — primary's committed (tombstone-stripped) postings as
      * `seed/`, secondary's as ledgered fold `b0` with a `merged-from=`
      * provenance line — and the bucket prune pushes into both
      * branches unchanged. Disjoint doc spaces ⇒ serve ≡ a
      * from-scratch union build.
      */
    def merge(s: SparkSession, primary: String, secondary: String,
        dest: String): Unit = {
      val p = protocol(dest)
      writePostings(read(s, primary), s"${p.dir("postings")}/seed")
      writePostings(read(s, secondary), s"${p.dir("postings")}/b0")
      p.commitStaged(Seq("postings/b0"), "0", "merged-from=" +
        s"${new org.apache.hadoop.fs.Path(primary).getName}+" +
        new org.apache.hadoop.fs.Path(secondary).getName)
    }

    /** This index as the fixture layer sees it. */
    val kind: IndexKind = IndexKind(protocol, Nil, Seq("postings"),
      write = write(_, _),
      fold = appendTo(_, _, _),
      delete = deleteFrom(_, _, _),
      vacuum = vacuum(_, _, _),
      merge = merge(_, _, _, _))
  }

  /** Adjacent word pairs of each document with their 0-based anchor
    * position — pure in-row work (one tokenize scan, an array
    * transform, one explode); no shuffle until the partitioned write
    * clusters by bucket.
    */
  private def bigramPostings(docs: DataFrame): DataFrame =
    Par.fanOut(docs)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(slice(ws, 1, size(ws) - 1)," +
          " (x, i) -> concat(x, ' ', element_at(ws, i + 2)))"))
        .as(Seq("pos", "bg")))

  /** The positional phrase (next-word) index. */
  val Phrase = new PostingsIndex("bg",
    "bg STRING, doc_id BIGINT, pos INT, bucket BIGINT", "compact-phrase",
    bigramPostings)

  /** Build-if-absent gate fixture (stage-and-publish, like every
    * warehouse fixture).
    */
  def ensurePhraseIndex(s: SparkSession, d: String): String =
    Fixture("graft_phrase_index", Phrase.kind,
      Seq(Seed(Tables.documents(s, d)))).ensure(s, d)

  /** The gate's probe phrase — present at every shipped scale. */
  val ProbePhrase = "hash join key"

  /** Exact phrase search from the persisted positional index: the
    * phrase's adjacent pairs map to ≤ L-1 buckets (computed driver-side
    * with the build's own hash — a static PartitionFilter), each pair
    * posting shifts back by its offset in the phrase, and a document
    * position where ALL offsets land is one occurrence. Output is the
    * top-k documents by occurrence count (doc_id tie-break) with the
    * first match position. The offsets frame is literal-sized (L-1
    * rows) ⇒ broadcast; the anchor aggregate is keyed by (doc_id, pos)
    * so per-key state is the distinct-offset set, bounded by L.
    */
  def phraseTopK(s: SparkSession, indexPath: String, phrase: String,
      k: Int = TopK, asOf: Option[Long] = None): DataFrame = {
    import s.implicits._
    val ws = phrase.trim.split(" ").toSeq
    require(ws.length >= 2, "phrase search needs at least two words")
    val pairs = ws.sliding(2).map(_.mkString(" ")).toVector
    val offsets = pairs.zipWithIndex
    val buckets = graft.functions.LocalHash.bucketsOf(pairs.distinct, Buckets)
    val posts = Phrase.read(s, indexPath, asOf)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("bg").isInCollection(pairs.distinct))
    posts.join(broadcast(offsets.toDF("bg", "off")), Seq("bg"))
      .groupBy(col("doc_id"), (col("pos") - col("off")).as("anchor"))
      .agg(count_distinct(col("off")).as("nparts"))
      .filter(col("nparts") === lit(pairs.length.toLong))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("anchor")).cast("long").as("first_pos"))
      .orderBy(col("n_hits").desc, col("doc_id"))
      .limit(k)
  }

  // The oracle decomposes the phrase into WORDS at offsets where the
  // serve decomposes into adjacent PAIRS at offsets — equivalent for a
  // contiguous phrase (pair (i, i+1) matching at anchor a ⇔ word i and
  // word i+1 matching at a; the conjunction over all offsets is the
  // same condition), and the word form is what DuckDB can state without
  // re-deriving the pair transform.
  private def phraseOracleSqlOver(docsWhere: String): String = {
    val values = ProbePhrase.split(" ").zipWithIndex
      .map { case (w, i) => s"('$w', $i)" }.mkString(", ")
    val n = ProbePhrase.split(" ").length
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |      FROM documents WHERE $docsWhere),
       |t AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word
       |      FROM w, unnest(range(1, len(ws) + 1)) u(i)),
       |q AS (SELECT * FROM (VALUES $values) v(word, off)),
       |a AS (SELECT t.doc_id, t.pos - q.off AS anchor
       |      FROM t JOIN q USING (word)
       |      GROUP BY t.doc_id, t.pos - q.off
       |      HAVING count(DISTINCT q.off) = $n)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |  CAST(min(anchor) AS BIGINT) AS first_pos
       |FROM a GROUP BY doc_id ORDER BY n_hits DESC, doc_id LIMIT $TopK""".stripMargin
  }

  private val phraseOracleSql: String = phraseOracleSqlOver("1 = 1")

  /** The multi-phrase gate's literal query table — shared verbatim
    * with the oracle's VALUES list: the 3-word probe, a common 2-word
    * phrase, and the degenerate self-pair.
    */
  val PhraseQueries: Seq[(Long, String)] = Seq(
    0L -> ProbePhrase, 1L -> "table scan", 2L -> "a a")

  /** MANY phrases against the positional index in one distributed job
    * — the phrase twin of [[bm25Batch]]: the batch's pair set prunes
    * buckets once (one static PartitionFilter for the whole batch),
    * postings semi-join the batch's pairs BEFORE the per-query fan-out
    * join, anchors aggregate per (query, doc, anchor) with ≤ L
    * distinct-offset state, and per-query ranking is the bounded-state
    * `top_k` aggregate on the integer-exact occurrence count — no
    * window, no per-phrase driver loop. `queries` is
    * `(query_id, phrase)`; output `(query_id, doc_id, rank)`.
    */
  def phraseBatch(s: SparkSession, indexPath: String, queries: DataFrame,
      k: Int = TopK): DataFrame = {
    val qpairs = queries
      .select(col("query_id"), split(col("phrase"), " ").as("ws"))
      .select(col("query_id"), (size(col("ws")) - 1).as("np"),
        posexplode(expr(
          "transform(slice(ws, 1, size(ws) - 1)," +
            " (x, i) -> concat(x, ' ', element_at(ws, i + 2)))"))
          .as(Seq("off", "bg")))
    val pairSet = qpairs.select(col("bg")).distinct()
    val buckets = pairSet
      .select(pmod(xxhash64(col("bg")), lit(Buckets)).as("bucket"))
      .distinct().collect().map(_.getLong(0)).sorted
    val posts = Phrase.read(s, indexPath)
      .filter(col("bucket").isin(buckets: _*))
      .join(pairSet, Seq("bg"), "left_semi")
      .select(col("bg"), col("doc_id"), col("pos"))
    posts.join(qpairs, Seq("bg"))
      .groupBy(col("query_id"), col("doc_id"),
        (col("pos") - col("off")).as("anchor"))
      .agg(count_distinct(col("off")).as("nf"), first(col("np")).as("np"))
      .filter(col("nf") === col("np"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("double").as("n_hits"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k(
        col("n_hits"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sc")))
      .select(col("query_id"), col("sc.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  // The multi oracle counts WORDS per query (qn.n = L) where the serve
  // counts PAIRS (np = L-1) — each side checks its own full-offset-set
  // condition, which is the same phrase-at-anchor predicate (see the
  // word/pair equivalence note above phraseOracleSqlOver).
  private val phraseMultiOracleSql: String = {
    val values = PhraseQueries.flatMap { case (id, ph) =>
      ph.split(" ").zipWithIndex.map { case (w, i) => s"($id, '$w', $i)" }
    }.mkString(", ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |t AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word
       |      FROM w, unnest(range(1, len(ws) + 1)) u(i)),
       |q AS (SELECT * FROM (VALUES $values) v(query_id, word, off)),
       |qn AS (SELECT query_id, count(*) AS n FROM q GROUP BY query_id),
       |a AS (SELECT q.query_id, t.doc_id, t.pos - q.off AS anchor
       |      FROM t JOIN q USING (word) JOIN qn ON qn.query_id = q.query_id
       |      GROUP BY q.query_id, t.doc_id, t.pos - q.off, qn.n
       |      HAVING count(DISTINCT q.off) = qn.n),
       |h AS (SELECT query_id, doc_id, count(*) AS n_hits
       |      FROM a GROUP BY query_id, doc_id),
       |r AS (SELECT query_id, doc_id,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY n_hits DESC, doc_id) AS rank
       |      FROM h)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank
       |FROM r WHERE rank <= $TopK""".stripMargin
  }

  /** Build-if-absent the phrase-index LIFECYCLE gate fixture: seed
    * from the history wave (doc_id % 5 ≠ 4), fold the remainder as a
    * ledgered append (batch 0), tombstone doc_id % 7 = 3 as a ledgered
    * delete (batch 1) with victims in BOTH waves.
    */
  def ensureEvolvedPhraseIndex(s: SparkSession, d: String): String =
    Fixture("graft_phrase_evolved", Phrase.kind, docLifecycle(s, d, 0L, 1L))
      .ensure(s, d)

  /** Build-if-absent the phrase AS-OF gate fixture — the
    * [[ensureAsOfBm25Index]] lifecycle on the next-word index: seed
    * the history wave (dir order 0), fold the remainder as `b1`,
    * tombstone doc_id % 7 = 3 as `d2` — distinct ledger ids per dir
    * order so every horizon is a distinguishable snapshot.
    */
  def ensureAsOfPhraseIndex(s: SparkSession, d: String): String =
    Fixture("graft_phrase_asof", Phrase.kind, docLifecycle(s, d, 1L, 2L))
      .ensure(s, d)

  // ---- character-trigram substring (grep) index ----
  //   <root>/postings/<sub>/ — (tg, doc_id) DISTINCT rows partitioned
  //                      by `bucket=pmod(xxhash64(tg), Buckets)`: one
  //                      row per distinct character 3-gram per
  //                      document. Trigram postings answer SUBSTRING
  //                      queries (grep at corpus scale — contamination
  //                      needles, PII probes, code-snippet search) the
  //                      way pg_trgm / Google Code Search do: a needle
  //                      of length n decomposes into n-2 overlapping
  //                      trigrams, every containing document holds ALL
  //                      of them, so candidates = the bucket-pruned
  //                      intersection, and a point verify on the
  //                      candidates' raw text removes the
  //                      non-contiguous false positives. 100-TB shape:
  //                      the text column is scanned ONCE at build time;
  //                      a query reads ≤ n-2 of the `Buckets` posting
  //                      directories plus the candidate docs' rows —
  //                      never the corpus.
  // The root speaks the same FoldProtocol dialect as the BM25/phrase
  // indexes (seed/b/c/d sub-roots, `_postings_ledger`, doc_id
  // tombstones), so ledgered folds, takedowns and compaction compose
  // identically; `text_substring_evolved` value-gates the lifecycle.

  /** Distinct character trigrams of each document — in-row work (the
    * lambda captures only the raw `text` ATTRIBUTE, so unlike the
    * computed-capture pitfall documented at `Dedup.kgrams` nothing is
    * re-evaluated per element); no shuffle until the partitioned write
    * clusters by bucket. Documents shorter than 3 chars yield no rows
    * (the `when` guard keeps `sequence` ascending).
    */
  private def trigramPostings(docs: DataFrame): DataFrame =
    Par.fanOut(docs)
      .select(col("doc_id"), explode(when(length(col("text")) >= 3,
        array_distinct(transform(
          sequence(lit(1), length(col("text")) - lit(2)),
          i => col("text").substr(i, lit(3)))))
        .otherwise(typedLit(Seq.empty[String]))).as("tg"))

  /** The character-trigram substring index. */
  val Trigram = new PostingsIndex("tg",
    "tg STRING, doc_id BIGINT, bucket BIGINT", "compact-trgm",
    trigramPostings)

  /** Build-if-absent gate fixture (stage-and-publish). */
  def ensureSubstringIndex(s: SparkSession, d: String): String =
    Fixture("graft_trgm_index", Trigram.kind,
      Seq(Seed(Tables.documents(s, d)))).ensure(s, d)

  /** Lifecycle fixture: seed the history wave, fold the remainder
    * (batch 0), tombstone doc_id % 7 = 3 (batch 1) — victims span both
    * waves.
    */
  def ensureEvolvedSubstringIndex(s: SparkSession, d: String): String =
    Fixture("graft_trgm_evolved", Trigram.kind, docLifecycle(s, d, 0L, 1L))
      .ensure(s, d)

  /** Build-if-absent a merged two-crawl fixture for a postings-only
    * kind: crawl A = doc_id % 3 ≠ 2 primary, crawl B = the rest, each
    * built independently then merged.
    */
  private def ensureMergedPostingsIndex(s: SparkSession, d: String,
      prefix: String, index: PostingsIndex): String =
    Fixture(s"${prefix}_merged", index.kind, Seq(
      mergedCrawls(prefix, index.kind, Tables.documents(s, d))))
      .ensure(s, d)

  def ensureMergedPhraseIndex(s: SparkSession, d: String): String =
    ensureMergedPostingsIndex(s, d, "graft_phrase", Phrase)

  def ensureMergedNearIndex(s: SparkSession, d: String): String =
    ensureMergedPostingsIndex(s, d, "graft_near", Near)

  /** Build-if-absent the merged-trigram gate fixture (crawl A =
    * doc_id % 3 ≠ 2 primary, crawl B = the rest).
    */
  def ensureMergedSubstringIndex(s: SparkSession, d: String): String =
    ensureMergedPostingsIndex(s, d, "graft_trgm", Trigram)

  /** Build-if-absent the VACUUMED trigram gate fixture: the as-of
    * ledger layout (seed / b1 / d2) vacuumed at floor 1.
    */
  def ensureVacuumedSubstringIndex(s: SparkSession, d: String): String =
    Fixture("graft_trgm_vacuum", Trigram.kind,
      docLifecycle(s, d, 1L, 2L) :+ Vacuum(1L)).ensure(s, d)

  /** Build-if-absent the trigram AS-OF gate fixture (seed / `b1` /
    * `d2` — the [[ensureAsOfPhraseIndex]] ledger layout).
    */
  def ensureAsOfSubstringIndex(s: SparkSession, d: String): String =
    Fixture("graft_trgm_asof", Trigram.kind, docLifecycle(s, d, 1L, 2L))
      .ensure(s, d)

  // ---- word-positional (unigram) index — proximity / NEAR queries ----
  //   <root>/postings/<sub>/ — (word, doc_id, pos) rows partitioned by
  //                      `bucket=pmod(xxhash64(word), Buckets)`: one row
  //                      per TOKEN with its 0-based position — the
  //                      Lucene-positions structure. Where the
  //                      next-word index answers ADJACENCY (exact
  //                      phrase), this one answers PROXIMITY: "all of
  //                      these words within a W-word window" (NEAR),
  //                      the query class neither the bag-of-words nor
  //                      the pair index can express. A NEAR query of L
  //                      words serves as L bucket-pruned point
  //                      lookups; the L-leg doc_id join is
  //                      window-BOUNDED (every intermediate row set is
  //                      span-filtered, so per-position fan-out is
  //                      ≤ (2W-1)^(L-1), a query constant — the
  //                      join-based analog of Lucene's doc-at-a-time
  //                      position merge). Same FoldProtocol dialect as
  //                      every other postings index.

  /** One row per token with its position — pure in-row work. */
  private def wordPositions(docs: DataFrame): DataFrame =
    Par.fanOut(docs)
      .select(col("doc_id"),
        posexplode(words(col("text"))).as(Seq("pos", "word")))

  /** The word-positional (NEAR) index. */
  val Near = new PostingsIndex("word",
    "word STRING, doc_id BIGINT, pos INT, bucket BIGINT", "compact-near",
    wordPositions)

  /** Build-if-absent gate fixture (stage-and-publish). */
  def ensureNearIndex(s: SparkSession, d: String): String =
    Fixture("graft_near_index", Near.kind,
      Seq(Seed(Tables.documents(s, d)))).ensure(s, d)

  /** Lifecycle fixture: seed, ledgered fold, ledgered takedown. */
  def ensureEvolvedNearIndex(s: SparkSession, d: String): String =
    Fixture("graft_near_evolved", Near.kind, docLifecycle(s, d, 0L, 1L))
      .ensure(s, d)

  /** Build-if-absent the word-positional AS-OF gate fixture (seed /
    * `b1` / `d2` — the [[ensureAsOfPhraseIndex]] ledger layout).
    */
  def ensureAsOfNearIndex(s: SparkSession, d: String): String =
    Fixture("graft_near_asof", Near.kind, docLifecycle(s, d, 1L, 2L))
      .ensure(s, d)

  /** The gate's probe NEAR query: three words that co-occur both as
    * the probe phrase and scattered, inside an 8-word window.
    */
  val NearWords: Seq[String] = Seq("hash", "join", "key")
  val NearWindow = 8

  /** Proximity (NEAR) search: documents where every query word occurs
    * inside a `window`-word span. The L legs are bucket-pruned point
    * lookups on the word-positional index; they join on doc_id with
    * the span bound re-applied after EVERY leg, so intermediate
    * fan-out per position is capped by the window (a query constant),
    * never by document length. Output per matching doc: the minimal
    * covering span (`best_span` = max-min position over the best
    * window, ≤ window-1) and the qualifying position-combination
    * count — both integer-exact across engines.
    */
  def nearSearch(s: SparkSession, indexPath: String, wordsQ: Seq[String],
      window: Int, asOf: Option[Long] = None): DataFrame = {
    import s.implicits._
    require(wordsQ.nonEmpty && wordsQ.distinct.length == wordsQ.length,
      "NEAR takes distinct words")
    require(window >= wordsQ.length,
      "window must be at least the word count")
    val posts = Near.read(s, indexPath, asOf)
    // every leg's bucket from the build's own hash, computed
    // driver-side (LocalHash) — constant word set, zero jobs
    val buckets = wordsQ
      .map(w => w -> graft.functions.LocalHash.xxBucket(w, Buckets)).toMap
    val legs = wordsQ.zipWithIndex.map { case (w, i) =>
      posts.filter(col("bucket") === lit(buckets(w)))
        .filter(col("word") === lit(w))
        .select(col("doc_id"), col("pos").as(s"p$i"))
    }
    val joined = legs.zipWithIndex.tail
      .foldLeft(legs.head) { case (acc, (leg, i)) =>
        val ps = (0 to i).map(k => col(s"p$k"))
        acc.join(leg, Seq("doc_id"))
          .filter(greatest(ps: _*) - least(ps: _*) <= lit(window - 1))
      }
    val all = wordsQ.indices.map(k => col(s"p$k"))
    joined
      .select(col("doc_id"),
        (greatest(all: _*) - least(all: _*)).as("span"))
      .groupBy(col("doc_id"))
      .agg(min(col("span")).cast("long").as("best_span"),
        count(lit(1)).as("n_windows"))
      .orderBy(col("doc_id"))
  }

  private def nearOracleSqlOver(docsWhere: String): String = {
    val legs = NearWords.zipWithIndex.map { case (w, i) =>
      s"p$i AS (SELECT doc_id, pos FROM t WHERE word = '$w')"
    }.mkString(",\n")
    val joins = NearWords.indices.tail
      .map(i => s"JOIN p$i USING (doc_id)").mkString(" ")
    val ps = NearWords.indices.map(i => s"p$i.pos").mkString(", ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |      FROM documents WHERE $docsWhere),
       |t AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word
       |      FROM w, unnest(range(1, len(ws) + 1)) u(i)),
       |$legs,
       |c AS (SELECT p0.doc_id,
       |        greatest($ps) - least($ps) AS span
       |      FROM p0 $joins
       |      WHERE greatest($ps) - least($ps) <= ${NearWindow - 1})
       |SELECT doc_id, CAST(min(span) AS BIGINT) AS best_span,
       |  CAST(count(*) AS BIGINT) AS n_windows
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The gate's probe needle — deliberately NOT token-aligned (spans a
    * word boundary mid-word), the capability tokenized indexes cannot
    * express; present at every shipped scale.
    */
  val ProbeNeedle = "can fil"

  /** CANDIDATE doc_ids for `needle` from the index alone — every doc
    * containing all of the needle's distinct trigrams (a superset of
    * the true matches: trigrams may co-occur non-contiguously). The
    * needle's trigrams are literal-sized, so the bucket set is a
    * driver-side constant (static PartitionFilter) and the gram filter
    * an isin; the only aggregate is per-doc distinct-gram counting with
    * ≤ n-2 state per key.
    */
  private[graft] def substringCandidates(s: SparkSession, indexPath: String,
      needle: String, asOf: Option[Long] = None): DataFrame = {
    import s.implicits._
    require(needle.length >= 3, "substring search needs >= 3 chars")
    val grams = needle.sliding(3).toVector.distinct
    val buckets = graft.functions.LocalHash.bucketsOf(grams, Buckets)
    Trigram.read(s, indexPath, asOf)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("tg").isInCollection(grams))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("tg")).as("ng"))
      .filter(col("ng") === lit(grams.length.toLong))
      .select(col("doc_id"))
  }

  /** Substring (grep) search: trigram candidates verified against the
    * candidates' raw text — a semi-join restricts the documents scan to
    * candidate rows (NO driver collect: the candidate set is corpus-
    * dependent, so it flows as a join — AQE broadcasts it when small,
    * degrades to a shuffled semi-join when a stop-gram-ish needle
    * matches wide), then an exact `contains` keeps true matches.
    * Output (doc_id, n_occ) with the non-overlapping occurrence count.
    */
  def substringSearch(s: SparkSession, indexPath: String,
      docs: DataFrame, needle: String,
      asOf: Option[Long] = None): DataFrame =
    docs
      .join(substringCandidates(s, indexPath, needle, asOf),
        Seq("doc_id"), "left_semi")
      .filter(col("text").contains(needle))
      .select(col("doc_id"),
        ((length(col("text")) -
          length(replace(col("text"), lit(needle), lit("")))) /
          lit(needle.length)).cast("long").as("n_occ"))
      .orderBy(col("doc_id"))

  private def substringOracleSqlOver(docsWhere: String): String =
    s"""SELECT doc_id,
       |  CAST((len(text) - len(replace(text, '$ProbeNeedle', '')))
       |       / len('$ProbeNeedle') AS BIGINT) AS n_occ
       |FROM documents
       |WHERE contains(text, '$ProbeNeedle') AND $docsWhere
       |ORDER BY doc_id""".stripMargin

  /** The multi-needle gate's literal query table — shared verbatim
    * with the oracle's VALUES list: one rare needle, one mid, one
    * common (all mid-word, none token-aligned).
    */
  val NeedleQueries: Seq[(Long, String)] = Seq(
    0L -> "sh join k", 1L -> "alue tab", 2L -> "w merge")

  /** MANY needles in one distributed job: the batch's gram set prunes
    * buckets once, postings semi-join the gram set BEFORE the per-query
    * fan-out join, per-(query, doc) distinct-gram counting yields
    * candidates, and ONE corpus join verifies all queries' candidates
    * together (`contains` on the joined needle). `queries` is
    * `(query_id, needle)`; output `(query_id, doc_id, n_occ)`.
    */
  def substringBatch(s: SparkSession, indexPath: String,
      docs: DataFrame, queries: DataFrame): DataFrame = {
    val qgrams = queries
      .select(col("query_id"), col("needle"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("needle")) - lit(2)),
          i => col("needle").substr(i, lit(3))))).as("tg"))
    val qn = qgrams.groupBy(col("query_id"))
      .agg(count(lit(1)).as("nq"))
    val gramSet = qgrams.select(col("tg")).distinct()
    val buckets = gramSet
      .select(pmod(xxhash64(col("tg")), lit(Buckets)).as("bucket"))
      .distinct().collect().map(_.getLong(0)).sorted
    val cands = Trigram.read(s, indexPath)
      .filter(col("bucket").isin(buckets: _*))
      .join(gramSet, Seq("tg"), "left_semi")
      .join(qgrams.select(col("query_id"), col("tg")), Seq("tg"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count_distinct(col("tg")).as("ng"))
      .join(qn, Seq("query_id"))
      .filter(col("ng") === col("nq"))
      .select(col("query_id"), col("doc_id"))
    docs
      .join(cands, Seq("doc_id"))
      .join(queries, Seq("query_id"))
      .filter(col("text").contains(col("needle")))
      .select(col("query_id"), col("doc_id"),
        ((length(col("text")) -
          length(replace(col("text"), col("needle"), lit("")))) /
          length(col("needle"))).cast("long").as("n_occ"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  private val substringMultiOracleSql: String = {
    val values = NeedleQueries
      .map { case (id, n) => s"($id, '$n')" }.mkString(", ")
    s"""WITH q AS (SELECT * FROM (VALUES $values) v(query_id, needle))
       |SELECT CAST(q.query_id AS BIGINT) AS query_id, d.doc_id,
       |  CAST((len(d.text) - len(replace(d.text, q.needle, '')))
       |       / len(q.needle) AS BIGINT) AS n_occ
       |FROM documents d JOIN q ON contains(d.text, q.needle)
       |ORDER BY query_id, doc_id""".stripMargin
  }

  // ---- regex search (codesearch-style trigram prune) ----
  // A regex whose language is FINITE (alternations of literals, char
  // classes — no unbounded repetition) expands to the literal strings
  // it can match; a document matches the regex only if it contains at
  // least ONE expansion literal, hence ALL of that literal's trigrams
  // — so candidates = the per-literal trigram intersections, unioned,
  // off the SAME persisted trigram index substring search reads (the
  // Google Code Search / postgres pg_trgm architecture: the index
  // prunes with a NECESSARY condition, a regex engine verifies only
  // the candidates). 100-TB shape: the corpus text is touched only on
  // candidate rows; the index read is ≤ Σ|literal| bucket directories.

  /** The gate's probe regex — a 4-literal finite language whose
    * alternation/extraction semantics agree between Java regex (Spark)
    * and RE2 (DuckDB): distinct first words mean at most one branch
    * can match at any position, so non-overlapping match COUNTS are
    * engine-independent.
    */
  val ProbeRegex = "(hash|merge) (join|scan)"

  /** Expand a finite regex into the literal strings of its language:
    * plain characters, `(a|b)` groups (nestable), `[abc]` / `[a-c]`
    * classes, `\x` escapes. Returns None when the pattern uses
    * anything with an unbounded or non-literal language (`* + ? . { ^
    * $`) or the expansion exceeds `cap` — the caller then degrades to
    * a full-corpus verify (the index simply cannot prune that query).
    * Driver-side work on a query literal; never touches data.
    */
  private[graft] def expandFiniteRegex(pattern: String,
      cap: Int = 64): Option[Seq[String]] = {
    // recursive descent over alt := seq ('|' seq)*; seq := atom*;
    // atom := char | escape | group | class. Each level returns the
    // language (all strings) or None (unsupported/over cap).
    var i = 0
    val n = pattern.length
    def alt(): Option[Vector[String]] = {
      var acc = seq().getOrElse(return None)
      while (i < n && pattern(i) == '|') {
        i += 1
        val branch = seq().getOrElse(return None)
        acc = acc ++ branch
        if (acc.length > cap) return None
      }
      Some(acc)
    }
    def seq(): Option[Vector[String]] = {
      var acc = Vector("")
      while (i < n && pattern(i) != '|' && pattern(i) != ')') {
        val piece: Vector[String] = pattern(i) match {
          case '(' =>
            i += 1
            val inner = alt().getOrElse(return None)
            if (i >= n || pattern(i) != ')') return None
            i += 1
            inner
          case '[' =>
            i += 1
            // only POSITIVE classes of plain literals / a-b ranges are
            // a finite language we can enumerate: '^' (negation) and
            // '\' (in-class escapes like [\d]) must force the caller's
            // full-corpus-verify fallback, never expand as literals
            if (i < n && pattern(i) == '^') return None
            var chars = Vector.empty[Char]
            while (i < n && pattern(i) != ']') {
              if (pattern(i) == '\\') return None
              if (i + 2 < n && pattern(i + 1) == '-' &&
                  pattern(i + 2) != ']') {
                if (pattern(i + 2) == '\\') return None
                if (pattern(i) > pattern(i + 2)) return None
                chars = chars ++ (pattern(i) to pattern(i + 2))
                i += 3
              } else { chars = chars :+ pattern(i); i += 1 }
              if (chars.length > cap) return None
            }
            if (i >= n) return None
            i += 1
            chars.map(_.toString)
          case '\\' =>
            if (i + 1 >= n) return None
            val c = pattern(i + 1)
            // only escapes that denote ONE literal char; \d \w \s etc.
            // are classes we don't expand
            if (c.isLetterOrDigit) return None
            i += 2
            Vector(c.toString)
          case c @ ('*' | '+' | '?' | '.' | '{' | '}' | '^' | '$' |
                    ']') =>
            return None
          case c =>
            i += 1
            Vector(c.toString)
        }
        acc = for (a <- acc; p <- piece) yield a + p
        if (acc.isEmpty || acc.length > cap) return None
      }
      Some(acc)
    }
    val out = alt()
    if (i < n) None else out.map(_.distinct)
  }

  /** CANDIDATE doc_ids for a finite-language regex: docs containing
    * every trigram of at least one expansion literal — the batch shape
    * of [[substringCandidates]] (one bucket prune + one distinct-gram
    * count for ALL literals), with a per-literal ALL-grams bar and a
    * distinct union across literals. Requires every literal ≥ 3 chars
    * (shorter literals constrain no trigram — callers fall back).
    */
  private[graft] def regexCandidates(s: SparkSession, indexPath: String,
      literals: Seq[String]): DataFrame = {
    import s.implicits._
    require(literals.nonEmpty && literals.forall(_.length >= 3),
      "trigram pruning needs every expansion literal >= 3 chars")
    val lg = literals.zipWithIndex.flatMap { case (l, id) =>
      l.sliding(3).toVector.distinct.map(tg => (id.toLong, tg))
    }
    val grams = lg.map(_._2).distinct
    val lgDf = lg.toDF("lit_id", "tg")
    val ln = lg.groupBy(_._1).map { case (id, g) => (id, g.length.toLong) }
      .toSeq.toDF("lit_id", "nq")
    val buckets = graft.functions.LocalHash.bucketsOf(grams, Buckets)
    Trigram.read(s, indexPath)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("tg").isInCollection(grams))
      .join(lgDf, Seq("tg"))
      .groupBy(col("lit_id"), col("doc_id"))
      .agg(count_distinct(col("tg")).as("ng"))
      .join(ln, Seq("lit_id"))
      .filter(col("ng") === col("nq"))
      .select(col("doc_id")).distinct()
  }

  /** Regex (grep -E) search: expand the pattern's finite language,
    * trigram-prune candidates off the persisted index, verify only the
    * candidates with the real regex engine; `(doc_id, n_match)` with
    * the non-overlapping match count. A pattern the index cannot prune
    * (infinite language, over-cap expansion, or a literal < 3 chars)
    * degrades to verifying the whole corpus — correct, just unpruned,
    * and the degradation is an explicit code path, not a silent scan.
    */
  def regexSearch(s: SparkSession, indexPath: String, docs: DataFrame,
      pattern: String): DataFrame = {
    val pruned = expandFiniteRegex(pattern) match {
      case Some(lits) if lits.forall(_.length >= 3) =>
        docs.join(regexCandidates(s, indexPath, lits), Seq("doc_id"),
          "left_semi")
      case _ => docs
    }
    pruned
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0)))
          .cast("long").as("n_match"))
      .filter(col("n_match") > 0)
      .orderBy(col("doc_id"))
  }

  private def regexOracleSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$ProbeRegex')) AS BIGINT)
       |    AS n_match
       |FROM documents
       |WHERE len(regexp_extract_all(text, '$ProbeRegex')) > 0
       |ORDER BY doc_id""".stripMargin

  // ---- fuzzy (edit-distance) term search off the trigram index ----
  // The pg_trgm fuzzy architecture: one edit (insert/delete/
  // substitute) can remove at most 3 of the query term's distinct
  // trigrams from a string, so any word within levenshtein distance d
  // of the query shares >= |T(q)| - 3d of q's trigrams — and a
  // document containing such a word contains those shared trigrams as
  // substrings. That is a NECESSARY condition readable straight off
  // the persisted doc-level trigram index (a RELAXED-count variant of
  // the substring intersection), so the levenshtein verify — the only
  // part a 100-TB engine cannot index — runs on candidate docs only.

  /** The gate's probe: a misspelling (dropped 'o') of the corpus term
    * `customer`, max distance 1. |T("custmer")| = 5, so the index bar
    * is 5 − 3·1 = 2 shared trigrams — a real prune (docs without a
    * customer-ish token are skipped), while completeness is
    * guaranteed by the 3-grams-per-edit bound.
    */
  val FuzzyTerm = "custmer"
  val FuzzyMaxDist = 1

  /** CANDIDATE doc_ids: docs containing at least `minShared` of
    * `term`'s distinct trigrams — [[substringCandidates]] with the
    * ALL-grams equality relaxed to a >= bar.
    */
  private[graft] def fuzzyCandidates(s: SparkSession, indexPath: String,
      term: String, minShared: Int): DataFrame = {
    import s.implicits._
    val grams = term.sliding(3).toVector.distinct
    require(minShared >= 1 && minShared <= grams.length,
      s"minShared must be in [1, ${grams.length}]")
    val buckets = graft.functions.LocalHash.bucketsOf(grams, Buckets)
    Trigram.read(s, indexPath)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("tg").isInCollection(grams))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("tg")).as("ng"))
      .filter(col("ng") >= lit(minShared.toLong))
      .select(col("doc_id"))
  }

  /** Fuzzy term search: docs containing any token within levenshtein
    * distance `maxDist` of `term`, with the matched-variant count,
    * total occurrences and best distance — integer-exact in both
    * engines. When the trigram bar |T(term)| − 3·maxDist is < 1 the
    * index cannot prune (short term / large distance) and the verify
    * runs over the whole corpus — explicit fallback, same results.
    */
  def fuzzySearch(s: SparkSession, indexPath: String, docs: DataFrame,
      term: String, maxDist: Int): DataFrame = {
    val bar = term.sliding(3).toVector.distinct.length - 3 * maxDist
    val pruned =
      if (bar >= 1)
        docs.join(fuzzyCandidates(s, indexPath, term, bar),
          Seq("doc_id"), "left_semi")
      else docs
    pruned
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .select(col("doc_id"), col("word"),
        levenshtein(col("word"), lit(term)).as("dist"))
      .filter(col("dist") <= lit(maxDist))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("word")).as("n_variants"),
        count(lit(1)).as("tf_sum"),
        min(col("dist")).cast("long").as("best_dist"))
      .orderBy(col("doc_id"))
  }

  /** Prefix (wildcard / autocomplete) term search — `custom*` — off
    * the SAME persisted trigram index: a token starting with a ≥
    * 3-char prefix necessarily contains every trigram OF that prefix
    * as substrings, so candidates are one all-grams trigram
    * intersection ([[fuzzyCandidates]] at the full-bar setting — the
    * necessary-condition machinery shared with fuzzy and substring
    * search) and only candidates pay the token-anchored
    * `startsWith` verify. A sub-3-char prefix cannot prune (no
    * trigram exists) and takes the explicit full-corpus verify —
    * correct, just unpruned, exactly the fuzzy fallback contract.
    */
  def prefixSearch(s: SparkSession, indexPath: String, docs: DataFrame,
      prefix: String): DataFrame = {
    val grams = prefix.sliding(3).toVector.distinct
    val pruned =
      if (grams.nonEmpty && grams.head.length == 3)
        docs.join(fuzzyCandidates(s, indexPath, prefix, grams.length),
          Seq("doc_id"), "left_semi")
      else docs
    pruned
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(col("word").startsWith(prefix))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        count_distinct(col("word")).as("n_variants"))
      .select(lit(prefix).as("prefix"), col("doc_id"),
        col("tf"), col("n_variants"))
  }

  /** Suffix (trailing-wildcard, `*tion`) term search — [[prefixSearch]]
    * mirrored: a token ENDING with a ≥ 3-char suffix contains every
    * trigram of that suffix, so the same all-grams intersection prunes
    * and only candidates pay the token-anchored `endsWith` verify;
    * sub-3-char suffixes take the explicit full-corpus verify, the
    * shared fallback contract. Completes the wildcard pair — a real
    * suffix workload (morphology probes, file-extension search) needs
    * no reversed second index because the trigram index is
    * position-free.
    */
  def suffixSearch(s: SparkSession, indexPath: String, docs: DataFrame,
      suffix: String): DataFrame = {
    val grams = suffix.sliding(3).toVector.distinct
    val pruned =
      if (grams.nonEmpty && grams.head.length == 3)
        docs.join(fuzzyCandidates(s, indexPath, suffix, grams.length),
          Seq("doc_id"), "left_semi")
      else docs
    pruned
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(col("word").endsWith(suffix))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        count_distinct(col("word")).as("n_variants"))
      .select(lit(suffix).as("suffix"), col("doc_id"),
        col("tf"), col("n_variants"))
  }

  private def fuzzyOracleSql: String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |           FROM documents),
       |m AS (SELECT doc_id, word,
       |        levenshtein(word, '$FuzzyTerm') AS dist
       |      FROM t WHERE levenshtein(word, '$FuzzyTerm') <= $FuzzyMaxDist)
       |SELECT doc_id, CAST(count(DISTINCT word) AS BIGINT) AS n_variants,
       |  CAST(count(*) AS BIGINT) AS tf_sum,
       |  CAST(min(dist) AS BIGINT) AS best_dist
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- cross-index takedown sweep (right-to-be-forgotten) ----
  // A takedown/retraction request names DOCUMENTS; the engine serves
  // them from FOUR independent text indexes (inverted, next-word
  // positional, word-positional, character-trigram). The sweep is the
  // compliance primitive that tombstones one id set in EVERY index
  // under ONE deleteId — each root's ledgered delete is individually
  // exactly-once, so a sweep that crashes midway REPLAYS to
  // completion: already-committed roots no-op, the rest catch up. No
  // distributed transaction is needed because takedown is monotone
  // (re-deleting is idempotent) and each index alone never serves a
  // victim once ITS delete commits.

  /** The four doc-index kinds a sweep covers, as (kind, sub-dir). */
  private val SweepKinds: Seq[String] = Seq("bm25", "near", "phrase", "trgm")

  /** Tombstone `ids` in all four indexes under `root`/<kind> with one
    * deleteId. Returns the kinds whose delete committed NOW (an
    * already-committed kind — a replayed sweep — reports false and is
    * untouched).
    */
  def takedownSweep(s: SparkSession, ids: DataFrame, root: String,
      deleteId: Long): Map[String, Boolean] = Map(
    "bm25" -> deleteFromBm25Index(ids, s"$root/bm25", deleteId),
    "near" -> Near.deleteFrom(ids, s"$root/near", deleteId),
    "phrase" -> Phrase.deleteFrom(ids, s"$root/phrase", deleteId),
    "trgm" -> Trigram.deleteFrom(ids, s"$root/trgm", deleteId))

  /** The sweep gates' members: one index of each `kinds` entry over
    * `docs`, then the one takedown of the % 11 = 5 victims under
    * deleteId 0 — each member a sub-dir of the group root.
    */
  private def sweepMembers(kinds: Seq[(String, IndexKind)],
      docs: => DataFrame, idCol: String): Seq[Fixture] = kinds.map {
    case (sub, kind) => Fixture(sub, kind, Seq(Seed(docs),
      Delete(0L, docs.filter(col(idCol) % 11 === 5).select(col(idCol)))))
  }

  private def textSweepMembers(s: SparkSession, d: String): Seq[Fixture] =
    sweepMembers(Seq("bm25" -> Bm25Kind, "near" -> Near.kind,
      "phrase" -> Phrase.kind, "trgm" -> Trigram.kind),
      Tables.documents(s, d), "doc_id")

  /** Gate fixture: all four indexes over the full corpus inside ONE
    * published root, then one sweep of doc_id % 11 = 5 — so the gate
    * certifies the post-sweep state of every serve path at once.
    */
  def ensureSweepFixture(s: SparkSession, d: String): String =
    Fixture.ensureGroup(s, d, "graft_sweep", textSweepMembers(s, d): _*)

  /** Every deleteId committed by ANY of the sweep root's four indexes
    * — the streaming sweep's epoch source (a fresh checkpoint must
    * namespace above the max epoch ANY kind has seen, since a crashed
    * sweep can leave kinds at different horizons).
    */
  def sweptDeleteIds(root: String): Set[Long] =
    SweepKinds.flatMap(k => protocol(s"$root/$k").deletedBatches()).toSet

  /** The post-sweep audit, one row per index kind: the count of
    * SERVABLE postings (committed minus tombstoned). Victims
    * contribute zero rows to every kind — the oracle recomputes each
    * kind's posting arithmetic from a corpus that never contained
    * them, so a tombstone leaking anywhere breaks the hash match.
    */
  def takedownAudit(s: SparkSession, root: String): DataFrame =
    Seq(
      "bm25" -> indexPostings(s, s"$root/bm25"),
      "near" -> Near.read(s, s"$root/near"),
      "phrase" -> Phrase.read(s, s"$root/phrase"),
      "trgm" -> Trigram.read(s, s"$root/trgm"))
      .map { case (k, posts) =>
        posts.agg(count(lit(1)).as("n_postings"))
          .select(lit(k).as("kind"), col("n_postings"))
      }
      .reduce(_.union(_))
      .orderBy(col("kind"))

  /** The four text kinds' victimless posting counts as a CTE block —
    * shared VERBATIM by the four-kind and six-kind sweep oracles so
    * the two can never drift.
    */
  private val sweepTextCtes: String =
    s"""d AS (SELECT doc_id, text, string_split(text, ' ') AS ws
       |           FROM documents WHERE doc_id % 11 <> 5),
       |bm AS (SELECT count(*) AS n FROM
       |        (SELECT DISTINCT doc_id, unnest(ws) FROM d)),
       |nr AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS n FROM d),
       |ph AS (SELECT CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS n
       |       FROM d),
       |tg AS (SELECT count(*) AS n FROM
       |        (SELECT DISTINCT doc_id, substr(text, i, 3)
       |         FROM d, unnest(range(1, len(text) - 1)) u(i)))""".stripMargin

  private val sweepOracleSql: String =
    s"""WITH $sweepTextCtes
       |SELECT 'bm25' AS kind, n AS n_postings FROM bm
       |UNION ALL SELECT 'near', n FROM nr
       |UNION ALL SELECT 'phrase', n FROM ph
       |UNION ALL SELECT 'trgm', n FROM tg
       |ORDER BY kind""".stripMargin

  /** Right-to-be-forgotten across EVERY index family — the text sweep
    * extended to the vector and perceptual-hash roots: one victim
    * entity's ids (its documents, its embedding vectors, its media
    * assets) tombstoned in all SIX index kinds under one deleteId.
    * Each root's ledgered delete is individually exactly-once, and
    * takedown is monotone, so a crashed sweep REPLAYS to completion
    * with committed roots no-op'ing — the takedownSweep argument,
    * now kind-universal: no distributed transaction at any index
    * count.
    */
  def takedownSweepAll(s: SparkSession, docIds: DataFrame,
      vecIds: DataFrame, assetIds: DataFrame, root: String,
      deleteId: Long): Map[String, Boolean] =
    takedownSweep(s, docIds, root, deleteId) ++ Map(
      "ann" -> Similarity.deleteFromIvfIndex(vecIds, s"$root/ann",
        deleteId),
      "phash" -> Multimodal.deleteFromPhashIndex(assetIds,
        s"$root/phash", deleteId))

  /** The post-sweep audit over all six kinds: servable entries per
    * root (postings for the text kinds, vectors for the ANN root,
    * band entries for the perceptual-hash root). The oracle recomputes
    * every count from tables that never contained the victims.
    */
  def takedownAuditAll(s: SparkSession, root: String): DataFrame =
    takedownAudit(s, root)
      .unionByName(Seq(
          "ann" -> Similarity.indexVectors(s, s"$root/ann"),
          "phash" -> Multimodal.indexPhashes(s, s"$root/phash"))
        .map { case (k, df) =>
          df.agg(count(lit(1)).as("n_postings"))
            .select(lit(k).as("kind"), col("n_postings"))
        }
        .reduce(_.union(_)))
      .orderBy(col("kind"))

  /** Gate fixture: four text indexes (corpus), the float IVF index
    * (embeddings), and the perceptual-hash index (planted images) in
    * ONE published root, then one universal sweep of the % 11 = 5
    * victims in each id domain under deleteId 0.
    */
  def ensureSweepAllFixture(s: SparkSession, d: String): String = {
    val phash = Fixture("phash", Multimodal.PhashKind, Seq(
      Seed(Multimodal.perceptualHashes(Multimodal.plantedImages(s, d),
        graft.media.DispatchMediaKernel).toDF()),
      Delete(0L, Tables.documents(s, d).filter(col("doc_id") % 11 === 5)
        .select(col("doc_id").as("asset_id")))))
    Fixture.ensureGroup(s, d, "graft_sweep_all", textSweepMembers(s, d) ++
      sweepMembers(Seq("ann" -> Similarity.IvfKind), Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("v")), "vec_id") :+
      phash: _*)
  }

  private val sweepAllOracleSql: String =
    s"""WITH $sweepTextCtes,
       |an AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % 11 <> 5),
       |ih AS (SELECT 4 * count(*) AS n FROM documents WHERE doc_id % 11 <> 5)
       |SELECT 'ann' AS kind, n AS n_postings FROM an
       |UNION ALL SELECT 'bm25', n FROM bm
       |UNION ALL SELECT 'near', n FROM nr
       |UNION ALL SELECT 'phash', n FROM ih
       |UNION ALL SELECT 'phrase', n FROM ph
       |UNION ALL SELECT 'trgm', n FROM tg
       |ORDER BY kind""".stripMargin

  /** The multi-query gate's literal query table — shared verbatim with
    * the oracle's VALUES list (the portability contract): one
    * rare-term query, one mixed, one all-common.
    */
  val MultiQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup"),
    1L -> Seq("query", "scan"),
    2L -> Seq("window", "merge", "line"))

  private val bm25MultiOracleSql: String = {
    val values = MultiQueries.map { case (id, ts) =>
      s"($id, [${ts.map("'" + _ + "'").mkString(", ")}])"
    }.mkString(", ")
    s"""WITH q AS (SELECT * FROM (VALUES $values) AS v(query_id, terms)),
       |qt AS (SELECT DISTINCT query_id, unnest(terms) AS word FROM q),
       |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |              avg(len(ws)) AS avgdl FROM d),
       |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
       |tf AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
       |       WHERE word IN (SELECT word FROM qt)
       |       GROUP BY word, doc_id, dl),
       |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
       |       FROM tf GROUP BY word),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |         round(sum(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |             * (tf.tf * CAST(2.2 AS DOUBLE)
       |                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)))),
       |           4) AS score
       |       FROM tf JOIN df USING (word) JOIN qt USING (word), st
       |       GROUP BY qt.query_id, tf.doc_id),
       |r AS (SELECT query_id, doc_id,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY score DESC, doc_id) AS rank
       |      FROM sc)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank
       |FROM r WHERE rank <= $TopK""".stripMargin
  }

  /** Integer DCG rank weights — round(1e6 / log2(rank + 1)) for ranks
    * 1..TopK, computed ONCE driver-side and interpolated as literals
    * into BOTH the Spark plan and the oracle SQL (the literal-parity
    * convention): cross-engine log2 agreement is never relied on, and
    * DCG/IDCG become exact BIGINT sums.
    */
  private val RankWeights: Seq[Long] = (1 to TopK).map(r =>
    math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** The `text_rank_eval` oracle: the text_bm25_multi ranking chain,
    * graded against term-coverage relevance (grade = how many of the
    * query's distinct terms the document contains — derived from raw
    * text, independent of the scorer), then the standard IR readouts
    * per query: scaled-integer DCG@k and IDCG@k (ideal = grades
    * descending, doc_id tie-break), nDCG as their 4-dp-rounded ratio,
    * the first relevant rank, and recall@k against min(k, n_rel).
    */
  private val rankEvalOracleSql: String = {
    val values = MultiQueries.map { case (id, ts) =>
      s"($id, [${ts.map("'" + _ + "'").mkString(", ")}])"
    }.mkString(", ")
    val wvalues = RankWeights.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
    s"""WITH q AS (SELECT * FROM (VALUES $values) AS v(query_id, terms)),
       |qt AS (SELECT DISTINCT query_id, unnest(terms) AS word FROM q),
       |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |              avg(len(ws)) AS avgdl FROM d),
       |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
       |tf AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
       |       WHERE word IN (SELECT word FROM qt)
       |       GROUP BY word, doc_id, dl),
       |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
       |       FROM tf GROUP BY word),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |         round(sum(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |             * (tf.tf * CAST(2.2 AS DOUBLE)
       |                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)))),
       |           4) AS score
       |       FROM tf JOIN df USING (word) JOIN qt USING (word), st
       |       GROUP BY qt.query_id, tf.doc_id),
       |r AS (SELECT query_id, doc_id,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY score DESC, doc_id) AS rank
       |      FROM sc),
       |wt AS (SELECT * FROM (VALUES $wvalues) AS w(rank, w)),
       |dwq AS (SELECT DISTINCT doc_id, word FROM tf),
       |g AS (SELECT qt.query_id, dwq.doc_id,
       |        CAST(count(*) AS BIGINT) AS grade
       |      FROM dwq JOIN qt USING (word)
       |      JOIN documents dd ON dd.doc_id = dwq.doc_id
       |      WHERE dd.lang = 'en' GROUP BY 1, 2),
       |rk AS (SELECT r.query_id, r.rank, coalesce(g.grade, 0) AS grade
       |       FROM r LEFT JOIN g ON g.query_id = r.query_id
       |                         AND g.doc_id = r.doc_id
       |       WHERE r.rank <= $TopK),
       |dcg AS (SELECT query_id, CAST(sum(grade * w) AS BIGINT) AS dcg,
       |          CAST(min(CASE WHEN grade >= 1 THEN rank END) AS BIGINT)
       |            AS first_rel,
       |          CAST(sum(CASE WHEN grade >= 1 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS rel_topk
       |        FROM rk JOIN wt USING (rank) GROUP BY query_id),
       |ideal AS (SELECT query_id, grade,
       |            row_number() OVER (PARTITION BY query_id
       |                               ORDER BY grade DESC, doc_id) AS rn
       |          FROM g),
       |idcg AS (SELECT query_id, CAST(sum(grade * w) AS BIGINT) AS idcg
       |         FROM ideal JOIN wt ON wt.rank = ideal.rn
       |         WHERE rn <= $TopK GROUP BY query_id),
       |rel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |        FROM g GROUP BY query_id)
       |SELECT CAST(d.query_id AS BIGINT) AS query_id, rel.n_rel,
       |  d.first_rel, d.rel_topk, d.dcg, i.idcg,
       |  round(CAST(d.dcg AS DOUBLE) / i.idcg, 4) AS ndcg,
       |  round(CAST(d.rel_topk AS DOUBLE) / least($TopK, rel.n_rel), 4)
       |    AS recall_topk
       |FROM dcg d JOIN idcg i ON i.query_id = d.query_id
       |JOIN rel ON rel.query_id = d.query_id""".stripMargin
  }

  /** The `text_snippet` oracle: the multi-query ranking chain cut at
    * rank ≤ 3, then per (query, hit) the classic best-window snippet —
    * candidate windows start at query-term positions, width 8 words,
    * scored by DISTINCT query terms covered with earliest-start
    * tie-break — and the window's text reconstructed from the same
    * empty-filtered word list both engines tokenize with.
    */
  private val snippetOracleSql: String = {
    val values = MultiQueries.map { case (id, ts) =>
      s"($id, [${ts.map("'" + _ + "'").mkString(", ")}])"
    }.mkString(", ")
    s"""WITH q AS (SELECT * FROM (VALUES $values) AS v(query_id, terms)),
       |qt AS (SELECT DISTINCT query_id, unnest(terms) AS word FROM q),
       |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |              avg(len(ws)) AS avgdl FROM d),
       |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
       |tf AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
       |       WHERE word IN (SELECT word FROM qt)
       |       GROUP BY word, doc_id, dl),
       |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
       |       FROM tf GROUP BY word),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |         round(sum(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |             * (tf.tf * CAST(2.2 AS DOUBLE)
       |                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)))),
       |           4) AS score
       |       FROM tf JOIN df USING (word) JOIN qt USING (word), st
       |       GROUP BY qt.query_id, tf.doc_id),
       |r3 AS (SELECT query_id, doc_id FROM (
       |  SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, doc_id) AS rank
       |  FROM sc) WHERE rank <= 3),
       |dw AS (SELECT doc_id,
       |         list_filter(string_split(text, ' '), w -> w <> '') AS ws
       |       FROM documents
       |       WHERE doc_id IN (SELECT doc_id FROM r3)),
       |pos AS (SELECT doc_id, i AS p, ws[i] AS word
       |        FROM dw, unnest(range(1, len(ws) + 1)) t(i)),
       |tp AS (SELECT r3.query_id, pos.doc_id, pos.word, pos.p
       |       FROM r3 JOIN qt USING (query_id)
       |       JOIN pos ON pos.doc_id = r3.doc_id AND pos.word = qt.word),
       |wins AS (SELECT a.query_id, a.doc_id, a.p,
       |           count(DISTINCT b.word) AS n_terms
       |         FROM tp a JOIN tp b ON b.query_id = a.query_id
       |           AND b.doc_id = a.doc_id
       |           AND b.p >= a.p AND b.p < a.p + 8
       |         GROUP BY 1, 2, 3),
       |best AS (SELECT query_id, doc_id, p, n_terms FROM (
       |  SELECT query_id, doc_id, p, n_terms,
       |    row_number() OVER (PARTITION BY query_id, doc_id
       |                       ORDER BY n_terms DESC, p) AS rn
       |  FROM wins) WHERE rn = 1)
       |SELECT b.query_id, b.doc_id, CAST(b.p AS BIGINT) AS start,
       |  CAST(b.n_terms AS BIGINT) AS n_terms,
       |  array_to_string(dw.ws[b.p : b.p + 7], ' ') AS snippet
       |FROM best b JOIN dw USING (doc_id)""".stripMargin
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_bm25", bm25OracleSql) { (s, d) => bm25(s, d) },
    // Many queries, one distributed job: per-query BM25 rankings via
    // the bounded-state top_k aggregate — no window over the scored
    // candidate set, no per-query driver loop.
    QuerySpec("text_bm25_multi", bm25MultiOracleSql) { (s, d) =>
      import s.implicits._
      bm25Batch(s, ensureBm25Index(s, d),
        MultiQueries.toDF("query_id", "terms"))
    },
    QuerySpec("text_bm25_indexed", bm25OracleSql) { (s, d) =>
      bm25TopK(s, ensureBm25Index(s, d))
    },
    // Best-window SNIPPET extraction for the top hits — the serving
    // feature next to ranking: per (query, top-3 doc), the width-8
    // word window starting at a query-term position that covers the
    // most DISTINCT query terms (earliest start on ties), with the
    // window's text reconstructed. Candidates are term positions
    // only (never every position); the window election is one
    // struct-min aggregate per (query, doc) — no windowing over the
    // token stream; the bounded self-join pairs term positions within
    // 8 words, per doc.
    QuerySpec("text_snippet", snippetOracleSql) { (s, d) =>
      import s.implicits._
      val ranked = bm25Batch(s, ensureBm25Index(s, d),
        MultiQueries.toDF("query_id", "terms")).filter(col("rank") <= 3)
      val qt = MultiQueries.toDF("query_id", "terms")
        .select(col("query_id"), explode(col("terms")).as("word"))
        .distinct()
      val docs = Tables.documents(s, d)
        .join(ranked.select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          filter(split(col("text"), " "), w => w =!= "").as("ws"))
      val pos = docs
        .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "word")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
          col("word"))
      val tp = ranked.select(col("query_id"), col("doc_id"))
        .join(qt, Seq("query_id"))
        .join(pos, Seq("doc_id", "word"))
      val b = tp.select(col("query_id").as("q2"), col("doc_id").as("d2"),
        col("word").as("w2"), col("p").as("p2"))
      val wins = tp.select(col("query_id"), col("doc_id"), col("p"))
        .join(b, col("query_id") === col("q2") &&
          col("doc_id") === col("d2") &&
          col("p2") >= col("p") && col("p2") < col("p") + 8)
        .groupBy(col("query_id"), col("doc_id"), col("p"))
        .agg(countDistinct(col("w2")).as("n_terms"))
      val best = wins.groupBy(col("query_id"), col("doc_id"))
        .agg(min(struct((col("n_terms") * -1).as("negn"),
          col("p").as("p"))).as("b"))
        .select(col("query_id"), col("doc_id"), col("b.p").as("start"),
          (col("b.negn") * -1).as("n_terms"))
      best.join(docs, Seq("doc_id"))
        .select(col("query_id"), col("doc_id"), col("start"),
          col("n_terms"),
          array_join(slice(col("ws"), col("start").cast("int"), lit(8)),
            " ").as("snippet"))
    },

    // Retrieval EVALUATION as an operator: the multi-query BM25
    // ranking graded against term-coverage relevance derived from the
    // raw text (independent of the scorer), emitting per query the
    // standard IR readouts — integer-weighted DCG@10/IDCG@10 (the
    // log2 weights are driver-side literals in BOTH plans, so the
    // sums are exact BIGINTs), nDCG as their rounded ratio, first
    // relevant rank, and recall@10. This is the harness a pipeline
    // runs after every index rebuild or ranker change: metric shifts
    // gate the deploy. One pass over the ranked frame plus one
    // query-partitioned window over the ≤|queries|·|matches| graded
    // frame.
    QuerySpec("text_rank_eval", rankEvalOracleSql) { (s, d) =>
      import s.implicits._
      val ranked = bm25Batch(s, ensureBm25Index(s, d),
        MultiQueries.toDF("query_id", "terms"))
      val qt = MultiQueries.toDF("query_id", "terms")
        .select(col("query_id"), explode(col("terms")).as("word"))
        .distinct()
      val dwq = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(filter(split(col("text"), " "), w => w =!= ""))
            .as("word"))
        .join(qt.select(col("word")).distinct(), Seq("word"), "left_semi")
        .distinct()
      // relevance is term coverage RESTRICTED to English documents —
      // an attribute the ranker never sees, so the metrics measure a
      // real gap instead of re-deriving the scorer's own objective
      val g = dwq.join(qt, Seq("word"))
        .join(Tables.documents(s, d).filter(col("lang") === "en")
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("grade"))
      val w = typedLit(RankWeights)
      val rk = ranked.join(g, Seq("query_id", "doc_id"), "left")
        .select(col("query_id"), col("rank"),
          coalesce(col("grade"), lit(0L)).as("grade"))
      val dcg = rk.groupBy(col("query_id"))
        .agg(sum(col("grade") * element_at(w, col("rank"))).as("dcg"),
          min(when(col("grade") >= 1, col("rank")))
            .cast("long").as("first_rel"),
          sum(when(col("grade") >= 1, 1L).otherwise(0L)).as("rel_topk"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("grade").desc, col("doc_id"))
      val ideal = g.withColumn("rn", row_number().over(win))
        .filter(col("rn") <= TopK)
        .groupBy(col("query_id"))
        .agg(sum(col("grade") * element_at(w, col("rn"))).as("idcg"))
      val rel = g.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
      dcg.join(ideal, Seq("query_id")).join(rel, Seq("query_id"))
        .select(col("query_id"), col("n_rel"), col("first_rel"),
          col("rel_topk"), col("dcg"), col("idcg"),
          round(col("dcg").cast("double") / col("idcg"), 4).as("ndcg"),
          round(col("rel_topk").cast("double") /
            least(lit(TopK.toLong), col("n_rel")), 4).as("recall_topk"))
    },
    // Cross-root MERGE under the value gate: two independently-built
    // roots (crawl A = doc_id % 3 ≠ 2, crawl B = the rest) unioned by
    // mergeBm25Indexes — postings copied bucket-aligned, stats folded
    // as mergeable sums, df re-aggregated at serve time. Disjoint doc
    // spaces make the merged serve EXACTLY the from-scratch build over
    // the union corpus, so this reuses text_bm25's oracle verbatim:
    // the merge changes cost, not one row. ANN counterpart:
    // sim_ivf_merged.
    QuerySpec("text_bm25_merged", bm25OracleSql) { (s, d) =>
      bm25TopK(s, ensureMergedBm25Index(s, d))
    },
    // Boolean retrieval (must / should / must-not) off the SAME
    // persisted inverted index — hard conjunction + negation, ranked by
    // should-coverage; the oracle recomputes from raw text, so the gate
    // certifies the index serve end-to-end.
    QuerySpec("text_boolean", boolOracleSql) { (s, d) =>
      booleanSearch(s, ensureBm25Index(s, d))
    },
    // AS-OF boolean retrieval: the same must/should/must-not serve
    // pinned at each ledger horizon of the evolving index (seed →
    // appends folded → deletes committed); the oracle recomputes each
    // horizon from the matching corpus slice. Conjunction + negation
    // time-travel with the corpus: a doc deleted at horizon 2 neither
    // matches nor NEGATES (its must_not terms no longer veto).
    QuerySpec("text_boolean_asof",
      s"""SELECT CAST(0 AS BIGINT) AS horizon, *
         |FROM (${boolOracleSqlOver("doc_id % 5 <> 4")})
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS horizon, *
         |FROM (${boolOracleSqlOver("TRUE")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, *
         |FROM (${boolOracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = ensureAsOfBm25Index(s, d)
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        booleanSearch(s, idx, asOf = Some(h))
          .select(lit(h).as("horizon"), col("query_id"), col("doc_id"),
            col("n_should"), col("rank"))
      }.reduce(_.union(_))
    },
    // Exact-phrase search from the persisted next-word positional
    // index: L-1 bucket-pruned pair lookups + position arithmetic, no
    // text re-scan — the capability BM25's bag-of-words index cannot
    // express (term adjacency).
    QuerySpec("text_phrase", phraseOracleSql) { (s, d) =>
      phraseTopK(s, ensurePhraseIndex(s, d), ProbePhrase)
    },
    // Cross-root phrase MERGE — the shared postings-only union kernel
    // (mergePostingsRoots) on positional bigram postings; reuses
    // text_phrase's oracle verbatim.
    QuerySpec("text_phrase_merged", phraseOracleSql) { (s, d) =>
      phraseTopK(s, ensureMergedPhraseIndex(s, d), ProbePhrase)
    },
    // The positional index's whole FoldProtocol lifecycle under one
    // value gate: seed, ledgered append, ledgered takedown — the serve
    // must equal phrase search over a corpus that never contained the
    // deleted docs (tombstone anti-join + fold union, same dialect as
    // the BM25 index).
    QuerySpec("text_phrase_evolved",
      phraseOracleSqlOver("doc_id % 7 <> 3")) { (s, d) =>
      phraseTopK(s, ensureEvolvedPhraseIndex(s, d), ProbePhrase)
    },
    // Many phrases, one distributed job: one bucket prune for the
    // whole batch, per-query rankings via the bounded top_k aggregate.
    QuerySpec("text_phrase_multi", phraseMultiOracleSql) { (s, d) =>
      import s.implicits._
      phraseBatch(s, ensurePhraseIndex(s, d),
        PhraseQueries.toDF("query_id", "phrase"))
    },
    // Substring (grep) search from the persisted trigram index: the
    // needle spans a word boundary mid-word — the query class neither
    // the BM25 nor the positional index can answer — served as a
    // bucket-pruned trigram intersection plus a candidate-restricted
    // exact verify; the oracle greps the corpus directly.
    QuerySpec("text_substring", substringOracleSqlOver("1 = 1")) {
      (s, d) => substringSearch(s, ensureSubstringIndex(s, d),
        Tables.documents(s, d), ProbeNeedle)
    },
    // Cross-root trigram MERGE under the value gate — the third index
    // kind speaking the union (BM25 and IVF are the others): two
    // independently-built roots copied bucket-aligned as seed + fold
    // b0; reuses text_substring's oracle verbatim (disjoint doc spaces
    // make the merged serve exactly the from-scratch union build).
    QuerySpec("text_substring_merged",
      substringOracleSqlOver("1 = 1")) { (s, d) =>
      substringSearch(s, ensureMergedSubstringIndex(s, d),
        Tables.documents(s, d), ProbeNeedle)
    },
    // The trigram index's FoldProtocol lifecycle under one value gate:
    // seed, ledgered append, ledgered takedown — the serve must equal
    // grepping a corpus that never contained the deleted docs.
    QuerySpec("text_substring_evolved",
      substringOracleSqlOver("doc_id % 7 <> 3")) { (s, d) =>
      substringSearch(s, ensureEvolvedSubstringIndex(s, d),
        Tables.documents(s, d), ProbeNeedle)
    },
    // Many needles, one distributed job: one bucket prune + ONE
    // verify join for the whole batch.
    QuerySpec("text_substring_multi", substringMultiOracleSql) {
      (s, d) =>
      import s.implicits._
      substringBatch(s, ensureSubstringIndex(s, d),
        Tables.documents(s, d), NeedleQueries.toDF("query_id", "needle"))
    },
    // Regex (grep -E) search from the SAME persisted trigram index:
    // the pattern's finite language expands to literals, candidates =
    // docs holding every trigram of some literal (codesearch's
    // necessary-condition prune), and only candidates meet the real
    // regex engine; the oracle regexes the corpus directly.
    QuerySpec("text_regex", regexOracleSql) { (s, d) =>
      regexSearch(s, ensureSubstringIndex(s, d),
        Tables.documents(s, d), ProbeRegex)
    },
    // Fuzzy (edit-distance <= 1) term search from the trigram index:
    // candidates = docs sharing >= |T(q)| - 3d of the query term's
    // trigrams (one edit kills at most 3 trigrams — the pg_trgm
    // bound, so the prune is lossless), levenshtein verifies only the
    // candidates; the oracle scores every token of every doc.
    QuerySpec("text_fuzzy", fuzzyOracleSql) { (s, d) =>
      fuzzySearch(s, ensureSubstringIndex(s, d),
        Tables.documents(s, d), FuzzyTerm, FuzzyMaxDist)
    },
    // Prefix (wildcard) term search — the autocomplete query class:
    // one ≥ 3-char probe serves index-pruned (all-grams trigram
    // intersection, then token-anchored startsWith verify on
    // candidates only), one 2-char probe exercises the EXPLICIT
    // full-verify fallback — both paths value-gated in one result.
    QuerySpec(
      "text_prefix",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |m AS (SELECT p.prefix, doc_id, w
        |      FROM t, (VALUES ('sca'), ('da')) p(prefix)
        |      WHERE starts_with(w, p.prefix))
        |SELECT prefix, doc_id, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_variants
        |FROM m GROUP BY prefix, doc_id""".stripMargin) { (s, d) =>
      val idx = ensureSubstringIndex(s, d)
      val docs = Tables.documents(s, d)
      prefixSearch(s, idx, docs, "sca")
        .unionByName(prefixSearch(s, idx, docs, "da"))
    },
    // Suffix (trailing-wildcard) term search — the prefix gate
    // mirrored: one ≥ 3-char probe serves index-pruned, one 2-char
    // probe exercises the explicit full-verify fallback, both
    // value-gated in one result.
    QuerySpec(
      "text_suffix",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |m AS (SELECT p.suffix, doc_id, w
        |      FROM t, (VALUES ('ter'), ('ow')) p(suffix)
        |      WHERE ends_with(w, p.suffix))
        |SELECT suffix, doc_id, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_variants
        |FROM m GROUP BY suffix, doc_id""".stripMargin) { (s, d) =>
      val idx = ensureSubstringIndex(s, d)
      val docs = Tables.documents(s, d)
      suffixSearch(s, idx, docs, "ter")
        .unionByName(suffixSearch(s, idx, docs, "ow"))
    },
    // Cross-index takedown sweep (right-to-be-forgotten): ONE call
    // tombstones a doc set in all four text indexes under one
    // deleteId, each root individually exactly-once so a crashed
    // sweep replays to completion. The audit counts SERVABLE postings
    // per kind; the oracle recomputes each kind's posting arithmetic
    // (distinct (word, doc) pairs / tokens / adjacent pairs / distinct
    // doc-trigrams) from a corpus that never contained the victims.
    QuerySpec("takedown_sweep", sweepOracleSql) { (s, d) =>
      takedownAudit(s, ensureSweepFixture(s, d))
    },
    // Right-to-be-forgotten across EVERY index family: the text sweep
    // extended to the ANN and perceptual-hash roots — one victim
    // entity's ids tombstoned in all six kinds under one deleteId,
    // audited as servable entries per kind against an oracle that
    // recomputes each count from tables that never contained the
    // victims. Replay no-op + victim serve-unreachability on the two
    // new kinds pinned in RetrievalSpec.
    QuerySpec("takedown_universal", sweepAllOracleSql) { (s, d) =>
      takedownAuditAll(s, ensureSweepAllFixture(s, d))
    },
    // Proximity (NEAR) search from the word-positional index: all
    // query words within an 8-word window — the query class neither
    // the bag-of-words (no positions) nor the next-word (adjacency
    // only) index can answer; minimal covering span + window count,
    // integer-exact in both engines.
    QuerySpec("text_near", nearOracleSqlOver("1 = 1")) { (s, d) =>
      nearSearch(s, ensureNearIndex(s, d), NearWords, NearWindow)
    },
    // Cross-root NEAR MERGE — the postings-only union kernel on
    // word-positional postings. With this, every bucketed postings
    // kind (BM25, trigram, phrase, word-positional, phash bands) and
    // the IVF vector family speak cross-root union; reuses
    // text_near's oracle verbatim.
    QuerySpec("text_near_merged", nearOracleSqlOver("1 = 1")) { (s, d) =>
      nearSearch(s, ensureMergedNearIndex(s, d), NearWords, NearWindow)
    },
    // The word-positional index's FoldProtocol lifecycle under one
    // value gate: seed, ledgered append, ledgered takedown.
    QuerySpec("text_near_evolved",
      nearOracleSqlOver("doc_id % 7 <> 3")) { (s, d) =>
      nearSearch(s, ensureEvolvedNearIndex(s, d), NearWords, NearWindow)
    },
    // The incremental fold under the value gate: history-seeded index +
    // one ledgered append must serve the exact full-corpus answer (df,
    // avgdl and N all shift with the appended wave — any drift in the
    // merged stats or a miscommitted b-dir breaks the hash match).
    QuerySpec("text_bm25_grown", bm25OracleSql) { (s, d) =>
      bm25TopK(s, ensureGrownBm25Index(s, d))
    },
    // The takedown contract under the value gate: after one ledgered
    // delete batch (doc_id % 7 = 3), the served ranking must be
    // IDENTICAL to scoring a corpus that never contained those docs —
    // df (counted from served postings), N and avgdl (negative stats
    // delta) and the candidate set (tombstone anti-join) all shift,
    // so any drift in the delete protocol breaks the hash match.
    QuerySpec("text_bm25_deleted",
      bm25OracleSqlOver("doc_id % 7 <> 3")) { (s, d) =>
      bm25TopK(s, ensureDeletedBm25Index(s, d))
    },
    // The whole index lifecycle under ONE value gate: seed, ledgered
    // append, ledgered delete whose victims span both waves. Serving
    // must equal scoring a corpus that contains the appended docs and
    // never contained the deleted ones — the tombstone anti-join spans
    // seed AND b-dir sub-roots, and the merged stats fold the append's
    // positive delta with the delete's negative one. Same oracle as
    // text_bm25_deleted by design (history ∪ append = full corpus).
    QuerySpec("text_bm25_evolved",
      bm25OracleSqlOver("doc_id % 7 <> 3")) { (s, d) =>
      bm25TopK(s, ensureEvolvedBm25Index(s, d))
    },

    // AS-OF (time-travel) BM25 — the inverted-index twin of
    // sim_ivf_asof, proving the protocol feature is kind-generic: the
    // postings read drops fold sub-roots and tombstone batches above
    // the horizon at LIST time, and the merged stats exclude the
    // delete's d2 negative delta below its horizon, so N, avgdl, df
    // AND the candidate set are exactly the horizon corpus's. Oracle =
    // the full BM25 arithmetic over each horizon's document set.
    QuerySpec("text_bm25_asof",
      s"""SELECT CAST(0 AS BIGINT) AS horizon, doc_id, score
         |FROM (${bm25OracleSqlOver("doc_id % 5 <> 4")})
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS horizon, doc_id, score
         |FROM (${bm25OracleSqlOver("TRUE")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, doc_id, score
         |FROM (${bm25OracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = ensureAsOfBm25Index(s, d)
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        bm25TopK(s, idx, asOf = Some(h))
          .select(lit(h).as("horizon"), col("doc_id"), col("score"))
      }.reduce(_.union(_))
    },

    // Floor-bounded index retention: the BM25 root VACUUMED at floor 1
    // (seed collapsed into c1, horizon 0 reclaimed) must serve
    // horizons 1 and 2 hash-equal to the unvacuumed construction —
    // same modular oracle branches as text_bm25_asof, which is the
    // whole contract: retention reclaims dirs, never moves a result.
    // The below-floor refusal, replay no-op, post-vacuum folds and the
    // detachment guard are pinned in RetrievalSpec.
    QuerySpec("text_bm25_vacuum",
      s"""SELECT CAST(1 AS BIGINT) AS horizon, doc_id, score
         |FROM (${bm25OracleSqlOver("TRUE")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, doc_id, score
         |FROM (${bm25OracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = ensureVacuumedBm25Index(s, d)
      Par.buildAll(Seq(1L, 2L)) { h =>
        bm25TopK(s, idx, asOf = Some(h))
          .select(lit(h).as("horizon"), col("doc_id"), col("score"))
      }.reduce(_.union(_))
    },

    // MERGE × TIME TRAVEL — the composition gate: the as-of read
    // serves a MERGED root at horizons that straddle the merge itself
    // (0 = the `merged-from=` b0 union of both crawls, 1 = + a
    // post-merge fold, 2 = post-takedown). Nothing new is built — the
    // gate proves the two round-16 features compose: b0's dir order
    // admits it at every horizon alongside the seed copy, the stats
    // deltas scope the same way, and the takedown's d2 hides below
    // nothing it shouldn't. Oracle = the same horizon-restricted BM25
    // arithmetic as text_bm25_asof, over the union corpus.
    QuerySpec("text_bm25_merged_asof",
      s"""SELECT CAST(0 AS BIGINT) AS horizon, doc_id, score
         |FROM (${bm25OracleSqlOver("doc_id % 5 <> 4")})
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS horizon, doc_id, score
         |FROM (${bm25OracleSqlOver("TRUE")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, doc_id, score
         |FROM (${bm25OracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = ensureMergedAsOfBm25Index(s, d)
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        bm25TopK(s, idx, asOf = Some(h))
          .select(lit(h).as("horizon"), col("doc_id"), col("score"))
      }.reduce(_.union(_))
    },

    // AS-OF exact-phrase search — the positional index joins the
    // time-travel family: the pair-postings read drops fold sub-roots
    // and tombstone batches above the horizon at LIST time, so a
    // training run can pin "the corpus as the phrase filter saw it at
    // fold N". Oracle = the word-offset conjunction over each
    // horizon's document set.
    QuerySpec("text_phrase_asof",
      s"""SELECT CAST(0 AS BIGINT) AS horizon, doc_id, n_hits, first_pos
         |FROM (${phraseOracleSqlOver("doc_id % 5 <> 4")})
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS horizon, doc_id, n_hits, first_pos
         |FROM (${phraseOracleSqlOver("1 = 1")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, doc_id, n_hits, first_pos
         |FROM (${phraseOracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = ensureAsOfPhraseIndex(s, d)
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        phraseTopK(s, idx, ProbePhrase, asOf = Some(h))
          .select(lit(h).as("horizon"), col("doc_id"),
            col("n_hits"), col("first_pos"))
      }.reduce(_.union(_))
    },

    // Floor-bounded retention on the PHRASE root — the vacuumKinds
    // kernel on positional pair postings; horizons 1–2 hash-equal to
    // the unvacuumed construction (text_phrase_asof's surviving
    // branches), horizon 0 reclaimed.
    QuerySpec("text_phrase_vacuum",
      s"""SELECT CAST(1 AS BIGINT) AS horizon, doc_id, n_hits, first_pos
         |FROM (${phraseOracleSqlOver("1 = 1")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, doc_id, n_hits, first_pos
         |FROM (${phraseOracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = Fixture("graft_phrase_vacuum", Phrase.kind,
        docLifecycle(s, d, 1L, 2L) :+ Vacuum(1L)).ensure(s, d)
      Par.buildAll(Seq(1L, 2L)) { h =>
        phraseTopK(s, idx, ProbePhrase, asOf = Some(h))
          .select(lit(h).as("horizon"), col("doc_id"),
            col("n_hits"), col("first_pos"))
      }.reduce(_.union(_))
    },

    // Floor-bounded retention on the NEAR root — with the base table,
    // BM25, IVF, trigram and phrase gates this makes retention a
    // protocol feature of EVERY ledgered positional/postings family.
    QuerySpec("text_near_vacuum",
      s"""SELECT CAST(1 AS BIGINT) AS horizon, doc_id, best_span, n_windows
         |FROM (${nearOracleSqlOver("1 = 1")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, doc_id, best_span, n_windows
         |FROM (${nearOracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = Fixture("graft_near_vacuum", Near.kind,
        docLifecycle(s, d, 1L, 2L) :+ Vacuum(1L)).ensure(s, d)
      Par.buildAll(Seq(1L, 2L)) { h =>
        nearSearch(s, idx, NearWords, NearWindow, asOf = Some(h))
          .select(lit(h).as("horizon"), col("doc_id"),
            col("best_span"), col("n_windows"))
      }.reduce(_.union(_))
    },

    // AS-OF substring (grep) search: horizon-scoped trigram
    // CANDIDATES (the verify semi-join then admits only those, so the
    // horizon restriction rides the index read — the corpus text scan
    // needs no time-travel of its own for planted-free tables).
    QuerySpec("text_substring_asof",
      s"""SELECT CAST(0 AS BIGINT) AS horizon, doc_id, n_occ
         |FROM (${substringOracleSqlOver("doc_id % 5 <> 4")})
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS horizon, doc_id, n_occ
         |FROM (${substringOracleSqlOver("1 = 1")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, doc_id, n_occ
         |FROM (${substringOracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = ensureAsOfSubstringIndex(s, d)
      val docs = Tables.documents(s, d)
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        substringSearch(s, idx, docs, ProbeNeedle, asOf = Some(h))
          .select(lit(h).as("horizon"), col("doc_id"), col("n_occ"))
      }.reduce(_.union(_))
    },

    // Floor-bounded retention on the trigram root — the fourth index
    // family on the shared vacuumKinds kernel (base table, BM25,
    // vectors, trigram postings): horizons 1–2 hash-equal to the
    // unvacuumed construction, horizon 0 reclaimed.
    QuerySpec("text_substring_vacuum",
      s"""SELECT CAST(1 AS BIGINT) AS horizon, doc_id, n_occ
         |FROM (${substringOracleSqlOver("1 = 1")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, doc_id, n_occ
         |FROM (${substringOracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = ensureVacuumedSubstringIndex(s, d)
      val docs = Tables.documents(s, d)
      Par.buildAll(Seq(1L, 2L)) { h =>
        substringSearch(s, idx, docs, ProbeNeedle, asOf = Some(h))
          .select(lit(h).as("horizon"), col("doc_id"), col("n_occ"))
      }.reduce(_.union(_))
    },

    // AS-OF proximity (NEAR) search: all three positional/trigram
    // index kinds now serve ledger horizons — with BM25 and the two
    // ANN-side as-ofs, EVERY persisted index kind in the engine can
    // reproduce "what the filter saw at fold N".
    QuerySpec("text_near_asof",
      s"""SELECT CAST(0 AS BIGINT) AS horizon, doc_id, best_span, n_windows
         |FROM (${nearOracleSqlOver("doc_id % 5 <> 4")})
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS horizon, doc_id, best_span, n_windows
         |FROM (${nearOracleSqlOver("1 = 1")})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, doc_id, best_span, n_windows
         |FROM (${nearOracleSqlOver("doc_id % 7 <> 3")})""".stripMargin) {
      (s, d) =>
      val idx = ensureAsOfNearIndex(s, d)
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        nearSearch(s, idx, NearWords, NearWindow, asOf = Some(h))
          .select(lit(h).as("horizon"), col("doc_id"),
            col("best_span"), col("n_windows"))
      }.reduce(_.union(_))
    },

    // Cross-index consistent-horizon serve — the reproducible-
    // training-run story that motivates as-of, now that every index
    // kind speaks it: ONE query serving THREE persisted index kinds
    // (BM25 inverted, trigram substring, float IVF) at the SAME
    // ledger horizon and fusing them — the lexical top-K RRF-fused
    // with the dense top-K, each row flagged with its horizon-scoped
    // substring membership. A training run that pins "fold N" gets
    // the same retrieval surface back across every index it reads.
    // Each index's horizon state is its OWN ledger fact (the text
    // ledgers delete doc_id % 7 = 3 at fold 2; the ANN ledger deletes
    // vec_id % 9 = 0) — consistency means same HORIZON NUMBER, and
    // the oracle recomputes each kind's horizon-restricted rebuild
    // and the fusion end-to-end. The refusal path (one index
    // compacted past the horizon ⇒ the whole matrix serve refuses)
    // is pinned in AsOfIndexSpec.
    QuerySpec("q_asof_matrix", asofMatrixOracleSql) { (s, d) =>
      val bmIdx = ensureAsOfBm25Index(s, d)
      val subIdx = ensureAsOfSubstringIndex(s, d)
      val annIdx = Similarity.ensureAsOfIvfIndex(s, d)
      val qd = s.read.parquet(ensureDenseQuery(s, d))
      val docs = Tables.documents(s, d)
      // independent horizons built concurrently: each serve's
      // construction runs small driver jobs (probe-cell collect, cents
      // count, ledger listings) that would otherwise serialize ×3
      // (guide §2.6); the fused union still executes as one query
      Par.buildAll(Seq(0L, 1L, 2L))(
          h => asOfMatrixServe(s, bmIdx, subIdx, annIdx, qd, docs, h))
        .reduce(_.unionByName(_))
    },

    // The consistent-horizon matrix with the PRODUCTION ANN rung: the
    // dense leg serves from the persisted IVF-PQ index under the same
    // ledger horizon as the lexical legs — ADC over ~16 B/vector codes,
    // rerank shortlist, sidecar point lookups, all horizon-scoped. A
    // training run that pins "fold N" on a PQ-backed retrieval stack
    // gets the same fused surface back; one leg's honesty refusal
    // refuses the whole matrix, same as q_asof_matrix.
    QuerySpec("q_asof_matrix_pq", asofMatrixPqOracleSql) { (s, d) =>
      val bmIdx = ensureAsOfBm25Index(s, d)
      val subIdx = ensureAsOfSubstringIndex(s, d)
      val pqIdx = Similarity.ensureEvolvedIvfPqIndex(s, d)
      val qd = s.read.parquet(ensureDenseQuery(s, d))
      val docs = Tables.documents(s, d)
      // concurrent horizon construction — the q_asof_matrix note
      Par.buildAll(Seq(0L, 1L, 2L))(h =>
          asOfMatrixServePq(s, bmIdx, subIdx, pqIdx, qd, docs, d, h))
        .reduce(_.unionByName(_))
    },

    // Pseudo-relevance-feedback query expansion (the RM3 shape): the
    // initial BM25 retrieval's top-3 docs nominate expansion terms,
    // scored ftf × ln(N/df) — feedback term frequency times rarity —
    // the best 5 non-query terms join the query, and the EXPANDED
    // term set re-retrieves. Scale shape: feedback docs are k point
    // lookups on the documents table (In(doc_id) pushdown), candidate
    // df comes off the INDEX (bucket prune + semi-join — candidates
    // are bounded by the feedback docs' token count, the buckets by
    // construction ≤ 32), expansion selection is one bounded
    // top_k_str aggregate, and both retrievals are the standard
    // bucket-pruned index serves. Driver collects: 3 feedback ids,
    // ≤ 32 bucket ids, 5 expansion terms — all constants.
    QuerySpec("text_bm25_prf", {
      val termList = QueryTerms.map("'" + _ + "'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |              avg(len(ws)) AS avgdl FROM d),
         |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
         |tf0 AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
         |       WHERE word IN ($termList) GROUP BY word, doc_id, dl),
         |df0 AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
         |       FROM tf0 GROUP BY word),
         |sc0 AS (SELECT tf0.doc_id,
         |         sum(ln(1.0 + (st.n - df0.df + 0.5) / (df0.df + 0.5))
         |             * (tf0.tf * CAST(2.2 AS DOUBLE)
         |                / (tf0.tf + 1.2 * (0.25 + 0.75 * tf0.dl / st.avgdl))))
         |           AS score
         |       FROM tf0 JOIN df0 USING (word), st
         |       GROUP BY tf0.doc_id),
         |fb AS (SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      ORDER BY round(score, 4) DESC, doc_id) AS r FROM sc0)
         |  WHERE r <= 3),
         |cand AS (SELECT word, count(*) AS ftf FROM t JOIN fb USING (doc_id)
         |         WHERE word NOT IN ($termList) GROUP BY word),
         |cdf AS (SELECT word, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
         |        FROM t WHERE word IN (SELECT word FROM cand)
         |        GROUP BY word),
         |exp AS (SELECT word FROM (
         |    SELECT c.word, row_number() OVER (
         |      ORDER BY round(c.ftf * ln(st.n / cdf.df), 4) DESC, c.word) AS r
         |    FROM cand c JOIN cdf USING (word), st)
         |  WHERE r <= 5),
         |qset AS (SELECT word FROM exp
         |         UNION ALL SELECT unnest([$termList]) AS word),
         |tf1 AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
         |       WHERE word IN (SELECT word FROM qset)
         |       GROUP BY word, doc_id, dl),
         |df1 AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
         |       FROM tf1 GROUP BY word),
         |sc1 AS (SELECT tf1.doc_id,
         |         sum(ln(1.0 + (st.n - df1.df + 0.5) / (df1.df + 0.5))
         |             * (tf1.tf * CAST(2.2 AS DOUBLE)
         |                / (tf1.tf + 1.2 * (0.25 + 0.75 * tf1.dl / st.avgdl))))
         |           AS score
         |       FROM tf1 JOIN df1 USING (word), st
         |       GROUP BY tf1.doc_id)
         |SELECT doc_id, round(score, 4) AS score FROM sc1
         |ORDER BY round(score, 4) DESC, doc_id LIMIT $TopK""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val idx = ensureBm25Index(s, d)
      val fbIds = bm25TopK(s, idx)
        .orderBy(col("score").desc, col("doc_id")).limit(3)
        .select(col("doc_id")).as[Long].collect().toSeq
      val cand = Tables.documents(s, d)
        .filter(col("doc_id").isin(fbIds: _*))
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(!col("word").isInCollection(QueryTerms))
        .groupBy(col("word")).agg(count(lit(1)).as("ftf"))
      val candBuckets = cand
        .select(pmod(xxhash64(col("word")), lit(Buckets)).as("bucket"))
        .distinct().collect().map(_.getLong(0)).sorted
      val cdf = indexPostings(s, idx)
        .filter(col("bucket").isin(candBuckets: _*))
        .join(cand.select(col("word")), Seq("word"), "left_semi")
        .groupBy(col("word")).agg(count(lit(1)).cast("double").as("df"))
      val expanded = cand.join(cdf, Seq("word"))
        .crossJoin(broadcast(indexStats(s, idx).select(col("n"))))
        .select(col("word"),
          round(col("ftf") * log(col("n") / col("df")), 4).as("es"))
        .agg(graft.functions.TopKAgg.top_k_str(
          col("es"), col("word"), 5).as("top"))
        .select(explode(col("top")).as("sc"))
        .select(col("sc.id")).as[String].collect().toSeq
      bm25TopK(s, idx, QueryTerms ++ expanded)
    },

    // Hard-negative mining — the retrieval-training-data op (the
    // DPR/contrastive shape): for each training query, the top
    // retrieved documents that are NOT its labeled positives become
    // its negatives. Contract: retrieve to DEPTH 2k from the persisted
    // index (one bm25Batch pass — the whole batch pays one bucket
    // prune), drop positives (here the query's doc_id ≡ query_id mod 3
    // residue class — the fixture's labeling convention), keep the
    // first k survivors with BOTH their original retrieval rank and
    // their negative rank. Per-query cuts are the bounded top_k
    // aggregate on the negated rank (ranks are unique per query, so
    // the tie rule never fires); nothing re-scores and nothing
    // re-reads the corpus.
    QuerySpec("text_hard_negatives", {
      val values = MultiQueries.map { case (id, ts) =>
        s"($id, [${ts.map("'" + _ + "'").mkString(", ")}])"
      }.mkString(", ")
      s"""WITH q AS (SELECT * FROM (VALUES $values) AS v(query_id, terms)),
         |qt AS (SELECT DISTINCT query_id, unnest(terms) AS word FROM q),
         |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |              avg(len(ws)) AS avgdl FROM d),
         |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
         |tf AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
         |       WHERE word IN (SELECT word FROM qt)
         |       GROUP BY word, doc_id, dl),
         |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
         |       FROM tf GROUP BY word),
         |sc AS (SELECT qt.query_id, tf.doc_id,
         |         round(sum(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
         |             * (tf.tf * CAST(2.2 AS DOUBLE)
         |                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)))),
         |           4) AS score
         |       FROM tf JOIN df USING (word) JOIN qt USING (word), st
         |       GROUP BY qt.query_id, tf.doc_id),
         |r AS (SELECT query_id, doc_id,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY score DESC, doc_id) AS rank
         |      FROM sc),
         |neg AS (SELECT query_id, doc_id, rank FROM r
         |        WHERE rank <= ${2 * TopK}
         |          AND doc_id % 3 <> query_id % 3),
         |nr AS (SELECT query_id, doc_id, rank AS bm25_rank,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rank) AS neg_rank
         |       FROM neg)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  bm25_rank, neg_rank
         |FROM nr WHERE neg_rank <= $TopK""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val retrieved = bm25Batch(s, ensureBm25Index(s, d),
        MultiQueries.toDF("query_id", "terms"), k = 2 * TopK)
      retrieved
        .filter(col("doc_id") % 3 =!= col("query_id") % 3)
        .groupBy(col("query_id"))
        .agg(graft.functions.TopKAgg.top_k(
          -col("rank").cast("double"), col("doc_id"), TopK).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sc")))
        .select(col("query_id"), col("sc.id").as("doc_id"),
          (-col("sc.score")).cast("int").as("bm25_rank"),
          (col("pos") + 1).cast("int").as("neg_rank"))
    },

    // Hybrid retrieval via reciprocal-rank fusion: the standard "fuse
    // two rankers that disagree" shape of production search (usually
    // BM25 + dense; here BM25 + a query-term-coverage Jaccard ranker —
    // BM25 rewards rare-term frequency, coverage rewards matching MORE
    // of the query in a small vocabulary, so the orderings genuinely
    // differ). Each ranker's top-10 ranks come from the bounded-state
    // top_k aggregate (k-pair buffers, partial-merged — the repo-wide
    // no-unpartitioned-window rule), fused as
    // rrf = Σ 1/(60 + rank) over the lists a doc appears in, absent
    // ranks reported as 0. The fusion join is ≤ 2·k rows; everything
    // corpus-scale is the two rankers' existing one-pass shapes. The
    // oracle recomputes both rankings and the fusion end-to-end.
    QuerySpec(
      "text_hybrid_rrf",
      hybridRrfOracleSql) { (s, d) => hybridRrf(s, d, bm25(s, d)) },
    // The same hybrid contract SERVED FROM THE PERSISTED inverted
    // index: the lexical side is bm25TopK over ensureBm25Index (static
    // bucket-pruned postings, no corpus re-tokenization) — result-
    // identical to corpus-direct BM25 by the text_bm25_indexed gate,
    // so this query shares text_hybrid_rrf's oracle verbatim. What it
    // banks: fusion serving needs only the index's pruned read plus
    // the coverage ranker's one-pass scan.
    QuerySpec("text_hybrid_rrf_indexed", hybridRrfOracleSql) { (s, d) =>
      hybridRrf(s, d, bm25TopK(s, ensureBm25Index(s, d)))
    },

    // TRUE dense+lexical hybrid — both rankers served from their
    // PERSISTED indexes: BM25 from the bucket-pruned inverted index
    // (bm25TopK / ensureBm25Index) fused with IVF vector search from
    // the cell-partitioned vector index (Similarity.indexTopK /
    // ensureIvfIndex) over a SYNTHETIC query embedding — the per-dim
    // mean of the first 20 document embeddings (vec_id ≡ doc_id in the
    // corpus, both 0..N), a non-corpus vector that exercises the probe
    // path the way a real encoded query would. Fusion is the same RRF
    // as text_hybrid_rrf (Σ 1/(60+rank), absent ranks 0, ≤ 2·k fusion
    // join — plan-pinned in RetrievalSpec). The oracle recomputes BOTH
    // index constructions (BM25 arithmetic verbatim; the IVF
    // seed→Lloyd→assign→probe chain of sim_ivf) and the fusion
    // end-to-end. This replaces the coverage-ranker stand-in as the
    // production shape the module comment names.
    QuerySpec("text_hybrid_dense", hybridDenseOracleSql) { (s, d) =>
      hybridFuse2(
        () => ranksOf(
          bm25TopK(s, ensureBm25Index(s, d))
            .select(col("doc_id"), col("score").as("s")))
          .withColumnRenamed("r", "br"),
        () => Similarity.indexTopK(
          s, Similarity.ensureIvfIndex(s, d),
          s.read.parquet(ensureDenseQuery(s, d)), k = TopK)
          .select(col("neighbor_id").as("doc_id"),
            col("rank").cast("long").as("dr")))
    },

    // Hybrid with the dense leg served from the PERSISTED IVF-PQ
    // index — the configuration a 10⁹-vector corpus actually runs:
    // the coarse prune reads ~nprobe/K of the corpus at ~16 B/vector
    // of CODES (vs 256 B of floats on the text_hybrid_dense leg), ADC
    // scores reconstructions, and only the ≤ rerank shortlist touches
    // full precision — as In(vec_id,…) point lookups on the
    // embeddings sidecar, never a corpus stream. Lexical leg and RRF
    // fusion are text_hybrid_dense's verbatim; the oracle recomputes
    // the full PQ composition (Similarity.ivfPqServeCtes) in place of
    // the float IVF chain.
    QuerySpec("text_hybrid_pq", hybridPqOracleSql) { (s, d) =>
      hybridFuse2(
        () => ranksOf(
          bm25TopK(s, ensureBm25Index(s, d))
            .select(col("doc_id"), col("score").as("s")))
          .withColumnRenamed("r", "br"),
        () => Similarity.ivfPqTopK(
          s, Similarity.ensureIvfPqIndex(s, d),
          s.read.parquet(ensureDenseQuery(s, d)),
          Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").as("v")),
          k = TopK)
          .select(col("neighbor_id").as("doc_id"),
            col("rank").cast("long").as("dr")))
    },
    // The hybrid fusion's dense leg from the BINARY index — the
    // cheapest-rung member of the hybrid family ({float 256 B, PQ
    // ~16 B, binary 16 B/row with integer-ALU scoring}): identical
    // lexical leg and RRF fusion, the dense leg's probed cells read
    // as two BIGINTs per vector, Hamming-shortlisted, full precision
    // touched only as the shortlist's In(vec_id,…) point lookups.
    // Oracle composes ivfBinaryServeCtes in place of the PQ chain —
    // all hybrid gates certify one lexical construction and one
    // fusion tail.
    QuerySpec("text_hybrid_binary", hybridBinaryOracleSql) { (s, d) =>
      hybridFuse2(
        () => ranksOf(
          bm25TopK(s, ensureBm25Index(s, d))
            .select(col("doc_id"), col("score").as("s")))
          .withColumnRenamed("r", "br"),
        () => Similarity.ivfBinaryTopK(
          s, Similarity.ensureIvfBinaryIndex(s, d),
          s.read.parquet(ensureDenseQuery(s, d)),
          Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").as("v")),
          k = TopK)
          .select(col("neighbor_id").as("doc_id"),
            col("rank").cast("long").as("dr")))
    },

    // The filtered contract on the PQ-backed hybrid — completing the
    // hybrid matrix ({float, PQ} × {unfiltered, filtered}): the label
    // slice lands as text_hybrid_filtered's posting-side semi-join on
    // the BM25 leg (global scores, restricted candidates) and as
    // sim_ivfpq_filtered's pre-ADC semi-join on the codes leg, so at
    // scale the restriction costs one join on the |terms|-bounded
    // postings and one on the probed cells' ~16 B/vector codes subset.
    // The filtered contract at the binary rung — completing the
    // hybrid matrix {float, PQ, binary} × {unfiltered, filtered}: the
    // label slice lands posting-side on the BM25 leg (global scores,
    // restricted candidates) and pre-Hamming on the sign-word leg, so
    // the restriction costs one join on the |terms|-bounded postings
    // and one on the probed cells' 16 B/row sign words.
    QuerySpec("text_hybrid_binary_filtered",
        hybridBinaryFilteredOracleSql) { (s, d) =>
      val allowedIds = Tables.embeddings(s, d)
        .filter(col("label").isin(0, 2, 4, 6, 8))
        .select(col("vec_id"))
      hybridFuse2(
        () => ranksOf(
          bm25TopKFiltered(s, ensureBm25Index(s, d),
            allowedIds.select(col("vec_id").as("doc_id")))
            .select(col("doc_id"), col("score").as("s")))
          .withColumnRenamed("r", "br"),
        () => Similarity.ivfBinaryTopK(
          s, Similarity.ensureIvfBinaryIndex(s, d),
          s.read.parquet(ensureDenseQuery(s, d)),
          Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").as("v")),
          k = TopK, allowed = Some(allowedIds))
          .select(col("neighbor_id").as("doc_id"),
            col("rank").cast("long").as("dr")))
    },

    QuerySpec("text_hybrid_pq_filtered", hybridPqFilteredOracleSql) {
      (s, d) =>
      val allowedIds = Tables.embeddings(s, d)
        .filter(col("label").isin(0, 2, 4, 6, 8))
        .select(col("vec_id"))
      hybridFuse2(
        () => ranksOf(
          bm25TopKFiltered(s, ensureBm25Index(s, d),
            allowedIds.select(col("vec_id").as("doc_id")))
            .select(col("doc_id"), col("score").as("s")))
          .withColumnRenamed("r", "br"),
        () => Similarity.ivfPqTopK(
          s, Similarity.ensureIvfPqIndex(s, d),
          s.read.parquet(ensureDenseQuery(s, d)),
          Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").as("v")),
          k = TopK, allowed = Some(allowedIds))
          .select(col("neighbor_id").as("doc_id"),
            col("rank").cast("long").as("dr")))
    },

    // FILTERED dense+lexical hybrid — the production "search within a
    // tenant/language slice" shape: the same two persisted-index
    // rankers as text_hybrid_dense, each with the metadata predicate
    // pushed into ITS candidate side — the BM25 leg as a posting-side
    // semi-join after the bucket prune (df and corpus stats stay
    // global: the filter restricts candidates, it does not redefine
    // the ranking), the IVF leg as the sim_ivf_filtered allowed-set
    // semi-join after the cell prune — fused by the same RRF. The
    // allowed set is a (vec_id, label) sidecar scan with the label
    // predicate pushed down (In → parquet PushedFilters); the corpus
    // text and float vectors are still never re-read. The oracle
    // recomputes both filtered legs and the fusion end-to-end.
    QuerySpec("text_hybrid_filtered",
      hybridDenseOracleSqlOver(
        "tf.doc_id IN (SELECT vec_id FROM embeddings WHERE label IN (0, 2, 4, 6, 8))",
        "a1.vec_id IN (SELECT vec_id FROM embeddings WHERE label IN (0, 2, 4, 6, 8))")) {
      (s, d) =>
      val allowedIds = Tables.embeddings(s, d)
        .filter(col("label").isin(0, 2, 4, 6, 8))
        .select(col("vec_id"))
      hybridFuse2(
        () => ranksOf(
          bm25TopKFiltered(s, ensureBm25Index(s, d),
            allowedIds.select(col("vec_id").as("doc_id")))
            .select(col("doc_id"), col("score").as("s")))
          .withColumnRenamed("r", "br"),
        () => Similarity.indexTopK(
          s, Similarity.ensureIvfIndex(s, d),
          s.read.parquet(ensureDenseQuery(s, d)), k = TopK,
          allowed = Some(allowedIds))
          .select(col("neighbor_id").as("doc_id"),
            col("rank").cast("long").as("dr")))
    },

    // MANY hybrid queries, one distributed job — the batch analog of
    // text_bm25_multi lifted to the dense+lexical fusion: every query
    // carries a term set AND an embedding, the batch pays ONE bucket
    // prune on the inverted index and ONE cell prune on the vector
    // index, and fusion + per-query ranking run window-free on the
    // ≤ 2·k-per-query fused frame. The oracle recomputes both index
    // constructions, all three queries' rankings, and the fusion
    // end-to-end. streaming.StreamingHybrid serves the same core per
    // micro-batch.
    QuerySpec("text_hybrid_multi", hybridMultiOracleSql) { (s, d) =>
      hybridBatch(s, ensureBm25Index(s, d),
        Similarity.ensureIvfIndex(s, d),
        s.read.parquet(ensureHybridQueryBatch(s, d)))
    },
  )

  /** The synthetic dense query: one `(query_id = -1, qv)` row, the
    * element-wise mean of the first 20 document embeddings. query_id
    * −1 sits outside the id domain, so the index's self-match
    * exclusion never bars a corpus vector.
    */
  private def denseQuery(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 20)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(avg(col("x")).as("qx"))
      .agg(array_sort(collect_list(struct(col("dim"), col("qx"))))
        .as("pairs"))
      .select(lit(-1L).as("query_id"),
        transform(col("pairs"), p => p("qx")).as("qv"))

  /** Build-if-absent the staged single dense query —
    * [[ensureHybridQueryBatch]]'s contract for the one-query gate: the
    * synthetic embedding's corpus aggregate runs once at stage time,
    * so `text_hybrid_dense`'s serve job reads only the two index roots
    * plus this one-row frame.
    */
  def ensureDenseQuery(s: SparkSession, d: String): String = {
    val root = Fixture.root(s, d, "graft_hybrid_qdense")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.ensurePublishedDir(s, root)(r =>
      fs.exists(new org.apache.hadoop.fs.Path(r, "_SUCCESS"))
    ) { staging =>
      // Overwrite: the staging dir pre-exists (ensurePublishedDir
      // stamps it with a liveness marker before the build)
      denseQuery(s, d).coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(staging)
    }
  }

  private lazy val hybridDenseOracleSql: String =
    hybridDenseOracleSqlOver("TRUE", "TRUE")

  /** The dense+lexical hybrid oracle, candidate restrictions pluggable:
    * `lexWhere` bars docs from the BM25 scoring side (df and corpus
    * stats stay GLOBAL — the filter restricts candidates, it does not
    * redefine the corpus) and `denseWhere` bars vectors from the IVF
    * candidate side. `text_hybrid_dense` plugs TRUE/TRUE;
    * `text_hybrid_filtered` the label-slice predicate on both legs.
    */
  /** The hybrid oracles' shared lexical leg: BM25 arithmetic over the
    * gate terms, candidates optionally restricted by `lexWhere` (df
    * and corpus stats stay GLOBAL) → `br(doc_id, r)`.
    */
  private def hybridLexCtes(lexWhere: String): String = {
    val termList = QueryTerms.map("'" + _ + "'").mkString(", ")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |              avg(len(ws)) AS avgdl FROM d),
       |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
       |tf AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
       |       WHERE word IN ($termList) GROUP BY word, doc_id, dl),
       |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
       |       FROM tf GROUP BY word),
       |sc AS (SELECT tf.doc_id,
       |         sum(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |             * (tf.tf * CAST(2.2 AS DOUBLE)
       |                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))))
       |           AS score
       |       FROM tf JOIN df USING (word), st
       |       WHERE $lexWhere
       |       GROUP BY tf.doc_id),
       |br AS (SELECT doc_id, r FROM (
       |    SELECT doc_id, row_number() OVER (
       |      ORDER BY round(score, 4) DESC, doc_id) AS r FROM sc)
       |  WHERE r <= $TopK)""".stripMargin
  }

  /** The hybrid oracles' shared synthetic dense query: the corpus
    * frame `e` plus the one-row per-dim-mean query `qd(query_id, qv)`
    * ([[denseQuery]]'s arithmetic).
    */
  private val hybridDenseQueryCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings),
       |qm AS (SELECT dd, avg(v[dd]) AS qx
       |       FROM e, range(1, 65) rr(dd) WHERE vec_id < 20 GROUP BY dd),
       |qd AS (SELECT CAST(-1 AS BIGINT) AS query_id,
       |              list(qx ORDER BY dd) AS qv FROM qm)""".stripMargin

  /** The hybrid oracles' shared RRF fusion tail over `br(doc_id, r)`
    * and `dr(doc_id, r)`.
    */
  private val hybridFusionTail: String =
    s"""f AS (SELECT coalesce(br.doc_id, dr.doc_id) AS doc_id,
       |    CAST(coalesce(br.r, 0) AS BIGINT) AS bm25_rank,
       |    CAST(coalesce(dr.r, 0) AS BIGINT) AS dense_rank,
       |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + br.r), 0)
       |        + coalesce(CAST(1.0 AS DOUBLE) / (60 + dr.r), 0), 4) AS rrf
       |  FROM br FULL JOIN dr ON br.doc_id = dr.doc_id)
       |SELECT doc_id, bm25_rank, dense_rank, rrf FROM f
       |ORDER BY rrf DESC, doc_id LIMIT $TopK""".stripMargin

  private def hybridDenseOracleSqlOver(lexWhere: String,
      denseWhere: String): String = {
    s"""WITH ${hybridLexCtes(lexWhere)},
       |$hybridDenseQueryCtes,
       |seeds AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |          WHERE vec_id % 25 = 0),
       |a0 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, s.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
       |    FROM e, seeds s) WHERE rn = 1),
       |cd AS (SELECT cent_id, dd, avg(v[dd]) AS cx
       |       FROM a0, range(1, 65) rr(dd) GROUP BY cent_id, dd),
       |cents AS (SELECT cent_id, list(cx ORDER BY dd) AS cv
       |          FROM cd GROUP BY cent_id),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM e, cents c) WHERE rn = 1),
       |dpr AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM qd q, cents c) WHERE rn <= 4),
       |dsc AS (SELECT p.query_id, a1.vec_id AS doc_id,
       |    round(list_cosine_similarity(p.qv, a1.v), 4) AS sim
       |  FROM dpr p JOIN a1 ON p.cent_id = a1.cent_id
       |    AND a1.vec_id <> p.query_id
       |  WHERE $denseWhere),
       |dr AS (SELECT doc_id, r FROM (
       |    SELECT doc_id, row_number() OVER (
       |      ORDER BY sim DESC, doc_id) AS r FROM dsc)
       |  WHERE r <= $TopK),
       |$hybridFusionTail""".stripMargin
  }

  /** One horizon of the `q_asof_matrix` oracle: the horizon's BM25
    * rebuild (stats over the horizon corpus — the as-of contract,
    * unlike the hybrid gates' global-stats candidate filter), the
    * horizon-restricted dense serve over the shared grown construction
    * (`Similarity.asofMatrixDenseCtes`), the substring rebuild as a
    * membership flag, and the RRF fusion tail.
    */
  private def asofMatrixHorizonSql(h: Int, textWhere: String,
      annWhere: String): String =
    asofMatrixHorizonSqlWith(h, textWhere,
      s"""SELECT doc_id, r FROM (
         |       SELECT a1.vec_id AS doc_id,
         |         row_number() OVER (
         |           ORDER BY round(list_cosine_similarity(p.qv, a1.v), 4)
         |             DESC, a1.vec_id) AS r
         |       FROM mdpr p JOIN a1 ON p.cent_id = a1.cent_id
         |         AND a1.vec_id <> p.query_id
         |       WHERE $annWhere) WHERE r <= $TopK""".stripMargin)

  /** [[asofMatrixHorizonSql]] with the dense ranked leg pluggable —
    * `denseSql` must yield `(doc_id, r)` with r ≤ TopK. The PQ matrix
    * plugs each horizon's ranked serve from
    * [[Similarity.asofMatrixPqCtes]].
    */
  private def asofMatrixHorizonSqlWith(h: Int, textWhere: String,
      denseSql: String): String =
    s"""m$h AS (SELECT * FROM (
       |  SELECT CAST($h AS BIGINT) AS horizon,
       |    coalesce(br.doc_id, dr.doc_id) AS doc_id,
       |    CAST(coalesce(br.r, 0) AS BIGINT) AS bm25_rank,
       |    CAST(coalesce(dr.r, 0) AS BIGINT) AS dense_rank,
       |    CAST(CASE WHEN sub.doc_id IS NOT NULL THEN 1 ELSE 0 END
       |      AS BIGINT) AS in_substring,
       |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + br.r), 0)
       |        + coalesce(CAST(1.0 AS DOUBLE) / (60 + dr.r), 0), 4) AS rrf
       |  FROM
       |    (SELECT doc_id,
       |       row_number() OVER (ORDER BY score DESC, doc_id) AS r
       |     FROM (${bm25OracleSqlOver(textWhere)})) br
       |  FULL JOIN
       |    ($denseSql) dr
       |  ON br.doc_id = dr.doc_id
       |  LEFT JOIN (SELECT DISTINCT doc_id
       |             FROM (${substringOracleSqlOver(textWhere)})) sub
       |    ON coalesce(br.doc_id, dr.doc_id) = sub.doc_id
       |) ORDER BY rrf DESC, doc_id LIMIT $TopK)""".stripMargin

  /** One horizon of the cross-index matrix serve: BM25, substring and
    * dense ANN all read their ledgers asOf `h` and fuse. Any leg whose
    * ledger cannot honestly serve `h` (compacted or refreshed past it)
    * throws its honesty-guard refusal, refusing the WHOLE matrix — a
    * partially-consistent readout would silently mix horizons, the
    * exact failure mode the consistent-horizon serve exists to
    * prevent. Refusal path pinned in `AsOfIndexSpec`.
    */
  private[graft] def asOfMatrixServe(s: SparkSession, bmIdx: String,
      subIdx: String, annIdx: String, qd: DataFrame, docs: DataFrame,
      h: Long): DataFrame =
    matrixFuse(s, bmIdx, subIdx, docs, h,
      () => Similarity.indexTopK(s, annIdx, qd, k = TopK, asOf = Some(h))
        .select(col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("dr")))

  /** [[asOfMatrixServe]] with the dense leg served from the PERSISTED
    * PQ index — the production ANN rung inside the consistent-horizon
    * matrix: ADC + rerank-shortlist + sidecar point lookups all under
    * the same ledger horizon as the lexical legs.
    */
  private def asOfMatrixServePq(s: SparkSession, bmIdx: String,
      subIdx: String, pqIdx: String, qd: DataFrame, docs: DataFrame,
      d: String, h: Long): DataFrame =
    matrixFuse(s, bmIdx, subIdx, docs, h,
      () => Similarity.ivfPqTopK(s, pqIdx, qd,
          Similarity.corpus(s, d).select(col("vec_id"), col("v")),
          k = TopK, asOf = Some(h))
        .select(col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("dr")))

  /** The matrix fusion core over an arbitrary ranked dense leg
    * `(doc_id, dr)` — the BM25 leg, substring membership flag and RRF
    * tail shared by the float and PQ matrix serves.
    */
  private def matrixFuse(s: SparkSession, bmIdx: String, subIdx: String,
      docs: DataFrame, h: Long, denseThunk: () => DataFrame): DataFrame = {
    // the three index legs are independent — their construction-time
    // work (PQ shortlist micro-batches, ledger listings) overlaps
    // WITHIN the horizon, on top of the cross-horizon overlap the
    // callers already run (guide §2.6)
    val Seq(lex, dense, sub) = Par.buildAll(Seq[() => DataFrame](
      () => ranksOf(bm25TopK(s, bmIdx, asOf = Some(h))
          .select(col("doc_id"), col("score").as("s")))
        .withColumnRenamed("r", "br"),
      denseThunk,
      () => substringSearch(s, subIdx, docs, ProbeNeedle,
          asOf = Some(h))
        .select(col("doc_id"), lit(1L).as("sub"))))(_.apply())
    lex.join(dense, Seq("doc_id"), "full")
      .join(sub, Seq("doc_id"), "left")
      .select(lit(h).as("horizon"), col("doc_id"),
        coalesce(col("br"), lit(0L)).as("bm25_rank"),
        coalesce(col("dr"), lit(0L)).as("dense_rank"),
        coalesce(col("sub"), lit(0L)).as("in_substring"),
        round(coalesce(lit(1.0) / (lit(60) + col("br")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)), 4)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(TopK)
  }

  private def asofMatrixOracleSql: String =
    s"""WITH ${Similarity.asofMatrixDenseCtes},
       |${asofMatrixHorizonSql(0, "doc_id % 5 <> 4", "a1.vec_id % 5 <> 4")},
       |${asofMatrixHorizonSql(1, "1 = 1", "TRUE")},
       |${asofMatrixHorizonSql(2, "doc_id % 7 <> 3", "a1.vec_id % 9 <> 0")}
       |SELECT * FROM m0
       |UNION ALL SELECT * FROM m1
       |UNION ALL SELECT * FROM m2""".stripMargin

  /** Oracle for `q_asof_matrix_pq`: the matrix fusion with the dense
    * leg recomputed as the evolved PQ fixture's FULL serve composition
    * per horizon ([[Similarity.asofMatrixPqCtes]] — frozen bounded
    * hist-trained artifacts, ADC over the probed cells, rerank-deep
    * shortlist, exact re-rank, each under its horizon's candidate
    * restriction).
    */
  private lazy val asofMatrixPqOracleSql: String =
    s"""WITH ${Similarity.asofMatrixPqCtes},
       |${asofMatrixHorizonSqlWith(0, "doc_id % 5 <> 4",
          "SELECT neighbor_id AS doc_id, rank AS r FROM h0")},
       |${asofMatrixHorizonSqlWith(1, "1 = 1",
          "SELECT neighbor_id AS doc_id, rank AS r FROM h1")},
       |${asofMatrixHorizonSqlWith(2, "doc_id % 7 <> 3",
          "SELECT neighbor_id AS doc_id, rank AS r FROM h2")}
       |SELECT * FROM m0
       |UNION ALL SELECT * FROM m1
       |UNION ALL SELECT * FROM m2""".stripMargin

  /** Oracle for `text_hybrid_pq`: the same lexical leg and fusion as
    * `text_hybrid_dense`, the dense leg the FULL bounded-K IVF-PQ
    * serve composition (`Similarity.ivfPqServeCtes` — seeds, Lloyd,
    * codebook, ADC over probed cells, rerank-deep shortlist, exact
    * re-rank) over the same synthetic query.
    */
  private lazy val hybridPqOracleSql: String =
    s"""WITH ${hybridLexCtes("TRUE")},
       |$hybridDenseQueryCtes,
       |${Similarity.ivfPqServeCtes("qd", "pqtop", k = TopK)},
       |dr AS (SELECT neighbor_id AS doc_id, rank AS r FROM pqtop),
       |$hybridFusionTail""".stripMargin

  /** Oracle for `text_hybrid_binary`: the same lexical leg and fusion
    * as `text_hybrid_dense`, the dense leg the FULL bounded-K
    * IVF+binary serve composition (`Similarity.ivfBinaryServeCtes` —
    * seeds, Lloyd, sign-pack, probe-cell Hamming shortlist, exact
    * re-rank) over the same synthetic query.
    */
  private lazy val hybridBinaryOracleSql: String =
    s"""WITH ${hybridLexCtes("TRUE")},
       |$hybridDenseQueryCtes,
       |${Similarity.ivfBinaryServeCtes("qd", "bntop", k = TopK)},
       |dr AS (SELECT neighbor_id AS doc_id, rank AS r FROM bntop),
       |$hybridFusionTail""".stripMargin

  /** Oracle for `text_hybrid_binary_filtered`: the label slice bars
    * docs from the BM25 scoring side (text_hybrid_filtered's
    * posting-side restriction) and from the binary Hamming candidate
    * side (ivfBinaryServeCtes' scWhere hook) — the PQ-filtered
    * composition at the binary rung.
    */
  private lazy val hybridBinaryFilteredOracleSql: String =
    s"""WITH ${hybridLexCtes(
          "tf.doc_id IN (SELECT vec_id FROM embeddings" +
            " WHERE label IN (0, 2, 4, 6, 8))")},
       |$hybridDenseQueryCtes,
       |${Similarity.ivfBinaryServeCtes("qd", "bntop",
          scWhere = "b.vec_id IN (SELECT vec_id FROM embeddings" +
            " WHERE label IN (0, 2, 4, 6, 8))", k = TopK)},
       |dr AS (SELECT neighbor_id AS doc_id, rank AS r FROM bntop),
       |$hybridFusionTail""".stripMargin

  /** Oracle for `text_hybrid_pq_filtered`: `text_hybrid_filtered`'s
    * candidate restrictions on `text_hybrid_pq`'s legs — the label
    * slice bars docs from the BM25 scoring side and from the PQ ADC
    * candidate side.
    */
  private lazy val hybridPqFilteredOracleSql: String =
    s"""WITH ${hybridLexCtes(
          "tf.doc_id IN (SELECT vec_id FROM embeddings" +
            " WHERE label IN (0, 2, 4, 6, 8))")},
       |$hybridDenseQueryCtes,
       |${Similarity.ivfPqServeCtes("qd", "pqtop",
          adcWhere = "a.vec_id IN (SELECT vec_id FROM embeddings" +
            " WHERE label IN (0, 2, 4, 6, 8))", k = TopK)},
       |dr AS (SELECT neighbor_id AS doc_id, rank AS r FROM pqtop),
       |$hybridFusionTail""".stripMargin

  /** The hybrid-serving batch: negative ids (outside the corpus id
    * domain, so the vector index's self-match exclusion never bars a
    * document), each with a term set AND a deterministic query
    * embedding (per-dim mean of its vec_id % 3 residue class).
    */
  val HybridMultiQueries: Seq[(Long, Seq[String])] = Seq(
    -1L -> Seq("dup"),
    -2L -> Seq("query", "scan"),
    -3L -> Seq("window", "merge", "line"))

  /** The batch's dense side: query −(g+1) carries the element-wise
    * mean of the embeddings with vec_id % 3 = g.
    */
  private def denseQueryBatch(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select((col("vec_id") % 3).as("g"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("g"), col("dim")).agg(avg(col("x")).as("qx"))
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("dim"), col("qx"))))
        .as("pairs"))
      .select((-(col("g") + 1)).cast("long").as("query_id"),
        transform(col("pairs"), p => p("qx")).as("qv"))

  /** Build-if-absent the persisted (query_id, terms, qv) batch the
    * hybrid gate serves — the synthetic queries' two corpus-wide
    * groupBys run ONCE at stage time, never per serve. In production
    * the query frame is an INPUT (embeddings encoded upstream of the
    * engine); staging the gate's synthetic stand-ins restores exactly
    * that boundary, so the serve job's file scans touch only the two
    * index roots plus this constant-size frame — plan-pinned in
    * RetrievalSpec against [[hybridFused]].
    */
  def ensureHybridQueryBatch(s: SparkSession, d: String): String = {
    val root = Fixture.root(s, d, "graft_hybrid_queries")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.ensurePublishedDir(s, root)(r =>
      fs.exists(new org.apache.hadoop.fs.Path(r, "_SUCCESS"))
    ) { staging =>
      import s.implicits._
      HybridMultiQueries.toDF("query_id", "terms")
        .join(denseQueryBatch(s, d), Seq("query_id"))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(staging)
    }
  }

  /** MANY hybrid queries in one distributed job — the serving core of
    * `text_hybrid_multi` and `streaming.StreamingHybrid`: the batch's
    * lexical side rides `bm25Batch` (one static bucket prune for the
    * whole batch), the dense side rides `Similarity.indexTopK` (one
    * cell prune for the whole batch), and the RRF fusion + per-query
    * ranking run on the ≤ 2·k-per-query fused frame via the
    * bounded-state top_k aggregate — no window, no per-query driver
    * loop, both corpus-scale structures read only through their
    * pruned persisted indexes. `queries`: (query_id, terms, qv).
    */
  def hybridBatch(s: SparkSession, bmIndex: String, ivfIndex: String,
      queries: DataFrame, k: Int = TopK): DataFrame = {
    // pinned: the fused frame feeds BOTH the ranking aggregate and the
    // evidence join below, and without the pin each branch re-serves
    // both indexes; it is ≤ 2·k rows per query, so the pin roundtrip
    // is trivial while the serves run exactly once
    val fused = Layout.stagePin(
      hybridFused(s, bmIndex, ivfIndex, queries, k), "hybrid_fused")
    val ranked = fused.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k(
        col("rrf"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sc")))
      .select(col("query_id"), col("sc.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"))
    // decorate the ranked ids with their per-ranker evidence — a join
    // on the ≤ 2k-per-query fused frame, nothing corpus-scale
    ranked.join(fused, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("doc_id"), col("bm25_rank"),
        col("dense_rank"), col("rrf"), col("rank"))
  }

  /** The serve-side heavy plan of [[hybridBatch]], un-pinned: both
    * rankers over their persisted indexes plus the ≤ 2·k-per-query RRF
    * fusion. Factored out so RetrievalSpec can pin the serve-path
    * boundary: with the query frame PROVIDED (the production contract —
    * embeddings arrive encoded), every file scan in this plan reads an
    * index root or the query frame; the corpus parquet never appears.
    */
  /** The shared single-query hybrid fuse: two ranked legs (doc_id, br)
    * / (doc_id, dr) built CONCURRENTLY (each leg's construction runs
    * small driver jobs — bucket/probe collects, shortlist micro-batches
    * — that would otherwise serialize; guide §2.6), full-outer fused by
    * the standard RRF tail. Extracted verbatim from the six hybrid
    * gates it now serves, which had the identical tail inlined.
    */
  private def hybridFuse2(lexThunk: () => DataFrame,
      denseThunk: () => DataFrame): DataFrame = {
    val Seq(lex, dense) = Par.buildAll(
      Seq(lexThunk, denseThunk))(_.apply())
    lex.join(dense, Seq("doc_id"), "full")
      .select(col("doc_id"),
        coalesce(col("br"), lit(0L)).as("bm25_rank"),
        coalesce(col("dr"), lit(0L)).as("dense_rank"),
        round(coalesce(lit(1.0) / (lit(60) + col("br")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)), 4)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(TopK)
  }

  private[graft] def hybridFused(s: SparkSession, bmIndex: String,
      ivfIndex: String, queries: DataFrame, k: Int = TopK): DataFrame = {
    // the two legs' construction-time jobs (the lexical batch's term
    // and stats collects, the dense leg's centroid and probe collects)
    // are independent — overlapped (guide §2.6)
    val Seq(lex, dense) = Par.buildAll(Seq[() => DataFrame](
      () => bm25Batch(s, bmIndex,
          queries.select(col("query_id"), col("terms")), k)
        .withColumnRenamed("rank", "br"),
      () => Similarity.indexTopK(s, ivfIndex,
          queries.select(col("query_id"), col("qv")), k = k)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("dr"))))(_.apply())
    lex.join(dense, Seq("query_id", "doc_id"), "full")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("br"), lit(0)).cast("long").as("bm25_rank"),
        coalesce(col("dr"), lit(0)).cast("long").as("dense_rank"),
        round(coalesce(lit(1.0) / (lit(60) + col("br")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)), 4)
          .as("rrf"))
  }

  private lazy val hybridMultiOracleSql: String = {
    val values = HybridMultiQueries.map { case (id, ts) =>
      s"($id, [${ts.map("'" + _ + "'").mkString(", ")}])"
    }.mkString(", ")
    s"""WITH hq AS (SELECT * FROM (VALUES $values) AS v(query_id, terms)),
       |qt AS (SELECT DISTINCT query_id, unnest(terms) AS word FROM hq),
       |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |              avg(len(ws)) AS avgdl FROM d),
       |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
       |tf AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
       |       WHERE word IN (SELECT word FROM qt)
       |       GROUP BY word, doc_id, dl),
       |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
       |       FROM tf GROUP BY word),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |         round(sum(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |             * (tf.tf * CAST(2.2 AS DOUBLE)
       |                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)))),
       |           4) AS score
       |       FROM tf JOIN df USING (word) JOIN qt USING (word), st
       |       GROUP BY qt.query_id, tf.doc_id),
       |lr AS (SELECT query_id, doc_id, r FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
       |    FROM sc) WHERE r <= $TopK),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings),
       |qm AS (SELECT CAST(vec_id % 3 AS BIGINT) AS g, dd, avg(v[dd]) AS qx
       |       FROM e, range(1, 65) rr(dd) GROUP BY vec_id % 3, dd),
       |qd AS (SELECT -(g + 1) AS query_id, list(qx ORDER BY dd) AS qv
       |       FROM qm GROUP BY g),
       |seeds AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |          WHERE vec_id % 25 = 0),
       |a0 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, s.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
       |    FROM e, seeds s) WHERE rn = 1),
       |cd AS (SELECT cent_id, dd, avg(v[dd]) AS cx
       |       FROM a0, range(1, 65) rr(dd) GROUP BY cent_id, dd),
       |cents AS (SELECT cent_id, list(cx ORDER BY dd) AS cv
       |          FROM cd GROUP BY cent_id),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM e, cents c) WHERE rn = 1),
       |dpr AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM qd q, cents c) WHERE rn <= 4),
       |dsc AS (SELECT p.query_id, a1.vec_id AS doc_id,
       |    round(list_cosine_similarity(p.qv, a1.v), 4) AS sim
       |  FROM dpr p JOIN a1 ON p.cent_id = a1.cent_id
       |    AND a1.vec_id <> p.query_id),
       |dnr AS (SELECT query_id, doc_id, r FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, doc_id) AS r
       |    FROM dsc) WHERE r <= $TopK),
       |f AS (SELECT coalesce(l.query_id, dn.query_id) AS query_id,
       |    coalesce(l.doc_id, dn.doc_id) AS doc_id,
       |    CAST(coalesce(l.r, 0) AS BIGINT) AS bm25_rank,
       |    CAST(coalesce(dn.r, 0) AS BIGINT) AS dense_rank,
       |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.r), 0)
       |        + coalesce(CAST(1.0 AS DOUBLE) / (60 + dn.r), 0), 4) AS rrf
       |  FROM lr l FULL JOIN dnr dn
       |    ON l.query_id = dn.query_id AND l.doc_id = dn.doc_id)
       |SELECT query_id, doc_id, bm25_rank, dense_rank, rrf, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
       |  FROM f) WHERE rank <= $TopK""".stripMargin
  }

  private lazy val hybridRrfOracleSql: String = {
    val termList = QueryTerms.map("'" + _ + "'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
           |           FROM documents),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |              avg(len(ws)) AS avgdl FROM d),
           |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS word FROM d),
           |tf AS (SELECT word, doc_id, dl, count(*) AS tf FROM t
           |       WHERE word IN ($termList) GROUP BY word, doc_id, dl),
           |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
           |       FROM tf GROUP BY word),
           |sc AS (SELECT tf.doc_id,
           |         sum(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
           |             * (tf.tf * CAST(2.2 AS DOUBLE)
           |                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))))
           |           AS score
           |       FROM tf JOIN df USING (word), st
           |       GROUP BY tf.doc_id),
           |br AS (SELECT doc_id, r FROM (
           |    SELECT doc_id, row_number() OVER (
           |      ORDER BY round(score, 4) DESC, doc_id) AS r FROM sc)
           |  WHERE r <= $TopK),
           |jv AS (SELECT doc_id, list_distinct(ws) AS vs FROM d),
           |jsc AS (SELECT doc_id,
           |    CAST(hits AS DOUBLE) / (nv + ${QueryTerms.length} - hits) AS jac
           |  FROM (SELECT doc_id,
           |      len(list_intersect(vs, [$termList])) AS hits,
           |      len(vs) AS nv FROM jv)
           |  WHERE hits > 0),
           |jr AS (SELECT doc_id, r FROM (
           |    SELECT doc_id, row_number() OVER (
           |      ORDER BY round(jac, 4) DESC, doc_id) AS r FROM jsc)
           |  WHERE r <= $TopK),
           |f AS (SELECT coalesce(br.doc_id, jr.doc_id) AS doc_id,
           |    CAST(coalesce(br.r, 0) AS BIGINT) AS bm25_rank,
           |    CAST(coalesce(jr.r, 0) AS BIGINT) AS coverage_rank,
           |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + br.r), 0)
           |        + coalesce(CAST(1.0 AS DOUBLE) / (60 + jr.r), 0), 4) AS rrf
           |  FROM br FULL JOIN jr ON br.doc_id = jr.doc_id)
           |SELECT doc_id, bm25_rank, coverage_rank, rrf FROM f
           |ORDER BY rrf DESC, doc_id LIMIT $TopK""".stripMargin
  }

  /** Reciprocal-rank fusion of a (doc_id, score) lexical ranking with
    * the query-term-coverage Jaccard ranking — see `text_hybrid_rrf`.
    * Ranks via the bounded-state top_k aggregate; the fusion join is
    * ≤ 2·TopK rows.
    */
  /** Top-`TopK` ranks of a `(doc_id, s)` scored frame via the
    * bounded-state top_k aggregate (score desc, doc_id tie-break) —
    * the per-ranker half both hybrid fusions share.
    */
  private def ranksOf(scored: DataFrame): DataFrame = scored
    .agg(graft.functions.TopKAgg.top_k(
      col("s"), col("doc_id"), TopK).as("top"))
    .select(posexplode(col("top")).as(Seq("pos", "sc")))
    .select(col("sc.id").as("doc_id"),
      (col("pos") + 1).cast("long").as("r"))

  private def hybridRrf(s: SparkSession, d: String,
      lexical: DataFrame): DataFrame = {
    val lex = ranksOf(lexical.select(col("doc_id"), col("score").as("s")))
      .withColumnRenamed("r", "br")
    val qTerms = array(QueryTerms.map(lit): _*)
    val cov = ranksOf(
      Par.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          array_distinct(words(col("text"))).as("vs"))
        .select(col("doc_id"),
          size(array_intersect(col("vs"), qTerms)).as("hits"),
          size(col("vs")).as("nv"))
        .filter(col("hits") > 0)
        .select(col("doc_id"), round(col("hits").cast("double") /
          (col("nv") + QueryTerms.length - col("hits")), 4).as("s")))
      .withColumnRenamed("r", "jr")
    lex.join(cov, Seq("doc_id"), "full")
      .select(col("doc_id"),
        coalesce(col("br"), lit(0L)).as("bm25_rank"),
        coalesce(col("jr"), lit(0L)).as("coverage_rank"),
        round(coalesce(lit(1.0) / (lit(60) + col("br")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("jr")), lit(0.0)), 4)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(TopK)
  }
}
