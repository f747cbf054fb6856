package graft.index

import graft.operators.Par
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, min}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

/** The staged-commit state machine shared by graft's nine persisted
  * index kinds (dedup shingle/hash; the BM25, positional phrase,
  * character-trigram and word-positional (NEAR) postings indexes; the
  * float IVF, IVF-PQ and IVF-binary vector indexes; the perceptual-hash
  * index). One instance wraps one index root and its batch ledger and
  * provides every filesystem-protocol primitive the indexes need, so
  * the exactly-once semantics live in ONE place:
  *
  *   - '''ledger''' — the set of committed batch entries, one per line.
  *     Plain numeric entries (`7`) are committed APPEND folds; `d`-
  *     prefixed entries (`d7`) are committed DELETE batches. The ledger
  *     file is replaced atomically (staging write + atomic rename), so
  *     a crash leaves either the old or the new committed set, never a
  *     partial one.
  *   - '''manifest''' — the versioned-publish pointer: a small
  *     `_manifest` file at the root mapping each logical kind
  *     (`vectors`, `postings`, `stats`, …) to its current PHYSICAL
  *     generation directory (`vectors.g3`). [[publishDir]] never swaps
  *     a live directory: it renames the staged dir to a FRESH
  *     generation name, then atomically replaces the manifest — the
  *     manifest replace is the whole commit. Readers resolve kinds
  *     through [[dir]]/[[committedDirs]], so the served directory is
  *     never missing at the commit instant, and a resolved generation
  *     stays readable for at least one further publish AND
  *     [[FoldProtocol.PublishGraceMs]] of age (retirement is by age,
  *     so rapid repeated publishes cannot yank a directory out from
  *     under a scan inside the grace bound). A kind with no
  *     manifest entry resolves to its plain name — fresh seed builds
  *     write `vectors/` directly and the first publish moves the index
  *     onto generations. This is also the object-store story: the only
  *     operation that needs atomic-replace semantics is ONE small
  *     pointer-file write (the same shape as a Delta/Iceberg snapshot
  *     commit); generation dirs themselves are create-only and never
  *     renamed over.
  *   - '''sub-dirs''' — an index frame directory holds only
  *     sub-directories: `seed/` (initial build), per-fold `b<batchId>/`
  *     dirs, per-delete `d<deleteId>/` dirs and `c<hw>/` compaction
  *     outputs (named by the max committed fold at compaction time —
  *     the dir's FOLD ORDER, see tombstones). [[committedDirs]]
  *     resolves the readable set: every non-batch dir plus exactly the
  *     LEDGERED b/d-dirs — orphans from a crashed fold stay invisible
  *     until their replay commits.
  *   - '''fold''' — stage (overwrite-mode writes into the batch's own
  *     sub-dirs, so a replay after a mid-write crash rewrites the same
  *     dirs instead of double-appending), then commit (one atomic
  *     ledger replace). A ledgered batchId short-circuits to a no-op,
  *     which is what makes replays exactly-once.
  *   - '''tombstones''' — a delete batch stages its victim ids under
  *     `tombstones/d<deleteId>/` together with the delete's HIGH-WATER
  *     MARK (the max committed fold batchId at stage time) and commits
  *     through the same ledger. Readers ([[readCommittedStripped]])
  *     tag every sub-dir's rows with the dir's fold order (`seed` = 0,
  *     `b<n>` = n, `c<n>` = n) and anti-join a tombstone only against
  *     rows whose fold order is ≤ its high-water mark — so a delete
  *     hides exactly the data committed BEFORE it, and re-appending a
  *     taken-down id in a LATER fold serves normally (takedown of the
  *     old version, legitimate re-ingest of the corrected one).
  *     Monotonicity contract: fold batchIds must increase over time
  *     (streaming batchIds do); in the empty-index corner (a delete
  *     before the first fold commits, high-water 0) use batchIds ≥ 1
  *     so the re-ingest outranks the delete. Compaction rewrites the
  *     SERVED frames into a `c<hw>/` dir — carrying the fold order its
  *     contents reach — and then [[clearTombstones]], the physical
  *     purge. The clear is safe to crash out of: a stale tombstone's
  *     high-water is below the new compact dir's order, so re-ingested
  *     ids stay visible and the already-purged victims anti-join
  *     nothing.
  *   - '''writer lease''' — every mutation ([[fold]], [[delete]], and
  *     the operators' compaction/refresh paths via [[withLease]])
  *     first acquires `_writer_lease` through an atomic
  *     create-if-absent, so a second concurrent writer FAILS FAST with
  *     the holder's name instead of silently interleaving staged dirs
  *     and ledger replaces. Leases are re-entrant within a thread and
  *     carry a TTL: a lease left by a CRASHED writer is stolen after
  *     `ttlMs`, while a live holder's heartbeat re-stamps the lease
  *     every `ttlMs / 3`, so long-running bodies are steal-proof, not
  *     merely steal-detecting. Renewal and release are both
  *     CAS-guarded on the stamp, and the stamp doubles as a FENCING
  *     TOKEN: every commit point ([[commit]]'s ledger replace,
  *     [[publishDir]]'s pointer swap) lands through
  *     [[FoldProtocol.commitPrimitive]] — a CONDITIONAL replace that
  *     checks the lease file still carries this writer's stamp and
  *     performs the atomic rename as one operation (in-process: both
  *     under the root's [[FoldProtocol.rootLock]], which every lease
  *     mutation also takes; object stores: a conditional PUT
  *     implementing the same [[FoldProtocol.CommitPrimitive]]
  *     contract). A writer whose lease was stolen mid-body therefore
  *     fails its publish even when the steal lands INSIDE the old
  *     verify→replace window — its staged data stays an invisible
  *     orphan, and two writers' commits can no longer interleave.
  *
  * All filesystem access goes through the Hadoop `FileSystem` /
  * `FileContext` APIs resolved from the ACTIVE session's Hadoop conf —
  * the ledger and listings work wherever the parquet writes work
  * (local, HDFS). Atomic replacing renames use
  * `FileContext.rename(…, Options.Rename.OVERWRITE)`, the same
  * primitive Spark's own `CheckpointFileManager` treats as the atomic
  * commit on HDFS-like filesystems; on a pure object store the two
  * small-file replaces (ledger, manifest) are the ONLY primitives that
  * need a consistency shim (conditional PUT / DynamoDB-style lock —
  * the same requirement as every table-format log commit), because
  * generation dirs are never renamed over and never mutated after
  * publish. That shim has a concrete seam here:
  * [[FoldProtocol.CommitPrimitive]] is injectable via
  * [[FoldProtocol.commitPrimitive]], and every fenced commit already
  * routes through it.
  *
  * Reference framing: the reference pipeline appends to BigQuery
  * tables and never manages index state
  * (`deployment_function.py:188`); this protocol is the engine-side
  * machinery a 100-TB self-managed index needs for the same
  * "ingest keeps running, readers never see partial state" contract.
  */
final class FoldProtocol(val root: String, ledgerRel: String) {

  private val rootPath = new Path(root)
  private def conf =
    SparkSession.active.sparkContext.hadoopConfiguration
  private def fs: FileSystem = rootPath.getFileSystem(conf)

  private def atomicReplace(src: Path, dst: Path): Unit =
    FoldProtocol.atomicReplace(conf, src, dst)

  /** Read a small pointer file (manifest / ledger) as UTF-8 lines,
    * retrying the handful of transients a concurrent atomic replace
    * can expose on a ChecksumFileSystem (the local FS renames the data
    * file and its `.crc` sidecar as two operations, so a reader racing
    * the rename can see a checksum mismatch or a vanished sidecar —
    * HDFS and object stores have no client-side sidecar and no such
    * window). The data file itself is never torn: the rename is
    * atomic, so one immediate re-read lands on a complete old or new
    * file.
    */
  private def readLines(p: Path): Seq[String] = {
    val f = fs
    var attempt = 0
    while (true) {
      if (!f.exists(p)) return Seq.empty
      try {
        val in = f.open(p)
        try return scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      } catch {
        // FNF first: it extends IOException, so listed after the retry
        // arm it would be unreachable — a file that vanishes between
        // exists() and open() (concurrent retire) means "no entries
        // yet", not a transient worth burning a retry sleep on.
        case _: java.io.FileNotFoundException => return Seq.empty
        case _: java.io.IOException if attempt < 5 =>
          attempt += 1; Thread.sleep(5L << attempt)
      }
    }
    Seq.empty // unreachable
  }

  // ---- manifest ----

  private def manifestPath = new Path(rootPath, "_manifest")

  /** The current kind → physical-directory mapping (empty until the
    * first [[publishDir]]).
    */
  def manifest(): Map[String, String] =
    readLines(manifestPath)
      .filterNot(_.startsWith("#")) // audit lines (#fence=…) are not entries
      .filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap

  /** Physical directory name currently serving `kind` (the plain kind
    * name until the first publish moves it onto generations).
    */
  def resolveKind(kind: String): String = manifest().getOrElse(kind, kind)

  /** Absolute path of the directory currently serving `kind` — every
    * reader and every fold stages/reads through this resolution.
    */
  def dir(kind: String): String = s"$root/${resolveKind(kind)}"

  private def resolveRel(rel: String): String = {
    val i = rel.indexOf('/')
    if (i < 0) rel else resolveKind(rel.substring(0, i)) + rel.substring(i)
  }

  private def writeManifest(m: Map[String, String]): Unit = {
    val audit = currentFenceStamp().map(s => s"#fence=$s\n").getOrElse("")
    fencedReplace(manifestPath,
      (audit + m.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("\n")).getBytes("UTF-8"),
      "manifest replace")
  }

  /** The ONE way a pointer file (ledger, manifest) changes: under a
    * live lease the replace goes through
    * [[FoldProtocol.commitPrimitive]] CARRYING the fence stamp — the
    * stamp check and the atomic rename are one conditional operation,
    * so a steal landing at ANY point before the replace (including
    * inside the old verify→replace microsecond window) makes the
    * replace itself fail, not just the advisory check before it. The
    * fence lock serializes against the heartbeat so a mid-call renewal
    * cannot produce a false mismatch. Outside a lease the replace is
    * the plain unconditional atomic rename (acquisition-time mutual
    * exclusion is the only guard, as before).
    */
  private def fencedReplace(dst: Path, content: Array[Byte],
      action: String, guard: () => Unit = () => ()): Unit =
    FoldProtocol.fences.get().get(root) match {
      case None =>
        guard()
        val tmp = new Path(dst.getParent, s".${dst.getName}.staging")
        val out = fs.create(tmp, true)
        try out.write(content) finally out.close()
        atomicReplace(tmp, dst)
      case Some(fence) =>
        val landed = fence.lock.synchronized {
          guard() // inside the conditional-commit critical section
          FoldProtocol.commitPrimitive.replaceIfFenced(
            conf, root, dst, content, leasePath, Some(fence.ref.get()))
        }
        if (!landed)
          throw new IllegalStateException(
            s"conditional commit failed: $action on $root aborted — the " +
              "writer lease no longer carries this writer's stamp (now " +
              s"held by ${leaseHolder().getOrElse("<released>")}). The " +
              "lease was stolen mid-run; this writer's staged data stays " +
              "an invisible orphan and the stealer's generation serves.")
    }

  private def genPattern(kind: String) =
    (java.util.regex.Pattern.quote(kind) + "\\.g(\\d+)").r

  /** Versioned-manifest publish of `<root>/<stagingRel>` as the new
    * content of `kind`:
    *
    *   1. rename staging to a FRESH generation dir `<kind>.g<n>`
    *      (create-only — nothing is renamed over, nothing live is
    *      touched);
    *   2. atomically replace the manifest to point `kind` at it — THE
    *      commit point;
    *   3. retire superseded directories: the immediately-previous
    *      generation always survives this publish (grace for readers
    *      that resolved the manifest just before the commit); an
    *      ORPHAN from a crashed step-1 (generation number above the
    *      pre-publish one — it never reached a manifest, so no reader
    *      can hold it) is swept immediately; any OLDER formerly-served
    *      generation is deleted only once `graceMs` has elapsed since
    *      it was RETIRED from current (each publish re-stamps the
    *      superseded dir's mtime, so the grace clock starts at the
    *      last instant a reader could newly resolve it — not at its
    *      staging-write time, which for a long-serving generation
    *      would already be past the cutoff). A reader's in-flight
    *      Spark action therefore has the full grace to finish however
    *      many publishes land meanwhile.
    *
    * A crash before step 2 leaves the previous state served (the
    * orphan gen is invisible and later swept); after step 2 the new
    * state is served. The served directory is never missing at the
    * commit instant, and a resolved-but-not-yet-read generation stays
    * readable for at least `graceMs` (or one further publish,
    * whichever is longer) — a scan that out-sleeps BOTH bounds can
    * still land on a retired directory, which is why the streaming
    * readers re-resolve on retry rather than assuming immortality.
    */
  def publishDir(stagingRel: String, kind: String,
      graceMs: Long = FoldProtocol.PublishGraceMs): Unit = {
    val f = fs
    val genRe = genPattern(kind)
    val prev = resolveKind(kind)
    val listed = f.listStatus(rootPath).toSeq.filter(_.isDirectory)
    val names = listed.map(_.getPath.getName)
    val nextGen = names
      .collect { case genRe(n) => n.toLong }
      .maxOption.getOrElse(0L) + 1
    val target = s"$kind.g$nextGen"
    require(
      f.rename(new Path(rootPath, stagingRel), new Path(rootPath, target)),
      s"publish of $kind: rename $stagingRel -> $target failed")
    // Fencing check at the commit point: if this writer's lease was
    // stolen mid-body, FAIL before the pointer swap — the renamed
    // generation above never reached a manifest, so it is an invisible
    // orphan the next (legitimate) publish sweeps.
    verifyFence(s"publish of $kind")
    writeManifest(manifest() + (kind -> target))
    // Re-stamp the generation that just stopped being current so the
    // age-based retirement grace below runs from RETIREMENT, not from
    // its staging-write time: the last instant a reader can newly
    // resolve `prev` is this manifest swap, so its grace clock starts
    // here. Without this, a generation that served longer than graceMs
    // is already past the cutoff the moment it stops being `prev`.
    if (prev != target)
      try f.setTimes(new Path(rootPath, prev), System.currentTimeMillis(), -1)
      catch { case _: java.io.IOException => () } // plain-kind dir may not exist
    val prevNum = prev match { case genRe(n) => n.toLong; case _ => 0L }
    val cutoff = System.currentTimeMillis() - graceMs
    listed
      .filter { st =>
        val n = st.getPath.getName
        (n == kind || genRe.findFirstIn(n).contains(n)) &&
          n != target && n != prev && {
            val num = n match { case genRe(g) => g.toLong; case _ => 0L }
            // above the pre-publish generation = crashed-publish orphan,
            // never manifest-served, no reader can hold it: sweep now.
            // At or below = a generation readers may have resolved:
            // retire only past the grace bound.
            num > prevNum || st.getModificationTime < cutoff
          }
      }
      .foreach(st => f.delete(st.getPath, true))
  }

  // ---- ledger ----

  private def ledgerPath = new Path(rootPath, resolveRel(ledgerRel))

  /** Raw committed ledger entries (numeric = fold, `d<n>` = delete);
    * `#`-prefixed audit lines (the fence stamp) are not entries.
    */
  def entries(): Set[String] =
    readLines(ledgerPath).filterNot(_.startsWith("#")).toSet

  /** BatchIds whose APPEND fold is fully committed. */
  def foldedBatches(): Set[Long] =
    entries().filter(e => e.nonEmpty && e.forall(_.isDigit)).map(_.toLong)

  /** DeleteIds whose tombstone batch is fully committed. */
  def deletedBatches(): Set[Long] =
    entries().collect { case e if e.matches("d\\d+") => e.drop(1).toLong }

  /** EVERY committed ledger id regardless of kind — fold (`7`), delete
    * (`d7`) and refresh (`r7`) entries share ONE monotonic id sequence
    * per index (the as-of contract), so an epoch/commitId allocator
    * must clear ALL of them, not just the folds: a new append minted
    * below a committed delete id would sort BEFORE that delete and a
    * horizon between them would serve rows already deleted at that
    * wall-clock point.
    */
  def allLedgerIds(): Set[Long] =
    entries().collect {
      case e if e.matches("[dr]?\\d+") =>
        (if (e.head.isDigit) e else e.drop(1)).toLong
    }

  private def renderLedger(extra: Seq[String]): Array[Byte] = {
    val audit = currentFenceStamp().map(s => s"#fence=$s\n").getOrElse("")
    (audit + (entries() ++ extra).toSeq.sorted.mkString("\n"))
      .getBytes("UTF-8")
  }

  /** Publish the grown ledger via one atomic file replace — the commit
    * point of a fold or delete. Fenced: a writer whose lease was stolen
    * mid-body fails HERE, before the replace, leaving the ledger (and
    * therefore the committed-batch set) untouched.
    */
  def commit(extra: String*): Unit = commitStaged(Nil, extra: _*)

  /** [[commit]] with a staged-dir guard: the ledger replace verifies —
    * inside the conditional-commit critical section — that each of
    * `stagedRels` (kind-relative dirs, resolved through the manifest)
    * still exists WITH its `_SUCCESS` marker. An out-of-band deletion
    * of staged data between stage and commit (a misconfigured sweeper,
    * a manual rm) therefore turns into a FAILED fold instead of a
    * ledger entry pointing at a missing dir — the
    * missing-ledgered-dir fatal state [[fsck]] exists to catch becomes
    * unreachable from the protocol's own API.
    */
  def commitStaged(stagedRels: Seq[String], extra: String*): Unit = {
    val action = s"ledger commit of ${extra.mkString(",")}"
    verifyFence(action)
    fencedReplace(ledgerPath, renderLedger(extra), action,
      () => verifyStaged(stagedRels, action))
  }

  /** The staged-dir guard body: every guarded dir must still carry its
    * `_SUCCESS` marker at the commit instant.
    */
  private def verifyStaged(stagedRels: Seq[String], action: String): Unit =
    for (rel <- stagedRels) {
      val d = new Path(rootPath, resolveRel(rel))
      if (!fs.exists(new Path(d, "_SUCCESS")))
        throw new IllegalStateException(
          s"staged-dir guard failed: $action on $root aborted — staged " +
            s"dir $d vanished (or lost its _SUCCESS marker) between " +
            "stage and commit. Something deleted staged data out of " +
            "band; failing the fold rather than committing a ledger " +
            "entry that points at missing data.")
    }

  /** Run an append fold exactly once under the writer lease: a
    * ledgered batchId is a committed no-op (returns false); otherwise
    * stage (overwrite-mode b-dir writes) then commit atomically.
    * `stagedKinds` names the kinds whose `b<batchId>` dirs the stage
    * writes — the commit re-verifies each still exists (with its
    * `_SUCCESS` marker) inside the conditional-commit critical
    * section, see [[commitStaged]].
    */
  def fold(batchId: Long, stagedKinds: Seq[String] = Nil)(
      stage: => Unit): Boolean =
    withLease(s"fold-$batchId") {
      if (foldedBatches().contains(batchId)) false
      else {
        stage
        commitStaged(stagedKinds.map(k => s"$k/b$batchId"),
          batchId.toString)
        true
      }
    }

  /** Run a delete batch exactly once — same shape as [[fold]] with a
    * `d`-prefixed ledger entry. The delete's tombstone dir
    * (`tombstones/d<deleteId>`, the [[stageTombstones]] convention) is
    * always guarded at the commit; `stagedRels` adds any further
    * staged dirs (e.g. a BM25 delete's negative stats delta, a dedup
    * delete's negative df delta), each marked by [[markAboveCollapse]]
    * before the commit.
    */
  def delete(deleteId: Long, stagedRels: Seq[String] = Nil)(
      stage: => Unit): Boolean =
    withLease(s"delete-$deleteId") {
      if (deletedBatches().contains(deleteId)) false
      else {
        stage
        stagedRels.foreach(markAboveCollapse(_, deleteId))
        commitStaged(s"tombstones/d$deleteId" +: stagedRels,
          s"d$deleteId")
        true
      }
    }

  /** A delete delta `<kind>/d<deleteId>` whose id is at or below the
    * kind's newest collapse `c<n>` would be hidden by the
    * compaction-supersedes rule the instant it commits, although `c<n>`
    * never summed it. Such an id is outside the monotonic sequence (a
    * takedown stream's raw batchIds beside the ingest folds' own), and
    * its delta still has to serve: it gets an `_after_c<n>` marker
    * file, which keeps it visible beside `c<n>` and lets only a LATER
    * collapse absorb it (see [[committedAbove]]). Idempotent: a replay
    * re-stages the dir under overwrite semantics and marks it again.
    */
  private def markAboveCollapse(rel: String, deleteId: Long): Unit = {
    val d = new Path(rootPath, resolveRel(rel))
    if (d.getName == s"d$deleteId") {
      val f = fs
      f.listStatus(d.getParent).iterator.map(_.getPath.getName)
        .filter(_.matches("c\\d+")).map(dirOrd).maxOption
        .filter(_ >= deleteId)
        .foreach(n => f.create(new Path(d, s"$AfterMarker$n"), true).close())
    }
  }

  private val AfterMarker = "_after_c"

  /** The collapse order the delete delta `dDir` committed above (its
    * [[markAboveCollapse]] marker), or -1 when it has none. A `c<n>`
    * supersedes a `d<id>` with id ≤ n only when this is below n.
    */
  private def committedAbove(dDir: Path): Long =
    fs.listStatus(dDir).iterator.map(_.getPath.getName)
      .collectFirst { case n if n.startsWith(AfterMarker) =>
        n.drop(AfterMarker.length).toLong }
      .getOrElse(-1L)

  // ---- committed sub-dirs ----

  /** Fold order of a sub-dir: `b<n>` and `c<n>` carry their batch /
    * compaction high-water order, everything else (seed and other
    * build outputs) is 0. This is the ordinal ledger-ordered
    * tombstones compare against.
    */
  def dirOrd(name: String): Long =
    if (name.matches("[bc]\\d+")) name.drop(1).toLong else 0L

  /** The max committed fold order (0 when no fold has committed) — the
    * high-water mark a new delete is scoped to and the name a new
    * compaction dir carries.
    */
  def highWater(): Long = (foldedBatches() + 0L).max

  /** Directory name for a compaction output staged NOW: carries the
    * fold order its contents reach, so later deletes apply to it and
    * earlier (stale, post-crash) tombstones do not.
    */
  def compactDirName(): String = s"c${highWater()}"

  /** Normalize a requested vacuum floor to the newest COMMITTED ledger
    * id at or below it (shared by every floor-bounded retention op): a
    * `c<floor>` dir must carry a real ledger id as its fold order —
    * an order with no id behind it would outrank tombstone high-water
    * marks stamped before it and detach surviving deletes from the
    * rows they hide. Content is identical either way (no commits sit
    * in the gap), and horizons in the gap keep serving.
    */
  def normalizedFloor(requested: Long): Long = {
    val ids = allLedgerIds() + 0L
    require(requested >= 1L && requested <= ids.max,
      s"vacuum floor $requested must name a horizon in [1, ${ids.max}]")
    // The window [1, requested] can hold NO committed id even when the
    // range check passes — an epoch-minted root whose first commit id
    // is ~2^32 has ids.max huge and nothing small. Refuse descriptively
    // instead of letting empty.max throw.
    val below = (ids - 0L).filter(_ <= requested)
    require(below.nonEmpty,
      s"vacuum floor $requested names no committed ledger id: committed " +
        s"ids start at ${(ids - 0L).min}")
    below.max
  }

  /** Floor-bounded vacuum, kind-generic (the shared kernel of
    * `TimeTravel.vacuum`, `Retrieval.vacuumBm25Index`,
    * `Retrieval.Trigram.vacuum` and
    * `Similarity.vacuumIvfIndex`): collapse every sub-root with
    * ledger id ≤ `floor` into ONE `c<floor>` dir per side — each
    * side's `stage` callback writes the index's own resolved
    * as-of-floor content into a dot-staging dir (the sides' callbacks
    * run concurrently on [[graft.operators.Par.runAll]] threads, so
    * they only write — no lease, no commit), and ONE atomic
    * rename per side lands it (THE commit point: the compaction-supersedes
    * rule in [[committedDirsOrEmpty]] hides the collapsed sources the
    * instant the c-dir appears) — then reclaim the sources and the
    * absorbed tombstone batches. Horizons ≥ floor serve exactly as
    * before; below, [[committedDirsAsOf]]'s honesty guard refuses.
    * Replays skip present targets and finish the purges; a
    * fully-vacuumed floor is a committed no-op (returns false).
    * Writer-lease-guarded; floor normalization and the surviving-
    * tombstone detachment guard run first.
    */
  def vacuumKinds(s: SparkSession, floorRequested: Long,
      sides: Seq[(String, (Long, String) => Unit)]): Boolean =
    withLease(s"vacuum-$floorRequested") {
      val floor = normalizedFloor(floorRequested)
      requireNoDetachedSurvivors(s, floor)
      val f = fs
      val kindDirs = sides.map { case (kind, _) => new Path(dir(kind)) }
      val tsDir = new Path(rootPath, "tombstones")
      def spentTombstones: Seq[String] =
        if (!f.exists(tsDir)) Seq.empty
        else f.listStatus(tsDir).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(n => n.matches("d\\d+") && n.drop(1).toLong <= floor)
      if (kindDirs.forall(kd => f.exists(new Path(kd, s"c$floor")) &&
            collapsedSources(kd, floor).isEmpty) && spentTombstones.isEmpty)
        false // committed no-op: this floor is already fully vacuumed
      else {
        // The sides are independent: each collapses concurrently (its
        // stage, the rename that commits it, the reclaim of its
        // sources — each side's collapse serves the same rows on its
        // own). The absorbed tombstones go only once every side has
        // landed: an uncollapsed side still needs them.
        Par.runAll(sides.map { case (kind, stage) =>
          () => collapseInPlace(kind, floor)(stage(floor, _)) }: _*)
        spentTombstones.foreach(n => f.delete(new Path(tsDir, n), true))
        true
      }
    }

  /** The sub-dirs of `kindDir` that a `c<upTo>` collapse absorbs: the
    * seed, every `b`/`c` dir of order ≤ `upTo` other than the target,
    * and every `d` dir whose own ledger id is ≤ `upTo` (a d-dir's fold
    * order is its high-water mark's business) unless it committed
    * after a `c<upTo>` already stood ([[committedAbove]]). Exactly what
    * the compaction-supersedes rule hides once `c<upTo>` exists.
    */
  private def collapsedSources(kindDir: Path, upTo: Long): Seq[String] =
    fs.listStatus(kindDir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n == "seed" ||
        (n.matches("[bc]\\d+") && dirOrd(n) <= upTo && n != s"c$upTo") ||
        (n.matches("d\\d+") && n.drop(1).toLong <= upTo &&
          committedAbove(new Path(kindDir, n)) < upTo))

  /** Collapse `kind` IN PLACE into one `c<upTo>` sub-dir — each side
    * of [[vacuumKinds]], and the compaction of a kind whose directory
    * is never generation-swapped (the dedup `df` deltas, whose
    * directory also holds the ledger). `stage` writes the
    * resolved content of every committed sub-dir with ledger id ≤
    * `upTo` into the staging path it is given; one rename lands it, and
    * that rename is the commit point (the compaction-supersedes rule in
    * [[committedDirsOrEmpty]] hides the absorbed dirs from that
    * instant); the absorbed dirs are then reclaimed. `upTo` must be the
    * newest ledger id the collapse absorbs, so no committed delta above
    * it is hidden and none below it stays visible. A present target
    * skips the stage, so a replay after a crash only finishes the
    * reclaim. Runs inside the caller's lease.
    */
  def collapseInPlace(kind: String, upTo: Long)(stage: String => Unit): Unit = {
    val f = fs
    val kindDir = new Path(dir(kind))
    val target = new Path(kindDir, s"c$upTo")
    if (!f.exists(target)) {
      val staging = new Path(kindDir, s".c$upTo.collapse")
      stage(staging.toString)
      require(f.rename(staging, target),
        s"collapse of $root/$kind: rename $staging -> $target failed")
    }
    collapsedSources(kindDir, upTo).foreach(n => f.delete(new Path(kindDir, n), true))
  }

  /** Whether `kind` still holds one FLAT frame (its parquet part files
    * or its `_SUCCESS` directly under the kind dir) — not yet, or not
    * completely, moved by [[adoptFlat]]. One listing of the kind dir.
    */
  def isFlat(kind: String): Boolean = {
    val f = fs
    val kd = new Path(dir(kind))
    f.exists(kd) && f.listStatus(kd).exists(st => st.isFile && {
      val n = st.getPath.getName
      n.startsWith("part-") || n == "_SUCCESS"
    })
  }

  /** Turn a flat `kind` into a multi-root one by moving its frame (the
    * part files, then `_SUCCESS`) into the sub-dir `sub`. The sub-dir
    * carries `_SUCCESS` only once every part file is in it; a replay
    * after a crash ([[isFlat]] still holds) moves what is left. Runs
    * inside the caller's lease.
    */
  def adoptFlat(kind: String, sub: String): Unit = {
    val f = fs
    val kd = new Path(dir(kind))
    val target = new Path(kd, sub)
    f.mkdirs(target)
    val files = f.listStatus(kd).toSeq.filter(_.isFile).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    for (src <- files :+ new Path(kd, "_SUCCESS") if f.exists(src))
      require(f.rename(src, new Path(target, src.getName)),
        s"adopting flat $root/$kind: moving ${src.getName} into $sub failed")
  }

  /** Vacuum honesty guard: every SURVIVING tombstone (deleteId >
    * floor) must carry a high-water mark ≥ floor, else the resolved
    * `c<floor>` dir (fold order = floor) would escape its anti-join
    * and resurrect its victims at horizons above the delete.
    * Unreachable for marks stamped by this build ([[stageTombstones]]
    * stamps the max ledger id, ≥ any committed floor below the
    * delete); the guard keeps legacy fold-only marks honest. One
    * driver-side read of the surviving dirs' tiny hw column.
    */
  def requireNoDetachedSurvivors(s: SparkSession, floor: Long): Unit = {
    val survivors = committedDirsOrEmpty("tombstones")
      .filter(d => d.substring(d.lastIndexOf('/') + 1)
        .drop(1).toLong > floor)
    if (survivors.nonEmpty) {
      // Only `hw` is read, under a declared schema (no footer-inference
      // job): a legacy hw-less survivor reads NULL = Long.MaxValue, and
      // an all-empty survivor set (zero victim rows) yields a null min
      // — vacuously safe, not an NPE.
      val minHw = s.read.schema("hw BIGINT").parquet(survivors: _*)
        .agg(coalesce(min(coalesce(col("hw"), lit(Long.MaxValue))),
          lit(Long.MaxValue)))
        .head().getLong(0)
      val names = survivors
        .map(d => d.substring(d.lastIndexOf('/') + 1)).sorted
      require(minHw >= floor,
        s"vacuum at floor $floor would detach surviving tombstone(s) " +
          s"${names.mkString(", ")} (min high-water $minHw < floor): " +
          "their victims would resurface above the delete. Compact " +
          "fully or lower the floor.")
    }
  }

  /** One-line operational snapshot of the index for monitoring /
    * debugging: generation mapping, committed ledger state, sub-dir
    * counts per kind, live tombstone batches, and the current lease
    * holder. Driver-side small-file reads and directory listings only
    * — nothing scans data, so it is safe to poll.
    */
  def describe(kinds: String*): IndexStatus = {
    val f = fs
    val tsDir = new Path(rootPath, "tombstones")
    val liveTombstones =
      if (!f.exists(tsDir)) Seq.empty
      else f.listStatus(tsDir).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.matches("d\\d+"))
        .map(_.drop(1).toLong).sorted
    IndexStatus(
      root = root,
      generations = manifest(),
      foldedBatches = foldedBatches().toSeq.sorted,
      deletedBatches = deletedBatches().toSeq.sorted,
      highWater = highWater(),
      committedDirCounts =
        kinds.map(k => k -> committedDirsOrEmpty(k).size).toMap,
      liveTombstones = liveTombstones,
      leaseHolder = leaseHolder())
  }

  /** Consistency audit (and optional repair) of the index root — the
    * fsck a production deployment runs before trusting an index after
    * crashes, partial migrations, or manual surgery. Small-file reads
    * and directory listings only; never scans data. Three severities:
    *
    *   - `fatal`: the index serves WRONG or partial data and needs
    *     human/rebuild intervention — a manifest pointer at a missing
    *     generation, a LEDGERED batch dir that vanished without a
    *     covering compaction (the serve path would silently drop that
    *     batch's rows), a committed dir with no `_SUCCESS` marker.
    *     Never auto-repaired.
    *   - `reclaimable`: crash litter that is provably dead — an
    *     UNCOMMITTED b/d-dir or dot-staging artifact older than the
    *     writer grace (its fold/publish can no longer commit: any live
    *     writer re-stages under overwrite semantics anyway), or a
    *     superseded generation past the retirement grace. Deleted when
    *     `repair = true`.
    *   - `info`: benign observations — an uncommitted dir still inside
    *     the grace (a fold may be in flight), a missing d-dir whose
    *     purge a compaction already performed, the current lease
    *     holder's stamp age.
    *
    * `.crc` checksum sidecars are never touched (ChecksumFileSystem
    * needs them to read their primaries).
    */
  def fsck(kinds: Seq[String], repair: Boolean = false,
      graceMs: Long = FoldProtocol.PublishGraceMs): FsckReport = {
    val f = fs
    val now = System.currentTimeMillis()
    val issues = Seq.newBuilder[FsckIssue]
    val reclaimed = Seq.newBuilder[String]
    // A LIVE writer lease (stamp fresher than the grace — the heartbeat
    // re-stamps at ttl/3, so a fresh stamp means a writer is mid-body)
    // makes "uncommitted past the grace" unprovable: that writer may be
    // mid-stage on exactly those dirs, and deleting them would turn its
    // imminent ledger commit into the missing-fold-dir FATAL state this
    // audit exists to catch. Downgrade every reclaimable to info and
    // withhold repair until the lease is released or expires — UNLESS
    // the live lease is THIS thread's own (`withLease { fsck(repair) }`,
    // the blessed single-writer maintenance pattern: the holder knows
    // it is not mid-stage, and the lease is exactly what excludes every
    // other writer while it reclaims).
    // The own-lease stamp is recomputed PER CHECK, not snapshotted at
    // entry: the heartbeat renews the stamp mid-audit (the Fence's
    // AtomicReference tracks renewals), and comparing the holder
    // against an entry-time snapshot would read the auditor's own
    // renewed lease as foreign — spuriously withholding repair under
    // the very lease that authorizes it.
    def liveForeignWriter(): Boolean = leaseHolder().exists(h =>
      System.currentTimeMillis() - leaseStampMillis(h) < graceMs &&
        !currentFenceStamp().contains(h))
    val liveWriter = liveForeignWriter()
    def reclaim(p: Path, what: String): Unit =
      if (liveWriter) {
        issues += FsckIssue("info", p.toString,
          what + " — NOT reclaimed: a writer lease is live and may be " +
            "mid-stage here")
      } else {
        issues += FsckIssue("reclaimable", p.toString, what)
        if (repair) {
          // Re-verify the lease immediately before EACH delete, not
          // just once at entry: a writer that acquires the lease while
          // this audit walks the tree may have re-staged this very
          // path, and deleting it just before that writer's ledger
          // commit would manufacture the missing-ledgered-dir fatal
          // state fsck exists to catch. (Under the auditor's OWN lease
          // the foreign check stays false and repair proceeds — the
          // lease is exactly what excludes other writers.)
          FoldProtocol.fsckPreReclaimHook()
          if (liveForeignWriter())
            issues += FsckIssue("info", p.toString,
              "repair WITHHELD: a writer lease went live after the " +
                "audit started — re-run once it is released or expires")
          else { f.delete(p, true); reclaimed += p.toString }
        }
      }
    val folded = foldedBatches()
    val deleted = deletedBatches()
    val m = manifest()
    for (k <- kinds) {
      val rel = resolveKind(k)
      val kp = new Path(rootPath, rel)
      if (!f.exists(kp)) {
        // absent is fine for a kind the manifest never published (the
        // common tombstones case: no delete ever staged); fatal only
        // when an EXPLICIT manifest pointer dangles
        if (m.contains(k))
          issues += FsckIssue("fatal", kp.toString,
            s"manifest resolves kind '$k' to a missing generation dir")
      } else {
        val dirs = f.listStatus(kp).toSeq.filter(_.isDirectory)
        val names = dirs.map(_.getPath.getName).toSet
        def isProto(n: String) = n == "seed" || n.matches("[bcd]\\d+")
        // Two layouts share the protocol: MULTI-ROOT kinds (a seed /
        // b<id> / c<hw> / d<id> sub-root per commit — vectors,
        // postings, shingles, df, tombstones) and FLAT kinds (one
        // parquet frame, possibly hive-partitioned — cents, codebook).
        // The ledger names sub-roots, so its cross-checks only apply
        // to the multi-root shape; a flat kind's integrity is its own
        // top-level _SUCCESS.
        val multiRoot = k == "tombstones" || names.exists(isProto)
        // the newest compaction's fold order: batches at or below it
        // were purged ON PURPOSE and their ledger entries kept only to
        // short-circuit replays
        val maxCompact = names.collect {
          case n if n.matches("c\\d+") => n.drop(1).toLong
        }.foldLeft(0L)(math.max)
        for (st <- dirs) {
          val n = st.getPath.getName
          val committed =
            if (n.matches("b\\d+")) folded.contains(n.drop(1).toLong)
            else if (n.matches("d\\d+")) deleted.contains(n.drop(1).toLong)
            else !n.startsWith(".")
          if (!committed) {
            if (now - st.getModificationTime > graceMs)
              reclaim(st.getPath, "uncommitted batch/staging dir past " +
                "the writer grace — its fold crashed before the ledger " +
                "commit and any replay re-stages with overwrite semantics")
            else issues += FsckIssue("info", st.getPath.toString,
              "uncommitted dir inside the writer grace (a fold may be " +
                "in flight)")
          } else if (isProto(n) &&
              !f.exists(new Path(st.getPath, "_SUCCESS")))
            issues += FsckIssue("fatal", st.getPath.toString,
              "committed dir is missing its _SUCCESS marker — a " +
                "partial write is serving")
        }
        // b-dirs land under the multi-root data kinds, d-dirs under
        // `tombstones` (stageTombstones) — check each ledger namespace
        // only where its dirs actually live
        if (k == "tombstones") {
          for (dd <- deleted.toSeq.sorted if !names.contains(s"d$dd"))
            issues += FsckIssue("info", s"$root/$rel/d$dd",
              "ledgered delete dir absent (normal after a compaction's " +
                "physical purge)")
        } else if (multiRoot) {
          for (b <- folded.toSeq.sorted
              if !names.contains(s"b$b") && b > maxCompact)
            issues += FsckIssue("fatal", s"$root/$rel/b$b",
              "ledgered fold dir is MISSING and no compaction covers " +
                "its order — the serve path silently drops this " +
                "batch's rows")
        } else if (!f.exists(new Path(kp, "_SUCCESS")))
          issues += FsckIssue("fatal", kp.toString,
            "flat kind dir is missing its _SUCCESS marker — a partial " +
              "write is serving")
      }
      // superseded generations of this kind past the retirement grace
      // (publishDir reclaims them at the NEXT publish; fsck does it on
      // demand) — mtime is the retirement stamp, see publishDir
      val genRe = genPattern(k)
      for (st <- f.listStatus(rootPath).toSeq.filter(_.isDirectory)) {
        val n = st.getPath.getName
        val isGen = n == k || genRe.pattern.matcher(n).matches()
        if (isGen && n != rel && now - st.getModificationTime > graceMs)
          reclaim(st.getPath,
            "superseded generation past the retirement grace")
      }
    }
    // root-level dot-staging leftovers (crashed ledger/manifest
    // replaces, abandoned publish stagings) — directories and
    // `.*.staging` files only; checksum sidecars stay
    for (st <- f.listStatus(rootPath).toSeq) {
      val n = st.getPath.getName
      val isStaging = n.startsWith(".") && !n.endsWith(".crc") &&
        (st.isDirectory || n.endsWith(".staging"))
      if (isStaging && now - st.getModificationTime > graceMs)
        reclaim(st.getPath, "abandoned staging artifact past the grace")
    }
    leaseHolder().foreach { h =>
      issues += FsckIssue("info", leasePath.toString,
        s"writer lease held by $h (stamp age " +
          s"${now - leaseStampMillis(h)} ms)")
    }
    FsckReport(issues.result(), reclaimed.result())
  }

  /** The committed sub-dirs under the CURRENT generation of `kind`:
    * every non-batch dir (seed, `c<hw>` compactions) plus exactly the
    * ledgered b/d-dirs — MINUS anything a compaction dir supersedes:
    * a `c<hw>` dir IS the resolved content of the seed and every
    * b/d-dir at or below its order, so while both coexist (the window
    * between a floor-bounded vacuum's atomic c-dir rename and its
    * source purges — or a crash inside it) only the c-dir serves.
    * Without the rule that window double-counts: postings/stats unions
    * would see each collapsed row twice. The rename is therefore the
    * vacuum's commit point; the purges are reclamation, not
    * correctness. (Generation-swap compactions are unaffected: their
    * new generation contains only the c-dir.) Empty when the kind
    * directory does not exist.
    */
  def committedDirsOrEmpty(kind: String): Seq[String] = {
    val f = fs
    val kindRel = resolveKind(kind)
    val kindPath = new Path(rootPath, kindRel)
    if (!f.exists(kindPath)) Seq.empty
    else {
      val folded = foldedBatches()
      val deleted = deletedBatches()
      val names = f.listStatus(kindPath).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => !n.startsWith(".") && (
          if (n.matches("b\\d+")) folded.contains(n.drop(1).toLong)
          else if (n.matches("d\\d+")) deleted.contains(n.drop(1).toLong)
          else true))
      dropSuperseded(kindPath, names).map(n => s"$root/$kindRel/$n").sorted
    }
  }

  /** The compaction-supersedes rule: when `c<hw>` dirs exist, the
    * NEWEST one hides the seed, lower c-dirs, and every b/d-dir whose
    * LEDGER id is at or below its order (their content is exactly what
    * it resolved). The comparison is on the id embedded in the name,
    * not [[dirOrd]]: a d-dir's fold order is its high-water mark's
    * business — its absorption into a collapse is decided by when the
    * DELETE committed, i.e. its own ledger id. A d-dir that committed
    * after that collapse already stood ([[committedAbove]]) is not in
    * it and stays visible.
    */
  private def dropSuperseded(kindPath: Path, names: Seq[String]): Seq[String] = {
    val cOrds = names.filter(_.matches("c\\d+")).map(dirOrd)
    if (cOrds.isEmpty) names
    else {
      val maxC = cOrds.max
      names.filterNot(n => n == "seed" ||
        (n.matches("[bcd]\\d+") && n != s"c$maxC" &&
          n.drop(1).toLong <= maxC &&
          !(n.startsWith("d") &&
            committedAbove(new Path(kindPath, n)) >= maxC)))
    }
  }

  /** [[committedDirsOrEmpty]], required non-empty (an index must have a
    * seed or compaction dir to be readable).
    */
  def committedDirs(kind: String): Seq[String] = {
    val dirs = committedDirsOrEmpty(kind)
    require(dirs.nonEmpty, s"index at $root has no committed $kind dirs")
    dirs
  }

  // ---- tombstones ----

  /** Stage a delete batch's victim-id frame (single id column) under
    * `tombstones/d<deleteId>/` with overwrite semantics (replay-safe),
    * carrying the delete's high-water mark: the max COMMITTED LEDGER
    * id at stage time (not just the max fold id), i.e. the newest data
    * this delete can possibly hide. The distinction matters once a
    * floor-bounded vacuum exists: a vacuum's resolved `c<floor>` dir
    * may carry a DELETE id's order (floor = the table's newest commit,
    * which can be a delete), putting its fold order above every
    * ledgered fold — a fold-only high-water mark staged after it would
    * sit below that dir and silently fail to hide its rows. Covering
    * ord ranges where no dir exists is harmless (nothing to anti-join);
    * re-ingest monotonicity is untouched (a later fold's id is above
    * EVERY earlier ledger id by the monotonic-sequence contract, so it
    * still outranks this mark). The ids are written as given, without
    * a `distinct` shuffle: a repeated or absent id is harmless to both
    * readers (the serve-side anti-join and [[clearTombstones]]).
    */
  def stageTombstones(ids: DataFrame, idCol: String, deleteId: Long): Unit =
    ids.select(col(idCol))
      .withColumn("hw", lit((allLedgerIds() + 0L).max))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$root/tombstones/d$deleteId")

  /** Declared read schema of the tombstone dirs stripped from a frame
    * whose `idCol` has type `idType`: `(idCol, hw BIGINT)`, so the read
    * runs no footer-inference job. Integral ids read as BIGINT (Parquet
    * widens a narrower stored id, and a delete may pass wider ids than
    * the index holds); other id types as the frame's own. A legacy
    * tombstone written before high-water marks existed has no `hw`
    * column and reads it as NULL, which the anti-join treats as
    * Long.MaxValue — the old hide-from-everything semantics.
    */
  private def tombstoneSchema(idCol: String, idType: DataType): StructType =
    StructType(Seq(
      StructField(idCol, idType match {
        case ByteType | ShortType | IntegerType => LongType
        case t => t
      }),
      StructField("hw", LongType)))

  /** Serve-side read of an index frame: read every committed sub-dir
    * of `kind` via `readDir`, tag each with its fold order, and
    * anti-join away tombstoned ids SCOPED BY LEDGER ORDER — a
    * tombstone hides a row only when the row's dir order is ≤ the
    * delete's high-water mark, so data folded AFTER a takedown (a
    * re-ingested corrected document) serves normally. No extra plan
    * nodes when the index has no committed deletes.
    */
  def readCommittedStripped(s: SparkSession, kind: String, idCol: String)(
      readDir: String => DataFrame): DataFrame =
    readStrippedFrom(s, committedDirs(kind),
      committedDirsOrEmpty("tombstones"), idCol)(readDir)

  /** [[readCommittedStripped]] AS OF a ledger horizon: serve the index
    * exactly as it stood after ledger id `asOf` — folds (`b<id>`),
    * compactions (`c<hw>`) and per-kind delete deltas (`d<id>`) with
    * id ≤ asOf are included, later ones excluded, and only tombstone
    * batches with deleteId ≤ asOf anti-join. Writers here allocate
    * fold / delete / refresh ids from ONE monotonically increasing
    * sequence per index, so a ledger id IS a consistent snapshot
    * point — the reproducibility contract a training run pins its
    * corpus to ("train against the index as of fold 41").
    *
    * Honesty guards — the read REFUSES (IllegalArgumentException via
    * require) instead of serving a lie when physical maintenance has
    * collapsed the requested history:
    *   - a compaction with hw > asOf replaced the per-fold dirs the
    *     horizon needs (no included base dir remains — compaction is
    *     the documented trade: physical purge for ledger history);
    *   - a committed refresh `r<id>` with id > asOf rewrote the
    *     kind's layout in place.
    * Frozen artifacts OUTSIDE the folded kind (centroids, codebooks)
    * are by construction identical at every refresh-free horizon, so
    * the caller may read them current.
    */
  def readCommittedStrippedAsOf(s: SparkSession, kind: String,
      idCol: String, asOf: Long)(
      readDir: String => DataFrame): DataFrame = {
    val dirs = committedDirsAsOf(kind, asOf)
    def name(d: String) = d.substring(d.lastIndexOf('/') + 1)
    readStrippedFrom(s, dirs, committedDirsOrEmpty("tombstones")
      .filter(d => name(d).drop(1).toLong <= asOf), idCol)(readDir)
  }

  /** [[committedDirs]] restricted to a ledger horizon, with
    * [[readCommittedStrippedAsOf]]'s honesty guards (late refresh,
    * compaction-collapsed history) — for kinds read WITHOUT a
    * tombstone anti-join (merged stats sides, whose `d<id>` delete
    * deltas the horizon filter scopes the same way as fold dirs).
    */
  def committedDirsAsOf(kind: String, asOf: Long): Seq[String] = {
    val lateRefresh = entries().filter(_.matches("r\\d+"))
      .map(_.drop(1).toLong).filter(_ > asOf)
    require(lateRefresh.isEmpty,
      s"index at $root cannot serve as-of $asOf: refresh(es) r" +
        s"${lateRefresh.toSeq.sorted.mkString(", r")} rewrote it in place")
    def name(d: String) = d.substring(d.lastIndexOf('/') + 1)
    def asOfOrd(d: String): Long =
      if (name(d).matches("[bcd]\\d+")) name(d).drop(1).toLong else 0L
    val dirs = committedDirs(kind).filter(asOfOrd(_) <= asOf)
    require(dirs.exists(d => !name(d).matches("[bd]\\d+")),
      s"index at $root cannot serve $kind as-of $asOf: compaction " +
        "collapsed the per-fold history this horizon needs")
    dirs
  }

  /** Shared serve core: union `dirs` tagged with their fold order,
    * anti-join the tombstone dirs `tsDirs` (none: no join at all)
    * scoped by ledger order.
    */
  private def readStrippedFrom(s: SparkSession, dirs: Seq[String],
      tsDirs: Seq[String], idCol: String)(
      readDir: String => DataFrame): DataFrame = {
    val frames = dirs.map { d =>
      val name = d.substring(d.lastIndexOf('/') + 1)
      readDir(d).withColumn("_fold_ord", lit(dirOrd(name)))
    }
    val tagged = frames.reduce(_.union(_))
    if (tsDirs.isEmpty) tagged.drop("_fold_ord")
    else {
      val tt = s.read
        .schema(tombstoneSchema(idCol, tagged.schema(idCol).dataType))
        .parquet(tsDirs: _*)
        .select(col(idCol).as("_ts_id"),
          coalesce(col("hw"), lit(Long.MaxValue)).as("_ts_hw"))
      tagged.join(tt,
          tagged(idCol) === tt("_ts_id") &&
            tagged("_fold_ord") <= tt("_ts_hw"),
          "left_anti")
        .drop("_fold_ord")
    }
  }

  /** Physical-purge step run AFTER compaction published tombstone-
    * stripped data: drop the tombstone dirs (their ledger entries stay,
    * so replayed deletes keep short-circuiting). Crash-safe: a stale
    * tombstone's high-water is below the new `c<hw>` dir's fold order,
    * so it neither hides re-ingested ids nor matches the purged
    * victims.
    */
  def clearTombstones(): Unit =
    fs.delete(new Path(rootPath, "tombstones"), true)

  // ---- writer lease ----

  private def leasePath = new Path(rootPath, "_writer_lease")

  /** The lease stamp this thread's live [[withLease]] body currently
    * holds for this root, if any — the fencing token every commit
    * point is stamped with and verified against.
    */
  private def currentFenceStamp(): Option[String] =
    FoldProtocol.fences.get().get(root).map(_.ref.get())

  /** Fencing check at a commit point ([[commit]], [[publishDir]]'s
    * pointer swap): when this thread runs under [[withLease]], verify
    * the lease file STILL carries this writer's (latest renewed) stamp
    * before the atomic replace lands. A writer whose lease was stolen
    * mid-body (a stall past the TTL let another writer take over)
    * FAILS its publish here instead of interleaving with the stealer
    * and only detecting the theft at release time. Reads under the
    * renewal lock, so a heartbeat mid-replace cannot produce a false
    * mismatch. Outside a lease (seed builds, single-writer test
    * harnesses) there is no fence and no check — acquisition-time
    * mutual exclusion is the only guard, as before.
    */
  private def verifyFence(action: String): Unit =
    FoldProtocol.fences.get().get(root).foreach { fence =>
      val ok = fence.lock.synchronized {
        leaseHolder().contains(fence.ref.get())
      }
      if (!ok)
        throw new IllegalStateException(
          s"fencing check failed: $action on $root aborted — the writer " +
            "lease no longer carries this writer's stamp (now held by " +
            s"${leaseHolder().getOrElse("<released>")}). The lease was " +
            "stolen mid-run; this writer's staged data stays an " +
            "invisible orphan and the stealer's generation serves.")
    }

  /** The current lease holder, if any (owner string as written at
    * acquisition or last heartbeat). Reads through [[readLines]]: the
    * heartbeat's atomic replace exposes the same ChecksumFileSystem
    * crc-sidecar transient as a ledger replace, so a racing read must
    * retry, not throw.
    */
  def leaseHolder(): Option[String] = readLines(leasePath).headOption

  private def leaseStampMillis(holder: String): Long =
    holder.split('@').lastOption.flatMap(_.toLongOption).getOrElse(0L)

  /** Run `body` holding this index's writer lease. Acquisition is an
    * atomic create-if-absent of `_writer_lease`; a live second writer
    * gets an `IllegalStateException` NAMING THE HOLDER instead of
    * silently interleaving publishes. Re-entrant within a thread
    * (nested folds inside a leased compaction take no second lease).
    * A lease whose stamp is older than `ttlMs` is presumed crashed
    * and stolen — and a LIVE holder's stamp never gets that old: a
    * daemon heartbeat re-stamps the lease every `ttlMs / 3` (staged
    * write + the same atomic replace as the ledger, so readers never
    * see a torn stamp) for as long as the body runs, which makes
    * long-running compactions steal-proof instead of merely
    * steal-detecting. The heartbeat is itself CAS-guarded (it renews
    * only while the file carries this writer's current stamp, and
    * stops the moment it sees a foreign one), so it cannot overwrite
    * a legitimately-stolen lease after a heartbeat outage longer than
    * the TTL.
    * Release is CAS-guarded the same way: the finally block deletes
    * the lease file only while it still carries this writer's latest
    * stamp — if a stall beyond `ttlMs` let a second writer steal, the
    * stealer's lease is left intact and the steal surfaces as an
    * `IllegalStateException` (mutual exclusion degrades to at most
    * the documented victim/stealer overlap, never a silently admitted
    * third writer).
    */
  def withLease[T](owner: String,
      ttlMs: Long = FoldProtocol.LeaseTtlMs)(body: => T): T = {
    val held = FoldProtocol.heldLeases.get()
    if (held.contains(root)) return body
    val f = fs
    val stampRef = new java.util.concurrent.atomic.AtomicReference(
      s"$owner@${System.currentTimeMillis()}")
    // Every lease-file mutation below runs under the root's JVM-global
    // lock — the same lock the conditional commit primitive holds for
    // its stamp-check-plus-rename, so an in-process steal can never
    // land BETWEEN a commit's fence check and its pointer replace.
    // (A cross-process steal is excluded by the injected conditional-
    // PUT implementation instead — same contract, store-side.)
    def tryAcquire(): Boolean =
      FoldProtocol.rootLock(root).synchronized {
        try {
          val out = f.create(leasePath, false)
          try out.write(stampRef.get().getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      }
    var acquired = tryAcquire()
    if (!acquired) {
      val holder = leaseHolder()
      val expired = holder.forall(h =>
        System.currentTimeMillis() - leaseStampMillis(h) > ttlMs)
      if (expired) {
        FoldProtocol.rootLock(root).synchronized {
          // re-check under the lock: the holder may have renewed (or a
          // faster stealer may have replaced the lease) since the stat
          if (leaseHolder().forall(h =>
              System.currentTimeMillis() - leaseStampMillis(h) > ttlMs))
            f.delete(leasePath, false)
        }
        acquired = tryAcquire()
      }
      if (!acquired)
        throw new IllegalStateException(
          s"index at $root is write-locked by " +
            s"${leaseHolder().orElse(holder).getOrElse("unknown")}; " +
            "concurrent index writers are not supported")
    }
    val stopBeat = new java.util.concurrent.atomic.AtomicBoolean(false)
    // Serializes each renewal against the release: without it, a
    // release whose join() timed out could CAS-delete the old stamp
    // while a stalled beat is mid-replace — the beat's rename would
    // then resurrect a fresh-stamped orphan lease that blocks the next
    // writer for a full TTL. Inside the lock the beat re-checks
    // stopBeat, so a release that set it can never be trailed by a
    // renewal.
    val renewLock = new Object
    val beat = new Thread(() =>
      try while (!stopBeat.get()) {
        Thread.sleep(math.max(ttlMs / 3, 5L))
        renewLock.synchronized {
          if (!stopBeat.get()) try {
            // rootLock inside renewLock — same order as a conditional
            // commit (fence.lock then rootLock), so no deadlock; the
            // CAS-guarded renewal itself is atomic vs commits and steals
            FoldProtocol.rootLock(root).synchronized {
              if (leaseHolder().contains(stampRef.get())) {
                val next = s"$owner@${System.currentTimeMillis()}"
                val tmp = new Path(rootPath, "._writer_lease.renew")
                val out = f.create(tmp, true)
                try out.write(next.getBytes("UTF-8")) finally out.close()
                atomicReplace(tmp, leasePath)
                stampRef.set(next)
              } else stopBeat.set(true) // stolen: release will surface it
            }
          } catch { case _: java.io.IOException => () } // retry next beat
        }
      } catch { case _: InterruptedException => () })
    beat.setDaemon(true)
    beat.setName(s"graft-lease-renew:$root")
    beat.start()
    FoldProtocol.heldLeases.set(held + root)
    FoldProtocol.fences.set(
      FoldProtocol.fences.get() +
        (root -> FoldProtocol.Fence(stampRef, renewLock)))
    var bodyFailed = false
    try body
    catch { case e: Throwable => bodyFailed = true; throw e }
    finally {
      FoldProtocol.heldLeases.set(FoldProtocol.heldLeases.get() - root)
      FoldProtocol.fences.set(FoldProtocol.fences.get() - root)
      beat.interrupt()
      // CAS-style release, under the renewal lock (stop-flag set inside
      // it, so no renewal can trail this block even if the beat thread
      // outlives the join elsewhere): delete ONLY if the file still
      // carries this writer's (latest renewed) stamp. If a stall
      // outlived ttlMs a stealer now owns the lease — an unconditional
      // delete here would evict the stealer and silently admit a THIRD
      // writer. Leave the stealer's lease intact and surface the steal
      // loudly (unless the body is already throwing — don't mask its
      // exception).
      renewLock.synchronized {
        stopBeat.set(true)
        val current = FoldProtocol.rootLock(root).synchronized {
          val c = leaseHolder()
          if (c.contains(stampRef.get())) f.delete(leasePath, false)
          c
        }
        if (!current.contains(stampRef.get()) && !bodyFailed)
          throw new IllegalStateException(
            s"writer lease on $root was stolen mid-run by " +
              s"${current.getOrElse("<released>")} (the holder stalled " +
              s"past the ${ttlMs} ms TTL without a heartbeat) — this " +
              "writer's publishes may have interleaved with the " +
              "stealer's; verify the index and re-run under a longer TTL")
      }
    }
  }
}

/** Operational snapshot of one index root — see
  * [[FoldProtocol.describe]]. `committedDirCounts` keys are the kinds
  * the caller asked about; a count of 0 means the kind has no readable
  * frame yet. `liveTombstones` are delete batches staged but not yet
  * physically purged by a compaction's `clearTombstones`.
  */
/** One [[FoldProtocol.fsck]] finding: `severity` is `fatal` (serves
  * wrong/partial data — human intervention), `reclaimable` (provably
  * dead crash litter — deleted under `repair = true`) or `info`.
  */
final case class FsckIssue(severity: String, path: String, problem: String)

/** [[FoldProtocol.fsck]] result: all findings plus the paths actually
  * deleted this run (empty unless `repair = true`).
  */
final case class FsckReport(issues: Seq[FsckIssue], reclaimed: Seq[String]) {
  def fatal: Seq[FsckIssue] = issues.filter(_.severity == "fatal")
  def clean: Boolean = issues.forall(_.severity == "info")
}

final case class IndexStatus(
    root: String,
    generations: Map[String, String],
    foldedBatches: Seq[Long],
    deletedBatches: Seq[Long],
    highWater: Long,
    committedDirCounts: Map[String, Int],
    liveTombstones: Seq[Long],
    leaseHolder: Option[String])

/** The filesystem publish primitives, usable outside an index root
  * (Layout's date-partition compaction and snapshot publishes share
  * them).
  */
object FoldProtocol {

  /** Default writer-lease TTL: long enough to cover any single
    * fold/compaction, short enough that a crashed maintenance job
    * does not block the index for a shift.
    */
  val LeaseTtlMs: Long = 15 * 60 * 1000L

  /** Default reader grace for retired generations: a generation other
    * than the currently-served and immediately-previous one is deleted
    * only once it is this old, so a reader that resolved the manifest
    * and then ran a long Spark action survives ANY number of
    * intervening publishes up to this bound (the one-generation grace
    * alone is exactly one publish deep — two rapid auto-compactions
    * during a slow scan would yank the directory out from under it).
    */
  val PublishGraceMs: Long = 10 * 60 * 1000L

  private val heldLeases: ThreadLocal[Set[String]] =
    ThreadLocal.withInitial(() => Set.empty[String])

  /** A live lease's fencing state: the (heartbeat-renewed) stamp the
    * lease file must still carry for this writer's commits to land,
    * and the lock that serializes reads against renewal/release.
    */
  private[index] final case class Fence(
      ref: java.util.concurrent.atomic.AtomicReference[String],
      lock: Object)

  /** root → live fence for leases held by the CURRENT thread — how
    * commit points inside a [[FoldProtocol.withLease]] body find the
    * stamp to verify (thread-local, like [[heldLeases]]: Spark actions
    * fan out to executors, but every protocol commit runs on the
    * driver thread that acquired the lease).
    */
  private val fences: ThreadLocal[Map[String, Fence]] =
    ThreadLocal.withInitial(() => Map.empty[String, Fence])

  /** One JVM-global lock per index root, shared by the conditional
    * commit primitive and EVERY lease-file mutation (acquire,
    * expired-steal, heartbeat renewal, release). Holding it makes
    * "check the lease stamp AND land the pointer replace" one atomic
    * step against "overwrite the lease" — the in-process realization
    * of the conditional-PUT contract.
    */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[index] def rootLock(root: String): Object =
    rootLocks.computeIfAbsent(root, _ => new Object)

  /** The conditional-commit contract for the two pointer files (ledger,
    * manifest): atomically replace `dst` with `content` IFF the lease
    * file still carries `expectFence` (when present) — the
    * compare-and-swap a fenced commit needs to make a mid-window lease
    * steal impossible rather than merely detected. Returns false (and
    * writes nothing) on a fence mismatch. This trait is exactly the
    * object-store shim surface: a deployment on S3/GCS implements it
    * with a conditional PUT (If-Match on the pointer object, the same
    * primitive every table-format log commit needs) and injects it via
    * [[FoldProtocol.commitPrimitive]]; the default implementation
    * realizes the same contract in-process by running the stamp check
    * and the atomic rename under the root's [[rootLock]], which every
    * lease mutation also takes.
    */
  trait CommitPrimitive {
    def replaceIfFenced(conf: org.apache.hadoop.conf.Configuration,
        root: String, dst: Path, content: Array[Byte],
        leaseFile: Path, expectFence: Option[String]): Boolean
  }

  /** Default conditional commit: stamp check + staged write + atomic
    * rename as ONE critical section on the root's lock. With no fence
    * expected (unleased writers — seed builds, single-writer
    * harnesses) it degrades to the plain atomic replace.
    */
  object LockedCommitPrimitive extends CommitPrimitive {
    def replaceIfFenced(conf: org.apache.hadoop.conf.Configuration,
        root: String, dst: Path, content: Array[Byte],
        leaseFile: Path, expectFence: Option[String]): Boolean =
      rootLock(root).synchronized {
        val f = dst.getFileSystem(conf)
        val fenceHolds = expectFence.forall { stamp =>
          try {
            if (!f.exists(leaseFile)) false
            else {
              val in = f.open(leaseFile)
              try scala.io.Source.fromInputStream(in, "UTF-8")
                .getLines().map(_.trim).find(_.nonEmpty).contains(stamp)
              finally in.close()
            }
          } catch { case _: java.io.IOException => false }
        }
        if (!fenceHolds) false
        else {
          val tmp = new Path(dst.getParent, s".${dst.getName}.staging")
          val out = f.create(tmp, true)
          try out.write(content) finally out.close()
          atomicReplace(conf, tmp, dst)
          true
        }
      }
  }

  /** The commit primitive in force — injectable (tests interleave a
    * deterministic steal inside the verify→replace window; an
    * object-store deployment swaps in its conditional-PUT shim).
    */
  @volatile private[graft] var commitPrimitive: CommitPrimitive =
    LockedCommitPrimitive

  /** Test seam for [[FoldProtocol.fsck]]'s repair path: invoked just
    * before each reclaim delete's lease re-verification, letting a spec
    * interleave a foreign lease acquisition deterministically between
    * the audit's entry check and the delete. No-op in production.
    */
  @volatile private[graft] var fsckPreReclaimHook: () => Unit = () => ()

  /** Atomic replacing rename (`FileContext.rename` with
    * `Options.Rename.OVERWRITE` — atomic on local/HDFS-like
    * filesystems, the same primitive Spark's checkpoint managers use).
    * Under the manifest protocol this is only ever applied to the two
    * small pointer files (ledger, manifest) — the one primitive an
    * object-store deployment must shim (conditional PUT), exactly as
    * for a table-format log commit.
    */
  def atomicReplace(conf: org.apache.hadoop.conf.Configuration,
      src: Path, dst: Path): Unit = {
    val f = src.getFileSystem(conf)
    val fc = FileContext.getFileContext(f.getUri, conf)
    fc.rename(f.makeQualified(src), f.makeQualified(dst),
      Options.Rename.OVERWRITE)
  }

  /** The one partitioned index write: `df` hash-clustered into exactly
    * `spark.sql.shuffle.partitions` slots on `partCol` (plus `sliceBy`,
    * which spreads one large partition value over several writers),
    * then written hive-partitioned by `partCol` at `dir` in overwrite
    * mode, so a replayed stage rewrites the same dir. Clustering by the
    * partition value keeps each value's rows in few tasks, so a
    * partition dir holds a few files, not one sliver per task.
    * Repartitioning BY NUMBER is deliberate: AQE never coalesces that
    * shuffle, so the write always runs the session's shuffle
    * parallelism — a small fold into an index with many cells writes
    * its cell files from every core instead of serially from one
    * coalesced task, and a cluster-sized session fans out to the
    * cluster.
    */
  def writePartitioned(df: DataFrame, dir: String, partCol: String,
      sliceBy: Column*): Unit =
    df.repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col(partCol) +: sliceBy: _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCol)
      .parquet(dir)

  /** Publish `staging` at `target`: rename the live dir aside, rename
    * staging into place, then delete the old data — readers see the
    * previous complete state or the new complete one, never a
    * mid-write directory. Used by Layout's PATH-ADDRESSED publishes
    * (snapshot tables, date partitions), where the path is the API and
    * a pointer file cannot interpose; a reader listing in the instant
    * between the two renames can see the target missing — the
    * manifest-protocol indexes ([[FoldProtocol.publishDir]]) close
    * that window via pointer indirection.
    */
  def replaceDir(conf: org.apache.hadoop.conf.Configuration,
      staging: Path, target: Path, trash: Path): Unit = {
    val f = target.getFileSystem(conf)
    if (f.exists(trash)) f.delete(trash, true)
    if (f.exists(target)) atomicReplace(conf, target, trash)
    atomicReplace(conf, staging, target)
    f.delete(trash, true)
  }
}
