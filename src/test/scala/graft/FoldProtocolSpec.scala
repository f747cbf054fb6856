package graft

import graft.index.FoldProtocol
import graft.operators.{Dedup, Similarity}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/** The versioned-manifest publish protocol and writer lease shared by
  * the three persisted indexes: generation publishes never leave a
  * window where the served directory is missing, a crash between the
  * generation rename and the manifest commit serves the OLD state, and
  * two concurrent writers cannot both commit.
  */
class FoldProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def writeDir(dir: String, rows: Seq[Long]): Unit =
    rows.toDF("v").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)

  private def served(p: FoldProtocol): Seq[Long] =
    spark.read.parquet(p.dir("data")).select($"v").as[Long]
      .collect().toSeq.sorted

  test("publishDir: manifest commit swaps content with no missing-dir " +
    "window; previous generation always survives; older served " +
    "generations retire by AGE, not by publish count") {
    val root = tmpDir("fold-manifest")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data", Seq(1L, 2L)) // pre-manifest plain layout
    assert(served(p) == Seq(1L, 2L))

    writeDir(s"$root/.data.staging", Seq(3L, 4L))
    p.publishDir(".data.staging", "data")
    assert(p.resolveKind("data") == "data.g1")
    assert(served(p) == Seq(3L, 4L))
    // grace window: the pre-publish dir is still on disk for readers
    // that resolved the manifest just before the commit
    assert(new java.io.File(s"$root/data").isDirectory)

    writeDir(s"$root/.data.staging", Seq(5L))
    p.publishDir(".data.staging", "data")
    assert(p.resolveKind("data") == "data.g2")
    assert(served(p) == Seq(5L))
    // age-based retirement: the plain dir is two publishes old but
    // YOUNGER than the grace bound — a reader that resolved it and is
    // mid-scan through rapid back-to-back publishes can still finish
    assert(new java.io.File(s"$root/data").isDirectory)
    assert(new java.io.File(s"$root/data.g1").isDirectory)

    // once the grace bound has elapsed (forced to 0 here) a publish
    // retires everything except the new target and its predecessor
    writeDir(s"$root/.data.staging", Seq(6L))
    p.publishDir(".data.staging", "data", graceMs = 0L)
    assert(p.resolveKind("data") == "data.g3")
    assert(served(p) == Seq(6L))
    assert(!new java.io.File(s"$root/data").exists)
    assert(!new java.io.File(s"$root/data.g1").exists)
    assert(new java.io.File(s"$root/data.g2").isDirectory,
      "the immediately-previous generation survives even at grace 0")
  }

  test("publishDir crash window: a generation renamed into place " +
    "WITHOUT its manifest commit is invisible, and the next publish " +
    "picks a fresh generation and sweeps the orphan") {
    val root = tmpDir("fold-crash")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/.data.staging", Seq(1L))
    p.publishDir(".data.staging", "data")
    assert(served(p) == Seq(1L))

    // simulated crash: stage + rename to data.g2 happened, manifest
    // replace did not
    writeDir(s"$root/data.g2", Seq(99L))
    assert(served(p) == Seq(1L), "orphan generation must not serve")

    writeDir(s"$root/.data.staging", Seq(2L))
    p.publishDir(".data.staging", "data")
    assert(p.resolveKind("data") == "data.g3",
      "replay must not collide with the orphan generation")
    assert(served(p) == Seq(2L))
    assert(!new java.io.File(s"$root/data.g2").exists, "orphan swept")
  }

  test("withLease: a second writer fails fast with the holder's name; " +
    "an expired lease is stolen; leases are re-entrant per thread") {
    val root = tmpDir("fold-lease")
    val p = new FoldProtocol(root, "_ledger")
    val secondResult = new AtomicReference[Option[Throwable]](None)
    p.withLease("writer-a") {
      // re-entrant on the same thread: no self-deadlock
      assert(p.withLease("writer-a")(42) == 42)
      val t = new Thread(() =>
        try { p.withLease("writer-b")(()); secondResult.set(None) }
        catch { case e: Throwable => secondResult.set(Some(e)) })
      t.start(); t.join()
    }
    val err = secondResult.get()
    assert(err.exists(_.isInstanceOf[IllegalStateException]),
      s"second writer must fail, got $err")
    assert(err.get.getMessage.contains("writer-a"),
      "the error must name the live holder")
    assert(p.leaseHolder().isEmpty, "lease released after the block")

    // a CRASHED writer's stale lease (stamp older than the TTL, no
    // heartbeat alive to renew it) is stolen
    val lease = new org.apache.hadoop.fs.Path(root, "_writer_lease")
    val lfs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = lfs.create(lease, false)
    try out.write("crashed-writer@123".getBytes("UTF-8"))
    finally out.close()
    val stole = new AtomicReference(false)
    p.withLease("writer-d", ttlMs = 50L) { stole.set(true) }
    assert(stole.get(), "a crashed holder's expired lease must be stolen")
    assert(p.leaseHolder().isEmpty, "the stealer's release cleans up")
  }

  test("withLease heartbeat: a LIVE body longer than the TTL keeps its " +
    "lease — the renewal re-stamps faster than expiry, so a second " +
    "writer still fails fast and the release is clean") {
    val root = tmpDir("fold-lease-beat")
    val _ = spark.sparkContext // protocol resolves its FS via the session
    val p = new FoldProtocol(root, "_ledger")
    val secondErr = new AtomicReference[Option[Throwable]](None)
    val stamps = new AtomicReference(Set.empty[String])
    p.withLease("long-compaction", ttlMs = 1000L) {
      // body runs well past the 1000 ms TTL; the ttl/3 heartbeat must
      // keep the stamp fresh throughout
      val deadline = System.currentTimeMillis() + 2500L
      while (System.currentTimeMillis() < deadline) {
        p.leaseHolder().foreach(h => stamps.set(stamps.get() + h))
        Thread.sleep(50L)
      }
      val t = new Thread(() =>
        try { p.withLease("impatient", ttlMs = 1000L)(()); secondErr.set(None) }
        catch { case e: Throwable => secondErr.set(Some(e)) })
      t.start(); t.join()
    }
    assert(stamps.get().size > 1,
      s"the heartbeat must have re-stamped the lease: ${stamps.get()}")
    val err = secondErr.get()
    assert(err.exists(_.isInstanceOf[IllegalStateException]),
      s"a second writer must fail against the LIVE long holder, got $err")
    assert(err.get.getMessage.contains("long-compaction"))
    assert(p.leaseHolder().isEmpty,
      "the renewed lease must release cleanly (CAS on the LATEST stamp)")
  }

  test("withLease release is CAS-guarded: a victim whose lease was " +
    "stolen mid-run leaves the thief's lease intact and surfaces the " +
    "steal instead of silently admitting a third writer") {
    val root = tmpDir("fold-lease-cas")
    val p = new FoldProtocol(root, "_ledger")
    val lease = new org.apache.hadoop.fs.Path(root, "_writer_lease")
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val thiefStamp = s"thief@${System.currentTimeMillis()}"
    // default TTL: the heartbeat's first beat is minutes away, so the
    // hand-simulated steal below cannot race a renewal
    val err = intercept[IllegalStateException] {
      p.withLease("victim") {
        // simulate a TTL steal exactly as withLease performs it:
        // delete the (stalled) lease, create-if-absent the new stamp
        fs.delete(lease, false)
        val out = fs.create(lease, false)
        try out.write(thiefStamp.getBytes("UTF-8")) finally out.close()
      }
    }
    assert(err.getMessage.contains("stolen"),
      s"release must name the steal, got: ${err.getMessage}")
    assert(p.leaseHolder().contains(thiefStamp),
      "the thief's lease must survive the victim's release")
    // a third writer now fails fast against the thief — mutual
    // exclusion still holds
    val third = intercept[IllegalStateException] {
      p.withLease("third-writer")(())
    }
    assert(third.getMessage.contains("thief"))
    fs.delete(lease, false) // cleanup: let later suites reuse tmp roots
    // a body that THROWS under a stolen lease propagates its own
    // exception (the steal must not mask the body's failure)
    val boom = intercept[RuntimeException] {
      p.withLease("victim-2") {
        fs.delete(lease, false)
        val out = fs.create(lease, false)
        try out.write("thief2@9".getBytes("UTF-8")) finally out.close()
        throw new RuntimeException("body failure")
      }
    }
    assert(boom.getMessage == "body failure")
    assert(p.leaseHolder().contains("thief2@9"),
      "the foreign lease survives a failing body's release too")
    fs.delete(lease, false)
  }

  test("retirement grace runs from RETIREMENT, not creation: a " +
    "generation that served far longer than graceMs still survives " +
    "the publishes after it stops being current") {
    val root = tmpDir("fold-retire-grace")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/.data.staging", Seq(1L))
    p.publishDir(".data.staging", "data") // data.g1
    // simulate a LONG-SERVING generation: g1's staging-write mtime is
    // an hour in the past when the next publish retires it
    assert(new java.io.File(s"$root/data.g1")
      .setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    writeDir(s"$root/.data.staging", Seq(2L))
    p.publishDir(".data.staging", "data", graceMs = 60 * 1000L) // g2
    writeDir(s"$root/.data.staging", Seq(3L))
    p.publishDir(".data.staging", "data", graceMs = 60 * 1000L) // g3
    assert(served(p) == Seq(3L))
    assert(new java.io.File(s"$root/data.g1").isDirectory,
      "a generation retired seconds ago must survive a 60 s grace " +
        "regardless of how long it SERVED before retirement")
  }

  test("fencing token: a victim whose lease was stolen mid-body FAILS " +
    "its publish and its ledger commit — the staged data never lands " +
    "and the pre-steal state keeps serving") {
    val root = tmpDir("fold-fence")
    val p = new FoldProtocol(root, "_ledger")
    val lease = new org.apache.hadoop.fs.Path(root, "_writer_lease")
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeDir(s"$root/.data.staging", Seq(1L, 2L))
    p.publishDir(".data.staging", "data") // baseline: data.g1 serves
    def steal(stamp: String): Unit = {
      fs.delete(lease, false)
      val out = fs.create(lease, false)
      try out.write(stamp.getBytes("UTF-8")) finally out.close()
    }
    // publishDir path: the pointer swap must be fenced
    val pubErr = intercept[IllegalStateException] {
      p.withLease("victim-pub") {
        steal(s"thief-pub@${System.currentTimeMillis()}")
        writeDir(s"$root/.data.staging", Seq(99L))
        p.publishDir(".data.staging", "data")
      }
    }
    assert(pubErr.getMessage.contains("fencing check failed"),
      s"the publish must fail the fence, got: ${pubErr.getMessage}")
    assert(served(p) == Seq(1L, 2L),
      "the victim's staged generation must not serve")
    assert(p.resolveKind("data") == "data.g1",
      "the manifest must still point at the pre-steal generation")
    fs.delete(lease, false)
    // the fenced victim's renamed-but-never-published generation is an
    // orphan: invisible now, swept by the next legitimate publish
    writeDir(s"$root/.data.staging", Seq(3L))
    p.publishDir(".data.staging", "data")
    assert(served(p) == Seq(3L))
    assert(!new java.io.File(s"$root/data.g2").exists, "orphan swept")

    // ledger-commit path: fold's commit must be fenced too
    val foldErr = intercept[IllegalStateException] {
      p.withLease("victim-fold") {
        steal(s"thief-fold@${System.currentTimeMillis()}")
        p.commit("7")
      }
    }
    assert(foldErr.getMessage.contains("fencing check failed"))
    assert(p.foldedBatches().isEmpty,
      "the victim's fold must not reach the ledger")
    fs.delete(lease, false)

    // and an UN-stolen lease commits normally through the same fence
    p.withLease("legit") { p.commit("8") }
    assert(p.foldedBatches() == Set(8L))
  }

  test("fold/delete under lease: two interleaved writers cannot both " +
    "commit the same index mutation path concurrently") {
    val root = tmpDir("fold-mutex")
    val p = new FoldProtocol(root, "_ledger")
    val failures = new AtomicInteger(0)
    p.withLease("maintenance-job") {
      val t = new Thread(() =>
        try p.fold(7L) { writeDir(s"$root/data/b7", Seq(7L)) }
        catch { case _: IllegalStateException => failures.incrementAndGet() })
      t.start(); t.join()
    }
    assert(failures.get() == 1, "a fold racing a leased writer must fail")
    assert(p.foldedBatches().isEmpty, "the losing fold must not commit")
    // after release the same fold commits normally
    assert(p.fold(7L) { writeDir(s"$root/data/b7", Seq(7L)) })
    assert(p.foldedBatches() == Set(7L))
  }

  test("concurrent reads during repeated compaction publishes never " +
    "error and always see a complete index (IVF end-to-end)") {
    val idx = tmpDir("ivf-concurrent")
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".as("v"))
    Similarity.writeIvfIndex(e, idx)
    val expected = e.count()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerError = new AtomicReference[Option[Throwable]](None)
    val reads = new AtomicInteger(0)
    val reader = new Thread(() =>
      try while (!stop.get()) {
        val n = Similarity.indexVectors(spark, idx).count()
        assert(n == expected, s"read saw $n of $expected vectors")
        reads.incrementAndGet()
      } catch { case t: Throwable => readerError.set(Some(t)) })
    reader.start()
    try for (_ <- 1 to 3) Similarity.compactIvfIndex(spark, idx)
    finally { stop.set(true); reader.join() }
    assert(readerError.get().isEmpty,
      s"reader failed during publish: ${readerError.get()}")
    assert(reads.get() > 0, "the reader must have observed the window")
  }

  test("describe: the operational snapshot tracks the whole lifecycle " +
    "— folds, deletes, tombstone purge, generations, lease — without " +
    "scanning data") {
    val idx = tmpDir("fold-describe")
    val docs = Tables.documents(spark, sf0001)
    Dedup.writeIndex(docs.filter($"doc_id" % 5 === 0), idx)
    val p = Dedup.protocol(idx)

    val fresh = p.describe("shingles", "hashes")
    assert(fresh.foldedBatches.isEmpty && fresh.deletedBatches.isEmpty)
    assert(fresh.highWater == 0L && fresh.liveTombstones.isEmpty)
    assert(fresh.committedDirCounts("shingles") >= 1)
    assert(fresh.leaseHolder.isEmpty)

    assert(Dedup.appendToIndex(docs.filter($"doc_id" % 5 === 1), idx, 3L))
    Dedup.deleteFromIndex(Seq(0L, 5L).toDF("doc_id"), idx, 1L)
    val grown = p.describe("shingles")
    assert(grown.foldedBatches == Seq(3L))
    assert(grown.deletedBatches == Seq(1L))
    assert(grown.highWater == 3L)
    assert(grown.liveTombstones == Seq(1L),
      "staged tombstones must be visible until compaction purges them")

    Dedup.compactIndex(spark, idx)
    val compacted = p.describe("shingles")
    assert(compacted.liveTombstones.isEmpty,
      "compaction's clearTombstones must empty the live set")
    assert(compacted.foldedBatches == Seq(3L),
      "the replay ledger survives compaction")
    assert(compacted.generations.nonEmpty,
      "compaction publishes land the index on manifest generations")

    p.withLease("ops-probe") {
      assert(p.describe("shingles").leaseHolder
        .exists(_.startsWith("ops-probe@")))
    }
  }

  test("dedup fold commit point: staged shingles, hashes and df b-dirs " +
    "without the ledger replace stay invisible, the replay commits, and " +
    "fsck is clean") {
    val idx = tmpDir("dedup-ledger-crash")
    val docs = Tables.documents(spark, sf0001)
    Dedup.writeIndex(docs.filter($"doc_id" % 5 === 0), idx)
    assert(Dedup.appendToIndex(docs.filter($"doc_id" % 5 === 1), idx, 1L))
    val p = Dedup.protocol(idx)
    val incoming = docs.filter($"doc_id" % 5 === 4)
    def served() = Dedup.incrementalKeepNewIndexed(idx, incoming)
      .select($"doc_id").as[Long].collect().toSet
    def dfOf(root: String) =
      Dedup.servedDf(spark, root).as[(Long, Long)].collect().toMap
    val (servedBefore, dfBefore) = (served(), dfOf(idx))

    // simulated crash inside the NEXT fold: its three b2 dirs are
    // staged, the ledger replace (the commit point) never ran
    val batch = docs.filter($"doc_id" % 5 === 2)
    Dedup.stageBatchFold(batch, idx, 2L)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (k <- Seq("shingles", "hashes", "df"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"${p.dir(k)}/b2/_SUCCESS")),
        s"$k/b2 must be staged")
    assert(p.foldedBatches() == Set(1L),
      "an uncommitted fold must not change the ledger")
    assert(served() == servedBefore && dfOf(idx) == dfBefore,
      "staged b2 dirs must stay invisible to rows and df")

    // the replay commits, and the df is a from-scratch build's
    assert(Dedup.appendToIndex(batch, idx, 2L))
    assert(p.foldedBatches() == Set(1L, 2L))
    val scratch = tmpDir("dedup-ledger-crash-scratch")
    Dedup.writeIndex(docs.filter($"doc_id" % 5 < 3), scratch)
    assert(dfOf(idx) == dfOf(scratch))
    assert(p.fsck(Seq("shingles", "hashes", "df", "tombstones")).clean)
  }

  test("fsck: a healthy index (folds, deletes, compaction, publish) " +
    "reports nothing beyond info") {
    val root = tmpDir("fsck-clean")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data/seed", Seq(1L, 2L))
    assert(p.fold(1L) { writeDir(s"$root/data/b1", Seq(3L)) })
    assert(p.delete(0L) { writeDir(s"$root/tombstones/d0", Seq(2L)) })
    val rep = p.fsck(Seq("data", "tombstones"))
    assert(rep.clean, rep.issues.toString)
    assert(rep.reclaimed.isEmpty)
  }

  test("fsck: an uncommitted batch dir is info inside the grace, " +
    "reclaimable past it, and repair deletes it without touching " +
    "committed state") {
    val root = tmpDir("fsck-uncommitted")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data/seed", Seq(1L))
    assert(p.fold(1L) { writeDir(s"$root/data/b1", Seq(2L)) })
    writeDir(s"$root/data/b7", Seq(9L)) // staged, never ledgered
    val young = p.fsck(Seq("data"))
    assert(young.clean, "inside the grace the crashed fold is only info")
    assert(young.issues.exists(i => i.severity == "info" &&
      i.path.endsWith("/b7")))
    new java.io.File(s"$root/data/b7").setLastModified(1000L)
    val old = p.fsck(Seq("data"))
    assert(old.issues.exists(i => i.severity == "reclaimable" &&
      i.path.endsWith("/b7")))
    val repaired = p.fsck(Seq("data"), repair = true)
    assert(repaired.reclaimed.exists(_.endsWith("/b7")))
    assert(!new java.io.File(s"$root/data/b7").exists)
    assert(new java.io.File(s"$root/data/b1").isDirectory)
    assert(p.fsck(Seq("data")).clean)
  }

  test("fsck: a LEDGERED fold dir that vanished is fatal — unless a " +
    "compaction at or above its order covers the purge") {
    val root = tmpDir("fsck-missing")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data/seed", Seq(1L))
    assert(p.fold(3L) { writeDir(s"$root/data/b3", Seq(2L)) })
    val b3 = new org.apache.hadoop.fs.Path(s"$root/data/b3")
    b3.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(b3, true)
    val rep = p.fsck(Seq("data"))
    assert(rep.fatal.exists(_.path.endsWith("/b3")),
      "the serve path would silently drop batch 3")
    writeDir(s"$root/data/c3", Seq(1L, 2L)) // compaction covering b3
    assert(p.fsck(Seq("data")).clean)
  }

  test("fsck: a committed dir stripped of _SUCCESS is fatal; " +
    "abandoned dot-staging artifacts reclaim past the grace but " +
    "checksum sidecars survive") {
    val root = tmpDir("fsck-partial")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data/seed", Seq(1L))
    assert(new java.io.File(s"$root/data/seed/_SUCCESS").delete())
    assert(p.fsck(Seq("data")).fatal.exists(_.path.endsWith("/seed")))

    writeDir(s"$root/.data.staging", Seq(9L)) // abandoned publish
    new java.io.File(s"$root/.data.staging").setLastModified(1000L)
    val rep = p.fsck(Seq("data"), repair = true)
    assert(rep.reclaimed.exists(_.endsWith("/.data.staging")))
    assert(!new java.io.File(s"$root/.data.staging").exists)
    // the ledger's crc sidecar (local ChecksumFileSystem) is never
    // treated as litter, however old
    val crcs = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".crc"))
    crcs.foreach(_.setLastModified(1000L))
    p.fsck(Seq("data"), repair = true)
    crcs.foreach(c => assert(c.exists, s"$c must survive fsck"))
  }

  test("fsck: superseded generations reclaim past the retirement " +
    "grace on demand, current and predecessor stay") {
    val root = tmpDir("fsck-gens")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data", Seq(1L))
    writeDir(s"$root/.data.staging", Seq(2L))
    p.publishDir(".data.staging", "data")
    writeDir(s"$root/.data.staging", Seq(3L))
    p.publishDir(".data.staging", "data")
    // three generations on disk: data (plain), data.g1, data.g2
    assert(p.fsck(Seq("data")).clean,
      "every superseded generation is inside its retirement grace")
    new java.io.File(s"$root/data").setLastModified(1000L)
    val rep = p.fsck(Seq("data"), repair = true)
    assert(rep.reclaimed.exists(_.endsWith("/data")))
    assert(!new java.io.File(s"$root/data").exists)
    assert(new java.io.File(s"$root/data.g1").isDirectory,
      "the in-grace predecessor survives")
    assert(served(p) == Seq(3L))
  }

  test("fsck: the real persisted indexes audit clean after their " +
    "build / fold / delete lifecycles") {
    val ivf = Similarity.ensureIvfIndex(spark, sf0001)
    assert(Similarity.protocol(ivf)
      .fsck(Seq("cents", "vectors", "tombstones")).clean)
    val ivfDel = Similarity.ensureDeletedIvfIndex(spark, sf0001)
    assert(Similarity.protocol(ivfDel)
      .fsck(Seq("cents", "vectors", "tombstones")).clean)
    val bm25 = graft.operators.Retrieval.ensureBm25Index(spark, sf0001)
    assert(graft.operators.Retrieval.protocol(bm25)
      .fsck(Seq("postings", "stats", "tombstones")).clean)
    val dedup = Dedup.ensureIndex(spark, sf0001)
    assert(Dedup.protocol(dedup)
      .fsck(Seq("shingles", "hashes", "df", "tombstones")).clean)
  }

  test("fsck: a LIVE writer lease withholds reclamation — an aged " +
    "uncommitted dir stays on disk until the lease releases") {
    val root = tmpDir("fsck-live-writer")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data/seed", Seq(1L))
    writeDir(s"$root/data/b7", Seq(9L)) // staged, never ledgered
    new java.io.File(s"$root/data/b7").setLastModified(1000L)
    // ANOTHER writer's live lease (fresh stamp, not this thread's
    // fence): reclamation is withheld — that writer may be mid-stage
    val lease = new org.apache.hadoop.fs.Path(root, "_writer_lease")
    val lfs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = lfs.create(lease, false)
    try out.write(s"other-writer@${System.currentTimeMillis()}"
      .getBytes("UTF-8")) finally out.close()
    val rep = p.fsck(Seq("data"), repair = true)
    assert(rep.reclaimed.isEmpty,
      "repair must not delete under another writer's live lease")
    assert(new java.io.File(s"$root/data/b7").isDirectory)
    assert(rep.issues.exists(i => i.severity == "info" &&
      i.problem.contains("NOT reclaimed")))
    lfs.delete(lease, false)
    // the holder ITSELF repairs under its own lease: withLease {
    // fsck(repair) } is the blessed single-writer maintenance pattern
    p.withLease("maintenance") {
      val own = p.fsck(Seq("data"), repair = true)
      assert(own.reclaimed.exists(_.endsWith("/b7")),
        "the lease HOLDER must be able to repair under its own lease")
    }
    assert(!new java.io.File(s"$root/data/b7").exists)
    assert(p.fsck(Seq("data"), repair = true).clean)
  }

  test("conditional commit: a steal landing INSIDE the verify→replace " +
    "window still fails the victim — the replace itself carries the " +
    "fence, not just the advisory check before it") {
    val root = tmpDir("fold-window-steal")
    val p = new FoldProtocol(root, "_ledger")
    val lease = new org.apache.hadoop.fs.Path(root, "_writer_lease")
    val lfs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def steal(stamp: String): Unit = {
      lfs.delete(lease, false)
      val out = lfs.create(lease, false)
      try out.write(stamp.getBytes("UTF-8")) finally out.close()
    }
    // Inject a primitive that interleaves the steal EXACTLY between the
    // victim's fence verification (already passed by the time the
    // primitive is invoked) and the conditional replace — the
    // microsecond window the old verify-then-rename check could not
    // close. The default primitive then evaluates the fence ATOMICALLY
    // with the rename and must refuse to land.
    val default = FoldProtocol.commitPrimitive
    val fired = new AtomicReference(false)
    FoldProtocol.commitPrimitive = new FoldProtocol.CommitPrimitive {
      def replaceIfFenced(conf: org.apache.hadoop.conf.Configuration,
          r: String, dst: org.apache.hadoop.fs.Path, content: Array[Byte],
          leaseFile: org.apache.hadoop.fs.Path,
          expectFence: Option[String]): Boolean = {
        if (!fired.get()) {
          fired.set(true)
          steal(s"window-thief@${System.currentTimeMillis()}")
        }
        default.replaceIfFenced(conf, r, dst, content, leaseFile,
          expectFence)
      }
    }
    try {
      val err = intercept[IllegalStateException] {
        p.withLease("victim-window") { p.commit("11") }
      }
      assert(err.getMessage.contains("conditional commit failed"),
        s"the conditional replace must refuse, got: ${err.getMessage}")
      assert(p.foldedBatches().isEmpty,
        "the victim's entry must never reach the ledger")
    } finally {
      FoldProtocol.commitPrimitive = default
      lfs.delete(lease, false)
    }
    // with the window clear, the same commit lands through the same
    // conditional primitive
    p.withLease("legit-window") { p.commit("11") }
    assert(p.foldedBatches() == Set(11L))
  }

  test("fsck repair under the auditor's OWN lease survives a heartbeat " +
    "renewal mid-audit: the own-stamp check tracks the renewed fence, " +
    "not an entry-time snapshot") {
    val root = tmpDir("fsck-own-renewed")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data/seed", Seq(1L))
    writeDir(s"$root/data/b7", Seq(9L)) // staged, never ledgered
    new java.io.File(s"$root/data/b7").setLastModified(1000L)
    p.withLease("maintenance-renewing", ttlMs = 300L) {
      // force ≥1 heartbeat renewal (ttl/3 = 100 ms) BETWEEN the audit's
      // entry liveness check and the per-reclaim re-verification — the
      // renewed stamp must still read as the auditor's own
      FoldProtocol.fsckPreReclaimHook = () => Thread.sleep(450L)
      try {
        val rep = p.fsck(Seq("data"), repair = true)
        assert(rep.reclaimed.exists(_.endsWith("/b7")),
          "repair must proceed under the auditor's RENEWED own lease, " +
            s"got ${rep.issues}")
      } finally FoldProtocol.fsckPreReclaimHook = () => ()
    }
    assert(!new java.io.File(s"$root/data/b7").exists)
  }

  test("fold commit staged-dir guard: a staged b-dir deleted out of " +
    "band between stage and commit FAILS the fold — the ledger never " +
    "points at missing data") {
    val root = tmpDir("fold-staged-guard")
    val p = new FoldProtocol(root, "_ledger")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val err = intercept[IllegalStateException] {
      p.fold(7L, Seq("data")) {
        writeDir(s"$root/data/b7", Seq(7L))
        // out-of-band deletion (misconfigured sweeper, manual rm)
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/data/b7"), true)
      }
    }
    assert(err.getMessage.contains("staged-dir guard failed"),
      s"the commit must refuse, got: ${err.getMessage}")
    assert(p.foldedBatches().isEmpty,
      "the fold must not reach the ledger — fsck's " +
        "missing-ledgered-dir fatal state stays unreachable")
    // the replay re-stages and commits normally
    assert(p.fold(7L, Seq("data")) { writeDir(s"$root/data/b7", Seq(7L)) })
    assert(p.foldedBatches() == Set(7L))

    // the delete path guards its tombstone dir the same way
    val derr = intercept[IllegalStateException] {
      p.delete(3L) {
        writeDir(s"$root/tombstones/d3", Seq(7L))
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/tombstones/d3"),
          true)
      }
    }
    assert(derr.getMessage.contains("staged-dir guard failed"))
    assert(p.deletedBatches().isEmpty)
    assert(p.delete(3L) { writeDir(s"$root/tombstones/d3", Seq(7L)) })
    assert(p.deletedBatches() == Set(3L))
  }

  test("fsck repair re-verifies the lease per reclaim: a writer lease " +
    "acquired AFTER the audit's entry check withholds the delete " +
    "instead of racing the writer's re-staged dirs") {
    val root = tmpDir("fsck-midrun-lease")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data/seed", Seq(1L))
    writeDir(s"$root/data/b7", Seq(9L)) // staged, never ledgered
    new java.io.File(s"$root/data/b7").setLastModified(1000L)
    val lease = new org.apache.hadoop.fs.Path(root, "_writer_lease")
    val lfs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // deterministic interleave: the foreign lease goes live between
    // fsck's entry liveness check (no lease yet → reclaimable) and the
    // repair delete (lease live → withheld)
    FoldProtocol.fsckPreReclaimHook = () =>
      if (!lfs.exists(lease)) {
        val out = lfs.create(lease, false)
        try out.write(s"mid-run-writer@${System.currentTimeMillis()}"
          .getBytes("UTF-8")) finally out.close()
      }
    try {
      val rep = p.fsck(Seq("data"), repair = true)
      assert(rep.reclaimed.isEmpty,
        "nothing may be deleted once a lease went live mid-audit")
      assert(new java.io.File(s"$root/data/b7").isDirectory,
        "the possibly-re-staged dir must survive")
      assert(rep.issues.exists(i => i.severity == "info" &&
        i.problem.contains("WITHHELD")),
        s"the withheld repair must be reported, got ${rep.issues}")
    } finally {
      FoldProtocol.fsckPreReclaimHook = () => ()
      lfs.delete(lease, false)
    }
    // lease released: the same audit reclaims normally
    val rep2 = p.fsck(Seq("data"), repair = true)
    assert(rep2.reclaimed.exists(_.endsWith("/b7")))
    assert(!new java.io.File(s"$root/data/b7").exists)
  }

  test("normalizedFloor on an epoch-minted root: a floor below every " +
    "committed id refuses DESCRIPTIVELY (require, not empty.max), and " +
    "the committed id itself normalizes to itself") {
    val root = tmpDir("fold-epoch-floor")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data/seed", Seq(1L)) // also forces the session up
    // streaming epochs mint far above 1 — the [1, max] range check
    // passes for small floors yet no committed id sits below them
    val epoch = 4294967296L // 2^32
    p.commit(epoch.toString)
    val e = intercept[IllegalArgumentException](p.normalizedFloor(3L))
    assert(e.getMessage.contains("names no committed ledger id") &&
      e.getMessage.contains(epoch.toString),
      s"want the descriptive refusal, got: ${e.getMessage}")
    assert(p.normalizedFloor(epoch) == epoch)
  }

  test("requireNoDetachedSurvivors decides (not crashes) on legacy " +
    "survivors: an hw-less tombstone reads as MaxValue and an " +
    "all-empty survivor set is vacuously safe") {
    val root = tmpDir("fold-survivor-legacy")
    val p = new FoldProtocol(root, "_ledger")
    writeDir(s"$root/data/seed", Seq(1L, 2L))
    p.commit("1")
    // legacy hw-LESS tombstone dir (pre-high-water build): no hw column
    Seq(1L).toDF("v").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/tombstones/d2")
    p.commit("d2")
    // MaxValue semantics = hide-from-everything = never detachable
    p.requireNoDetachedSurvivors(spark, 1L)
    // an EMPTY survivor (zero victim rows, hw column present): the min
    // is null — vacuously safe, not an NPE
    val root2 = tmpDir("fold-survivor-empty")
    val p2 = new FoldProtocol(root2, "_ledger")
    writeDir(s"$root2/data/seed", Seq(1L))
    p2.commit("1")
    p2.stageTombstones(Seq.empty[Long].toDF("v"), "v", 2L)
    p2.commit("d2")
    p2.requireNoDetachedSurvivors(spark, 1L)
    // a REAL detached survivor still refuses
    Seq(5L).toDF("v").withColumn("hw",
        org.apache.spark.sql.functions.lit(0L))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root2/tombstones/d3")
    p2.commit("d3")
    assertThrows[IllegalArgumentException](
      p2.requireNoDetachedSurvivors(spark, 1L))
  }
}
