package graft

import graft.operators.{Retrieval, Similarity}
import org.apache.spark.sql.functions._

/** As-of (ledger time-travel) reads of the persisted indexes: the
  * horizon semantics behind the `sim_ivf_asof` value gate, and the
  * honesty guards — the protocol must REFUSE to serve a horizon whose
  * physical history no longer exists rather than approximate it.
  */
class AsOfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def e = Tables.embeddings(spark, sf0001)
    .select($"vec_id", $"embedding".as("v"))

  private def queries() = Tables.embeddings(spark, sf0001)
    .filter($"vec_id" < 20)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  private def served(idx: String, asOf: Option[Long] = None) =
    Similarity.indexTopK(spark, idx, queries(), asOf = asOf)
      .as[(Long, Long, Int)].collect().toSeq.sorted

  test("as-of 0 on the evolved index serves EXACTLY what a fresh " +
    "history-only build serves — the snapshot is the index that " +
    "existed, not an approximation") {
    val evolved = Similarity.ensureAsOfIvfIndex(spark, sf0001)
    val fresh = tmpDir("asof-hist-only")
    Similarity.writeIvfIndex(e.filter($"vec_id" % 5 =!= 4), fresh)
    assert(served(evolved, asOf = Some(0L)) == served(fresh),
      "the pre-fold horizon must reproduce the history-only index")
    // horizon 1 folds the wave in but hides the delete; horizon 2 is
    // the current view
    val h1 = served(evolved, asOf = Some(1L))
    val victims = e.filter($"vec_id" % 9 === 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(h1.exists(r => victims.contains(r._2)),
      "pre-delete horizon must still serve eventual victims")
    val h2 = served(evolved, asOf = Some(2L))
    assert(h2 == served(evolved),
      "the max horizon must equal the current view")
    assert(!h2.exists(r => victims.contains(r._2)),
      "the post-delete horizon must hide every victim")
  }

  test("the PQ read path shares the horizon semantics: as-of 0 on an " +
    "evolved IVF-PQ index serves what a fresh history-only PQ build " +
    "serves, and the max horizon equals the current view") {
    def pqServed(idx: String, asOf: Option[Long] = None) =
      Similarity.ivfPqTopK(spark, idx, queries(), e, asOf = asOf)
        .as[(Long, Long, Int)].collect().toSeq.sorted
    val evolved = tmpDir("asof-pq")
    val hist = e.filter($"vec_id" % 5 =!= 4)
    Similarity.writeIvfPqIndex(hist, evolved)
    assert(Similarity.appendToIvfPqIndex(
      e.filter($"vec_id" % 5 === 4), evolved, 1L))
    assert(Similarity.deleteFromIvfPqIndex(
      e.filter($"vec_id" % 9 === 0).select($"vec_id"), evolved, 2L))
    val fresh = tmpDir("asof-pq-hist")
    Similarity.writeIvfPqIndex(hist, fresh)
    assert(pqServed(evolved, asOf = Some(0L)) == pqServed(fresh),
      "the pre-fold horizon must reproduce the history-only PQ index")
    assert(pqServed(evolved, asOf = Some(2L)) == pqServed(evolved),
      "the max horizon must equal the current view")
    val victims = e.filter($"vec_id" % 9 === 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(pqServed(evolved, asOf = Some(1L))
      .exists(r => victims.contains(r._2)),
      "the pre-delete horizon must still serve eventual victims")
  }

  test("the PQ rung speaks floor-bounded vacuum: surviving horizons " +
    "serve identically, the reclaimed one refuses, and the replay " +
    "no-ops — codes/codebook/cents untouched") {
    def pqServed(idx: String, asOf: Option[Long] = None) =
      Similarity.ivfPqTopK(spark, idx, queries(), e, asOf = asOf)
        .as[(Long, Long, Int)].collect().toSeq.sorted
    val idx = tmpDir("vac-pq")
    Similarity.writeIvfPqIndex(e.filter($"vec_id" % 5 =!= 4), idx)
    assert(Similarity.appendToIvfPqIndex(
      e.filter($"vec_id" % 5 === 4), idx, 1L))
    assert(Similarity.deleteFromIvfPqIndex(
      e.filter($"vec_id" % 9 === 0).select($"vec_id"), idx, 2L))
    val pre = Map(1L -> pqServed(idx, Some(1L)), 2L -> pqServed(idx, Some(2L)))
    val preNow = pqServed(idx)
    assert(Similarity.vacuumIvfPqIndex(spark, idx, 1L))
    for (h <- Seq(1L, 2L))
      assert(pqServed(idx, Some(h)) == pre(h), s"horizon $h moved")
    assert(pqServed(idx) == preNow)
    assertThrows[IllegalArgumentException](pqServed(idx, Some(0L)))
    assert(!Similarity.vacuumIvfPqIndex(spark, idx, 1L),
      "a replayed vacuum must be a committed no-op")
  }

  test("the dedup read path shares the horizon semantics: as-of 0 on " +
    "an evolved shingle index answers what a fresh seed-only build " +
    "answers, the max horizon equals the current view, and vacuum " +
    "keeps survivors / refuses the reclaimed horizon / no-ops replay") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf0001)
    val hist = docs.filter($"doc_id" % 5 =!= 4)
    val incoming = docs.filter($"doc_id" % 5 === 4)
    def survivors(idx: String, asOf: Option[Long]): Set[Long] =
      asOf.fold(Dedup.incrementalKeepNewIndexed(idx, incoming))(
          Dedup.incrementalKeepNewIndexedAsOf(idx, incoming, _))
        .select($"doc_id").as[Long].collect().toSet
    val idx = tmpDir("asof-dedup")
    Dedup.writeIndex(hist.filter($"doc_id" % 5 =!= 3), idx)
    assert(Dedup.appendToIndex(hist.filter($"doc_id" % 5 === 3), idx, 1L))
    assert(Dedup.deleteFromIndex(
      hist.filter($"doc_id" % 10 === 0 || $"doc_id" % 10 === 7)
        .select($"doc_id"), idx, 2L))
    // horizon 0 == a fresh index that only ever saw the seed wave
    val fresh = tmpDir("asof-dedup-seed")
    Dedup.writeIndex(hist.filter($"doc_id" % 5 =!= 3), fresh)
    assert(survivors(idx, Some(0L)) == survivors(fresh, None),
      "the pre-fold horizon must reproduce the seed-only index")
    // max horizon == the current view (persisted-summary path)
    assert(survivors(idx, Some(2L)) == survivors(idx, None),
      "the max horizon must equal the current view")
    // vacuum at floor 1: survivors hold, horizon 0 refuses, replay no-ops
    val pre = Map(1L -> survivors(idx, Some(1L)),
      2L -> survivors(idx, Some(2L)))
    assert(Dedup.vacuumDedupIndex(spark, idx, 1L))
    for (h <- Seq(1L, 2L))
      assert(survivors(idx, Some(h)) == pre(h), s"horizon $h moved")
    assertThrows[IllegalArgumentException](survivors(idx, Some(0L)))
    assert(!Dedup.vacuumDedupIndex(spark, idx, 1L),
      "a replayed vacuum must be a committed no-op")
    // physical reclamation: one c1 per sub-frame, seed and b1 gone
    val p = Dedup.protocol(idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (sub <- Seq("shingles", "hashes")) {
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(p.dir(sub)))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      assert(names == Set("c1"), s"$sub dirs: $names")
    }
  }

  test("the binary read path shares the horizon semantics: as-of 0 on " +
    "an evolved IVF+binary index serves what a fresh history-only " +
    "build serves, the max horizon equals the current view, and the " +
    "pre-delete horizon still serves eventual victims — and the " +
    "refresh honesty guard refuses earlier horizons") {
    def binServed(idx: String, asOf: Option[Long] = None) =
      Similarity.ivfBinaryTopK(spark, idx, queries(), e, asOf = asOf)
        .as[(Long, Long, Int)].collect().toSeq.sorted
    val evolved = tmpDir("asof-bin")
    val hist = e.filter($"vec_id" % 5 =!= 4)
    Similarity.writeIvfBinaryIndex(hist, evolved)
    assert(Similarity.appendToIvfBinaryIndex(
      e.filter($"vec_id" % 5 === 4), evolved, 1L))
    assert(Similarity.deleteFromIvfBinaryIndex(
      e.filter($"vec_id" % 9 === 0).select($"vec_id"), evolved, 2L))
    val fresh = tmpDir("asof-bin-hist")
    Similarity.writeIvfBinaryIndex(hist, fresh)
    assert(binServed(evolved, asOf = Some(0L)) == binServed(fresh),
      "the pre-fold horizon must reproduce the history-only binary index")
    assert(binServed(evolved, asOf = Some(2L)) == binServed(evolved),
      "the max horizon must equal the current view")
    val victims = e.filter($"vec_id" % 9 === 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(binServed(evolved, asOf = Some(1L))
      .exists(r => victims.contains(r._2)),
      "the pre-delete horizon must still serve eventual victims")
    assert(!binServed(evolved, asOf = Some(2L))
      .exists(r => victims.contains(r._2)),
      "the post-delete horizon must hide every victim")
    // refresh honesty: earlier horizons refuse after an in-place rewrite
    assert(Similarity.refreshIvfBinaryIndex(spark, evolved, 3L, e))
    val err = intercept[IllegalArgumentException] {
      binServed(evolved, asOf = Some(1L))
    }
    assert(err.getMessage.contains("refresh"),
      s"wrong refusal reason: ${err.getMessage}")
    assert(binServed(evolved, asOf = Some(3L)) == binServed(evolved),
      "the post-refresh horizon serves the refreshed view")
  }

  test("the BM25 read path shares the horizon semantics: as-of 0 on " +
    "the evolved inverted index scores EXACTLY what a fresh " +
    "history-only index scores (stats deltas included), and the max " +
    "horizon equals the current view") {
    def bmServed(idx: String, asOf: Option[Long] = None) =
      Retrieval.bm25TopK(spark, idx, asOf = asOf)
        .as[(Long, Double)].collect().toSeq.sorted
    val evolved = Retrieval.ensureAsOfBm25Index(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    val fresh = tmpDir("asof-bm25-hist")
    Retrieval.writeBm25Index(docs.filter($"doc_id" % 5 =!= 4), fresh)
    assert(bmServed(evolved, asOf = Some(0L)) == bmServed(fresh),
      "the pre-fold horizon must reproduce the history-only index " +
        "(postings AND stats)")
    assert(bmServed(evolved, asOf = Some(2L)) == bmServed(evolved),
      "the max horizon must equal the current view")
    val victims = docs.filter($"doc_id" % 7 === 3)
      .select($"doc_id").as[Long].collect().toSet
    val h1 = bmServed(evolved, asOf = Some(1L))
    assert(h1 != bmServed(evolved),
      "the pre-delete horizon must differ from the post-delete view " +
        "(the delete shifts stats and candidates)")
    assert(!bmServed(evolved, asOf = Some(2L))
      .exists(r => victims.contains(r._1)),
      "the post-delete horizon must hide every victim")
  }

  test("the phrase, substring and NEAR read paths share the horizon " +
    "semantics: as-of 0 equals a fresh history-only build, the max " +
    "horizon equals the current view, and compaction makes every " +
    "collapsed horizon refuse") {
    val docs = Tables.documents(spark, sf0001)
    val hist = docs.filter($"doc_id" % 5 =!= 4)

    // phrase
    val ph = tmpDir("asof-phrase")
    Retrieval.Phrase.write(hist, ph)
    assert(Retrieval.Phrase.appendTo(
      docs.filter($"doc_id" % 5 === 4), ph, 1L))
    val phFresh = tmpDir("asof-phrase-hist")
    Retrieval.Phrase.write(hist, phFresh)
    def phServed(idx: String, asOf: Option[Long] = None) =
      Retrieval.phraseTopK(spark, idx, Retrieval.ProbePhrase, asOf = asOf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    assert(phServed(ph, Some(0L)) == phServed(phFresh),
      "phrase pre-fold horizon must reproduce the history-only index")
    assert(phServed(ph, Some(1L)) == phServed(ph),
      "phrase max horizon must equal the current view")

    // substring
    val tg = tmpDir("asof-trgm")
    Retrieval.Trigram.write(hist, tg)
    assert(Retrieval.Trigram.appendTo(
      docs.filter($"doc_id" % 5 === 4), tg, 1L))
    val tgFresh = tmpDir("asof-trgm-hist")
    Retrieval.Trigram.write(hist, tgFresh)
    def tgServed(idx: String, asOf: Option[Long] = None) =
      Retrieval.substringSearch(spark, idx, docs, Retrieval.ProbeNeedle,
        asOf = asOf)
        .as[(Long, Long)].collect().toSeq.sorted
    assert(tgServed(tg, Some(0L)) == tgServed(tgFresh),
      "substring pre-fold horizon must reproduce the history-only index")
    assert(tgServed(tg, Some(1L)) == tgServed(tg),
      "substring max horizon must equal the current view")

    // NEAR
    val nr = tmpDir("asof-near")
    Retrieval.Near.write(hist, nr)
    assert(Retrieval.Near.appendTo(
      docs.filter($"doc_id" % 5 === 4), nr, 1L))
    val nrFresh = tmpDir("asof-near-hist")
    Retrieval.Near.write(hist, nrFresh)
    def nrServed(idx: String, asOf: Option[Long] = None) =
      Retrieval.nearSearch(spark, idx, Retrieval.NearWords,
        Retrieval.NearWindow, asOf = asOf)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(nrServed(nr, Some(0L)) == nrServed(nrFresh),
      "NEAR pre-fold horizon must reproduce the history-only index")
    assert(nrServed(nr, Some(1L)) == nrServed(nr),
      "NEAR max horizon must equal the current view")

    // honesty guard: compaction collapses per-fold history — every
    // horizon under the compaction high-water must REFUSE, the
    // current view keeps serving, on all three kinds
    Retrieval.Phrase.compact(spark, ph)
    Retrieval.Trigram.compact(spark, tg)
    graft.operators.Retrieval.Near.compact(spark, nr)
    for ((name, f) <- Seq[(String, () => Any)](
        "phrase" -> (() => phServed(ph, Some(0L))),
        "substring" -> (() => tgServed(tg, Some(0L))),
        "near" -> (() => nrServed(nr, Some(0L))))) {
      val err = intercept[IllegalArgumentException] { f() }
      assert(err.getMessage.contains("compaction"),
        s"$name: wrong refusal reason: ${err.getMessage}")
    }
    assert(phServed(ph, Some(1L)) == phServed(ph))
    assert(tgServed(tg, Some(1L)) == tgServed(tg))
    assert(nrServed(nr, Some(1L)) == nrServed(nr))
  }

  test("the cross-index matrix serve is all-or-nothing: when ONE leg " +
    "(substring) is compacted past the horizon, the WHOLE matrix " +
    "refuses that horizon — a partially-consistent readout never " +
    "escapes — while horizons every leg can still serve keep working") {
    val docs = Tables.documents(spark, sf0001)
    val hist = docs.filter($"doc_id" % 5 =!= 4)
    val wave = docs.filter($"doc_id" % 5 === 4)
    val bm = tmpDir("matrix-bm25")
    Retrieval.writeBm25Index(hist, bm)
    assert(Retrieval.appendToBm25Index(wave, bm, 1L))
    val tg = tmpDir("matrix-trgm")
    Retrieval.Trigram.write(hist, tg)
    assert(Retrieval.Trigram.appendTo(wave, tg, 1L))
    val ann = tmpDir("matrix-ivf")
    Similarity.writeIvfIndex(e.filter($"vec_id" % 5 =!= 4), ann)
    assert(Similarity.appendToIvfIndex(
      e.filter($"vec_id" % 5 === 4), ann, 1L))
    val qd = e.filter($"vec_id" === 0)
      .select(lit(-1L).as("query_id"), $"v".as("qv"))
    def matrix(h: Long) =
      Retrieval.asOfMatrixServe(spark, bm, tg, ann, qd, docs, h)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val h0 = matrix(0L)
    assert(h0.nonEmpty, "pre-compaction horizon 0 must serve")
    val h1 = matrix(1L)
    assert(h1.nonEmpty, "horizon 1 must serve")
    // one leg loses horizon 0's physical history
    Retrieval.Trigram.compact(spark, tg)
    val err = intercept[IllegalArgumentException] { matrix(0L) }
    assert(err.getMessage.contains("compaction"),
      s"wrong refusal reason: ${err.getMessage}")
    assert(matrix(1L) == h1,
      "the horizon every leg still holds must serve unchanged")
  }

  test("the matrix serve composes with floor-bounded vacuum: a leg " +
    "vacuumed at floor 1 keeps serving horizons 1+ value-identically " +
    "and the whole matrix refuses the reclaimed horizon") {
    val docs = Tables.documents(spark, sf0001)
    val hist = docs.filter($"doc_id" % 5 =!= 4)
    val wave = docs.filter($"doc_id" % 5 === 4)
    val bm = tmpDir("matrix-vac-bm25")
    Retrieval.writeBm25Index(hist, bm)
    assert(Retrieval.appendToBm25Index(wave, bm, 1L))
    val tg = tmpDir("matrix-vac-trgm")
    Retrieval.Trigram.write(hist, tg)
    assert(Retrieval.Trigram.appendTo(wave, tg, 1L))
    val ann = tmpDir("matrix-vac-ivf")
    Similarity.writeIvfIndex(e.filter($"vec_id" % 5 =!= 4), ann)
    assert(Similarity.appendToIvfIndex(
      e.filter($"vec_id" % 5 === 4), ann, 1L))
    val qd = e.filter($"vec_id" === 0)
      .select(lit(-1L).as("query_id"), $"v".as("qv"))
    def matrix(h: Long) =
      Retrieval.asOfMatrixServe(spark, bm, tg, ann, qd, docs, h)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(matrix(0L).nonEmpty)
    val h1 = matrix(1L)
    // unlike the full compaction above, the vacuum RETAINS horizon 1:
    // the fused readout there must not move by a single row
    assert(Retrieval.vacuumBm25Index(spark, bm, 1L))
    assert(matrix(1L) == h1,
      "the retained horizon's fused readout moved under vacuum")
    val err = intercept[IllegalArgumentException] { matrix(0L) }
    assert(err.getMessage.contains("compaction"),
      s"wrong refusal reason: ${err.getMessage}")
  }

  test("snapshot isolation: an as-of frame constructed BEFORE a " +
    "concurrent fold and delete keeps serving its horizon unchanged — " +
    "the dir list is pinned at construction, and later ledger " +
    "activity cannot leak in") {
    val idx = tmpDir("asof-isolation")
    Similarity.writeIvfIndex(e.filter($"vec_id" % 5 =!= 4), idx)
    val frame = Similarity.indexTopK(spark, idx, queries(),
      asOf = Some(0L))
    val before = frame.as[(Long, Long, Int)].collect().toSeq.sorted
    // a writer folds a wave and commits a delete AFTER the reader's
    // frame exists — the training job holding the snapshot must not
    // see either
    assert(Similarity.appendToIvfIndex(
      e.filter($"vec_id" % 5 === 4), idx, 1L))
    assert(Similarity.deleteFromIvfIndex(
      e.filter($"vec_id" % 9 === 0).select($"vec_id"), idx, 2L))
    assert(frame.as[(Long, Long, Int)].collect().toSeq.sorted == before,
      "the held as-of frame must re-evaluate to the same snapshot")
    // and a FRESH as-of read at the same horizon agrees with it
    assert(served(idx, asOf = Some(0L)) == before,
      "a new reader at the old horizon sees the same snapshot")
  }

  test("honesty guards: a compaction refuses horizons under its " +
    "high-water, a refresh refuses every earlier horizon, and " +
    "servable horizons keep working") {
    val idx = tmpDir("asof-guards")
    Similarity.writeIvfIndex(e.filter($"vec_id" % 5 =!= 4), idx)
    assert(Similarity.appendToIvfIndex(
      e.filter($"vec_id" % 5 === 4), idx, 1L))
    val h0 = served(idx, asOf = Some(0L))
    assert(h0.nonEmpty)
    // compaction folds seed + b1 into c1: horizon 0's per-fold dirs
    // are gone — asOf 0 must refuse, asOf 1 must keep serving
    Similarity.compactIvfIndex(spark, idx)
    val err = intercept[IllegalArgumentException] {
      served(idx, asOf = Some(0L))
    }
    assert(err.getMessage.contains("compaction"),
      s"wrong refusal reason: ${err.getMessage}")
    assert(served(idx, asOf = Some(1L)) == served(idx),
      "the at-or-above-high-water horizon serves the compacted view")
    // a refresh rewrites cells in place: every horizon below its id
    // must refuse, the current view stays servable
    assert(Similarity.refreshIvfIndex(spark, idx, 2L))
    val err2 = intercept[IllegalArgumentException] {
      served(idx, asOf = Some(1L))
    }
    assert(err2.getMessage.contains("refresh"),
      s"wrong refusal reason: ${err2.getMessage}")
    assert(served(idx, asOf = Some(2L)) == served(idx),
      "the post-refresh horizon serves the refreshed view")
  }
}
