package graft

import graft.operators.Retrieval
import graft.streaming.StreamingRetrieval
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{size, split}

/** Streaming BM25 search against the persisted inverted index: each
  * micro-batch's output must equal the batch multi-query answer over
  * the same query set (rankings are per-query, so the union over
  * micro-batches is the batch answer), a redelivered batchId must
  * rewrite rather than duplicate, and streamed document folds must be
  * searchable exactly-once.
  */
class StreamingRetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup"),
    1L -> Seq("query", "scan"),
    2L -> Seq("window", "merge", "line"),
    3L -> Seq("vector"))

  private def resultsOf(out: String) =
    spark.read.option("recursiveFileLookup", "true").parquet(out)
      .select($"query_id", $"doc_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet

  test("stream search vs persisted BM25 index: micro-batch union equals " +
    "the batch multi-query answer; a replayed batchId is idempotent") {
    implicit val sc = spark.sqlContext
    val idx = Retrieval.ensureBm25Index(spark, sf0001)
    val out = tmpDir("sbm25-out")
    val ckpt = tmpDir("sbm25-ckpt")

    val in = MemoryStream[(Long, Seq[String])]
    val q = StreamingRetrieval.start(
      in.toDF().toDF("query_id", "terms"), idx, out, ckpt)
    try {
      in.addData(queries.take(2): _*)
      q.processAllAvailable()
      in.addData(queries.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = resultsOf(out)
    val batch = Retrieval.bm25Batch(spark, idx,
      queries.toDF("query_id", "terms"))
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == batch)
    assert(streamed.map(_._1) == queries.map(_._1).toSet)

    // replay of batch 0 (restart between sink write and checkpoint
    // commit): the batchId-keyed overwrite rewrites the same directory
    StreamingRetrieval.publishBatch(
      queries.take(2).toDF("query_id", "terms"), 0L, idx, out)
    assert(resultsOf(out) == streamed, "replayed batch must not duplicate")
  }

  test("stream search against a MERGED root: micro-batch union equals " +
    "the batch serve over the merged index — the streaming twin of " +
    "text_bm25_merged") {
    implicit val sc = spark.sqlContext
    // The merged fixture: two independent crawls whose union is the
    // full corpus, merged into one servable root (seed + b0). The
    // stream path reads it through the same committed-dirs resolution
    // as any single-crawl root — nothing merge-specific to configure.
    val idx = Retrieval.ensureMergedBm25Index(spark, sf0001)
    val out = tmpDir("sbm25m-out")
    val ckpt = tmpDir("sbm25m-ckpt")
    val in = MemoryStream[(Long, Seq[String])]
    val q = StreamingRetrieval.start(
      in.toDF().toDF("query_id", "terms"), idx, out, ckpt)
    try {
      in.addData(queries.take(2): _*)
      q.processAllAvailable()
      in.addData(queries.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = resultsOf(out)
    val batch = Retrieval.bm25Batch(spark, idx,
      queries.toDF("query_id", "terms"))
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == batch,
      "merged-root stream serve must equal the merged-root batch serve")
    // ... and the merged root really is the union: the same stream
    // against the single-build full-corpus index agrees (the
    // merge-equivalence contract, now pinned on the STREAMING path)
    val whole = Retrieval.bm25Batch(spark,
      Retrieval.ensureBm25Index(spark, sf0001),
      queries.toDF("query_id", "terms"))
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == whole,
      "merged-root stream serve must equal the from-scratch build's")
  }

  test("streaming NEAR / regex / fuzzy / prefix serves: every " +
    "retrieval class's micro-batch output equals its batch serve, and " +
    "a replayed batchId rewrites rather than duplicates") {
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, sf0001)
    val nearIdx = Retrieval.ensureNearIndex(spark, sf0001)
    val trgmIdx = Retrieval.ensureSubstringIndex(spark, sf0001)

    // NEAR: two word-set queries across two micro-batches
    val nearQs = Seq(0L -> Retrieval.NearWords, 1L -> Seq("table", "scan"))
    val nOut = tmpDir("snear-out"); val nCk = tmpDir("snear-ckpt")
    val nIn = MemoryStream[(Long, Seq[String])]
    val nq = StreamingRetrieval.startNear(
      nIn.toDF().toDF("query_id", "words"), nearIdx, nOut, nCk)
    try {
      nIn.addData(nearQs.head); nq.processAllAvailable()
      nIn.addData(nearQs(1)); nq.processAllAvailable()
    } finally nq.stop()
    val nStreamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(nOut).as[(Long, Long, Long, Long)].collect().toSet
    val nBatch = nearQs.flatMap { case (qid, ws) =>
      Retrieval.nearSearch(spark, nearIdx, ws, Retrieval.NearWindow)
        .as[(Long, Long, Long)].collect()
        .map(r => (qid, r._1, r._2, r._3))
    }.toSet
    assert(nStreamed == nBatch, "NEAR stream must equal batch serve")

    // regex: a prunable pattern and a fallback pattern in one batch
    val reQs = Seq(0L -> Retrieval.ProbeRegex, 1L -> "qu.ry")
    val rOut = tmpDir("sre-out"); val rCk = tmpDir("sre-ckpt")
    val rIn = MemoryStream[(Long, String)]
    val rq = StreamingRetrieval.startRegex(
      rIn.toDF().toDF("query_id", "pattern"), trgmIdx, docs, rOut, rCk)
    try { rIn.addData(reQs: _*); rq.processAllAvailable() }
    finally rq.stop()
    def reRead() = spark.read.option("recursiveFileLookup", "true")
      .parquet(rOut).as[(Long, Long, Long)].collect().toSet
    val rStreamed = reRead()
    val rBatch = reQs.flatMap { case (qid, pat) =>
      Retrieval.regexSearch(spark, trgmIdx, docs, pat)
        .as[(Long, Long)].collect().map(r => (qid, r._1, r._2))
    }.toSet
    assert(rStreamed == rBatch, "regex stream must equal batch serve")
    // replay: the batchId-keyed overwrite rewrites the same directory
    StreamingRetrieval.publishRegexBatch(
      reQs.toDF("query_id", "pattern"), 0L, trgmIdx, docs, rOut)
    assert(reRead() == rStreamed, "replayed batch must not duplicate")

    // fuzzy: the gate probe plus a no-prune short term (fallback path)
    val fzQs = Seq((0L, Retrieval.FuzzyTerm, Retrieval.FuzzyMaxDist),
      (1L, "ke", 1))
    val fOut = tmpDir("sfz-out"); val fCk = tmpDir("sfz-ckpt")
    val fIn = MemoryStream[(Long, String, Int)]
    val fq = StreamingRetrieval.startFuzzy(
      fIn.toDF().toDF("query_id", "term", "max_dist"), trgmIdx, docs,
      fOut, fCk)
    try { fIn.addData(fzQs: _*); fq.processAllAvailable() }
    finally fq.stop()
    val fStreamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(fOut).as[(Long, Long, Long, Long, Long)].collect().toSet
    val fBatch = fzQs.flatMap { case (qid, term, d) =>
      Retrieval.fuzzySearch(spark, trgmIdx, docs, term, d)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (qid, r._1, r._2, r._3, r._4))
    }.toSet
    assert(fStreamed == fBatch, "fuzzy stream must equal batch serve")

    // prefix: a pruned 3-char probe and the sub-3-char fallback probe
    val pfQs = Seq(0L -> "sca", 1L -> "da")
    val pOut = tmpDir("spf-out"); val pCk = tmpDir("spf-ckpt")
    val pIn = MemoryStream[(Long, String)]
    val pq = StreamingRetrieval.startPrefix(
      pIn.toDF().toDF("query_id", "prefix"), trgmIdx, docs, pOut, pCk)
    try { pIn.addData(pfQs: _*); pq.processAllAvailable() }
    finally pq.stop()
    val pStreamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(pOut).as[(Long, Long, Long, Long)].collect().toSet
    val pBatch = pfQs.flatMap { case (qid, pre) =>
      Retrieval.prefixSearch(spark, trgmIdx, docs, pre)
        .select($"doc_id", $"tf", $"n_variants")
        .as[(Long, Long, Long)].collect()
        .map(r => (qid, r._1, r._2, r._3))
    }.toSet
    assert(pStreamed == pBatch, "prefix stream must equal batch serve")

    // suffix: a pruned 3-char probe and the sub-3-char fallback probe
    val sfQs = Seq(0L -> "ing", 1L -> "er")
    val sOut = tmpDir("ssf-out"); val sCk = tmpDir("ssf-ckpt")
    val sIn = MemoryStream[(Long, String)]
    val sq = StreamingRetrieval.startSuffix(
      sIn.toDF().toDF("query_id", "suffix"), trgmIdx, docs, sOut, sCk)
    try { sIn.addData(sfQs: _*); sq.processAllAvailable() }
    finally sq.stop()
    val sStreamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(sOut).as[(Long, Long, Long, Long)].collect().toSet
    val sBatch = sfQs.flatMap { case (qid, suf) =>
      Retrieval.suffixSearch(spark, trgmIdx, docs, suf)
        .select($"doc_id", $"tf", $"n_variants")
        .as[(Long, Long, Long)].collect()
        .map(r => (qid, r._1, r._2, r._3))
    }.toSet
    assert(sStreamed == sBatch, "suffix stream must equal batch serve")
  }

  test("streamed boolean retrieval equals the batch serve per " +
    "micro-batch, and a replayed batchId rewrites rather than " +
    "duplicates") {
    implicit val sc = spark.sqlContext
    val idx = Retrieval.ensureBm25Index(spark, sf0001)
    val qs = Retrieval.BoolQueries
    val out = tmpDir("sbool-out"); val ckpt = tmpDir("sbool-ckpt")
    val in = MemoryStream[(Long, Seq[String], Seq[String], Seq[String])]
    val q = StreamingRetrieval.startBoolean(
      in.toDF().toDF("query_id", "must", "should", "must_not"),
      idx, out, ckpt)
    try {
      in.addData(qs.take(1): _*); q.processAllAvailable()
      in.addData(qs.drop(1): _*); q.processAllAvailable()
    } finally q.stop()
    def read() = spark.read.option("recursiveFileLookup", "true")
      .parquet(out).as[(Long, Long, Long, Long)].collect().toSet
    val streamed = read()
    val batch = Retrieval.booleanSearch(spark, idx, qs)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch, "boolean stream must equal batch serve")
    // replay batch 0
    StreamingRetrieval.publishBooleanBatch(
      qs.take(1).toDF("query_id", "must", "should", "must_not"),
      0L, idx, out)
    assert(read() == streamed, "replayed batch must not duplicate")
  }

  test("streamed as-of matrix equals the batch consistent-horizon " +
    "serve at every horizon, and a replayed batchId rewrites rather " +
    "than duplicates") {
    implicit val sc = spark.sqlContext
    val bmIdx = Retrieval.ensureAsOfBm25Index(spark, sf0001)
    val subIdx = Retrieval.ensureAsOfSubstringIndex(spark, sf0001)
    val annIdx = graft.operators.Similarity.ensureAsOfIvfIndex(spark, sf0001)
    val qPath = Retrieval.ensureDenseQuery(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    val out = tmpDir("samx-out"); val ckpt = tmpDir("samx-ckpt")
    val in = MemoryStream[Long]
    val q = StreamingRetrieval.startAsOfMatrix(
      in.toDF().toDF("horizon"), bmIdx, subIdx, annIdx, qPath, docs,
      out, ckpt)
    try {
      in.addData(0L); q.processAllAvailable()       // one horizon alone
      in.addData(1L, 2L); q.processAllAvailable()   // two in one batch
    } finally q.stop()
    def read() = spark.read.option("recursiveFileLookup", "true")
      .parquet(out)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val streamed = read()
    val batch = SparkEntry.queries("q_asof_matrix")(spark, sf0001)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(streamed == batch,
      "streamed matrix must equal the batch gate at every horizon")
    // replay micro-batch 0 — same dir rewritten, nothing duplicated
    StreamingRetrieval.publishAsOfMatrixBatch(
      Seq(0L).toDF("horizon"), 0L, bmIdx, subIdx, annIdx, qPath, docs,
      out)
    assert(read() == streamed, "replayed batch must not duplicate")
  }

  test("bm25Batch matches per-term-set bm25TopK rankings") {
    val idx = Retrieval.ensureBm25Index(spark, sf0001)
    val multi = Retrieval.bm25Batch(spark, idx,
      queries.toDF("query_id", "terms"))
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    queries.foreach { case (qid, terms) =>
      // bm25TopK orders by rounded score then doc_id; top_k breaks
      // rounded-score ties by doc_id too — identical rankings
      val single = Retrieval.bm25TopK(spark, idx, terms)
        .as[(Long, Double)].collect().map(_._1).toSeq
      assert(multi(qid) == single, s"query $qid terms=$terms")
    }
  }

  test("startIngest: streamed document batches fold into the index " +
    "exactly-once and the next search ranks over the grown corpus") {
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, sf0001)
    val idx = tmpDir("bm25-ingest")
    Retrieval.writeBm25Index(docs.filter($"doc_id" % 2 === 0), idx)
    val newDocs = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
      .sortBy(_._1)

    val in = MemoryStream[(Long, String, String, String, Long)]
    val q = StreamingRetrieval.startIngest(
      in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      idx, tmpDir("bm25-ingest-ckpt"), compactEvery = 2)
    try {
      in.addData(newDocs.take(100): _*)
      q.processAllAvailable()
      in.addData(newDocs.drop(100): _*)
      q.processAllAvailable()
    } finally q.stop()

    // compactEvery=2 fired after batchId 1: ONE sub-root per side
    import scala.jdk.CollectionConverters._
    for (side <- Seq("postings", "stats")) {
      val roots = java.nio.file.Files.list(java.nio.file.Paths.get(
        Retrieval.protocol(idx).dir(side))).iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq
      assert(roots.size == 1 && roots.head.matches("c\\d+"),
        s"$side roots: $roots")
    }
    // the grown index serves the exact full-corpus answer — df, N and
    // avgdl all shifted with the streamed folds
    for (terms <- Seq(Seq("dup", "query", "scan"), Seq("window", "merge")))
      assert(Retrieval.bm25TopK(spark, idx, terms)
        .as[(Long, Double)].collect().toSeq ==
        Retrieval.bm25(spark, sf0001, terms)
          .as[(Long, Double)].collect().toSeq, s"terms=$terms")
  }

  test("retained BM25 streaming ingest (retainCommits): surviving " +
    "horizons serve the unvacuumed replica's rankings exactly, older " +
    "horizons refuse, and both sides' dir counts stay bounded") {
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, sf0001)
    val seed = docs.filter($"doc_id" % 4 === 0)
    def wave(m: Int) = docs.filter($"doc_id" % 4 === m)
    val idx = tmpDir("bm25-retained")
    Retrieval.writeBm25Index(seed, idx)
    // unvacuumed same-lifecycle replica = the value baseline
    val replica = tmpDir("bm25-retained-replica")
    Retrieval.writeBm25Index(seed, replica)
    for (m <- 1 to 3)
      Retrieval.appendToBm25Index(wave(m), replica, (m - 1).toLong)
    val in = MemoryStream[(Long, String, String, String, Long)]
    val q = StreamingRetrieval.startIngest(
      in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      idx, tmpDir("bm25-retained-ckpt"), compactEvery = 1,
      retainCommits = 2)
    try {
      for (m <- 1 to 3) {
        in.addData(wave(m)
          .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
          .as[(Long, String, String, String, Long)].collect().toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val terms = Seq("dup", "query", "scan")
    def served(path: String, asOf: Option[Long]) =
      Retrieval.bm25TopK(spark, path, terms, asOf = asOf)
        .as[(Long, Double)].collect().toSeq
    for (h <- Seq(1L, 2L))
      assert(served(idx, Some(h)) == served(replica, Some(h)),
        s"horizon $h diverged from the unvacuumed replica")
    assert(served(idx, None) == served(replica, None))
    assertThrows[IllegalArgumentException](served(idx, Some(0L)))
    // bounded dir count on BOTH ledgered sides: c1 + the window's tail
    import scala.jdk.CollectionConverters._
    for (side <- Seq("postings", "stats")) {
      val roots = java.nio.file.Files.list(java.nio.file.Paths.get(
        Retrieval.protocol(idx).dir(side))).iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).toSet
      assert(roots == Set("c1", "b2"), s"$side dirs: $roots")
    }
  }

  test("streaming phrase search + ingest: micro-batch union equals the " +
    "batch answer, a replayed batchId is idempotent, and streamed " +
    "document folds serve the full-corpus phrase answer exactly-once") {
    implicit val sc = spark.sqlContext
    val phrases: Seq[(Long, String)] = Seq(
      0L -> "table scan", 1L -> Retrieval.ProbePhrase, 2L -> "a a")
    val docs = Tables.documents(spark, sf0001)

    // search side: serve from a full persisted index
    val idx = tmpDir("phrase-stream-idx")
    Retrieval.Phrase.write(docs, idx)
    val out = tmpDir("sphrase-out")
    val in = MemoryStream[(Long, String)]
    val q = StreamingRetrieval.startPhrase(
      in.toDF().toDF("query_id", "phrase"), idx, out,
      tmpDir("sphrase-ckpt"))
    try {
      in.addData(phrases.take(2): _*)
      q.processAllAvailable()
      in.addData(phrases.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = resultsOf(out)
    val batch = Retrieval.phraseBatch(spark, idx,
      phrases.toDF("query_id", "phrase"))
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == batch)
    // replay of batch 0: the batchId-keyed overwrite must not duplicate
    StreamingRetrieval.publishPhraseBatch(
      phrases.take(2).toDF("query_id", "phrase"), 0L, idx, out)
    assert(resultsOf(out) == streamed, "replayed batch must not duplicate")

    // ingest side: half-seeded index grows to the full-corpus answer
    val grown = tmpDir("phrase-stream-grown")
    Retrieval.Phrase.write(docs.filter($"doc_id" % 2 === 0), grown)
    val newDocs = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
      .sortBy(_._1)
    val din = MemoryStream[(Long, String, String, String, Long)]
    val dq = StreamingRetrieval.startPhraseIngest(
      din.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      grown, tmpDir("phrase-stream-grown-ckpt"), compactEvery = 2)
    try {
      din.addData(newDocs.take(100): _*)
      dq.processAllAvailable()
      din.addData(newDocs.drop(100): _*)
      dq.processAllAvailable()
    } finally dq.stop()
    // compactEvery=2 fired after batchId 1: ONE compacted postings root
    import scala.jdk.CollectionConverters._
    val roots = java.nio.file.Files.list(java.nio.file.Paths.get(
      Retrieval.protocol(grown).dir("postings"))).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq
    assert(roots.size == 1 && roots.head.matches("c\\d+"),
      s"postings roots: $roots")
    for (ph <- phrases.map(_._2))
      assert(Retrieval.phraseTopK(spark, grown, ph)
        .as[(Long, Long, Long)].collect().toSeq ==
        Retrieval.phraseTopK(spark, idx, ph)
          .as[(Long, Long, Long)].collect().toSeq, s"phrase='$ph'")
  }

  test("streaming substring search + ingest: micro-batch union equals " +
    "the batch answer, a replayed batchId is idempotent, and streamed " +
    "document folds serve the full-corpus grep answer") {
    implicit val sc = spark.sqlContext
    val needles: Seq[(Long, String)] = Seq(
      0L -> Retrieval.ProbeNeedle, 1L -> "sh join k", 2L -> "w merge")
    val docs = Tables.documents(spark, sf0001)

    // search side: serve from a full persisted index
    val idx = tmpDir("trgm-stream-idx")
    Retrieval.Trigram.write(docs, idx)
    val out = tmpDir("strgm-out")
    val in = MemoryStream[(Long, String)]
    val q = StreamingRetrieval.startSubstring(
      in.toDF().toDF("query_id", "needle"), idx, docs, out,
      tmpDir("strgm-ckpt"))
    try {
      in.addData(needles.take(2): _*)
      q.processAllAvailable()
      in.addData(needles.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    def grepResults() = spark.read
      .option("recursiveFileLookup", "true").parquet(out)
      .select($"query_id", $"doc_id", $"n_occ")
      .as[(Long, Long, Long)].collect().toSet
    val streamed = grepResults()
    val batch = Retrieval.substringBatch(spark, idx, docs,
      needles.toDF("query_id", "needle"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    // replay of batch 0: the batchId-keyed overwrite must not duplicate
    StreamingRetrieval.publishSubstringBatch(
      needles.take(2).toDF("query_id", "needle"), 0L, idx, docs, out)
    assert(grepResults() == streamed, "replayed batch must not duplicate")

    // ingest side: half-seeded index grows to the full-corpus answer,
    // compaction folds the postings into one c-dir
    val grown = tmpDir("trgm-stream-grown")
    Retrieval.Trigram.write(docs.filter($"doc_id" % 2 === 0), grown)
    val newDocs = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
      .sortBy(_._1)
    val din = MemoryStream[(Long, String, String, String, Long)]
    val dq = StreamingRetrieval.startSubstringIngest(
      din.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      grown, tmpDir("trgm-stream-grown-ckpt"), compactEvery = 2)
    try {
      din.addData(newDocs.take(100): _*)
      dq.processAllAvailable()
      din.addData(newDocs.drop(100): _*)
      dq.processAllAvailable()
    } finally dq.stop()
    import scala.jdk.CollectionConverters._
    val roots = java.nio.file.Files.list(java.nio.file.Paths.get(
      Retrieval.protocol(grown).dir("postings"))).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq
    assert(roots.size == 1 && roots.head.matches("c\\d+"),
      s"postings roots: $roots")
    for (n <- needles.map(_._2))
      assert(Retrieval.substringSearch(spark, grown, docs, n)
        .as[(Long, Long)].collect().toSeq ==
        Retrieval.substringSearch(spark, idx, docs, n)
          .as[(Long, Long)].collect().toSeq, s"needle='$n'")
  }

  test("streaming cross-index sweep: two takedown micro-batches " +
    "tombstone all four indexes, a redelivered batch no-ops, and a " +
    "fresh checkpoint epochs above the committed sweep ids") {
    implicit val sc = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
    val root = tmpDir("ssweep")
    Retrieval.writeBm25Index(docs, s"$root/bm25")
    Retrieval.Near.write(docs, s"$root/near")
    Retrieval.Phrase.write(docs, s"$root/phrase")
    Retrieval.Trigram.write(docs, s"$root/trgm")
    def audit() = Retrieval.takedownAudit(spark, root)
      .as[(String, Long)].collect().toMap
    val full = audit()
    val ids = MemoryStream[Long]
    val q = StreamingRetrieval.startSweep(
      ids.toDF().toDF("doc_id"), root, tmpDir("ssweep-ckpt"))
    val (v1, v2) = (Seq(5L, 16L, 27L), Seq(38L, 49L))
    try {
      ids.addData(v1: _*); q.processAllAvailable()
      ids.addData(v2: _*); q.processAllAvailable()
    } finally q.stop()
    val swept = audit()
    assert(swept("near") == full("near") -
      docs.filter($"doc_id".isin((v1 ++ v2): _*))
        .select(size(split($"text", " "))).as[Int].collect().sum,
      "near postings must drop by exactly the victims' token count")
    assert(Retrieval.sweptDeleteIds(root) == Set(0L, 1L),
      "two epoch-0 micro-batches commit as deleteIds 0 and 1")
    // redelivery of batch 0 against the committed state is a no-op
    StreamingRetrieval.publishSweep(v1.toDF("doc_id"), 0L, root, 0L)
    assert(audit() == swept)
    // a FRESH checkpoint mints epoch 1: its batchId 0 must tombstone
    // (deleteId 1<<32) instead of short-circuiting against id 0
    val ids2 = MemoryStream[Long]
    val q2 = StreamingRetrieval.startSweep(
      ids2.toDF().toDF("doc_id"), root, tmpDir("ssweep-ckpt2"))
    try { ids2.addData(60L); q2.processAllAvailable() } finally q2.stop()
    assert(Retrieval.sweptDeleteIds(root) == Set(0L, 1L, 1L << 32))
    assert(audit()("near") == swept("near") -
      docs.filter($"doc_id" === 60L)
        .select(size(split($"text", " "))).as[Int].collect().sum)
  }
}
