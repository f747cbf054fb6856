package graft

import graft.operators.{Multimodal, Retrieval}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** BM25 retrieval: corpus path vs persisted inverted index (result
  * identity on arbitrary term sets), the static bucket prune on the
  * postings scan, and scoring sanity (rare-term dominance).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("text_boolean: index serve equals a brute-force recompute of " +
    "must/should/must-not semantics, and negation is load-bearing") {
    val got = SparkEntry.queries("text_boolean")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSet)
    val expected = Retrieval.BoolQueries.flatMap {
      case (qid, must, should, not) =>
        docs.filter { case (_, ws) => must.forall(ws) && !not.exists(ws) }
          .map { case (id, ws) => (id, should.count(ws).toLong) }
          .sortBy { case (id, n) => (-n, id) }.take(10)
          .zipWithIndex.map { case ((id, n), i) => (qid, id, n, i + 1L) }
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // the fixture actually exercises negation: at least one doc matches
    // query 1's musts but carries its negated term (and is excluded)
    val q1 = Retrieval.BoolQueries.find(_._1 == 1L).get
    val negated = docs.count { case (_, ws) =>
      q1._2.forall(ws) && q1._4.exists(ws)
    }
    assert(negated > 0, "fixture: negation must exclude at least one doc")
  }

  test("bm25: rare term dominates — every top-10 doc contains 'dup', " +
    "scores are positive and ranked") {
    val res = Retrieval.bm25(spark, sf0001)
      .as[(Long, Double)].collect()
    assert(res.length == 10)
    assert(res.forall(_._2 > 0))
    val scores = res.map(_._2)
    assert(scores.sameElements(scores.sortBy(-_)), "rows arrive ranked")
    val dupDocs = Tables.documents(spark, sf0001)
      .filter(array_contains(split($"text", " "), "dup"))
      .select($"doc_id").as[Long].collect().toSet
    assert(res.forall(r => dupDocs.contains(r._1)),
      "idf must rank the rare-term docs above common-term-only docs")
  }

  test("bm25TopK serves ANY term set from the index, result-identical " +
    "to the corpus path") {
    val idx = tmpDir("bm25-idx")
    Retrieval.writeBm25Index(Tables.documents(spark, sf0001), idx)
    for (terms <- Seq(Seq("dup", "query", "scan"), Seq("window", "merge"),
        Seq("vector"))) {
      val fromIndex = Retrieval.bm25TopK(spark, idx, terms)
        .as[(Long, Double)].collect().toSeq
      val fromCorpus = Retrieval.bm25(spark, sf0001, terms)
        .as[(Long, Double)].collect().toSeq
      assert(fromIndex == fromCorpus, s"terms=$terms")
    }
  }

  test("mergeBm25Indexes: the merged root serves ANY term set " +
    "identically to a from-scratch index over the union corpus, stats " +
    "sum exactly, and the fold carries merged-from provenance") {
    val merged = Retrieval.ensureMergedBm25Index(spark, sf0001)
    val full = Retrieval.ensureBm25Index(spark, sf0001)
    // arbitrary term sets, not just the gate's — the merge must serve
    // the whole vocabulary (df re-aggregation across sub-roots is the
    // part a bad merge would get wrong: a word split across crawls has
    // its df summed at serve time)
    for (terms <- Seq(Seq("dup", "query", "scan"), Seq("window", "merge"),
        Seq("vector"))) {
      val fromMerged = Retrieval.bm25TopK(spark, merged, terms)
        .as[(Long, Double)].collect().toSeq
      val fromFull = Retrieval.bm25TopK(spark, full, terms)
        .as[(Long, Double)].collect().toSeq
      assert(fromMerged == fromFull, s"terms=$terms")
    }
    // exact mergeable stats: Σn and Σsum_dl across the merged root's
    // stats sub-roots equal the union corpus's own counts
    val p = Retrieval.protocol(merged)
    assert(p.foldedBatches().contains(0L))
    assert(p.entries().exists(_.startsWith("merged-from=graft_bm25_src_a")),
      s"provenance line missing from ${p.entries()}")
    val stats = p.committedDirs("stats")
      .map(r => spark.read.schema("n BIGINT, sum_dl BIGINT").parquet(r))
      .reduce(_.union(_))
      .agg(sum($"n"), sum($"sum_dl")).as[(Long, Long)].head()
    val corpus = Tables.documents(spark, sf0001)
      .select(size(split($"text", " ")).as("dl"))
      .agg(count(lit(1)), sum($"dl")).as[(Long, Long)].head()
    assert(stats == corpus, "merged stats must sum to the union corpus")
  }

  test("mergeSubstringIndexes: the merged trigram root serves ANY " +
    "needle identically to a from-scratch union index, with fold " +
    "provenance") {
    val merged = Retrieval.ensureMergedSubstringIndex(spark, sf0001)
    val full = Retrieval.ensureSubstringIndex(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    for (needle <- Seq(Retrieval.ProbeNeedle, "the qu", "ity", "zzz")) {
      val fromMerged = Retrieval.substringSearch(spark, merged, docs, needle)
        .as[(Long, Long)].collect().toSeq
      val fromFull = Retrieval.substringSearch(spark, full, docs, needle)
        .as[(Long, Long)].collect().toSeq
      assert(fromMerged == fromFull, s"needle '$needle'")
    }
    val p = Retrieval.protocol(merged)
    assert(p.foldedBatches().contains(0L))
    assert(p.entries().exists(_.startsWith("merged-from=graft_trgm_src_a")))
  }

  test("ensureBm25Index is stage-and-publish: an incomplete root (lost " +
    "_SUCCESS) rebuilds through a private staging and the rebuilt index " +
    "serves the gate answer; a crashed build leaves the old root intact") {
    val baseline = Retrieval.bm25TopK(
      spark, Retrieval.ensureBm25Index(spark, sf0001))
      .as[(Long, Double)].collect().toSeq
    val root = new java.io.File(
      Retrieval.ensureBm25Index(spark, sf0001).stripPrefix("file:"))
    // damage the artifact: drop the postings seed's _SUCCESS, so the
    // completeness predicate fails and the next ensure must REBUILD
    val seedSuccess = new java.io.File(root, "postings/seed/_SUCCESS")
    assert(seedSuccess.exists && seedSuccess.delete())
    val rebuilt = Retrieval.ensureBm25Index(spark, sf0001)
    assert(new java.io.File(new java.io.File(rebuilt.stripPrefix("file:")),
      "postings/seed/_SUCCESS").exists,
      "the incomplete root must rebuild")
    assert(Retrieval.bm25TopK(spark, rebuilt)
      .as[(Long, Double)].collect().toSeq == baseline,
      "the rebuilt index serves the identical gate answer")
    // no staging/trash litter left beside the fixture after the publish
    val wh = root.getParentFile
    assert(!wh.listFiles().exists(f =>
      f.getName.contains("graft_bm25_index") &&
        (f.getName.contains(".staging-") || f.getName.contains(".trash-"))),
      "publish must leave no staging/trash siblings")
  }

  test("bm25TopK: the postings scan carries a STATIC bucket " +
    "PartitionFilter and lists at most |terms| of the bucket dirs") {
    val idx = tmpDir("bm25-prune")
    Retrieval.writeBm25Index(Tables.documents(spark, sf0001), idx)
    val terms = Seq("dup", "query")
    val scan = Retrieval.bm25TopK(spark, idx, terms)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.metadata("Location").contains("postings") => f
      }.head
    assert(scan.partitionFilters.nonEmpty,
      "bucket prune must be a static PartitionFilter, not a post-scan " +
        "filter")
    val listed = scan.selectedPartitions.partitionCount
    assert(listed <= terms.length,
      s"${terms.length} terms listed $listed bucket dirs")
    // the index holds the FULL vocabulary across many buckets — the
    // prune must be a strict subset or it prunes nothing
    val total = spark.read.parquet(s"$idx/postings")
      .select($"bucket").distinct().count()
    assert(total > terms.length && listed < total)
  }

  test("appendToBm25Index: a batch-grown index serves the FULL-corpus " +
    "answer; replay, crash-window and compaction are all exactly-once " +
    "/ result-identical") {
    val docs = Tables.documents(spark, sf0001)
    val wave1 = docs.filter($"doc_id" % 3 =!= 2)
    val wave2 = docs.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 === 0)
    val wave3 = docs.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 === 1)
    val idx = tmpDir("bm25-grown")
    Retrieval.writeBm25Index(wave1, idx)
    assert(Retrieval.appendToBm25Index(wave2, idx, 0L))

    def served(terms: Seq[String]) = Retrieval.bm25TopK(spark, idx, terms)
      .as[(Long, Double)].collect().toSeq
    // post-commit replay: committed no-op
    val afterB0 = served(Seq("dup", "window"))
    assert(!Retrieval.appendToBm25Index(wave2, idx, 0L))
    assert(served(Seq("dup", "window")) == afterB0)

    // crash BETWEEN the b-dir writes and the ledger commit: the orphan
    // b-dir is invisible until the batch's replay commits it
    Retrieval.stageBm25Fold(wave3, idx, 1L)
    assert(served(Seq("dup", "window")) == afterB0,
      "orphan b-dir must stay invisible")
    assert(Retrieval.appendToBm25Index(wave3, idx, 1L))

    // the grown index now covers the whole corpus: every term set must
    // serve the exact corpus-path answer (df, N and avgdl all shifted
    // with the folds — merged stats must not drift)
    for (terms <- Seq(Seq("dup", "query", "scan"), Seq("window", "merge")))
      assert(served(terms) ==
        Retrieval.bm25(spark, sf0001, terms).as[(Long, Double)]
          .collect().toSeq, s"terms=$terms")

    // pre-compaction the postings read is a 3-root union (seed+b0+b1);
    // the static bucket prune must reach EVERY branch
    val multiScans = Retrieval.bm25TopK(spark, idx, Seq("dup", "query"))
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.metadata("Location").contains("bm25-grown") &&
            f.metadata("Location").contains("postings") => f
      }
    assert(multiScans.size >= 3, s"expected 3 union branches: $multiScans")
    multiScans.foreach { f =>
      assert(f.partitionFilters.map(_.toString)
        .exists(s => s.contains(" IN ") || s.contains("INSET")),
        s"branch without the static bucket prune: ${f.partitionFilters}")
      assert(f.selectedPartitions.partitionCount <= 2)
    }

    // compaction: results identical, ONE sub-root per side, replayed
    // batchIds keep short-circuiting
    val full = served(Seq("dup", "query", "scan"))
    Retrieval.compactBm25Index(spark, idx)
    assert(served(Seq("dup", "query", "scan")) == full)
    import scala.jdk.CollectionConverters._
    for (side <- Seq("postings", "stats")) {
      val roots = java.nio.file.Files.list(java.nio.file.Paths.get(
        Retrieval.protocol(idx).dir(side))).iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq
      assert(roots.size == 1 && roots.head.matches("c\\d+"),
        s"$side roots: $roots")
    }
    assert(!Retrieval.appendToBm25Index(wave2, idx, 0L))
    assert(served(Seq("dup", "query", "scan")) == full)
  }

  test("vacuumBm25Index: surviving horizons serve identically, the " +
    "reclaimed horizon refuses, replays no-op, and the index keeps " +
    "folding and deleting after the vacuum") {
    val docs = Tables.documents(spark, sf0001)
    val idx = tmpDir("bm25-vacuum")
    Retrieval.writeBm25Index(docs.filter($"doc_id" % 5 =!= 4), idx)
    assert(Retrieval.appendToBm25Index(
      docs.filter($"doc_id" % 5 === 4), idx, 1L))
    assert(Retrieval.deleteFromBm25Index(
      docs.filter($"doc_id" % 7 === 3).select($"doc_id"), idx, 2L))
    def servedAsOf(h: Long) =
      Retrieval.bm25TopK(spark, idx, asOf = Some(h))
        .as[(Long, Double)].collect().toSeq
    def servedNow() = Retrieval.bm25TopK(spark, idx)
      .as[(Long, Double)].collect().toSeq
    val pre = Map(1L -> servedAsOf(1L), 2L -> servedAsOf(2L))
    val preNow = servedNow()
    assert(Retrieval.vacuumBm25Index(spark, idx, 1L),
      "first vacuum must report work done")
    for (h <- Seq(1L, 2L))
      assert(servedAsOf(h) == pre(h), s"horizon $h moved under vacuum")
    assert(servedNow() == preNow, "the current serve moved under vacuum")
    assertThrows[IllegalArgumentException](servedAsOf(0L))
    // physical reclamation: seed gone, one c1 + the surviving dirs
    import scala.jdk.CollectionConverters._
    def roots(side: String): Set[String] =
      java.nio.file.Files.list(java.nio.file.Paths.get(
        Retrieval.protocol(idx).dir(side))).iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).toSet
    // commit 1 is AT the floor, so b1 is absorbed into c1 alongside
    // the seed; only the post-floor delete's negative delta survives
    assert(roots("postings") == Set("c1"),
      s"postings roots: ${roots("postings")}")
    assert(roots("stats") == Set("c1", "d2"),
      s"stats roots: ${roots("stats")}")
    // replay: committed no-op; ledgered ids keep short-circuiting
    assert(!Retrieval.vacuumBm25Index(spark, idx, 1L))
    assert(!Retrieval.appendToBm25Index(
      docs.filter($"doc_id" % 5 === 4), idx, 1L))
    // the index stays live: a post-vacuum fold (re-ingest of the
    // takedown victims, id above every ledger id) serves — their new
    // fold outranks the tombstone — and a post-vacuum delete whose
    // high-water mark covers the collapsed dir hides c1 rows too
    assert(Retrieval.appendToBm25Index(
      docs.filter($"doc_id" % 7 === 3), idx, 3L))
    val reingested = servedNow()
    assert(reingested ==
      Retrieval.bm25(spark, sf0001).as[(Long, Double)].collect().toSeq,
      "re-ingest after vacuum must serve the full-corpus answer")
    assert(Retrieval.deleteFromBm25Index(
      docs.filter($"doc_id" % 2 === 0).select($"doc_id"), idx, 4L))
    val afterDel = servedNow().map(_._1)
    assert(afterDel.nonEmpty && afterDel.forall(_ % 2 == 1),
      "a post-vacuum delete must hide collapsed rows as well")
    // detachment guard: a legacy fold-only high-water mark below the
    // next floor makes vacuum refuse rather than orphan the tombstone
    docs.filter($"doc_id" % 11 === 0).select($"doc_id").distinct()
      .withColumn("hw", lit(1L))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$idx/tombstones/d5")
    Retrieval.protocol(idx).commit("d5")
    assertThrows[IllegalArgumentException](
      Retrieval.vacuumBm25Index(spark, idx, 4L))
  }

  test("bm25 index build: write parallelism scales with shuffle " +
    "partitions instead of capping at Buckets; the bucket layout and " +
    "serve-side prune are untouched") {
    val idx = tmpDir("bm25-wide")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // a cluster-sized session: write fan-out must follow it
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      Retrieval.writeBm25Index(Tables.documents(spark, sf0001), idx)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(
      java.nio.file.Paths.get(idx, "postings", "seed")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.size > Retrieval.Buckets,
      s"a 128-slot write must spread past the ${Retrieval.Buckets} " +
        s"bucket dirs, got ${files.size} files")
    assert(files.forall(_.toString.contains("bucket=")),
      "every posting file still lives under its bucket= dir")
    val terms = Seq("dup", "query")
    val scan = Retrieval.bm25TopK(spark, idx, terms)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.metadata("Location").contains("postings") => f
      }.head
    assert(scan.selectedPartitions.partitionCount <= terms.length,
      "the q-term directory listing bound must survive the sliced write")
    assert(Retrieval.bm25TopK(spark, idx, terms).as[(Long, Double)]
      .collect().toSeq ==
      Retrieval.bm25(spark, sf0001, terms).as[(Long, Double)]
        .collect().toSeq)
  }

  test("dedup_softweight: singletons weigh 1.0, each near-dup cluster's " +
    "weights sum to 1, and weights agree with dedup_cluster's sizes") {
    val w = SparkEntry.queries("dedup_softweight")(spark, sf0001)
      .as[(Long, Double)].collect().toMap
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(w.size == nDocs, "every document keeps a weight")
    assert(w.values.forall(v => v > 0 && v <= 1.0))
    val clusters = SparkEntry.queries("dedup_cluster")(spark, sf0001)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect()
    val sizes = clusters.groupBy(_._2).view.mapValues(_.length).toMap
    clusters.foreach { case (doc, cl) =>
      assert(math.abs(w(doc) - 1.0 / sizes(cl)) < 1e-3,
        s"doc $doc in cluster $cl size ${sizes(cl)} got weight ${w(doc)}")
    }
    val clustered = clusters.map(_._1).toSet
    w.foreach { case (doc, wt) =>
      if (!clustered.contains(doc)) assert(wt == 1.0, s"singleton $doc")
    }
    // downweight-don't-delete: expected sample mass == distinct contents
    val mass = w.values.sum
    val nClusters = sizes.size + (nDocs - clustered.size)
    assert(math.abs(mass - nClusters) < 0.1,
      s"weight mass $mass vs $nClusters effective documents")
  }

  test("text_hybrid_rrf: the two rankers genuinely disagree on the " +
    "gate corpus, fused scores are exactly the reciprocal-rank sum, " +
    "and a doc ranked by both lists beats its single-list score") {
    val rows = SparkEntry.queries("text_hybrid_rrf")(spark, sf0001)
      .select($"doc_id", $"bm25_rank", $"coverage_rank", $"rrf")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 10)
    // non-vacuous fusion: at least one doc is in exactly one list, and
    // the two rank columns are not identical across the board
    assert(rows.exists(r => r._2 == 0L ^ r._3 == 0L),
      s"expected a single-list doc: ${rows.toSeq}")
    assert(rows.exists(r => r._2 > 0 && r._3 > 0 && r._2 != r._3),
      "expected a doc the two rankers order differently")
    // rrf arithmetic: recompute from the reported ranks
    rows.foreach { case (id, br, jr, rrf) =>
      val expect = BigDecimal(
        (if (br > 0) 1.0 / (60 + br) else 0.0) +
        (if (jr > 0) 1.0 / (60 + jr) else 0.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rrf == expect, s"doc $id: rrf $rrf != $expect")
    }
    // consensus wins: the best fused score belongs to a doc both
    // rankers surfaced
    val best = rows.maxBy(_._4)
    assert(best._2 > 0 && best._3 > 0,
      s"top fused doc should be a consensus doc: $best")
  }

  test("text_hybrid_dense: BM25 and IVF rankers fuse by RRF, both " +
    "serve from their PERSISTED indexes (bucket-pruned postings scan, " +
    "cell-pruned vector scan — never the raw corpus text)") {
    val q = SparkEntry.queries("text_hybrid_dense")(spark, sf0001)
    val rows = q.select($"doc_id", $"bm25_rank", $"dense_rank", $"rrf")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 10)
    // both rankers contribute: some doc carries a dense rank, some a
    // bm25 rank, and the fusion is the exact reciprocal-rank sum
    assert(rows.exists(_._2 > 0) && rows.exists(_._3 > 0),
      s"both rankers must surface docs: ${rows.toSeq}")
    rows.foreach { case (id, br, dr, rrf) =>
      val expect = BigDecimal(
        (if (br > 0) 1.0 / (60 + br) else 0.0) +
        (if (dr > 0) 1.0 / (60 + dr) else 0.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rrf == expect, s"doc $id: rrf $rrf != $expect")
    }
    // fusion input is ≤ 2·TopK rows by construction: every fused doc
    // came from one of the two top-10 lists
    assert(rows.forall(r => r._2 > 0 || r._3 > 0),
      "a fused doc must come from at least one ranker's top-k")
    // plan pin: the serve path reads BOTH persisted indexes and never
    // re-tokenizes the corpus — the scans are the index roots, not
    // documents.parquet
    val scans = q.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString).mkString(",")
    }
    assert(scans.exists(_.contains("graft_bm25_index")),
      s"lexical side must serve from the inverted index: $scans")
    assert(scans.exists(_.contains("graft_ivf_index")),
      s"dense side must serve from the IVF index: $scans")
    assert(!scans.exists(_.contains("documents.parquet")),
      s"the fused serve must not re-scan the raw corpus text: $scans")
  }

  test("text_hybrid_pq: the dense leg serves from the PERSISTED IVF-PQ " +
    "index, full precision is touched only as In-pruned point lookups " +
    "on the embeddings sidecar, and the fusion arithmetic is exact") {
    val q = SparkEntry.queries("text_hybrid_pq")(spark, sf0001)
    val rows = q.select($"doc_id", $"bm25_rank", $"dense_rank", $"rrf")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 10)
    assert(rows.exists(_._2 > 0) && rows.exists(_._3 > 0),
      s"both rankers must surface docs: ${rows.toSeq}")
    rows.foreach { case (id, br, dr, rrf) =>
      val expect = BigDecimal(
        (if (br > 0) 1.0 / (60 + br) else 0.0) +
        (if (dr > 0) 1.0 / (60 + dr) else 0.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rrf == expect, s"doc $id: rrf $rrf != $expect")
    }
    // serve boundary: the lexical side reads the inverted index, the
    // query frame is the staged one-row parquet, and the ONLY
    // full-precision read is the exact re-rank's point lookups — an
    // embeddings scan carrying the shortlist as an In(vec_id, …)
    // pushdown (the ADC itself ran over the PQ index's codes at
    // construction time). The corpus text never appears.
    val scans = q.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    def roots(f: FileSourceScanExec) =
      f.relation.location.rootPaths.map(_.toString)
    assert(scans.exists(roots(_).exists(_.contains("graft_bm25_index"))),
      "lexical side must serve from the inverted index")
    assert(scans.exists(roots(_).exists(_.contains("graft_hybrid_qdense"))),
      "the query frame must be the staged parquet")
    val embScans = scans.filter(
      roots(_).exists(_.contains("embeddings.parquet")))
    assert(embScans.nonEmpty, "the re-rank sidecar must be read")
    embScans.foreach { f =>
      assert(f.metadata("PushedFilters").contains("In(vec_id"),
        s"the shortlist must push as point lookups: " +
          f.metadata("PushedFilters"))
    }
    assert(!scans.exists(roots(_).exists(_.contains("documents.parquet"))),
      "the fused serve must not re-scan the raw corpus text")
  }

  test("text_hybrid_binary: the dense leg serves from the persisted " +
    "binary index (full precision only as In-pruned point lookups), " +
    "fusion arithmetic exact, corpus text never scanned") {
    val q = SparkEntry.queries("text_hybrid_binary")(spark, sf0001)
    val rows = q.select($"doc_id", $"bm25_rank", $"dense_rank", $"rrf")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 10)
    assert(rows.exists(_._2 > 0) && rows.exists(_._3 > 0),
      s"both rankers must surface docs: ${rows.toSeq}")
    rows.foreach { case (id, br, dr, rrf) =>
      val expect = BigDecimal(
        (if (br > 0) 1.0 / (60 + br) else 0.0) +
        (if (dr > 0) 1.0 / (60 + dr) else 0.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rrf == expect, s"doc $id: rrf $rrf != $expect")
    }
    val scans = q.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    def roots(f: FileSourceScanExec) =
      f.relation.location.rootPaths.map(_.toString)
    assert(scans.exists(roots(_).exists(_.contains("graft_bm25_index"))),
      "lexical side must serve from the inverted index")
    val embScans = scans.filter(
      roots(_).exists(_.contains("embeddings.parquet")))
    assert(embScans.nonEmpty, "the re-rank sidecar must be read")
    embScans.foreach { f =>
      assert(f.metadata("PushedFilters").contains("In(vec_id"),
        s"the shortlist must push as point lookups: " +
          f.metadata("PushedFilters"))
    }
    assert(!scans.exists(roots(_).exists(_.contains("documents.parquet"))),
      "the fused serve must not re-scan the raw corpus text")
  }

  test("text_hybrid_binary_filtered: every fused doc is in the allowed " +
    "slice and the restriction moves the fusion vs the unfiltered " +
    "binary hybrid") {
    val rows = SparkEntry.queries("text_hybrid_binary_filtered")(
      spark, sf0001)
      .select($"doc_id", $"rrf").as[(Long, Double)].collect()
    assert(rows.length == 10)
    val allowed = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"label".isin(0, 2, 4, 6, 8))
      .select($"vec_id").as[Long].collect().toSet
    assert(rows.forall(r => allowed.contains(r._1)),
      s"disallowed doc fused: ${rows.filterNot(r => allowed.contains(r._1)).toSeq}")
    val unfiltered = SparkEntry.queries("text_hybrid_binary")(spark, sf0001)
      .select($"doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet != unfiltered,
      "the slice must actually move the fused set")
  }

  test("text_bm25_prf: expansion genuinely moves the ranking (PRF is " +
    "not a no-op on the gate corpus) and the result is a valid " +
    "top-k over the expanded term set") {
    val prf = SparkEntry.queries("text_bm25_prf")(spark, sf0001)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toSeq
    val base = Retrieval.bm25TopK(spark,
      Retrieval.ensureBm25Index(spark, sf0001))
      .as[(Long, Double)].collect().toSeq
    assert(prf.length == 10)
    assert(prf.sorted != base.sorted,
      "the expanded retrieval must differ from the unexpanded one")
    // every PRF score is at least the doc's base score: expansion only
    // ADDS term contributions (same corpus stats, superset term set)
    val baseMap = base.toMap
    prf.foreach { case (id, s0) =>
      baseMap.get(id).foreach(b => assert(s0 >= b - 0.0001,
        s"doc $id: expanded score $s0 below base $b"))
    }
  }

  test("text_hard_negatives: no positive leaks into the negatives, " +
    "retrieval ranks come from the real top-2k retrieval, and " +
    "negative ranks are dense per query") {
    val rows = SparkEntry.queries("text_hard_negatives")(spark, sf0001)
      .select($"query_id", $"doc_id", $"bm25_rank", $"neg_rank")
      .as[(Long, Long, Int, Int)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._2 % 3 != r._1 % 3),
      "a labeled positive must never be mined as a negative")
    val retrieved = Retrieval.bm25Batch(spark,
      Retrieval.ensureBm25Index(spark, sf0001),
      Retrieval.MultiQueries.toDF("query_id", "terms"), k = 20)
      .select($"query_id", $"doc_id", $"rank")
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(rows.forall(r => retrieved.get((r._1, r._2)).contains(r._3)),
      "bm25_rank must be the document's true retrieval rank")
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length),
        s"query $q: negative ranks must be dense 1..n")
      // negatives preserve retrieval order
      assert(rs.sortBy(_._4).map(_._3).sliding(2)
        .forall(p => p.length < 2 || p(0) < p(1)),
        s"query $q: neg_rank order must follow retrieval order")
    }
  }

  test("text_hybrid_pq_filtered: every fused doc is in the allowed " +
    "label slice, both restricted rankers contribute, and surviving " +
    "BM25 scores match the unfiltered ranking") {
    val q = SparkEntry.queries("text_hybrid_pq_filtered")(spark, sf0001)
    val rows = q.select($"doc_id", $"bm25_rank", $"dense_rank", $"rrf")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 10)
    val allowedIds = Tables.embeddings(spark, sf0001)
      .filter($"label".isin(0, 2, 4, 6, 8))
      .select($"vec_id").as[Long].collect().toSet
    assert(rows.forall(r => allowedIds.contains(r._1)),
      "every fused doc must satisfy the metadata predicate")
    assert(rows.exists(_._2 > 0) && rows.exists(_._3 > 0),
      s"both filtered rankers must surface docs: ${rows.toSeq}")
    rows.foreach { case (id, br, dr, rrf) =>
      val expect = BigDecimal(
        (if (br > 0) 1.0 / (60 + br) else 0.0) +
        (if (dr > 0) 1.0 / (60 + dr) else 0.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rrf == expect, s"doc $id: rrf $rrf != $expect")
    }
  }

  test("text_hybrid_filtered: every fused doc is in the allowed label " +
    "slice, surviving scores match the unfiltered ranking, and the " +
    "serve boundary holds — scans read the two index roots, the query " +
    "frame, and the (vec_id,label)-pruned metadata sidecar only") {
    val q = SparkEntry.queries("text_hybrid_filtered")(spark, sf0001)
    val rows = q.select($"doc_id", $"bm25_rank", $"dense_rank", $"rrf")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 10)
    val allowedIds = Tables.embeddings(spark, sf0001)
      .filter($"label".isin(0, 2, 4, 6, 8))
      .select($"vec_id").as[Long].collect().toSet
    assert(rows.forall(r => allowedIds.contains(r._1)),
      "every fused doc must satisfy the metadata predicate")
    assert(rows.exists(_._2 > 0) && rows.exists(_._3 > 0),
      s"both filtered rankers must surface docs: ${rows.toSeq}")
    // candidate-restriction semantics: a doc surviving the filter keeps
    // the SAME BM25 score it has in the unfiltered ranking (df and
    // corpus stats stay global; only the candidate set shrinks)
    val filteredScores = Retrieval.bm25TopKFiltered(
      spark, Retrieval.ensureBm25Index(spark, sf0001),
      allowedIds.toSeq.toDF("doc_id"))
      .as[(Long, Double)].collect().toMap
    val globalScores = Retrieval.bm25TopK(
      spark, Retrieval.ensureBm25Index(spark, sf0001))
      .as[(Long, Double)].collect().toMap
    for ((id, s) <- filteredScores if globalScores.contains(id))
      assert(s == globalScores(id),
        s"doc $id: filtered score $s != global ${globalScores(id)}")
    // serve boundary: index roots + staged query frame + the label
    // sidecar (embeddings pruned to (vec_id, label) — metadata, not
    // the float corpus)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    val embScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("embeddings.parquet")))
    assert(embScans.nonEmpty, "the allowed-set sidecar must be read")
    embScans.foreach { f =>
      val cols = f.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("vec_id", "label")),
        s"sidecar scan must prune to metadata columns, read $cols")
      assert(f.metadata("PushedFilters").contains("In(label"),
        s"label predicate must push to the scan: ${f.metadata("PushedFilters")}")
    }
    assert(!scans.exists(_.relation.location.rootPaths
      .exists(_.toString.contains("documents.parquet"))),
      "the corpus text must never appear in the filtered serve plan")
  }

  test("hybridBatch serve boundary: with the query frame PROVIDED (the " +
    "production contract), every file scan in the fused serve plan " +
    "reads an index root or the query frame — the corpus never appears") {
    val bm = Retrieval.ensureBm25Index(spark, sf0001)
    val ivf = graft.operators.Similarity.ensureIvfIndex(spark, sf0001)
    val qdir = Retrieval.ensureHybridQueryBatch(spark, sf0001)
    val fused = Retrieval.hybridFused(spark, bm, ivf,
      spark.read.parquet(qdir))
    val scans = fused.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.nonEmpty, "the serve plan must read something")
    val allowed = Seq(bm, ivf, qdir).map(_.stripPrefix("file:"))
    scans.foreach { p =>
      val bare = p.stripPrefix("file:")
      assert(allowed.exists(bare.startsWith),
        s"serve scan outside the index/query roots: $p (allowed $allowed)")
    }
    assert(!scans.exists(p => p.contains("documents.parquet") ||
      p.contains("embeddings.parquet")),
      s"corpus scan leaked into the serve plan: $scans")
    // and the served result is unchanged by the staging: the gate rows
    // equal a direct hybridBatch over the same staged frame
    val rows = SparkEntry.queries("text_hybrid_multi")(spark, sf0001)
      .collect().map(_.toString).toSet
    assert(rows.size == 30, "3 queries x top-10")
  }

  // ---- positional phrase index ----

  /** Unigram-offset recompute straight off the corpus — the reference
    * the pair-decomposed index serve must match on any phrase.
    */
  private def bruteForcePhrase(d: String, phrase: String) = {
    val ws = phrase.split(" ").toSeq
    val q = ws.zipWithIndex.toDF("w", "off")
    Tables.documents(spark, d)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .join(q, Seq("w"))
      .groupBy($"doc_id", ($"pos" - $"off").as("anchor"))
      .agg(countDistinct($"off").as("np"))
      .filter($"np" === ws.length)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"),
        min($"anchor").cast("long").as("first_pos"))
      .orderBy($"n_hits".desc, $"doc_id").limit(10)
  }

  test("phraseTopK serves ANY phrase from the positional index " +
    "identically to a corpus-direct recompute — 2-word, 3-word, " +
    "repeated-pair and absent phrases") {
    val idx = tmpDir("phrase-idx")
    Retrieval.Phrase.write(Tables.documents(spark, sf0001), idx)
    for (ph <- Seq("table scan", Retrieval.ProbePhrase, "a a a",
        "zebra quantum phrase")) {
      val served = Retrieval.phraseTopK(spark, idx, ph)
        .as[(Long, Long, Long)].collect().toSeq
      val brute = bruteForcePhrase(sf0001, ph)
        .as[(Long, Long, Long)].collect().toSeq
      assert(served == brute, s"phrase='$ph'")
    }
    assert(Retrieval.phraseTopK(spark, idx, Retrieval.ProbePhrase)
      .count() > 0, "the probe phrase must be non-vacuous at sf0.001")
  }

  test("phrase index lifecycle: seed + ledgered fold + ledgered " +
    "takedown serves identically to a fresh index over the " +
    "never-deleted corpus on arbitrary phrases; replayed fold and " +
    "delete are no-ops") {
    val docs = Tables.documents(spark, sf0001)
    val idx = tmpDir("phrase-lifecycle")
    Retrieval.Phrase.write(docs.filter($"doc_id" % 5 =!= 4), idx)
    assert(Retrieval.Phrase.appendTo(
      docs.filter($"doc_id" % 5 === 4), idx, 0L))
    assert(!Retrieval.Phrase.appendTo(
      docs.filter($"doc_id" % 5 === 4), idx, 0L),
      "a replayed fold must be a ledger-detected no-op")
    val victims = docs.filter($"doc_id" % 7 === 3).select($"doc_id")
    assert(Retrieval.Phrase.deleteFrom(victims, idx, 1L))
    assert(!Retrieval.Phrase.deleteFrom(victims, idx, 1L),
      "a replayed delete must be a ledger-detected no-op")
    val fresh = tmpDir("phrase-fresh")
    Retrieval.Phrase.write(docs.filter($"doc_id" % 7 =!= 3), fresh)
    for (ph <- Seq("table scan", Retrieval.ProbePhrase, "a the")) {
      val evolved = Retrieval.phraseTopK(spark, idx, ph)
        .as[(Long, Long, Long)].collect().toSeq
      val rebuilt = Retrieval.phraseTopK(spark, fresh, ph)
        .as[(Long, Long, Long)].collect().toSeq
      assert(evolved == rebuilt, s"phrase='$ph'")
    }
    // compaction folds the whole lifecycle into one c-dir,
    // serve-identical, and the compacted root audits clean
    val before = Retrieval.phraseTopK(spark, idx, Retrieval.ProbePhrase)
      .as[(Long, Long, Long)].collect().toSeq
    Retrieval.Phrase.compact(spark, idx)
    assert(Retrieval.phraseTopK(spark, idx, Retrieval.ProbePhrase)
      .as[(Long, Long, Long)].collect().toSeq == before,
      "compaction must be serve-identical")
    val rep = Retrieval.protocol(idx).fsck(Seq("postings", "tombstones"))
    assert(rep.clean,
      s"compacted lifecycle root must audit clean: ${rep.issues}")
    // batch serving agrees with the single-phrase serve per query
    val batch = Retrieval.phraseBatch(spark, idx,
      Seq(0L -> "table scan", 1L -> Retrieval.ProbePhrase)
        .toDF("query_id", "phrase"))
      .as[(Long, Long, Int)].collect().toSeq.groupBy(_._1)
    for ((qid, ph) <- Seq(0L -> "table scan", 1L -> Retrieval.ProbePhrase)) {
      val single = Retrieval.phraseTopK(spark, idx, ph)
        .as[(Long, Long, Long)].collect().toSeq.map(_._1)
      val ranked = batch.getOrElse(qid, Nil).sortBy(_._3).map(_._2)
      assert(ranked == single, s"batch vs single for '$ph'")
    }
  }

  test("phraseTopK: the postings scan carries a STATIC bucket " +
    "PartitionFilter and lists at most |pairs| of the bucket dirs") {
    val idx = tmpDir("phrase-prune")
    Retrieval.Phrase.write(Tables.documents(spark, sf0001), idx)
    val scan = Retrieval.phraseTopK(spark, idx, Retrieval.ProbePhrase)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.metadata("Location").contains("postings") => f
      }.head
    assert(scan.partitionFilters.nonEmpty,
      "bucket prune must be a static PartitionFilter")
    val listed = scan.selectedPartitions.partitionCount
    assert(listed <= 2, s"2 pairs listed $listed bucket dirs")
    val total = spark.read.parquet(s"$idx/postings")
      .select($"bucket").distinct().count()
    assert(total > 2 && listed < total,
      "the prune must be a strict subset of a many-bucket index")
  }

  // ---- character-trigram substring index ----

  test("substringSearch serves ANY needle identically to a direct " +
    "grep, and the exact verify removes a crafted false positive " +
    "whose text holds every trigram but not the substring") {
    val needle = "abcdef" // trigrams abc, bcd, cde, def
    val falsePos = 999999L -> "abcd cdef" // all 4 trigrams, no needle
    val truePos = 999998L -> s"x${needle}y $needle"
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
      .union(Seq(falsePos, truePos).toDF("doc_id", "text"))
    val idx = tmpDir("trgm-idx")
    Retrieval.Trigram.write(docs, idx)
    // direct-grep identity on corpus-native needles (incl. the probe)
    for (n <- Seq(Retrieval.ProbeNeedle, "sh join k", "zebraquantum")) {
      val served = Retrieval.substringSearch(spark, idx, docs, n)
        .as[(Long, Long)].collect().toSeq
      val brute = docs.filter($"text".contains(n))
        .select($"doc_id", ((length($"text") -
          length(replace($"text", lit(n), lit("")))) / lit(n.length))
          .cast("long"))
        .as[(Long, Long)].collect().toSeq.sortBy(_._1)
      assert(served == brute, s"needle='$n'")
    }
    assert(Retrieval.substringSearch(spark, idx, docs, Retrieval.ProbeNeedle)
      .count() > 0, "the probe needle must be non-vacuous at sf0.001")
    // the crafted doc is a CANDIDATE (trigram intersection cannot see
    // contiguity) but not a MATCH (the verify greps the real text)
    val cands = Retrieval.substringCandidates(spark, idx, needle)
      .as[Long].collect().toSet
    assert(cands.contains(falsePos._1),
      "the all-trigrams doc must survive candidate generation")
    val matches = Retrieval.substringSearch(spark, idx, docs, needle)
      .as[(Long, Long)].collect().toSeq
    assert(matches == Seq(truePos._1 -> 2L),
      "the verify must keep exactly the true match with its count")
  }

  test("substring index lifecycle: seed + ledgered fold + ledgered " +
    "takedown serves identically to a fresh index; replays are " +
    "no-ops; batch serving agrees with single-needle serves") {
    val docs = Tables.documents(spark, sf0001)
    val idx = tmpDir("trgm-lifecycle")
    Retrieval.Trigram.write(docs.filter($"doc_id" % 5 =!= 4), idx)
    assert(Retrieval.Trigram.appendTo(
      docs.filter($"doc_id" % 5 === 4), idx, 0L))
    assert(!Retrieval.Trigram.appendTo(
      docs.filter($"doc_id" % 5 === 4), idx, 0L),
      "a replayed fold must be a ledger-detected no-op")
    val victims = docs.filter($"doc_id" % 7 === 3).select($"doc_id")
    assert(Retrieval.Trigram.deleteFrom(victims, idx, 1L))
    assert(!Retrieval.Trigram.deleteFrom(victims, idx, 1L),
      "a replayed delete must be a ledger-detected no-op")
    val surviving = docs.filter($"doc_id" % 7 =!= 3)
    val fresh = tmpDir("trgm-fresh")
    Retrieval.Trigram.write(surviving, fresh)
    for (n <- Seq(Retrieval.ProbeNeedle, "w merge")) {
      val evolved = Retrieval.substringSearch(spark, idx, surviving, n)
        .as[(Long, Long)].collect().toSeq
      val rebuilt = Retrieval.substringSearch(spark, fresh, surviving, n)
        .as[(Long, Long)].collect().toSeq
      assert(evolved == rebuilt, s"needle='$n'")
    }
    // batch serving agrees with the single-needle serve per query
    val qs = Seq(0L -> Retrieval.ProbeNeedle, 1L -> "w merge")
    val batch = Retrieval.substringBatch(spark, idx, surviving,
      qs.toDF("query_id", "needle"))
      .as[(Long, Long, Long)].collect().toSeq.groupBy(_._1)
    for ((qid, n) <- qs)
      assert(batch.getOrElse(qid, Nil).map(t => (t._2, t._3)) ==
        Retrieval.substringSearch(spark, idx, surviving, n)
          .as[(Long, Long)].collect().toSeq, s"batch vs single for '$n'")
  }

  // ---- word-positional (NEAR) index ----

  /** Position-join recompute straight off the corpus — the reference
    * the index serve must match on any word set and window.
    */
  private def bruteForceNear(d: String, ws: Seq[String], window: Int) = {
    val t = Tables.documents(spark, d)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
    val legs = ws.zipWithIndex.map { case (w, i) =>
      t.filter($"w" === w).select($"doc_id", $"pos".as(s"p$i"))
    }
    val joined = legs.tail.foldLeft(legs.head)(_.join(_, Seq("doc_id")))
    val all = ws.indices.map(k => col(s"p$k"))
    joined
      .select($"doc_id", (greatest(all: _*) - least(all: _*)).as("span"))
      .filter($"span" <= window - 1)
      .groupBy($"doc_id")
      .agg(min($"span").cast("long").as("best_span"),
        count(lit(1)).as("n_windows"))
      .orderBy($"doc_id")
  }

  test("nearSearch serves ANY word set and window from the positional " +
    "index identically to a corpus-direct recompute — 2 and 3 words, " +
    "tight and loose windows, absent words") {
    val idx = tmpDir("near-idx")
    Retrieval.Near.write(Tables.documents(spark, sf0001), idx)
    for ((ws, win) <- Seq(
        (Seq("hash", "join", "key"), 8),
        (Seq("hash", "join", "key"), 3), // tight: only the exact phrase
        (Seq("table", "scan"), 5),
        (Seq("zebra", "quantum"), 10))) { // absent words: empty result
      val served = Retrieval.nearSearch(spark, idx, ws, win)
        .as[(Long, Long, Long)].collect().toSeq
      val brute = bruteForceNear(sf0001, ws, win)
        .as[(Long, Long, Long)].collect().toSeq
      assert(served == brute, s"words=$ws window=$win")
    }
    assert(Retrieval.nearSearch(spark, idx,
      Retrieval.NearWords, Retrieval.NearWindow).count() > 0,
      "the probe NEAR query must be non-vacuous at sf0.001")
    // a phrase occurrence IS a NEAR match at the tightest window —
    // but NEAR is ORDER-FREE, so the tight set is a SUPERSET of the
    // phrase docs (it adds permuted occurrences): phrase ⊆ tight-NEAR,
    // and every tight match has the forced span L-1 (L distinct words
    // inside an L-wide window occupy consecutive positions)
    val tight = Retrieval.nearSearch(spark, idx,
      Retrieval.ProbePhrase.split(" ").toSeq,
      Retrieval.ProbePhrase.split(" ").length)
      .as[(Long, Long, Long)].collect()
    val phraseDocs = Retrieval.phraseTopK(spark,
      { val p = tmpDir("near-phrase-idx")
        Retrieval.Phrase.write(Tables.documents(spark, sf0001), p); p },
      Retrieval.ProbePhrase, k = 1000)
      .select($"doc_id").as[Long].collect().toSet
    assert(phraseDocs.subsetOf(tight.map(_._1).toSet),
      "every exact-phrase doc must be a tightest-window NEAR match")
    assert(tight.forall(_._2 == 2), "best_span = L-1 at the tight window")
  }

  test("near index lifecycle: seed + ledgered fold + ledgered " +
    "takedown serves identically to a fresh index; the postings scan " +
    "carries a STATIC bucket PartitionFilter of at most |words| dirs") {
    val docs = Tables.documents(spark, sf0001)
    val idx = tmpDir("near-lifecycle")
    Retrieval.Near.write(docs.filter($"doc_id" % 5 =!= 4), idx)
    assert(Retrieval.Near.appendTo(
      docs.filter($"doc_id" % 5 === 4), idx, 0L))
    assert(!Retrieval.Near.appendTo(
      docs.filter($"doc_id" % 5 === 4), idx, 0L),
      "a replayed fold must be a ledger-detected no-op")
    val victims = docs.filter($"doc_id" % 7 === 3).select($"doc_id")
    assert(Retrieval.Near.deleteFrom(victims, idx, 1L))
    val fresh = tmpDir("near-fresh")
    Retrieval.Near.write(docs.filter($"doc_id" % 7 =!= 3), fresh)
    for ((ws, win) <- Seq((Retrieval.NearWords, Retrieval.NearWindow),
        (Seq("table", "scan"), 4)))
      assert(Retrieval.nearSearch(spark, idx, ws, win)
        .as[(Long, Long, Long)].collect().toSeq ==
        Retrieval.nearSearch(spark, fresh, ws, win)
          .as[(Long, Long, Long)].collect().toSeq,
        s"words=$ws")
    val scans = Retrieval.nearSearch(spark, fresh,
      Retrieval.NearWords, Retrieval.NearWindow)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.metadata("Location").contains("postings") => f
      }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "every leg must carry a static bucket PartitionFilter")
    assert(scans.forall(_.selectedPartitions.partitionCount <= 1),
      "each leg reads exactly its word's bucket dir")
  }

  test("expandFiniteRegex: expands alternations, nested groups and " +
    "classes; rejects unbounded operators, over-cap products and " +
    "unbalanced syntax") {
    import Retrieval.expandFiniteRegex
    assert(expandFiniteRegex(Retrieval.ProbeRegex).map(_.toSet) ==
      Some(Set("hash join", "hash scan", "merge join", "merge scan")))
    assert(expandFiniteRegex("a(b|c(d|e))f").map(_.toSet) ==
      Some(Set("abf", "acdf", "acef")))
    assert(expandFiniteRegex("x[a-c]y").map(_.toSet) ==
      Some(Set("xay", "xby", "xcy")))
    assert(expandFiniteRegex("""a\.b""").map(_.toSet) == Some(Set("a.b")))
    for (p <- Seq("ab*", "a+b", "a.b", "a{2}", "^ab", "ab$", "(ab",
        "ab)", "[ab", """a\d""",
        // negated and escaped classes are NOT finite literal languages
        // — expanding '^'/'\' as member chars would make the trigram
        // prune unsound (drop true matches); they must force fallback
        "ab[^x]cd", """ab[\d]cd""", """x[a\-b]y""", """x[a-\\]y""")) {
      assert(expandFiniteRegex(p).isEmpty, s"pattern '$p' must not expand")
    }
    // cap: [a-z][a-z] = 676 products > 64
    assert(expandFiniteRegex("[a-z][a-z]").isEmpty)
  }

  test("regexSearch serves identically to a full-corpus regex scan on " +
    "both the PRUNED path (finite language) and the FALLBACK path " +
    "(unprunable pattern), and the verify removes a crafted doc that " +
    "holds every trigram of a literal without matching it") {
    // all 7 trigrams of "hash join" (has ash 'sh ' 'h j' ' jo' joi oin)
    // scattered across tokens that never form the literal
    val falsePos = 999999L -> "hash blah join"
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
      .union(Seq(falsePos).toDF("doc_id", "text"))
    val idx = tmpDir("trgm-regex")
    Retrieval.Trigram.write(docs, idx)
    def brute(pattern: String) = docs
      .select($"doc_id",
        size(regexp_extract_all($"text", lit(pattern), lit(0)))
          .cast("long").as("n_match"))
      .filter($"n_match" > 0)
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    // pruned path: the probe's finite language
    val servedProbe = Retrieval.regexSearch(spark, idx, docs,
      Retrieval.ProbeRegex).as[(Long, Long)].collect().toSeq
    assert(servedProbe == brute(Retrieval.ProbeRegex))
    assert(servedProbe.nonEmpty, "probe regex must be non-vacuous")
    assert(!servedProbe.map(_._1).contains(falsePos._1),
      "the all-trigrams non-match must be verified away")
    assert(Retrieval.regexCandidates(spark, idx, Seq("hash join"))
      .as[Long].collect().toSet.contains(falsePos._1),
      "…but it must be a CANDIDATE (the prune can't see contiguity)")
    // fallback path: '+' has an infinite language — same results, no
    // index prune
    val fb = "(hash|merge) +(join|scan)"
    assert(Retrieval.regexSearch(spark, idx, docs, fb)
      .as[(Long, Long)].collect().toSeq == brute(fb))
  }

  test("fuzzySearch serves identically to a full-corpus levenshtein " +
    "scan on both the PRUNED path (long term) and the FALLBACK path " +
    "(short term, vacuous trigram bar), and the prune genuinely " +
    "shrinks the verify set") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val idx = tmpDir("trgm-fuzzy")
    Retrieval.Trigram.write(docs, idx)
    def brute(term: String, d: Int) = docs
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .select($"doc_id", $"word",
        levenshtein($"word", lit(term)).as("dist"))
      .filter($"dist" <= d)
      .groupBy($"doc_id")
      .agg(countDistinct($"word").as("nv"), count(lit(1)).as("tf"),
        min($"dist").cast("long").as("bd"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val probe = Retrieval.fuzzySearch(spark, idx, docs,
      Retrieval.FuzzyTerm, Retrieval.FuzzyMaxDist)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(probe == brute(Retrieval.FuzzyTerm, Retrieval.FuzzyMaxDist))
    assert(probe.nonEmpty, "probe term must be non-vacuous")
    // fallback: |T("key")| = 1, bar = 1 - 3 < 1 — full verify, same
    // contract
    assert(Retrieval.fuzzySearch(spark, idx, docs, "key", 1)
      .as[(Long, Long, Long, Long)].collect().toSeq == brute("key", 1))
    // the bar-2 candidate set is a strict subset of the corpus and a
    // superset of the matches (the 3-grams-per-edit bound is sound)
    val bar = Retrieval.FuzzyTerm.sliding(3).toVector.distinct.length -
      3 * Retrieval.FuzzyMaxDist
    val cands = Retrieval.fuzzyCandidates(spark, idx,
      Retrieval.FuzzyTerm, bar).as[Long].collect().toSet
    assert(probe.map(_._1).toSet.subsetOf(cands))
    assert(cands.size < docs.count(),
      "the trigram bar must exclude at least one document")
  }

  test("prefixSearch serves identically to a full-corpus startsWith " +
    "scan on both the PRUNED (>= 3 chars) and FALLBACK (2 chars) " +
    "paths, and the all-grams prune genuinely shrinks the verify set") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val idx = tmpDir("trgm-prefix")
    Retrieval.Trigram.write(docs, idx)
    def brute(p: String) = docs
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter($"word".startsWith(p))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("tf"), countDistinct($"word").as("nv"))
      .select(lit(p).as("prefix"), $"doc_id", $"tf", $"nv")
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    for (p <- Seq("sca", "da", "spark", "zz")) {
      val got = Retrieval.prefixSearch(spark, idx, docs, p)
        .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._2)
      assert(got == brute(p), s"prefix '$p' diverged")
    }
    assert(Retrieval.prefixSearch(spark, idx, docs, "sca").count() > 0)
    // the 'sca' all-grams candidate set excludes at least one doc
    val cands = Retrieval.fuzzyCandidates(spark, idx, "sca", 1)
      .as[Long].collect().toSet
    assert(cands.size < docs.count(),
      "the prefix trigram prune must exclude at least one document")
  }

  test("suffixSearch serves identically to a full-corpus endsWith " +
    "scan on both the PRUNED (>= 3 chars) and FALLBACK (2 chars) " +
    "paths — the position-free trigram index needs no reversed twin") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val idx = tmpDir("trgm-suffix")
    Retrieval.Trigram.write(docs, idx)
    def brute(p: String) = docs
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter($"word".endsWith(p))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("tf"), countDistinct($"word").as("nv"))
      .select(lit(p).as("suffix"), $"doc_id", $"tf", $"nv")
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    for (p <- Seq("ter", "ow", "ream", "zz")) {
      val got = Retrieval.suffixSearch(spark, idx, docs, p)
        .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._2)
      assert(got == brute(p), s"suffix '$p' diverged")
    }
    assert(Retrieval.suffixSearch(spark, idx, docs, "ter").count() > 0)
    val cands = Retrieval.fuzzyCandidates(spark, idx, "ter", 1)
      .as[Long].collect().toSet
    assert(cands.size < docs.count(),
      "the suffix trigram prune must exclude at least one document")
  }

  test("takedownSweep: one call tombstones a doc set in all FOUR " +
    "indexes exactly-once — victims unreachable on every serve path, " +
    "replay a committed no-op, a later sweep composes under a new id") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val root = tmpDir("sweep")
    Retrieval.writeBm25Index(docs, s"$root/bm25")
    Retrieval.Near.write(docs, s"$root/near")
    Retrieval.Phrase.write(docs, s"$root/phrase")
    Retrieval.Trigram.write(docs, s"$root/trgm")
    def audit() = Retrieval.takedownAudit(spark, root)
      .as[(String, Long)].collect().toMap
    def counts(d: org.apache.spark.sql.DataFrame) = {
      val perDoc = d.select($"doc_id", $"text", split($"text", " ").as("ws"))
        .select($"doc_id", size($"ws").as("dl"),
          size(array_distinct($"ws")).as("du"),
          size(array_distinct(when(length($"text") >= 3,
            transform(sequence(lit(1), length($"text") - lit(2)),
              i => $"text".substr(i, lit(3))))
            .otherwise(typedLit(Seq.empty[String])))).as("tgd"))
        .agg(sum($"du"), sum($"dl"),
          sum(greatest($"dl" - 1, lit(0))), sum($"tgd"))
        .as[(Long, Long, Long, Long)].first()
      Map("bm25" -> perDoc._1, "near" -> perDoc._2,
        "phrase" -> perDoc._3, "trgm" -> perDoc._4)
    }
    assert(audit() == counts(docs), "pre-sweep audit == full corpus")
    val victims = docs.filter($"doc_id" % 11 === 5).select($"doc_id")
    val first = Retrieval.takedownSweep(spark, victims, root, 0L)
    assert(first.values.forall(identity), "every kind must commit")
    val swept = counts(docs.filter($"doc_id" % 11 =!= 5))
    assert(audit() == swept, "post-sweep audit == victimless corpus")
    // victims are unreachable through a REAL serve, not just counts
    val victimIds = victims.as[Long].collect().toSet
    val served = Retrieval.substringSearch(spark, s"$root/trgm", docs,
      Retrieval.ProbeNeedle).select($"doc_id").as[Long].collect().toSet
    assert(served.intersect(victimIds).isEmpty, "trgm serve leaks victim")
    val near = Retrieval.nearSearch(spark, s"$root/near",
      Retrieval.NearWords, Retrieval.NearWindow)
      .select($"doc_id").as[Long].collect().toSet
    assert(near.intersect(victimIds).isEmpty, "near serve leaks victim")
    // replay: every kind reports already-committed, nothing moves
    val replay = Retrieval.takedownSweep(spark, victims, root, 0L)
    assert(replay.values.forall(!_), "replayed sweep must be a no-op")
    assert(audit() == swept)
    // a second request composes under its own ledger id
    val second = Retrieval.takedownSweep(spark,
      docs.filter($"doc_id" % 13 === 7).select($"doc_id"), root, 1L)
    assert(second.values.forall(identity))
    assert(audit() == counts(
      docs.filter($"doc_id" % 11 =!= 5).filter($"doc_id" % 13 =!= 7)))
  }

  test("takedownSweepAll: the universal sweep reaches the ANN and " +
    "perceptual-hash roots too — victims unreachable through the " +
    "vector and Hamming serves, replay a committed no-op") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".as("v"))
    val root = tmpDir("sweep-all")
    Retrieval.writeBm25Index(docs, s"$root/bm25")
    Retrieval.Near.write(docs, s"$root/near")
    Retrieval.Phrase.write(docs, s"$root/phrase")
    Retrieval.Trigram.write(docs, s"$root/trgm")
    graft.operators.Similarity.writeIvfIndex(e, s"$root/ann")
    val hashes = Multimodal.perceptualHashes(
      Multimodal.plantedImages(spark, sf0001),
      graft.media.DispatchMediaKernel).toDF()
    Multimodal.writePhashIndex(hashes, s"$root/phash")
    val docV = docs.filter($"doc_id" % 11 === 5).select($"doc_id")
    val vecV = e.filter($"vec_id" % 11 === 5).select($"vec_id")
    val assetV = docV.select($"doc_id".as("asset_id"))
    val first = Retrieval.takedownSweepAll(
      spark, docV, vecV, assetV, root, 0L)
    assert(first.keySet ==
      Set("bm25", "near", "phrase", "trgm", "ann", "phash"))
    assert(first.values.forall(identity), "every kind must commit")
    // victims unreachable through the two NEW kinds' real serves
    val vecVictims = vecV.as[Long].collect().toSet
    val qd = e.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val neigh = graft.operators.Similarity
      .indexTopK(spark, s"$root/ann", qd)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(neigh.intersect(vecVictims).isEmpty, "ANN serve leaks victim")
    val assetVictims = docV.as[Long].collect().toSet
    val found = Multimodal.phashSearch(spark, s"$root/phash",
        hashes.select($"asset_id".as("query_id"), $"phash"))
      .select($"asset_id").as[Long].collect().toSet
    assert(found.intersect(assetVictims).isEmpty,
      "phash search leaks victim")
    // replay: every kind reports already-committed
    val audit = Retrieval.takedownAuditAll(spark, root)
      .as[(String, Long)].collect().toMap
    val replay = Retrieval.takedownSweepAll(
      spark, docV, vecV, assetV, root, 0L)
    assert(replay.values.forall(!_), "replayed sweep must be a no-op")
    assert(Retrieval.takedownAuditAll(spark, root)
      .as[(String, Long)].collect().toMap == audit)
    assert(audit("ann") ==
      e.filter($"vec_id" % 11 =!= 5).count(), "ann audit arithmetic")
    assert(audit("phash") ==
      4 * docs.filter($"doc_id" % 11 =!= 5).count(),
      "phash audit arithmetic")
  }

  test("substringSearch: the trigram postings scan carries a STATIC " +
    "bucket PartitionFilter listing at most |grams| bucket dirs") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val idx = tmpDir("trgm-prune")
    Retrieval.Trigram.write(docs, idx)
    val plan = Retrieval.substringSearch(spark, idx, docs,
      Retrieval.ProbeNeedle).queryExecution.sparkPlan
    val scan = plan.collect {
      case f: FileSourceScanExec
        if f.metadata("Location").contains("postings") => f
    }.head
    assert(scan.partitionFilters.nonEmpty,
      "bucket prune must be a static PartitionFilter")
    val grams = Retrieval.ProbeNeedle.sliding(3).toSeq.distinct.length
    val listed = scan.selectedPartitions.partitionCount
    assert(listed <= grams, s"$grams grams listed $listed bucket dirs")
    val total = spark.read.parquet(s"$idx/postings")
      .select($"bucket").distinct().count()
    assert(total > grams && listed < total,
      "the prune must be a strict subset of a many-bucket index")
  }
}
