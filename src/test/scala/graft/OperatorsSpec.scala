package graft

import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** Semantics of the extension operators on controlled inputs + smoke of
  * every registered query on sf0.001. Oracle value-parity is covered by
  * the driver's DuckDB gate (and tools/check_oracle.py in dev).
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(docs: (Long, String)*) =
    docs.toDF("doc_id", "text")

  private val base =
    "the quick brown fox jumps over the lazy dog near the old stone bridge " +
      "while rain falls softly on the quiet village street tonight"

  test("every registered query runs on sf0.001 and has a unique name") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.distinct.length == names.length)
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("oracle SQL exists for every SQL-expressible query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.size >= 30)
  }

  test("minhash LSH: near-identical docs collide, disjoint docs don't") {
    val nearDup = base.replace("tonight", "today") // 1-word edit
    val other = "completely different words compose this second document " +
      "about spark catalyst optimizer rules and physical plan strategies " +
      "with shuffle exchange partitioning codegen stages and broadcast joins"
    val sh = Dedup.docShingles(docsDf(1L -> base, 2L -> nearDup, 3L -> other), 50)
    // doc 3 shares no shingle with 1/2
    val cand = sh.as("a").join(sh.as("b"), Seq("sh"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)) && !cand.contains((1L, 3L)))
  }

  test("simhash: identical docs have identical signatures; near-dups are " +
    "close in Hamming distance; unrelated docs are far") {
    val nearDup = base.replace("tonight", "today")
    val other = "completely different words compose this second document " +
      "about spark catalyst optimizer rules and physical plan strategies " +
      "with shuffle exchange partitioning codegen stages and broadcast joins"
    val sigs = Dedup.simhashSignatures(
      docsDf(1L -> base, 2L -> base, 3L -> nearDup, 4L -> other))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sigs(1L) == sigs(2L))
    assert(hamming(sigs(1L), sigs(3L)) <= 8)
    assert(hamming(sigs(1L), sigs(4L)) > 8)
  }

  test("cosine: orthogonal → 0, identical → 1, opposite → −1") {
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0), 0.0),
      (Array(1.0, 2.0), Array(1.0, 2.0), 1.0),
      (Array(1.0, 0.0), Array(-1.0, 0.0), -1.0)
    ).toDF("a", "b", "expected")
    val got = df.select(
      (Similarity.cosine(col("a"), col("b")) - col("expected")).as("diff"))
      .as[Double].collect()
    assert(got.forall(d => math.abs(d) < 1e-12))
  }

  test("sim_topk: rank 1 is the true nearest neighbor (exhaustive check)") {
    val byName = SparkEntry.queries
    val topk = byName("sim_topk")(spark, sf0001)
      .filter($"rank" === 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toMap
    // brute-force recomputation in Scala for query 0
    val vecs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    val q0 = vecs(0L)
    val best = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (BigDecimal(cos(q0, v)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP), -id) }.max
    assert(topk(0L) == -best._2)
  }

  test("sim_ivf recall@5 vs brute force ≥ 0.5 on sf0.001, and the gated " +
    "sim_ivf_recall query reports exactly that overlap") {
    val exact = SparkEntry.queries("sim_topk")(spark, sf0001)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = SparkEntry.queries("sim_ivf")(spark, sf0001)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
    val gated = SparkEntry.queries("sim_ivf_recall")(spark, sf0001)
      .select($"query_id", $"n_common").as[(Long, Long)].collect()
    assert(gated.length == 20) // one row per query, zero-overlap included
    assert(gated.map(_._2).sum == (exact & approx).size)
  }

  test("sim_ivf_indexed: identical result to sim_ivf; the corpus is " +
    "served from the cell-partitioned index with a STATIC partition " +
    "prune (only probed cent_id= directories listed), and the only " +
    "embeddings scans are query-side") {
    val q = SparkEntry.queries("sim_ivf_indexed")(spark, sf0001)
    val viaIndex = q.select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val rebuilt = SparkEntry.queries("sim_ivf")(spark, sf0001)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(viaIndex == rebuilt)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // no embeddings.parquet scan at all: the corpus vectors come from
    // the index, and the query set (vec_id < 20) from the probes the
    // serve collected at construction
    val embScans = scans.filter(_.metadata("Location").contains("embeddings"))
    assert(embScans.isEmpty,
      s"embeddings scan in the indexed plan: ${embScans.map(_.dataFilters)}")
    // the index scan prunes to the probed cells: partition filters
    // present, and the listing selects fewer directories than the
    // index holds cells
    val idxScans = scans.filter(
      _.metadata("Location").contains("graft_ivf_index"))
    val vecScan = idxScans.find(_.metadata("Location").contains("vectors"))
    assert(vecScan.nonEmpty, s"no vectors index scan in:\n$scans")
    // independent recompute of the probed cell set (plain Scala, same
    // rounded-cosine ranking): the scan must list EXACTLY those cells'
    // directories — the nprobe/K byte bound the index exists for.
    // (At this scale 20 queries × 4 probes can cover ALL K=20 cells, in
    // which case the engine deliberately skips the no-op prune — the
    // strict-subset pruning path is pinned in StreamingSimilaritySpec
    // with a controlled K.)
    val idx = graft.operators.Similarity.ensureIvfIndex(spark, sf0001)
    val cents = spark.read.parquet(s"$idx/cents")
      .as[(Long, Array[Double])].collect()
    val queries = Tables.embeddings(spark, sf0001)
      .filter($"vec_id" < 20)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def rcos(a: Array[Float], b: Array[Double]): BigDecimal = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i).toDouble * a(i); nb += b(i) * b(i)
        i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }
    val probed = queries.flatMap { case (_, v) =>
      cents.map { case (cid, cv) => (rcos(v, cv), cid) }
        .sortBy { case (sim, cid) => (-sim, cid) }
        .take(4).map(_._2)
    }.toSet
    val pf = vecScan.get.partitionFilters.map(_.toString)
    if (probed.size < cents.length)
      assert(pf.exists(f => f.contains(" IN ") || f.contains("INSET")),
        s"cell prune must be a static IN PartitionFilter: $pf")
    else
      // all cells probed: the static no-op prune is skipped; the
      // planner is free to add dynamicpruning (runtime DPP off the
      // probes join) — what must NOT appear is a K-literal IN list
      // that prunes nothing
      assert(!pf.exists(f => f.contains(" IN ") || f.contains("INSET")),
        s"no-op static IN must be skipped when every cell is probed: $pf")
    assert(vecScan.get.selectedPartitions.partitionCount == probed.size,
      s"listed ${vecScan.get.selectedPartitions.partitionCount} cell " +
        s"dirs, probes touch ${probed.size}")
  }

  test("dedup_embedding_lsh: candidate cosines are exact (independent " +
    "Scala recompute), the is_dup verdict matches the threshold, and " +
    "planted high-cosine near-dups are recalled by the 16-bit bands") {
    val cand = SparkEntry.queries("dedup_embedding_lsh")(
      spark, "/root/testdata/sf0.01")
      .as[(Long, Long, Double, Long)].collect()
    // independent verification: recompute cosine in plain Scala
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    assert(cand.nonEmpty) // deterministic planes ⇒ stable candidate set
    cand.foreach { case (x, y, sim, dup) =>
      val c = BigDecimal(cos(vecs(x), vecs(y)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
      assert(c == BigDecimal(sim).setScale(4), s"($x,$y) cos=$c vs $sim")
      assert(dup == (if (sim >= 0.4) 1L else 0L))
    }
    // Recall on PLANTED near-dups (this corpus has none — max pair
    // cosine ≈ 0.51): perturb 20 corpus vectors by a small deterministic
    // rotation toward a fixed direction (cosine ≈ 0.98 to the original)
    // and check most planted pairs collide on ≥1 of the 4 16-bit bands
    // (theory: p^16 ≈ 0.35/band at θ≈11°, 1−(1−p^16)^4 ≈ 0.82).
    val planted = vecs.toSeq.sortBy(_._1).take(20).flatMap {
      case (id, v) =>
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        val eps = 0.2 * norm / math.sqrt(v.length.toDouble)
        val pert = v.zipWithIndex.map { case (x, i) =>
          (x + (if (i % 2 == 0) eps else -eps)).toFloat }
        Seq((id, v), (id + 100000L, pert))
    }.toDF("vec_id", "v")
    val collided = Dedup.srpBands(planted)
      .groupBy($"band", $"bv")
      .agg(collect_set($"vec_id").as("ids"))
      .as[(Int, Long, Seq[Long])].collect()
      .flatMap { case (_, _, ids) =>
        for (a <- ids; b <- ids; if a + 100000L == b) yield a
      }.toSet
    assert(collided.size >= 10,
      s"only ${collided.size}/20 planted near-dup pairs collided on a band")
  }

  test("srpBands: 16-bit band-bucket occupancy stays FAR below N — the " +
    "structural guarantee that SRP candidate generation never " +
    "degenerates toward all-pairs as the corpus grows") {
    // sf0.01 (the gate scale, 10× the usual spec inputs): with 65 536
    // buckets per band, random-ish vectors spread out and only genuine
    // near-dup clusters share a bucket. Candidate pairs per band are
    // Σ|bucket|² — the occupancy cap IS the scale bound.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select($"vec_id", $"embedding".as("v"))
    val n = e.count()
    val occ = Dedup.srpBands(e)
      .groupBy($"band", $"bv").count()
      .agg(org.apache.spark.sql.functions.max($"count"))
      .as[Long].head()
    assert(occ <= math.max(4L, n / 10),
      s"max band-bucket occupancy $occ vs corpus $n — bands too coarse")
  }

  test("winnowing: docs sharing a long substring share a fingerprint; " +
    "disjoint docs share none; codegen and interpreted paths agree") {
    val shared = "the quick brown fox jumps over the lazy sleeping dog tonight"
    val docs = Seq(
      (1L, s"prefix alpha beta $shared gamma delta"),
      (2L, s"completely other start $shared and another ending here"),
      (3L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo nnn"))
      .toDF("doc_id", "text")
    val fps = docs.select($"doc_id",
      graft.functions.RollingHashMinima.winnow_fingerprints($"text", 8, 16)
        .as("fps"))
      .as[(Long, Array[Long])].collect().toMap
    assert((fps(1L).toSet & fps(2L).toSet).nonEmpty) // guaranteed overlap
    assert((fps(1L).toSet & fps(3L).toSet).isEmpty)
    // interpreted path (direct eval) agrees with the codegen'd query path
    import org.apache.spark.unsafe.types.UTF8String
    val direct = graft.functions.RollingHashMinima
      .winnow(UTF8String.fromString(s"prefix alpha beta $shared gamma delta"), 8, 16)
      .toLongArray()
    assert(direct.toSeq == fps(1L).toSeq)
  }

  test("multimodal resize/frame-sample stubs: shape and determinism") {
    val a = Multimodal.resizeAssets(Multimodal.assets(spark, sf0001), 16, 16)
      .collect()
    assert(a.length == 500)
    assert(a.forall(r => r.thumb.length == 16 * 16 && r.width == 16))
    val frames = Multimodal.sampleFrames(Multimodal.assets(spark, sf0001), 2)
      .collect()
    assert(frames.length > 500) // genuine 1→N explosion
    assert(frames.exists(_.frame_idx >= 2)) // multi-frame assets exist
    assert(frames.forall(_.frame_idx % 2 == 0))
    assert(frames.forall(f => f.n_bytes <= graft.media.Media.FrameBytes))
  }

  test("multimodal: batched stub decode is deterministic and total") {
    val a = Multimodal.extractFeatures(Multimodal.assets(spark, sf0001))
      .collect().sortBy(_.asset_id)
    val b = Multimodal.extractFeatures(Multimodal.assets(spark, sf0001))
      .collect().sortBy(_.asset_id)
    assert(a.length == 500)
    assert(a.map(_.features.toSeq) sameElements b.map(_.features.toSeq))
    assert(a.forall(_.features.length == graft.media.Media.FeatureDim))
    assert(a.forall(f => f.width >= 1 && f.height >= 1))
  }

  test("MediaKernel SPI: an alternate kernel drops in without touching " +
    "query code, and the stub path is byte-identical after restore") {
    val stub = Multimodal.extractFeatures(Multimodal.assets(spark, sf0001))
      .collect().map(f => (f.asset_id, f.width, f.height, f.features.toSeq))
      .toSet
    Multimodal.setKernel(FakeMediaKernel)
    try {
      val fake = Multimodal.extractFeatures(Multimodal.assets(spark, sf0001))
        .collect()
      assert(fake.length == 500)
      assert(fake.forall(f => f.width == 42 && f.height == 7 &&
        f.features.forall(_ == 0.5f)),
        "the swapped kernel must drive the same distributed plumbing")
      val frames = Multimodal
        .sampleFrames(Multimodal.assets(spark, sf0001), 2).collect()
      assert(frames.length == 500 && frames.forall(_.frame_hash == -1L))
    } finally Multimodal.setKernel(graft.media.StubMediaKernel)
    val restored = Multimodal
      .extractFeatures(Multimodal.assets(spark, sf0001))
      .collect().map(f => (f.asset_id, f.width, f.height, f.features.toSeq))
      .toSet
    assert(restored == stub, "restoring the stub must restore its output")
  }

  test("multimodal metadata scan prunes the binary payload column") {
    val plan = SparkEntry.queries("multimodal_meta")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the parquet scan must read only doc_id + text (no other columns)
    assert(plan.contains("ReadSchema"))
  }

  test("connectedComponents: chains collapse to the min id (multi-round " +
    "convergence), separate components stay separate") {
    // 20-vertex path (diameter 19 — forces pointer jumping to earn its
    // keep within the iteration cap), one triangle, one isolated pair
    val chain = (1L until 20L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L),
      (200L, 201L))).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 20 + 3 + 2)
    (1L to 20L).foreach(i => assert(got(i) == 1L, s"chain vertex $i"))
    Seq(100L, 101L, 102L).foreach(i => assert(got(i) == 100L))
    Seq(200L, 201L).foreach(i => assert(got(i) == 200L))
  }

  test("connectedComponents convergence probe is join-free — the " +
    "changed-label count reads the round's own materialized frame, " +
    "never re-joins the previous labels") {
    val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // The per-round probe is the only `count` action in the loop; its
    // executed plan must be agg-over-filter-over-the-checkpointed-RDD.
    // The old probe form joined the jumped frame back to the previous
    // labels (an extra shuffle join per round) — that shape fails here.
    val probePlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "count") probePlans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      Dedup.connectedComponents(pairs).collect()
      // execution-listener events post asynchronously; give the bus a
      // beat to drain (lag can only UNDERCOUNT probe plans — every
      // captured plan must still be join-free)
      Thread.sleep(1000)
      import scala.jdk.CollectionConverters._
      val plans = probePlans.asScala.toSeq
      assert(plans.nonEmpty, "no convergence probe captured")
      plans.foreach { p =>
        assert(!p.contains("Join"), s"probe joins:\n${p.take(1500)}")
        assert(p.contains("Scan ExistingRDD"),
          s"probe does not read the checkpointed frame:\n${p.take(1500)}")
      }
    } finally spark.listenerManager.unregister(ql)
  }

  test("dedup_cluster agrees with a union-find reference on sf0.001") {
    val pairs = Dedup.ngramPairs(Tables.documents(spark, sf0001))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = SparkEntry.queries("dedup_cluster")(spark, sf0001)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("dedup_canonical: every cluster elects exactly one canonical — " +
    "the max-quality member with smallest-id tie-break — and " +
    "singletons are their own canonical") {
    val rows = SparkEntry.queries("dedup_canonical")(spark, sf0001)
      .select($"doc_id", $"cluster_id", $"canonical_id", $"is_canonical")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length ==
      Tables.documents(spark, sf0001).count(), "one row per document")
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      val canon = members.filter(_._4 == 1L)
      assert(canon.length == 1, s"cluster $c: ${canon.length} canonicals")
      assert(members.forall(_._3 == canon.head._1),
        s"cluster $c: members must point at the elected canonical")
    }
    // singletons: cluster of one, canonical = self
    byCluster.filter(_._2.length == 1).foreach { case (_, Array(m)) =>
      assert(m._3 == m._1 && m._4 == 1L)
    }
    // the election really is argmax quality (4-dp) with min-id ties:
    // recompute per-doc quality driver-side and check every cluster
    val q = Tables.documents(spark, sf0001)
      .select($"doc_id",
        round(graft.operators.TextAnalysis.qualityScore($"text"), 4)
          .as("q"))
      .as[(Long, Double)].collect().toMap
    byCluster.filter(_._2.length > 1).foreach { case (c, members) =>
      val expect = members.map(_._1).minBy(id => (-q(id), id))
      assert(members.head._3 == expect,
        s"cluster $c: canonical ${members.head._3} != argmax $expect")
    }
    // sanity: the corpus really exercises the policy (some cluster's
    // canonical is NOT its min id, i.e. quality overrode age)
    val overrides = byCluster.values.filter(m =>
      m.length > 1 && m.head._3 != m.map(_._1).min)
    assert(overrides.nonEmpty,
      "expected at least one cluster where quality beats min-id")
  }

  test("dedup_incremental_indexed: history text is never re-scanned — " +
    "every documents scan carries the incoming-batch filter; the " +
    "history side reads the persisted index frames") {
    val q = SparkEntry.queries("dedup_incremental_indexed")(spark, sf0001)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val docScans = scans.filter(_.metadata("Location").contains("documents"))
    assert(docScans.nonEmpty, "expected incoming-side documents scans")
    docScans.foreach { f =>
      assert(f.dataFilters.mkString(";").contains("% 5"),
        s"documents scan without the incoming filter: ${f.dataFilters}")
    }
    val idxScans =
      scans.filter(_.metadata("Location").contains("graft_dedup_index"))
    assert(idxScans.size >= 2,
      s"expected shingle + hash index scans, got ${idxScans.size}")
    // and the result is identical to the recompute-everything operator
    val viaIndex = q.select($"doc_id").as[Long].collect().toSet
    val viaFull = SparkEntry.queries("dedup_incremental")(spark, sf0001)
      .select($"doc_id").as[Long].collect().toSet
    assert(viaIndex == viaFull)
  }

  test("appendToIndex: an index grown batch-by-batch answers the next " +
    "increment identically to an index built from scratch over the " +
    "accumulated corpus") {
    val docs = Tables.documents(spark, sf0001)
    val wave1 = docs.filter($"doc_id" % 5 < 3)
    val wave2 = docs.filter($"doc_id" % 5 === 3)
    val incoming = docs.filter($"doc_id" % 5 === 4)
    val grown = tmpDir("idx-grown")
    val scratch = tmpDir("idx-scratch")
    Dedup.writeIndex(wave1, grown)
    assert(Dedup.appendToIndex(wave2, grown, batchId = 0L))
    Dedup.writeIndex(wave1.union(wave2), scratch)
    val viaGrown = Dedup.incrementalKeepNewIndexed(grown, incoming)
      .select($"doc_id").as[Long].collect().toSet
    val viaScratch = Dedup.incrementalKeepNewIndexed(scratch, incoming)
      .select($"doc_id").as[Long].collect().toSet
    assert(viaGrown == viaScratch)
    // a replayed fold of the same batchId is a committed no-op
    assert(!Dedup.appendToIndex(wave2, grown, batchId = 0L))
    val viaReplayed = Dedup.incrementalKeepNewIndexed(grown, incoming)
      .select($"doc_id").as[Long].collect().toSet
    assert(viaReplayed == viaGrown)
    // and both agree with the recompute-everything operator
    val viaFull = Dedup.incrementalKeepNew(wave1.union(wave2), incoming)
      .select($"doc_id").as[Long].collect().toSet
    assert(viaGrown == viaFull)
    // df summaries are value-identical, not just result-equivalent
    val dfGrown = Dedup.servedDf(spark, grown).as[(Long, Long)].collect().toMap
    val dfScratch = Dedup.servedDf(spark, scratch).as[(Long, Long)].collect().toMap
    assert(dfGrown == dfScratch)
  }

  test("compactIndex: K folds leave one file-set per batch; compaction " +
    "rewrites them into a bounded hash-clustered file count with the " +
    "dedup result unchanged and the replay ledger intact") {
    val docs = Tables.documents(spark, sf0001)
    val idx = tmpDir("idx-compact")
    Dedup.writeIndex(docs.filter($"doc_id" % 5 === 0), idx)
    for (k <- 1 to 3)
      assert(Dedup.appendToIndex(
        docs.filter($"doc_id" % 5 === k), idx, batchId = k.toLong))
    val incoming = docs.filter($"doc_id" % 5 === 4)
    val before = Dedup.incrementalKeepNewIndexed(idx, incoming)
      .select($"doc_id").as[Long].collect().toSet
    // resolve the kind through the manifest: compaction publishes a new
    // generation dir; the pre-publish one is retired on the NEXT publish
    def dataFiles(sub: String): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(
          Dedup.protocol(idx).dir(sub)))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val filesBefore = dataFiles("shingles")
    assert(filesBefore >= 4, s"expected one file-set per fold, got $filesBefore")
    Dedup.compactIndex(spark, idx, numFiles = 2)
    assert(dataFiles("shingles") <= 2 && dataFiles("hashes") <= 2,
      "compaction must bound the file count")
    val after = Dedup.incrementalKeepNewIndexed(idx, incoming)
      .select($"doc_id").as[Long].collect().toSet
    assert(after == before, "compaction changed the dedup result")
    // ledger survives compaction: a replayed old batchId stays a no-op
    // even though its b-dir was compacted away
    assert(!Dedup.appendToIndex(
      docs.filter($"doc_id" % 5 === 2), idx, batchId = 2L))
    assert(Dedup.incrementalKeepNewIndexed(idx, incoming)
      .select($"doc_id").as[Long].collect().toSet == before)
  }

  test("dedup_exact groups: all singleton on sf0.001 (no exact dups)") {
    val out = SparkEntry.queries("dedup_exact")(spark, sf0001)
    assert(out.filter($"n_copies" > 1).count() == 0)
  }

  test("shingles3: docs under 3 words yield NO shingles (regression: " +
    "sequence(1, size-2) steps backwards when size < 3 and crashed)") {
    val df = docsDf(1L -> "one", 2L -> "two words",
      3L -> "exactly three words", 4L -> base)
    val n = df.select($"doc_id", size(Dedup.shingles3($"text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(n(1L) == 0 && n(2L) == 0 && n(3L) == 1 && n(4L) > 2)
    // end-to-end: the full ngram/keeplist pipeline tolerates short docs
    val pairs = Dedup.ngramPairs(docsDf(1L -> "hi", 2L -> base, 3L -> base))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 3L)))
  }

  test("dedup_prefix_join: prefix filtering is LOSSLESS vs brute-force " +
    "all-pairs shingle Jaccard on sf0.001 (finds pairs the df cap " +
    "hides), and the 0.8 boundary is integer-exact") {
    val got = SparkEntry.queries("dedup_prefix_join")(spark, sf0001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // Brute force: every pair, no prefix prune, no size filter — the
    // ground truth the prefix lemma claims the pruned join reproduces.
    def sh3(t: String): Set[String] =
      t.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> sh3(r.getString(1)))
      .filter(_._2.nonEmpty)
    val brute = (for {
      (ia, sa) <- docs
      (ib, sb) <- docs if ia < ib
      i = (sa intersect sb).size
      u = sa.size + sb.size - i
      if 5L * i >= 4L * u
    } yield ((ia, ib), math.round(i.toDouble / u * 1e4) / 1e4)).toMap
    assert(got.keySet == brute.keySet)
    brute.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-9) }
    assert(got.nonEmpty) // planted exact dups are shingle-level dups too
    // Exact threshold boundary: 11-word docs → 9 shingles each; changing
    // the LAST word flips exactly one shingle → overlap 8, J = 8/10 =
    // 0.8, INCLUDED (5·8 ≥ 4·10 with equality); changing the last TWO
    // words flips two shingles → overlap 7, J = 7/11, excluded.
    val a11 = (1 to 11).map(i => s"w$i").mkString(" ")
    val b80 = ((1 to 10).map(i => s"w$i") :+ "x11").mkString(" ")
    val b72 = ((1 to 9).map(i => s"w$i") ++ Seq("y10", "y11")).mkString(" ")
    val edge = Dedup.prefixJoinPairs(
        docsDf(1L -> a11, 2L -> b80, 3L -> b72, 4L -> "zz yy qq rr"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(edge == Seq((1L, 2L, 0.8)))
  }

  test("dedup_substring: diagonal-island spans equal a brute-force " +
    "per-diagonal char scan on sf0.001 (doc_id < 100 slice), and the " +
    "40-char floor / maximality / n_spans semantics are pinned on a " +
    "planted corpus") {
    // Brute force: maximal matching char-runs per (pair, diagonal). A
    // maximal char-run of length L ≥ 30 is exactly a maximal run of
    // L−29 matching 30-gram anchors (a single char mismatch breaks
    // both), so this is the operator's ground truth.
    def bruteSpans(a: String, b: String): Seq[(Long, Long, Long)] = {
      val out = Seq.newBuilder[(Long, Long, Long)]
      var d = -(b.length - 1)
      while (d <= a.length - 1) {
        var i = math.max(0, d)
        while (i < a.length && i - d < b.length) {
          if (a(i) == b(i - d)) {
            var j = i
            while (j < a.length && j - d < b.length && a(j) == b(j - d))
              j += 1
            if (j - i >= Dedup.SubstrFloor)
              out += ((i + 1L, i - d + 1L, (j - i).toLong))
            i = j
          } else i += 1
        }
        d += 1
      }
      out.result()
    }
    def best(sp: Seq[(Long, Long, Long)]): (Long, Long, Long, Long) = {
      val b = sp.minBy { case (ao, bo, l) => (-l, ao, bo) }
      (b._3, b._1, b._2, sp.size.toLong)
    }
    val texts = Tables.documents(spark, sf0001)
      .filter($"doc_id" < 100).select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val brute = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      sp = bruteSpans(ta, tb) if sp.nonEmpty
    } yield (ia, ib) -> best(sp)).toMap
    val got = SparkEntry.queries("dedup_substring")(spark, sf0001)
      .filter($"doc_a" < 100 && $"doc_b" < 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == brute)
    assert(got.nonEmpty) // 4 qualifying pairs in the slice at sf0.001
    // Planted semantics: s40/t40 share no 30-char window with anything
    // else; differing flanks pin maximality at exactly the planted span.
    val s40 = "0123456789abcdefghijklmnopqrstuvwxyzABCD"
    val t40 = "ZYXWVUTSRQPONMLKJIHGFEDCBA9876543210zyxw"
    val planted = Dedup.substringSpans(docsDf(
        1L -> s"X${s40}Y",                // 40-char span, flanks differ
        2L -> s"P${s40}Q",                // → included at exactly 40
        3L -> s"X${s40.dropRight(1)}Y",   // vs 4: 39 shared chars —
        4L -> s"P${s40.dropRight(1)}Q",   //   under the floor, excluded
        5L -> s"$s40####$t40",            // two disjoint 40-char spans
        6L -> s"zz$s40@@@@$t40"))         // → n_spans 2, tie → min a_off
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(planted == Set(
      (1L, 2L, 40L, 2L, 2L, 1L),
      // flank char + 39-char prefix = exactly 40 consecutive chars:
      (1L, 3L, 40L, 1L, 1L, 1L), (2L, 4L, 40L, 1L, 1L, 1L),
      (5L, 6L, 40L, 1L, 3L, 2L),
      (1L, 5L, 40L, 2L, 1L, 1L), (1L, 6L, 40L, 2L, 3L, 1L),
      (2L, 5L, 40L, 2L, 1L, 1L), (2L, 6L, 40L, 2L, 3L, 1L)))
    // (3,4) absent: 39 < the 40-char floor — the exact boundary.
  }

  test("dedup_substring_cut: keep-lowest-id rule (the first occurrence " +
    "never cuts), overlapping intervals from different partners merge, " +
    "disjoint spans count separately") {
    val s60 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWX"
      .take(60)
    val u40 = "zyxwvutsrqponmlkjihgfedcba9876543210ZYXW"
    val v40 = "QRSTUVWXYZqrstuvwxyz0123456789!@#$%^&*()"
    val got = Dedup.substringCut(docsDf(
        1L -> s"((${s60}))",            // lowest id: never cut
        2L -> s"${s60.take(40)}......", // cut once vs 1 (40 chars)
        3L -> s"zz$s60",                // [3,63) vs 1 merges over [3,43) vs 2
        4L -> s"$u40####$v40",          // lowest id of the 4/5 pair
        5L -> s"$u40@@@@$v40"))         // two DISJOINT cuts
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(!got.contains(1L) && !got.contains(4L),
      "lowest-id occurrences must survive uncut")
    assert(got(2L) == ((1L, 40L, 6L)))   // 46 chars - 40 removed
    assert(got(3L) == ((1L, 60L, 2L)))   // merged [3,63) — ONE region
    assert(got(5L) == ((2L, 80L, 4L)))   // u40 and v40 cut separately
  }

  test("dedup_source_overlap: the full source-pair matrix emits (every " +
    "pair shares vocabulary on this corpus), jaccard bounded, and the " +
    "join key is fan-out-bounded by construction") {
    val r = SparkEntry.queries("dedup_source_overlap")(spark, sf0001)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getDouble(3)))
    assert(r.length == 190) // C(20, 2) — corpus-size independent
    assert(r.forall(p => p._4 > 0.0 && p._4 <= 1.0 && p._3 > 0))
    // distinct (source, shingle) pairs: no shingle key can exceed
    // #sources rows — the skew-impossibility the operator is built on
    val maxFanOut = operators.Par.fanOut(Tables.documents(spark, sf0001))
      .select($"source", explode(operators.Dedup.shingles3($"text"))
        .as("sh"))
      .distinct().groupBy($"sh").count()
      .agg(max($"count")).collect()(0).getLong(0)
    assert(maxFanOut <= 20)
  }

  test("text_kn_logprob: Kneser-Ney conditionals NORMALIZE (sum to 1 " +
    "over the continuation vocabulary per prefix) and the scored " +
    "bigram stream matches the add-1 gate's") {
    // planted corpus with repeated contexts so discount + backoff both
    // carry mass ("francisco" is frequent but follows only "san")
    val df = docsDf(
      1L -> "san francisco is big san francisco is old",
      2L -> "new york is big new york is loud",
      3L -> "san jose is small")
    // brute-force the model exactly as specified
    val grams = df.collect().flatMap { r =>
      r.getString(1).split(" ", -1).sliding(2).filter(_.length == 2)
        .map(a => (a(0), a(1)))
    }
    val c2 = grams.groupBy(identity).view.mapValues(_.size).toMap
    val types = c2.keys.toSeq
    val cw1 = types.groupBy(_._1).view
      .mapValues(_.map(c2).sum.toDouble).toMap
    val nf = types.groupBy(_._1).view.mapValues(_.size).toMap
    val np = types.groupBy(_._2).view.mapValues(_.size).toMap
    val t = types.size.toDouble
    val contVocab = np.keys.toSeq
    // THE KN invariant: for every prefix, the conditional distribution
    // over the whole continuation vocabulary sums to exactly 1.
    cw1.keys.foreach { w1 =>
      val total = contVocab.map { w2 =>
        val disc = c2.get((w1, w2))
          .map(c => (c - 0.75) / cw1(w1)).getOrElse(0.0)
        disc + 0.75 * nf(w1) / cw1(w1) * (np(w2) / t)
      }.sum
      assert(math.abs(total - 1.0) < 1e-9, s"prefix $w1 sums to $total")
    }
    // engine vs brute force on the planted corpus
    val got = operators.TextAnalysis.knLogprob(df).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val expected = df.collect().map { r =>
      val gs = r.getString(1).split(" ", -1).sliding(2)
        .filter(_.length == 2).map(a => (a(0), a(1))).toSeq
      val lps = gs.map { case (w1, w2) =>
        math.log((c2((w1, w2)) - 0.75) / cw1(w1) +
          0.75 * nf(w1) / cw1(w1) * (np(w2) / t))
      }
      r.getLong(0) ->
        ((math.round(lps.sum / lps.size * 1e4) / 1e4, gs.size.toLong))
    }.toMap
    expected.foreach { case (id, (lp, n)) =>
      assert(got(id)._2 == n)
      assert(math.abs(got(id)._1 - lp) < 2e-4, s"doc $id: ${got(id)._1} vs $lp")
    }
    // the KN gate scores exactly the bigram stream the add-1 gate scores
    val knN = SparkEntry.queries("text_kn_logprob")(spark, sf0001)
      .agg(sum($"n_bigrams")).collect()(0).getLong(0)
    val addN = SparkEntry.queries("text_bigram_logprob")(spark, sf0001)
      .agg(sum($"n_bigrams")).collect()(0).getLong(0)
    assert(knN == addN)
  }

  test("text_nb_forgotten: decremental unlearning lands frame-for-frame " +
    "identically on the from-scratch refit (counts, scalars and " +
    "integer surrogates)") {
    import org.apache.spark.sql.DataFrame
    val docs = Tables.documents(spark, sf0001)
    val train = docs.filter($"doc_id" % 5 =!= 4)
    val forget = train.filter($"doc_id" % 25 === 0)
    assert(forget.count() > 0, "fixture: the forget set must be non-empty")
    val root = operators.TextAnalysis.ensureNbModel(spark, sf0001)
    val (m2, l2) = operators.TextAnalysis.nbForget(
      spark.read.parquet(s"$root/model"),
      spark.read.parquet(s"$root/langs"), forget)
    val (mr, lr) = operators.TextAnalysis.nbModelFrames(
      train.filter($"doc_id" % 25 =!= 0))
    def mkey(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    def lkey(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(mkey(m2) == mkey(mr), "model frame must equal the refit")
    assert(lkey(l2) == lkey(lr), "langs frame must equal the refit")
    // and the MIRROR: growing the shrunken model by the same docs lands
    // back on the full fit — the lifecycle triangle closes exactly
    val (mg, lg) = operators.TextAnalysis.nbGrow(m2, l2, forget)
    val (mf, lf) = operators.TextAnalysis.nbModelFrames(train)
    assert(mkey(mg) == mkey(mf), "grow(forget(M)) must equal the full fit")
    assert(lkey(lg) == lkey(lf))
  }

  test("ledgered NB model: each horizon serves the from-scratch fit on " +
    "its cumulative slice, a replayed grow no-ops, and vacuum keeps " +
    "surviving versions while the reclaimed one refuses") {
    import org.apache.spark.sql.DataFrame
    import operators.TextAnalysis
    val docs = Tables.documents(spark, sf0001)
    val train = docs.filter($"doc_id" % 5 =!= 4)
    val root = tmpDir("nb-ledger")
    TextAnalysis.initLedgeredNbModel(
      train.filter($"doc_id" % 3 === 1), root)
    assert(TextAnalysis.growNbModelCommit(spark, root,
      train.filter($"doc_id" % 3 === 2), 1L))
    assert(TextAnalysis.growNbModelCommit(spark, root,
      train.filter($"doc_id" % 3 === 0), 2L))
    def mkey(df: DataFrame) = df.select($"lang", $"tok", $"c", $"l_i")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // horizon h == from-scratch fit on the cumulative slice
    val slices = Seq(
      0L -> train.filter($"doc_id" % 3 === 1),
      1L -> train.filter($"doc_id" % 3 =!= 0),
      2L -> train)
    for ((h, slice) <- slices) {
      val (mh, _) = TextAnalysis.readNbModelAsOf(spark, root, h)
      val (mr, _) = TextAnalysis.nbModelFrames(slice)
      assert(mkey(mh) == mkey(mr), s"horizon $h diverged from the refit")
    }
    // replayed grow is a committed no-op (ledger unchanged)
    assert(!TextAnalysis.growNbModelCommit(spark, root,
      train.filter($"doc_id" % 3 === 2), 1L))
    assert(TextAnalysis.modelProtocol(root).foldedBatches() == Set(1L, 2L))
    // vacuum at floor 1: versions 1-2 survive value-identically, the
    // seed horizon refuses, the replay no-ops
    val pre = (1L to 2L).map(h =>
      h -> mkey(TextAnalysis.readNbModelAsOf(spark, root, h)._1)).toMap
    assert(TextAnalysis.vacuumNbModel(spark, root, 1L))
    for (h <- 1L to 2L)
      assert(mkey(TextAnalysis.readNbModelAsOf(spark, root, h)._1)
        == pre(h), s"horizon $h moved under vacuum")
    assertThrows[IllegalArgumentException](
      TextAnalysis.readNbModelAsOf(spark, root, 0L))
    assert(!TextAnalysis.vacuumNbModel(spark, root, 1L))
  }

  test("text_nb_langid: planted Naive Bayes model scores hand-exactly, " +
    "learns when there is signal, and exact ties break on lang asc") {
    // Train (ids % 5 != 4): two langs with disjoint vocabularies, equal
    // priors (2 docs each) and equal token totals (6 each); V = 4.
    val df = Seq(
      (0L, "ant ant bee", "aa"), (1L, "ant bee bee", "aa"),
      (2L, "cat cat dog", "bb"), (3L, "cat dog dog", "bb"),
      (9L, "ant bee", "aa"),   // holdout: pure aa vocabulary
      (14L, "cat dog", "bb"),  // holdout: pure bb vocabulary
      (19L, "zz zz", "aa")     // holdout: fully unseen → exact tie
    ).toDF("doc_id", "text", "lang")
    val got = operators.TextAnalysis.nbLangid(df)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3))))
      .toMap
    // Half-away-from-zero, the Spark/DuckDB round convention (math.round
    // rounds negative exact-.5 toward +∞ — wrong for these log terms).
    def li(p: Double): Long = BigDecimal(math.log(p) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // doc 9: c(aa,ant)=3, c(aa,bee)=3, t=6, V=4 → each token ln(4/10);
    // bb never saw either token → ln(1/10). Priors ln(2/4) both.
    assert(got(9L) == ("aa", li(0.5) + 2 * li(0.4)))
    assert(got(14L) == ("bb", li(0.5) + 2 * li(0.4)))
    // doc 19: both langs score prior + 2·default, identical by
    // construction → the lang-ascending tie-break must pick "aa".
    assert(got(19L) == ("aa", li(0.5) + 2 * li(0.1)))
    // Corpus smoke: one row per holdout doc, preds drawn from train langs.
    val sf = SparkEntry.queries("text_nb_langid")(spark, sf0001).collect()
    val holdout = Tables.documents(spark, sf0001)
      .filter($"doc_id" % 5 === 4).count()
    assert(sf.length == holdout)
    assert(sf.map(_.getString(2)).toSet.subsetOf(
      Set("en", "es", "de", "fr", "zh")))
    // persisted-model serve returns the identical classification
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    val idx = SparkEntry.queries("text_nb_indexed")(spark, sf0001).collect()
    assert(key(idx) == key(sf))
  }

  test("text_label_mi: engine output equals an independent brute-force " +
    "MI recompute, and every token's MI is non-negative (up to per-term " +
    "rounding)") {
    val got = SparkEntry.queries("text_label_mi")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val rows = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).toSet))
    val n = rows.length.toDouble
    val langs = rows.map(_._2).distinct
    val nl = langs.map(l => l -> rows.count(_._2 == l)).toMap
    val vocab = rows.flatMap(_._3).distinct
    val expected = vocab.map { t =>
      val nt = rows.count(_._3(t))
      val mi = langs.map { l =>
        val ntl = rows.count(r => r._2 == l && r._3(t))
        val t1 = if (ntl > 0)
          (ntl / n) * math.log((ntl / n) / ((nt / n) * (nl(l) / n)))
        else 0.0
        val t0 = if (nl(l) - ntl > 0 && rows.length - nt > 0)
          ((nl(l) - ntl) / n) * math.log(((nl(l) - ntl) / n) /
            (((rows.length - nt) / n) * (nl(l) / n)))
        else 0.0
        // half away from zero — the engines' round() convention on the
        // frequently-negative 1e-9-scaled MI terms
        BigDecimal((t1 + t0) * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      (t, mi, nt.toLong)
    }.sortBy { case (t, mi, _) => (-mi, t) }.take(50).toSeq
    assert(got == expected)
    // MI is non-negative; the integer surrogate may sit a few 1e-9
    // units below zero from per-term rounding, never more
    assert(got.forall(_._2 >= -langs.length.toLong))
  }

  test("sim_ivf_probe_curve: recall is monotone in nprobe and the " +
    "nprobe=4 point equals sim_ivf_recall's total (cross-gate " +
    "consistency)") {
    val curve = SparkEntry.queries("sim_ivf_probe_curve")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(curve.keySet == Set(1L, 2L, 4L, 8L))
    assert(curve(1L) <= curve(2L) && curve(2L) <= curve(4L) &&
      curve(4L) <= curve(8L), curve.toString)
    assert(curve(8L) > curve(1L), "widening probes must add recall here")
    val ivfTotal = SparkEntry.queries("sim_ivf_recall")(spark, sf0001)
      .agg(sum($"n_common")).collect()(0).getLong(0)
    assert(curve(4L) == ivfTotal,
      s"curve@4=${curve(4L)} != sim_ivf_recall total $ivfTotal")
  }

  test("sim_rp_recall: the 16-dim JL projection clears the above-random " +
    "floor on the uniform corpus and projected vectors have RpDim dims") {
    val gated = SparkEntry.queries("sim_rp_recall")(spark, sf0001)
      .select($"query_id", $"n_common").as[(Long, Long)].collect()
    assert(gated.length == 20)
    // uniform-random 64-dim corpus is the JL worst case (all cosines
    // concentrate): 16 dims keep ~11 of 100 exact-top-5 slots vs ~1.25
    // random — the readout a pipeline uses to REJECT this knob here,
    // and to accept it on clustered real embeddings
    assert(gated.map(_._2).sum >= 5, s"sum=${gated.map(_._2).sum}")
    val dims = Similarity.rpProjected(
        Tables.embeddings(spark, sf0001)
          .select($"vec_id", $"embedding".as("v")))
      .select(size($"v")).distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(Similarity.RpDim))
    // BIT-EXACT projection pin: the gate's cross-engine value parity
    // rests on Spark DotProduct and DuckDB list_dot_product both
    // accumulating the 64-term dot strictly left to right in IEEE
    // doubles. Pin Spark's half here against an independent sequential
    // fold (planes re-derived from the documented seed formula), so an
    // engine-version accumulation-order drift fails THIS spec with a
    // clear signal instead of a nondeterministic rank flip in the gate.
    val planes = (0 until Similarity.RpDim).map { j =>
      val rnd = new scala.util.Random(1099511628211L * (j + 7) + 2017)
      Array.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }
    val projected = Similarity.rpProjected(
        Tables.embeddings(spark, sf0001)
          .select($"vec_id", $"embedding".as("v")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val raw = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    assert(raw.nonEmpty)
    raw.foreach { case (id, v) =>
      val expect = planes.map { p =>
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i).toDouble * p(i); i += 1 }
        acc
      }
      // == on doubles: bit-exactness IS the claim
      assert(projected(id) == expect.toSeq,
        s"vec $id: Spark projection diverged from the sequential fold")
    }
  }

  test("sim_quantized_recall: int8 codes keep >= 0.8 of exact top-5 " +
    "(the 4x-compression fidelity argument), quantized values integral " +
    "in [-127, 127]") {
    val gated = SparkEntry.queries("sim_quantized_recall")(spark, sf0001)
      .select($"query_id", $"n_common").as[(Long, Long)].collect()
    assert(gated.length == 20)
    assert(gated.map(_._2).sum >= 80, s"recall sum=${gated.map(_._2).sum}")
    val qv = Similarity.quantized(
      Tables.embeddings(spark, sf0001)
        .select($"vec_id", $"embedding".as("v")))
      .select(explode($"v")).as[Double].collect()
    assert(qv.forall(x => x == math.rint(x) && math.abs(x) <= 127.0))
  }

  test("text_cross_duplication: exact twins score 1.0, fractions " +
    "bounded, every doc reports a row") {
    val r = SparkEntry.queries("text_cross_duplication")(spark, sf0001)
    assert(r.count() == Tables.documents(spark, sf0001).count())
    assert(r.filter($"shared_frac" < 0 || $"shared_frac" > 1 ||
      $"n_shared" > $"n_grams").count() == 0)
    // every doc with an exact twin (same md5 text, >= 3 words) shares
    // ALL its shingles with the twin ⇒ shared_frac == 1.0
    val twins = Tables.documents(spark, sf0001)
      .groupBy(md5($"text").as("h")).agg(
        count(lit(1)).as("c"), collect_list($"doc_id").as("ids"))
      .filter($"c" > 1)
      .select(explode($"ids").as("doc_id"))
    val bad = r.join(twins, Seq("doc_id"), "left_semi")
      .filter($"n_grams" > 0 && $"shared_frac" =!= 1.0)
    assert(bad.count() == 0)
  }

  test("text_entropy kernel: exact on uniform alphabets, zero on " +
    "one-char runs, bounded by log2(n_unique) on the corpus") {
    val vals = Seq("aaaa", "ab", "abcd", "aab")
      .toDF("text")
      .select(operators.TextAnalysis.charEntropy($"text")).as[Double]
      .collect()
    assert(vals(0) == 0.0)
    assert(vals(1) == 1.0)
    assert(vals(2) == 2.0)
    assert(vals(3) == 0.9183) // -(2/3)log2(2/3)-(1/3)log2(1/3), 4dp
    val bad = SparkEntry.queries("text_entropy")(spark, sf0001)
      .filter($"entropy" < 0 ||
        $"entropy" > log2($"n_unique".cast("double")) + 1e-9)
    assert(bad.count() == 0)
  }

  test("text_gopher_rules: pass is exactly the conjunction of the rule " +
    "flags; wlen/dup/stop rules each discriminate on the corpus") {
    val out = SparkEntry.queries("text_gopher_rules")(spark, sf0001)
      .localCheckpoint()
    assert(out.filter(
      $"pass" =!= $"r_len" * $"r_wlen" * $"r_dup" * $"r_stop").count() == 0)
    val n = out.count()
    for (c <- Seq("r_wlen", "r_dup", "r_stop")) {
      val k = out.filter(col(c) === 1L).count()
      assert(k > 0 && k < n, s"$c k=$k of $n")
    }
    // signals land in their structural ranges
    assert(out.filter($"dup_frac" < 0 || $"dup_frac" > 1 ||
      $"mean_wlen" <= 0 || $"n_stop" > 10).count() == 0)
  }

  test("dedup_containment: a doc fully embedded in a larger one is " +
    "containment-1.0 even though its Jaccard is far below the 0.8 bar") {
    val small = "alpha beta gamma delta epsilon zeta eta"
    val big = small + " theta iota kappa lambda mu nu xi omicron pi rho " +
      "sigma tau upsilon phi chi psi omega one two three four five six"
    val docs = docsDf(1L -> big, 2L -> small, 3L -> base)
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((2L, 1L, 1.0))) // inner = the smaller shingle set
    // the same pair is invisible to the Jaccard detector (size skew)
    assert(Dedup.ngramPairs(docs).collect().isEmpty)
  }

  test("sim_threshold_sweep: buckets bound their cosine ranges and " +
    "total mass equals the same-cell pair count") {
    val sweep = SparkEntry.queries("sim_threshold_sweep")(spark, sf0001)
      .select($"bucket_x10", $"n_pairs", $"min_cos", $"max_cos")
      .as[(Long, Long, Double, Double)].collect()
    assert(sweep.nonEmpty)
    sweep.foreach { case (b, n, lo, hi) =>
      assert(b >= -10 && b <= 10 && n > 0)
      assert(lo >= b / 10.0 - 1e-9 && hi < (b + 1) / 10.0 + 1e-9,
        s"bucket $b range [$lo,$hi]")
      assert(lo <= hi)
    }
    // full brute-force recompute: assign to nearest seed (rounded
    // cosine, seed-id tiebreak), histogram all same-cell pairs
    val vecs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val seeds = vecs.filter(_._1 % 25 == 0)
    val cells = vecs.groupBy { case (_, v) =>
      seeds.map(s => (-r4(cos(v, s._2)), s._1)).min._2 }
    val hist = cells.values.flatMap { vs =>
      val arr = vs.sortBy(_._1)
      for (i <- arr.indices; j <- (i + 1) until arr.length)
        yield math.floor(r4(cos(arr(i)._2, arr(j)._2)) * 10).toLong
    }.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    assert(sweep.map(r => r._1 -> r._2).toMap == hist)
  }

  test("q_checksum: XOR fold reproduces a driver-side tokenHash " +
    "recompute and updates in O(1) when a row leaves") {
    val got = SparkEntry.queries("q_checksum")(spark, sf0001)
      .select($"lang", $"n_rows", $"checksum")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val rows = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"source", $"n_chars",
        md5($"text").as("th"))
      .as[(Long, String, String, Long, String)].collect()
    def rowHash(r: (Long, String, String, Long, String)): Long =
      functions.SimHashAgg.tokenHash(
        s"${r._1}|${r._2}|${r._3}|${r._4}|${r._5}") & Long.MaxValue
    val expect = rows.groupBy(_._2).map { case (lang, rs) =>
      lang -> (rs.length.toLong, rs.map(rowHash).reduce(_ ^ _)) }
    assert(got == expect)
    // incremental property: dropping one row = one XOR, no rescan
    val (lang, (n, c)) = expect.head
    val victim = rows.find(_._2 == lang).get
    val without = rows.filter(r => r._2 == lang && r != victim)
      .map(rowHash).foldLeft(0L)(_ ^ _)
    assert((c ^ rowHash(victim)) == without && n >= 1)
  }

  test("text_langid_confusion: shares sum to 1 per true lang, counts " +
    "reconcile with text_langid's predictions joined to labels") {
    val cells = SparkEntry.queries("text_langid_confusion")(spark, sf0001)
      .select($"lang", $"pred_lang", $"n", $"share")
      .as[(String, String, Long, Double)].collect()
    assert(cells.nonEmpty)
    cells.groupBy(_._1).foreach { case (lang, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-3, s"$lang shares")
    }
    val docCount = Tables.documents(spark, sf0001).count()
    assert(cells.map(_._3).sum == docCount) // every doc lands in one cell
    // reconcile against the registered per-doc predictions
    val preds = SparkEntry.queries("text_langid")(spark, sf0001)
      .select($"doc_id", $"pred_lang").as[(Long, String)].collect().toMap
    val labels = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang").as[(Long, String)].collect()
    val expect = labels.groupBy(l => (l._2, preds(l._1)))
      .map { case (k, v) => (k._1, k._2, v.length.toLong) }.toSet
    assert(cells.map(c => (c._1, c._2, c._3)).toSet == expect)
  }

  test("text_perplexity_bucket: per-lang terciles are balanced (±1), " +
    "ordered by score, and cover every scored doc") {
    val out = SparkEntry.queries("text_perplexity_bucket")(spark, sf0001)
      .select($"doc_id", $"lang", $"avg_logp", $"bucket")
      .as[(Long, String, Double, Long)].collect()
    assert(out.nonEmpty)
    val scored = SparkEntry.queries("text_bigram_logprob")(spark, sf0001)
      .select($"doc_id").as[Long].collect().toSet
    assert(out.map(_._1).toSet == scored) // universe = docs with bigrams
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val byB = rows.groupBy(_._4).map { case (b, r) => b -> r.length }
      assert(byB.keySet.subsetOf(Set(1L, 2L, 3L)), s"$lang buckets $byB")
      if (rows.length >= 3) {
        assert(byB.keySet == Set(1L, 2L, 3L))
        assert(byB.values.max - byB.values.min <= 1, s"$lang sizes $byB")
      }
      // score ordering across bucket boundaries (ties may straddle:
      // the doc_id tie-break splits equal scores, so >= not >)
      for (k <- 1L to 2L if byB.contains(k) && byB.contains(k + 1)) {
        val lo = rows.filter(_._4 == k).map(_._3).min
        val hi = rows.filter(_._4 == k + 1).map(_._3).max
        assert(lo >= hi, s"$lang bucket $k min=$lo < bucket ${k + 1} max=$hi")
      }
    }
  }

  test("dedup_threshold_sweep: buckets bound their jaccard ranges and " +
    "the >=0.8 tail mass equals dedup_ngram's pair count") {
    val sweep = SparkEntry.queries("dedup_threshold_sweep")(spark, sf0001)
      .select($"bucket_x10", $"n_pairs", $"min_jac", $"max_jac")
      .as[(Long, Long, Double, Double)].collect()
    assert(sweep.nonEmpty)
    sweep.foreach { case (b, n, lo, hi) =>
      assert(b >= 0 && b <= 10 && n > 0)
      assert(lo >= b / 10.0 - 1e-4 && hi <= (b + 1) / 10.0 + 1e-4,
        s"bucket $b range [$lo,$hi]")
      assert(lo <= hi)
    }
    val tail = sweep.filter(_._1 >= 8).map(_._2).sum
    val ngram = SparkEntry.queries("dedup_ngram")(spark, sf0001).count()
    assert(tail == ngram, s"tail=$tail ngram=$ngram")
  }

  test("dedup_minhash_estimate: pair set == dedup_minhash candidates; " +
    "estimates are k/8 grid points; near-dup pairs estimate high") {
    val est = SparkEntry.queries("dedup_minhash_estimate")(spark, sf0001)
      .select($"doc_a", $"doc_b", $"est_j", $"exact_j")
      .as[(Long, Long, Double, Double)].collect()
    assert(est.nonEmpty)
    val candPairs = SparkEntry.queries("dedup_minhash")(spark, sf0001)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(est.map(e => (e._1, e._2)).toSet == candPairs)
    // the 8-component sketch can only emit multiples of 1/8
    est.foreach { case (a, b, e, _) =>
      assert((e * 8).isWhole, s"($a,$b) est=$e not on the k/8 grid") }
    // calibration: genuinely near-dup candidates estimate high — the
    // banding admits occasional low-exact false positives (that is what
    // this readout exists to expose), so the floor applies only to
    // high-exact pairs
    est.filter(_._4 >= 0.8).foreach { case (a, b, e, x) =>
      assert(e >= 0.5, s"($a,$b) exact=$x but est=$e") }
  }

  test("sim_pq_recall: ADC over 16x4 PQ codes beats the random baseline " +
    ">= 10x on the structureless synthetic corpus, one row per query") {
    val gated = SparkEntry.queries("sim_pq_recall")(spark, sf0001)
      .select($"query_id", $"n_common").as[(Long, Long)].collect()
    assert(gated.length == 20) // zero-overlap queries still report a row
    // Uniform random vectors give the codebook no cluster structure to
    // exploit, so PQ recall is inherently modest here — the pin is that
    // ADC ranking carries real signal: 20 queries x top-5 at N=500 give
    // a random-overlap expectation of ~1 hit; require >= 10.
    val hits = gated.map(_._2).sum
    assert(hits >= 10, s"PQ recall hits=$hits")
  }

  test("sim_mrl_recall: one row per query with 0 <= n_common <= 5, and " +
    "a FULL-width truncation is the identity (recall exactly top-k)") {
    val gated = SparkEntry.queries("sim_mrl_recall")(spark, sf0001)
      .select($"query_id", $"n_common").as[(Long, Long)].collect()
    assert(gated.length == 20)
    assert(gated.forall { case (_, n) => n >= 0 && n <= 5 }, gated.toSeq)
    // prefix signal must beat the ~1-hit random-overlap expectation
    // even on the structureless corpus (16 of 64 dims is a real
    // quarter of the inner product, not noise)
    assert(gated.map(_._2).sum >= 10, s"MRL hits=${gated.map(_._2).sum}")
    // dims = 64 truncation changes nothing: Similarity.truncated is a
    // prefix view, so the full prefix must reproduce the exact top-k
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val full = Similarity.truncated(e, 64)
    assert(full.select($"v").first().getSeq[Double](0).length == 64)
    assert(e.select(element_at($"v", 64)).first() ==
      full.select(element_at($"v", 64)).first())
  }

  test("sim_binary_recall: one row per query with 0 <= n_common <= 5, " +
    "Hamming signal beats random, and the sign-pack is bit-exact") {
    val gated = SparkEntry.queries("sim_binary_recall")(spark, sf0001)
      .select($"query_id", $"n_common").as[(Long, Long)].collect()
    assert(gated.length == 20)
    assert(gated.forall { case (_, n) => n >= 0 && n <= 5 }, gated.toSeq)
    // sign bits of a structureless corpus still retain real cosine
    // signal: measured 22/100 at sf0.001 vs the ~1/100 random
    // baseline; pin a conservative floor
    assert(gated.map(_._2).sum >= 10, s"binary hits=${gated.map(_._2).sum}")
    // hand-checked pack: dims 0,2,33 positive → w0 = 2^0 + 2^2 = 5,
    // w1 = 2^(33-32) = 2; an all-nonpositive vector packs to (0, 0)
    val v1 = Array.fill(64)(-1.0)
    v1(0) = 1.0; v1(2) = 0.5; v1(33) = 2.0
    val v2 = Array.fill(64)(0.0) // zeros are NOT set bits (> 0 strict)
    val packed = Similarity.binarized(
      Seq((1L, v1.toSeq), (2L, v2.toSeq)).toDF("vec_id", "v"))
      .orderBy($"vec_id")
      .select($"w0", $"w1").as[(Long, Long)].collect()
    assert(packed(0) == ((5L, 2L)), packed.toSeq)
    assert(packed(1) == ((0L, 0L)), packed.toSeq)
  }

  test("sim_binary_rerank: per-query recall dominates the pure-Hamming " +
    "readout (an exact-top-5 member inside the Hamming top-5 is inside " +
    "the top-20 shortlist and must survive the exact re-rank)") {
    val rr = SparkEntry.queries("sim_binary_rerank")(spark, sf0001)
      .select($"query_id", $"n_common").as[(Long, Long)].collect().toMap
    val pure = SparkEntry.queries("sim_binary_recall")(spark, sf0001)
      .select($"query_id", $"n_common").as[(Long, Long)].collect().toMap
    assert(rr.size == 20 && pure.size == 20)
    assert(pure.forall { case (q, n) => rr(q) >= n },
      s"rerank lost hits: ${pure.filter { case (q, n) => rr(q) < n }}")
    // and the lift is real on the gate corpus (measured 45 vs 22)
    assert(rr.values.sum > pure.values.sum,
      s"rerank=${rr.values.sum} pure=${pure.values.sum}")
  }

  test("q_skew_join: salted join + salted aggregate equals the plain " +
    "join + GROUP BY, and the hot keys carry the planted mass") {
    val got = SparkEntry.queries("q_skew_join")(spark, sf0001)
      .select($"k", $"n", $"total_value", $"attr")
      .as[(String, Long, Double, Int)].collect().sortBy(_._1)
    // plain (unsalted) reference computed directly
    val ev = Tables.events(spark, sf0001).select(
      when($"user_id" % 10 < 7,
        concat(lit("hot"), ($"user_id" % 3).cast("string")))
        .otherwise(concat(lit("u"), $"user_id".cast("string"))).as("k"),
      $"value")
    val plain = ev.groupBy($"k")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(12,2)")).cast("double")
          .as("total_value"),
        max(length($"k")).cast("int").as("attr"))
      .as[(String, Long, Double, Int)].collect().sortBy(_._1)
    assert(got.toSeq == plain.toSeq)
    assert(got.filter(_._1.startsWith("hot")).map(_._2).sum > 700)
  }

  test("q_record_linkage: every planted dirty record resolves to its " +
    "true canonical at distance 1, and blocks genuinely compete") {
    val linked = SparkEntry.queries("q_record_linkage")(spark, sf0001)
      .select($"rec_id", $"match_name", $"dist", $"n_candidates")
      .as[(Long, String, Int, Long)].collect()
    assert(linked.nonEmpty)
    // the dirty name is a single deletion of the canonical, so the
    // true match is at distance exactly 1 — and min (dist, name) must
    // find it: re-derive the dirty record's source name and compare
    val part = spark.read.parquet(s"$sf0001/part.parquet")
      .select($"p_partkey", $"p_name").as[(Long, String)].collect().toMap
    assert(linked.forall(_._3 == 1), linked.filter(_._3 != 1).toSeq)
    assert(linked.forall { case (id, m, _, _) => part(id) == m },
      linked.filterNot { case (id, m, _, _) => part(id) == m }.toSeq)
    // every third part row is planted
    assert(linked.length == part.keys.count(_ % 3 == 0))
    // the <=2 verify bar admits competing same-block candidates for
    // some records (resolution is exercised, not vacuous)
    assert(linked.exists(_._4 > 1), "no multi-candidate record")
  }

  test("misra_gries: candidate set is a guaranteed superset of keys " +
    "above N/(c+1) under forced multi-partition merges") {
    import graft.functions.MisraGriesAgg.misra_gries
    // 60% 'a', 20% 'b', rest singletons: with c=4 both a and b exceed
    // N/5; singletons must never evict them whatever the partitioning
    val rows = (Seq.fill(600)("a") ++ Seq.fill(200)("b") ++
      (0 until 200).map(i => s"t$i"))
    for (parts <- Seq(1, 7, 32)) {
      val cands = rows.toDF("k").repartition(parts)
        .agg(misra_gries($"k", 4).as("c"))
        .select(explode($"c").as("k")).as[String].collect().toSet
      assert(cands.size <= 4, s"parts=$parts: ${cands.size} > c")
      assert(cands.contains("a") && cands.contains("b"),
        s"parts=$parts: heavy hitters evicted: $cands")
    }
  }

  test("q_hot_keys: exactly the three planted hot keys, with exact " +
    "counts, independent of partitioning") {
    val got = SparkEntry.queries("q_hot_keys")(spark, sf0001)
      .select($"k", $"cnt").as[(String, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq("hot0", "hot1", "hot2"), got.toSeq)
    // exact recount: sums must cover ~70% of the 1000-event stream
    val total = got.map(_._2).sum
    assert(total > 700 && total < 850, s"hot mass=$total")
  }

  test("doc_chunk_overlap: stride-48 windows tile every document — " +
    "chunk count, tail truncation, and the 64-cap all follow from the " +
    "token count; identical chunk text collides on the fingerprint") {
    val chunks = SparkEntry.queries("doc_chunk_overlap")(spark, sf0001)
      .select($"doc_id", $"chunk_idx", $"n_tokens", $"fp")
      .as[(Long, Int, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", size(split($"text", " ")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(chunks.keySet == docs.keySet)
    chunks.foreach { case (id, cs) =>
      val n = docs(id)
      assert(cs.length == (n - 1) / 48 + 1, s"doc $id: ${cs.length} vs n=$n")
      assert(cs.map(_._2).toSeq == cs.indices.toSeq) // dense chunk ids
      cs.foreach { case (_, idx, nt, _) =>
        assert(nt == math.min(64, n - 48 * idx), s"doc $id chunk $idx")
      }
    }
    // fingerprints are content keys: two single-chunk docs with equal
    // text must collide; the corpus genuinely exercises this
    val all = chunks.values.flatten.map(_._4).toSeq
    assert(all.distinct.size < all.size, "expected some chunk collisions")
  }

  test("text_normalize: clean docs are a no-op, planted docs normalize " +
    "to the canonical form, and the pass is idempotent") {
    val rows = SparkEntry.queries("text_normalize")(spark, sf0001)
      .select($"doc_id", $"changed", $"fp").as[(Long, Long, String)]
      .collect()
    assert(rows.map(_._2).toSet == Set(0L, 1L),
      "both planted and clean docs must appear")
    // recompute one planted doc's canonical form in plain Scala
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    def gated(id: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = h.map("%02x".format(_)).mkString
      hex(0) >= '0' && hex(0) <= '7'
    }
    def norm(s: String): String = s.toLowerCase
      .replace("é", "e").replace("ö", "o").replace("ñ", "n")
      .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    val planted = rows.find(r => gated(r._1)).get
    val expected = norm(docs(planted._1) + "  Héllo,  WÖRLD!!  Ñoisy__text")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(planted._2 == 1L && planted._3 == fp)
    // idempotence: normalizing a normalized body changes nothing
    assert(norm(expected) == expected)
    // a clean doc's fingerprint is the md5 of its own body
    val clean = rows.find(r => !gated(r._1)).get
    val cfp = java.security.MessageDigest.getInstance("MD5")
      .digest(docs(clean._1).getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(clean._2 == 0L && clean._3 == cfp)
  }

  test("text_extract: markup is stripped to the body + footer content, " +
    "link-heavy blocks and script/style die, entities unescape, clean " +
    "docs pass through unchanged, and the pass is idempotent") {
    import graft.operators.TextAnalysis
    val rows = SparkEntry.queries("text_extract")(spark, sf0001)
      .select($"doc_id", $"changed", $"fp").as[(Long, Long, String)]
      .collect()
    assert(rows.map(_._2).toSet == Set(0L, 1L),
      "both planted and clean docs must appear")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    def gated(id: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      h(0) >= '0' && h(0) <= '7'
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // a planted doc extracts to its body + the unescaped footer text
    val planted = rows.find(r => gated(r._1)).get
    val expected = (docs(planted._1) + " Footer & contact <info>")
      .replaceAll(" +", " ").trim
    assert(planted._2 == 1L && planted._3 == md5hex(expected),
      "extraction must keep exactly the body and the de-entitied footer")
    // a clean doc is untouched
    val clean = rows.find(r => !gated(r._1)).get
    assert(clean._2 == 0L && clean._3 == md5hex(docs(clean._1)))
    // true idempotence: running the extractor over its own output
    // (which re-contains '<info>' — a tag-SHAPED literal the entity
    // unescape produced) must be a fixpoint for the footer-free body,
    // and stripping '<info>' again is the documented lossy edge of
    // tag-shaped plain text, so the pin feeds the extractor the CLEAN
    // corpus and demands identity
    val cleanDocs = spark.createDataFrame(
      docs.toSeq.map { case (id, t) => (id, t) }).toDF("doc_id", "t2")
    val twice = TextAnalysis.extractHtml(
      TextAnalysis.extractHtml(cleanDocs)
        .select($"doc_id", $"ext".as("t2")))
      .select($"doc_id", $"t2", $"ext")
      .as[(Long, String, String)].collect()
    assert(twice.forall(r => r._2 == r._3),
      "extract(extract(clean)) must equal extract(clean)")
  }

  test("profileApprox: every column's HLL distinct estimate lands " +
    "within 5% of the exact profile, and the shared columns match it " +
    "exactly") {
    import graft.operators.Profiling
    val cols: Seq[(String, org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column)] = Seq(
      "o_orderkey" -> (c => c.cast("string")),
      "o_custkey" -> (c => c.cast("string")),
      "o_orderstatus" -> (c => c.cast("string")),
      "o_orderpriority" -> (c => c.cast("string")))
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val exact = Profiling.profile(orders, cols)
      .select($"col_name", $"n_rows", $"n_null", $"n_distinct",
        $"min_repr", $"max_repr")
      .as[(String, Long, Long, Long, String, String)]
      .collect().map(r => r._1 -> r).toMap
    val approx = Profiling.profileApprox(orders, cols)
      .select($"col_name", $"n_rows", $"n_null", $"nd_est",
        $"min_repr", $"max_repr")
      .as[(String, Long, Long, Double, String, String)].collect()
    assert(approx.length == cols.length)
    approx.foreach { case (name, nRows, nNull, ndEst, minR, maxR) =>
      val (_, eRows, eNull, eNd, eMin, eMax) = exact(name)
      assert(nRows == eRows && nNull == eNull &&
        minR == eMin && maxR == eMax,
        s"$name: the non-sketch columns must match the exact profile")
      assert(math.abs(ndEst - eNd) <= eNd * 0.05,
        s"$name: estimate $ndEst vs exact $eNd exceeds 5%")
    }
  }

  test("q_hll_distinct: registers are partitioning-independent and the " +
    "estimate lands within 5% of the exact distinct count") {
    import graft.functions.HllAgg
    val regs = SparkEntry.queries("q_hll_distinct")(spark, sf0001)
      .select($"register", $"max_rho").as[(Int, Int)].collect()
    assert(regs.forall { case (r, rho) =>
      r >= 0 && r < 1024 && rho >= 1 && rho <= 55 })
    val est = HllAgg.estimate(regs.toMap, 10)
    val exact = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select($"l_orderkey").distinct().count()
    assert(math.abs(est - exact) / exact < 0.05,
      s"estimate=$est exact=$exact")
    // bytewise-max merge is order-free: a different partitioning must
    // produce the identical register file
    val h = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(md5(($"l_orderkey").cast("string")).as("hex"))
      .select((0 until 8).map(i =>
        shiftleft(conv(substring($"hex", 2 * i + 1, 2), 16, 10)
          .cast("long"), 8 * i)).reduce(_ bitwiseOR _).as("h"))
    val again = h.repartition(17)
      .agg(HllAgg.hll_registers($"h", 10).as("rs"))
      .select(explode($"rs").as("r"))
      .select($"r.register", $"r.max_rho").as[(Int, Int)].collect()
    assert(again.sorted.toSeq == regs.sorted.toSeq)
    // rho == 55 - bitlen(m) == 55 - length(bin(m)), the oracle formula
    val buf = new graft.functions.HllBuffer(10)
    buf.offer(1L)                    // m = 1 → bin "1" → rho 54
    buf.offer(1L << 53 | (5L << 54)) // reg 5, m = 2^53 → rho 1
    buf.offer(0L)                    // m = 0 → rho 55 (all-zero tail)
    assert(buf.regs(0) == 55 && buf.regs(5) == 1)
  }

  test("sim_ivf_binary_recall: real signal through the persisted " +
    "serve; bwords read under a static cell prune; full precision " +
    "touched only as query-side or In-pushdown point scans") {
    val q = SparkEntry.queries("sim_ivf_binary_recall")(spark, sf0001)
    val gated = q.select($"query_id", $"n_common")
      .as[(Long, Long)].collect()
    assert(gated.length == 20)
    assert(gated.forall { case (_, n) => n >= 0 && n <= 5 })
    // measured 41/100 at sf0.001 (K=32, nprobe=4; the whole-corpus
    // Hamming rerank reads 45); pin a conservative floor
    assert(gated.map(_._2).sum >= 15, s"hits=${gated.map(_._2).sum}")
    // the rerank's sidecar read is In-pushdown point lookups, never a
    // corpus-wide float stream (the exact-BASELINE side of the overlap
    // join legitimately scans the corpus — exclude scans without
    // vec_id pushdowns only if they carry the In set)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.metadata("PushedFilters").contains("In(vec_id")),
      s"no In-pushdown sidecar scan in:\n$scans")
    // the SERVE's sign-word scan (pre-shortlist phase, materialized
    // eagerly inside ivfBinaryTopK) is cell-pruned: partition filters
    // present on the bwords read
    val idx = Similarity.ensureIvfBinaryIndex(spark, sf0001)
    val queries = Tables.embeddings(spark, sf0001)
      .filter($"vec_id" < 20).limit(20)
      .select($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("qv"))
    val served = Similarity.ivfBinaryScored(spark, idx, queries)
    val bw = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata("Location").contains("bwords") => f
    }
    assert(bw.nonEmpty, "no bwords scan in the serve plan")
    bw.foreach(f => assert(f.partitionFilters.nonEmpty,
      "bwords scan lost its cell prune"))
  }

  test("sim_ivf_binary_evolved: victims are unreachable through the " +
    "served ranking, and fold/delete replays are ledgered no-ops") {
    val served = SparkEntry.queries("sim_ivf_binary_evolved")(spark, sf0001)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect()
    assert(served.length == 100) // 20 queries x top-5
    assert(served.forall(_._2 % 9 != 0), "tombstoned victim served")
    // replaying the committed fold and delete ids must short-circuit
    // (exactly-once ledger) and leave the served ranking unchanged
    import graft.operators.Similarity
    val root = Similarity.ensureEvolvedIvfBinaryIndex(spark, sf0001)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    assert(!Similarity.appendToIvfBinaryIndex(
      e.filter($"vec_id" % 5 === 4), root, 0L), "fold replay re-ran")
    assert(!Similarity.deleteFromIvfBinaryIndex(
      e.filter($"vec_id" % 9 === 0).select($"vec_id"), root, 1L),
      "delete replay re-ran")
    val again = SparkEntry.queries("sim_ivf_binary_evolved")(spark, sf0001)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect()
    assert(again.sorted.toSeq == served.sorted.toSeq)
    // compaction folds seed + b0 minus tombstones into ONE c-dir and
    // serves byte-identically (and physically purges the victims)
    val work = tmpDir("binl-compact") + "/idx" // non-existent target:
    // FileUtil.copy nests the source INSIDE an existing directory
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(root), fs,
      new org.apache.hadoop.fs.Path(work), false, false,
      spark.sparkContext.hadoopConfiguration)
    Similarity.compactIvfBinaryIndex(spark, work)
    val dirs = Similarity.protocol(work).committedDirsOrEmpty("bwords")
    assert(dirs.length == 1 &&
      dirs.head.substring(dirs.head.lastIndexOf('/') + 1).matches("c\\d+"),
      dirs.toSeq)
    val compacted = Similarity.indexBWords(spark, work)
    assert(compacted.filter($"vec_id" % 9 === 0).isEmpty,
      "compaction kept a purged victim")
    val q = e.filter($"vec_id" < 20).limit(20)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val viaCompact = Similarity.ivfBinaryTopK(spark, work, q,
      e.select($"vec_id", $"v"))
      .as[(Long, Long, Int)].collect()
    assert(viaCompact.sorted.toSeq == served.sorted.toSeq,
      "compacted index served a different ranking")
  }

  test("sim_ivf_binary_filtered: every served neighbor is inside the " +
    "label slice, and the restriction genuinely changes the serve") {
    val got = SparkEntry.queries("sim_ivf_binary_filtered")(spark, sf0001)
      .select($"query_id", $"n_common").as[(Long, Long)].collect()
    assert(got.length == 20)
    assert(got.forall { case (_, n) => n >= 0 && n <= 5 })
    assert(got.map(_._2).sum >= 10, s"hits=${got.map(_._2).sum}")
    // restriction property on the serve itself
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val slice = e.filter($"label".isin(0, 2, 4, 6, 8)).select($"vec_id")
    val allowed = slice.as[Long].collect().toSet
    val q = e.filter($"vec_id" < 20).limit(20)
      .select($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("qv"))
    val full = e.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val served = Similarity.ivfBinaryTopK(spark,
      Similarity.ensureIvfBinaryIndex(spark, sf0001), q, full,
      allowed = Some(slice))
      .select($"neighbor_id").as[Long].collect()
    assert(served.forall(allowed.contains), "disallowed neighbor served")
    val unfiltered = Similarity.ivfBinaryTopK(spark,
      Similarity.ensureIvfBinaryIndex(spark, sf0001), q, full)
      .select($"neighbor_id").as[Long].collect()
    assert(!unfiltered.forall(allowed.contains),
      "the slice must actually exclude some unfiltered neighbors")
  }

  test("q_hll_grouped: one register file per event type, each group's " +
    "estimate within 15% of its exact distinct-user count") {
    import graft.functions.HllAgg
    val rows = SparkEntry.queries("q_hll_grouped")(spark, sf0001)
      .select($"event_type", $"register", $"max_rho")
      .as[(String, Int, Int)].collect()
    val types = rows.map(_._1).toSet
    val exact = Tables.events(spark, sf0001)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    assert(types == exact.keySet)
    types.foreach { t =>
      val occ = rows.filter(_._1 == t).map(r => r._2 -> r._3).toMap
      val est = HllAgg.estimate(occ, 10)
      assert(math.abs(est - exact(t)) / exact(t) < 0.15,
        s"$t: est=$est exact=${exact(t)}")
    }
  }

  test("vocab_coverage: ranks dense from 1, counts non-increasing, " +
    "cumulative share monotone to 1.0 over the full vocabulary") {
    val v = SparkEntry.queries("vocab_coverage")(spark, sf0001)
      .orderBy($"rank")
      .select($"n", $"rank", $"cum_frac").as[(Long, Int, Double)].collect()
    assert(v.nonEmpty && v.map(_._2).toSeq == (1 to v.length))
    assert(v.sliding(2).forall {
      case Array((n1, _, c1), (n2, _, c2)) => n1 >= n2 && c1 <= c2
      case _ => true
    })
    // the synthetic vocabulary fits inside the top-100 window → the
    // curve must end at exactly 1.0 (total coverage)
    assert(math.abs(v.last._3 - 1.0) < 1e-12)
  }

  test("kgrams: order kept, duplicates kept, short docs empty") {
    val df = docsDf(1L -> "a b c", 2L -> "x y x y", 3L -> "solo")
    val g = df.select($"doc_id", Dedup.kgrams($"text", 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(g(1L) == Seq("a b", "b c"))
    assert(g(2L) == Seq("x y", "y x", "x y")) // repeat preserved — the
    // repetition signals depend on it
    assert(g(3L).isEmpty)
  }

  test("decontaminate: flagged docs genuinely share a 4-gram with the " +
    "benchmark source, and benchmark docs never flag themselves") {
    val out = SparkEntry.queries("decontaminate")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, sf0001)
    val srcOf = docs.select($"doc_id", $"source")
      .as[(Long, String)].collect().toMap
    assert(out.keys.forall(srcOf(_) != "src0"))
    // independent recount for the worst offender: distinct 4-grams it
    // shares with the union of src0 text
    val (worstDoc, worstN) = out.maxBy(_._2)
    val grams = docs
      .select($"doc_id", $"source",
        explode(array_distinct(Dedup.kgrams($"text", 4))).as("g"))
    val benchSet = grams.filter($"source" === "src0")
      .select($"g").distinct().as[String].collect().toSet
    val docGrams = grams.filter($"doc_id" === worstDoc)
      .select($"g").as[String].collect().toSet
    assert((docGrams & benchSet).size == worstN)
  }

  test("decontaminate_score: every non-benchmark doc reports a " +
    "fraction in [0,1], counts reconcile with the hard drop-list, and " +
    "the 5% flag separates planted contamination from n-gram noise") {
    val rows = SparkEntry.queries("decontaminate_score")(spark, sf0001)
      .select($"doc_id", $"n_grams", $"n_contaminated", $"frac", $"flagged")
      .as[(Long, Long, Long, Double, Long)].collect()
    val docs = Tables.documents(spark, sf0001)
    val nonBench = docs.filter($"source" =!= "src0").count()
    assert(rows.length == nonBench,
      "one score row per NON-benchmark doc (zero-overlap docs included)")
    assert(rows.forall(r => r._4 >= 0.0 && r._4 <= 1.0 && r._3 <= r._2))
    assert(rows.forall(r => (r._5 == 1L) == (r._3.toDouble / r._2 > 0.05)),
      "flag must be exactly the 5% rule")
    // counts agree with the hard query on its flagged set
    val hard = SparkEntry.queries("decontaminate")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val soft = rows.map(r => r._1 -> r._3).toMap
    assert(hard.forall { case (id, n) => soft(id) == n },
      "soft counts must equal the hard drop-list counts")
    assert(rows.filter(_._5 == 1L).map(_._1).toSet.subsetOf(hard.keySet),
      "every flagged doc is on the hard list")
    assert(rows.exists(_._5 == 1L) && rows.exists(r =>
      r._3 > 0 && r._5 == 0L),
      "the corpus must exercise both flagged and sub-threshold overlap")
  }

  test("text_repetition: per-doc 2-gram count is tokens−1, fractions " +
    "bounded and exactly (n−d)/n") {
    val rep = SparkEntry.queries("text_repetition")(spark, sf0001)
    val tok = SparkEntry.queries("text_tokens")(spark, sf0001)
    val joined = rep.join(tok, "doc_id")
    assert(joined.count() == 500) // no doc lost (all docs have ≥ 2 words)
    assert(joined.filter($"n_2grams" =!= $"ws_tokens" - 1).count() == 0)
    assert(joined.filter(
      $"dup_2gram_frac" < 0 || $"dup_2gram_frac" > 1 ||
        $"top_2gram_frac" * $"n_2grams" < 1 - 1e-9 ||
        abs($"dup_2gram_frac" * $"n_2grams" -
          ($"n_2grams" - $"distinct_2grams")) > lit(1e-9)).count() == 0)
    // the corpus DOES contain repetition for the filter to act on
    assert(rep.filter($"dup_2gram_frac" > 0).count() > 0)
  }

  test("text_unigram_logprob: per-doc score recomputes from raw corpus " +
    "counts (independent Scala fold), scores are negative, token " +
    "counts match the tokenizer") {
    val out = SparkEntry.queries("text_unigram_logprob")(spark, sf0001)
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val freq = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, a) => w -> a.length.toLong }
    val tot = freq.values.sum.toDouble
    assert(out.size == docs.length)
    docs.take(50).foreach { case (id, text) =>
      val toks = text.split(" ")
      val expect = toks.map(w => math.log(freq(w) / tot)).sum / toks.length
      val (_, got, n) = out(id)
      assert(n == toks.length, s"doc $id token count")
      assert(math.abs(got - BigDecimal(expect)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-9 ||
        math.abs(got - expect) < 5e-5, s"doc $id: got $got expect $expect")
      assert(got < 0, s"doc $id: unigram log-prob must be negative")
    }
  }

  test("text_redact: hit counts recompute from the raw text, redacted " +
    "fingerprints change exactly when hits exist, and the corpus " +
    "exercises the scrub (non-vacuous gate)") {
    val red = SparkEntry.queries("text_redact")(spark, sf0001)
      .join(Tables.documents(spark, sf0001), "doc_id")
    assert(red.count() == 500)
    // independent recount via a different primitive (token equality,
    // not regex): every term-list hit is a whole whitespace token in
    // this corpus, so the per-doc counts must agree exactly
    val terms = Set("customer", "key", "value")
    val bad = red.select($"doc_id", $"n_redacted", $"text",
        md5($"text").as("raw_fp"), $"redacted_fp")
      .as[(Long, Long, String, String, String)].collect()
      .filter { case (_, n, text, rawFp, redFp) =>
        val expect = text.split(" ").count(terms)
        n != expect || (n > 0) != (rawFp != redFp)
      }
    assert(bad.isEmpty, s"first bad: ${bad.headOption}")
    val hits = red.filter($"n_redacted" > 0).count()
    assert(hits > 0, "term list never fires — the redaction gate is vacuous")
  }

  test("incrementalKeepNew: exact and near dups of history (and of " +
    "earlier incoming docs) drop; history is never dropped; fresh docs " +
    "pass") {
    val history = docsDf(1L -> base, 2L -> "tiny doc")
    val nearBase = base.split(" ").dropRight(1).mkString(" ") // ~near-dup
    val incoming = docsDf(
      10L -> "tiny doc",          // exact dup of history doc 2 (too short
                                  // for shingles — only (a) catches it)
      11L -> nearBase,            // near-dup of history doc 1
      12L -> ("a wholly different discussion of completely unrelated " +
        "matters that overlaps nothing in the existing corpus at all"),
      13L -> nearBase)            // near-dup of INCOMING doc 11 → drops
    val out = Dedup.incrementalKeepNew(history, incoming)
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(12L))
  }

  test("incrementalKeepNew == batch keep-list over the union, restricted " +
    "to the increment (the convergence contract), on the documents table") {
    val docs = Tables.documents(spark, sf0001)
    val history = docs.filter($"doc_id" < 250)
    val incoming = docs.filter($"doc_id" >= 250)
    val inc = Dedup.incrementalKeepNew(history, incoming)
      .select($"doc_id").as[Long].collect().toSet
    // batch reference: near-dup pair drops (greater id) + exact-dup drops
    val nearDropped = Dedup.ngramPairs(docs)
      .select($"doc_b").as[Long].collect().toSet
    val hashes = docs.select($"doc_id", md5($"text").as("h"))
      .as[(Long, String)].collect()
    val minIdByHash = hashes.groupBy(_._2).map { case (h, xs) =>
      h -> xs.map(_._1).min }
    val exactDropped = hashes.collect {
      case (id, h) if minIdByHash(h) < id => id }.toSet
    val expected = incoming.select($"doc_id").as[Long].collect().toSet --
      nearDropped -- exactDropped
    assert(inc == expected)
    assert(inc.nonEmpty)
  }

  test("resizeBatch: zero-byte payload yields a zero-filled thumb " +
    "(regression: indexed into the empty array)") {
    val out = Multimodal.resizeBatch(
      Seq(graft.media.Asset(7L, "image/png", 0L, Array.emptyByteArray)), 4, 4)
    assert(out.head.thumb.length == 16 && out.head.thumb.forall(_ == 0))
    // and the oracle's inlined digest matches md5 of that zero thumb
    val full = Multimodal.resizeBatch(
      Seq(graft.media.Asset(8L, "image/png", 0L, Array.emptyByteArray)), 16, 16)
    val sparkMd5 = Seq(full.head.thumb).toDF("t")
      .select(md5($"t")).collect().head.getString(0)
    val inlined = java.security.MessageDigest.getInstance("MD5")
      .digest(new Array[Byte](256)).map("%02x".format(_)).mkString
    assert(sparkMd5 == inlined)
  }

  test("sim_cell_drift: one row per history-trained cell, waves " +
    "account exactly, PSI terms non-negative, plan window-free") {
    val res = SparkEntry.queries("sim_cell_drift")(spark, sf0001)
    val rows = res.select($"cent_id", $"hist_n", $"inc_n", $"psi")
      .as[(Long, Long, Long, Double)].collect()
    val e = Tables.embeddings(spark, sf0001)
    val histSeeds = e.filter($"vec_id" % 5 =!= 4 && $"vec_id" % 25 === 0)
      .count()
    assert(rows.length == histSeeds, "K bins = the history seed count")
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.map(_._2).sum == e.filter($"vec_id" % 5 =!= 4).count())
    assert(rows.map(_._3).sum == e.filter($"vec_id" % 5 === 4).count())
    // (ph − pi) and ln(ph/pi) always share a sign
    assert(rows.forall(_._4 >= 0.0), "per-cell PSI terms are >= 0")
    val windows = res.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "assignment must stay in-row, never a window")
  }

  test("sim_index_stats: totals account for every indexed vector and " +
    "every cell, moments are internally consistent, and the scan " +
    "prunes the vector payload column") {
    val q = SparkEntry.queries("sim_index_stats")(spark, sf0001)
    val r = q.select($"n_cells", $"n_vectors", $"min_cell", $"max_cell",
        $"mean_cell", $"var_cell", $"imbalance")
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    val e = Tables.embeddings(spark, sf0001)
    assert(r._2 == e.count(), "every corpus vector is in exactly one cell")
    assert(r._1 == e.filter($"vec_id" % 25 === 0).count())
    assert(r._3 <= r._5 && r._5 <= r._4, "min <= mean <= max")
    assert(r._6 >= 0.0 && r._7 >= 1.0)
    // the health readout must not read the 64-float payloads: every
    // parquet scan in the plan prunes down to ids/partition keys
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.requiredSchema.fieldNames.toSeq
    }
    assert(scans.nonEmpty)
    assert(scans.forall(cols => !cols.contains("v") && !cols.contains("cv")),
      s"payload column read by a stats scan: $scans")
  }

  test("sim_bitext_mine: pairs are cross-slice mutual nearest " +
    "neighbors within their cell, margins clear the bar, and no " +
    "endpoint publishes twice") {
    val rows = SparkEntry.queries("sim_bitext_mine")(spark, sf0001)
      .select($"a_id", $"b_id", $"margin")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty, "the gate corpus must yield mined pairs")
    val labels = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label").as[(Long, Long)].collect().toMap
    assert(rows.forall(r =>
        labels(r._1) % 2 == 0 && labels(r._2) % 2 == 1),
      "every pair must cross the two slices in (A, B) order")
    assert(rows.forall(_._3 >= 1.0), "margins must clear the bar")
    // mutual-NN makes each endpoint appear in at most one pair
    assert(rows.map(_._1).distinct.length == rows.length, "a_id unique")
    assert(rows.map(_._2).distinct.length == rows.length, "b_id unique")
  }

  test("text_pii: the planted corpus is non-vacuous in EVERY category " +
    "and masking is complete — re-scanning the masked body finds zero " +
    "spans of any pattern") {
    import graft.operators.TextAnalysis
    val frame = Tables.documents(spark, sf0001)
      .select($"doc_id", TextAnalysis.piiAugmented.as("t2"))
      .select(Seq(TextAnalysis.piiMasked($"t2").as("m")) ++
        TextAnalysis.PiiPatterns.map { case (name, pat, _) =>
          size(regexp_extract_all($"t2", lit(pat), lit(0)))
            .as(s"pre_$name")
        }: _*)
    val aggs =
      TextAnalysis.PiiPatterns.map { case (name, pat, _) =>
        sum(size(regexp_extract_all($"m", lit(pat), lit(0))))
          .as(s"post_$name")
      } ++ TextAnalysis.PiiPatterns.map { case (name, _, _) =>
        sum(col(s"pre_$name")).as(s"sum_$name")
      }
    val row = frame.agg(aggs.head, aggs.tail: _*).collect().head
    val n = TextAnalysis.PiiPatterns.length
    TextAnalysis.PiiPatterns.zipWithIndex.foreach { case ((name, _, _), i) =>
      assert(row.getLong(i) == 0L,
        s"masked text still matches the $name pattern")
      assert(row.getLong(n + i) > 0L,
        s"the plant must make the $name category non-vacuous")
    }
  }
}

/** File-scope fake kernel for the SPI test (top-level so the task
  * closure serializes it without dragging the suite along).
  */
private object FakeMediaKernel extends graft.media.MediaKernel {
  def decodeBatch(batch: Seq[graft.media.Asset]): Seq[graft.media.AssetFeatures] =
    batch.map(a => graft.media.AssetFeatures(a.asset_id, 42, 7,
      Array.fill(graft.media.Media.FeatureDim)(0.5f)))
  def resizeBatch(batch: Seq[graft.media.Asset], w: Int,
      h: Int): Seq[graft.media.ResizedAsset] =
    batch.map(a => graft.media.ResizedAsset(a.asset_id, w, h,
      Array.fill(w * h)(1.toByte)))
  def frames(a: graft.media.Asset,
      every: Int): Iterator[graft.media.FrameSample] =
    Iterator.single(graft.media.FrameSample(a.asset_id, 0, a.n_bytes, -1L))
}
