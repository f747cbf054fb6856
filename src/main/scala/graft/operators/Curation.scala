package graft.operators

import graft.{QuerySpec, Tables}
import graft.index.Fixture
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third ring: temporal/relational operators (sessionization, bounded
  * interval join, exact percentiles) plus the corpus-curation operators a
  * training-data pipeline runs after dedup — deterministic stratified
  * sampling, fixed-budget sequence packing, class-balance weighting.
  *
  * Scale notes: every operator here is one shuffle on its natural key
  * (user_id for the temporal ops, lang for the curation ops) followed by
  * window/aggregate work that stays partition-local. Determinism comes
  * from content (md5) or explicit keys, never from partition order, so
  * results are stable under any degree of parallelism — the property
  * that lets the DuckDB oracle hash-match a 32-way parallel run.
  */
object Curation {

  private val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Distributed exclusive prefix sum of `valueCol` over the global
    * (groupCols, orderCols) order, WITHOUT a hot-key window: a flat
    * `sum over (partition by group order by ...)` puts every row of a
    * group on one task — the skew hazard this repo bans. The
    * decomposition is QUANTILE-based: `repartitionByRange` on
    * (groupCols ++ orderCols) assigns contiguous slices of the global
    * order to partitions sized by DATA quantiles (skew-proof by
    * construction), in-partition windows accumulate within
    * (pid, group) cells, and a pid-keyed offset frame
    * (≤ partitions × |groups| rows — structurally bounded) carries the
    * preceding slices' totals. The staged warehouse write pins ONE
    * range assignment: RangePartitioner samples its bounds per
    * execution, so without it the in-partition branch and the offset
    * branch could see DIFFERENT pid mappings — and because the pid
    * column is nondeterministic under recompute, the pin must be
    * DURABLE (a parquet roundtrip on reliable storage), not executor
    * block storage: a `localCheckpoint` here would hold a corpus-scale
    * lineage-free frame on executors, where one lost executor fails
    * the whole job. `orderCols` must be ascending — the
    * caller negates descending keys. Adds `priorCol` (exclusive: the
    * row itself is not counted); with `valueCol` = a literal-1 column
    * the prior is the 0-based global rank within the group. Shared by
    * `doc_token_budget`, `text_perplexity_bucket` and `doc_order`.
    *
    * `numPartitions` ≤ 0 (the default) sizes the range partitioning to
    * the session's shuffle parallelism — a fixed constant here would
    * cap slice parallelism at 100 TB and turn each in-partition window
    * into a corpus/K-row sort on one task.
    */
  private[graft] def rangedPrefixSum(
      df: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], orderCols: Seq[String],
      valueCol: String, priorCol: String,
      numPartitions: Int = 0): org.apache.spark.sql.DataFrame = {
    val slices =
      if (numPartitions > 0) numPartitions
      else math.max(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt,
        df.sparkSession.sparkContext.defaultParallelism)
    val rangeCols = (groupCols ++ orderCols).map(col)
    val parts = Layout.stagePin(
      df.repartitionByRange(slices, rangeCols: _*)
        .withColumn("__pid", spark_partition_id()),
      "rps_" + java.lang.Integer.toHexString(
        (groupCols ++ orderCols ++ Seq(valueCol, priorCol)).hashCode))
    val wIn = Window
      .partitionBy((col("__pid") +: groupCols.map(col)): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val inPart = parts.withColumn("__in_prior",
      coalesce(sum(col(valueCol)).over(wIn), lit(0L)))
    val wOff = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = parts
      .groupBy((col("__pid") +: groupCols.map(col)): _*)
      .agg(sum(col(valueCol)).as("__ptot"))
      .withColumn("__off", coalesce(sum(col("__ptot")).over(wOff), lit(0L)))
      .select((col("__pid") +: groupCols.map(col)) :+ col("__off"): _*)
    inPart.join(offs, "__pid" +: groupCols)
      .withColumn(priorCol, col("__in_prior") + col("__off"))
      .drop("__pid", "__in_prior", "__off")
  }

  /** The doc_curate oracle's staged CTE chain (f → k1 quality → bg/cg
    * gram tables → k2 decontaminated → k3 deduped), shared verbatim by
    * the composition gate and the survivor-accounting report so the
    * two can never drift apart.
    */
  private val curateCtes: String =
    """WITH f AS (SELECT doc_id, lang, source, text, length(text) AS n_chars,
      |    len(string_split(text, ' ')) AS n_words,
      |    len(list_filter(string_split(text, ' '),
      |        w -> w IN ('the','a','of','and','in','to','is','it','on','for'))) AS n_stop,
      |    length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct
      |  FROM documents),
      |k1 AS (SELECT doc_id, lang, source, text FROM f
      |  WHERE (CASE WHEN n_words >= 20 THEN 1.0 ELSE CAST(n_words AS DOUBLE)/20 END)
      |      * (1.0 - CAST(n_punct AS DOUBLE)/n_chars)
      |      * (CASE WHEN CAST(n_stop AS DOUBLE)/n_words > 0.05 THEN 1.0 ELSE 0.5 END) >= 0.75),
      |bw AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE source = 'src0'),
      |bg AS (SELECT DISTINCT list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gk
      |       FROM bw, unnest(range(1, len(ws) - 2)) t(i)),
      |cw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM k1 WHERE source <> 'src0'),
      |cg AS (SELECT DISTINCT doc_id, list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gk
      |       FROM cw, unnest(range(1, len(ws) - 2)) t(i)),
      |cont AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gk)),
      |k2 AS (SELECT * FROM k1 WHERE source <> 'src0'
      |       AND doc_id NOT IN (SELECT doc_id FROM cont)),
      |k3 AS (SELECT * FROM k2 WHERE doc_id IN
      |       (SELECT min(doc_id) FROM k2 GROUP BY md5(text)))""".stripMargin

  private val mixtureWhereSql: String =
    """substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) <
      |      CASE WHEN source IN ('src0','src1','src2')
      |           THEN 'cccccccc' ELSE '40000000' END""".stripMargin

  /** The curation pipeline's stage frames in order, each the survivor
    * set entering the next stage: input → quality floor → benchmark
    * holdout excluded → decontaminated → exact-deduped → mixture
    * sampled. `doc_curate` serves the last; `doc_curate_report` counts
    * them all. Stage shapes at scale: per-row predicate (no shuffle) →
    * broadcast-filtered gram stream → hash-groupBy keep-list → per-row
    * hash threshold (no shuffle).
    */
  private def curateStages(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val docs = Tables.documents(s, d)
    // stage 1: quality floor (the shared text_quality kernel)
    val k1 = docs.filter(curateQualityCond)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // stage 2: decontaminate — contaminated ids anti-joined away
    val bench = docs.filter(col("source") === "src0")
      .select(explode(array_distinct(Dedup.kgrams(col("text"), 4))).as("g"))
      .select(xxhash64(col("g")).as("gh")).distinct()
    val corpus = k1.filter(col("source") =!= "src0")
    val cont = corpus
      .select(col("doc_id"), explode(Dedup.kgrams(col("text"), 4)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      // unhinted: the gated bench side derives from the corpus (see
      // Dedup `decontaminate`) — AQE broadcasts it at bench scale
      .join(bench, Seq("gh"))
      .select(col("doc_id")).distinct()
    // The decontaminated corpus is pinned: every consumer below (k3's
    // keep-list derives from k2 AND semi-joins back to it; the report
    // and rejects gates count/flag several stages) would otherwise
    // re-run the gram explode+join chain per branch — the most
    // expensive stage of the pipeline, measured 2-3× recomputed. At
    // scale this materialization is not overhead: a production run
    // lands its curated intermediate anyway (it IS the corpus the
    // later stages and audits read), and the pin is that landing.
    val k2 = Layout.stagePin(
      corpus.join(cont, Seq("doc_id"), "left_anti"), "curate_k2")
    // stage 3: exact-dedup keep-list (min doc_id per content hash)
    val keep = k2.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val k3 = k2.join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
    // stage 4: mixture sampling (same thresholds as doc_mixture)
    val m = k3.filter(curateMixCond)
    Seq("input" -> docs, "quality" -> k1, "holdout" -> corpus,
      "decontaminate" -> k2, "dedup" -> k3, "mixture" -> m)
  }

  /** The curate pipeline's mixture-sampling predicate — per-row on
    * (doc_id, source), shared by the stage filter and the audit gates
    * (doc_curate_rejects/report evaluate it as a flag column instead of
    * re-deriving the mixture frame).
    */
  private def curateMixCond: org.apache.spark.sql.Column =
    substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))),
      1, 8) <
      when(col("source").isInCollection(Seq("src0", "src1", "src2")),
        "cccccccc").otherwise("40000000")

  /** The curate pipeline's quality predicate (stage 1), exposed for the
    * same single-evaluation audit reason.
    */
  private def curateQualityCond: org.apache.spark.sql.Column =
    TextAnalysis.qualityScore(col("text")) >= 0.75

  // ---- DSIR kernels (shared by doc_dsir, the persisted serve and the
  //      streaming scorer — one arithmetic, three entry points) ----

  /** Hashed-bigram bucket stream of a (doc_id, source, text) frame:
    * md5-15-hex integer (the cross-engine convention) mod 1024.
    */
  private def dsirBuckets(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Par.fanOut(docs)
      .select(col("doc_id"), col("source"),
        explode(Dedup.kgrams(col("text"), 2)).as("gm"))
      .select(col("doc_id"), col("source"),
        (graft.functions.Md5Long.md5_prefix(col("gm"), 15)
          % 1024).as("bkt"))

  /** Fit the DSIR model: per-bucket 1e-6-scaled integer log-likelihood
    * delta between the target-domain and whole-corpus add-1-smoothed
    * hashed-bigram distributions — ≤ 1024 rows by construction.
    */
  def dsirModel(docs: org.apache.spark.sql.DataFrame,
      target: String = "src0"): org.apache.spark.sql.DataFrame = {
    val buckets = dsirBuckets(docs)
    val braw = buckets.groupBy(col("bkt")).agg(count(lit(1)).as("cr"))
    val btgt = buckets.filter(col("source") === target)
      .groupBy(col("bkt")).agg(count(lit(1)).as("ct"))
    val tr = buckets.agg(count(lit(1)).as("tot_r"))
    val tt = buckets.filter(col("source") === target)
      .agg(count(lit(1)).as("tot_t"))
    braw.join(btgt, Seq("bkt"), "left")
      .crossJoin(tr).crossJoin(tt)
      .select(col("bkt"),
        round((log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("tot_t") + 1024).cast("double"))
          - log((col("cr") + 1).cast("double") /
            (col("tot_r") + 1024).cast("double"))) * 1e6)
          .cast("long").as("dlt"))
  }

  /** Score a (doc_id, source, text) frame against a FROZEN model:
    * (doc_id, source, logw_i, dsir_key) — integer log-weight sum plus
    * the md5-derived Gumbel key (u strictly inside (0, 1) via 44 md5
    * bits / (2^44+1)). The ≤ 1024-row model broadcast is PRINCIPLED
    * (hash-mod feature space); scoring is pure map work.
    */
  def dsirScore(docs: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dcnt = dsirBuckets(docs).groupBy(col("doc_id"), col("bkt"))
      .agg(count(lit(1)).as("k"))
    val lw = dcnt.join(broadcast(model), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("dlt")).as("logw_i"))
    val u = (graft.functions.Md5Long.md5_prefix(
      col("doc_id").cast("string"), 11) + 1)
      .cast("double") / lit(17592186044417.0)
    docs.select(col("doc_id"), col("source"))
      .join(lw, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("logw_i"), lit(0L)).as("logw_i"),
        (coalesce(col("logw_i"), lit(0L)) +
          round(-log(-log(u)) * 1e6).cast("long")).as("dsir_key"))
  }

  /** Build-if-absent the PERSISTED DSIR model for `d` (one model/ side,
    * schema-gated like the NB root so a format change rebuilds).
    */
  def ensureDsirModel(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val root = new org.apache.hadoop.fs.Path(Fixture.root(s, d, "graft_dsir_model"))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.ensurePublishedDir(s, root.toString)(r =>
      fs.exists(new org.apache.hadoop.fs.Path(r, "model/_SUCCESS")) &&
        scala.util.Try(
          s.read.parquet(s"$r/model").columns.toSet == Set("bkt", "dlt"))
          .getOrElse(false)
    ) { staging =>
      dsirModel(Tables.documents(s, d))
        .coalesce(1).write.parquet(s"$staging/model")
    }
    root.toString
  }

  // ---- link-graph score propagation (PageRank shape) ----
  // Quality propagation over a doc-link graph is a standard
  // crawl-curation stage (a page linked from many high-scoring pages
  // inherits score). The corpus carries no hyperlinks, so the gate
  // PLANTS a deterministic link graph (the construct-the-signal
  // pattern q_record_linkage uses): every doc links to its three
  // modular images (id·31+7, id·17+3, id·13+11 mod N), self-loops
  // dropped, duplicate targets collapsed — a fixed expander-ish graph
  // both engines derive identically from the id column alone.
  //
  // Arithmetic is INTEGER-EXACT end to end (the cross-engine parity
  // convention): scores live in 1e9-scaled units, every division is
  // floor division of non-negatives (Spark DIV ≡ DuckDB // there), so
  // ten iterations cannot drift an ulp between engines. Production
  // would run float PageRank to a convergence tolerance; the gate runs
  // a FIXED 10 iterations so the oracle is closed-form (DuckDB has no
  // aggregation in recursive CTEs — the oracle unrolls instead).
  private val PrScale = 1000000000L
  private val PrIters = 10
  private val PrTopK = 20

  /** Fixed-iteration integer PageRank over the planted doc-link graph:
    * top-`PrTopK` docs by propagated score (desc, id tiebreak).
    *
    * `teleport`: None = uniform (classic PageRank — every node gets
    * the same (1−d) base mass); Some(seeds) = PERSONALIZED PageRank
    * (Page et al. 1999 §6; the topic-sensitive variant of Haveliwala
    * 2002) — the teleport mass concentrates on the seed set, so
    * scores measure proximity-to-seeds through the link structure:
    * the curation stage that propagates trust from a vetted source
    * outward. Integer form: seeds get (S·15 DIV 100) DIV |seeds|
    * base mass, everyone else 0; same floor-division recurrence, so
    * the oracle stays a closed-form unroll.
    *
    * Scale: per iteration ONE shuffle join (edges ⋈ ranks on src) +
    * one map-side-combining groupBy(dst) + a left join back onto the
    * node frame — the `Dedup.connectedComponents` skeleton, with
    * `localCheckpoint` truncating lineage each round so iteration r
    * never replays 1..r−1. The edge frame (built once, 3·N rows) is
    * cached; nothing collects to the driver but the node COUNT (and
    * for the personalized form the seed count — both scalars). The
    * seed frame joins unhinted (it is corpus-derived).
    */
  def pagerank(docs: org.apache.spark.sql.DataFrame,
      teleport: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val nodes = docs.select(col("doc_id").as("id"))
    val n = nodes.count()
    val r0 = PrScale / n
    // per-node base teleport mass (and the round-0 state): uniform, or
    // concentrated on the seed set
    // cached like the edge frame: the base column re-enters every
    // iteration's left join, and the personalized form derives it
    // through a seed join that must not replay ten times
    val based = (teleport match {
      case None =>
        nodes.select(col("id"), lit((r0 * 15) / 100).as("b"),
          lit(r0).as("r0"))
      case Some(seeds) =>
        val k = seeds.count()
        nodes
          .join(seeds.select(col("doc_id").as("id"), lit(1).as("s")),
            Seq("id"), "left")
          .select(col("id"),
            when(col("s").isNotNull,
              lit(((PrScale * 15) / 100) / k)).otherwise(lit(0L)).as("b"),
            when(col("s").isNotNull, lit(PrScale / k)).otherwise(lit(0L))
              .as("r0"))
    }).cache()
    val edges = plantedEdges(nodes, n, PrFormulas)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // (src, dst, d) built once and cached — reused by all iterations.
    // NOT pre-partitioned by the join key: caching the frames behind a
    // repartition(src)/repartition(id) (the §2.4 pay-the-shuffle-once
    // idiom) was A/B-measured ~1.7× SLOWER here — the pinned
    // shuffle-partition-count cache defeats AQE's runtime coalescing
    // for every downstream round, and the ten coalesced per-round
    // exchanges of this tiny frame cost less than ten rounds of
    // un-coalesced 32-task stages. On a real cluster where the rounds'
    // exchanges dominate, the pre-partitioned cache is the right call;
    // at bench scale AQE's coalescing is the bigger lever.
    val ed = edges.join(deg, Seq("src")).cache()
    val r = pagerankRounds(based,
      based.select(col("id"), col("r0").as("r")), ed, PrIters)
    ed.unpersist()
    based.unpersist()
    prTopScores(r)
  }

  /** The three modular edge formulas of the planted link graph. */
  private val PrFormulas = Seq((31L, 7L), (17L, 3L), (13L, 11L))

  /** The planted edge frame for a formula subset: each doc links to
    * its modular images, self-loops dropped, duplicates collapsed.
    */
  private def plantedEdges(nodes: org.apache.spark.sql.DataFrame, n: Long,
      formulas: Seq[(Long, Long)]): org.apache.spark.sql.DataFrame =
    formulas
      .map { case (a, b) =>
        nodes.select(col("id").as("src"),
          ((col("id") * a + b) % n).as("dst"))
      }
      .reduce(_.union(_))
      .filter(col("dst") =!= col("src"))
      .distinct()

  /** The iteration core: `iters` rounds of the integer recurrence from
    * an ARBITRARY starting state — the seam warm-start re-iteration
    * ([[pagerankIncremental]]) shares with the from-scratch builds.
    */
  private def pagerankRounds(based: org.apache.spark.sql.DataFrame,
      init: org.apache.spark.sql.DataFrame,
      ed: org.apache.spark.sql.DataFrame,
      iters: Int): org.apache.spark.sql.DataFrame = {
    var r = init
    for (i <- 1 to iters) {
      val contrib = ed.join(r, ed("src") === r("id"))
        .select(col("dst").as("id"), expr("r DIV d").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("c"))
      // LAZY checkpoints for the inner rounds: each round's frame has
      // exactly one consumer (the next round), so eager's one blocking
      // driver job PER ROUND bought nothing — a fixed-iteration
      // recurrence has no convergence probe to feed. Only the FINAL
      // round checkpoints eagerly: that one job pulls the whole chain
      // (every lazy intermediate persists its blocks as it streams
      // through), and callers can then safely unpersist the ed/based
      // caches the rounds consumed. 10 serialized jobs → 1.
      r = based.select(col("id"), col("b"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (col("b") + expr("(85 * coalesce(c, 0L)) DIV 100")).as("r"))
        .localCheckpoint(eager = i == iters)
    }
    r
  }

  // top-k via TakeOrderedAndProject (orderBy+limit) — no rank column:
  // a global row_number would be an unpartitioned window, the hazard
  // class the repo-wide PlanSpec sweep bans.
  private def prTopScores(r: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    r.select(col("id").as("doc_id"), col("r").as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(PrTopK)

  /** The uniform-teleport base frame (id, b, r0) — shared by the
    * classic gate path above and the incremental one.
    */
  private def prUniformBase(nodes: org.apache.spark.sql.DataFrame,
      n: Long): org.apache.spark.sql.DataFrame = {
    val r0 = PrScale / n
    nodes.select(col("id"), lit((r0 * 15) / 100).as("b"), lit(r0).as("r0"))
  }

  private[graft] def graphProtocol(path: String) =
    new graft.index.FoldProtocol(path, "_graph_ledger")

  /** Build-if-absent the INCREMENTAL-pagerank fixture: a ledgered
    * link-graph root whose `edges/seed` holds the first two formulas'
    * edges, `scores/seed` the converged-state checkpoint (PrIters
    * rounds over that partial graph), and ledgered fold b1 the third
    * formula's edges — the graph GROWTH event. Keyed on the fold's
    * ledger entry (it commits last).
    */
  /** Initialize a ledgered link-graph root from a docs frame: the
    * first two planted formulas' edges land as `edges/seed` and the
    * PrIters-round score checkpoint over that partial graph as
    * `scores/seed` — the warm-start state every later re-score
    * resumes from. Public so a streaming edge ingest
    * (`StreamingCuration.startEdgeIngest`) can seed its own roots.
    */
  def initGraphLedger(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame, root: String,
      seedFormulas: Int = 2): Unit = {
    val p = graphProtocol(root)
    val nodes = docs.select(col("doc_id").as("id"))
    val n = nodes.count()
    val e0 = plantedEdges(nodes, n, PrFormulas.take(seedFormulas))
    e0.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${p.dir("edges")}/seed")
    val based = prUniformBase(nodes, n).cache()
    val deg0 = e0.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val ed0 = e0.join(deg0, Seq("src")).cache()
    pagerankRounds(based,
      based.select(col("id"), col("r0").as("r")), ed0, PrIters)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${p.dir("scores")}/seed")
    ed0.unpersist(); based.unpersist()
  }

  /** Fold one batch of NEW edges into the graph root, EXACTLY ONCE
    * under replay — the link-graph growth event warm-start re-scoring
    * resumes over.
    */
  def appendEdgesCommit(edges: org.apache.spark.sql.DataFrame,
      root: String, commitId: Long): Boolean = {
    val p = graphProtocol(root)
    p.fold(commitId, Seq("edges")) {
      edges.select(col("src"), col("dst"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"${p.dir("edges")}/b$commitId")
    }
  }

  def ensurePagerankLedger(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val root = Fixture.root(s, d, "graft_pr_ledger")
    Layout.ensurePublishedDir(s, root)(
      r => graphProtocol(r).foldedBatches().contains(1L)
    ) { staging =>
      initGraphLedger(s, Tables.documents(s, d), staging)
      val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
      val n = nodes.count()
      appendEdgesCommit(plantedEdges(nodes, n, PrFormulas.drop(2)),
        staging, 1L)
    }
    root
  }

  /** Build-if-absent the CHECKPOINTED-pagerank fixture: TWO growth
    * events, the first one's re-score published as a ledgered
    * checkpoint —
    *   edges/seed: formula 1 only; scores/seed: PrIters rounds over it
    *   edges/b1:   formula 2 (growth 1)
    *   scores/b1:  [[checkpointRescore]] — PrIters rounds from
    *               scores/seed over formulas 1–2, keyed to edge hw 1
    *   edges/b2:   formula 3 (growth 2; deliberately NOT yet
    *               checkpointed — the gate's own re-score is phase 3)
    * A gate resuming from the ORIGINAL seed instead of the newest
    * checkpoint would compute 2·PrIters total rounds and diverge from
    * the 3-phase oracle — the fixture makes stale-resume detectable.
    */
  def ensureCheckpointedPagerank(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val root = Fixture.root(s, d, "graft_pr_ckpt")
    Layout.ensurePublishedDir(s, root)(r =>
      graphProtocol(r).foldedBatches().contains(2L) &&
        scoresProtocol(r).foldedBatches().contains(1L)
    ) { staging =>
      val docs = Tables.documents(s, d)
      initGraphLedger(s, docs, staging, seedFormulas = 1)
      val nodes = docs.select(col("doc_id").as("id"))
      val n = nodes.count()
      appendEdgesCommit(plantedEdges(nodes, n, PrFormulas.slice(1, 2)),
        staging, 1L)
      checkpointRescore(s, staging, docs)
      appendEdgesCommit(plantedEdges(nodes, n, PrFormulas.drop(2)),
        staging, 2L)
    }
    root
  }

  /** Build-if-absent the VACUUMED-checkpoint gate fixture: the
    * checkpointed lifecycle with [[vacuumScoreCheckpoints]] at floor 1
    * — the seed score state reclaimed, the b1 checkpoint resolved into
    * c1, and the gate's re-score must resume from it unchanged.
    */
  def ensureVacuumedCheckpointPagerank(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    val root = Fixture.root(s, d, "graft_pr_ckpt_vac")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.ensurePublishedDir(s, root)(r =>
      graphProtocol(r).foldedBatches().contains(2L) &&
        scoresProtocol(r).foldedBatches().contains(1L) &&
        fs.exists(new org.apache.hadoop.fs.Path(
          s"${scoresProtocol(r).dir("scores")}/c1", "_SUCCESS")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(
          s"${scoresProtocol(r).dir("scores")}/seed"))
    ) { staging =>
      val docs = Tables.documents(s, d)
      initGraphLedger(s, docs, staging, seedFormulas = 1)
      val nodes = docs.select(col("doc_id").as("id"))
      val n = nodes.count()
      appendEdgesCommit(plantedEdges(nodes, n, PrFormulas.slice(1, 2)),
        staging, 1L)
      checkpointRescore(s, staging, docs)
      appendEdgesCommit(plantedEdges(nodes, n, PrFormulas.drop(2)),
        staging, 2L)
      vacuumScoreCheckpoints(s, staging, 1L)
    }
    root
  }

  /** Incremental PageRank — iterative graph state joins the engine's
    * incremental theme (NB grow/forget, `dedup_incremental`,
    * `q_incr_join`): new edges land as ledgered commits on the graph
    * root, and re-scoring WARM-STARTS from the persisted score
    * checkpoint instead of re-propagating from uniform — the converged
    * history is paid for once. The committed edge read is
    * re-ingest-idempotent (a re-emitted edge collapses in the distinct,
    * mirroring the planted graph's own duplicate collapse), and the
    * degree frame is recomputed over the GROWN edge set, so new
    * out-links correctly dilute their source's contributions. The gate
    * pins EXACT equality against the from-scratch recurrence on the
    * grown graph (the oracle unrolls both phases), so warm-start is a
    * cost optimization with a value-level contract, not an
    * approximation.
    */
  def pagerankIncremental(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    pagerankWarmStart(s, ensurePagerankLedger(s, d), Tables.documents(s, d))

  /** The warm-start re-score over ANY ledgered graph root (batch- or
    * stream-folded edges alike) — [[pagerankIncremental]]'s engine.
    * Resumes from the NEWEST committed score checkpoint (see
    * [[checkpointRescore]]): on a root with only `scores/seed` that is
    * the seed itself (the round-17 behavior, unchanged); on a root
    * whose re-scores have been ledgered it is the latest checkpoint,
    * so the converged history is paid for ONCE per growth event, not
    * re-paid from the original seed on every read.
    */
  def pagerankWarmStart(s: org.apache.spark.sql.SparkSession,
      root: String, docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    prTopScores(rescoreFull(s, root, docs))

  /** [[pagerankWarmStart]]'s engine returning the FULL node-score
    * frame — what a checkpoint publish persists (top-k would lose the
    * warm-start state).
    */
  private def rescoreFull(s: org.apache.spark.sql.SparkSession,
      root: String, docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = graphProtocol(root)
    val nodes = docs.select(col("doc_id").as("id"))
    val n = nodes.count()
    val based = prUniformBase(nodes, n).cache()
    val edges = s.read.parquet(p.committedDirs("edges"): _*)
      .select(col("src"), col("dst")).distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val ed = edges.join(deg, Seq("src")).cache()
    val r = pagerankRounds(based, newestScores(s, root), ed, PrIters)
    ed.unpersist(); based.unpersist()
    r
  }

  /** Score checkpoints get their OWN ledger file (same root, same
    * writer lease): fold ids here are keyed to the EDGE ledger's
    * high-water mark, which interleaves with the edge ids — sharing
    * one ledger would make `fsck`'s per-kind missing-fold-dir check
    * read every score commit as a missing edge dir and vice versa.
    * The graph root speaks no deletes, so the shared `tombstones/`
    * namespace stays empty for both ledgers.
    */
  private[graft] def scoresProtocol(path: String) =
    new graft.index.FoldProtocol(path, "_scores_ledger")

  /** The newest committed score checkpoint: `scores/seed` until the
    * first [[checkpointRescore]], then the highest ledgered `b<id>`
    * (or the `c<floor>` a checkpoint vacuum resolved).
    */
  private def newestScores(s: org.apache.spark.sql.SparkSession,
      root: String): org.apache.spark.sql.DataFrame = {
    val sp = scoresProtocol(root)
    val newest = sp.committedDirs("scores")
      .maxBy(d => sp.dirOrd(d.substring(d.lastIndexOf('/') + 1)))
    s.read.parquet(newest).select(col("id"), col("r"))
  }

  /** Re-score the grown graph warm-starting from the newest committed
    * checkpoint and publish the result as a ledgered `scores/b<id>`
    * commit, where `id` IS the edge ledger's high-water mark — the
    * checkpoint names exactly the edge state it scored, so the next
    * re-score resumes from it (true cost amortization: k growth events
    * cost k·PrIters rounds TOTAL, not k·PrIters per read). Exactly
    * once under replay: a ledgered id is a committed no-op. Returns
    * the checkpoint id.
    */
  def checkpointRescore(s: org.apache.spark.sql.SparkSession,
      root: String, docs: org.apache.spark.sql.DataFrame): Long = {
    val sp = scoresProtocol(root)
    val hw = graphProtocol(root).highWater()
    require(hw >= 1L,
      "no committed edge fold to checkpoint against — the seed state " +
        "is already the scores/seed checkpoint")
    sp.fold(hw, Seq("scores")) {
      rescoreFull(s, root, docs)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"${sp.dir("scores")}/b$hw")
    }
    hw
  }

  /** Floor-bounded retention for the score-checkpoint ledger — the
    * standard [[graft.index.FoldProtocol.vacuumKinds]] value gate:
    * every checkpoint ≤ floor collapses into one `c<floor>` dir
    * holding the newest checkpoint at or below it (checkpoints are
    * FULL states, not deltas, so the resolved content is just that
    * frame), horizons ≥ floor read identically, older ones refuse.
    */
  def vacuumScoreCheckpoints(s: org.apache.spark.sql.SparkSession,
      root: String, floorRequested: Long): Boolean = {
    val sp = scoresProtocol(root)
    sp.vacuumKinds(s, floorRequested, Seq(
      "scores" -> ((floor, staging) => {
        val dirs = sp.committedDirsAsOf("scores", floor)
        val newest = dirs
          .maxBy(d => sp.dirOrd(d.substring(d.lastIndexOf('/') + 1)))
        s.read.parquet(newest)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(staging)
      })))
  }

  /** The pagerank oracle: the identical integer recurrence unrolled
    * `PrIters` times as chained CTEs. `seedWhere` = None → uniform
    * teleport; Some(pred) → personalized (base and round-0 mass
    * concentrated on the seed set, zero elsewhere — the engine's
    * exact formulas).
    */
  private def pagerankOracleSql(seedWhere: Option[String] = None): String = {
    val nb = seedWhere match {
      case None =>
        s"""nb AS MATERIALIZED (SELECT id,
           |  (SELECT (($PrScale // n) * 15) // 100 FROM nn) AS b,
           |  (SELECT $PrScale // n FROM nn) AS r FROM nodes)""".stripMargin
      case Some(pred) =>
        s"""seeds AS (SELECT doc_id AS id FROM documents WHERE $pred),
           |ns AS (SELECT count(*) AS k FROM seeds),
           |nb AS MATERIALIZED (SELECT n.id,
           |  CASE WHEN s.id IS NOT NULL
           |       THEN (SELECT ((${PrScale}::BIGINT * 15) // 100) // k FROM ns)
           |       ELSE 0 END AS b,
           |  CASE WHEN s.id IS NOT NULL
           |       THEN (SELECT $PrScale // k FROM ns) ELSE 0 END AS r
           |  FROM nodes n LEFT JOIN seeds s ON s.id = n.id)""".stripMargin
    }
    val head =
      s"""nodes AS (SELECT doc_id AS id FROM documents),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |$nb,
         |edges AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT id AS src, (id*31+7) % (SELECT n FROM nn) AS dst FROM nodes
         |    UNION ALL SELECT id, (id*17+3) % (SELECT n FROM nn) FROM nodes
         |    UNION ALL SELECT id, (id*13+11) % (SELECT n FROM nn) FROM nodes)
         |  WHERE dst <> src),
         |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |ed AS MATERIALIZED (SELECT e.src, e.dst, g.d FROM edges e JOIN deg g ON g.src = e.src),
         |r0 AS (SELECT id, r FROM nb)"""
        .stripMargin
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT v.id, CAST(v.b
         |       + ((85 * COALESCE(s.c, 0)) // 100) AS BIGINT) AS r
         |  FROM nb v LEFT JOIN (
         |    SELECT ed.dst AS id, CAST(SUM(p.r // ed.d) AS BIGINT) AS c
         |    FROM r${k - 1} p JOIN ed ON ed.src = p.id
         |    GROUP BY ed.dst) s ON s.id = v.id)""".stripMargin
    }
    (Seq("WITH " + head) ++ iters).mkString(",\n") +
      s"""
         |SELECT id AS doc_id, r AS score
         |FROM r$PrIters ORDER BY r DESC, id LIMIT $PrTopK""".stripMargin
  }

  /** The incremental-pagerank oracle: BOTH phases unrolled — PrIters
    * rounds over the two-formula partial graph (the persisted score
    * checkpoint's construction), then PrIters warm-started rounds over
    * the grown three-formula graph with its re-derived degrees. Exact
    * equality is the point: the engine's warm start must be
    * indistinguishable from this from-scratch recompute.
    */
  private def pagerankIncrementalOracleSql: String =
    pagerankPhasedOracleSql(Seq(PrFormulas.take(2), PrFormulas))

  /** The checkpointed-pagerank oracle: THREE phases unrolled — seed
    * (one formula), growth 1 (two), growth 2 (all three) — each paying
    * PrIters rounds over its phase's edge set, warm-started from the
    * previous phase's final state. Exact equality against this
    * from-scratch recompute is what certifies that resuming from the
    * NEWEST ledgered checkpoint (not the original seed) loses nothing.
    */
  private def pagerankCheckpointedOracleSql: String =
    pagerankPhasedOracleSql(
      Seq(PrFormulas.take(1), PrFormulas.take(2), PrFormulas))

  /** N-phase unroll of the integer recurrence as chained CTEs: phase j
    * runs PrIters rounds against its own edge set `ed<j>`, resuming
    * from the previous phase's final state — the shared engine of the
    * incremental (2-phase) and checkpointed (3-phase) oracles.
    */
  private def pagerankPhasedOracleSql(
      phases: Seq[Seq[(Long, Long)]]): String = {
    def edgesSql(formulas: Seq[(Long, Long)]): String =
      formulas.map { case (a, b) =>
        s"SELECT id AS src, (id*$a+$b) % (SELECT n FROM nn) AS dst FROM nodes"
      }.mkString("\n    UNION ALL ")
    def edSql(tag: String, formulas: Seq[(Long, Long)]): String =
      s"""e$tag AS (
         |  SELECT DISTINCT src, dst FROM (
         |    ${edgesSql(formulas)})
         |  WHERE dst <> src),
         |deg$tag AS (SELECT src, count(*) AS d FROM e$tag GROUP BY src),
         |ed$tag AS MATERIALIZED (SELECT e.src, e.dst, g.d
         |           FROM e$tag e JOIN deg$tag g ON g.src = e.src)"""
        .stripMargin
    val head =
      s"""nodes AS (SELECT doc_id AS id FROM documents),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |nb AS MATERIALIZED (SELECT id,
         |  (SELECT (($PrScale // n) * 15) // 100 FROM nn) AS b,
         |  (SELECT $PrScale // n FROM nn) AS r FROM nodes),
         |${phases.zipWithIndex
             .map { case (f, i) => edSql(i.toString, f) }.mkString(",\n")},
         |r0 AS (SELECT id, r FROM nb)""".stripMargin
    val iters = (1 to phases.length * PrIters).map { k =>
      val ed = s"ed${(k - 1) / PrIters}"
      s"""r$k AS MATERIALIZED (
         |  SELECT v.id, CAST(v.b
         |       + ((85 * COALESCE(s.c, 0)) // 100) AS BIGINT) AS r
         |  FROM nb v LEFT JOIN (
         |    SELECT ed.dst AS id, CAST(SUM(p.r // ed.d) AS BIGINT) AS c
         |    FROM r${k - 1} p JOIN $ed ed ON ed.src = p.id
         |    GROUP BY ed.dst) s ON s.id = v.id)""".stripMargin
    }
    (Seq("WITH " + head) ++ iters).mkString(",\n") +
      s"""
         |SELECT id AS doc_id, r AS score
         |FROM r${phases.length * PrIters} ORDER BY r DESC, id LIMIT $PrTopK"""
        .stripMargin
  }

  /** The doc_dsir oracle — shared VERBATIM with `doc_dsir_indexed`: the
    * persisted serve's contract is exactly the direct gate's answer.
    */
  private val dsirOracleSql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
      |           FROM documents),
      |g AS (SELECT doc_id, source,
      |        unnest(list_transform(range(1, greatest(len(ws), 1)),
      |          i -> ws[i] || ' ' || ws[i+1])) AS gm
      |      FROM w),
      |b AS (SELECT doc_id, source,
      |        ('0x' || substr(md5(gm), 1, 15))::BIGINT % 1024 AS bkt
      |      FROM g),
      |braw AS (SELECT bkt, count(*) AS cr FROM b GROUP BY 1),
      |btgt AS (SELECT bkt, count(*) AS ct FROM b
      |         WHERE source = 'src0' GROUP BY 1),
      |tr AS (SELECT count(*) AS tot FROM b),
      |tt AS (SELECT count(*) AS tot FROM b WHERE source = 'src0'),
      |model AS (
      |  SELECT braw.bkt,
      |    CAST(round((ln((coalesce(btgt.ct, 0) + 1)
      |          / CAST(tt.tot + 1024 AS DOUBLE))
      |        - ln((braw.cr + 1) / CAST(tr.tot + 1024 AS DOUBLE)))
      |      * 1e6) AS BIGINT) AS dlt
      |  FROM braw LEFT JOIN btgt USING (bkt), tr, tt),
      |dcnt AS (SELECT doc_id, bkt, count(*) AS k FROM b GROUP BY 1, 2),
      |lw AS (SELECT d.doc_id, CAST(sum(d.k * m.dlt) AS BIGINT) AS logw_i
      |       FROM dcnt d JOIN model m USING (bkt) GROUP BY 1),
      |keyed AS (
      |  SELECT doc_id, source, coalesce(lw.logw_i, 0) AS logw_i,
      |    coalesce(lw.logw_i, 0) + CAST(round(-ln(-ln(
      |        (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 11))::BIGINT
      |          + 1) / 17592186044417.0)) * 1e6) AS BIGINT) AS dsir_key
      |  FROM documents LEFT JOIN lw USING (doc_id))
      |SELECT doc_id, source, logw_i, dsir_key FROM keyed
      |ORDER BY dsir_key DESC, doc_id LIMIT 100""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // Link-graph score propagation (PageRank, damping 0.85, 10 fixed
    // iterations) over the planted modular link graph — integer-exact
    // in 1e9-scaled units, so the oracle's unrolled recurrence matches
    // hash-for-hash. See the `pagerank` scaladoc for the scale story
    // (one join + one combining groupBy per iteration, lineage
    // truncated per round, nothing driver-side but the node count).
    QuerySpec("q_pagerank", pagerankOracleSql()) {
      (s, d) => pagerank(Tables.documents(s, d))
    },

    // PERSONALIZED PageRank (topic-sensitive, Haveliwala 2002): the
    // teleport mass concentrates on one vetted source's docs, so
    // scores measure link-proximity to the trusted seed set — the
    // propagate-trust-outward curation stage. Same integer recurrence,
    // same planted graph, seed-concentrated base/round-0 mass.
    QuerySpec("q_pagerank_personalized",
      pagerankOracleSql(Some("source = 'src0'"))) { (s, d) =>
      pagerank(Tables.documents(s, d),
        teleport = Some(Tables.documents(s, d)
          .filter(col("source") === "src0").select(col("doc_id"))))
    },

    // INCREMENTAL PageRank: the third edge formula lands as a ledgered
    // commit on the persisted graph root, and re-scoring warm-starts
    // from the persisted score checkpoint (PrIters rounds on the
    // partial graph) instead of from uniform. The oracle unrolls BOTH
    // phases from scratch, so the gate pins warm-start == full
    // recompute to the last integer — the incremental theme (NB
    // grow/forget, dedup_incremental) extended to iterative graph
    // state.
    QuerySpec("q_pagerank_incremental", pagerankIncrementalOracleSql) {
      (s, d) => pagerankIncremental(s, d)
    },

    // CHECKPOINTED incremental PageRank: each growth event's re-score
    // publishes as a ledgered scores/b<id> commit keyed to the edge
    // ledger's high-water, and re-scoring resumes from the NEWEST
    // checkpoint — so after k growth events the total scoring cost is
    // k·PrIters rounds, not k·PrIters per read (incremental in SCORING
    // cost, completing q_pagerank_incremental's incremental ingestion).
    // The oracle unrolls all three phases from scratch; a stale resume
    // (from the original seed) computes a different fixed point and
    // fails the hash.
    QuerySpec("q_pagerank_checkpointed", pagerankCheckpointedOracleSql) {
      (s, d) =>
        pagerankWarmStart(s, ensureCheckpointedPagerank(s, d),
          Tables.documents(s, d))
    },

    // Floor-bounded retention on the SCORE-CHECKPOINT ledger under the
    // value gate: the checkpointed fixture vacuumed at floor 1 must
    // leave the resume state untouched — the gate's re-score from the
    // resolved c1 dir lands on the identical 3-phase fixed point (same
    // oracle as q_pagerank_checkpointed; refusals and replay are
    // spec'd in PagerankCheckpointSpec).
    QuerySpec("q_pagerank_checkpointed_vacuum",
      pagerankCheckpointedOracleSql) { (s, d) =>
      pagerankWarmStart(s, ensureVacuumedCheckpointPagerank(s, d),
        Tables.documents(s, d))
    },

    // Sessionization (batch): a session breaks after a 30-minute silence.
    // lag → boundary flag → running sum = session id; one shuffle keyed by
    // user_id, everything else window-local. The streaming analogue
    // (event-time timeout state) lives in streaming.StatefulOps.
    QuerySpec(
      "q_sessionize",
      """WITH e AS (SELECT user_id, event_id, ts, value FROM events),
        |l AS (SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM e),
        |f AS (SELECT user_id, event_id, ts, value,
        |    CASE WHEN prev IS NULL
        |           OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM l),
        |s AS (SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_id""".stripMargin) { (s, d) =>
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(ord))
        .withColumn("brk",
          when(col("prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          date_format(min(col("ts")), fmt).as("session_start"),
          date_format(max(col("ts")), fmt).as("session_end"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
    },

    // Type-2 slowly-changing-dimension build (the warehouse history
    // primitive): each user's event_type is their "state"; consecutive
    // equal states collapse into one versioned row with
    // [valid_from, valid_to) validity and an is_current flag on the
    // open interval. Gaps-and-islands shape: lag → change flag →
    // running sum = version, then min(ts)/count per version and a
    // lead() for the interval close. Same scale profile as
    // q_sessionize — one shuffle keyed by user_id, windows stay
    // partition-local over per-entity groups (bounded per entity, not
    // corpus-wide).
    QuerySpec(
      "q_scd2",
      """WITH e AS (SELECT user_id, event_id, ts, event_type FROM events),
        |l AS (SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM e),
        |f AS (SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM l),
        |s AS (SELECT user_id, ts, event_type,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS ver
        |  FROM f),
        |i AS (SELECT user_id, CAST(ver AS BIGINT) AS version,
        |    event_type AS state, min(ts) AS vf, count(*) AS n_events
        |  FROM s GROUP BY user_id, ver, event_type),
        |o AS (SELECT user_id, version, state, n_events, vf,
        |    lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS vt
        |  FROM i)
        |SELECT user_id, version, state, n_events,
        |  strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        |  CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM o""".stripMargin) { (s, d) =>
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byVer = Window.partitionBy(col("user_id")).orderBy(col("version"))
      Tables.events(s, d)
        .withColumn("prev", lag(col("event_type"), 1).over(ord))
        .withColumn("chg",
          when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("version", sum(col("chg")).over(run))
        .groupBy(col("user_id"), col("version"), col("event_type").as("state"))
        .agg(min(col("ts")).as("vf"), count(lit(1)).as("n_events"))
        .withColumn("vt", lead(col("vf"), 1).over(byVer))
        .select(col("user_id"), col("version"), col("state"), col("n_events"),
          date_format(col("vf"), fmt).as("valid_from"),
          date_format(col("vt"), fmt).as("valid_to"),
          when(col("vt").isNull, 1L).otherwise(0L).as("is_current"))
    },

    // Time-series GAP analysis — the continuity audit an hourly
    // ingest pipeline (the reference's own cadence) runs on itself:
    // per user, the active hourly-bucket span, how many buckets in it
    // are EMPTY, and the longest silence in hours. Buckets are
    // integer hour ordinals (micros DIV 3.6e9 — exact both engines on
    // non-negatives), the gap scan is one lag over per-user DISTINCT
    // hours (bounded per entity, partition-local), and the readout is
    // one aggregate — no calendar explode: span − active counts the
    // empty buckets without materializing them, which is the 100-TB
    // difference between this and a generate_series resample.
    QuerySpec(
      "q_gap_analysis",
      """WITH h AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 3600000000 AS hr
        |  FROM events),
        |l AS (SELECT user_id, hr,
        |    lag(hr) OVER (PARTITION BY user_id ORDER BY hr) AS prev
        |  FROM h)
        |SELECT user_id,
        |  CAST(max(hr) - min(hr) + 1 AS BIGINT) AS span_hours,
        |  CAST(count(*) AS BIGINT) AS active_hours,
        |  CAST(max(hr) - min(hr) + 1 - count(*) AS BIGINT) AS empty_hours,
        |  CAST(coalesce(max(hr - prev), 0) AS BIGINT) AS max_gap_hours
        |FROM l GROUP BY user_id""".stripMargin) { (s, d) =>
      val ord = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .distinct()
        .withColumn("prev", lag(col("hr"), 1).over(ord))
        .groupBy(col("user_id"))
        .agg((max(col("hr")) - min(col("hr")) + 1).as("span_hours"),
          count(lit(1)).as("active_hours"),
          (max(col("hr")) - min(col("hr")) + 1 - count(lit(1)))
            .as("empty_hours"),
          coalesce(max(col("hr") - col("prev")), lit(0L))
            .as("max_gap_hours"))
    },

    // Calendar RESAMPLE with zero-filled buckets — the dashboard
    // densification twin of q_gap_analysis: per (event_type, hour
    // ordinal) over the table's FULL span, event count and
    // DECIMAL-exact value total, with absent buckets emitted as
    // explicit zeros (a time-series consumer needs the zero rows; the
    // gap auditor deliberately avoids them). The calendar frame is
    // GENERATED from the 1-row bounds aggregate (sequence + explode —
    // |buckets| × |types| rows, never a corpus-sized explode), and
    // the only corpus-sized work is the group-by the dense frame
    // left-joins.
    QuerySpec(
      "q_resample",
      """WITH b AS (SELECT min(epoch_us(ts) // 3600000000) AS h0,
        |             max(epoch_us(ts) // 3600000000) AS h1 FROM events),
        |hrs AS (SELECT unnest(range(h0, h1 + 1)) AS hr FROM b),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |        CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(value AS DECIMAL(12,2))) AS t
        |      FROM events GROUP BY 1, 2)
        |SELECT ty.event_type, CAST(hrs.hr AS BIGINT) AS hr,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        |  CAST(coalesce(c.t, 0) AS DOUBLE) AS total
        |FROM hrs CROSS JOIN ty
        |LEFT JOIN c ON c.event_type = ty.event_type AND c.hr = hrs.hr"""
        .stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"), col("value"))
      val hours = ev.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"))).as("hr"))
      val types = ev.select(col("event_type")).distinct()
      val counts = ev.groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).as("t"))
      hours.crossJoin(types)
        .join(counts, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("t"), lit(0).cast("decimal(12,2)"))
            .cast("double").as("total"))
    },

    // Point-in-time fact→dimension join — the OTHER half of the SCD2
    // story: purchases join the user-state version (built from the
    // view/error stream only, so the fact's own events never define
    // their version) valid at the purchase timestamp — user_id
    // equality plus the [valid_from, valid_to) range, which Spark
    // plans as the co-keyed sort-merge join with a residual range
    // filter (intervals are disjoint per user, so at most one match;
    // no window touches the fact stream). Purchases before a user's
    // first dim version report state 'none' through the left join.
    QuerySpec(
      "q_scd2_join",
      """WITH dim AS (SELECT user_id, event_id, ts, event_type
        |             FROM events WHERE event_type IN ('view', 'error')),
        |l AS (SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM dim),
        |f AS (SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END
        |      AS chg
        |  FROM l),
        |s AS (SELECT user_id, ts, event_type,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS ver
        |  FROM f),
        |i AS (SELECT user_id, CAST(ver AS BIGINT) AS version,
        |    event_type AS state, min(ts) AS vf
        |  FROM s GROUP BY user_id, ver, event_type),
        |o AS (SELECT user_id, version, state, vf,
        |    lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS vt
        |  FROM i),
        |fact AS (SELECT user_id, event_id, ts, value FROM events
        |         WHERE event_type = 'purchase'),
        |j AS (SELECT fa.event_id, fa.value, o.state
        |      FROM fact fa LEFT JOIN o ON o.user_id = fa.user_id
        |        AND fa.ts >= o.vf AND (o.vt IS NULL OR fa.ts < o.vt))
        |SELECT coalesce(state, 'none') AS state,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM j GROUP BY 1""".stripMargin) { (s, d) =>
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byVer = Window.partitionBy(col("user_id")).orderBy(col("version"))
      val dim = Tables.events(s, d)
        .filter(col("event_type").isin("view", "error"))
        .withColumn("prev", lag(col("event_type"), 1).over(ord))
        .withColumn("chg",
          when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("version", sum(col("chg")).over(run))
        .groupBy(col("user_id"), col("version"),
          col("event_type").as("state"))
        .agg(min(col("ts")).as("vf"))
        .withColumn("vt", lead(col("vf"), 1).over(byVer))
        .select(col("user_id").as("dim_user"), col("state"),
          col("vf"), col("vt"))
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .join(dim,
          col("user_id") === col("dim_user") && col("ts") >= col("vf") &&
            (col("vt").isNull || col("ts") < col("vt")), "left")
        .select(coalesce(col("state"), lit("none")).as("state"),
          col("event_id"), col("value"))
        .groupBy(col("state"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"),
          sum(col("value").cast("decimal(12,2)"))
            .cast("double").as("total"))
    },

    // Ordered conversion funnel: per user, the first 'view', the first
    // 'click' STRICTLY after that view, the first 'purchase' strictly
    // after that click — stage = how deep the ordered sequence got
    // (0–3). The sequencing is what a conditional aggregate cannot
    // express (each stage's window opens at the previous stage's
    // timestamp), so it runs as a cascade of per-user min-aggregates
    // with user_id-keyed joins between stages: every frame is one row
    // per user, every join co-partitions on the same key, and event
    // scans prune on event_type — no window over the raw stream at
    // all. Left joins keep partial funnels; stage counts are the
    // readout every growth dashboard wants.
    QuerySpec(
      "q_funnel",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS t1 FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |      JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |      JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  strftime(t1, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
        |  strftime(t2, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        |  strftime(t3, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        |FROM u LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val u = ev.select(col("user_id")).distinct()
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      u.join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
            .when(col("t1").isNotNull, 1L).otherwise(0L).as("stage"),
          date_format(col("t1"), fmt).as("view_ts"),
          date_format(col("t2"), fmt).as("click_ts"),
          date_format(col("t3"), fmt).as("purchase_ts"))
    },

    // Cohort retention: users grouped by first-activity day (cohort),
    // activity counted per (cohort, day-offset) cell — the retention
    // triangle every product-analytics stack computes. Two aggregates
    // and one user_id-keyed join: the first-event frame is one row per
    // user (corpus-derived ⇒ unhinted, AQE sizes it), the distinct
    // count shuffles on (cohort, offset, user) with map-side partial
    // dedup. Output is |cohorts| × |offsets| — days², corpus-size
    // independent.
    QuerySpec(
      "q_cohort",
      """WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS d0
        |           FROM events GROUP BY user_id),
        |a AS (SELECT e.user_id,
        |    date_diff('day', DATE '2024-01-01', f.d0) AS cohort_day,
        |    date_diff('day', f.d0, CAST(e.ts AS DATE)) AS day_offset
        |  FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
        |  CAST(day_offset AS BIGINT) AS day_offset,
        |  count(DISTINCT user_id) AS n_active
        |FROM a GROUP BY cohort_day, day_offset""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val f = ev.groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("d0"))
      ev.join(f, Seq("user_id"))
        .select(col("user_id"),
          datediff(col("d0"), lit("2024-01-01").cast("date"))
            .cast("long").as("cohort_day"),
          datediff(to_date(col("ts")), col("d0")).cast("long").as("day_offset"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    },

    // Bounded interval join (batch analogue of the watermarked
    // stream-stream join): for each click, errors of the same user in the
    // preceding 10 minutes. The equi key (user_id) makes this a plain
    // hash join with a residual range predicate — no nested-loop blowup;
    // at 100 TB both sides shuffle once on user_id and the range check
    // stays partition-local.
    QuerySpec(
      "q_range_join",
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
        |SELECT c.event_id, count(*) AS n_recent_errors
        |FROM c JOIN e ON c.user_id = e.user_id
        |  AND e.ts > c.ts - INTERVAL 10 MINUTE AND e.ts <= c.ts
        |GROUP BY c.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts").as("cts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("ets"))
      clicks.join(errors,
        clicks("user_id") === errors("user_id") &&
          unix_micros(col("ets")) > unix_micros(col("cts")) - 600000000L &&
          col("ets") <= col("cts"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_recent_errors"))
    },

    // Exact percentiles (linear interpolation) per group. Both engines
    // interpolate the same order statistics; 2-dp rounding guards the
    // final ulp of the interpolation arithmetic.
    QuerySpec(
      "q_percentile",
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        |  round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.90), 2) AS p90
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.load(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
          round(expr("percentile(o_totalprice, 0.50)"), 2).as("p50"),
          round(expr("percentile(o_totalprice, 0.90)"), 2).as("p90"))
    },

    // The SAME exact quantiles computed scale-safe, gated on the SAME
    // oracle as q_percentile. `percentile()` is an ObjectHashAggregate
    // that buffers EVERY group value in one aggregation buffer — at
    // corpus scale that is the group in memory. Here: exact rank via
    // value-range blocks (local rank within (group, floor(price) div
    // 1024) + cumulative block-count offsets — the doc_pack two-level
    // pattern), then each quantile reads its two boundary order
    // statistics and interpolates with quantile_cont's own formula
    // (v_lo + frac·(v_hi − v_lo), frac from the 0-based q·(n−1)
    // position). State: one rank per row, two rows per (group,
    // quantile) — nothing group-sized is ever buffered or sorted in one
    // task.
    QuerySpec(
      "q_percentile_scaled",
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        |  round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.90), 2) AS p90
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      val t = Tables.load(s, d, "orders")
        .select(col("o_orderpriority").as("grp"), col("o_totalprice").as("p"),
          col("o_orderkey"))
        .withColumn("blk", expr("CAST(floor(p) AS BIGINT) div 1024"))
      val wIn = Window.partitionBy(col("grp"), col("blk"))
        .orderBy(col("p"), col("o_orderkey"))
      val local = t.withColumn("lr", row_number().over(wIn).cast("long"))
      val wBlk = Window.partitionBy(col("grp")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = t.groupBy(col("grp"), col("blk"))
        .agg(count(lit(1)).as("bc"))
        .withColumn("off", coalesce(sum(col("bc")).over(wBlk), lit(0L)))
        .select(col("grp"), col("blk"), col("off"))
      val n = t.groupBy(col("grp")).agg(count(lit(1)).as("n"))
      val ranked = local.join(offs, Seq("grp", "blk")).join(n, Seq("grp"))
        .withColumn("rnk", col("off") + col("lr"))
      def bound(q: Double, edge: Column => Column): Column =
        max(when(col("rnk") - 1 === edge(lit(q) * (col("n") - 1)), col("p")))
      val agg = ranked.groupBy(col("grp")).agg(
        max(col("n")).as("n"),
        bound(0.25, floor).as("lo25"), bound(0.25, ceil).as("hi25"),
        bound(0.50, floor).as("lo50"), bound(0.50, ceil).as("hi50"),
        bound(0.90, floor).as("lo90"), bound(0.90, ceil).as("hi90"))
      def interp(q: Double, lo: Column, hi: Column): Column = {
        val idx = lit(q) * (col("n") - 1)
        round(lo + (hi - lo) * (idx - floor(idx)), 2)
      }
      agg.select(col("grp").as("o_orderpriority"),
        interp(0.25, col("lo25"), col("hi25")).as("p25"),
        interp(0.50, col("lo50"), col("hi50")).as("p50"),
        interp(0.90, col("lo90"), col("hi90")).as("p90"))
    },

    // Deterministic stratified sampling: a fixed per-language quota taken
    // in content-hash order. md5(doc_id) is an order both engines share,
    // so the sample is reproducible run-to-run and engine-to-engine —
    // the property a curation pipeline needs for auditable subsets. At
    // corpus scale this is one shuffle (lang) + a per-partition top-k.
    QuerySpec(
      "doc_sample_stratified",
      """WITH r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, source FROM r WHERE rn <= 50""".stripMargin) {
      (s, d) =>
        // Two-stage quota take: a single PARTITION BY lang window would
        // order a language's ENTIRE corpus slice in one task. Stage 1
        // ranks within (lang, salt) — 16 bounded groups per lang — and
        // keeps the quota; stage 2 ranks the ≤ 16×quota survivors.
        // Result-identical: the global first-50 of a lang are each in
        // their own salt's first-50.
        val hashed = Tables.documents(s, d)
          .withColumn("h", md5(col("doc_id").cast("string")))
        val wSalt = Window.partitionBy(col("lang"), col("salt"))
          .orderBy(col("h"), col("doc_id"))
        val cand = hashed
          .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(16)))
          .withColumn("r0", row_number().over(wSalt))
          .filter(col("r0") <= 50)
          .drop("r0", "salt")
        val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
        cand.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 50)
          .select(col("doc_id"), col("lang"), col("source"))
    },

    // WEIGHTED sampling without replacement (Efraimidis–Spirakis
    // A-ES): per language, 50 docs with inclusion probability
    // proportional to their whitespace-token count — the
    // length-proportional draw a token-budgeted mixture builder runs
    // where the stratified gate's uniform draw won't do. Key =
    // ln(u)/w with u a deterministic md5-derived uniform in (0, 1]
    // (top-k by key ⇔ top-k by u^(1/w)); u's integer comes from 15
    // md5 hex chars parsed identically on both engines (Spark conv ==
    // DuckDB '0x'-cast, value-checked) and the 2⁶⁰ divisor is an
    // exact power of two — but ln is NOT correctly rounded in either
    // engine's libm, so the RANKING runs on the 6-dp-ROUNDED key
    // (doc_id tie-break) in BOTH engines: a one-ulp ln divergence at
    // a quota boundary must not flip the sample (the file's
    // round-before-cross-engine-comparison convention; see the
    // inline note at the key definition). Two-stage salted windows
    // keep any one task's sort bounded, the stratified-sample shape.
    QuerySpec(
      "doc_sample_weighted",
      """WITH t AS (SELECT doc_id, lang,
        |    greatest(len(string_split(text, ' ')), 1) AS w,
        |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        + 1) / 1152921504606846976.0)
        |      / greatest(len(string_split(text, ' ')), 1) AS k
        |  FROM documents),
        |r AS (SELECT doc_id, lang, w, k,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY round(k, 6) DESC, doc_id) AS rn
        |  FROM t)
        |SELECT doc_id, lang, CAST(w AS BIGINT) AS w,
        |  round(k, 6) AS sample_key
        |FROM r WHERE rn <= 50""".stripMargin) { (s, d) =>
      val wgt = greatest(size(split(col("text"), " ")), lit(1))
      val u = (graft.functions.Md5Long.md5_prefix(
        col("doc_id").cast("string"), 15) + 1).cast("double") /
        lit(1152921504606846976.0)
      // Ranking runs on the 6-dp-ROUNDED key (doc_id tie-break), not the
      // raw ln(u)/w double: ln is not correctly rounded in either
      // engine's libm, so a one-ulp divergence at a quota boundary could
      // flip the sample — rounding before cross-engine comparison is the
      // file's float-parity convention (see text_unigram_logprob).
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          wgt.cast("long").as("w"),
          round(log(u) / wgt.cast("double"), 6).as("k"))
      val wSalt = Window.partitionBy(col("lang"), col("salt"))
        .orderBy(col("k").desc, col("doc_id"))
      val cand = t
        .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(16)))
        .withColumn("r0", row_number().over(wSalt))
        .filter(col("r0") <= 50)
        .drop("r0", "salt")
      val wLang = Window.partitionBy(col("lang"))
        .orderBy(col("k").desc, col("doc_id"))
      cand.withColumn("rn", row_number().over(wLang))
        .filter(col("rn") <= 50)
        .select(col("doc_id"), col("lang"), col("w"),
          round(col("k"), 6).as("sample_key"))
    },

    // DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): select the 100
    // raw-corpus docs whose hashed-bigram distribution looks most like a
    // TARGET domain (source = 'src0' plays the in-domain seed).
    // Importance weight = Π p_target(feature)/p_raw(feature) over the
    // doc's hashed bigrams, estimated by two add-1-smoothed bag-of-
    // hashed-bigram models (1024 buckets — the DSIR recipe's fixed
    // feature space); selection is Gumbel-top-k over log-weights (the
    // without-replacement sampler that ranks by logw + Gumbel noise).
    // Cross-engine exactness: bucket hash is the md5-15-hex integer
    // convention (Spark conv == DuckDB '0x' cast) mod 1024; both
    // per-bucket log-likelihood DELTAS and the Gumbel noise are
    // pre-rounded 1e-6-scaled BIGINTs, so the per-doc log-weight is an
    // order-free INTEGER sum and the top-k can never flip on ulps (the
    // text_nb_langid convention). The Gumbel uniform uses 11 md5 hex
    // chars over 2^44+1 so u < 1 strictly (−ln(−ln 1) would be ∞).
    // Scale: models are ≤ 1024 rows by construction (hash-mod feature
    // space) ⇒ the scoring join is a PRINCIPLED broadcast — per-doc
    // scoring is pure map work; the only corpus-wide shuffles are the
    // (doc, bucket) count and the final TakeOrdered top-k (per-partition
    // top-100 then driver merge — never a global sort).
    QuerySpec(
      "doc_dsir",
      dsirOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      dsirScore(docs, dsirModel(docs))
        .orderBy(col("dsir_key").desc, col("doc_id"))
        .limit(100)
    },

    // The SAME selection served from the PERSISTED model (the
    // train-once-serve-many lifecycle the NB/BPE/unigram families
    // have): identical contract, identical oracle — the serve reads
    // only the ≤ 1024-row published model and scores the corpus, never
    // re-fitting. The streaming twin (StreamingCuration.startDsirScore)
    // scores micro-batches of incoming docs through the same frozen
    // kernel — the production shape: fit the domain model once, meter
    // every crawled batch's domain fit as it lands.
    QuerySpec(
      "doc_dsir_indexed",
      dsirOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      dsirScore(docs, s.read.parquet(ensureDsirModel(s, d) + "/model"))
        .orderBy(col("dsir_key").desc, col("doc_id"))
        .limit(100)
    },

    // Fixed-budget sequence packing (pretraining-style chunked concat):
    // docs in deterministic order accumulate whitespace-token counts; a
    // doc's bin is its exclusive prefix sum ÷ budget. Bins close at the
    // token budget (the straggler doc spills into the next bin), which is
    // a prefix-sum — ONE window pass — unlike true greedy bin packing,
    // which is inherently sequential and would not scale.
    QuerySpec(
      "doc_pack",
      """WITH t AS (SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t)
        |SELECT lang, CAST(prior // 2048 AS BIGINT) AS bin_id,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |FROM c GROUP BY lang, prior // 2048""".stripMargin) { (s, d) =>
      // Distributed two-level prefix sum. A `PARTITION BY lang ORDER BY
      // doc_id` running sum concentrates a language's whole corpus slice
      // in ONE task (the window cannot split an ordered partition).
      // Because the pack order is doc_id itself, arithmetic blocks of
      // the order key distribute it exactly: (1) prefix-sum WITHIN
      // (lang, doc_id div B) — bounded groups; (2) cumulate the tiny
      // per-block totals frame (corpus/B rows) per lang; (3) prior =
      // in-block prefix + preceding-blocks offset, joined back on the
      // broadcastable block frame. Same `prior` for every doc, so the
      // oracle (one flat window) is unchanged; each extra level divides
      // the concentration by B — add a third level past ~B² blocks. The
      // block frame grows with the corpus (N/B rows), so no broadcast
      // hint: size stats pick BHJ at bench scale, and the shuffled join
      // reuses the (lang, blk) partitioning when it outgrows that.
      val B = 1024
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("blk", expr(s"doc_id div $B"))
      val wIn = Window.partitionBy(col("lang"), col("blk"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val inBlk = t.withColumn("in_prior",
        coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      val wBlk = Window.partitionBy(col("lang")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val blkOff = t.groupBy(col("lang"), col("blk"))
        .agg(sum(col("n_tok")).as("btot"))
        .withColumn("boff", coalesce(sum(col("btot")).over(wBlk), lit(0L)))
        .select(col("lang"), col("blk"), col("boff"))
      inBlk.join(blkOff, Seq("lang", "blk"))
        .withColumn("prior", col("in_prior") + col("boff"))
        // `div` = BIGINT floor-division, mirroring the oracle's `//` —
        // both engines stay in exact integer arithmetic (double division
        // would round differently past 2^53 total tokens).
        .withColumn("bin_id", expr("prior div 2048"))
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
    },

    // Class-balance weights: weight(lang, source) = N / (G · n) — the
    // standard inverse-frequency reweighting for skewed corpora. Integer
    // counts divide exactly the same in IEEE doubles on both engines.
    QuerySpec(
      "doc_class_balance",
      """WITH c AS (SELECT lang, source, count(*) AS n
        |           FROM documents GROUP BY lang, source)
        |SELECT lang, source, n,
        |  CAST((SELECT sum(n) FROM c) AS DOUBLE)
        |    / ((SELECT count(*) FROM c) * n) AS weight
        |FROM c""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      val tot = c.agg(sum(col("n")).as("total"), count(lit(1)).as("groups"))
      c.join(broadcast(tot))
        .select(col("lang"), col("source"), col("n"),
          (col("total").cast("double") / (col("groups") * col("n")))
            .as("weight"))
    },

    // Mixture sampling: deterministic per-source subsampling toward a
    // target corpus mixture (the epoch-weighting step of a pretraining
    // data pipeline). Each doc draws a uniform from md5("mix:"+doc_id)
    // and survives iff it falls under its source tier's rate — here 0.8
    // for the curated tier (src0–2), 0.25 for the long tail. The draw is
    // the first 8 hex digits compared LEXICOGRAPHICALLY against the rate
    // as a hex threshold (0.8 = 'cccccccc', 0.25 = '40000000'): identical
    // byte-wise in both engines, no float conversion to diverge. Pure
    // per-row filter — no shuffle, scan-parallel at any scale, and stable
    // across reruns/retries because the randomness is content-keyed, not
    // RNG-state-keyed (an executor retry resamples the SAME docs).
    QuerySpec(
      "doc_mixture",
      """SELECT doc_id, lang, source, h FROM (
        |  SELECT doc_id, lang, source,
        |    substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
        |  FROM documents)
        |WHERE h < CASE WHEN source IN ('src0','src1','src2')
        |               THEN 'cccccccc' ELSE '40000000' END""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"),
            substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))),
              1, 8).as("h"))
          .filter(col("h") <
            when(col("source").isInCollection(Seq("src0", "src1", "src2")),
              "cccccccc").otherwise("40000000"))
    },

    // Temperature-scaled mixture resampling (the multilingual-LM
    // rebalancing step): target share per language ∝ n^α with α = 0.5,
    // achieved by per-doc acceptance rate sqrt(n_min / n_lang) — the
    // smallest language keeps everything, the head is downsampled
    // toward the flattened mixture. Portability needs NO rounding
    // tricks: count ratios are exact in doubles, IEEE sqrt and division
    // are correctly rounded (bit-identical across engines), and the
    // uniform draw is 24 md5 bits over 2^24 (exact). Shape at scale:
    // one count aggregate + a per-row content-keyed hash filter — the
    // rate frame is one row per language (unhinted; AQE broadcasts it),
    // the filter is shuffle-free and retry-stable.
    QuerySpec(
      "doc_temperature",
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |        sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE) / n) AS rate
        |      FROM c)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 6))::UBIGINT AS DOUBLE)
        |      / 16777216.0 < rate""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val nMin = counts.agg(min(col("n")).as("n_min"))
      val rates = counts.join(broadcast(nMin))
        .select(col("lang"),
          sqrt(col("n_min").cast("double") / col("n")).as("rate"))
      docs.join(rates, Seq("lang"))
        .filter(
          graft.functions.Md5Long.md5_prefix(concat(lit("temp:"),
            col("doc_id").cast("string")), 6)
            .cast("double") / 16777216.0 < col("rate"))
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // Budgeted data selection (the curriculum/budget step): per
    // language, take documents in QUALITY order (best first, rounded
    // 4-dp score, doc_id tie-break) until a 5000-token budget fills —
    // a doc enters iff its exclusive prefix sum is still under budget,
    // so the last doc may straddle. The oracle is one flat window; the
    // engine form is the third distributed-prefix-sum pattern in this
    // file (doc_pack blocks the ORDER KEY arithmetically,
    // q_percentile_scaled blocks the VALUE range) — here the order key
    // is a derived float with no usable arithmetic blocks, so it runs
    // on the quantile-range-partitioned prefix sum ([[rangedPrefixSum]],
    // shared with text_perplexity_bucket).
    QuerySpec(
      "doc_token_budget",
      """WITH f AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
        |    round((CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1.0
        |           ELSE CAST(len(string_split(text, ' ')) AS DOUBLE)/20 END)
        |      * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)/length(text))
        |      * (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |             w -> w IN ('the','a','of','and','in','to','is','it','on','for'))) AS DOUBLE)
        |             / len(string_split(text, ' ')) > 0.05 THEN 1.0 ELSE 0.5 END), 4) AS q
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM f)
        |SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok
        |FROM c WHERE prior < 5000""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          (round(TextAnalysis.qualityScore(col("text")), 4) * -1).as("ord"))
      rangedPrefixSum(t, Seq("lang"), Seq("ord", "doc_id"), "n_tok", "prior")
        .filter(col("prior") < 5000L)
        .select(col("doc_id"), col("lang"), col("n_tok"))
    },

    // Deterministic global training order (the reproducible-shuffle
    // step): every document gets its 1-based position in the
    // md5(doc_id:text) order — a content-keyed permutation that is
    // stable across runs, partitionings, and engines, which is what
    // makes a pretraining data order auditable and resumable. The
    // global rank is the skew case of the prefix-sum problem (ONE
    // group = the whole corpus), so it runs on [[rangedPrefixSum]]
    // with a constant group key: quantile ranges slice the hash order
    // evenly by construction, and the offset frame is ≤ #partitions
    // rows. Emitting position (not a sorted corpus) keeps the output
    // shuffle-free downstream: a trainer range-reads positions
    // [a, b) as a pushed-down predicate.
    QuerySpec(
      "doc_order",
      """WITH h AS (SELECT doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || text) AS ok
        |  FROM documents)
        |SELECT doc_id, ok AS order_key,
        |  CAST(row_number() OVER (ORDER BY ok, doc_id) AS BIGINT) AS position
        |FROM h""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit(":"), col("text")))
            .as("order_key"),
          lit(0).as("all"), lit(1L).as("one"))
      rangedPrefixSum(t, Seq("all"), Seq("order_key", "doc_id"), "one", "prior")
        .select(col("doc_id"), col("order_key"),
          (col("prior") + 1L).as("position"))
    },

    // The whole curation pipeline as ONE composed, gated query — what a
    // pretraining data run actually executes: quality filter →
    // decontaminate against the held-out benchmark → exact-dedup
    // keep-list → mixture sampling. Every stage is the same formulation
    // as its standalone query, so this gate certifies the COMPOSITION
    // (stage ordering, survivor accounting) on top of the per-stage
    // gates. Stage shapes at scale: per-row predicate (no shuffle) →
    // broadcast-filtered gram stream → hash-groupBy keep-list →
    // per-row hash threshold (no shuffle).
    QuerySpec(
      "doc_curate",
      s"""$curateCtes
        |SELECT doc_id, lang, source FROM k3
        |WHERE $mixtureWhereSql""".stripMargin) {
      (s, d) => curateStages(s, d).last._2
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // The pipeline's survivor accounting as its own gated readout: one
    // row per stage with the doc count entering the next stage — the
    // audit trail a production curation run publishes next to its
    // output (how much did quality cost, how much did the benchmark
    // holdout take, how aggressive was dedup, did mixture hit its
    // rates). The stage frames are the SAME formulations doc_curate
    // composes (shared helper), so this gate and the composition gate
    // can never drift apart. Plan: a union of one-row aggregates —
    // each branch a column-pruned scan/count, no new shuffle shapes.
    QuerySpec(
      "doc_curate_report",
      s"""$curateCtes,
        |m AS (SELECT doc_id FROM k3 WHERE $mixtureWhereSql)
        |SELECT 0 AS stage_ord, 'input' AS stage,
        |  (SELECT count(*) FROM documents) AS n_docs
        |UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM k1)
        |UNION ALL SELECT 2, 'holdout',
        |  (SELECT count(*) FROM k1 WHERE source <> 'src0')
        |UNION ALL SELECT 3, 'decontaminate', (SELECT count(*) FROM k2)
        |UNION ALL SELECT 4, 'dedup', (SELECT count(*) FROM k3)
        |UNION ALL SELECT 5, 'mixture', (SELECT count(*) FROM m)"""
        .stripMargin) { (s, d) =>
      // Three aggregates instead of six count branches (guide §1.2
      // step 1): input/quality/holdout counts come from ONE scan of
      // the documents table with the quality predicate evaluated once
      // as a flag (previously the k1 recompute ran the quality chain
      // twice — once for the quality count, once for the holdout
      // count); dedup/mixture counts share ONE scan of k3 with the
      // per-row mixture predicate as a flag (previously the keep-list
      // aggregate ran twice). Counts and stage labels are unchanged.
      val st = curateStages(s, d).toMap
      val dAgg = st("input").agg(
        count(lit(1)).as("n_input"),
        coalesce(sum(when(curateQualityCond, 1L).otherwise(0L)), lit(0L))
          .as("n_quality"),
        coalesce(sum(when(curateQualityCond &&
          col("source") =!= "src0", 1L).otherwise(0L)), lit(0L))
          .as("n_holdout"))
      val k2Agg = st("decontaminate").agg(count(lit(1)).as("n_k2"))
      val k3Agg = st("dedup").agg(count(lit(1)).as("n_k3"),
        coalesce(sum(when(curateMixCond, 1L).otherwise(0L)), lit(0L))
          .as("n_m"))
      dAgg.crossJoin(k2Agg).crossJoin(k3Agg)
        .select(expr(
          "stack(6, 0, 'input', n_input, 1, 'quality', n_quality, " +
            "2, 'holdout', n_holdout, 3, 'decontaminate', n_k2, " +
            "4, 'dedup', n_k3, 5, 'mixture', n_m) " +
            "AS (stage_ord, stage, n_docs)"))
    },

    // Row-level drop audit — the rejects side-channel of the curation
    // pipeline: every document that did NOT survive, labeled with the
    // FIRST stage that dropped it. Production pipelines publish this
    // next to the corpus (compliance evidence: WHY is a document
    // absent — failed quality, held out as benchmark, contaminated,
    // duplicate, or sampled out), the row-level complement to
    // doc_curate_report's counts. Same shared stage frames; the labels
    // are presence flags from doc_id-keyed left joins — each a hash
    // join on the key, no new shuffle shapes.
    QuerySpec(
      "doc_curate_rejects",
      s"""$curateCtes,
        |m AS (SELECT doc_id FROM k3 WHERE $mixtureWhereSql)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM k1) THEN 'quality'
        |       WHEN d.source = 'src0' THEN 'holdout'
        |       WHEN d.doc_id NOT IN (SELECT doc_id FROM k2) THEN 'contaminated'
        |       WHEN d.doc_id NOT IN (SELECT doc_id FROM k3) THEN 'duplicate'
        |       ELSE 'mixture' END AS reason
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM m)""".stripMargin) {
      (s, d) =>
      // Single-pass flag audit (guide §1.2 step 1): the quality and
      // mixture predicates are PER-ROW on (doc_id, source, text), so
      // they evaluate once as flag columns on the input scan instead
      // of re-deriving the k1 and m stage frames for presence joins
      // (the quality chain and the keep-list aggregate each ran twice
      // before). Only k2 (the pinned decontaminated survivor set) and
      // k3 (its keep-list semi-join) remain presence flags. A doc is
      // outside m iff it is outside k3 or fails the mixture draw;
      // reason semantics unchanged.
      val st = curateStages(s, d).toMap
      st("input")
        .select(col("doc_id"), col("source"),
          // NULL-safe: a NULL quality verdict (NULL text) is a drop,
          // the oracle's NOT IN (k1) answer
          coalesce(curateQualityCond, lit(false)).as("in_k1"),
          curateMixCond.as("mix_ok"))
        .join(st("decontaminate").select(col("doc_id"),
          lit(true).as("in_k2")), Seq("doc_id"), "left")
        .join(st("dedup").select(col("doc_id"), lit(true).as("in_k3")),
          Seq("doc_id"), "left")
        .filter(col("in_k3").isNull || !col("mix_ok"))
        .select(col("doc_id"),
          when(!col("in_k1"), "quality")
            .when(col("source") === "src0", "holdout")
            .when(col("in_k2").isNull, "contaminated")
            .when(col("in_k3").isNull, "duplicate")
            .otherwise("mixture").as("reason"))
    },

    // Leak-free train/test split — split hygiene: a random split leaks
    // whenever a test document's near-duplicate lands in train (the
    // model "memorizes" the eval set through its twin; the reason
    // published pipelines decontaminate their own splits, not just
    // external benchmarks). Base assignment is content-keyed md5
    // (deterministic across reruns/cluster sizes, like doc_shard);
    // every test doc with a ≥0.8-Jaccard partner in train — including
    // exact twins, Jaccard 1 — is demoted to 'leak_dropped'. Pair
    // generation is the existing blocked shingle machinery
    // (Dedup.ngramPairs — never all-pairs); the repair itself is one
    // semi join keyed by the peer id plus a doc_id-keyed flag join.
    QuerySpec(
      "doc_split_leakfree",
      s"""${Dedup.shingleCte},
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |prs AS (SELECT doc_a, doc_b FROM inter
         |        JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         |        WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8),
         |base AS (SELECT doc_id,
         |    substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
         |      IN ('0', '1', '2') AS is_test
         |  FROM documents),
         |edges AS (SELECT doc_a AS doc_id, doc_b AS peer FROM prs
         |          UNION ALL SELECT doc_b, doc_a FROM prs),
         |leak AS (SELECT DISTINCT e.doc_id FROM edges e
         |         JOIN base b ON b.doc_id = e.doc_id AND b.is_test
         |         JOIN base p ON p.doc_id = e.peer AND NOT p.is_test)
         |SELECT d.doc_id,
         |  CASE WHEN l.doc_id IS NOT NULL THEN 'leak_dropped'
         |       WHEN b.is_test THEN 'test' ELSE 'train' END AS split
         |FROM documents d JOIN base b ON b.doc_id = d.doc_id
         |LEFT JOIN leak l ON l.doc_id = d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = docs.select(col("doc_id"),
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))),
          1, 1).isin("0", "1", "2").as("is_test"))
      // Materialized ONCE before fanning out to both orientations —
      // the Dedup.connectedComponents guard: a union of two
      // projections of the un-checkpointed frame re-runs the whole
      // candidate-generation pipeline (shingle explode, df-cap,
      // self-join) twice (guide §1.2 step 1).
      val pairs = Dedup.ngramPairs(docs)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val edges = pairs
        .union(pairs.select(col("doc_b"), col("doc_a")))
        .toDF("doc_id", "peer")
      val trainPeers = base.filter(!col("is_test"))
        .select(col("doc_id").as("peer"))
      val leaked = edges
        .join(trainPeers, Seq("peer"), "left_semi")
        .join(base.filter(col("is_test")).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id")).distinct()
      base
        .join(leaked.withColumn("lk", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("lk") === 1, "leak_dropped")
            .when(col("is_test"), "test")
            .otherwise("train").as("split"))
    },

    // Deterministic output sharding: the last stage of a training-data
    // pipeline writes N shards whose membership must be stable across
    // reruns and cluster sizes — so the shard key derives from CONTENT
    // identity (md5 of the doc id), never from partition order or
    // round-robin. One map-side-combined shuffle on shard_id; the
    // readout (counts, char volume, id range per shard) doubles as the
    // balance check a 100-TB writer would assert before publishing.
    // Portability: both engines parse the same 6 md5 hex chars (24 bits
    // — exact in every integer type) and take them mod 32.
    QuerySpec(
      "doc_shard",
      """SELECT shard_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (SELECT doc_id, n_chars,
        |        CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 6))::UBIGINT % 32 AS BIGINT) AS shard_id
        |      FROM documents)
        |GROUP BY shard_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("shard_id",
          graft.functions.Md5Long.md5_prefix(concat(lit("shard:"),
            col("doc_id").cast("string")), 6) % 32)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    },

    // Sliding-window chunking with overlap — the RAG / embedding-prep
    // op: every document splits into 64-token windows on a 48-token
    // stride (16 tokens of overlap, so no retrieval-relevant span is
    // ever cut without a copy that keeps it whole), each chunk
    // published with its token count and a content fingerprint (the
    // downstream embed step's dedup/cache key — overlapping chunks of
    // IDENTICAL text collide on it, the point of fingerprinting before
    // paying an embedding call). Pure in-row work: one explode of the
    // start sequence per document, chunk text via array slice, NO
    // shuffle anywhere — at 100 TB this is a map-only pass whose
    // output lands partitioned however the scan was. Chunk starts,
    // slice truncation at document end, and the space-join feeding the
    // fingerprint are integer/string-exact in both engines.
    QuerySpec(
      "doc_chunk_overlap",
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |           FROM documents),
        |c AS (SELECT doc_id, lang, ws,
        |        CAST(s AS BIGINT) AS s FROM w,
        |        unnest(range(1, len(ws) + 1, 48)) t(s))
        |SELECT doc_id, lang,
        |  CAST((s - 1) // 48 AS INT) AS chunk_idx,
        |  CAST(least(64, len(ws) - s + 1) AS INT) AS n_tokens,
        |  md5(list_aggregate(ws[s:s+63], 'string_agg', ' ')) AS fp
        |FROM c""".stripMargin) { (s, d) =>
      val w = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), w.as("ws"))
        .select(col("doc_id"), col("lang"), col("ws"),
          explode(sequence(lit(1), greatest(size(col("ws")), lit(1)),
            lit(48))).as("s"))
        .select(col("doc_id"), col("lang"),
          ((col("s") - 1) / 48).cast("int").as("chunk_idx"),
          least(lit(64), size(col("ws")) - col("s") + 1).cast("int")
            .as("n_tokens"),
          md5(array_join(slice(col("ws"), col("s"), lit(64)), " "))
            .as("fp"))
    }
  )
}
