package graft.operators

import graft.{QuerySpec, Tables}
import graft.index.{Delete, Fixture, Fold, FoldProtocol, IndexKind, Merge, Refresh, Seed, Step, Vacuum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — the right plan when |queries| ≪ |corpus|, since it is a
  * single shuffle-free map + a per-query top-k).
  *
  * Scale path: IVF — assign every vector to its nearest of K deterministic
  * centroids (broadcast K×dim), then probe only the `nprobe` closest cells
  * per query. Corpus cost drops from O(N·Q) to O(N·K/K + Q·nprobe·N/K);
  * the cell assignment is also the natural partitioning key for a 100 TB
  * corpus (one shuffle, then co-located probes).
  *
  * Float determinism for the oracle: dot products fold sequentially over
  * the array (zip_with + aggregate), ranks are computed on 4-dp-rounded
  * similarity with vec_id tie-break, and raw floats never appear in query
  * output — only (query, neighbor, rank).
  */
object Similarity {

  /** Cosine similarity — the codegen'd custom expression
    * (`graft.functions.CosineSim`); float inputs consumed directly.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  /** Double-accumulated dot product (`graft.functions.DotProduct`) —
    * the sign-stable kernel SRP-LSH band bits ride on.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  /** Corpus vectors. Kept as raw array<float> (CosineSim reads floats
    * natively — no cast pre-pass); fanned out to the session's
    * parallelism ONLY when the scan is narrow (Par.fanOut) — the driver
    * files are single-digit-MB single splits, which would pin all
    * similarity compute to one task, while a real multi-TB corpus scan
    * already yields thousands of splits and gets no exchange at all.
    */
  private[operators] def corpus(s: SparkSession, d: String): DataFrame =
    Par.fanOut(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"), col("embedding").as("v"))

  /** Nearest-`n` centroid assignment, shuffle-free: the K centroids
    * ride ONE row carrying a (cent_id, cv) array, and each vector ranks
    * all K in-row (sort of a K-element array) — assignment is pure map
    * work. The previous formulation windowed over a vec_id-keyed
    * exchange of N×K candidate rows, each dragging the 64-float vector:
    * ~20× data amplification through a shuffle for what is row-local
    * arithmetic, and at corpus scale the difference between an
    * exchange-free scan and the biggest shuffle in the IVF build.
    * Ranking matches the window form exactly (rounded cosine desc,
    * cent_id tie-break, including the -0.0 edge: negation keeps
    * Double.compare order).
    *
    * The one-row `cs` frame has two sources and this one kernel ranks
    * both: centroids computed inside the query ([[centsRow]] of a Lloyd
    * step or a seed frame) and a persisted index's frozen [[Centroids]]
    * (read once per call onto the driver). Output: (vec_id, v,
    * cent_id, prank) with prank 1..n — the frame the nprobe tuning
    * curve slices.
    */
  private def assignRanked(vecs: DataFrame, cs: DataFrame,
      n: Int): DataFrame =
    vecs.crossJoin(cs)
      .select(col("vec_id"), col("v"),
        slice(array_sort(transform(col("cs"), c =>
          struct((round(cosine(col("v"), c("cv")), 4) * -1).as("nsim"),
            c("cent_id").as("cent_id")))), 1, n).as("top"))
      .select(col("vec_id"), col("v"),
        posexplode(col("top")).as(Seq("pos", "sc")))
      .select(col("vec_id"), col("v"), col("sc.cent_id").as("cent_id"),
        (col("pos") + 1).as("prank"))

  /** The one-row centroid frame of centroids computed inside a query:
    * their group-less `collect_list`. It carries NO broadcast hint: it
    * is ONE row, but its bytes grow with the centroid count (K×dim
    * doubles inside a collect_list buffer — K here scales as N/25), so
    * the broadcast decision belongs to AQE's runtime size check. The
    * planner still picks a broadcast nested-loop join while the row is
    * small (the group-less aggregate's 1-row size estimate), and falls
    * back once it is not — the same policy as every corpus-derived
    * build side.
    */
  private def centsRow(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cent_id"), col("cv"))).as("cs"))

  private def assign(vecs: DataFrame, cents: DataFrame, n: Int): DataFrame =
    assignRanked(vecs, centsRow(cents), n).drop("prank")

  /** [[assign]] against a persisted index's frozen centroids. */
  private def assign(vecs: DataFrame, cents: Centroids, n: Int): DataFrame =
    assignRanked(vecs, cents.row(vecs.sparkSession), n).drop("prank")

  private val CentsSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "cent_id BIGINT, cv ARRAY<DOUBLE>")
  private val CsSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "cs ARRAY<STRUCT<cent_id: BIGINT, cv: ARRAY<DOUBLE>>>")

  /** A persisted index's frozen centroids, read ONCE per call onto the
    * driver: K `(cent_id, cv)` rows, K × dim doubles — the bytes the
    * aggregated one-row form already carried to every executor. Every
    * use in the call takes this one value: the serve's probes, a fold's
    * assignment, a refresh's drift gate and re-bin, a build's `cents/`
    * write and assignment. So `cents/` is scanned once and no centroid
    * aggregate runs. [[row]] reaches each executor once, as the
    * broadcast side of the assignment's nested-loop join (a hinted
    * one-row local relation), never as a plan literal carried by every
    * task. A build's collected values are exactly what its `cents/`
    * files hold (a double round-trips through parquet unchanged), so
    * the vectors are assigned against the values later probes read.
    */
  private final class Centroids(rows: Seq[org.apache.spark.sql.Row]) {
    def size: Int = rows.size

    /** The K rows as a local `(cent_id, cv)` frame. */
    def frame(s: SparkSession): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), CentsSchema)

    /** The one-row `cs` frame [[assignRanked]] ranks against. */
    def row(s: SparkSession): DataFrame =
      broadcast(s.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(rows)), CsSchema))

    /** Lands the K rows as one parquet file at `dir`. */
    def write(s: SparkSession, dir: String): Unit =
      frame(s).coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(dir)
  }

  private object Centroids {
    /** The frozen centroids of the index root at `path`. */
    def of(s: SparkSession, path: String): Centroids =
      collected(readCents(s, protocol(path).dir("cents")))

    /** Centroids computed by a build or refresh, collected once. */
    def collected(cents: DataFrame): Centroids =
      new Centroids(cents.select(col("cent_id").cast("long"),
        col("cv").cast("array<double>")).collect().toSeq)
  }

  /** One Lloyd (k-means) iteration: assign every vector to its nearest
    * seed, replace each seed with its cell's element-wise mean. The
    * posexplode/groupBy shape is the standard distributed k-means step —
    * one shuffle keyed by (cell, dim).
    */
  private def lloydStep(vecs: DataFrame, seeds: DataFrame): DataFrame =
    cellMeans(assign(vecs, seeds, 1))

  /** [[lloydStep]] from a persisted index's frozen centroids. */
  private def lloydStep(vecs: DataFrame, cents: Centroids): DataFrame =
    cellMeans(assign(vecs, cents, 1))

  private def cellMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cent_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cent_id"), col("dim"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("cent_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("pairs"))
      .select(col("cent_id"), transform(col("pairs"), p => p("cx")).as("cv"))

  private val TopK = 5
  private val NQueries = 20 // vec_id < 20 are the query set

  // ---- shared oracle CTE fragments (composed per query so sim_topk,
  // sim_ivf and sim_ivf_recall stay textually in sync) ----

  private val eCte =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** Brute-force exact top-k → CTE `topk(query_id, neighbor_id, rank)`. */
  private val topkCtes: String =
    s"""q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |bscored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qv, e.v), 4) AS sim
       |  FROM q JOIN e ON e.vec_id <> query_id),
       |topk AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM bscored) WHERE rank <= $TopK)""".stripMargin

  /** [[topkCtes]] with the exact side restricted to an allowed
    * neighbor set — the baseline a FILTERED recall gate compares
    * against (recall is measured within the slice, like the filtered
    * exact search the user would otherwise run).
    */
  private def topkCtesOver(neighborWhere: String): String =
    s"""q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |bscored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qv, e.v), 4) AS sim
       |  FROM q JOIN e ON e.vec_id <> query_id AND ($neighborWhere)),
       |topk AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM bscored) WHERE rank <= $TopK)""".stripMargin

  /** IVF approximate top-k → CTE `ivf(query_id, neighbor_id, rank)`.
    * `neighborWhere` restricts which assigned vectors may be SERVED as
    * neighbors (centroids, assignments and probes are untouched) — the
    * oracle-side mirror of a tombstoned delete batch.
    */
  private def ivfCtesOver(neighborWhere: String): String =
    ivfCtesSeeded(
      "SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 25 = 0",
      neighborWhere)

  /** The seed→Lloyd→assign→probe half of the IVF construction, seed
    * set pluggable — shared verbatim by the scored IVF CTEs below and
    * by the IVF-PQ oracle (which swaps the SCORING side for ADC over
    * the PQ-reconstructed vectors but probes the identical cells).
    */
  private def ivfAssignCtes(seedsSql: String, nprobe: Int = 4,
      keepProbeRank: Boolean = false): String = {
    val probeCols = if (keepProbeRank)
      "vec_id AS query_id, v AS qv, cent_id, rn AS prank"
    else "vec_id AS query_id, v AS qv, cent_id"
    s"""seeds AS ($seedsSql),
       |a0 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, s.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
       |    FROM e, seeds s) WHERE rn = 1),
       |cd AS (SELECT cent_id, d, avg(v[d]) AS cx
       |       FROM a0, range(1, 65) t(d) GROUP BY cent_id, d),
       |cents AS (SELECT cent_id, list(cx ORDER BY d) AS cv FROM cd GROUP BY cent_id),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM e, cents c) WHERE rn = 1),
       |probes AS (SELECT $probeCols FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM e, cents c WHERE e.vec_id < $NQueries) WHERE rn <= $nprobe)""".stripMargin
  }

  /** Same construction with the seed set pluggable (the bounded-K gate
    * swaps in the hash-ordered LIMIT sample).
    */
  private def ivfCtesSeeded(seedsSql: String,
      neighborWhere: String): String =
    s"""${ivfAssignCtes(seedsSql)},
       |iscored AS (SELECT p.query_id, a1.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, a1.v), 4) AS sim
       |  FROM probes p JOIN a1 ON p.cent_id = a1.cent_id AND a1.vec_id <> p.query_id
       |  WHERE $neighborWhere),
       |ivf AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM iscored) WHERE rank <= $TopK)""".stripMargin

  private val ivfCtes: String = ivfCtesOver("TRUE")

  /** The multi-round trained-IVF oracle: [[lloydTrain]]'s integer-
    * exact recurrence unrolled as chained CTEs (the PageRank oracle
    * convention — DuckDB bars aggregation in recursive CTEs), then the
    * standard probe/score/rank serve over the round-`rounds` centroids.
    * Each round: assign to the previous centroids on 4-dp-rounded
    * cosine (cent_id tie-break), then
    * `floor(sum(round(v[d]·1e9)) / count)` per (cell, dim) — BIGINT
    * sums are order-free, so both engines land bit-identical centroid
    * chains. Centroid CTEs are MATERIALIZED: each is referenced by the
    * next round's assignment (and the last by serve + probes), and
    * un-pinned chains re-inline multiplicatively.
    */
  private def ivfTrainedCtes(rounds: Int, nprobe: Int = 4): String = {
    def assignTo(c: String, name: String) =
      s"""$name AS (SELECT vec_id, v, cent_id FROM (
         |    SELECT e.vec_id, e.v, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
         |    FROM e, $c c) WHERE rn = 1)""".stripMargin
    val roundBlocks = (1 to rounds).map { r =>
      s"""${assignTo(s"tc${r - 1}", s"ta$r")},
         |tm$r AS (SELECT cent_id, d,
         |    CAST(floor(CAST(sum(CAST(round(v[d] * 1000000000.0) AS BIGINT))
         |      AS DOUBLE) / count(*)) AS BIGINT) AS cx
         |  FROM ta$r, range(1, 65) t(d) GROUP BY cent_id, d),
         |tc$r AS MATERIALIZED (SELECT cent_id,
         |    list(cx / 1000000000.0 ORDER BY d) AS cv
         |  FROM tm$r GROUP BY cent_id)""".stripMargin
    }.mkString(",\n")
    s"""tc0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 25 = 0),
       |$roundBlocks,
       |${assignTo(s"tc$rounds", "taf")},
       |tprobes AS (SELECT vec_id AS query_id, v AS qv, cent_id FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM e, tc$rounds c WHERE e.vec_id < $NQueries) WHERE rn <= $nprobe),
       |tscored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, a.v), 4) AS sim
       |  FROM tprobes p JOIN taf a
       |    ON p.cent_id = a.cent_id AND a.vec_id <> p.query_id),
       |tivf AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM tscored) WHERE rank <= $TopK)""".stripMargin
  }

  /** The nprobe tuning-curve oracle: one widest-probe candidate CTE
    * (probe rank kept), ranked per nprobe slice — the same composition
    * the engine runs.
    */
  private def probeCurveSql: String = {
    val ps = Seq(1, 2, 4, 8)
    val blocks = ps.map { p =>
      s"""ivf$p AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM cand WHERE prank <= $p) WHERE rank <= $TopK),
         |c$p AS (SELECT CAST($p AS BIGINT) AS nprobe,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_common
         |  FROM topk t LEFT JOIN ivf$p i
         |    ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $eCte,
       |$topkCtes,
       |${ivfAssignCtes(
           "SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 25 = 0",
           nprobe = 8, keepProbeRank = true)},
       |cand AS (SELECT p.query_id, a1.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, a1.v), 4) AS sim, p.prank
       |  FROM probes p JOIN a1 ON p.cent_id = a1.cent_id
       |                       AND a1.vec_id <> p.query_id),
       |$blocks
       |SELECT * FROM c1 UNION ALL SELECT * FROM c2
       |UNION ALL SELECT * FROM c4 UNION ALL SELECT * FROM c8""".stripMargin
  }

  /** Top-k per query over any (vec_id, v) frame: queries are vec_id <
    * NQueries, broadcast against one corpus scan, ranked on 4-dp-rounded
    * cosine with neighbor-id tie-break.
    *
    * Ranking is the bounded-state `top_k` aggregate, not a window: a
    * `row_number() OVER (PARTITION BY query_id ...)` cannot partially
    * aggregate, so every scored (query, neighbor) row — |corpus| rows
    * PER QUERY — crosses the exchange to be sorted in one task. The
    * aggregate keeps k pairs per (query, partition) and merges map-side:
    * the shuffle carries k-element buffers, |corpus|/k× less traffic,
    * identical ranking semantics (score desc, id tie-break).
    */
  private def topkOf(e: DataFrame): DataFrame = {
    // limit(NQueries) is a semantic no-op (vec_id is unique, so the
    // filter already yields ≤ NQueries rows) that makes the query set's
    // boundedness STRUCTURAL: the broadcast hint on this non-equi join
    // is provably safe because a GlobalLimit caps the build side no
    // matter how the corpus grows — the property the PlanSpec hazard
    // sweep keys on (a bare filter doesn't bound cardinality in general).
    val q = e.filter(col("vec_id") < NQueries).limit(NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
    rankTopK(scored)
  }

  /** The RANGE-search similarity bar — matches `sim_threshold_sweep`'s
    * justified 0.4 semantic-dup threshold, so the radius gates measure
    * the same neighborhood the dedup path acts on.
    */
  private val RadiusTau = 0.4

  private def radiusQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NQueries).limit(NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  /** Exact cosine RANGE search: every (query, neighbor) pair at
    * rounded similarity ≥ τ — all neighbors, not a fixed k, which is
    * what takedown sweeps and near-dup audits actually ask. One
    * corpus scan against the GlobalLimit-capped broadcast query set
    * (the `topkOf` plan), no shuffle at all; also the certified
    * baseline the cell-blocked variant measures against.
    */
  def bruteRadius(s: SparkSession, d: String): DataFrame = {
    val e = corpus(s, d)
    e.join(broadcast(radiusQueries(e)), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
      .filter(col("sim") >= RadiusTau)
  }

  /** Cell-blocked RANGE search with its recall certified per query:
    * candidates come only from each query's nprobe cells (the sim_ivf
    * construction — at corpus scale the scan touches nprobe/K of the
    * data), the radius filter runs on the candidates, and the readout
    * compares against the exact count: (query, n_exact, n_found,
    * recall). Deterministic given the fixed seeds, so the oracle
    * recomputes both sides exactly — the `sim_ivf_recall` convention
    * for the range-query class.
    */
  def ivfRadiusRecall(s: SparkSession, d: String): DataFrame = {
    val e = corpus(s, d)
    val seeds = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val cents = lloydStep(e, seeds).cache()
    val assigned = assign(e, cents, 1)
      .select(col("vec_id"), col("v"), col("cent_id"))
    val probes = assign(
      radiusQueries(e).withColumnRenamed("query_id", "vec_id")
        .withColumnRenamed("qv", "v"), cents, 4)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("cent_id"))
    val found = probes.join(assigned, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
      .filter(col("sim") >= RadiusTau)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_found"))
    val exact = bruteRadius(s, d)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
    exact.join(found, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        round(coalesce(col("n_found"), lit(0L)).cast("double") /
          col("n_exact"), 4).as("recall"))
  }

  /** Late-interaction (MaxSim / ColBERT-style) retrieval: a "document"
    * is a GROUP of chunk vectors (vec_id DIV 4 → 4 chunks each), and
    * score(q, d) = Σ over q's chunks of the max cosine against d's
    * chunks — the multi-vector scoring that beats single-vector
    * retrieval when relevance is local to a passage. Integer-exact
    * cross-engine: each PAIR cosine rounds to a 1e4-scaled BIGINT
    * before max/sum (both reductions order-free on integers), so
    * accumulation order can never flip a rank. Plan: one corpus-chunk
    * scan against the GlobalLimit-capped broadcast query chunks (the
    * topkOf shape), then two map-side-combining aggregates (per-
    * (q,d,qc) max, per-(q,d) sum) and a query-partitioned top-5 cut.
    */
  def maxSimTopK(s: SparkSession, d: String): DataFrame = {
    val ch = corpus(s, d)
      .select((col("vec_id") / 4).cast("long").as("doc_id"),
        col("vec_id"), col("v"))
    val qc = ch.filter(col("doc_id") < 5).limit(20)
      .select(col("doc_id").as("query_doc"), col("vec_id").as("qcid"),
        col("v").as("qv"))
    val pairs = ch.join(broadcast(qc), col("doc_id") =!= col("query_doc"))
      .select(col("query_doc"), col("qcid"), col("doc_id"),
        round(cosine(col("qv"), col("v")) * 10000).cast("long").as("s"))
    val sc = pairs
      .groupBy(col("query_doc"), col("doc_id"), col("qcid"))
      .agg(max(col("s")).as("m"))
      .groupBy(col("query_doc"), col("doc_id"))
      .agg(sum(col("m")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_doc"))
      .orderBy(col("score").desc, col("doc_id"))
    sc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_doc"), col("doc_id"), col("score"), col("rank"))
  }

  /** Integer DCG weights for ranks 1..TopK and their cumulative sums —
    * driver-side literals shared by both engines (the text_rank_eval
    * convention: no cross-engine log2 reliance).
    */
  private val DenseWeights: Seq[Long] = (1 to TopK).map(r =>
    math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))
  private val DenseCumWeights: Seq[Long] =
    DenseWeights.scanLeft(0L)(_ + _).drop(1)

  /** Dense-retrieval evaluation — the `text_rank_eval` harness on the
    * ANN side: the brute top-k ranking graded by LABEL relevance (the
    * attribute the cosine ranker never sees, so the metrics measure
    * embedding quality, not the scorer's own objective): per query
    * nDCG@k from exact integer DCG/IDCG, first relevant rank, and
    * recall@k against min(k, class size).
    */
  def denseRankEval(s: SparkSession, d: String): DataFrame = {
    val ranked = bruteTopK(s, d)
    val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val ql = lbl.filter(col("vec_id") < NQueries).limit(NQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val rk = ranked
      .join(lbl.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .join(ql, Seq("query_id"))
      .withColumn("grade",
        when(col("label") === col("qlabel"), 1L).otherwise(0L))
    val w = typedLit(DenseWeights)
    val dcg = rk.groupBy(col("query_id"))
      .agg(sum(col("grade") * element_at(w, col("rank"))).as("dcg"),
        min(when(col("grade") >= 1, col("rank")))
          .cast("long").as("first_rel"),
        sum(col("grade")).as("rel_topk"))
    val nrel = ql.join(lbl,
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val idcg = element_at(typedLit(DenseCumWeights),
      least(lit(TopK.toLong), col("n_rel")).cast("int"))
    dcg.join(nrel, Seq("query_id"))
      .filter(col("n_rel") >= 1)
      .select(col("query_id"), col("n_rel"), col("first_rel"),
        col("rel_topk"), col("dcg"), idcg.as("idcg"),
        round(col("dcg").cast("double") / idcg, 4).as("ndcg"),
        round(col("rel_topk").cast("double") /
          least(lit(TopK.toLong), col("n_rel")), 4).as("recall_topk"))
  }

  /** (query_id, neighbor_id, sim) → (query_id, neighbor_id, rank ≤ k)
    * via the bounded top-k aggregate; rank = 1-based position best-first.
    */
  private def rankTopK(scored: DataFrame, k: Int = TopK): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k(
        col("sim"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sc")))
      .select(col("query_id"), col("sc.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))

  /** IVF over a GROWN index → CTE `ivfg(query_id, neighbor_id, rank)`:
    * centroids trained on the history wave only (vec_id % 5 ≠ 4, same
    * seeds + one Lloyd step), ALL vectors assigned to those frozen
    * centroids — exactly what writeIvfIndex-then-appendToIvfIndex
    * produces, so the oracle certifies the incremental fold itself.
    */
  /** The history-frozen half of the grown construction: centroids
    * trained on the history wave only (vec_id % 5 ≠ 4, same seeds + one
    * Lloyd step), ALL vectors assigned to them → CTE
    * `a1(vec_id, v, cent_id)`. Shared by the grown serve CTEs and the
    * cell-drift gate (which histograms the same assignment instead of
    * scoring it).
    */
  /** The hash-ordered LIMIT-k seed CTE text — the oracle mirror of
    * [[fixedKSeeds]], `FROM` frame and k pluggable (the bounded-K
    * gates compose it over the full corpus `e` or the grown gates'
    * history wave `hist`, at [[FixedK]] or the [[FixedKWide]] knob).
    */
  private def fixedKSeedSql(from: String, k: Int): String =
    s"""SELECT vec_id AS cent_id, v AS cv FROM $from
       |  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
       |  LIMIT $k""".stripMargin

  private def ivfGrownAssignCtesSeeded(seedsSql: String,
      histWhere: String = "vec_id % 5 <> 4"): String =
    s"""hist AS (SELECT vec_id, v FROM e WHERE $histWhere),
       |seeds AS ($seedsSql),
       |a0 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT h.vec_id, h.v, s.cent_id,
       |      row_number() OVER (PARTITION BY h.vec_id
       |        ORDER BY round(list_cosine_similarity(h.v, s.cv), 4) DESC, s.cent_id) AS rn
       |    FROM hist h, seeds s) WHERE rn = 1),
       |cd AS (SELECT cent_id, d, avg(v[d]) AS cx
       |       FROM a0, range(1, 65) t(d) GROUP BY cent_id, d),
       |cents AS (SELECT cent_id, list(cx ORDER BY d) AS cv FROM cd GROUP BY cent_id),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM e, cents c) WHERE rn = 1)""".stripMargin

  /** The float grown gates' instantiation: every-25th seeds over the
    * history wave (the float index's [[writeIvfIndex]] default). The
    * PQ grown gates compose [[fixedKSeedSql]] over `hist` instead —
    * the bounded-K default their fixtures build with.
    */
  private val ivfGrownAssignCtes: String =
    ivfGrownAssignCtesSeeded(
      "SELECT vec_id AS cent_id, v AS cv FROM hist WHERE vec_id % 25 = 0")

  /** The query-probe CTE over whatever `cents` frame precedes it —
    * shared by the grown-index serve oracles (float and PQ).
    */
  private val ivfGrownProbesCte: String =
    s"""probes AS (SELECT vec_id AS query_id, v AS qv, cent_id FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM e, cents c WHERE e.vec_id < $NQueries) WHERE rn <= 4)""".stripMargin

  /** The frozen-centroid serve oracle, history predicate pluggable:
    * centroids trained on the `histWhere` slice only (every-25th seeds
    * + one Lloyd step), ALL vectors assigned to them, probes + rank →
    * CTE `ivfg`. Instantiated by the grown gates (hist = the pre-append
    * wave) and the merged gate (hist = the primary root's crawl).
    */
  private def ivfFrozenCtesOver(histWhere: String,
      neighborWhere: String = "TRUE"): String =
    s"""${ivfGrownAssignCtesSeeded(
         "SELECT vec_id AS cent_id, v AS cv FROM hist WHERE vec_id % 25 = 0",
         histWhere)},
       |$ivfGrownProbesCte,
       |iscored AS (SELECT p.query_id, a1.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, a1.v), 4) AS sim
       |  FROM probes p JOIN a1 ON p.cent_id = a1.cent_id AND a1.vec_id <> p.query_id
       |  WHERE $neighborWhere),
       |ivfg AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM iscored) WHERE rank <= $TopK)""".stripMargin

  private def ivfGrownCtesOver(neighborWhere: String): String =
    ivfFrozenCtesOver("vec_id % 5 <> 4", neighborWhere)

  private val ivfGrownCtes: String = ivfGrownCtesOver("TRUE")

  /** Build-if-absent the GROWN index: history wave (vec_id % 5 ≠ 4)
    * seeds the build, the increment folds in through
    * [[appendToIvfIndex]] — the gated proof that incremental index
    * growth serves the same answers as the frozen-centroid construction
    * recomputed from scratch (the `sim_ivf_grown` oracle).
    */
  def ensureGrownIvfIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_grown", IvfKind, vecWaves(s, d, 0L)).ensure(s, d)

  /** Merge two independently-built IVF roots into ONE servable root —
    * the cross-root union the fold protocol lacked (two crawls, two
    * datacenters, a backfill built offline). The PRIMARY root's
    * centroids survive unchanged, so its corpus keeps its build-time
    * cell assignment verbatim; the SECONDARY root's committed
    * (tombstone-stripped) vectors are re-homed into those frozen
    * centroids through the SAME assignment kernel the grow path uses
    * ([[stageIvfFold]]'s assign), landing as ledgered fold b0 with a
    * `merged-from=` provenance line. Serving the merged root is
    * therefore result-identical to the frozen-centroid construction
    * over the union corpus — exactly what `sim_ivf_merged`'s oracle
    * recomputes from the raw tables.
    *
    * Direction matters only for cost, not correctness: re-homing pays
    * O(|secondary| × K) map-side centroid rankings, so the smaller
    * root should be secondary. `dest` is a fresh staging root
    * (ensurePublishedDir publishes it atomically); the primary copy is
    * one partitioned write — at 100 TB an in-place variant folds the
    * secondary straight into the primary root with the identical
    * kernel and skips the copy.
    */
  def mergeIvfIndexes(s: SparkSession, primary: String,
      secondary: String, dest: String): Unit = {
    // Resolve dest's kinds through the manifest like the other merge
    // kernels (mergeBm25Indexes/mergePostingsRoots): identical for a
    // fresh staging dest, but an in-place dest whose kinds were ever
    // published onto generations must land in the SERVED generation.
    readCents(s, protocol(primary).dir("cents"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(protocol(dest).dir("cents"))
    FoldProtocol.writePartitioned(indexVectors(s, primary),
      protocol(dest).dir("vectors") + "/seed", "cent_id")
    appendToIvfIndex(
      indexVectors(s, secondary).select(col("vec_id"), col("v")),
      dest, 0L)
    protocol(dest).commit("merged-from=" +
      s"${new org.apache.hadoop.fs.Path(primary).getName}+" +
      new org.apache.hadoop.fs.Path(secondary).getName)
  }

  /** Build-if-absent the merged-index gate fixture: two INDEPENDENT
    * roots (crawl A = vec_id % 3 ≠ 2, crawl B = the rest — each with
    * its own seeds, Lloyd step and cell layout), then
    * [[mergeIvfIndexes]] with A primary (the larger side keeps its
    * centroids; re-homing the smaller side is the cheap direction).
    */
  def ensureMergedIvfIndex(s: SparkSession, d: String): String = {
    lazy val e = corpus(s, d).select(col("vec_id"), col("v"))
    Fixture("graft_ivf_merged", IvfKind, Seq(Merge(
      Fixture("graft_ivf_src_a", IvfKind,
        Seq(Seed(e.filter(col("vec_id") % 3 =!= 2)))),
      Fixture("graft_ivf_src_b", IvfKind,
        Seq(Seed(e.filter(col("vec_id") % 3 === 2))))))).ensure(s, d)
  }

  /** Build-if-absent the DELETED-index gate fixture: the full corpus
    * indexed, then one committed delete batch (vec_id % 9 = 0)
    * tombstoned through [[deleteFromIvfIndex]].
    */
  def ensureDeletedIvfIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_del", IvfKind, Seq(vecSeed(s, d), Delete(0L,
      corpus(s, d).filter(col("vec_id") % 9 === 0).select(col("vec_id")))))
      .ensure(s, d)

  // ---- centroid-refresh gate fixture: a DELIBERATE distribution
  // shift. The append wave is the negated copy of every 5th-residue
  // vector (vec_id + 100000, v → −v): negation is exact in float, easy
  // for the oracle to mirror, and lands the appended mass in a region
  // the history-trained centroids never saw — the worst realistic case
  // for frozen-centroid growth. Queries come from BOTH populations, so
  // recall on the shifted half is what the refresh must win back. ----

  private def shiftedWave(s: SparkSession, d: String): DataFrame =
    corpus(s, d).filter(col("vec_id") % 5 === 4)
      .select((col("vec_id") + lit(100000L)).as("vec_id"),
        transform(col("v"), x => -x).as("v"))

  private def shiftQueries(s: SparkSession, d: String): DataFrame =
    corpus(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .union(shiftedWave(s, d).filter(col("vec_id") < 100100L)
        .select(col("vec_id").as("query_id"), col("v").as("qv")))

  /** Exact top-k of `queries` over an explicit corpus (the combined
    * original ∪ shifted population) — same broadcast-queries shape as
    * [[topkOf]], with the same structural bound on the build side.
    */
  private def exactTopKFor(corpus: DataFrame, queries: DataFrame): DataFrame =
    rankTopK(corpus
      .join(broadcast(queries.limit(2 * NQueries)),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim")))

  /** Build-if-absent the refresh-gate pair: BOTH indexes seed from the
    * original corpus and fold the shifted wave as one ledgered append;
    * the second then takes one [[refreshIvfIndex]] pass (refreshId 0,
    * no drift gate).
    */
  def ensureShiftIvfIndexes(s: SparkSession, d: String): (String, String) =
    (Fixture("graft_ivf_frozen", IvfKind, shiftScript(s, d, refresh = false))
      .ensure(s, d),
      Fixture("graft_ivf_refresh", IvfKind, shiftScript(s, d, refresh = true))
        .ensure(s, d))

  /** Oracle for `sim_ivf_refreshed`: recompute BOTH constructions —
    * frozen (centroids trained on the original corpus, everything
    * assigned to them) and refreshed (one more Lloyd step over the
    * combined population, everything reassigned) — plus the exact
    * top-k over the combined corpus, and emit per-query recall
    * numerators for each. Every ranking uses the module's rounded-
    * cosine/tie-break convention.
    */
  private val refreshedOracleSql: String =
    s"""WITH $eCte,
       |sh AS (SELECT vec_id + 100000 AS vec_id,
       |         list_transform(v, x -> -x) AS v
       |       FROM e WHERE vec_id % 5 = 4),
       |u AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM sh),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries
       |      UNION ALL
       |      SELECT vec_id AS query_id, v AS qv FROM sh WHERE vec_id < 100100),
       |bscored AS (SELECT query_id, u.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qv, u.v), 4) AS sim
       |  FROM q JOIN u ON u.vec_id <> query_id),
       |topk AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM bscored) WHERE rank <= $TopK),
       |seeds AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 25 = 0),
       |a0 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, s.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
       |    FROM e, seeds s) WHERE rn = 1),
       |cd AS (SELECT cent_id, d, avg(v[d]) AS cx
       |       FROM a0, range(1, 65) t(d) GROUP BY cent_id, d),
       |cents AS (SELECT cent_id, list(cx ORDER BY d) AS cv FROM cd GROUP BY cent_id),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT u.vec_id, u.v, c.cent_id,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_cosine_similarity(u.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM u, cents c) WHERE rn = 1),
       |fprobes AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM q, cents c) WHERE rn <= 4),
       |fscored AS (SELECT p.query_id, a1.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, a1.v), 4) AS sim
       |  FROM fprobes p JOIN a1 ON p.cent_id = a1.cent_id AND a1.vec_id <> p.query_id),
       |ivf_f AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM fscored) WHERE rank <= $TopK),
       |rcd AS (SELECT cent_id, d, avg(v[d]) AS cx
       |        FROM a1, range(1, 65) t(d) GROUP BY cent_id, d),
       |rcents AS (SELECT cent_id, list(cx ORDER BY d) AS cv FROM rcd GROUP BY cent_id),
       |a2 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT u.vec_id, u.v, c.cent_id,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_cosine_similarity(u.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM u, rcents c) WHERE rn = 1),
       |rprobes AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM q, rcents c) WHERE rn <= 4),
       |rscored AS (SELECT p.query_id, a2.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, a2.v), 4) AS sim
       |  FROM rprobes p JOIN a2 ON p.cent_id = a2.cent_id AND a2.vec_id <> p.query_id),
       |ivf_r AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM rscored) WHERE rank <= $TopK)
       |SELECT t.query_id,
       |  CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS frozen_common,
       |  CAST(sum(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS refreshed_common
       |FROM topk t
       |LEFT JOIN ivf_f f ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
       |LEFT JOIN ivf_r r ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id""".stripMargin

  /** Build-if-absent the full-lifecycle gate fixture: seed from the
    * history wave (vec_id % 5 ≠ 4), fold the remainder as a ledgered
    * append (batch 0), then tombstone vec_id % 9 = 0 as a ledgered
    * delete (batch 1) whose victims span BOTH waves.
    */
  def ensureEvolvedIvfIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_evolved", IvfKind, vecLifecycle(s, d, 0L, 1L))
      .ensure(s, d)

  /** Build-if-absent the AS-OF gate fixture: the evolved lifecycle
    * with ledger ids drawn from one increasing sequence at DISTINCT
    * dir orders — seed (order 0), fold `b1`, delete `d2` — so every
    * ledger id is a distinguishable snapshot horizon (the float
    * evolved fixture's 0/1 ids would alias the fold with the seed).
    */
  def ensureAsOfIvfIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_asof", IvfKind, vecLifecycle(s, d, 1L, 2L))
      .ensure(s, d)

  /** One horizon's ranked serve for the as-of oracle: the shared
    * grown-index assign/probe frames restricted to the candidates the
    * horizon may serve.
    */
  private def asofHorizonCte(name: String, horizon: Int,
      where: String): String =
    s"""$name AS (SELECT CAST($horizon AS BIGINT) AS horizon, query_id,
       |    neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM (SELECT p.query_id, a1.vec_id AS neighbor_id,
       |      round(list_cosine_similarity(p.qv, a1.v), 4) AS sim
       |    FROM probes p JOIN a1 ON p.cent_id = a1.cent_id
       |      AND a1.vec_id <> p.query_id
       |    WHERE $where)) WHERE rank <= $TopK)""".stripMargin

  /** Oracle for `sim_ivf_asof`: ONE shared index construction (the
    * history-trained grown chain — centroids never change across the
    * lifecycle), three candidate restrictions: horizon 0 = seed only
    * (the history wave), horizon 1 = seed + fold, horizon 2 = fold +
    * delete applied. Exactly what the ledger-scoped dir/tombstone
    * filters must reproduce.
    */
  private val asofOracleSql: String =
    s"""WITH $eCte,
       |$ivfGrownAssignCtes,
       |$ivfGrownProbesCte,
       |${asofHorizonCte("h0", 0, "a1.vec_id % 5 <> 4")},
       |${asofHorizonCte("h1", 1, "TRUE")},
       |${asofHorizonCte("h2", 2, "a1.vec_id % 9 <> 0")}
       |SELECT horizon, query_id, neighbor_id, rank FROM h0
       |UNION ALL SELECT horizon, query_id, neighbor_id, rank FROM h1
       |UNION ALL SELECT horizon, query_id, neighbor_id, rank FROM h2""".stripMargin

  /** The as-of float-IVF serve composition for the cross-index
    * consistent-horizon gate (`q_asof_matrix` in [[Retrieval]]): the
    * embeddings frame, the history-trained grown assignment
    * (hist/seeds/a0/cd/cents/a1 — exactly what `ensureAsOfIvfIndex`'s
    * ledger holds at every horizon, centroids frozen), the hybrid
    * gates' per-dim-mean synthetic query `qd`, and its probe cells
    * `mdpr` (nprobe = 4, the indexTopK default). Horizon restrictions
    * compose downstream over `a1`, the `asofHorizonCte` contract.
    */
  private[operators] def asofMatrixDenseCtes: String =
    s"""$eCte,
       |$ivfGrownAssignCtes,
       |qm AS (SELECT dd, avg(v[dd]) AS qx
       |       FROM e, range(1, 65) rr(dd) WHERE vec_id < 20 GROUP BY dd),
       |qd AS (SELECT CAST(-1 AS BIGINT) AS query_id,
       |              list(qx ORDER BY dd) AS qv FROM qm),
       |mdpr AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM qd q, cents c) WHERE rn <= 4)""".stripMargin

  /** Brute-force exact top-k: (query_id, neighbor_id, rank). */
  def bruteTopK(s: SparkSession, d: String): DataFrame =
    topkOf(corpus(s, d))

  /** Symmetric int8 scalar quantization: each vector scales by
    * 127/max|vᵢ| and rounds — the 4×-smaller representation a 100 TB
    * embedding store scans instead of float32 (quantized codes shuffle
    * and cache 4× denser; the cosine kernel is unchanged). Values stay
    * integral in a double array so BOTH engines compute on exactly
    * representable integers — cross-engine parity is exact, and the
    * rounding convention (half away from zero) agrees between Spark's
    * HALF_UP and DuckDB's round().
    */
  def quantized(e: DataFrame): DataFrame = e
    .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
    .select(col("vec_id"),
      transform(col("v"), x => round(x * (lit(127.0) / col("mx")))).as("v"))

  /** Johnson–Lindenstrauss random projection to `RpDim` dims: a fixed
    * ±1 (Rademacher) matrix — the Achlioptas database-friendly JL
    * variant: E[⟨Rx, Ry⟩] ∝ ⟨x, y⟩ with distortion bounded by the JL
    * lemma, no Gaussians needed. The matrix is a DRIVER-SIDE fixed-seed
    * constant shared verbatim by the Spark plan (typedLit rows through
    * the codegen'd DotProduct) and the oracle SQL (interpolated
    * literals through list_dot_product) — the LshPlanes portability
    * convention. Unlike MRL truncation (which needs prefix-trained
    * embeddings) RP works on ANY embedding model, and unlike sign-bit
    * quantization it keeps magnitudes — the third lossy-compression
    * lever next to those two, priced by `sim_rp_recall` the same way.
    */
  val RpDim = 16
  private val RpPlanes: Seq[Array[Double]] =
    (0 until RpDim).map { j =>
      val rnd = new scala.util.Random(1099511628211L * (j + 7) + 2017)
      Array.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }

  /** Every vector projected to its RpDim-dim JL image (array<double> —
    * double-accumulated dots on both engines, so the downstream rounded
    * cosine sits ulps-deep inside the 4-dp comparison grid).
    */
  def rpProjected(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      array((0 until RpDim).map(j =>
        dot(col("v"), typedLit(RpPlanes(j).toSeq))): _*).as("v"))

  /** The projection CTE for the oracle — 16 list_dot_product terms over
    * the interpolated ±1 rows.
    */
  private def rpCte: String = {
    val terms = (0 until RpDim).map(j =>
      s"list_dot_product(v, ${RpPlanes(j).mkString("[", ",", "]")})")
    s"rproj AS (SELECT vec_id, ${terms.mkString("[", ",\n  ", "]")} AS v FROM e)"
  }

  /** Matryoshka (MRL) truncation knob for `sim_mrl_recall`: serve on
    * the first 16 of 64 dims — the 4× cost cut the readout prices.
    */
  val MrlDim = 16

  /** The first `dims` dimensions of every vector — the Matryoshka
    * serving view (MRL-trained embeddings front-load information, so
    * a dimension PREFIX is the cheap index; on this untrained uniform
    * corpus the gate reads out the floor, which is the point of
    * having the readout before committing a 100 TB store to it).
    */
  def truncated(e: DataFrame, dims: Int): DataFrame =
    e.select(col("vec_id"), slice(col("v"), 1, dims).as("v"))

  /** Sign-bit binary quantization: the 64 dims pack into two 32-bit
    * sign words (dim i → bit i of word i/32, set iff vᵢ > 0) — the
    * 8 B/vector bottom of the compression ladder (float32 256 B →
    * int8 64 B → PQ ~16 B → binary 8 B), and the only rung whose
    * distance kernel is pure integer ALU: Hamming = popcount(xor),
    * no multiplies, no rounding surface anywhere. Two 32-bit words in
    * BIGINTs rather than one 64-bit word so neither engine ever shifts
    * into a sign bit. The in-row pack is `aggregate` over a constant
    * 32-element sequence (exact powers of two through double `pow` —
    * integral and ≤ 2³¹, so exactly representable); at corpus scale
    * the words are computed once at index-build time and stored as a
    * 16-byte sidecar, not re-derived per serve.
    */
  /** One packed 32-bit sign word of vector column `v` (dims
    * [off, off+32), bit i set iff v(off+i) > 0).
    */
  private def signWord(v: Column, off: Int): Column =
    aggregate(sequence(lit(0), lit(31)), lit(0L),
      (acc, i) => acc + when(
        element_at(v, i + lit(off + 1)) > lit(0d),
        pow(lit(2.0), i).cast("long")).otherwise(lit(0L)))

  def binarized(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      signWord(col("v"), 0).as("w0"), signWord(col("v"), 32).as("w1"))

  /** SQL form of [[signWord]] over list column `v`, for oracle CTEs. */
  private def packSql(v: String, off: Int): String =
    s"CAST(list_sum(list_transform(range(0,32), i -> CASE WHEN " +
      s"$v[i+${off + 1}] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT)"

  /** Shared oracle CTEs for the binary rung: sign-word pack (`bz`),
    * the packed query set (`hq`), and per-candidate Hamming scores
    * (`hscored`) — composed by `sim_binary_recall` (pure Hamming
    * ranking) and `sim_binary_rerank` (Hamming prefilter + exact
    * re-rank) so both gates certify one construction.
    */
  private val binCtes: String =
    s"""bz AS (SELECT vec_id,
       |   ${packSql("v", 0)} AS w0,
       |   ${packSql("v", 32)} AS w1
       | FROM e),
       |hq AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM bz
       |       WHERE vec_id < $NQueries),
       |hscored AS (SELECT query_id, b.vec_id AS neighbor_id,
       |    bit_count(xor(q0, b.w0)) + bit_count(xor(q1, b.w1)) AS ham
       |  FROM hq JOIN bz b ON b.vec_id <> query_id)""".stripMargin

  /** Hamming shortlist depth for the binary-prefilter serve: 4× the
    * served k, the same headroom convention as [[PqRerank]].
    */
  val BinaryRerank = 20

  // ---- persisted IVF + binary sidecar ----
  // The binary rung INSIDE the cell-partitioned index: like IVF-PQ,
  // the coarse layer prunes WHICH cells a probe reads, and the packed
  // sign words shrink WHAT each cell stores to 16 B/row (two BIGINTs +
  // id) — the cheapest persisted serve in the family. A probe reads
  // ~nprobe/K of the corpus as sign words, Hamming-shortlists with
  // pure integer ALU, and touches full precision only as the
  // shortlist's In(vec_id,…) point lookups on the embeddings sidecar
  // (the ivfPqTopK rerank contract verbatim).

  private val BWordsSchema =
    "vec_id BIGINT, w0 BIGINT, w1 BIGINT, cent_id BIGINT"

  /** Build a fresh IVF+binary index at `path`: BOUNDED-K coarse build
    * ([[fixedKSeeds]] at K = [[FixedK]], one Lloyd step → `cents/` —
    * the scale-safe default the PQ index also uses, constant map-side
    * centroid array and probe-cell collect at any corpus size), every
    * vector's two sign words landed cell-partitioned in
    * `bwords/seed/`. The root speaks the FoldProtocol dialect like
    * the float and PQ indexes, so ledgered folds, tombstoned deletes
    * and fsck compose unchanged ([[buildCells]]: the centroids are
    * collected once and assign the vectors beside their `cents/`
    * write).
    */
  def writeIvfBinaryIndex(vecs: DataFrame, path: String,
      targetK: Int = FixedK): Unit = {
    val e = vecs.select(col("vec_id"), col("v"))
    buildCells(path, lloydStep(e, fixedKSeeds(e, targetK)))(
      stageBWords(e, _, s"$path/bwords/seed"))
  }

  /** Assign + sign-pack `e` against the index's FROZEN centroids and
    * land it cell-partitioned at `dir` — shared by the seed build and
    * every fold (the [[stageIvfPqDir]] contract on sign words).
    */
  private def stageBWords(e: DataFrame, cents: Centroids,
      dir: String): Unit =
    FoldProtocol.writePartitioned(
      assign(e, cents, 1)
        .select(col("vec_id"), signWord(col("v"), 0).as("w0"),
          signWord(col("v"), 32).as("w1"), col("cent_id")),
      dir, "cent_id")

  /** Fold a batch of new vectors into a persisted IVF+binary index,
    * exactly once under replay — [[appendToIvfPqIndex]]'s contract on
    * sign words (new vectors take the FROZEN centroids).
    */
  def appendToIvfBinaryIndex(vecs: DataFrame, path: String,
      batchId: Long): Boolean =
    protocol(path).fold(batchId, Seq("bwords")) {
      stageBWords(vecs.select(col("vec_id"), col("v")),
        Centroids.of(vecs.sparkSession, path),
        s"${protocol(path).dir("bwords")}/b$batchId")
    }

  /** Tombstone vector ids out of a persisted IVF+binary index —
    * identical protocol to [[deleteFromIvfPqIndex]].
    */
  def deleteFromIvfBinaryIndex(ids: DataFrame, path: String,
      deleteId: Long): Boolean =
    protocol(path).delete(deleteId) {
      protocol(path).stageTombstones(ids, "vec_id", deleteId)
    }

  /** All committed sign-word rows minus committed tombstones — the
    * binary twin of [[indexVectors]]/[[indexCodes]].
    */
  def indexBWords(s: SparkSession, path: String): DataFrame =
    protocol(path).readCommittedStripped(s, "bwords", "vec_id")(r =>
      s.read.schema(BWordsSchema).option("basePath", r).parquet(r))

  /** [[indexBWords]] AS OF a ledger horizon — [[indexCodesAsOf]]'s
    * contract on the sign-word frame (same honesty guards: compaction
    * or refresh past the horizon refuse). Centroids are valid at every
    * servable horizon: frozen across folds/deletes, and only a refresh
    * — which the guard refuses past — moves them.
    */
  def indexBWordsAsOf(s: SparkSession, path: String,
      asOf: Long): DataFrame =
    protocol(path).readCommittedStrippedAsOf(s, "bwords", "vec_id",
      asOf)(r =>
      s.read.schema(BWordsSchema).option("basePath", r).parquet(r))

  /** Rewrite the committed sign-word sub-roots into one `c<hw>` dir —
    * [[compactIvfPqIndex]]'s contract on the binary payload: the input
    * is the SERVED view (tombstones already stripped), so the swap is
    * also the physical purge; the ledger stays so replayed
    * batch/delete ids keep short-circuiting; centroids are untouched,
    * so a compacted index serves byte-identically.
    */
  def compactIvfBinaryIndex(s: SparkSession, path: String): Unit = {
    val p = protocol(path)
    p.withLease("compact-ivfbin") {
      FoldProtocol.writePartitioned(indexBWords(s, path),
        s"$path/.bwords.compacting/${p.compactDirName()}", "cent_id")
      p.publishDir(".bwords.compacting", "bwords")
      p.clearTombstones()
    }
  }

  /** Re-cluster a persisted IVF+binary index's COARSE layer —
    * [[refreshIvfPqIndex]]'s contract at the sign-word rung: one Lloyd
    * step from the current centroids over the full-precision `vecs`
    * frame (restricted to the index's live population), the
    * (unchanged) sign words re-binned under the new centroids,
    * coverage-verified against the staged rewrite, published. Sign
    * words stay frozen — they encode the original vector's signs, not
    * cell membership — so the index-side rewrite is only the
    * ~16 B/vector payload. Drift gate, refresh ledger (`r<id>`),
    * crash/replay and mid-publish reader semantics are identical to
    * the float/PQ refreshes: a reader between the two publishes probes
    * old centroid positions against new cell contents — still a valid
    * ANN candidate set, recall briefly degraded, never wrong values.
    */
  def refreshIvfBinaryIndex(s: SparkSession, path: String,
      refreshId: Long, vecs: DataFrame,
      minDrift: Double = 0.0): Boolean =
    refreshCells(s, path, refreshId, "refresh-bin", "bwords", minDrift) { () =>
      val words = indexBWords(s, path)
        .select(col("vec_id"), col("w0"), col("w1"))
      val live = vecs.select(col("vec_id"), col("v"))
        .join(words.select(col("vec_id")), Seq("vec_id"), "left_semi")
      (live, (cents, staged) => {
        FoldProtocol.writePartitioned(
          assign(live, cents, 1)
            .select(col("vec_id"), col("cent_id"))
            .join(words, Seq("vec_id"))
            .select(col("vec_id"), col("w0"), col("w1"), col("cent_id")),
          staged, "cent_id")
        requireCovered(s.read.schema(BWordsSchema).parquet(staged).count(),
          words.count())
      })
    }

  /** The full IVF+binary serve as composable oracle text (bn_-prefixed
    * CTEs): bounded-K seeds, one Lloyd step, sign-pack of the assigned
    * frame, probe-cell Hamming shortlist, exact re-rank — `out` is the
    * ranked (query_id, neighbor_id, rank ≤ TopK) CTE over whatever
    * query frame `queryCte` names (columns query_id, qv). The
    * [[ivfPqServeCtes]] contract at the binary rung; `sim_ivf_binary_
    * recall`'s oracle and the binary-backed hybrid compose it.
    */
  private[graft] def ivfBinaryServeCtes(queryCte: String,
      out: String, scWhere: String = "TRUE",
      k: Int = TopK): String =
    s"""bn_seeds AS (${fixedKSeedSql("e", FixedK)}),
       |bn_a0 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, s.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
       |    FROM e, bn_seeds s) WHERE rn = 1),
       |bn_cd AS (SELECT cent_id, dd, avg(v[dd]) AS cx
       |       FROM bn_a0, range(1, 65) t(dd) GROUP BY cent_id, dd),
       |bn_cents AS (SELECT cent_id, list(cx ORDER BY dd) AS cv
       |             FROM bn_cd GROUP BY cent_id),
       |bn_a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM e, bn_cents c) WHERE rn = 1),
       |bn_bv AS (SELECT vec_id, cent_id, ${packSql("v", 0)} AS w0,
       |            ${packSql("v", 32)} AS w1 FROM bn_a1),
       |bn_probes AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM $queryCte q, bn_cents c) WHERE rn <= 4),
       |bn_qb AS (SELECT query_id, ${packSql("qv", 0)} AS q0,
       |            ${packSql("qv", 32)} AS q1 FROM $queryCte),
       |bn_sc AS (SELECT p.query_id, b.vec_id AS neighbor_id,
       |    bit_count(xor(qb.q0, b.w0)) + bit_count(xor(qb.q1, b.w1)) AS ham
       |  FROM bn_probes p JOIN bn_bv b
       |    ON p.cent_id = b.cent_id AND b.vec_id <> p.query_id
       |  JOIN bn_qb qb ON qb.query_id = p.query_id
       |  WHERE $scWhere),
       |bn_short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY ham ASC, neighbor_id) AS rank
       |  FROM bn_sc) WHERE rank <= $BinaryRerank),
       |bn_res AS (SELECT sh.query_id, sh.neighbor_id,
       |    round(list_cosine_similarity(q.qv, e.v), 4) AS sim
       |  FROM bn_short sh JOIN e ON e.vec_id = sh.neighbor_id
       |  JOIN $queryCte q ON q.query_id = sh.query_id),
       |$out AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM bn_res) WHERE rank <= $k)""".stripMargin

  /** One binary shortlist-then-exact-rerank serve as composable oracle
    * text — the `_bv/_sc/_sh/_rr/_tk` CTE chain over an assigned frame
    * (`bvFrom`, restricted by `bvWhere`), a probe frame (`probes`:
    * query_id, cent_id) and a rerank corpus (`corpusFrame`: vec_id, v).
    * Requires sibling CTEs `q` (query_id, qv) and `qb` (query_id, q0,
    * q1). Composed by the refreshed (two constructions) and as-of
    * (three horizons) binary oracles.
    */
  private def binServeChain(name: String, bvFrom: String, bvWhere: String,
      probes: String, corpusFrame: String): String =
    s"""${name}_bv AS (SELECT vec_id, cent_id, ${packSql("v", 0)} AS w0,
       |    ${packSql("v", 32)} AS w1 FROM $bvFrom WHERE $bvWhere),
       |${name}_sc AS (SELECT p.query_id, b.vec_id AS neighbor_id,
       |    bit_count(xor(qb.q0, b.w0)) + bit_count(xor(qb.q1, b.w1)) AS ham
       |  FROM $probes p JOIN ${name}_bv b
       |    ON p.cent_id = b.cent_id AND b.vec_id <> p.query_id
       |  JOIN qb ON qb.query_id = p.query_id),
       |${name}_sh AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY ham ASC, neighbor_id) AS rank
       |  FROM ${name}_sc) WHERE rank <= $BinaryRerank),
       |${name}_rr AS (SELECT s.query_id, s.neighbor_id,
       |    round(list_cosine_similarity(q.qv, c.v), 4) AS sim
       |  FROM ${name}_sh s JOIN q ON q.query_id = s.query_id
       |  JOIN $corpusFrame c ON c.vec_id = s.neighbor_id),
       |${name}_tk AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM ${name}_rr) WHERE rank <= $TopK)""".stripMargin

  /** Oracle for `sim_ivf_binary_refreshed`: recompute BOTH binary
    * constructions — frozen (bounded-K centroids trained on the
    * original corpus, the combined population assigned and sign-packed
    * under them) and refreshed (one more Lloyd step over the combined
    * population, everything re-binned) — plus the exact top-k over the
    * combined corpus, and emit per-query recall numerators for each;
    * the [[refreshedOracleSql]] contract at the sign-word rung.
    */
  private def binaryRefreshedOracleSql: String =
    s"""WITH $eCte,
       |sh AS (SELECT vec_id + 100000 AS vec_id,
       |         list_transform(v, x -> -x) AS v
       |       FROM e WHERE vec_id % 5 = 4),
       |u AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM sh),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries
       |      UNION ALL
       |      SELECT vec_id AS query_id, v AS qv FROM sh WHERE vec_id < 100100),
       |bscored AS (SELECT query_id, u.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qv, u.v), 4) AS sim
       |  FROM q JOIN u ON u.vec_id <> query_id),
       |topk AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM bscored) WHERE rank <= $TopK),
       |seeds AS (${fixedKSeedSql("e", FixedK)}),
       |a0 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, s.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
       |    FROM e, seeds s) WHERE rn = 1),
       |cd AS (SELECT cent_id, dd, avg(v[dd]) AS cx
       |       FROM a0, range(1, 65) t(dd) GROUP BY cent_id, dd),
       |cents AS (SELECT cent_id, list(cx ORDER BY dd) AS cv
       |          FROM cd GROUP BY cent_id),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT u.vec_id, u.v, c.cent_id,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_cosine_similarity(u.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM u, cents c) WHERE rn = 1),
       |qb AS (SELECT query_id, ${packSql("qv", 0)} AS q0,
       |         ${packSql("qv", 32)} AS q1 FROM q),
       |fprobes AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM q, cents c) WHERE rn <= 4),
       |${binServeChain("f", "a1", "TRUE", "fprobes", "u")},
       |rcd AS (SELECT cent_id, dd, avg(v[dd]) AS cx
       |        FROM a1, range(1, 65) t(dd) GROUP BY cent_id, dd),
       |rcents AS (SELECT cent_id, list(cx ORDER BY dd) AS cv
       |           FROM rcd GROUP BY cent_id),
       |a2 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT u.vec_id, u.v, c.cent_id,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_cosine_similarity(u.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM u, rcents c) WHERE rn = 1),
       |rprobes AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM q, rcents c) WHERE rn <= 4),
       |${binServeChain("r", "a2", "TRUE", "rprobes", "u")}
       |SELECT t.query_id,
       |  CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS frozen_common,
       |  CAST(sum(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS refreshed_common
       |FROM topk t
       |LEFT JOIN f_tk f ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
       |LEFT JOIN r_tk r ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id""".stripMargin

  /** Oracle for `sim_ivf_binary_asof`: ONE shared history-trained
    * bounded-K construction (centroids never change across the
    * lifecycle), three candidate restrictions on the sign-word side —
    * horizon 0 = seed only, 1 = seed + fold, 2 = delete applied —
    * each through the full shortlist-then-exact-rerank serve; the
    * [[asofOracleSql]] contract at the sign-word rung.
    */
  private def binaryAsofOracleSql: String =
    s"""WITH $eCte,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE vec_id < $NQueries),
       |${ivfGrownAssignCtesSeeded(fixedKSeedSql("hist", FixedK))},
       |$ivfGrownProbesCte,
       |qb AS (SELECT query_id, ${packSql("qv", 0)} AS q0,
       |         ${packSql("qv", 32)} AS q1
       |       FROM (SELECT DISTINCT query_id, qv FROM probes)),
       |${binServeChain("h0", "a1", "vec_id % 5 <> 4", "probes", "e")},
       |${binServeChain("h1", "a1", "TRUE", "probes", "e")},
       |${binServeChain("h2", "a1", "vec_id % 9 <> 0", "probes", "e")}
       |SELECT CAST(0 AS BIGINT) AS horizon, query_id, neighbor_id,
       |  CAST(rank AS INT) AS rank FROM h0_tk
       |UNION ALL SELECT CAST(1 AS BIGINT), query_id, neighbor_id,
       |  CAST(rank AS INT) FROM h1_tk
       |UNION ALL SELECT CAST(2 AS BIGINT), query_id, neighbor_id,
       |  CAST(rank AS INT) FROM h2_tk""".stripMargin

  /** Build-if-absent the persisted IVF+binary gate fixture (the root
    * name carries the build K through [[IvfBinaryKind]]'s params).
    */
  def ensureIvfBinaryIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_binl", IvfBinaryKind, Seq(vecSeed(s, d))).ensure(s, d)

  /** Build-if-absent the full-lifecycle binary gate fixture: seed
    * from the history wave (vec_id % 5 ≠ 4, bounded-K), fold the
    * remainder as ledgered batch 0, tombstone vec_id % 9 = 0 as
    * ledgered delete 1 — the [[ensureEvolvedIvfIndex]] scenario on
    * the sign-word index.
    */
  def ensureEvolvedIvfBinaryIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_binl_evolved", IvfBinaryKind,
      vecLifecycle(s, d, 0L, 1L)).ensure(s, d)

  /** Build-if-absent the binary refresh-gate pair — the
    * [[ensureShiftIvfIndexes]] scenario on the sign-word index: both
    * seed from the original corpus and fold the shifted wave as one
    * ledgered append; the second takes one [[refreshIvfBinaryIndex]]
    * pass over the combined full-precision population (refreshId 0,
    * no drift gate).
    */
  def ensureShiftIvfBinaryIndexes(s: SparkSession,
      d: String): (String, String) =
    (Fixture("graft_ivf_binl_frozen", IvfBinaryKind,
      shiftScript(s, d, refresh = false)).ensure(s, d),
      Fixture("graft_ivf_binl_refresh", IvfBinaryKind,
        shiftScript(s, d, refresh = true)).ensure(s, d))

  /** Build-if-absent the binary AS-OF gate fixture — the
    * [[ensureAsOfIvfIndex]] lifecycle on the sign-word index: seed
    * from the history wave (dir order 0), fold the remainder as `b1`,
    * tombstone vec_id % 9 = 0 as `d2` — distinct ledger ids per dir
    * order so every horizon is distinguishable.
    */
  def ensureAsOfIvfBinaryIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_binl_asof", IvfBinaryKind,
      vecLifecycle(s, d, 1L, 2L)).ensure(s, d)

  /** Floor-bounded retention for the IVF+binary index — a
    * [[graft.index.FoldProtocol.vacuumKinds]] adapter on the
    * cell-partitioned sign words (cents frozen, like the float rung).
    */
  def vacuumIvfBinaryIndex(s: SparkSession, path: String,
      floorRequested: Long): Boolean =
    protocol(path).vacuumKinds(s, floorRequested, Seq(
      "bwords" -> ((floor, staging) =>
        FoldProtocol.writePartitioned(indexBWordsAsOf(s, path, floor),
          staging, "cent_id"))))

  /** Build-if-absent the VACUUMED binary-rung gate fixture: the as-of
    * ledger layout (seed / b1 / d2) vacuumed at floor 1.
    */
  def ensureVacuumedIvfBinaryIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_binl_vacuum", IvfBinaryKind,
      vecLifecycle(s, d, 1L, 2L) :+ Vacuum(1L)).ensure(s, d)

  /** Serve approximate top-k from a persisted IVF+binary index:
    * probe `nprobe` cells, Hamming-shortlist `rerank` candidates per
    * query over the cells' 16 B/row sign words, exact re-rank of only
    * the shortlist against the full-precision sidecar `full` — the
    * [[ivfPqTopK]] serve shape with popcount(xor) in place of ADC.
    */
  /** The Hamming-scoring frame of the persisted binary serve — the
    * pre-shortlist phase, exposed so its plan (static cell prune on
    * the bwords scan) is pinnable in specs: (query_id, neighbor_id,
    * sim = −hamming).
    */
  private[graft] def ivfBinaryScored(s: SparkSession, indexPath: String,
      queries: DataFrame, nprobe: Int = 4,
      allowed: Option[DataFrame] = None,
      asOf: Option[Long] = None): DataFrame = {
    // the probes, collected once (see probed) — the cell list prunes
    // the bwords scan statically
    val (probes, cellPrune) = probed(s, indexPath, queries, nprobe)
    // committed-roots union read (seed + ledgered appends + compact)
    // minus tombstones; the isin prune pushes into every sub-root's
    // PartitionFilters like indexVectors' (see indexTopK). An asOf
    // horizon swaps ONLY the list-time dir/tombstone scope — zero
    // data cost, like indexVectorsAsOf/indexCodesAsOf.
    val cellPruned = cellPrune(asOf.fold(indexBWords(s, indexPath))(h =>
      indexBWordsAsOf(s, indexPath, h)))
    // metadata restriction AFTER the cell prune, BEFORE Hamming — the
    // sim_ivfpq_filtered placement: the semi-join's left side is
    // ~nprobe/K of the corpus at 16 B/row, and disallowed candidates
    // never reach scoring, the shortlist, or the sidecar lookups
    val pruned = allowed.fold(cellPruned)(a =>
      cellPruned.join(a.select(col("vec_id")), Seq("vec_id"),
        "left_semi"))
    // each probe row packs its own query's sign words: the serve plan
    // reads the queries only through the collected probes
    probes.select(col("query_id"), col("cent_id"),
        signWord(col("qv"), 0).as("q0"), signWord(col("qv"), 32).as("q1"))
      .join(pruned, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("q0").bitwiseXOR(col("w0"))) +
          bit_count(col("q1").bitwiseXOR(col("w1"))))
          .cast("double").*(lit(-1d)).as("sim"))
  }

  def ivfBinaryTopK(s: SparkSession, indexPath: String,
      queries: DataFrame, full: DataFrame, nprobe: Int = 4,
      k: Int = TopK, rerank: Int = BinaryRerank,
      allowed: Option[DataFrame] = None,
      asOf: Option[Long] = None): DataFrame = {
    val scored = ivfBinaryScored(s, indexPath, queries, nprobe, allowed,
      asOf)
    // Bounded collect (≤ |queries| × rerank) → In pushdown on the
    // sidecar scan, identical to the PQ rerank.
    import s.implicits._
    val short = rankTopK(scored, rerank)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect()
    val shortIds = short.map(_._2).distinct.toSeq
    val rescored = short.toSeq.toDF("query_id", "neighbor_id")
      .join(full.filter(col("vec_id").isin(shortIds: _*))
        .select(col("vec_id").as("neighbor_id"), col("v")),
        Seq("neighbor_id"))
      .join(queries.select(col("query_id"), col("qv")), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
    rankTopK(rescored, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** IVF approximate top-k: (query_id, neighbor_id, rank). Deterministic
    * given the seeds — every-25th-vector seeds refined by one Lloyd step,
    * nprobe=4, rounded-cosine ranking with id tie-breaks.
    */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    // No corpus-wide cache: at 100 TB you persist the small derived
    // frames (centroids; at most the (vec_id, cent_id) assignment) and
    // let every corpus pass stream from the columnar scan — re-reading
    // parquet is strictly cheaper than pinning the table in executor
    // memory, and the scans stay pruned to (vec_id, v).
    val e = corpus(s, d)
    // Seeds: every 25th vector, refined by one k-means (Lloyd) step.
    val seeds = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    // Centroids ARE cached: K rows of a 64-dim array, reused by both
    // the corpus assignment and the query probes.
    val cents = lloydStep(e, seeds).cache()
    // Assign each corpus vector to its nearest refined centroid.
    val assigned = assign(e, cents, 1)
      .select(col("vec_id"), col("v"), col("cent_id"))
    // Queries probe their nprobe closest cells.
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probes = assign(
      q.withColumnRenamed("query_id", "vec_id")
        .withColumnRenamed("qv", "v"), cents, 4)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cent_id"))
    // Score only vectors in probed cells; rank with the bounded top-k
    // aggregate (map-side partial merge — see topkOf).
    val scored = probes.join(assigned, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
    rankTopK(scored)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Build-if-absent PERSISTED IVF index under the session warehouse
    * (suffix-keyed per source dir, like the dedup index):
    *   `cents/`   — the K refined centroids (cent_id, cv: array<double>)
    *   `vectors/` — the corpus vectors PHYSICALLY PARTITIONED BY CELL
    *                (`cent_id=<k>/` directories of (vec_id, v) rows)
    * Construction is the exact ivfTopK build (every-25th seeds + one
    * Lloyd step), so serving a query from the index is result-identical
    * to rebuilding — same oracle. The cell-partitioned layout is the
    * scale payoff: a probe of `nprobe` cells lists and reads ONLY those
    * cells' directories (static partition pruning), i.e. nprobe/K of the
    * corpus bytes, instead of re-scanning and re-assigning 100 TB of
    * embeddings per query batch. This is to similarity search what
    * `writeIndex`/`incrementalKeepNewIndexed` is to dedup: the corpus
    * pays assignment once at ingest, queries pay only their probes.
    */
  def ensureIvfIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_index", IvfKind, Seq(vecSeed(s, d))).ensure(s, d)

  /** Build-if-absent PERSISTED multi-round-trained IVF index — the
    * [[writeTrainedIvfIndex]] construction under its own root; serving
    * is the unchanged [[indexTopK]] path.
    */
  def ensureTrainedIvfIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf", TrainedIvfKind, Seq(vecSeed(s, d))).ensure(s, d)

  /** Build-if-absent PERSISTED bounded-K IVF index: the
    * [[writeIvfIndexFixedK]] construction (hash-ordered LIMIT-`FixedK`
    * seeds, one Lloyd step, cell-partitioned layout) under its own
    * warehouse root. Serving goes through the same [[indexTopK]] path
    * as the default-seeded index — only the seed SET differs.
    */
  def ensureFixedKIvfIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf", FixedKIvfKind, Seq(vecSeed(s, d))).ensure(s, d)

  /** Build a fresh IVF index at `path` from any `(vec_id, v)` frame:
    * every-`seedEvery`-th vector seeds one Lloyd refinement, the
    * refined centroids land in `cents/`, and the corpus lands
    * cell-partitioned in `vectors/seed/`.
    */
  def writeIvfIndex(vecs: DataFrame, path: String,
      seedEvery: Int = 25): Unit = {
    val e = vecs.select(col("vec_id"), col("v"))
    writeIvfIndexFrom(e,
      e.filter(col("vec_id") % seedEvery === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv")),
      path)
  }

  /** The multiplicative-hash seed order for the bounded-K build: a
    * deterministic, corpus-order-independent shuffle of the id space
    * (Knuth's 2654435761 multiplier mod 2^32) that both the Spark build
    * and the DuckDB oracle can compute exactly. Plain long arithmetic —
    * ids up to ~3×10^9 stay inside the 64-bit exact range.
    */
  private def seedHash(id: Column): Column =
    pmod(id * lit(2654435761L), lit(4294967296L))

  /** Build a fresh IVF index with a FIXED centroid count: the K seeds
    * are the smallest `targetK` ids in multiplicative-hash order (a
    * deterministic sample, robust to clustered id ranges), then the
    * same Lloyd refinement + cell-partitioned layout as
    * [[writeIvfIndex]].
    *
    * This is the 10^9+-vector build mode: the default every-`seedEvery`
    * seeding grows K with the corpus (N/25 cells), which keeps cells
    * constant-SIZE but makes the in-row centroid array of [[assign]]
    * grow as K × dim doubles — gigabytes of map-side state at billions
    * of vectors. A fixed `targetK` caps that array at a constant
    * (targetK × 64 doubles — broadcastable at any corpus size, same
    * argument as the PQ codebook cap), trading per-cell size growth,
    * which the probe-side prune pays linearly (a probe reads
    * nprobe/targetK of the corpus regardless). Gated by
    * `sim_ivf_fixedk_recall`: the DuckDB oracle recomputes the
    * identical construction end-to-end and both sides report per-query
    * recall against the exact top-k.
    */
  def writeIvfIndexFixedK(vecs: DataFrame, path: String,
      targetK: Int = FixedK): Unit = {
    val e = vecs.select(col("vec_id"), col("v"))
    writeIvfIndexFrom(e, fixedKSeeds(e, targetK), path)
  }

  /** The bounded-K seed frame: the smallest `targetK` ids in
    * multiplicative-hash order — shared by the float FixedK build and
    * the IVF-PQ FixedK build so both cap the map-side centroid array at
    * the same constant.
    */
  private def fixedKSeeds(e: DataFrame, targetK: Int): DataFrame =
    e.orderBy(seedHash(col("vec_id")), col("vec_id")).limit(targetK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  private def writeIvfIndexFrom(e: DataFrame, seeds: DataFrame,
      path: String): Unit =
    buildCells(path, lloydStep(e, seeds))(stageVectors(e, _,
      s"$path/vectors/seed"))

  /** A build's coarse layer: the K `cents` are collected once
    * ([[Centroids]]), land in `cents/` and, concurrently, `stage`
    * assigns the corpus against the same values — a double round-trips
    * through parquet unchanged, so the index serves exactly the
    * centroids its vectors were assigned to, with no write, re-read
    * and re-aggregate of `cents/` in between.
    */
  private def buildCells(path: String, cents: DataFrame)(
      stage: Centroids => Unit): Unit = {
    val held = Centroids.collected(cents)
    Par.runAll(
      () => held.write(cents.sparkSession, s"$path/cents"),
      () => stage(held))
  }

  /** Assign `e` to its nearest frozen centroid and land it
    * cell-partitioned at `dir` (overwrite ⇒ replay-safe) — the float
    * build's and every fold's write. The write clusters each cell into
    * one task (FoldProtocol.writePartitioned) — without it every task
    * writes a sliver of every cell (tasks × cells small files).
    */
  private def stageVectors(e: DataFrame, cents: Centroids,
      dir: String): Unit =
    FoldProtocol.writePartitioned(assign(e, cents, 1), dir, "cent_id")

  /** Lloyd rounds for the TRAINED build — enough to show genuine
    * multi-round convergence without an unbounded oracle unroll.
    */
  val TrainedRounds = 3

  /** Multi-round Lloyd under the integer-exact iterative convention
    * (the PageRank grid): per round, assignment ranks the 4-dp-rounded
    * cosine with cent_id tie-break (the [[assign]] kernel, unchanged),
    * and the new centroid coordinate is
    * `floor(sum(round(v[d]·1e9)) / count)` — a 1e9-scaled BIGINT sum
    * (order-free, so no cross-engine float-association drift) followed
    * by one deterministic double division + floor. The single-step
    * [[lloydStep]] keeps its original double `avg` (every existing
    * gate's oracle mirrors it); this recurrence exists so the CHAIN is
    * reproducible: round r's centroids are bit-identical in Spark and
    * the unrolled-CTE oracle, which is what lets `sim_ivf_trained`
    * value-gate a k-round build end-to-end.
    *
    * Scale shape per round: one exchange-free in-row assignment scan
    * (the K-element centroid array rides the row), one (cell, dim)-
    * keyed map-side-combining aggregate, and a localCheckpoint to
    * truncate the growing plan lineage — the same per-iteration
    * discipline as `Curation.pagerank`. Empty cells drop out of the
    * next round in both engines identically (no assigned rows → no
    * group).
    */
  private[graft] def lloydTrain(e: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val toIv = transform(col("v"), x =>
      round(x.cast("double") * lit(1e9)).cast("long"))
    var cents = seeds
    for (_ <- 1 to rounds) {
      cents = assign(e, cents, 1)
        .select(col("cent_id"), posexplode(toIv).as(Seq("dim", "ix")))
        .groupBy(col("cent_id"), col("dim"))
        .agg(floor(sum(col("ix")).cast("double") / count(lit(1)))
          .cast("long").as("cx"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cx"))))
          .as("pairs"))
        .select(col("cent_id"),
          transform(col("pairs"), p => p("cx").cast("double") / lit(1e9))
            .as("cv"))
        // lazy, not eager: each round's frame has exactly ONE consumer
        // (the next round's assign), so there is no multi-reader race
        // to pre-empt — eager would cost one blocking driver job per
        // round; lazy lets the terminal action pull the whole fixed
        // Lloyd chain through one job cascade (pagerankRounds note).
        .localCheckpoint(eager = false)
    }
    cents
  }

  /** [[writeIvfIndex]] with `rounds` integer-exact Lloyd iterations
    * instead of one double-avg step — the offline-training build for
    * a corpus whose seed sample is far from the mass (recall at equal
    * nprobe is never worse and strictly better on planted clusters,
    * see IvfTrainedSpec). Layout, serve path and fold/delete lifecycle
    * are identical to every other IVF root.
    */
  def writeTrainedIvfIndex(vecs: DataFrame, path: String,
      rounds: Int = TrainedRounds, seedEvery: Int = 25): Unit = {
    val e = vecs.select(col("vec_id"), col("v"))
    buildCells(path, lloydTrain(e,
      e.filter(col("vec_id") % seedEvery === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv")),
      rounds))(stageVectors(e, _, s"$path/vectors/seed"))
  }

  /** Fixed centroid count for the bounded-K build (the gate's choice;
    * production picks √N-ish). 32 cells over the gate corpus keeps
    * nprobe/K = 1/8 of the corpus per probe.
    */
  val FixedK = 32

  /** The `targetK` KNOB's second gated setting: the
    * `sim_ivfpq_fixedk_recall` / `sim_ivfpq_fixedk_grown_recall` pair
    * builds (and folds) at this K, so the bounded build is value-gated
    * at TWO distinct cell counts — proving targetK is a genuine knob,
    * not a constant the gates happen to agree on.
    */
  val FixedKWide = 48

  // ---- index lifecycle: `cents/` is FROZEN at build time (IVF
  // centroids are retrained offline, never per ingest batch — drifting
  // them would silently re-home existing cells); `vectors/` holds ONLY
  // subdirs, each internally partitioned by `cent_id=`: `seed/`
  // (ensureIvfIndex), `b<batchId>/` (one per folded append, rewritten
  // in place on replay) and `compact/` (compactIvfIndex). The set of
  // VALID b-dirs is the batch ledger at `<root>/_vec_ledger`, replaced
  // ATOMICALLY after a batch's b-dir is fully written — that one file
  // move is the fold's commit point. A b-dir absent from the ledger is
  // an orphan from a crashed fold: readers skip it and the batch's
  // replay rewrites it wholesale. Same exactly-once protocol as the
  // dedup index (Dedup.appendToIndex); the ledger lives OUTSIDE
  // `vectors/` so compaction's directory swap cannot touch it. ----

  private val VecSchema = "vec_id BIGINT, v ARRAY<FLOAT>, cent_id BIGINT"

  /** The frozen centroids `(cent_id, cv)` at `dir`, read under their
    * declared schema — no footer-inference job per read (cell ids are
    * vector ids, read as BIGINT whatever integral type built them).
    */
  private def readCents(s: SparkSession, dir: String): DataFrame =
    s.read.schema("cent_id BIGINT, cv ARRAY<DOUBLE>").parquet(dir)

  /** The index's staged-commit machinery — ledger, committed-dir
    * resolution, tombstones, publishes (see
    * [[graft.index.FoldProtocol]]).
    */
  private[graft] def protocol(path: String) =
    new graft.index.FoldProtocol(path, "_vec_ledger")

  /** The float IVF index as the fixture layer sees it (every-25th
    * seeds); the other seeding modes are the same kind with another
    * build.
    */
  val IvfKind: IndexKind = IndexKind(protocol, Seq("cents"), Seq("vectors"),
    write = writeIvfIndex(_, _),
    fold = appendToIvfIndex(_, _, _),
    delete = deleteFromIvfIndex(_, _, _),
    vacuum = vacuumIvfIndex(_, _, _),
    refresh = (s, r, id, _) => refreshIvfIndex(s, r, id),
    merge = mergeIvfIndexes(_, _, _, _))

  /** The multi-round-trained build ([[writeTrainedIvfIndex]]). */
  val TrainedIvfKind: IndexKind = IvfKind.copy(params = "trained",
    write = writeTrainedIvfIndex(_, _))

  /** The bounded-K build ([[writeIvfIndexFixedK]] at [[FixedK]]). */
  val FixedKIvfKind: IndexKind = IvfKind.copy(params = s"fixedk$FixedK",
    write = writeIvfIndexFixedK(_, _))

  /** The IVF-PQ index built bounded-K at `k` cells ([[writeIvfPqIndex]]):
    * centroids + codebook + a committed coded frame.
    */
  def ivfPqKind(k: Int): IndexKind =
    IndexKind(protocol, Seq("cents", "codebook"), Seq("vectors"),
      write = writeIvfPqIndex(_, _, k),
      fold = appendToIvfPqIndex(_, _, _),
      delete = deleteFromIvfPqIndex(_, _, _),
      vacuum = vacuumIvfPqIndex(_, _, _),
      refresh = (s, r, id, vecs) => refreshIvfPqIndex(s, r, id, vecs),
      params = s"k$k")

  /** The IVF+binary (sign-word) index at [[FixedK]] cells. */
  val IvfBinaryKind: IndexKind =
    IndexKind(protocol, Seq("cents"), Seq("bwords"),
      write = writeIvfBinaryIndex(_, _),
      fold = appendToIvfBinaryIndex(_, _, _),
      delete = deleteFromIvfBinaryIndex(_, _, _),
      vacuum = vacuumIvfBinaryIndex(_, _, _),
      refresh = (s, r, id, vecs) => refreshIvfBinaryIndex(s, r, id, vecs),
      params = s"k$FixedK")

  /** The full gate corpus as a seed. */
  private def vecSeed(s: SparkSession, d: String): Step =
    Seed(corpus(s, d).select(col("vec_id"), col("v")))

  /** The two corpus waves every vector-index lifecycle gate replays:
    * the history wave (vec_id % 5 ≠ 4) seeds, the remainder folds as
    * `foldId`.
    */
  private def vecWaves(s: SparkSession, d: String,
      foldId: Long): Seq[Step] = {
    lazy val e = corpus(s, d).select(col("vec_id"), col("v"))
    Seq(Seed(e.filter(col("vec_id") % 5 =!= 4)),
      Fold(foldId, e.filter(col("vec_id") % 5 === 4)))
  }

  /** Seed → fold → takedown of vec_id % 9 = 0 (victims in both waves)
    * at the given ledger ids.
    */
  private def vecLifecycle(s: SparkSession, d: String, foldId: Long,
      deleteId: Long): Seq[Step] =
    vecWaves(s, d, foldId) :+ Delete(deleteId,
      corpus(s, d).filter(col("vec_id") % 9 === 0).select(col("vec_id")))

  /** The refresh-gate scripts: the original corpus seeds, the shifted
    * wave folds as batch 0, and the refreshed twin takes one refresh
    * (refreshId 0, no drift gate).
    */
  private def shiftScript(s: SparkSession, d: String,
      refresh: Boolean): Seq[Step] =
    Seq(vecSeed(s, d), Fold(0L, shiftedWave(s, d))) ++
      (if (refresh) Seq(Refresh(0L)) else Nil)

  /** BatchIds whose vector fold is fully committed. */
  def ivfFoldedBatches(path: String): Set[Long] =
    protocol(path).foldedBatches()

  /** All committed index vectors: a union of per-root partitioned reads
    * (each root carries its own `cent_id=` directory tree; `basePath`
    * scopes partition discovery per root), minus committed tombstones.
    * A `cent_id` filter pushes through the union into EVERY branch's
    * PartitionFilters, so the static cell prune holds across seed +
    * appended batches alike.
    */
  def indexVectors(s: SparkSession, path: String): DataFrame =
    protocol(path).readCommittedStripped(s, "vectors", "vec_id")(r =>
      s.read.schema(VecSchema).option("basePath", r).parquet(r))

  /** [[indexVectors]] AS OF a ledger horizon (see
    * `FoldProtocol.readCommittedStrippedAsOf`): the served view
    * includes exactly the folds and deletes with ledger id ≤ asOf —
    * the reproducibility read a training run pins its corpus to.
    * Centroids are valid at every servable horizon (they only change
    * under a refresh, and a refresh past the horizon makes the
    * protocol refuse).
    */
  def indexVectorsAsOf(s: SparkSession, path: String,
      asOf: Long): DataFrame =
    protocol(path).readCommittedStrippedAsOf(s, "vectors", "vec_id",
      asOf)(r => s.read.schema(VecSchema).option("basePath", r).parquet(r))

  /** Fold a batch of NEW vectors `(vec_id, v)` into a persisted IVF
    * index, EXACTLY ONCE under replay: assign each vector to its
    * nearest FROZEN centroid and land the batch cell-partitioned in
    * `vectors/b<batchId>/`. Protocol (mirrors `Dedup.appendToIndex`):
    * a ledgered batchId is a committed no-op (returns false); the b-dir
    * write carries overwrite semantics, so a replay after a mid-write
    * crash rewrites the same dirs; the atomic ledger replace is the
    * commit point. Cost: O(|batch| × K) centroid rankings map-side +
    * one partitioned write — the existing corpus is never touched.
    */
  def appendToIvfIndex(vecs: DataFrame, path: String,
      batchId: Long): Boolean =
    protocol(path).fold(batchId, Seq("vectors")) {
      stageIvfFold(vecs, path, batchId)
    }

  /** Fold step 1: write the batch's assigned vectors into their b-dir
    * (overwrite ⇒ replay-safe). Exposed to the spec so a crash between
    * the write and the ledger commit can be simulated.
    */
  private[graft] def stageIvfFold(vecs: DataFrame, path: String,
      batchId: Long): Unit =
    stageVectors(vecs.select(col("vec_id"), col("v")),
      Centroids.of(vecs.sparkSession, path),
      s"${protocol(path).dir("vectors")}/b$batchId")

  /** Fold step 2: publish the grown ledger via one atomic file move. */
  private[graft] def commitIvfFold(path: String, batchId: Long): Unit =
    protocol(path).commit(batchId.toString)

  /** Tombstone a batch of vector ids, EXACTLY ONCE under replay — the
    * index-side half of a takedown/retraction request. The victim ids
    * land under `tombstones/d<deleteId>/` (overwrite ⇒ replay-safe);
    * the atomic ledger replace (`d<deleteId>` entry) is the commit
    * point. Every reader ([[indexVectors]]) anti-joins committed
    * tombstones, so the vectors disappear from ALL serving paths at the
    * commit instant; [[compactIvfIndex]] later purges them physically.
    * Cost: O(|ids|) — the corpus vectors are never touched.
    */
  def deleteFromIvfIndex(ids: DataFrame, path: String,
      deleteId: Long): Boolean =
    protocol(path).delete(deleteId) {
      protocol(path).stageTombstones(ids, "vec_id", deleteId)
    }

  /** Compact the index's vector frame: rewrite all committed sub-roots
    * into ONE `compact/` dir (still cell-partitioned, one file per
    * cell), published by the same staged-write + swap as every Layout
    * publish. Without it batch N's readers pay an O(N) sub-root
    * listing — one dir per fold, forever. The compaction input is the
    * SERVED view (tombstones already stripped), so the swap is also the
    * physical purge of deleted vectors; the tombstone dirs are dropped
    * after it. The ledger is NOT touched: replayed batchIds and
    * deleteIds keep short-circuiting after their dirs are compacted
    * away. Single-writer, like `Dedup.compactIndex`.
    */
  def compactIvfIndex(s: SparkSession, path: String): Unit = {
    val p = protocol(path)
    p.withLease("compact-ivf") {
      FoldProtocol.writePartitioned(indexVectors(s, path),
        s"$path/.vectors.compacting/${p.compactDirName()}", "cent_id")
      p.publishDir(".vectors.compacting", "vectors")
      p.clearTombstones()
    }
  }

  /** Floor-bounded retention for the IVF index — the vector-family
    * member of the vacuum trio (`TimeTravel.vacuum` for base tables,
    * `Retrieval.vacuumBm25Index` for postings): collapse the vector
    * sub-roots with ledger id ≤ `floor` into ONE cell-partitioned
    * `c<floor>` dir holding the SERVED as-of-floor view (tombstones ≤
    * floor stripped — the collapse doubles as their physical purge),
    * then reclaim the per-commit dirs. Horizons ≥ floor keep serving
    * exactly as before; below, the standard compaction honesty guard
    * refuses. Centroids are untouched (frozen across the lifecycle —
    * only a refresh moves them, and the as-of read already refuses
    * past a late refresh). The dot-dir stage + ONE atomic rename is
    * the commit point via the protocol's compaction-supersedes rule;
    * purges are reclamation. Floor normalization and the surviving-
    * tombstone detachment guard are the shared FoldProtocol preamble.
    * Writer-lease-guarded.
    */
  def vacuumIvfIndex(s: SparkSession, path: String,
      floorRequested: Long): Boolean =
    protocol(path).vacuumKinds(s, floorRequested, Seq(
      "vectors" -> ((floor, staging) =>
        FoldProtocol.writePartitioned(indexVectorsAsOf(s, path, floor),
          staging, "cent_id"))))

  /** Build-if-absent the VACUUMED-index gate fixture: the as-of
    * lifecycle (seed = history wave, fold b1 = late wave, takedown d2)
    * then [[vacuumIvfIndex]] at floor 1 — horizon 0 reclaimed,
    * horizons 1 and 2 must keep serving hash-equal to the unvacuumed
    * construction.
    */
  def ensureVacuumedIvfIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivf_vacuum", IvfKind,
      vecLifecycle(s, d, 1L, 2L) :+ Vacuum(1L)).ensure(s, d)

  /** Re-cluster a persisted IVF index in place — the recovery op for
    * distribution drift (appends are assigned to FROZEN centroids, so
    * recall decays as the data shifts; see `sim_ivf_refreshed`). One
    * Lloyd step over the committed (tombstone-stripped) vectors seeded
    * from the CURRENT centroids: recompute each cell's mean, reassign
    * every vector, rewrite `cents/` + `vectors/` via staged swaps, and
    * record an `r<refreshId>` ledger entry — a ledgered refreshId is a
    * committed no-op, so a restarted maintenance job cannot
    * double-step the centroids.
    *
    * The DRIFT GATE: when the mean centroid movement (1 − cosine of
    * old vs new) stays under `minDrift`, the refresh commits its
    * ledger entry WITHOUT rewriting anything — a refresh rewrites
    * every vector, so a barely-drifted index skips the cost.
    *
    * Publish order is vectors-then-cents, each a manifest commit
    * ([[graft.index.FoldProtocol.publishDir]] — a resolved generation
    * stays readable for one further publish plus the age-based grace
    * bound). A reader in the window between the two
    * commits probes OLD centroid positions against NEW cell contents:
    * still a valid ANN candidate set (every cell holds real vectors;
    * ranking is exact within probed cells), with recall briefly
    * degraded — ANN semantics degrade gracefully where exact semantics
    * would break. A crash in the window leaves a complete, servable
    * index; the un-ledgered replay re-runs the step from the
    * already-published state (one extra Lloyd step — the index stays
    * valid, refreshes are maintenance, not replayed ingest).
    * Writer-lease-guarded, like every index publish.
    */
  def refreshIvfIndex(s: SparkSession, path: String, refreshId: Long,
      minDrift: Double = 0.0): Boolean =
    refreshCells(s, path, refreshId, "refresh", "vectors", minDrift) { () =>
      val vecs = indexVectors(s, path).select(col("vec_id"), col("v"))
      (vecs, stageVectors(vecs, _, _))
    }

  /** The coarse-layer refresh every IVF kind shares, under the writer
    * lease: `open` (run inside the lease) yields the index's live
    * full-precision vectors and the kind's re-bin; one Lloyd step from
    * the frozen [[Centroids]] over those vectors is collected once and
    * gated on its mean movement (1 − cosine of old vs new, `minDrift`).
    * A refresh past the gate writes the new centroids to
    * `cents.refreshing` while the re-bin stages the `kind` frame under
    * them, then publishes `kind` before `cents` (the reader-window
    * argument of [[refreshIvfIndex]]), clears the tombstones the
    * rewrite purged and commits `r<refreshId>`. A ledgered refreshId is
    * a committed no-op.
    */
  private def refreshCells(s: SparkSession, path: String, refreshId: Long,
      tag: String, kind: String, minDrift: Double)(
      open: () => (DataFrame, (Centroids, String) => Unit)): Boolean = {
    val p = protocol(path)
    if (p.entries().contains(s"r$refreshId")) return false
    p.withLease(s"$tag-$refreshId") {
      val (live, rebin) = open()
      val old = Centroids.of(s, path)
      val fresh = Centroids.collected(lloydStep(live, old))
      val drift = old.frame(s).select(col("cent_id"), col("cv").as("ocv"))
        .join(fresh.frame(s).select(col("cent_id"), col("cv").as("ncv")),
          Seq("cent_id"))
        .agg(avg(lit(1.0) - cosine(col("ocv"), col("ncv"))))
        .head().getDouble(0)
      if (drift < minDrift) { p.commit(s"r$refreshId"); false }
      else {
        // the centroid staging name is NOT dot-prefixed, the staged
        // `kind` frame's is (the layout every refresh has published)
        Par.runAll(
          () => fresh.write(s, s"$path/cents.refreshing"),
          () => rebin(fresh,
            s"$path/.$kind.refreshing/${p.compactDirName()}"))
        p.publishDir(s".$kind.refreshing", kind)
        p.publishDir("cents.refreshing", "cents")
        p.clearTombstones()
        p.commit(s"r$refreshId")
        true
      }
    }
  }

  /** A refresh's coverage check: the staged re-bin must hold every live
    * index row, or the full-precision frame missed some and publishing
    * would silently drop them.
    */
  private def requireCovered(stagedN: Long, liveN: Long): Unit =
    if (stagedN != liveN)
      throw new IllegalStateException(
        s"refresh sidecar covers $stagedN of $liveN live index " +
          "rows — the full-precision frame must cover the index's " +
          "live population; refusing to publish")

  /** Top-k ANN for an arbitrary query frame `(query_id, qv)` against a
    * persisted IVF index (see [[ensureIvfIndex]]) — the serving core
    * shared by the gated `sim_ivf_indexed` query and
    * `streaming.StreamingSimilarity`'s per-micro-batch enrichment.
    * Self-matches (neighbor_id == query_id) are excluded, matching
    * every ranking in this module.
    *
    * The probed cell ids are known before the index scan and
    * structurally bounded (≤ |queries| × nprobe — query batches are
    * bounded by construction: a gate query set or one micro-batch), so
    * the cell prune is a STATIC partition filter — the scan's file
    * listing touches only the probed `cent_id=` directories
    * (plan-pinned in OperatorsSpec). That listing bound is the index's
    * reason to exist: a query batch reads ~nprobe/K of the corpus
    * bytes, not the corpus.
    *
    * `allowed` restricts the served candidates to a `(vec_id)` frame —
    * filtered vector search over the index. The semi-join applies
    * AFTER the cell prune, so its left side is the probed-cells subset
    * (~nprobe/K of the corpus), and the allowed side is typically a
    * predicate-pruned scan of a metadata sidecar (label/license/
    * source). Rankings are over the restricted candidate set; a query
    * whose probed cells hold fewer than k allowed vectors returns
    * fewer rows, exactly like the exact filtered search would.
    */
  def indexTopK(s: SparkSession, indexPath: String, queries: DataFrame,
      nprobe: Int = 4, k: Int = TopK,
      allowed: Option[DataFrame] = None,
      asOf: Option[Long] = None): DataFrame = {
    val (probes, cellPrune) = probed(s, indexPath, queries, nprobe)
    // Committed-roots union read (seed + ledgered appends + compact):
    // the isin prune pushes through the union into every branch's
    // PartitionFilters — only probed cent_id= dirs are listed, in every
    // sub-root.
    val pruned = cellPrune(asOf.fold(indexVectors(s, indexPath))(
      indexVectorsAsOf(s, indexPath, _)))
    val vecs = allowed.fold(pruned)(a =>
      pruned.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    val scored = probes.join(vecs, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** The probe side of a persisted-index serve, derived once on the
    * driver: each query's `nprobe` nearest frozen centroids (the
    * [[assign]] kernel against the index's [[Centroids]]), collected —
    * ≤ |queries| × nprobe `(query_id, qv, cent_id)` rows — and handed
    * back as a local relation the serve plan joins, so the serve
    * execution neither re-reads the centroids nor re-ranks the probes.
    * With it comes the cell prune: the probed cell ids (≤ K whatever
    * the batch size) as a static `cent_id` filter, which turns the
    * prune into a PartitionFilter that lists only the probed
    * `cent_id=` dirs; when the batch probes every cell the filter
    * would prune nothing and is skipped rather than planned as a
    * K-literal InSet.
    */
  private def probed(s: SparkSession, indexPath: String, queries: DataFrame,
      nprobe: Int): (DataFrame, DataFrame => DataFrame) = {
    val cents = Centroids.of(s, indexPath)
    val ranked = assign(
      queries.select(col("query_id").as("vec_id"), col("qv").as("v")),
      cents, nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cent_id"))
    val rows = ranked.collect()
    val cells = rows.map(_.getLong(2)).distinct.sorted
    val probes = s.createDataFrame(java.util.Arrays.asList(rows: _*),
      ranked.schema)
    (probes, frame =>
      if (cells.length >= cents.size) frame
      else frame.filter(col("cent_id").isin(cells.toIndexedSeq: _*)))
  }

  // ---- product quantization (PQ) ----
  // The 100-TB compression path for the embedding store itself: every
  // vector is M sub-vectors, each replaced by the id of its nearest
  // codebook entry — M small ints per vector (M·log2(K) bits ≈ 16 B
  // here) instead of 256 B of float32, a 16× denser scan than raw and
  // 4× denser than int8 (`quantized`). Serving is ADC (asymmetric
  // distance computation): the QUERY keeps its exact floats and scores
  // against the RECONSTRUCTED corpus (concatenated codebook entries),
  // so only the corpus side pays the quantization error.
  private val PqM = 16 // subspaces (M × PqSubDim = 64 dims)
  private val PqSubDim = 4
  // The codebook is every-25th vector BELOW A FIXED CAP: K ≤ 256 codes
  // per subspace REGARDLESS of corpus size — unlike the IVF centroid
  // family (K ~ N/25), PQ's codebook is a constant-size artifact, which
  // is what makes assignment O(N·M·K) = O(N) and the codebook frame
  // broadcastable at any scale (still unhinted — AQE's size check sees
  // a KB-sized build side and picks the broadcast itself).
  private val PqCodeCap = 6400

  private def pqSubVec(v: Column): Column =
    slice(v, col("m") * PqSubDim + 1, lit(PqSubDim))

  /** The PQ codebook trained on `e`: one `(m, code_id, c8)` row per
    * (subspace, code) — every-25th vector below the fixed cap supplies
    * each subspace's candidate sub-vectors. Constant-size by
    * construction (≤ PqM × PqCodeCap/25 rows) whatever the corpus.
    */
  private def pqCodebookOf(e: DataFrame): DataFrame = {
    val ms = explode(sequence(lit(0), lit(PqM - 1))).as("m")
    e.filter(col("vec_id") % 25 === 0 && col("vec_id") < PqCodeCap)
      .select(col("vec_id").as("code_id"), ms, col("v"))
      .select(col("m"), col("code_id"), pqSubVec(col("v")).as("c8"))
  }

  /** PQ-encode `(vec_id, v)` against a trained codebook →
    * `(vec_id, codes)`: the per-subspace nearest code ids, ordered by
    * subspace — the M-small-ints-per-vector representation the IVF-PQ
    * index persists. Assignment ranks each subspace's codebook in-row
    * (the `assign` trick per subspace: one collect_list row per m,
    * argmin by rounded cosine with code-id tie-break) — pure map work
    * after the PqM-row codebook join, no shuffle keyed by anything
    * corpus-sized except the final per-vector regroup.
    */
  private def pqEncode(e: DataFrame, cb: DataFrame): DataFrame = {
    val ms = explode(sequence(lit(0), lit(PqM - 1))).as("m")
    val cbRow = cb.groupBy(col("m"))
      .agg(collect_list(struct(col("code_id"), col("c8"))).as("cs"))
    val subs = e.select(col("vec_id"), ms, col("v"))
      .select(col("vec_id"), col("m"), pqSubVec(col("v")).as("sv"))
    subs.join(cbRow, Seq("m"))
      .select(col("vec_id"), col("m"),
        element_at(array_sort(transform(col("cs"), c =>
          struct((round(cosine(col("sv"), c("c8")), 4) * -1).as("nsim"),
            c("code_id").as("code_id")))), 1)("code_id").as("code_id"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("code_id")))).as("pairs"))
      .select(col("vec_id"),
        transform(col("pairs"), p => p("code_id").cast("int")).as("codes"))
  }

  /** PQ-decode: append the reconstructed vector `rv` to any frame
    * carrying a `codes` column, shuffle-free — the whole codebook is
    * keyed into ONE map row ((m, code) → sub-vector; M×K entries of
    * PqSubDim floats, a CONSTANT-size artifact by the PqCodeCap bound,
    * so the single-row frame is bounded in rows AND bytes — unlike the
    * corpus-derived collection aggregates the hazard sweep rejects),
    * and each row rebuilds rv by M in-row map lookups. No broadcast
    * hint: AQE's size check sees a KB-scale build side.
    */
  private def pqDecode(coded: DataFrame, cb: DataFrame): DataFrame = {
    val cbRow = cb.agg(map_from_entries(collect_list(struct(
      (col("m") * lit(1000000L) + col("code_id")).as("k"),
      col("c8").as("v")))).as("cbm"))
    coded.crossJoin(cbRow)
      .withColumn("rv", flatten(transform(col("codes"),
        (code, i) => element_at(col("cbm"),
          i.cast("long") * lit(1000000L) + code.cast("long")))))
      .drop("cbm")
  }

  /** The PQ-reconstructed corpus `(vec_id, rv)` — encode then decode
    * against the corpus-trained codebook (the `sim_pq_recall`
    * certification construction; the IVF-PQ index persists the encode
    * half and decodes at serve time from the same codebook).
    */
  private def pqReconstructed(e: DataFrame): DataFrame = {
    val cb = pqCodebookOf(e)
    pqDecode(pqEncode(e, cb), cb).select(col("vec_id"), col("rv"))
  }

  // ---- IVF-PQ persisted index ----
  // The composition of the two scale artifacts above: the
  // cell-partitioned IVF layout prunes WHICH vectors a probe reads,
  // and PQ codes shrink WHAT is stored per vector (M small ints ≈ 16 B
  // instead of 256 B of float32) — the shape a 10⁹+-vector corpus
  // actually serves from. Serving is ADC over the pruned cells (query
  // floats vs codebook-reconstructed candidates) to a rerank-sized
  // shortlist, then an EXACT re-rank of the shortlist against the
  // full-precision sidecar — so the quantization error can demote a
  // true neighbor out of the shortlist but never mis-rank the final k.
  // Index layout (FoldProtocol-managed like the float IVF index):
  //   cents/    — frozen IVF centroids
  //   codebook/ — frozen PQ codebook (m, code_id, c8)
  //   vectors/  — (vec_id, codes, cent_id) cell-partitioned sub-dirs
  //               (seed/, ledgered b<id>/, c<hw>/ compactions)

  /** ADC shortlist size: the exact re-rank reads this many candidates
    * per query from the full-precision sidecar (4× the served k — the
    * standard headroom for PQ's ranking noise at these code sizes).
    */
  val PqRerank = 20

  private val CodedSchema = "vec_id BIGINT, codes ARRAY<INT>, cent_id BIGINT"

  /** Build a fresh IVF-PQ index at `path`: train the IVF centroids and
    * the PQ codebook on the build corpus, then land every vector as
    * `(vec_id, codes)` cell-partitioned by its nearest centroid. The
    * centroids are collected once and assign the vectors beside their
    * `cents/` write ([[buildCells]]); the codebook is read BACK before
    * encoding ([[readCodebook]]) — either way the index provably serves
    * the values later probes read.
    *
    * The DEFAULT seeding is BOUNDED-K ([[fixedKSeeds]]: the smallest
    * `targetK` ids in multiplicative-hash order, one Lloyd step) — the
    * build mode that actually delivers the PQ pitch at 10⁹+ vectors:
    * K is a constant whatever the corpus, so [[assign]]'s in-row
    * centroid array stays at targetK × 64 doubles and [[ivfPqTopK]]'s
    * probe-cell driver collect at ≤ targetK cells, while PQ codes keep
    * storage at ~16 B/vector. (The legacy every-`seedEvery` mode —
    * [[writeIvfPqIndexSeedEvery]] — grows K as N/seedEvery, which
    * makes both of those O(N): constant-size cells bought with
    * unbounded map-side state, the wrong trade at scale.) Gated by
    * `sim_ivfpq_recall` (this default, K = [[FixedK]]) and
    * `sim_ivfpq_fixedk_recall` (the `targetK` KNOB at [[FixedKWide]]):
    * each oracle recomputes its construction end-to-end — hash-ordered
    * LIMIT-K seeds, then the identical Lloyd/assign/encode/ADC/re-rank
    * composition.
    */
  def writeIvfPqIndex(vecs: DataFrame, path: String,
      targetK: Int = FixedK): Unit = {
    val e = vecs.select(col("vec_id"), col("v"))
    writeIvfPqIndexFrom(e, fixedKSeeds(e, targetK), path)
  }

  /** Alias of the bounded-K default build, kept under the explicit
    * name (the mode's original entry point before bounded-K became
    * [[writeIvfPqIndex]]'s default).
    */
  def writeIvfPqIndexFixedK(vecs: DataFrame, path: String,
      targetK: Int = FixedK): Unit =
    writeIvfPqIndex(vecs, path, targetK)

  /** LEGACY every-`seedEvery`-th seeding (the pre-bounded-K default,
    * kept for corpora small enough that N/seedEvery centroids are
    * acceptable): cells stay constant-SIZE but K grows with the
    * corpus, so the map-side centroid array and the probe-cell driver
    * collect grow as O(N/seedEvery) — do NOT use at 10⁹ vectors;
    * [[writeIvfPqIndex]]'s bounded-K default is the scale path.
    */
  def writeIvfPqIndexSeedEvery(vecs: DataFrame, path: String,
      seedEvery: Int = 25): Unit = {
    val e = vecs.select(col("vec_id"), col("v"))
    writeIvfPqIndexFrom(e, e.filter(col("vec_id") % seedEvery === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv")), path)
  }

  private def writeIvfPqIndexFrom(e: DataFrame, seeds: DataFrame,
      path: String): Unit =
    buildCells(path, lloydStep(e, seeds)) { cents =>
      // float sub-vectors, the codebook's declared read type (a no-op
      // cast for the float corpus)
      pqCodebookOf(e).withColumn("c8", col("c8").cast("array<float>"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/codebook")
      stageIvfPqDir(e, cents, path, s"$path/vectors/seed")
    }

  /** The frozen PQ codebook of the index root at `path`, read under its
    * declared schema (no footer-inference job) — read BACK by the build
    * too, so the index is encoded against exactly the values later
    * serves decode with.
    */
  private def readCodebook(s: SparkSession, path: String): DataFrame =
    s.read.schema("m INT, code_id BIGINT, c8 ARRAY<FLOAT>")
      .parquet(protocol(path).dir("codebook"))

  /** Assign + encode `e` against the index's FROZEN artifacts and land
    * it cell-partitioned at `dir` (overwrite ⇒ replay-safe) — the
    * staging step shared by the seed build and every fold.
    */
  private def stageIvfPqDir(e: DataFrame, cents: Centroids, path: String,
      dir: String): Unit = {
    val cb = readCodebook(e.sparkSession, path)
    FoldProtocol.writePartitioned(
      assign(e, cents, 1).select(col("vec_id"), col("cent_id"))
        .join(pqEncode(e, cb), Seq("vec_id"))
        .select(col("vec_id"), col("codes"), col("cent_id")),
      dir, "cent_id")
  }

  /** Fold a batch of new vectors into a persisted IVF-PQ index,
    * exactly once under replay — [[appendToIvfIndex]]'s contract with
    * the PQ encode added: new vectors take the FROZEN centroids and
    * codebook (both are retrained offline like every IVF refresh,
    * never per ingest batch).
    */
  def appendToIvfPqIndex(vecs: DataFrame, path: String,
      batchId: Long): Boolean =
    protocol(path).fold(batchId, Seq("vectors")) {
      stageIvfPqDir(vecs.select(col("vec_id"), col("v")),
        Centroids.of(vecs.sparkSession, path), path,
        s"${protocol(path).dir("vectors")}/b$batchId")
    }

  /** Tombstone vector ids out of a persisted IVF-PQ index — identical
    * protocol to [[deleteFromIvfIndex]] (the coded frame anti-joins the
    * same tombstones at serve time).
    */
  def deleteFromIvfPqIndex(ids: DataFrame, path: String,
      deleteId: Long): Boolean =
    protocol(path).delete(deleteId) {
      protocol(path).stageTombstones(ids, "vec_id", deleteId)
    }

  /** All committed coded index rows `(vec_id, codes, cent_id)`, minus
    * committed tombstones — the IVF-PQ twin of [[indexVectors]].
    */
  def indexCodes(s: SparkSession, path: String): DataFrame =
    protocol(path).readCommittedStripped(s, "vectors", "vec_id")(r =>
      s.read.schema(CodedSchema).option("basePath", r).parquet(r))

  /** [[indexCodes]] AS OF a ledger horizon — [[indexVectorsAsOf]]'s
    * contract on the coded frame (same honesty guards: compaction or
    * refresh past the horizon refuse). Centroids AND codebook are
    * valid at every servable horizon: both are frozen across
    * folds/deletes and only a refresh moves centroids.
    */
  def indexCodesAsOf(s: SparkSession, path: String,
      asOf: Long): DataFrame =
    protocol(path).readCommittedStrippedAsOf(s, "vectors", "vec_id",
      asOf)(r =>
      s.read.schema(CodedSchema).option("basePath", r).parquet(r))

  /** Floor-bounded retention for the IVF-PQ index — a
    * [[graft.index.FoldProtocol.vacuumKinds]] adapter on the coded
    * frame (centroids and codebook frozen, like every PQ maintenance
    * op). Value-gated by `sim_ivfpq_vacuum` (surviving horizons
    * hash-equal to `sim_ivfpq_asof`'s oracle branches); the refusal
    * paths stay spec'd in AsOfIndexSpec.
    */
  def vacuumIvfPqIndex(s: SparkSession, path: String,
      floorRequested: Long): Boolean =
    protocol(path).vacuumKinds(s, floorRequested, Seq(
      "vectors" -> ((floor, staging) =>
        FoldProtocol.writePartitioned(indexCodesAsOf(s, path, floor),
          staging, "cent_id"))))

  /** Rewrite the committed coded sub-roots into one `c<hw>` dir —
    * [[compactIvfIndex]]'s contract on the coded frame: the input is
    * the SERVED view (tombstones already stripped), so the swap is
    * also the physical purge; the ledger stays so replayed
    * batch/delete ids keep short-circuiting. Codes are opaque to the
    * rewrite — centroids and codebook stay frozen, so a compacted
    * IVF-PQ index serves byte-identically.
    */
  def compactIvfPqIndex(s: SparkSession, path: String): Unit = {
    val p = protocol(path)
    p.withLease("compact-ivfpq") {
      FoldProtocol.writePartitioned(indexCodes(s, path),
        s"$path/.vectors.compacting/${p.compactDirName()}", "cent_id")
      p.publishDir(".vectors.compacting", "vectors")
      p.clearTombstones()
    }
  }

  /** Re-cluster a persisted IVF-PQ index's COARSE layer —
    * [[refreshIvfIndex]]'s contract for the compressed index: one
    * Lloyd step from the current centroids over the full-precision
    * `vecs` frame, the (unchanged) codes re-binned under the new
    * centroids, publish. The codes and the codebook stay frozen (they
    * encode the original vector — cell membership is not part of the
    * encoding), so the index-side rewrite is only the ~16 B/vector
    * payload; the refresh reads the float corpus exactly once. That
    * float read is NOT an extra dependency: `vecs` is the same
    * full-precision sidecar [[ivfPqTopK]]'s exact re-rank already
    * requires at every serve, and training the re-cluster on it
    * matters — a self-contained variant (Lloyd over the codebook
    * RECONSTRUCTION) was measured on the gate scenario and REJECTED:
    * quantization noise poisons the re-cluster enough to lose recall
    * vs the frozen index (71→65 overlap sum at sf0.001), while the
    * sidecar-trained step wins it back (71→83).
    *
    * `vecs` must cover the index's live population (rows the index
    * has that `vecs` lacks would silently vanish from the re-bin, so
    * coverage is VERIFIED against the staged rewrite before publish
    * and the refresh fails loudly without publishing); extra rows in
    * `vecs` — e.g. not-yet-folded arrivals — are ignored via a
    * semi-join against the committed codes.
    *
    * Drift gate, refresh ledger (`r<id>`), crash/replay, and
    * mid-publish reader semantics are identical to
    * [[refreshIvfIndex]]: a reader between the two publishes probes
    * old centroid positions against new cell contents — still a valid
    * ANN candidate set, recall briefly degraded, never wrong values.
    * Tombstones are cleared because the re-bin rewrites the SERVED
    * view (victims are already stripped by [[indexCodes]]).
    */
  def refreshIvfPqIndex(s: SparkSession, path: String, refreshId: Long,
      vecs: DataFrame, minDrift: Double = 0.0): Boolean =
    refreshCells(s, path, refreshId, "refresh-pq", "vectors", minDrift) { () =>
      val codes = indexCodes(s, path).select(col("vec_id"), col("codes"))
      val live = vecs.select(col("vec_id"), col("v"))
        .join(codes.select(col("vec_id")), Seq("vec_id"), "left_semi")
      (live, (cents, staged) => {
        FoldProtocol.writePartitioned(
          assign(live, cents, 1)
            .select(col("vec_id"), col("cent_id"))
            .join(codes, Seq("vec_id"))
            .select(col("vec_id"), col("codes"), col("cent_id")),
          staged, "cent_id")
        requireCovered(s.read.schema(CodedSchema).parquet(staged).count(),
          codes.count())
      })
    }

  /** Top-k ANN for `(query_id, qv)` queries against a persisted IVF-PQ
    * index. Same static cell prune as [[indexTopK]] (probed `cent_id=`
    * directories only), but the pruned scan reads CODES (≈16 B/vector),
    * not float vectors; candidates are scored by ADC — rounded cosine
    * of the query's exact floats against the codebook-reconstructed
    * candidate — to a `rerank`-deep shortlist per query, and the
    * shortlist alone is re-ranked exactly against `full`, the
    * full-precision `(vec_id, v)` sidecar — queries × rerank point
    * lookups, the only touch of float vectors on the serve path, and
    * genuinely point-shaped: the collected shortlist becomes an
    * `In(vec_id, …)` pushdown on the sidecar scan (row-group skips),
    * never a full float-corpus stream past a broadcast join.
    *
    * `allowed` restricts the served candidates to a `(vec_id)` frame —
    * filtered vector search over the PQ index, the same contract as
    * [[indexTopK]]'s: the semi-join applies AFTER the cell prune and
    * BEFORE ADC, so its left side is the probed-cells CODES subset
    * (≈16 B/vector of ~nprobe/K of the corpus) and disallowed
    * candidates never reach scoring, the shortlist, or the sidecar
    * lookups. Rankings are over the restricted set.
    */
  def ivfPqTopK(s: SparkSession, indexPath: String, queries: DataFrame,
      full: DataFrame, nprobe: Int = 4, k: Int = TopK,
      rerank: Int = PqRerank,
      allowed: Option[DataFrame] = None,
      asOf: Option[Long] = None): DataFrame = {
    val cb = readCodebook(s, indexPath)
    // the probes, collected once, and indexTopK's static cell prune
    val (probes, cellPrune) = probed(s, indexPath, queries, nprobe)
    val pruned = cellPrune(asOf.fold(indexCodes(s, indexPath))(
      indexCodesAsOf(s, indexPath, _)))
    val candidates = allowed.fold(pruned)(a =>
      pruned.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    val adc = probes.join(pqDecode(candidates, cb), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("rv")), 4).as("sim"))
    // Bounded driver collect (≤ |queries| × rerank pairs — the same
    // class as the probe-cell list above): materializing the shortlist
    // lets the exact re-rank push an In(vec_id, …) predicate INTO the
    // full-precision sidecar's scan, so the point lookups are
    // row-group-stat skips instead of streaming the whole float corpus
    // past a broadcast join — the difference between "read ~400 rows"
    // and "read 256 B × 10⁹ vectors" on the serve path.
    import s.implicits._
    val short = rankTopK(adc, rerank)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect()
    val shortIds = short.map(_._2).distinct.toSeq
    val rescored = short.toSeq.toDF("query_id", "neighbor_id")
      .join(full.filter(col("vec_id").isin(shortIds: _*))
        .select(col("vec_id").as("neighbor_id"), col("v")),
        Seq("neighbor_id"))
      .join(queries.select(col("query_id"), col("qv")), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
    rankTopK(rescored, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Build-if-absent the persisted IVF-PQ index over the gate corpus,
    * built through [[writeIvfPqIndex]]'s DEFAULT (bounded-K, K =
    * [[FixedK]]) — so `sim_ivfpq_recall` value-gates exactly the build
    * a production operator gets from the obvious API. The root name
    * carries the build K (the kind's params), so a change of build
    * mode can never re-serve the previous mode's artifact.
    */
  def ensureIvfPqIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivfpq", ivfPqKind(FixedK), Seq(vecSeed(s, d))).ensure(s, d)

  /** Build-if-absent the GROWN IVF-PQ gate fixture — the PQ twin of
    * [[ensureGrownIvfIndex]]: centroids + codebook trained on the
    * history wave (vec_id % 5 ≠ 4) through the bounded-K DEFAULT
    * build, the incoming wave folded through [[appendToIvfPqIndex]]
    * against the FROZEN artifacts — so `sim_ivfpq_grown_recall`
    * value-gates the fold contract on the build mode production
    * actually runs.
    */
  def ensureGrownIvfPqIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivfpq_grown", ivfPqKind(FixedK), vecWaves(s, d, 1L))
      .ensure(s, d)

  /** Build-if-absent the GROWN bounded-K fixture at the KNOB setting
    * ([[FixedKWide]]) — `sim_ivfpq_fixedk_grown_recall`'s fixture: the
    * same history-build-then-fold lifecycle as
    * [[ensureGrownIvfPqIndex]], at a different targetK, so the fold
    * contract is value-gated at TWO cell counts.
    */
  def ensureFixedKGrownIvfPqIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivfpq_grown", ivfPqKind(FixedKWide), vecWaves(s, d, 1L))
      .ensure(s, d)

  /** Build-if-absent the EVOLVED IVF-PQ gate fixture — the PQ twin of
    * [[ensureEvolvedIvfIndex]]: the grown construction plus one
    * committed delete batch (vec_id % 9 = 0) tombstoned through
    * [[deleteFromIvfPqIndex]].
    */
  def ensureEvolvedIvfPqIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivfpq_evolved", ivfPqKind(FixedK),
      vecLifecycle(s, d, 1L, 2L)).ensure(s, d)

  /** Build-if-absent the VACUUMED IVF-PQ gate fixture: the evolved
    * lifecycle (seed 0, fold b1, takedown d2) then [[vacuumIvfPqIndex]]
    * at floor 1 — horizon 0 reclaimed (refuses), horizons 1 and 2 must
    * keep serving hash-equal to the unvacuumed construction.
    */
  def ensureVacuumedIvfPqIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivfpq_vacuum", ivfPqKind(FixedK),
      vecLifecycle(s, d, 1L, 2L) :+ Vacuum(1L)).ensure(s, d)

  /** Build-if-absent the bounded-K IVF-PQ index at the KNOB setting
    * ([[FixedKWide]] — the default fixture already builds at
    * [[FixedK]]) under its own warehouse root. Serving goes through
    * the same [[ivfPqTopK]] path — only targetK (and therefore the
    * centroid count and per-cell size) differs.
    */
  def ensureFixedKIvfPqIndex(s: SparkSession, d: String): String =
    Fixture("graft_ivfpq", ivfPqKind(FixedKWide), Seq(vecSeed(s, d)))
      .ensure(s, d)

  /** Build-if-absent the PQ refresh-gate pair — the IVF-PQ twin of
    * [[ensureShiftIvfIndexes]]: BOTH indexes build bounded-K on the
    * original corpus and fold the shifted wave as one ledgered append
    * (codes encoded against the FROZEN codebook — exactly where a
    * frozen coarse layout starts hurting); the second then takes one
    * [[refreshIvfPqIndex]] pass (refreshId 0, no drift gate).
    */
  def ensureShiftIvfPqIndexes(s: SparkSession, d: String): (String, String) =
    (Fixture("graft_ivfpq_frozen", ivfPqKind(FixedK),
      shiftScript(s, d, refresh = false)).ensure(s, d),
      Fixture("graft_ivfpq_refresh", ivfPqKind(FixedK),
        shiftScript(s, d, refresh = true)).ensure(s, d))

  /** [[ivfTopK]] served from the PERSISTED index: result-identical by
    * construction (same centroids, same assignment, same rounded-cosine
    * ranking — gated against the SAME oracle SQL), but the corpus is
    * never re-scanned and never re-assigned.
    */
  def ivfTopKIndexed(s: SparkSession, d: String): DataFrame =
    indexTopK(s, ensureIvfIndex(s, d),
      Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))

  /** The full IVF-PQ recall-gate oracle, assign block and codebook
    * training set pluggable: IVF seeds/Lloyd/assignment/probes (the
    * shared CTE texts), PQ codebook/encode/reconstruct (the
    * sim_pq_recall CTEs verbatim), ADC shortlist, exact re-rank,
    * per-query overlap vs the exact top-k. `sim_ivfpq_recall` plugs
    * the default every-25th seeds; `sim_ivfpq_fixedk_recall` the
    * hash-ordered LIMIT-K sample; `sim_ivfpq_grown_recall` the
    * HISTORY-trained assign block ([[ivfGrownAssignCtes]]) with the
    * codebook training likewise restricted to history — everything
    * downstream is byte-identical text, so all three gates certify
    * the same composition under their respective build modes.
    */
  private def ivfPqRecallSql(assignCtes: String, cbWhere: String = "",
      adcWhere: String = "TRUE", topk: String = topkCtes): String =
    s"""WITH $eCte,
       |$topk,
       |$assignCtes,
       |cb AS (SELECT m, vec_id AS code_id,
       |         v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS c8
       |       FROM e, range(0, $PqM) t(m)
       |       WHERE vec_id % 25 = 0 AND vec_id < $PqCodeCap$cbWhere),
       |sub AS (SELECT vec_id, m,
       |          v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS sv
       |        FROM e, range(0, $PqM) t(m)),
       |asg AS (SELECT vec_id, m, c8 FROM (
       |    SELECT s.vec_id, s.m, c.c8,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY round(list_cosine_similarity(s.sv, c.c8), 4) DESC, c.code_id) AS rn
       |    FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1),
       |recon AS (SELECT vec_id, flatten(list(c8 ORDER BY m)) AS rv
       |          FROM asg GROUP BY vec_id),
       |adc AS (SELECT p.query_id, a1.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, r.rv), 4) AS sim
       |  FROM probes p
       |  JOIN a1 ON p.cent_id = a1.cent_id AND a1.vec_id <> p.query_id
       |  JOIN recon r ON r.vec_id = a1.vec_id
       |  WHERE $adcWhere),
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM adc) WHERE rank <= $PqRerank),
       |rescored AS (SELECT sh.query_id, sh.neighbor_id,
       |    round(list_cosine_similarity(q.qv, e.v), 4) AS sim
       |  FROM short sh JOIN e ON e.vec_id = sh.neighbor_id
       |  JOIN q ON q.query_id = sh.query_id),
       |ivfpq AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM rescored) WHERE rank <= $TopK)
       |SELECT t.query_id,
       |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_common
       |FROM topk t LEFT JOIN ivfpq i
       |  ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
       |GROUP BY t.query_id""".stripMargin

  /** The shared head of the PQ as-of oracles: the evolved fixture's
    * FROZEN artifacts recomputed end-to-end — history-trained bounded
    * seeds/Lloyd/centroids (`sim_ivfpq_grown_recall`'s assign block),
    * the hist-restricted codebook, ALL vectors assigned (`a1`) and
    * encoded (`recon`) against them, the query probes — everything a
    * horizon CANNOT change. Per-horizon restriction composes
    * downstream over `a1` (see [[pqAsofHorizonCtes]]), exactly what
    * the ledger-scoped dir/tombstone filters must reproduce.
    */
  private def pqAsofSharedCtes: String =
    s"""$eCte,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |${ivfGrownAssignCtesSeeded(fixedKSeedSql("hist", FixedK))},
       |$ivfGrownProbesCte,
       |$pqEncodeCtes""".stripMargin

  /** The evolved PQ fixture's frozen ENCODE artifacts as CTE text —
    * hist-restricted codebook, every vector coded and reconstructed —
    * shared by the PQ as-of oracles and the PQ matrix composition.
    * Expects `e` in scope.
    */
  private def pqEncodeCtes: String =
    s"""cb AS (SELECT m, vec_id AS code_id,
       |         v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS c8
       |       FROM e, range(0, $PqM) t(m)
       |       WHERE vec_id % 25 = 0 AND vec_id < $PqCodeCap AND vec_id % 5 <> 4),
       |sub AS (SELECT vec_id, m,
       |          v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS sv
       |        FROM e, range(0, $PqM) t(m)),
       |asg AS (SELECT vec_id, m, c8 FROM (
       |    SELECT s.vec_id, s.m, c.c8,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY round(list_cosine_similarity(s.sv, c.c8), 4) DESC, c.code_id) AS rn
       |    FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1),
       |recon AS (SELECT vec_id, flatten(list(c8 ORDER BY m)) AS rv
       |          FROM asg GROUP BY vec_id)""".stripMargin

  /** One horizon of the PQ as-of serve: ADC over the probed cells with
    * the horizon's candidate restriction, the PqRerank-deep shortlist,
    * the exact re-rank, the ranked top-k — [[ivfPqRecallSql]]'s serve
    * chain with `$tag`-suffixed names so three horizons coexist in one
    * WITH. The restriction applies at the ADC candidate side, so it
    * propagates through shortlist, re-rank, and ranking — the
    * filtered-search placement, which is also exactly where the
    * engine's dir/tombstone scoping acts (on the coded frame).
    */
  private def pqAsofHorizonCtes(tag: String, horizon: Int,
      adcWhere: String, queryCte: String = "q",
      probesCte: String = "probes"): String =
    s"""adc$tag AS (SELECT p.query_id, a1.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, r.rv), 4) AS sim
       |  FROM $probesCte p
       |  JOIN a1 ON p.cent_id = a1.cent_id AND a1.vec_id <> p.query_id
       |  JOIN recon r ON r.vec_id = a1.vec_id
       |  WHERE $adcWhere),
       |short$tag AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM adc$tag) WHERE rank <= $PqRerank),
       |res$tag AS (SELECT sh.query_id, sh.neighbor_id,
       |    round(list_cosine_similarity(qq.qv, e.v), 4) AS sim
       |  FROM short$tag sh JOIN e ON e.vec_id = sh.neighbor_id
       |  JOIN $queryCte qq ON qq.query_id = sh.query_id),
       |h$tag AS (SELECT CAST($horizon AS BIGINT) AS horizon, query_id,
       |    neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM res$tag) WHERE rank <= $TopK)""".stripMargin

  /** The PQ leg of the consistent-horizon matrix (`q_asof_matrix_pq`
    * in [[Retrieval]]): the evolved PQ fixture's frozen construction
    * (bounded hist-trained seeds/Lloyd/centroids, hist codebook, all
    * vectors coded) over the hybrid gates' per-dim-mean synthetic
    * query `qd`, plus per-horizon ranked serves `h0/h1/h2` under the
    * PQ ledger's candidate restrictions. Emits everything the host
    * oracle needs: `e`, `qd`, and `(horizon, query_id, neighbor_id,
    * rank)` per horizon.
    */
  private[operators] def asofMatrixPqCtes: String =
    s"""$eCte,
       |qm AS (SELECT dd, avg(v[dd]) AS qx
       |       FROM e, range(1, 65) rr(dd) WHERE vec_id < 20 GROUP BY dd),
       |qd AS (SELECT CAST(-1 AS BIGINT) AS query_id,
       |              list(qx ORDER BY dd) AS qv FROM qm),
       |${ivfGrownAssignCtesSeeded(fixedKSeedSql("hist", FixedK))},
       |pqpr AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM qd q, cents c) WHERE rn <= 4),
       |$pqEncodeCtes,
       |${pqAsofHorizonCtes("0", 0, "a1.vec_id % 5 <> 4", "qd", "pqpr")},
       |${pqAsofHorizonCtes("1", 1, "TRUE", "qd", "pqpr")},
       |${pqAsofHorizonCtes("2", 2, "a1.vec_id % 9 <> 0", "qd", "pqpr")}"""
      .stripMargin

  /** Oracle for `sim_ivfpq_asof`: one shared frozen construction,
    * three candidate restrictions — horizon 0 = seed wave only,
    * horizon 1 = seed + fold, horizon 2 = fold + delete applied.
    */
  private def pqAsofOracleSql: String =
    s"""WITH $pqAsofSharedCtes,
       |${pqAsofHorizonCtes("0", 0, "a1.vec_id % 5 <> 4")},
       |${pqAsofHorizonCtes("1", 1, "TRUE")},
       |${pqAsofHorizonCtes("2", 2, "a1.vec_id % 9 <> 0")}
       |SELECT horizon, query_id, neighbor_id, rank FROM h0
       |UNION ALL SELECT horizon, query_id, neighbor_id, rank FROM h1
       |UNION ALL SELECT horizon, query_id, neighbor_id, rank FROM h2"""
      .stripMargin

  /** Oracle for `sim_ivfpq_vacuum`: the as-of oracle's SURVIVING
    * branches verbatim — the whole point is that a floor-1 vacuum
    * leaves horizons 1 and 2 hash-equal to the unvacuumed serve.
    */
  private def pqVacuumOracleSql: String =
    s"""WITH $pqAsofSharedCtes,
       |${pqAsofHorizonCtes("1", 1, "TRUE")},
       |${pqAsofHorizonCtes("2", 2, "a1.vec_id % 9 <> 0")}
       |SELECT horizon, query_id, neighbor_id, rank FROM h1
       |UNION ALL SELECT horizon, query_id, neighbor_id, rank FROM h2"""
      .stripMargin

  /** Oracle for `sim_ivfpq_refreshed`: recompute BOTH IVF-PQ
    * constructions end-to-end — frozen (bounded-K centroids + codebook
    * trained on the original corpus, the shifted wave folded against
    * both frozen artifacts) and refreshed (one Lloyd step over the
    * codebook RECONSTRUCTION from the frozen centroids, codes re-binned
    * under the new centroids) — plus the exact top-k over the combined
    * population, and emit per-query recall numerators for each. The
    * refresh's Lloyd step trains on the FULL-PRECISION combined
    * population assigned to the frozen cells (`a1` — exactly
    * [[refreshIvfPqIndex]]'s sidecar-driven step), and the re-bin
    * (`ra1`) re-assigns the floats to the new centroids while the
    * codes — and therefore the served reconstructions — stay frozen.
    * Rankings keep the module's rounded-cosine/tie-break convention
    * throughout.
    */
  private val pqRefreshedOracleSql: String =
    s"""WITH $eCte,
       |sh AS (SELECT vec_id + 100000 AS vec_id,
       |         list_transform(v, x -> -x) AS v
       |       FROM e WHERE vec_id % 5 = 4),
       |u AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM sh),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries
       |      UNION ALL
       |      SELECT vec_id AS query_id, v AS qv FROM sh WHERE vec_id < 100100),
       |bscored AS (SELECT query_id, u.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qv, u.v), 4) AS sim
       |  FROM q JOIN u ON u.vec_id <> query_id),
       |topk AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM bscored) WHERE rank <= $TopK),
       |seeds AS (${fixedKSeedSql("e", FixedK)}),
       |a0 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, s.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
       |    FROM e, seeds s) WHERE rn = 1),
       |cd AS (SELECT cent_id, d, avg(v[d]) AS cx
       |       FROM a0, range(1, 65) t(d) GROUP BY cent_id, d),
       |cents AS (SELECT cent_id, list(cx ORDER BY d) AS cv FROM cd GROUP BY cent_id),
       |a1 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT u.vec_id, u.v, c.cent_id,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_cosine_similarity(u.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM u, cents c) WHERE rn = 1),
       |cb AS (SELECT m, vec_id AS code_id,
       |         v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS c8
       |       FROM e, range(0, $PqM) t(m)
       |       WHERE vec_id % 25 = 0 AND vec_id < $PqCodeCap),
       |sub AS (SELECT vec_id, m,
       |          v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS sv
       |        FROM u, range(0, $PqM) t(m)),
       |asg AS (SELECT vec_id, m, c8 FROM (
       |    SELECT s.vec_id, s.m, c.c8,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY round(list_cosine_similarity(s.sv, c.c8), 4) DESC, c.code_id) AS rn
       |    FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1),
       |recon AS (SELECT vec_id, flatten(list(c8 ORDER BY m)) AS rv
       |          FROM asg GROUP BY vec_id),
       |fprobes AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM q, cents c) WHERE rn <= 4),
       |fadc AS (SELECT p.query_id, a1.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, rr.rv), 4) AS sim
       |  FROM fprobes p
       |  JOIN a1 ON p.cent_id = a1.cent_id AND a1.vec_id <> p.query_id
       |  JOIN recon rr ON rr.vec_id = a1.vec_id),
       |fshort AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM fadc) WHERE rank <= $PqRerank),
       |fres AS (SELECT fs.query_id, fs.neighbor_id,
       |    round(list_cosine_similarity(q.qv, u.v), 4) AS sim
       |  FROM fshort fs JOIN u ON u.vec_id = fs.neighbor_id
       |  JOIN q ON q.query_id = fs.query_id),
       |ivfpq_f AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM fres) WHERE rank <= $TopK),
       |rcd AS (SELECT cent_id, d, avg(v[d]) AS cx
       |        FROM a1, range(1, 65) t(d) GROUP BY cent_id, d),
       |rcents AS (SELECT cent_id, list(cx ORDER BY d) AS cv FROM rcd GROUP BY cent_id),
       |ra1 AS (SELECT vec_id, cent_id FROM (
       |    SELECT u.vec_id, c.cent_id,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY round(list_cosine_similarity(u.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM u, rcents c) WHERE rn = 1),
       |rprobes AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM q, rcents c) WHERE rn <= 4),
       |radc AS (SELECT p.query_id, ra1.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, rr.rv), 4) AS sim
       |  FROM rprobes p
       |  JOIN ra1 ON p.cent_id = ra1.cent_id AND ra1.vec_id <> p.query_id
       |  JOIN recon rr ON rr.vec_id = ra1.vec_id),
       |rshort AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM radc) WHERE rank <= $PqRerank),
       |rres AS (SELECT rs.query_id, rs.neighbor_id,
       |    round(list_cosine_similarity(q.qv, u.v), 4) AS sim
       |  FROM rshort rs JOIN u ON u.vec_id = rs.neighbor_id
       |  JOIN q ON q.query_id = rs.query_id),
       |ivfpq_r AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM rres) WHERE rank <= $TopK)
       |SELECT t.query_id,
       |  CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS frozen_common,
       |  CAST(sum(CASE WHEN r2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS refreshed_common
       |FROM topk t
       |LEFT JOIN ivfpq_f f ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
       |LEFT JOIN ivfpq_r r2 ON r2.query_id = t.query_id AND r2.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id""".stripMargin

  /** The bounded-K-default IVF-PQ serve chain as oracle CTE text,
    * parameterized on the query-frame CTE (must expose
    * `(query_id, qv)`) — for composing the PQ dense leg into OTHER
    * modules' oracles (the hybrid gates in `Retrieval`). Expects
    * `e(vec_id, v)` in scope; emits `<out>(query_id, neighbor_id,
    * rank)`. CTE names are pq_-prefixed so the composition cannot
    * collide with a host oracle's frames; the chain itself — seeds,
    * Lloyd, assignment, codebook, ADC, rerank-deep shortlist, exact
    * re-rank — mirrors [[ivfPqRecallSql]] line for line, so the gates
    * sharing it certify one construction. `adcWhere` restricts the ADC
    * candidate side (the filtered-search contract: disallowed ids
    * never reach scoring or the shortlist, so the re-rank inherits the
    * restriction).
    */
  private[graft] def ivfPqServeCtes(queryCte: String,
      out: String, adcWhere: String = "TRUE",
      k: Int = TopK): String =
    s"""pq_seeds AS (${fixedKSeedSql("e", FixedK)}),
       |pq_a0 AS (SELECT vec_id, v, cent_id FROM (
       |    SELECT e.vec_id, e.v, s.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
       |    FROM e, pq_seeds s) WHERE rn = 1),
       |pq_cd AS (SELECT cent_id, dd, avg(v[dd]) AS cx
       |       FROM pq_a0, range(1, 65) t(dd) GROUP BY cent_id, dd),
       |pq_cents AS (SELECT cent_id, list(cx ORDER BY dd) AS cv
       |             FROM pq_cd GROUP BY cent_id),
       |pq_a1 AS (SELECT vec_id, cent_id FROM (
       |    SELECT e.vec_id, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM e, pq_cents c) WHERE rn = 1),
       |pq_cb AS (SELECT m, vec_id AS code_id,
       |         v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS c8
       |       FROM e, range(0, $PqM) t(m)
       |       WHERE vec_id % 25 = 0 AND vec_id < $PqCodeCap),
       |pq_sub AS (SELECT vec_id, m,
       |          v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS sv
       |        FROM e, range(0, $PqM) t(m)),
       |pq_asg AS (SELECT vec_id, m, c8 FROM (
       |    SELECT s.vec_id, s.m, c.c8,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY round(list_cosine_similarity(s.sv, c.c8), 4) DESC, c.code_id) AS rn
       |    FROM pq_sub s JOIN pq_cb c ON s.m = c.m) WHERE rn = 1),
       |pq_recon AS (SELECT vec_id, flatten(list(c8 ORDER BY m)) AS rv
       |          FROM pq_asg GROUP BY vec_id),
       |pq_probes AS (SELECT query_id, qv, cent_id FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC, c.cent_id) AS rn
       |    FROM $queryCte q, pq_cents c) WHERE rn <= 4),
       |pq_adc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.qv, rr.rv), 4) AS sim
       |  FROM pq_probes p
       |  JOIN pq_a1 a ON p.cent_id = a.cent_id AND a.vec_id <> p.query_id
       |  JOIN pq_recon rr ON rr.vec_id = a.vec_id
       |  WHERE $adcWhere),
       |pq_short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM pq_adc) WHERE rank <= $PqRerank),
       |pq_res AS (SELECT sh.query_id, sh.neighbor_id,
       |    round(list_cosine_similarity(q.qv, e.v), 4) AS sim
       |  FROM pq_short sh JOIN e ON e.vec_id = sh.neighbor_id
       |  JOIN $queryCte q ON q.query_id = sh.query_id),
       |$out AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM pq_res) WHERE rank <= $k)""".stripMargin

  /** The Spark side of both IVF-PQ recall gates: [[ivfPqTopK]] against
    * the given persisted index, per-query overlap vs [[bruteTopK]].
    */
  private def ivfPqRecallOver(s: SparkSession, d: String,
      indexPath: String): DataFrame = {
    val exact = bruteTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val approx = ivfPqTopK(s, indexPath,
      Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      corpus(s, d).select(col("vec_id"), col("v")))
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
  }

  val specs: Seq[QuerySpec] = Seq(

    // Brute-force top-k: broadcast queries x corpus scan, rank per query.
    QuerySpec(
      "sim_topk",
      s"""WITH $eCte,
         |$topkCtes
         |SELECT query_id, neighbor_id, rank FROM topk""".stripMargin)(
      (s, d) => bruteTopK(s, d)),

    // Exact cosine RANGE search at the semantic-dup bar: all pairs at
    // rounded sim >= 0.4 per query — the all-neighbors question
    // takedown sweeps ask, one shuffle-free corpus scan.
    QuerySpec(
      "sim_radius",
      s"""WITH $eCte,
         |rq AS (SELECT vec_id AS query_id, v AS qv FROM e
         |       WHERE vec_id < $NQueries)
         |SELECT query_id, e.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(qv, e.v), 4) AS sim
         |FROM rq JOIN e ON e.vec_id <> query_id
         |WHERE round(list_cosine_similarity(qv, e.v), 4) >= 0.4"""
        .stripMargin)((s, d) => bruteRadius(s, d)),

    // Cell-blocked range search, recall certified per query against
    // the exact counts — the scale path for radius queries (nprobe/K
    // of the corpus scanned) with its miss rate measured, not
    // assumed; deterministic construction, so both sides recompute
    // exactly.
    QuerySpec(
      "sim_radius_ivf",
      s"""WITH $eCte,
         |$ivfCtes,
         |rq AS (SELECT vec_id AS query_id, v AS qv FROM e
         |       WHERE vec_id < $NQueries),
         |rex AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |        FROM rq JOIN e ON e.vec_id <> query_id
         |          AND round(list_cosine_similarity(qv, e.v), 4) >= 0.4
         |        GROUP BY query_id),
         |rfound AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_found
         |           FROM iscored WHERE sim >= 0.4 GROUP BY query_id)
         |SELECT r.query_id, r.n_exact,
         |  CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found,
         |  round(CAST(coalesce(f.n_found, 0) AS DOUBLE) / r.n_exact, 4)
         |    AS recall
         |FROM rex r LEFT JOIN rfound f USING (query_id)""".stripMargin)(
      (s, d) => ivfRadiusRecall(s, d)),

    // Late-interaction (MaxSim) retrieval over multi-vector documents:
    // sum-of-max-chunk-cosines on a 1e4-scaled integer grid (order-
    // free reductions — no float accumulation in the ranking), top-5
    // per query document.
    QuerySpec(
      "sim_maxsim",
      s"""WITH $eCte,
         |ch AS (SELECT vec_id // 4 AS doc_id, vec_id, v FROM e),
         |qc AS (SELECT doc_id AS query_doc, vec_id AS qcid, v AS qv
         |       FROM ch WHERE doc_id < 5),
         |p AS (SELECT query_doc, qcid, ch.doc_id,
         |    CAST(round(list_cosine_similarity(qv, ch.v) * 10000)
         |      AS BIGINT) AS s
         |  FROM qc JOIN ch ON ch.doc_id <> qc.query_doc),
         |m AS (SELECT query_doc, doc_id, qcid, max(s) AS m
         |      FROM p GROUP BY 1, 2, 3),
         |sc AS (SELECT query_doc, doc_id, CAST(sum(m) AS BIGINT) AS score
         |       FROM m GROUP BY 1, 2)
         |SELECT query_doc, doc_id, score, rank FROM (
         |  SELECT query_doc, doc_id, score,
         |    row_number() OVER (PARTITION BY query_doc
         |                       ORDER BY score DESC, doc_id) AS rank
         |  FROM sc) WHERE rank <= $TopK""".stripMargin)(
      (s, d) => maxSimTopK(s, d)),

    // Dense-retrieval evaluation: the brute top-k graded by LABEL
    // relevance (unseen by the ranker) — exact integer DCG/IDCG over
    // driver-literal weights, nDCG, first relevant rank, recall@k.
    QuerySpec(
      "sim_rank_eval", {
        val wvalues = DenseWeights.zipWithIndex
          .map { case (x, i) => s"(${i + 1}, $x)" }.mkString(", ")
        val idcgCase = (TopK to 1 by -1).map { k =>
          val cmp = if (k == TopK) s">= $k" else s"= $k"
          s"WHEN n.n_rel $cmp THEN ${DenseCumWeights(k - 1)}"
        }.mkString(" ")
        s"""WITH $eCte,
           |$topkCtes,
           |lb AS (SELECT vec_id, label FROM embeddings),
           |ql AS (SELECT vec_id AS query_id, label AS qlabel FROM lb
           |       WHERE vec_id < $NQueries),
           |rk AS (SELECT t.query_id, t.rank,
           |         CASE WHEN nl.label = ql.qlabel THEN 1 ELSE 0 END
           |           AS grade
           |       FROM topk t JOIN lb nl ON nl.vec_id = t.neighbor_id
           |       JOIN ql ON ql.query_id = t.query_id),
           |wt AS (SELECT * FROM (VALUES $wvalues) w(rank, w)),
           |dcg AS (SELECT query_id, CAST(sum(grade * w) AS BIGINT) AS dcg,
           |    CAST(min(CASE WHEN grade >= 1 THEN rank END) AS BIGINT)
           |      AS first_rel,
           |    CAST(sum(grade) AS BIGINT) AS rel_topk
           |  FROM rk JOIN wt USING (rank) GROUP BY query_id),
           |nrel AS (SELECT ql.query_id, CAST(count(*) AS BIGINT) AS n_rel
           |  FROM ql JOIN lb ON lb.label = ql.qlabel
           |    AND lb.vec_id <> ql.query_id
           |  GROUP BY 1)
           |SELECT d.query_id, n.n_rel, d.first_rel, d.rel_topk, d.dcg,
           |  CAST(CASE $idcgCase END AS BIGINT) AS idcg,
           |  round(CAST(d.dcg AS DOUBLE) /
           |    (CASE $idcgCase END), 4) AS ndcg,
           |  round(CAST(d.rel_topk AS DOUBLE) / least($TopK, n.n_rel), 4)
           |    AS recall_topk
           |FROM dcg d JOIN nrel n USING (query_id)
           |WHERE n.n_rel >= 1""".stripMargin
      })((s, d) => denseRankEval(s, d)),

    // IVF top-k: deterministic seeds (every 25th vector) refined by one
    // Lloyd iteration (assign -> cell mean -> reassign), nprobe=4.
    // Approximate w.r.t. exact top-k (recall is gated value-level by
    // sim_ivf_recall below) but DETERMINISTIC given the seeds, so the
    // oracle SQL mirrors the whole construction: same seeds, same Lloyd
    // step, same rounded-cosine ranking with centroid-id/neighbor-id
    // tie-breaks. Candidate generation is cell-blocked, not all-pairs.
    // At corpus scale the cell id is also the partitioning key: one
    // shuffle to co-locate cells, then probes join only their nprobe
    // cells.
    QuerySpec(
      "sim_ivf",
      s"""WITH $eCte,
         |$ivfCtes
         |SELECT query_id, neighbor_id, rank FROM ivf""".stripMargin)(
      (s, d) => ivfTopK(s, d)),

    // The same IVF contract served from the PERSISTED cell-partitioned
    // index (ensureIvfIndex): centroids and assignment are read back
    // from parquet, probes touch only their nprobe cells' directories
    // (static partition prune — pinned in OperatorsSpec). SAME oracle as
    // sim_ivf: the index changes cost, not one row of the result.
    QuerySpec(
      "sim_ivf_indexed",
      s"""WITH $eCte,
         |$ivfCtes
         |SELECT query_id, neighbor_id, rank FROM ivf""".stripMargin)(
      (s, d) => ivfTopKIndexed(s, d)),

    // Multi-round TRAINED IVF: the build iterates Lloyd TrainedRounds
    // times under the integer-exact recurrence (1e9-scaled BIGINT cell
    // sums, floor-div means — the PageRank convention, so the centroid
    // CHAIN is bit-identical cross-engine), and the oracle unrolls the
    // identical rounds as chained CTEs before the standard
    // probe/score/rank serve. The one-step gates stay on lloydStep;
    // this one certifies that k-round training is exactly reproducible
    // end-to-end. Recall superiority on planted clusters is pinned in
    // IvfTrainedSpec (an inequality, not a value image).
    QuerySpec(
      "sim_ivf_trained",
      s"""WITH $eCte,
         |${ivfTrainedCtes(TrainedRounds)}
         |SELECT query_id, neighbor_id, rank FROM tivf""".stripMargin) {
      (s, d) =>
        indexTopK(s, ensureTrainedIvfIndex(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("qv")))
    },

    // The incremental-growth proof under the value-level gate: an index
    // seeded from the history wave (vec_id % 5 ≠ 4) with the increment
    // folded in by appendToIvfIndex must answer queries exactly like
    // the frozen-centroid construction recomputed from scratch — which
    // is what the oracle recomputes (centroids from history only, ALL
    // vectors assigned to them). The dedup analogue is
    // dedup_incremental_indexed; this is the similarity side of the
    // same lifecycle contract.
    QuerySpec(
      "sim_ivf_grown",
      s"""WITH $eCte,
         |$ivfGrownCtes
         |SELECT query_id, neighbor_id, rank FROM ivfg""".stripMargin)(
      (s, d) => indexTopK(s, ensureGrownIvfIndex(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")))),

    // Cross-root index MERGE under the value gate: two INDEPENDENTLY
    // BUILT roots (crawl A = vec_id % 3 ≠ 2 with its own seeds/Lloyd/
    // layout, crawl B = the rest) unioned into one servable root by
    // mergeIvfIndexes — A's centroids frozen, B's vectors re-homed
    // through the grow kernel as ledgered fold b0. The oracle recomputes
    // the frozen-centroid construction over the union from the raw
    // tables (centroids from crawl A only, ALL vectors assigned to
    // them), so any drift in the merge's copy/re-bin/ledger interplay
    // breaks the hash match. BM25 counterpart: text_bm25_merged.
    QuerySpec(
      "sim_ivf_merged",
      s"""WITH $eCte,
         |${ivfFrozenCtesOver("vec_id % 3 <> 2")}
         |SELECT query_id, neighbor_id, rank FROM ivfg""".stripMargin)(
      (s, d) => indexTopK(s, ensureMergedIvfIndex(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")))),

    // The whole index lifecycle under ONE value gate: seed from the
    // history wave, ledgered append of the rest, ledgered delete whose
    // victims span both waves — the frozen-centroid grown construction
    // with the tombstone anti-join over every sub-root. The oracle
    // recomputes the grown construction and bars the victims from the
    // neighbor side; any drift in fold-then-delete interplay breaks
    // the hash match. BM25 counterpart: text_bm25_evolved.
    QuerySpec(
      "sim_ivf_evolved",
      s"""WITH $eCte,
         |${ivfGrownCtesOver("a1.vec_id % 9 <> 0")}
         |SELECT query_id, neighbor_id, rank FROM ivfg""".stripMargin)(
      (s, d) => indexTopK(s, ensureEvolvedIvfIndex(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")))),

    // Filtered vector search FROM THE PERSISTED INDEX: the metadata
    // predicate restricts candidates via a semi-join applied after the
    // cell prune (left side = probed cells only, allowed side = a
    // predicate-pruned sidecar scan of (vec_id, label)). Same IVF
    // construction as sim_ivf_indexed, so the oracle recomputes it and
    // bars disallowed neighbors with the same vec_id-set predicate.
    // Brute-force counterpart: sim_topk_filtered.
    QuerySpec(
      "sim_ivf_filtered",
      s"""WITH $eCte,
         |${ivfCtesOver(
             "a1.vec_id IN (SELECT vec_id FROM embeddings WHERE label IN (0, 2, 4, 6, 8))")}
         |SELECT query_id, neighbor_id, rank FROM ivf""".stripMargin)(
      (s, d) => indexTopK(s, ensureIvfIndex(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        allowed = Some(Tables.embeddings(s, d)
          .filter(col("label").isin(0, 2, 4, 6, 8))
          .select(col("vec_id"))))),

    // Filtered vector search — the production shape "nearest neighbors
    // AMONG rows matching a metadata predicate" (source/license/language
    // restrictions). The predicate applies BEFORE scoring and pushes
    // into the embedding scan (PushedFilters), so the scored candidate
    // set shrinks at the storage layer — at 100 TB the filter rides the
    // scan, not a post-ranking drop that would silently return fewer
    // than k rows. Same broadcast-queries/bounded top-k plan as
    // sim_topk.
    QuerySpec(
      "sim_topk_filtered",
      s"""WITH el AS (SELECT vec_id, label,
         |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM el
         |      WHERE vec_id < $NQueries),
         |fscored AS (SELECT query_id, el.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(qv, el.v), 4) AS sim
         |  FROM q JOIN el ON el.vec_id <> query_id
         |    AND el.label IN (0, 2, 4, 6, 8))
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM fscored) WHERE rank <= $TopK""".stripMargin) { (s, d) =>
      val e = corpus(s, d)
      val q = e.filter(col("vec_id") < NQueries).limit(NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      // isin, not `% 2 === 0`: an In predicate is parquet-pushable
      // (PushedFilters at the scan — spec-pinned), a modulo is not
      rankTopK(e.filter(col("label").isin(0, 2, 4, 6, 8))
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(cosine(col("qv"), col("v")), 4).as("sim")))
    },

    // Centroid refresh under the value gate: the same shifted append
    // wave served from a frozen-centroid grown index vs one refreshed
    // by a single Lloyd re-cluster, with per-query exact-top-k recall
    // numerators for BOTH side by side. The oracle recomputes the two
    // constructions end-to-end, so the gate certifies the refresh op
    // itself; the refreshed-beats-frozen inequality (the reason the op
    // exists) is pinned in IvfRefreshSpec on the aggregate.
    QuerySpec(
      "sim_ivf_refreshed",
      refreshedOracleSql) { (s, d) =>
      val (frozen, refreshed) = ensureShiftIvfIndexes(s, d)
      val q = shiftQueries(s, d)
      val exact = exactTopKFor(
        corpus(s, d).select(col("vec_id"), col("v"))
          .union(shiftedWave(s, d)), q)
        .select(col("query_id"), col("neighbor_id"))
      // frozen and refreshed serves are independent — build them
      // concurrently so their construction-time probe collects overlap
      // (Par.buildAll, guide §2.6)
      val Seq(fTop, rTop) = Par.buildAll(Seq(frozen, refreshed))(
        idx => indexTopK(s, idx, q))
      val f = fTop
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("fhit", lit(1L))
      val r = rTop
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("rhit", lit(1L))
      exact.join(f, Seq("query_id", "neighbor_id"), "left")
        .join(r, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("fhit"), lit(0L))).as("frozen_common"),
          sum(coalesce(col("rhit"), lit(0L))).as("refreshed_common"))
    },

    // The takedown contract under the value gate: after one ledgered
    // delete batch (vec_id % 9 = 0 tombstoned), the served rankings
    // must be IDENTICAL to an index that never contained those vectors
    // — centroids and probes are untouched (cells are frozen), only
    // the serve-side candidate set shrinks, which is exactly what the
    // tombstone anti-join must reproduce (the oracle recomputes the
    // IVF construction and bars the victims from the neighbor side).
    QuerySpec(
      "sim_ivf_deleted",
      s"""WITH $eCte,
         |${ivfCtesOver("a1.vec_id % 9 <> 0")}
         |SELECT query_id, neighbor_id, rank FROM ivf""".stripMargin)(
      (s, d) => indexTopK(s, ensureDeletedIvfIndex(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")))),

    // AS-OF (time-travel) serve under the value gate: the SAME
    // persisted index answers at three ledger horizons — post-seed
    // (the fold and the delete invisible), post-fold (delete
    // invisible), post-delete (current) — by ledger-scoped dir and
    // tombstone filters at LIST time (no data cost: as-of changes
    // which sub-dirs and tombstone batches are read, nothing else).
    // The reproducibility contract a training run pins its corpus to;
    // the honesty guards (compaction collapsed history, refresh
    // rewrote in place → refuse) are spec'd in AsOfIndexSpec.
    QuerySpec(
      "sim_ivf_asof",
      asofOracleSql) { (s, d) =>
      val idx = ensureAsOfIvfIndex(s, d)
      val q = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        indexTopK(s, idx, q, asOf = Some(h))
          .select(lit(h).as("horizon"), col("query_id"),
            col("neighbor_id"), col("rank"))
      }.reduce(_.union(_))
    },

    // Floor-bounded retention on the VECTOR index: the same lifecycle
    // VACUUMED at floor 1 — horizon 0 reclaimed (refuses), horizons 1
    // and 2 must serve hash-equal to the unvacuumed construction
    // (oracle = sim_ivf_asof's surviving branches verbatim). With
    // TimeTravel.vacuum and vacuumBm25Index this makes retention a
    // kind-generic protocol feature, not a per-index special case.
    QuerySpec(
      "sim_ivf_vacuum",
      s"""WITH $eCte,
         |$ivfGrownAssignCtes,
         |$ivfGrownProbesCte,
         |${asofHorizonCte("h1", 1, "TRUE")},
         |${asofHorizonCte("h2", 2, "a1.vec_id % 9 <> 0")}
         |SELECT horizon, query_id, neighbor_id, rank FROM h1
         |UNION ALL SELECT horizon, query_id, neighbor_id, rank FROM h2"""
        .stripMargin) { (s, d) =>
      val idx = ensureVacuumedIvfIndex(s, d)
      val q = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Par.buildAll(Seq(1L, 2L)) { h =>
        indexTopK(s, idx, q, asOf = Some(h))
          .select(lit(h).as("horizon"), col("query_id"),
            col("neighbor_id"), col("rank"))
      }.reduce(_.union(_))
    },

    // ANN quality as a GATED readout: per-query overlap between the IVF
    // top-k and the exact top-k (recall@k numerator). Both sides are
    // deterministic, so the driver's value-level gate sees ANN *quality*,
    // not just determinism; OperatorsSpec asserts the aggregate floor.
    QuerySpec(
      "sim_ivf_recall",
      s"""WITH $eCte,
         |$topkCtes,
         |$ivfCtes
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN ivf i
         |  ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val exact = bruteTopK(s, d).select(col("query_id"), col("neighbor_id"))
      val approx = ivfTopK(s, d).select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // The bounded-K build mode under the SAME recall gate: an index
    // built by writeIvfIndexFixedK (the smallest FixedK ids in
    // multiplicative-hash order seed the Lloyd step — the 10^9+-vector
    // build whose map-side centroid array is a CONSTANT FixedK × dim
    // doubles instead of growing as N/25) served from its persisted
    // cell-partitioned layout, with per-query overlap against the
    // exact top-k. The oracle recomputes the identical construction:
    // the seed CTE is the same hash order ((vec_id·2654435761) mod
    // 2^32, id tie-break) LIMIT FixedK, then the shared seeded-IVF
    // CTes — any drift in seeding, refinement, assignment, or serve
    // breaks the hash match. IvfFixedKSpec pins the structural half:
    // the persisted cents frame has exactly FixedK rows of dim-length
    // arrays regardless of corpus size.
    QuerySpec(
      "sim_ivf_fixedk_recall",
      s"""WITH $eCte,
         |$topkCtes,
         |${ivfCtesSeeded(fixedKSeedSql("e", FixedK), "TRUE")}
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN ivf i
         |  ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val exact = bruteTopK(s, d).select(col("query_id"), col("neighbor_id"))
      val approx = indexTopK(s, ensureFixedKIvfIndex(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // The production serving shape under the recall gate: the
    // PERSISTED IVF-PQ index (cell-partitioned PQ codes ≈16 B/vector;
    // ensureIvfPqIndex, built through writeIvfPqIndex's bounded-K
    // DEFAULT — hash-ordered LIMIT-FixedK seeds, the 10⁹-vector build
    // whose map-side centroid array and probe-cell driver collect are
    // CONSTANTS) served by ADC over the probed cells with an exact
    // re-rank of the PqRerank-deep shortlist against the
    // full-precision sidecar. The oracle recomputes the ENTIRE
    // composition — bounded seeds/Lloyd/assignment/probes (the shared
    // ivfAssignCtes text over the fixedKSeedSql sample), PQ
    // codebook/encode/reconstruct (the sim_pq_recall CTEs verbatim),
    // ADC shortlist, exact re-rank — so any drift in either artifact,
    // their composition, or the serve path breaks the hash match.
    // Per-query overlap against the exact top-k, like every recall
    // gate; IvfPqSpec pins the structural halves (code width M,
    // fold/delete lifecycle).
    QuerySpec(
      "sim_ivfpq_recall",
      ivfPqRecallSql(ivfAssignCtes(fixedKSeedSql("e", FixedK)))) {
      (s, d) => ivfPqRecallOver(s, d, ensureIvfPqIndex(s, d))
    },

    // Filtered vector search FROM THE PERSISTED PQ INDEX — the last
    // index family to gain the "nearest neighbors AMONG rows matching
    // a metadata predicate" contract (brute: sim_topk_filtered, float
    // IVF: sim_ivf_filtered). The allowed set semi-joins the probed
    // cells' CODES before ADC, so disallowed candidates never reach
    // scoring, the shortlist, or the sidecar point lookups; the recall
    // baseline is the exact FILTERED top-k (recall within the slice,
    // matching the filtered exact search the user would otherwise
    // run). Oracle = the full bounded-default IVF-PQ composition with
    // the allowed predicate on the ADC candidates and on the exact
    // baseline — served from the SAME fixture as sim_ivfpq_recall, so
    // the gate isolates the restriction, not a new build.
    QuerySpec(
      "sim_ivfpq_filtered",
      ivfPqRecallSql(ivfAssignCtes(fixedKSeedSql("e", FixedK)),
        adcWhere = "a1.vec_id IN (SELECT vec_id FROM embeddings" +
          " WHERE label IN (0, 2, 4, 6, 8))",
        topk = topkCtesOver("e.vec_id IN (SELECT vec_id FROM embeddings" +
          " WHERE label IN (0, 2, 4, 6, 8))"))) { (s, d) =>
      val allowedIds = Tables.embeddings(s, d)
        .filter(col("label").isin(0, 2, 4, 6, 8)).select(col("vec_id"))
      // limit(NQueries) is a semantic no-op (vec_id unique) that makes
      // the query frame's bound STRUCTURAL for the broadcast below —
      // the PlanSpec hazard sweep requires a GlobalLimit/scalar-agg in
      // any hinted subtree that reads a corpus table.
      val q = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
        .limit(NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      // Exact filtered baseline: the isin predicate pushes into the
      // embedding scan (the sim_topk_filtered shape).
      val exact = rankTopK(corpus(s, d)
        .filter(col("label").isin(0, 2, 4, 6, 8))
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(cosine(col("qv"), col("v")), 4).as("sim")))
        .select(col("query_id"), col("neighbor_id"))
      val approx = ivfPqTopK(s, ensureIvfPqIndex(s, d), q,
        corpus(s, d).select(col("vec_id"), col("v")),
        allowed = Some(allowedIds))
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // Coarse-layer refresh of the PQ index under the value gate — the
    // PQ twin of sim_ivf_refreshed, on the maintenance op a 10⁹-vector
    // index actually gets: one Lloyd step over the full-precision
    // sidecar (the same store every serve's exact re-rank reads), the
    // frozen codes re-binned under the new centroids — the index-side
    // rewrite is only the ~16 B/vector payload, the codebook and codes
    // never change. Same shifted-wave drift scenario as the float
    // gate, dual readout: per-query exact-top-k recall numerators for
    // the frozen-coarse index and the refreshed one side by side; the
    // oracle recomputes both constructions end-to-end. The
    // refreshed-beats-frozen inequality is pinned in IvfPqSpec.
    QuerySpec(
      "sim_ivfpq_refreshed",
      pqRefreshedOracleSql) { (s, d) =>
      val (frozen, refreshed) = ensureShiftIvfPqIndexes(s, d)
      val q = shiftQueries(s, d)
      val u = corpus(s, d).select(col("vec_id"), col("v"))
        .union(shiftedWave(s, d))
      val exact = exactTopKFor(u, q)
        .select(col("query_id"), col("neighbor_id"))
      // concurrent frozen/refreshed construction — each PQ serve runs
      // a REAL shortlist collect at build time, so overlapping the two
      // halves the serialized portion (the float gate's note)
      val Seq(fTop, rTop) = Par.buildAll(Seq(frozen, refreshed))(
        idx => ivfPqTopK(s, idx, q, u))
      val f = fTop
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("fhit", lit(1L))
      val r = rTop
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("rhit", lit(1L))
      exact.join(f, Seq("query_id", "neighbor_id"), "left")
        .join(r, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("fhit"), lit(0L))).as("frozen_common"),
          sum(coalesce(col("rhit"), lit(0L))).as("refreshed_common"))
    },

    // The IVF-PQ GROWN lifecycle under the value gate — the PQ twin of
    // sim_ivf_grown, on the bounded-K DEFAULT build: centroids (the
    // hash-ordered LIMIT-FixedK sample OF THE HISTORY WAVE) and
    // codebook trained on history only (doc 80%), the incoming wave
    // folded through appendToIvfPqIndex against both FROZEN artifacts,
    // the whole index served by the same ADC + exact-re-rank path. The
    // oracle recomputes the history-trained bounded construction
    // end-to-end (hist-sampled bounded seeds, hist Lloyd step,
    // hist-restricted codebook sample, ALL vectors assigned/encoded
    // against the frozen artifacts) — any drift in the fold's
    // frozen-artifact contract breaks the hash match. The fold
    // contract is therefore value-gated on the build mode production
    // actually runs at 10⁹ vectors.
    QuerySpec(
      "sim_ivfpq_grown_recall",
      ivfPqRecallSql(s"${ivfGrownAssignCtesSeeded(
          fixedKSeedSql("hist", FixedK))},\n$ivfGrownProbesCte",
        cbWhere = " AND vec_id % 5 <> 4")) {
      (s, d) => ivfPqRecallOver(s, d, ensureGrownIvfPqIndex(s, d))
    },

    // The FULL IVF-PQ lifecycle under one value gate — the PQ twin of
    // sim_ivf_evolved, on the bounded-K DEFAULT build: the grown
    // construction plus a committed delete batch (vec_id % 9 = 0)
    // whose victims span both waves. The oracle bars the victims from
    // the ADC candidate side (they can neither enter the shortlist nor
    // the re-rank), so any drift in the fold-then-delete interplay — a
    // tombstone leaking into the coded frame, a fold resurrecting a
    // victim — breaks the hash match.
    QuerySpec(
      "sim_ivfpq_evolved_recall",
      ivfPqRecallSql(s"${ivfGrownAssignCtesSeeded(
          fixedKSeedSql("hist", FixedK))},\n$ivfGrownProbesCte",
        cbWhere = " AND vec_id % 5 <> 4",
        adcWhere = "a1.vec_id % 9 <> 0")) {
      (s, d) => ivfPqRecallOver(s, d, ensureEvolvedIvfPqIndex(s, d))
    },

    // AS-OF serve FROM THE PERSISTED PQ INDEX — the sim_ivf_asof
    // contract on the production rung: the SAME evolved fixture
    // answers RANKED top-k at three ledger horizons (post-seed,
    // post-fold, post-delete) by ledger-scoped dir and tombstone
    // filters on the CODED frame. This certifies what the float gate
    // cannot: ADC scoring, the rerank-deep shortlist, and the sidecar
    // point lookups all operating under ledger scoping — the horizon
    // restriction enters at the coded candidates and must propagate
    // through the whole serve. Centroids and codebook are frozen
    // across the lifecycle, so every horizon shares one construction;
    // the oracle recomputes it once and restricts candidates per
    // horizon.
    QuerySpec(
      "sim_ivfpq_asof",
      pqAsofOracleSql) { (s, d) =>
      val idx = ensureEvolvedIvfPqIndex(s, d)
      val q = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val full = corpus(s, d).select(col("vec_id"), col("v"))
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        ivfPqTopK(s, idx, q, full, asOf = Some(h))
          .select(lit(h).as("horizon"), col("query_id"),
            col("neighbor_id"), col("rank"))
      }.reduce(_.union(_))
    },

    // Floor-bounded retention on the PQ INDEX under the value gate:
    // the evolved lifecycle VACUUMED at floor 1 — horizon 0 reclaimed
    // (refuses, spec'd in AsOfIndexSpec), horizons 1 and 2 hash-equal
    // to the unvacuumed as-of oracle's surviving branches. With this
    // the vacuum family's LAST spec-only rung gains the standard
    // surviving-horizons value gate.
    QuerySpec(
      "sim_ivfpq_vacuum",
      pqVacuumOracleSql) { (s, d) =>
      val idx = ensureVacuumedIvfPqIndex(s, d)
      val q = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val full = corpus(s, d).select(col("vec_id"), col("v"))
      Par.buildAll(Seq(1L, 2L)) { h =>
        ivfPqTopK(s, idx, q, full, asOf = Some(h))
          .select(lit(h).as("horizon"), col("query_id"),
            col("neighbor_id"), col("rank"))
      }.reduce(_.union(_))
    },

    // The targetK KNOB under the recall gate: the same bounded-K
    // build at a SECOND cell count (FixedKWide = 48 vs the default
    // fixture's 32), served by the identical ADC + exact-re-rank
    // path. The oracle swaps ONLY the LIMIT inside the seed CTE —
    // with bounded-K now writeIvfPqIndex's default, this gate is what
    // proves targetK is a genuine knob (two Ks value-gated end to
    // end), not a constant the default gate happens to bake in.
    // IvfPqSpec pins the structural half: the persisted cents frame
    // is exactly FixedKWide rows whatever the corpus.
    QuerySpec(
      "sim_ivfpq_fixedk_recall",
      ivfPqRecallSql(ivfAssignCtes(fixedKSeedSql("e", FixedKWide)))) {
      (s, d) => ivfPqRecallOver(s, d, ensureFixedKIvfPqIndex(s, d))
    },

    // The targetK knob UNDER THE FOLD LIFECYCLE: the grown
    // construction (history-trained frozen artifacts + one ledgered
    // append) at FixedKWide — so the fold contract is value-gated at
    // two distinct cell counts, proving the knob survives the
    // lifecycle, not just the fresh build. Oracle: the grown
    // composition with the hist-sampled seed CTE at the knob's LIMIT.
    QuerySpec(
      "sim_ivfpq_fixedk_grown_recall",
      ivfPqRecallSql(s"${ivfGrownAssignCtesSeeded(
          fixedKSeedSql("hist", FixedKWide))},\n$ivfGrownProbesCte",
        cbWhere = " AND vec_id % 5 <> 4")) {
      (s, d) => ivfPqRecallOver(s, d, ensureFixedKGrownIvfPqIndex(s, d))
    },

    // Int8-quantization quality as a gated readout: per-query overlap
    // between top-k on quantized codes and top-k on the float vectors.
    // The oracle quantizes with the same arithmetic (round(x·(127/max|v|))
    // over DOUBLE[]) so the comparison is value-exact — what the gate
    // certifies is that 4×-compressed scans lose almost no ranking
    // fidelity, which is the economic argument for quantizing a 100 TB
    // embedding store.
    QuerySpec(
      "sim_quantized_recall",
      s"""WITH $eCte,
         |$topkCtes,
         |qz AS (SELECT vec_id, list_transform(v,
         |         x -> round(x * (127.0 / list_max(list_transform(v,
         |                y -> abs(y)))))) AS v FROM e),
         |zq AS (SELECT vec_id AS query_id, v AS qv FROM qz
         |       WHERE vec_id < $NQueries),
         |zscored AS (SELECT query_id, z.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(qv, z.v), 4) AS sim
         |  FROM zq JOIN qz z ON z.vec_id <> query_id),
         |ztopk AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM zscored) WHERE rank <= $TopK)
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN z.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN ztopk z
         |  ON t.query_id = z.query_id AND t.neighbor_id = z.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val e = corpus(s, d)
      val exact = topkOf(e).select(col("query_id"), col("neighbor_id"))
      val approx = topkOf(quantized(e))
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // Matryoshka (dimension-truncation) quality as a gated readout:
    // per-query overlap between top-k on the first MrlDim of 64 dims
    // and top-k on the full vectors — the serve-cost knob MRL-trained
    // embedding models expose (a prefix IS a valid lower-dim
    // embedding). Same contract as sim_quantized_recall: the oracle
    // truncates with the same arithmetic (list slice, rounded cosine,
    // id tie-breaks) so the readout is value-exact; what a pipeline
    // decides from it is whether a 4×-cheaper prefix index clears its
    // recall bar BEFORE committing a 100 TB store to either layout.
    QuerySpec(
      "sim_mrl_recall",
      s"""WITH $eCte,
         |$topkCtes,
         |mq AS (SELECT vec_id AS query_id, v[1:$MrlDim] AS qv FROM e
         |       WHERE vec_id < $NQueries),
         |mscored AS (SELECT query_id, e.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(mq.qv, e.v[1:$MrlDim]), 4) AS sim
         |  FROM mq JOIN e ON e.vec_id <> query_id),
         |mtopk AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM mscored) WHERE rank <= $TopK)
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN mtopk m
         |  ON t.query_id = m.query_id AND t.neighbor_id = m.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val e = corpus(s, d)
      val exact = topkOf(e).select(col("query_id"), col("neighbor_id"))
      val approx = topkOf(truncated(e, MrlDim))
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // The nprobe TUNING CURVE: total exact-top-k overlap at nprobe ∈
    // {1, 2, 4, 8} in one pass — the readout that justifies (or
    // indicts) sim_ivf's nprobe=4 before a 100 TB index commits to it,
    // exactly as dedup_threshold_sweep justifies the 0.8 Jaccard bar.
    // One candidate frame (queries probed to the WIDEST nprobe, joined
    // to assignments once, probe rank riding along) is pinned and
    // sliced four ways; each slice ranks through the bounded top_k
    // aggregate. Output is 4 rows at any corpus size; monotonicity in
    // nprobe and agreement with sim_ivf_recall's total at nprobe=4 are
    // pinned in OperatorsSpec.
    QuerySpec(
      "sim_ivf_probe_curve",
      probeCurveSql) { (s, d) =>
      val e = corpus(s, d)
      val seeds = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      val cents = lloydStep(e, seeds).cache()
      val assigned = assign(e, cents, 1)
        .select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
          col("cent_id"))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id"), col("v"))
      val probes = assignRanked(q, centsRow(cents), 8)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("cent_id"), col("prank"))
      // Pinned once, sliced four times — without the pin each nprobe
      // branch would replay the assignment join. The two pins are
      // independent blocking jobs — overlapped (the NB model-pin-pair
      // convention, guide §2.6).
      val Seq(cand, exact) = Par.buildAll(Seq(
        () => probes.join(assigned, Seq("cent_id"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(cosine(col("qv"), col("nv")), 4).as("sim"), col("prank"))
          .localCheckpoint(),
        () => topkOf(e).select(col("query_id"), col("neighbor_id"))
          .localCheckpoint()))(_.apply())
      Seq(1, 2, 4, 8).map { p =>
        val hits = rankTopK(cand.filter(col("prank") <= p))
          .select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1L))
        exact.join(hits, Seq("query_id", "neighbor_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
          .select(lit(p.toLong).as("nprobe"), col("n_common"))
      }.reduce(_.unionByName(_))
    },

    // Random-projection (Johnson–Lindenstrauss) quality as a gated
    // readout: per-query overlap between top-k on the RpDim-dim ±1
    // projection and top-k on the full vectors — the model-agnostic
    // 4× serve-cost knob next to MRL's (which needs prefix-trained
    // embeddings) and binary's (which drops magnitudes). Same contract
    // as the sibling gates: the oracle projects with the same
    // interpolated matrix and ranks on the same rounded cosine, so the
    // readout is value-exact across engines.
    QuerySpec(
      "sim_rp_recall",
      s"""WITH $eCte,
         |$topkCtes,
         |$rpCte,
         |rq AS (SELECT vec_id AS query_id, v AS qv FROM rproj
         |       WHERE vec_id < $NQueries),
         |rscored AS (SELECT query_id, r.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(qv, r.v), 4) AS sim
         |  FROM rq JOIN rproj r ON r.vec_id <> query_id),
         |rtopk AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM rscored) WHERE rank <= $TopK)
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN rtopk r
         |  ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val e = corpus(s, d)
      val exact = topkOf(e).select(col("query_id"), col("neighbor_id"))
      val approx = topkOf(rpProjected(e))
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // Binary (sign-bit) quantization quality as a gated readout:
    // per-query overlap between Hamming top-k on the two packed sign
    // words and the exact float top-k — the 8 B/vector bottom rung of
    // the compression ladder (32× smaller than float32), whose serve
    // kernel is two popcount(xor) per candidate: no floats, no
    // rounding surface, so ranking parity across engines is
    // integer-EXACT (ham asc, id tie-break ≡ -ham desc under the
    // bounded top_k aggregate). On this uniform corpus the overlap
    // floor is ~20/100 vs the 1/100 random baseline — the readout a
    // pipeline prices a binary prefilter stage with.
    QuerySpec(
      "sim_binary_recall",
      s"""WITH $eCte,
         |$topkCtes,
         |$binCtes,
         |htopk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY ham ASC, neighbor_id) AS rank
         |  FROM hscored) WHERE rank <= $TopK)
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN htopk h
         |  ON t.query_id = h.query_id AND t.neighbor_id = h.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val e = corpus(s, d)
      val exact = topkOf(e).select(col("query_id"), col("neighbor_id"))
      val b = binarized(e)
      val q = b.filter(col("vec_id") < NQueries).limit(NQueries)
        .select(col("vec_id").as("query_id"),
          col("w0").as("q0"), col("w1").as("q1"))
      val scored = b.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (bit_count(col("q0").bitwiseXOR(col("w0"))) +
            bit_count(col("q1").bitwiseXOR(col("w1"))))
            .cast("double").*(lit(-1d)).as("sim"))
      val approx = rankTopK(scored)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // The binary rung's PRODUCTION serve architecture, value-gated:
    // Hamming prefilter to a 4k shortlist over the 8 B/vector sign
    // words, exact float re-rank of ONLY the shortlist — the same
    // shortlist-then-rerank contract as the PQ serve ([[PqRerank]]),
    // at the cheapest storage rung. The corpus's float column is
    // touched for ≤ queries × BinaryRerank point rows (an equi-join on
    // neighbor_id — at index scale the In-pushdown sidecar pattern),
    // everything else moves as two BIGINTs/vector. Measured lift on
    // the gate corpus: 45/100 overlap vs pure-Hamming's 22/100 —
    // the quantified case for paying the rerank reads.
    QuerySpec(
      "sim_binary_rerank",
      s"""WITH $eCte,
         |$topkCtes,
         |$binCtes,
         |hshort AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY ham ASC, neighbor_id) AS rank
         |  FROM hscored) WHERE rank <= $BinaryRerank),
         |rr AS (SELECT s.query_id, s.neighbor_id,
         |    round(list_cosine_similarity(q.qv, e.v), 4) AS sim
         |  FROM hshort s JOIN q ON q.query_id = s.query_id
         |  JOIN e ON e.vec_id = s.neighbor_id),
         |rtopk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM rr) WHERE rank <= $TopK)
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN rtopk r
         |  ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val e = corpus(s, d)
      val exact = topkOf(e).select(col("query_id"), col("neighbor_id"))
      val b = binarized(e)
      val bq = b.filter(col("vec_id") < NQueries).limit(NQueries)
        .select(col("vec_id").as("query_id"),
          col("w0").as("q0"), col("w1").as("q1"))
      val shortlist = rankTopK(
        b.join(broadcast(bq), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            (bit_count(col("q0").bitwiseXOR(col("w0"))) +
              bit_count(col("q1").bitwiseXOR(col("w1"))))
              .cast("double").*(lit(-1d)).as("sim")),
        BinaryRerank)
        .select(col("query_id"), col("neighbor_id"))
      // exact re-rank: float vectors read ONLY for shortlist rows
      val fq = e.filter(col("vec_id") < NQueries).limit(NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val rr = shortlist
        .join(e.select(col("vec_id").as("neighbor_id"), col("v")),
          Seq("neighbor_id"))
        .join(broadcast(fq), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosine(col("qv"), col("v")), 4).as("sim"))
      val approx = rankTopK(rr)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // The binary rung PERSISTED: IVF coarse layer + cell-partitioned
    // sign words at 16 B/row — the ivfPqTopK serve architecture with
    // popcount(xor) in place of ADC, and the cheapest persisted serve
    // in the index family. A probe reads ~nprobe/K of the corpus as
    // sign words (static PartitionFilter), Hamming-shortlists 4k per
    // query in pure integer ALU, and touches full precision only as
    // the shortlist's In(vec_id,…) point lookups. Oracle composes the
    // shared IVF construction (ivfAssignCtes over the BOUNDED-K seed
    // sample — the same scale-safe default the PQ index builds with)
    // with the sign-pack arithmetic (packSql — the same text the flat
    // binary gates use), so the whole binary family and the IVF family
    // certify one construction. Overlap on the gate corpus: 41/100 at
    // K=32/nprobe=4 vs the whole-corpus Hamming rerank's 45/100 —
    // ~1/8 of the sign-word bytes for ~90% of the recall, which is
    // the knob the readout prices.
    QuerySpec(
      "sim_ivf_binary_recall",
      s"""WITH $eCte,
         |$topkCtes,
         |${ivfAssignCtes(fixedKSeedSql("e", FixedK))},
         |bv AS (SELECT vec_id, cent_id, ${packSql("v", 0)} AS w0,
         |         ${packSql("v", 32)} AS w1 FROM a1),
         |qb AS (SELECT query_id, ${packSql("qv", 0)} AS q0,
         |         ${packSql("qv", 32)} AS q1
         |       FROM (SELECT DISTINCT query_id, qv FROM probes)),
         |iscored AS (SELECT p.query_id, b.vec_id AS neighbor_id,
         |    bit_count(xor(qb.q0, b.w0)) + bit_count(xor(qb.q1, b.w1)) AS ham
         |  FROM probes p JOIN bv b
         |    ON p.cent_id = b.cent_id AND b.vec_id <> p.query_id
         |  JOIN qb ON qb.query_id = p.query_id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY ham ASC, neighbor_id) AS rank
         |  FROM iscored) WHERE rank <= $BinaryRerank),
         |rr AS (SELECT s.query_id, s.neighbor_id,
         |    round(list_cosine_similarity(q.qv, e.v), 4) AS sim
         |  FROM short s JOIN q ON q.query_id = s.query_id
         |  JOIN e ON e.vec_id = s.neighbor_id),
         |rtopk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM rr) WHERE rank <= $TopK)
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN rtopk r
         |  ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val e = corpus(s, d)
      val exact = topkOf(e).select(col("query_id"), col("neighbor_id"))
      val q = e.filter(col("vec_id") < NQueries).limit(NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val approx = ivfBinaryTopK(s, ensureIvfBinaryIndex(s, d), q,
        e.select(col("vec_id"), col("v")))
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // The binary index's whole FoldProtocol lifecycle under ONE value
    // gate — seed from the history wave, ledgered fold of the rest,
    // ledgered delete spanning both waves (the sim_ivf_evolved
    // scenario on sign words), value-gated on the FULL RANKED SERVE
    // (not an overlap readout): the oracle recomputes the
    // history-trained bounded-K construction, packs the a1 frame,
    // bars victims from the candidate side, and replays the
    // shortlist-then-exact-rerank serve — any drift in fold/delete
    // interplay, tombstone stripping, or the two-phase ranking breaks
    // the hash match. Completes lifecycle symmetry across the index
    // family: float, PQ, and binary all fold, delete, and serve
    // through one protocol.
    QuerySpec(
      "sim_ivf_binary_evolved",
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |${ivfGrownAssignCtesSeeded(fixedKSeedSql("hist", FixedK))},
         |$ivfGrownProbesCte,
         |bv AS (SELECT vec_id, cent_id, ${packSql("v", 0)} AS w0,
         |         ${packSql("v", 32)} AS w1 FROM a1
         |       WHERE vec_id % 9 <> 0),
         |qb AS (SELECT query_id, ${packSql("qv", 0)} AS q0,
         |         ${packSql("qv", 32)} AS q1
         |       FROM (SELECT DISTINCT query_id, qv FROM probes)),
         |iscored AS (SELECT p.query_id, b.vec_id AS neighbor_id,
         |    bit_count(xor(qb.q0, b.w0)) + bit_count(xor(qb.q1, b.w1)) AS ham
         |  FROM probes p JOIN bv b
         |    ON p.cent_id = b.cent_id AND b.vec_id <> p.query_id
         |  JOIN qb ON qb.query_id = p.query_id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY ham ASC, neighbor_id) AS rank
         |  FROM iscored) WHERE rank <= $BinaryRerank),
         |rr AS (SELECT s.query_id, s.neighbor_id,
         |    round(list_cosine_similarity(q.qv, e.v), 4) AS sim
         |  FROM short s JOIN q ON q.query_id = s.query_id
         |  JOIN e ON e.vec_id = s.neighbor_id),
         |rtopk AS (SELECT query_id, neighbor_id,
         |    CAST(rank AS INT) AS rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM rr) WHERE rank <= $TopK)
         |SELECT query_id, neighbor_id, rank FROM rtopk""".stripMargin) {
      (s, d) =>
        val e = corpus(s, d)
        val q = e.filter(col("vec_id") < NQueries).limit(NQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        ivfBinaryTopK(s, ensureEvolvedIvfBinaryIndex(s, d), q,
          e.select(col("vec_id"), col("v")))
    },

    // Filtered vector search FROM the persisted binary index —
    // completing the filtered contract across all four search
    // families (brute, float IVF, PQ, binary): the allowed set
    // semi-joins the probed cells' 16 B/row sign words AFTER the cell
    // prune and BEFORE Hamming, so disallowed candidates never reach
    // scoring, the shortlist, or the sidecar point lookups. Recall
    // baseline is the exact FILTERED top-k (recall within the slice);
    // same bounded-K fixture as sim_ivf_binary_recall.
    QuerySpec(
      "sim_ivf_binary_filtered",
      s"""WITH $eCte,
         |${topkCtesOver(
            "e.vec_id IN (SELECT vec_id FROM embeddings WHERE label IN (0, 2, 4, 6, 8))")},
         |${ivfAssignCtes(fixedKSeedSql("e", FixedK))},
         |bv AS (SELECT vec_id, cent_id, ${packSql("v", 0)} AS w0,
         |         ${packSql("v", 32)} AS w1 FROM a1
         |       WHERE vec_id IN (SELECT vec_id FROM embeddings
         |                        WHERE label IN (0, 2, 4, 6, 8))),
         |qb AS (SELECT query_id, ${packSql("qv", 0)} AS q0,
         |         ${packSql("qv", 32)} AS q1
         |       FROM (SELECT DISTINCT query_id, qv FROM probes)),
         |iscored AS (SELECT p.query_id, b.vec_id AS neighbor_id,
         |    bit_count(xor(qb.q0, b.w0)) + bit_count(xor(qb.q1, b.w1)) AS ham
         |  FROM probes p JOIN bv b
         |    ON p.cent_id = b.cent_id AND b.vec_id <> p.query_id
         |  JOIN qb ON qb.query_id = p.query_id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY ham ASC, neighbor_id) AS rank
         |  FROM iscored) WHERE rank <= $BinaryRerank),
         |rr AS (SELECT s.query_id, s.neighbor_id,
         |    round(list_cosine_similarity(q.qv, e.v), 4) AS sim
         |  FROM short s JOIN q ON q.query_id = s.query_id
         |  JOIN e ON e.vec_id = s.neighbor_id),
         |rtopk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM rr) WHERE rank <= $TopK)
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN rtopk r
         |  ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val slice = Tables.embeddings(s, d)
        .filter(col("label").isin(0, 2, 4, 6, 8))
        .select(col("vec_id"))
      val q = corpus(s, d).filter(col("vec_id") < NQueries)
        .limit(NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      // exact filtered baseline: queries from the FULL corpus, the
      // label predicate pushed into the baseline's embedding scan
      // (the sim_ivfpq_filtered shape)
      val exact = rankTopK(corpus(s, d)
        .filter(col("label").isin(0, 2, 4, 6, 8))
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(cosine(col("qv"), col("v")), 4).as("sim")))
        .select(col("query_id"), col("neighbor_id"))
      val approx = ivfBinaryTopK(s, ensureIvfBinaryIndex(s, d), q,
        corpus(s, d).select(col("vec_id"), col("v")),
        allowed = Some(slice))
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // Centroid refresh at the binary rung under the value gate — the
    // sim_ivf_refreshed scenario on sign words: the shifted append
    // wave served from a frozen-centroid grown binary index vs one
    // refreshed by a single Lloyd re-cluster over the full-precision
    // sidecar (sign words stay frozen, only cell membership is
    // rewritten — ~16 B/vector), with per-query exact-top-k recall
    // numerators for BOTH side by side. The oracle recomputes the two
    // constructions end-to-end through the shortlist-then-exact-rerank
    // serve; the refreshed-beats-frozen inequality is pinned in
    // IvfRefreshSpec on the aggregate.
    QuerySpec(
      "sim_ivf_binary_refreshed",
      binaryRefreshedOracleSql) { (s, d) =>
      val (frozen, refreshed) = ensureShiftIvfBinaryIndexes(s, d)
      val q = shiftQueries(s, d)
      val full = corpus(s, d).select(col("vec_id"), col("v"))
        .union(shiftedWave(s, d))
      val exact = exactTopKFor(full, q)
        .select(col("query_id"), col("neighbor_id"))
      // concurrent frozen/refreshed construction — the float gate's note
      val Seq(fTop, rTop) = Par.buildAll(Seq(frozen, refreshed))(
        idx => ivfBinaryTopK(s, idx, q, full))
      val f = fTop
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("fhit", lit(1L))
      val r = rTop
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("rhit", lit(1L))
      exact.join(f, Seq("query_id", "neighbor_id"), "left")
        .join(r, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("fhit"), lit(0L))).as("frozen_common"),
          sum(coalesce(col("rhit"), lit(0L))).as("refreshed_common"))
    },

    // AS-OF (time-travel) serve from the persisted binary index — the
    // sim_ivf_asof contract at the cheapest (and at 10⁹ vectors, most
    // used) rung: the SAME index answers at three ledger horizons by
    // list-time dir/tombstone scoping of the sign-word read (zero data
    // cost; centroids are frozen across the lifecycle, and a refresh
    // past the horizon makes the protocol refuse — AsOfIndexSpec).
    // With this, ALL THREE rungs (float, PQ, binary) serve as-of.
    QuerySpec(
      "sim_ivf_binary_asof",
      binaryAsofOracleSql) { (s, d) =>
      val idx = ensureAsOfIvfBinaryIndex(s, d)
      val e = corpus(s, d)
      val q = e.filter(col("vec_id") < NQueries).limit(NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val full = e.select(col("vec_id"), col("v"))
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        ivfBinaryTopK(s, idx, q, full, asOf = Some(h))
          .select(lit(h).as("horizon"), col("query_id"),
            col("neighbor_id"), col("rank"))
      }.reduce(_.union(_))
    },

    // Floor-bounded retention at the binary rung — the vacuumKinds
    // kernel on the 16 B/row sign words: the same lifecycle vacuumed
    // at floor 1, horizons 1–2 hash-equal to the unvacuumed serve
    // (binaryAsofOracleSql's surviving branches), horizon 0 reclaimed.
    QuerySpec(
      "sim_ivf_binary_vacuum",
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e
         |      WHERE vec_id < $NQueries),
         |${ivfGrownAssignCtesSeeded(fixedKSeedSql("hist", FixedK))},
         |$ivfGrownProbesCte,
         |qb AS (SELECT query_id, ${packSql("qv", 0)} AS q0,
         |         ${packSql("qv", 32)} AS q1
         |       FROM (SELECT DISTINCT query_id, qv FROM probes)),
         |${binServeChain("h1", "a1", "TRUE", "probes", "e")},
         |${binServeChain("h2", "a1", "vec_id % 9 <> 0", "probes", "e")}
         |SELECT CAST(1 AS BIGINT) AS horizon, query_id, neighbor_id,
         |  CAST(rank AS INT) AS rank FROM h1_tk
         |UNION ALL SELECT CAST(2 AS BIGINT), query_id, neighbor_id,
         |  CAST(rank AS INT) FROM h2_tk""".stripMargin) { (s, d) =>
      val idx = ensureVacuumedIvfBinaryIndex(s, d)
      val e = corpus(s, d)
      val q = e.filter(col("vec_id") < NQueries).limit(NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val full = e.select(col("vec_id"), col("v"))
      Par.buildAll(Seq(1L, 2L)) { h =>
        ivfBinaryTopK(s, idx, q, full, asOf = Some(h))
          .select(lit(h).as("horizon"), col("query_id"),
            col("neighbor_id"), col("rank"))
      }.reduce(_.union(_))
    },

    // PQ quality as a gated readout: per-query overlap between ADC
    // top-k over the PQ-reconstructed corpus and the exact top-k.
    // Deterministic construction (fixed-cap codebook, rounded-cosine
    // assignment with code-id tie-breaks) ⇒ the oracle mirrors it
    // verbatim, so the gate certifies PQ's RANKING FIDELITY, not just
    // determinism. On this synthetic corpus (uniform random vectors —
    // no cluster structure for the codebook to exploit) recall@5 is
    // ~25-35%, ~30× the 1% random baseline; OperatorsSpec pins that
    // floor. The economic story gated here: 16 B/vector codes instead
    // of 256 B float32 — the difference between an embedding store that
    // fits hot in cluster memory and one that doesn't.
    QuerySpec(
      "sim_pq_recall",
      s"""WITH $eCte,
         |$topkCtes,
         |cb AS (SELECT m, vec_id AS code_id,
         |         v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS c8
         |       FROM e, range(0, $PqM) t(m)
         |       WHERE vec_id % 25 = 0 AND vec_id < $PqCodeCap),
         |sub AS (SELECT vec_id, m,
         |          v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS sv
         |        FROM e, range(0, $PqM) t(m)),
         |asg AS (SELECT vec_id, m, c8 FROM (
         |    SELECT s.vec_id, s.m, c.c8,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY round(list_cosine_similarity(s.sv, c.c8), 4) DESC, c.code_id) AS rn
         |    FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1),
         |recon AS (SELECT vec_id, flatten(list(c8 ORDER BY m)) AS rv
         |          FROM asg GROUP BY vec_id),
         |pscored AS (SELECT q.query_id, r.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(q.qv, r.rv), 4) AS sim
         |  FROM q JOIN recon r ON r.vec_id <> q.query_id),
         |ptopk AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM pscored) WHERE rank <= $TopK)
         |SELECT t.query_id,
         |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common
         |FROM topk t LEFT JOIN ptopk p
         |  ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
         |GROUP BY t.query_id""".stripMargin) { (s, d) =>
      val e = corpus(s, d).select(col("vec_id"), col("v"))
      val q = e.filter(col("vec_id") < NQueries).limit(NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = pqReconstructed(e)
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(cosine(col("qv"), col("rv")), 4).as("sim"))
      val approx = rankTopK(scored)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      val exact = topkOf(e).select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    },

    // Clustering-quality readout: mean cosine of each vector to its
    // label centroid. Deterministic (centroid = per-dim mean, cosines
    // rounded before averaging) ⇒ mirrored value-level oracle.
    QuerySpec(
      "sim_label_coherence",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |cd AS (SELECT label, d, avg(v[d]) AS cx
        |       FROM e, range(1, 65) t(d) GROUP BY label, d),
        |cents AS (SELECT label, list(cx ORDER BY d) AS cv FROM cd GROUP BY label),
        |sims AS (SELECT e.label, round(list_cosine_similarity(e.v, c.cv), 4) AS sim
        |         FROM e JOIN cents c ON e.label = c.label)
        |SELECT label, round(avg(sim), 4) AS mean_sim, count(*) AS n
        |FROM sims GROUP BY label""".stripMargin) { (s, d) =>
      val e = corpus(s, d)
      val byLabel = e
        .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(avg(col("x")).as("cx"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("pairs"))
        .select(col("label"), transform(col("pairs"), p => p("cx")).as("cv"))
      // Per-label centroid frame joined back on label with NO hint: the
      // centroid set grows with label cardinality (bytes, not just
      // rows — each row drags a 64-double centroid), so the broadcast
      // decision belongs to AQE's runtime size check, exactly the
      // policy applied to the corpus-derived stop lists. At bench scale
      // AQE still plans a broadcast join (the frame is KB-sized); at
      // web-scale label cardinality it degrades to a shuffled join
      // instead of concentrating the whole label→centroid domain in one
      // aggregation buffer and one broadcast. (The previous single-row
      // map_from_entries(collect_list(...)) formulation bounded the ROW
      // count but not the BYTES — the hazard sweep in PlanSpec now
      // rejects collection-valued scalar aggregates as a bound for
      // precisely that reason.)
      e.join(byLabel, Seq("label"))
        .select(col("label"),
          round(cosine(col("v"), col("cv")), 4).as("sim"))
        .groupBy(col("label"))
        .agg(round(avg(col("sim")), 4).as("mean_sim"), count(lit(1)).as("n"))
    },

    // SemDeDup-shaped semantic dedup: partition the embedding space into
    // cells (nearest deterministic seed — the same seeding as sim_ivf),
    // then drop any vector with a smaller-id cell-mate at cosine ≥ τ.
    // Candidate generation is CELL-blocked — pair cost is Σ|cell|², never
    // all-pairs over the corpus — and cells are the natural partitioning
    // key at scale, exactly like the IVF index the corpus would already
    // carry. Output = the keep-list with its cell (no floats → no
    // cross-engine noise in the gate).
    // Cosine threshold-sensitivity sweep — the embedding twin of
    // dedup_threshold_sweep: same-cell candidate-pair counts per
    // cosine decile, the readout that justifies dedup_semantic's 0.4
    // bar before a full semantic-dedup run commits to it. Pairs are
    // the SAME cell-blocked candidates dedup_semantic scores (never
    // all-pairs; cells are the IVF partitioning the corpus already
    // carries), so the sweep costs what one dedup pass costs. Buckets
    // come from floor(round(cos,4)·10): both engines round to the
    // identical double first (the float-parity convention), so the
    // multiply and floor agree bit-for-bit; output is ≤ 21 rows at
    // any corpus size.
    QuerySpec(
      "sim_threshold_sweep",
      s"""WITH $eCte,
         |seeds AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 25 = 0),
         |cells AS (SELECT vec_id, v, cent_id FROM (
         |    SELECT e.vec_id, e.v, s.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
         |    FROM e, seeds s) WHERE rn = 1),
         |p AS (SELECT round(list_cosine_similarity(a.v, b.v), 4) + 0.0 AS c
         |      FROM cells a JOIN cells b
         |        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
         |SELECT CAST(floor(c * 10) AS BIGINT) AS bucket_x10,
         |  count(*) AS n_pairs, min(c) AS min_cos, max(c) AS max_cos
         |FROM p GROUP BY bucket_x10""".stripMargin) { (s, d) =>
      val e = corpus(s, d).select(col("vec_id"), col("v"))
      val seeds = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      val cells = assign(e, seeds, 1)
      val pairs = cells
        .select(col("cent_id"), col("vec_id").as("a_id"), col("v").as("va"))
        .join(cells.select(col("cent_id"), col("vec_id"), col("v").as("vb")),
          Seq("cent_id"))
        .filter(col("a_id") < col("vec_id"))
        // + 0.0 normalizes IEEE -0.0 (a cosine in (-5e-5, 0) rounds to
        // the negative zero) — min/max treat the zeros as EQUAL, so
        // which one surfaces is accumulation-order luck in both
        // engines; canonicalizing at the source makes it one value
        .select((round(cosine(col("va"), col("vb")), 4) + 0.0).as("c"))
      pairs
        .groupBy(floor(col("c") * 10).cast("long").as("bucket_x10"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("c")).as("min_cos"), max(col("c")).as("max_cos"))
    },

    // Parallel-pair (bitext) mining — the cross-corpus alignment op a
    // multilingual training pipeline runs (the CCMatrix/LASER shape):
    // margin-scored MUTUAL nearest neighbors between two corpus
    // slices. Slices are the even/odd label halves (stand-ins for two
    // languages); candidates are CELL-BLOCKED on the corpus's IVF
    // partitioning exactly like dedup_semantic — never all-pairs — so
    // at 100 TB the cross join is per-cell and every per-key ranking
    // is the bounded-state top_k aggregate. The margin is the ratio
    // of the pair's cosine to the mean of both endpoints' top-4
    // cross-slice neighborhoods (the absolute-threshold-free score
    // that survives corpus-dependent similarity scales); a pair
    // publishes only if each side is the other's top-1 AND the margin
    // clears 1.0. Determinism note: the top-4 mean is folded IN ARRAY
    // ORDER over the sorted top_k buffer on both engines (list_sum
    // over the sorted prefix in DuckDB), so the 4-double sum is
    // bit-identical — a groupBy avg would sum in partial-agg order.
    QuerySpec(
      "sim_bitext_mine",
      s"""WITH e2 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |seeds AS (SELECT vec_id AS cent_id, v AS cv FROM e2 WHERE vec_id % 25 = 0),
         |cells AS (SELECT vec_id, label, v, cent_id FROM (
         |    SELECT e2.vec_id, e2.label, e2.v, s.cent_id,
         |      row_number() OVER (PARTITION BY e2.vec_id
         |        ORDER BY round(list_cosine_similarity(e2.v, s.cv), 4) DESC, s.cent_id) AS rn
         |    FROM e2, seeds s) WHERE rn = 1),
         |ca AS (SELECT vec_id AS a_id, v AS va, cent_id FROM cells
         |       WHERE label IN (0, 2, 4, 6, 8)),
         |cb AS (SELECT vec_id AS b_id, v AS vb, cent_id FROM cells
         |       WHERE label IN (1, 3, 5, 7, 9)),
         |cr AS (SELECT a_id, b_id,
         |    round(list_cosine_similarity(va, vb), 4) AS sim
         |  FROM ca JOIN cb USING (cent_id)),
         |ka AS (SELECT a_id, list_sum(l) / len(l) AS ka FROM (
         |    SELECT a_id, (list(sim ORDER BY sim DESC, b_id))[1:4] AS l
         |    FROM cr GROUP BY a_id)),
         |kb AS (SELECT b_id, list_sum(l) / len(l) AS kb FROM (
         |    SELECT b_id, (list(sim ORDER BY sim DESC, a_id))[1:4] AS l
         |    FROM cr GROUP BY b_id)),
         |fwd AS (SELECT a_id, b_id, sim FROM (
         |    SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id
         |      ORDER BY sim DESC, b_id) AS rn FROM cr) WHERE rn = 1),
         |bwd AS (SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, row_number() OVER (PARTITION BY b_id
         |      ORDER BY sim DESC, a_id) AS rn FROM cr) WHERE rn = 1),
         |mutual AS (SELECT f.a_id, f.b_id, f.sim FROM fwd f JOIN bwd w
         |    ON f.a_id = w.a_id AND f.b_id = w.b_id),
         |scored AS (SELECT m.a_id, m.b_id,
         |    round(m.sim / ((ka.ka + kb.kb) / 2), 4) AS margin
         |  FROM mutual m JOIN ka ON ka.a_id = m.a_id
         |  JOIN kb ON kb.b_id = m.b_id)
         |SELECT a_id, b_id, margin FROM scored
         |WHERE margin >= 1.0""".stripMargin) { (s, d) =>
      val e = corpus(s, d)
      val seeds = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      def sliceOf(labels: Seq[Int], idName: String, vName: String) =
        assign(e.filter(col("label").isin(labels: _*))
            .select(col("vec_id"), col("v")), seeds, 1)
          .select(col("cent_id"), col("vec_id").as(idName),
            col("v").as(vName))
      val cr = sliceOf(Seq(0, 2, 4, 6, 8), "a_id", "va")
        .join(sliceOf(Seq(1, 3, 5, 7, 9), "b_id", "vb"), Seq("cent_id"))
        .select(col("a_id"), col("b_id"),
          round(cosine(col("va"), col("vb")), 4).as("sim"))
      // The top-4 mean stays a RAW double (rounded only inside the
      // final margin): a sum of 4-dp-rounded sims divided by 4 lands
      // on exact decimal half-steps STRUCTURALLY (multiples of
      // 0.000025), where Spark's Round (decimal-string HALF_UP) and
      // DuckDB's round (exact-binary) disagree — 0.19845's double is
      // 0.19844999…, DuckDB says 0.1984, Spark says 0.1985. The final
      // margin is a quotient of non-short-decimal doubles, where the
      // two round conventions agree (the same reason every rounded
      // cosine in this module agrees).
      def knnAvg(key: String, other: String, out: String) =
        cr.groupBy(col(key))
          .agg(graft.functions.TopKAgg.top_k(
            col("sim"), col(other), 4).as("top"))
          .select(col(key),
            (aggregate(col("top"), lit(0.0),
              (acc, x) => acc + x("score")) / size(col("top"))).as(out))
      def nn1(key: String, other: String) =
        cr.groupBy(col(key))
          .agg(graft.functions.TopKAgg.top_k(
            col("sim"), col(other), 1).as("top"))
          .select(col(key), col("top")(0)("id").as(other),
            col("top")(0)("score").as("sim"))
      val mutual = nn1("a_id", "b_id")
        .join(nn1("b_id", "a_id").select(col("a_id"), col("b_id")),
          Seq("a_id", "b_id"))
      mutual.join(knnAvg("a_id", "b_id", "ka"), Seq("a_id"))
        .join(knnAvg("b_id", "a_id", "kb"), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          round(col("sim") / ((col("ka") + col("kb")) / 2), 4).as("margin"))
        .filter(col("margin") >= 1.0)
    },

    QuerySpec(
      "dedup_semantic",
      s"""WITH $eCte,
         |seeds AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 25 = 0),
         |cells AS (SELECT vec_id, v, cent_id FROM (
         |    SELECT e.vec_id, e.v, s.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
         |    FROM e, seeds s) WHERE rn = 1),
         |dropped AS (SELECT DISTINCT b.vec_id
         |  FROM cells a JOIN cells b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4)
         |SELECT c.vec_id, c.cent_id FROM cells c
         |LEFT JOIN dropped x ON c.vec_id = x.vec_id
         |WHERE x.vec_id IS NULL""".stripMargin) { (s, d) =>
      val e = corpus(s, d).select(col("vec_id"), col("v"))
      val seeds = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      val cells = assign(e, seeds, 1) // (vec_id, v, cent_id)
      val a = cells.select(col("cent_id"), col("vec_id").as("a_id"),
        col("v").as("va"))
      val b = cells.select(col("cent_id"), col("vec_id"), col("v").as("vb"))
      val dropped = a.join(b, Seq("cent_id"))
        .filter(col("a_id") < col("vec_id"))
        .filter(round(cosine(col("va"), col("vb")), 4) >= 0.4)
        .select(col("vec_id")).distinct()
      cells.join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cent_id"))
    },

    // SEMANTIC decontamination — the embedding-space twin of the
    // n-gram `decontaminate` gate: a corpus vector is contaminated
    // when some benchmark vector sits at cosine ≥ 0.3, the paraphrase
    // class n-gram overlap cannot see. τ = 0.3 is fixture-calibrated
    // (the synthetic embeddings' cross-slice cosines top out in
    // [0.3, 0.4) at gate scale — sim_threshold_sweep is the evidence
    // pattern; production tunes τ per encoder). Candidates are
    // cell-blocked on
    // the SAME in-row nearest-seed assignment dedup_semantic uses
    // (never all-pairs; cross-cell misses are the documented recall
    // trade, exactly as in SemDeDup); the benchmark side is a slice
    // of the corpus frame, so both sides ride ONE scan + ONE
    // same-cell join. Output: per contaminated corpus vector, the
    // hit count and the strongest benchmark similarity.
    QuerySpec(
      "decontaminate_semantic",
      s"""WITH $eCte,
         |seeds AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 25 = 0),
         |cells AS (SELECT vec_id, v, cent_id FROM (
         |    SELECT e.vec_id, e.v, s.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC, s.cent_id) AS rn
         |    FROM e, seeds s) WHERE rn = 1),
         |hits AS (
         |  SELECT c.vec_id, round(list_cosine_similarity(c.v, b.v), 4) AS sim
         |  FROM cells c JOIN cells b ON c.cent_id = b.cent_id
         |  WHERE c.vec_id % 17 <> 5 AND b.vec_id % 17 = 5
         |    AND round(list_cosine_similarity(c.v, b.v), 4) >= 0.3)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits,
         |  max(sim) AS max_sim
         |FROM hits GROUP BY vec_id""".stripMargin) { (s, d) =>
      val e = corpus(s, d).select(col("vec_id"), col("v"))
      val seeds = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      val cells = assign(e, seeds, 1)
      val bench = cells.filter(col("vec_id") % 17 === 5)
        .select(col("cent_id"), col("v").as("vb"))
      val scored = cells.filter(col("vec_id") % 17 =!= 5)
        .select(col("cent_id"), col("vec_id"), col("v").as("vc"))
        .join(bench, Seq("cent_id"))
        .select(col("vec_id"), round(cosine(col("vc"), col("vb")), 4)
          .as("sim"))
        .filter(col("sim") >= 0.3)
      scored.groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_hits"), max(col("sim")).as("max_sim"))
    },

    // Embedding-distribution drift gate (the vector twin of
    // text_drift_psi): the incoming wave's occupancy of the
    // HISTORY-TRAINED IVF cells against the history wave's, add-one
    // smoothed over all K cells, PSI per cell. This is the pre-fold
    // alarm an embedding store runs before appending a wave to the ANN
    // index: frozen-centroid growth (sim_ivf_grown) serves exactly
    // while the incoming distribution matches history, and THIS
    // readout is what says it stopped matching (the shifted-wave
    // fixture behind sim_ivf_refreshed is the failure it catches).
    // Plan: the same in-row frozen-centroid assignment the grown index
    // uses (no window, no per-vector shuffle), one cell histogram
    // aggregate, a K-row bins frame with a broadcast totals row —
    // corpus scanned once. Same −0.0 canonicalization as
    // text_drift_psi.
    QuerySpec(
      "sim_cell_drift",
      s"""WITH $eCte,
         |$ivfGrownAssignCtes,
         |cnt AS (SELECT cent_id,
         |    sum(CASE WHEN vec_id % 5 = 4 THEN 0 ELSE 1 END) AS hist_n,
         |    sum(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END) AS inc_n
         |  FROM a1 GROUP BY cent_id),
         |bins AS (SELECT c.cent_id,
         |    coalesce(cnt.hist_n, 0) AS hist_n,
         |    coalesce(cnt.inc_n, 0) AS inc_n
         |  FROM cents c LEFT JOIN cnt ON c.cent_id = cnt.cent_id),
         |tot AS (SELECT sum(hist_n) AS ht, sum(inc_n) AS it,
         |               count(*) AS k FROM bins),
         |p AS (SELECT cent_id, hist_n, inc_n,
         |    CAST(hist_n + 1 AS DOUBLE) / (ht + k) AS ph,
         |    CAST(inc_n + 1 AS DOUBLE) / (it + k) AS pi
         |  FROM bins, tot)
         |SELECT cent_id, CAST(hist_n AS BIGINT) AS hist_n,
         |  CAST(inc_n AS BIGINT) AS inc_n,
         |  round(ph, 6) + 0 AS hist_share,
         |  round(pi, 6) + 0 AS inc_share,
         |  round((ph - pi) * ln(ph / pi), 6) + 0 AS psi
         |FROM p""".stripMargin) { (s, d) =>
      val e = corpus(s, d).select(col("vec_id"), col("v"))
      val hist = e.filter(col("vec_id") % 5 =!= 4)
      val seeds = hist.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      val cents = lloydStep(hist, seeds).cache()
      val counts = assign(e, cents, 1)
        .groupBy(col("cent_id"))
        .agg(sum(when(col("vec_id") % 5 === 4, 0L).otherwise(1L))
            .as("hist_n"),
          sum(when(col("vec_id") % 5 === 4, 1L).otherwise(0L)).as("inc_n"))
      // K-row pin (like text_drift_psi's vocab frame): bins feeds both
      // the totals row and the per-cell output, and without the pin
      // each branch re-runs the full corpus assignment — the pin makes
      // the corpus scan-and-assign happen exactly once.
      val bins = Layout.stagePin(
        cents.select(col("cent_id"))
          .join(counts, Seq("cent_id"), "left")
          .select(col("cent_id"),
            coalesce(col("hist_n"), lit(0L)).as("hist_n"),
            coalesce(col("inc_n"), lit(0L)).as("inc_n")),
        "cell_drift_bins")
      // stagePin is eager, so both consumers of cents (the assignment
      // and the cell-id spine) have materialized by here — release the
      // cached centroid frame instead of leaking it into executor
      // storage on every gate execution.
      cents.unpersist()
      val tot = bins.agg(sum(col("hist_n")).as("ht"),
        sum(col("inc_n")).as("it"), count(lit(1)).as("k"))
      val ph = (col("hist_n") + 1).cast("double") / (col("ht") + col("k"))
      val pi = (col("inc_n") + 1).cast("double") / (col("it") + col("k"))
      bins.crossJoin(broadcast(tot))
        .select(col("cent_id"), col("hist_n"), col("inc_n"),
          (round(ph, 6) + 0.0).as("hist_share"),
          (round(pi, 6) + 0.0).as("inc_share"),
          (round((ph - pi) * log(ph / pi), 6) + 0.0).as("psi"))
    },

    // Index-health readout, served from the PERSISTED index: cell-size
    // balance of the cell-partitioned layout (empty cells included —
    // a centroid that captured nothing still costs a directory). The
    // imbalance factor (max cell / mean cell) is what an operator
    // alarms on: probe cost is proportional to the probed cells'
    // sizes, so a hot cell makes every query that probes it pay —
    // the signal that schedules a refreshIvfIndex the way
    // sim_cell_drift schedules one for distribution shift. Variance
    // is derived from exact integer sums (E[x²] − E[x]², identical
    // expression order both engines), not a streaming stddev whose
    // accumulation order floats. Plan: one K-row aggregate off the
    // index's partition-key column — the corpus vectors' payload
    // bytes are never read (column pruning to cent_id/vec_id).
    QuerySpec(
      "sim_index_stats",
      s"""WITH $eCte,
         |${ivfAssignCtes(
             "SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 25 = 0")},
         |sz AS (SELECT c.cent_id, count(a1.vec_id) AS n
         |  FROM cents c LEFT JOIN a1 ON a1.cent_id = c.cent_id
         |  GROUP BY c.cent_id),
         |t AS (SELECT count(*) AS k, sum(n) AS nv, min(n) AS mn,
         |             max(n) AS mx, sum(n * n) AS s2 FROM sz)
         |SELECT CAST(k AS BIGINT) AS n_cells, CAST(nv AS BIGINT) AS n_vectors,
         |  CAST(mn AS BIGINT) AS min_cell, CAST(mx AS BIGINT) AS max_cell,
         |  round(CAST(nv AS DOUBLE) / k, 6) + 0 AS mean_cell,
         |  round(CAST(s2 AS DOUBLE) / k
         |        - (CAST(nv AS DOUBLE) / k) * (CAST(nv AS DOUBLE) / k), 6)
         |    + 0 AS var_cell,
         |  round(CAST(mx AS DOUBLE) * k / nv, 6) + 0 AS imbalance
         |FROM t""".stripMargin) { (s, d) =>
      val root = ensureIvfIndex(s, d)
      val cents = readCents(s, protocol(root).dir("cents"))
      val sizes = cents.select(col("cent_id"))
        .join(indexVectors(s, root).groupBy(col("cent_id"))
            .agg(count(lit(1)).as("n0")),
          Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("n0"), lit(0L)).as("n"))
      sizes
        .agg(count(lit(1)).as("k"), sum(col("n")).as("nv"),
          min(col("n")).as("mn"), max(col("n")).as("mx"),
          sum(col("n") * col("n")).as("s2"))
        .select(col("k").cast("long").as("n_cells"),
          col("nv").as("n_vectors"),
          col("mn").as("min_cell"), col("mx").as("max_cell"),
          (round(col("nv").cast("double") / col("k"), 6) + 0.0)
            .as("mean_cell"),
          (round(col("s2").cast("double") / col("k")
            - (col("nv").cast("double") / col("k"))
              * (col("nv").cast("double") / col("k")), 6) + 0.0)
            .as("var_cell"),
          (round(col("mx").cast("double") * col("k") / col("nv"), 6) + 0.0)
            .as("imbalance"))
    }
  )
}
