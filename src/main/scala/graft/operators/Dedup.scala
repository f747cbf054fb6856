package graft.operators

import graft.{QuerySpec, Tables}
import graft.index.{Delete, Fixture, Fold, IndexKind, Seed, Step, Vacuum}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design: nothing here is all-pairs over the corpus. Candidate
  * generation is always a shuffle-join on a *blocking key* (shingle,
  * LSH band hash, SimHash chunk, cluster label) so the quadratic blow-up
  * is confined to same-block groups; ubiquitous blocking keys are dropped
  * by a document-frequency cap (stop-shingle removal), the standard guard
  * against skewed join keys at 100 TB.
  *
  * MinHash here uses lexicographic MIN over md5 hex digests as the hash
  * family (seeded by prefixing the permutation index) — deterministic,
  * portable to the DuckDB oracle, and uniform enough for LSH banding.
  */
object Dedup {

  /** Words of a document (whitespace tokenization, matches the oracle). */
  private def words(c: Column): Column = split(c, " ")

  /** All k-word grams of `text` in document order (1-based positions
    * i..i+k−1), duplicates preserved. Documents shorter than k words
    * yield no grams (the `when` guard — without it a descending
    * `sequence`/negative slice would blow up on short docs).
    *
    * Formulated as `arrays_zip` of k shifted `slice`s rather than
    * `transform(sequence(...), i => element_at(w, i)...)`: HOF lambdas
    * re-evaluate captured outer expressions per ELEMENT, so the
    * element_at form re-ran `split` ~k× per position — O(words²) per
    * document and ~8× slower end-to-end on the shingle explode. The zip
    * form evaluates `split` a constant number of times per row.
    */
  def kgrams(text: Column, k: Int): Column = {
    val w = words(text)
    val n = size(w)
    when(n >= k,
      transform(
        arrays_zip((1 to k).map(j => slice(w, lit(j), n - (k - 1))): _*),
        s => concat_ws(" ", (0 until k).map(j => s(j.toString)): _*)))
      .otherwise(typedLit(Seq.empty[String]))
  }

  /** Distinct 3-word shingles of `text` — the dedup blocking key. */
  def shingles3(text: Column): Column = array_distinct(kgrams(text, 3))

  /** Exploded (doc_id, shingle) pairs with a document-frequency cap:
    * shingles occurring in more than `maxDf` documents are dropped from
    * both signature and candidate generation (consistently with the
    * oracle), bounding per-key join fan-out.
    */
  def docShingles(docs: DataFrame, maxDf: Int): DataFrame = {
    // Conditional fan-out before shingling (Par.fanOut): the driver's
    // doc files are one split, which would serialize all shingle
    // compute; on a multi-TB corpus the scan is already wide and NO
    // exchange is injected at all.
    val exploded = Par.fanOut(docs)
      .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
    // Document-frequency cap, skew-safe. A `count(*) over (partition by
    // sh)` window cannot partially aggregate: every row of a hot key
    // lands in ONE task before the `df <= maxDf` filter drops it, so on
    // a Zipfian corpus the very stop-shingles the cap exists to kill
    // concentrate O(corpus) rows on a single straggler. Instead the df
    // is a groupBy count (map-side combine collapses hot keys before the
    // shuffle) and the over-cap survivors form a stop-shingle list that
    // anti-joins the exploded stream. The anti-join carries NO broadcast
    // hint: the stop list is at most total-occurrences/maxDf entries —
    // tiny at bench scale, where AQE still plans a broadcast anti-join
    // (plan-pinned) — but it is the corpus' frequent-n-gram vocabulary,
    // which GROWS with the corpus; a forced hint would bypass the size
    // check and OOM executors at web scale, while the unhinted plan
    // degrades gracefully to a shuffled anti-join (SMJ streams hot keys;
    // they never co-locate thanks to the groupBy above). Same observable
    // semantics as the window form (shingles are array_distinct'd per
    // doc, so count(*) == document frequency).
    val stop = exploded
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("sh"))
    exploded.join(stop, Seq("sh"), "left_anti")
  }

  private val MaxDf = 50

  /** SRP-LSH hyperplanes: ±1 components from a fixed-seed driver-side RNG.
    * Shared verbatim by the Spark plan (as `typedLit` arrays) and the
    * oracle SQL (as interpolated literals) — the portability contract.
    *
    * 64 planes = 4 bands × 16 bits. Band width is the scale knob: a
    * b-bit band partitions the corpus into ≤ 2^b buckets, so expected
    * candidate pairs per band are Ω(N²/2^b) — at 4 bits (the original
    * family) that is quadratic-over-16, i.e. effectively all-pairs as N
    * grows. 16-bit bands keep expected bucket occupancy ≪ N (65 536
    * buckets per band), which `DedupSpec` pins with an occupancy
    * assertion; recall concentrates on genuinely near pairs
    * (P[16-bit band collision] = (1−θ/π)^16 — ≈0.19 per band at
    * cosine 0.9, ≈6e-4 at cosine 0.4), which is the correct trade for a
    * near-DUPLICATE detector at 100 TB: candidates stay band-bucketed
    * and bounded instead of degenerating toward N².
    */
  private val LshBands = 4
  private val LshBandBits = 16
  private val LshPlanes: Seq[Array[Double]] =
    (0 until LshBands * LshBandBits).map { p =>
      val rnd = new scala.util.Random(2654435761L * p + 12345)
      Array.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }

  /** SRP band values for an embedding frame `e` = (vec_id, v):
    * (vec_id, v, band, bv) with bv = the band's 16 sign bits packed
    * little-endian (bit j set iff v·plane[band·16+j] ≥ 0). Each band's
    * value is computed directly — no 64-bit composite signature, so
    * neither engine ever touches the sign bit of a BIGINT. Shared by the
    * `dedup_embedding_lsh` query and the occupancy spec.
    */
  def srpBands(e: DataFrame): DataFrame = {
    val bandCols = (0 until LshBands).map { b =>
      (0 until LshBandBits).map { j =>
        when(Similarity.dot(col("v"),
          typedLit(LshPlanes(b * LshBandBits + j).toSeq)) >= 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce((x: Column, y: Column) => x.bitwiseOR(y)).as(s"bv$b")
    }
    val sig = e.select(col("vec_id") +: col("v") +: bandCols: _*)
    sig.select(col("vec_id"), col("v"),
      explode(array((0 until LshBands).map(b =>
        struct(lit(b).as("band"), col(s"bv$b").as("bv"))): _*)).as("bb"))
      .select(col("vec_id"), col("v"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  /** Exact-Jaccard near-dup pairs (doc_a, doc_b, jaccard ≥ 0.8).
    * Candidate join runs on xxhash64(shingle) (8-byte keys instead of
    * ~25-byte strings through the shuffle) with the doc's shingle count
    * riding along so the size-ratio prune — jaccard ≥ 0.8 forces
    * max(|A|,|B|) ≤ 1.25·min(|A|,|B|) — drops hopeless pairs BEFORE the
    * pair-count aggregation. Both tricks are lossless w.r.t. the ≥ 0.8
    * result set, so the oracle SQL computes it the straightforward way.
    */
  def ngramPairs(docs: DataFrame): DataFrame = {
    val sh = docShingles(docs, MaxDf)
    // Per-doc shingle count as a second window (shuffle by doc_id) rather
    // than an aggregate-and-broadcast-back, which re-computed the whole
    // shingle pipeline for the aggregate side. The a/b self-join branches
    // below still share the upstream exchange via AQE's reuse, so nothing
    // here needs an explicit cache.
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val withN = sh
      .withColumn("n", count(lit(1)).over(wDoc))
      .select(col("doc_id"), xxhash64(col("sh")).as("shh"), col("n"))
    val a = withN.select(col("doc_id").as("doc_a"), col("shh"), col("n").as("na"))
    val b = withN.select(col("doc_id").as("doc_b"), col("shh"), col("n").as("nb"))
    val inter = a.join(b, Seq("shh"))
      .filter(col("doc_a") < col("doc_b") &&
        greatest(col("na"), col("nb")) <=
          lit(1.25) * least(col("na"), col("nb")))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("i"))
    val jac = col("i").cast("double") / (col("na") + col("nb") - col("i"))
    inter
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Asymmetric containment pairs (doc_inner, doc_outer, containment):
    * the smaller shingle set's coverage by the larger, |A∩B| / min(|A|,|B|)
    * ≥ `tau`. Catches what Jaccard structurally cannot: a document
    * EMBEDDED in a much larger one (a quoted article, a boilerplate
    * wrapper around real content) has near-1 containment but Jaccard
    * ≈ |inner|/|outer| — far below any near-dup threshold once the size
    * ratio passes ~1.25. Same blocked candidate generation as
    * [[ngramPairs]] (capped shingles, hashed join keys) MINUS the
    * size-ratio prune, which containment semantics forbid — the
    * interesting pairs are exactly the size-skewed ones. The df cap is
    * what keeps that tractable at 100 TB: candidates are still
    * per-shingle blocks of ≤ maxDf docs, never all-pairs.
    */
  def containmentPairs(docs: DataFrame, tau: Double = 0.9): DataFrame = {
    val sh = docShingles(docs, MaxDf)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val withN = sh
      .withColumn("n", count(lit(1)).over(wDoc))
      .select(col("doc_id"), xxhash64(col("sh")).as("shh"), col("n"))
    val a = withN.select(col("doc_id").as("doc_a"), col("shh"), col("n").as("na"))
    val inter = a.join(
        withN.select(col("doc_id").as("doc_b"), col("shh"), col("n").as("nb")),
        Seq("shh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("i"))
    // doc_a < doc_b, so the na == nb tie resolves to doc_a as inner —
    // mirroring the oracle's CASE WHEN na <= nb.
    inter
      .filter(col("i").cast("double") / least(col("na"), col("nb")) >= tau)
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("doc_inner"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a"))
          .as("doc_outer"),
        round(col("i").cast("double") / least(col("na"), col("nb")), 4)
          .as("containment"))
  }

  /** Prefix-filtering EXACT set-similarity self-join (the PPJoin family:
    * Chaudhuri et al. SSJoin, Xiao et al. PPJoin) over distinct 3-word
    * shingles, Jaccard ≥ 0.8 — the LOSSLESS twin of [[ngramPairs]]:
    * same set semantics and threshold, but no df cap (which silently
    * ignores pairs whose only shared shingles are stop-shingles) and no
    * MinHash banding (which is probabilistic). Every shingle set is
    * sorted under ONE global order — document frequency ascending,
    * shingle ascending — and only its PREFIX of length n − ⌈0.8·n⌉ + 1
    * enters the candidate join. Correctness (the textbook lemma):
    * J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and the smallest common
    * element under the global order sits within the first
    * |X| − |A∩B| + 1 positions of BOTH sets, which the prefix covers —
    * so every qualifying pair shares a prefix element and the join
    * misses nothing.
    *
    * Scale design: the join keys are each document's RAREST shingles by
    * construction (df-ascending order pushes boilerplate n-grams to the
    * END of every set, outside the prefix), so per-key fan-out stays
    * small on any Zipfian corpus without dropping a single pair — the
    * mirror image of the stop-shingle cap, which bounds fan-out by
    * sacrificing completeness. Candidates verify against full per-doc
    * shingle arrays carried in-row (`array_intersect`, bounded by
    * document length — no second corpus-wide shuffle per pair); the
    * candidate join keys on xxhash64(shingle) for shuffle width (a hash
    * collision can only ADD a candidate, which the exact verify then
    * scores correctly). The size filter (5·min ≥ 4·max) and the final
    * threshold (5·i ≥ 4·(na+nb−i)) are INTEGER comparisons, so no float
    * boundary can disagree across engines. Losslessness vs a
    * brute-force all-pairs recompute is pinned in OperatorsSpec.
    */
  def prefixJoinPairs(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val toks = Par.fanOut(docs)
      .select(col("doc_id"), explode(shingles3(col("text"))).as("tok"))
    // Global document frequency: groupBy (map-side combine collapses hot
    // shingles before the shuffle), never a count-over-window on tok.
    val dfTab = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // Rank each doc's shingles under the global (df, tok) order; both
    // windows share the one doc_id exchange. The order is total within a
    // doc (shingles are distinct), so row_number is deterministic.
    val ranked = toks.join(dfTab, Seq("tok"))
      .withColumn("n", count(lit(1)).over(w.partitionBy(col("doc_id"))))
      .withColumn("r", row_number().over(
        w.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
    // Prefix length n − ⌈0.8n⌉ + 1, with ⌈0.8n⌉ = (4n+4) div 5 exact.
    val prefix = ranked
      .filter(col("r") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select(col("doc_id"), xxhash64(col("tok")).as("tokh"), col("n"))
    val a = prefix.select(col("doc_id").as("doc_a"), col("tokh"),
      col("n").as("na"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("tokh"),
      col("n").as("nb"))
    // Candidates: prefixes share an element + the lossless size filter
    // (J ≥ t forces min ≥ t·max). Distinct before the verify join so a
    // pair sharing k prefix elements verifies once, not k times.
    val cand = a.join(b, Seq("tokh"))
      .filter(col("doc_a") < col("doc_b") &&
        lit(5) * least(col("na"), col("nb")) >=
          lit(4) * greatest(col("na"), col("nb")))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .distinct()
    // Exact verify: full shingle sets ride in-row (per-doc bounded), the
    // intersection is a codegen'd array op — no corpus-wide re-shuffle.
    val sets = toks.groupBy(col("doc_id"))
      .agg(collect_set(col("tok")).as("toks"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
        Seq("doc_b"))
      .withColumn("i", size(array_intersect(col("ta"), col("tb")))
        .cast("long"))
      .filter(lit(5) * col("i") >= lit(4) * (col("na") + col("nb") - col("i")))
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4)
          .as("jaccard"))
  }

  /** ExactSubstr anchor length (characters). A shared byte-span of
    * length ≥ SubstrK appears as a run of ≥ 1 matching SubstrK-grams on
    * one (doc_a, doc_b, ai−bi) diagonal, so anchoring at every offset is
    * LOSSLESS for spans ≥ SubstrK. 30 chars keeps natural-language
    * anchors near-unique (join fan-out bounded) while staying below the
    * 40-char report floor.
    */
  val SubstrK = 30

  /** Minimum reported shared-span length (characters) — the ExactSubstr
    * paper's 50-token floor, scaled to this corpus' short documents.
    */
  val SubstrFloor = 40

  /** All SubstrK-char grams of `text` at every 1-based offset. The HOF
    * lambda only captures the `text` attribute (an O(1) row-field read
    * per element — not the recomputed-`split` trap `kgrams` documents),
    * and the `when` guard keeps `sequence` ascending on short docs.
    */
  private def charGrams(text: Column): Column = {
    val n = length(text) - (SubstrK - 1)
    when(n >= 1, transform(sequence(lit(1), n),
      i => text.substr(i, lit(SubstrK))))
      .otherwise(typedLit(Seq.empty[String]))
  }

  /** ExactSubstr cross-doc substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): for
    * every unordered doc pair sharing at least one byte-span of length
    * ≥ `SubstrFloor`, emit the LONGEST maximal shared span —
    * (doc_a, doc_b, span_len, a_off, b_off) with 1-based offsets, ties
    * broken by (a_off, b_off) — plus `n_spans`, the count of maximal
    * shared spans ≥ the floor.
    *
    * Algorithm (diagonal islands, the distributed twin of the paper's
    * suffix-array scan): anchor every SubstrK-char gram at every offset
    * (O(corpus bytes) rows — the same asymptotics as suffix-array
    * construction), equi-join on the gram across docs, then observe that
    * a maximal shared span of length L is exactly a maximal run of
    * L − SubstrK + 1 consecutive anchor matches on one (pair, ai−bi)
    * diagonal. Runs are grouped with the classic ai − row_number() trick
    * (ai is unique within a diagonal: bi = ai − diag), so the maximal
    * span falls out of a groupBy — no per-pair text re-join, no in-row
    * quadratic extension.
    *
    * Scale: never all-pairs — the quadratic work is confined to docs
    * sharing a 30-char gram, which in natural text is (unlike the 3-word
    * shingles the Jaccard family blocks on) almost always a true
    * duplicated span, so candidate fan-out tracks the actual duplication
    * rate. Both windows partition by (pair[, diag]) — bounded by doc
    * lengths, never corpus-wide. Boilerplate-heavy corpora (license
    * headers) fatten gram buckets; the production guard is the same
    * df-cap `docShingles` uses, deliberately NOT applied here so the
    * gate stays lossless (the PPJoin precedent).
    */
  /** EVERY maximal shared span ≥ the floor per unordered doc pair —
    * (doc_a, doc_b, diag, a_off, b_off, span_len). The anchor-explode →
    * gram-join → diagonal-island machinery `substringSpans` documents;
    * shared by the longest-span gate and the corpus-cut operator.
    */
  def allSubstringSpans(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val g = Par.fanOut(docs)
      .select(col("doc_id"), posexplode(charGrams(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("kg"))
    val a = g.select(col("doc_id").as("doc_a"), col("i").as("ai"), col("kg"))
    val b = g.select(col("doc_id").as("doc_b"), col("i").as("bi"), col("kg"))
    val m = a.join(b, Seq("kg"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ai"), col("bi"),
        (col("ai") - col("bi")).as("diag"))
    m
      .withColumn("grp", col("ai") - row_number().over(
        w.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
          .orderBy(col("ai"))))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("ai")).as("a_off"), min(col("bi")).as("b_off"),
        (count(lit(1)) + (SubstrK - 1)).as("span_len"))
      .filter(col("span_len") >= SubstrFloor)
      .select(col("doc_a"), col("doc_b"), col("diag"),
        col("a_off"), col("b_off"), col("span_len"))
  }

  def substringSpans(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // Both pair-partitioned windows share one (doc_a, doc_b) exchange;
    // the row_number ≤ 1 filter plans as WindowGroupLimit.
    allSubstringSpans(docs)
      .withColumn("n_spans",
        count(lit(1)).over(w.partitionBy(col("doc_a"), col("doc_b"))))
      .withColumn("rn", row_number().over(
        w.partitionBy(col("doc_a"), col("doc_b"))
          .orderBy(col("span_len").desc, col("a_off"), col("b_off"))))
      .filter(col("rn") === 1)
      .select(col("doc_a"), col("doc_b"), col("span_len"),
        col("a_off"), col("b_off"), col("n_spans"))
  }

  /** Shared oracle prefix of the ExactSubstr gates: per-position
    * k-grams → cross-doc gram matches → diagonal islands → maximal
    * spans (unfiltered — each gate applies its own floor).
    */
  private def substrSpanCtes: String =
    s"""g AS (
       |  SELECT doc_id, u.i::BIGINT AS i,
       |         substr(text, u.i::INT, $SubstrK) AS kg
       |  FROM documents,
       |       unnest(range(1, greatest(length(text) - ${SubstrK - 1}, 0) + 1))
       |         AS u(i)),
       |m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.i AS ai, b.i AS bi, a.i - b.i AS diag
       |  FROM g a JOIN g b ON a.kg = b.kg AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT doc_a, doc_b, diag, ai, bi,
       |         ai - row_number() OVER (PARTITION BY doc_a, doc_b, diag
       |                                 ORDER BY ai) AS grp
       |  FROM m),
       |spans AS (
       |  SELECT doc_a, doc_b, min(ai) AS a_off, min(bi) AS b_off,
       |         (count(*) + ${SubstrK - 1})::BIGINT AS span_len
       |  FROM isl GROUP BY doc_a, doc_b, diag, grp)""".stripMargin

  /** ExactSubstr corpus CUT — the paper's actual endpoint (Lee et al.
    * 2022 remove every duplicated span from all but one occurrence):
    * per document, the UNION of its higher-id-side shared-span
    * intervals is merged and its total coverage reported —
    * (doc_id, n_cut, chars_removed, new_len). The keep-the-lowest-id
    * copy rule makes the cut deterministic and pairwise-local: a doc
    * loses a span iff some LOWER-id doc shares it, so the lowest-id
    * occurrence always survives (the suffix-array implementation's
    * keep-first-occurrence, re-expressed for the pair frame).
    *
    * Interval union runs per document: a running max-end over the
    * start-ordered intervals marks island starts (an interval whose
    * start clears every earlier end opens a new merged region), a
    * running sum numbers the islands, and one aggregate per island
    * yields merged coverage. All three windows partition by doc_id —
    * bounded by a single document's span count, never corpus-wide.
    */
  def substringCut(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val byDoc = w.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val ivl = allSubstringSpans(docs)
      .select(col("doc_b").as("doc_id"), col("b_off").as("s"),
        (col("b_off") + col("span_len")).as("e"))
    ivl
      .withColumn("pmax", max(col("e")).over(byDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("nw",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("nw")).over(byDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cut"),
        sum(col("me") - col("ms")).as("chars_removed"))
      .join(docs.select(col("doc_id"),
        length(col("text")).cast("long").as("len")), "doc_id")
      .select(col("doc_id"), col("n_cut"), col("chars_removed"),
        (col("len") - col("chars_removed")).as("new_len"))
  }

  /** Connected components of an undirected pair graph (doc_a, doc_b):
    * every vertex gets `cluster_id` = the MIN doc_id reachable from it —
    * true transitive-closure cluster semantics, vs the pair-chain
    * approximation in `dedup_keeplist`.
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round does (1) one shuffle join propagating the smallest label
    * across edges, then (2) one label→label-of-label self-join (path
    * halving), which contracts chains geometrically — O(log n) rounds on
    * any graph, 2–3 in practice for near-dup clusters (dense, tiny
    * diameter). This is the standard distributed-CC shape (hash-to-min);
    * nothing is collected to the driver except the per-round converged?
    * count, and `localCheckpoint` truncates lineage so round r's plan
    * doesn't replay rounds 1..r-1. Edge/label cardinality is bounded by
    * the near-dup pair count — orders of magnitude below corpus size.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Materialize the pair pipeline ONCE before fanning out to both
    // orientations — a union of two projections of the un-checkpointed
    // frame would run the (expensive) candidate-generation pipeline
    // twice. A label must flow against the doc_a < doc_b normalization
    // too, hence both orientations.
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val edges = p
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // min label among neighbours, NULL for none (can't happen here —
      // every vertex has an edge — but keeps the operator total)
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src")).agg(min(col("nl")).as("nl"))
        .select(col("src").as("id"), col("nl"))
      // carry the round's starting label along as `prev` so convergence
      // is decided from the SAME frame the round materializes — the old
      // probe re-JOINED the jumped frame to the previous labels (an
      // extra shuffle join + action every round)
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // pointer jump: follow my label's own label (labels are vertex ids,
      // so this is a self-join on the same frame)
      val jumped = propagated
        .join(propagated.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), col("prev"),
          coalesce(col("ll"), col("label")).as("label"))
        .localCheckpoint(eager = false)
      // LAZY checkpoint + count: the count materializes the round's
      // final stage (persisting the partitions and truncating lineage
      // for every later round) AND folds the changed-label tally into
      // that same pass — the convergence probe costs one cached-scan
      // aggregate, no join, no extra shuffle (join-free shape pinned in
      // OperatorsSpec).
      converged =
        jumped.filter(col("label") =!= col("prev")).count() == 0L
      labels = jumped.select(col("id"), col("label"))
      iter += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Incremental corpus dedup — the operational shape at 100 TB: new
    * documents are deduped against the EXISTING corpus plus each other;
    * the history is never re-deduped and never dropped. A new doc is
    * rejected iff
    *   (a) some doc with a smaller id (history or earlier-in-batch) has
    *       identical content (md5), or
    *   (b) it is the greater id of a ≥ 0.8-Jaccard pair (same chain
    *       semantics, df-cap and size-ratio prune as `dedup_keeplist`).
    *
    * CONTRACT (spec-pinned): survivors == the batch keep-list computed
    * over history ∪ incoming, restricted to incoming — incremental
    * ingestion converges to exactly what a full re-dedup would keep.
    *
    * Scale shape: candidate pairs join the full corpus' shingle frame
    * against the INCOMING side only — O(|incoming| · blocked), never
    * O(|corpus|²). The `withN` frame below (doc_id, shingle-hash,
    * shingle-count) and the content-hash frame are exactly what a
    * production pipeline persists as its dedup index between runs; here
    * they are recomputed because the driver tables are small.
    */
  def incrementalKeepNew(history: DataFrame, incoming: DataFrame): DataFrame = {
    val all = history.select(col("doc_id"), col("text"))
      .union(incoming.select(col("doc_id"), col("text")))
    val incIds = incoming.select(col("doc_id"))
    // (a) exact: any smaller-id doc with the same content hash
    val hashes = all.select(col("doc_id"), md5(col("text")).as("h"))
    val exactDropped = hashes.join(incIds, Seq("doc_id"), "left_semi")
      .join(hashes.select(col("doc_id").as("other_id"), col("h")), Seq("h"))
      .filter(col("other_id") < col("doc_id"))
      .select(col("doc_id")).distinct()
    // (b) near: df-capped shingle blocking over the union (the cap must
    // count union document frequency, identically to a full re-dedup),
    // with the pair join restricted to incoming on the greater side.
    val sh = docShingles(all, MaxDf)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val withN = sh
      .withColumn("n", count(lit(1)).over(wDoc))
      .select(col("doc_id"), xxhash64(col("sh")).as("shh"), col("n"))
    val a = withN.select(col("doc_id").as("doc_a"), col("shh"), col("n").as("na"))
    val b = withN.join(incIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("shh"), col("n").as("nb"))
    val nearDropped = a.join(b, Seq("shh"))
      .filter(col("doc_a") < col("doc_b") &&
        greatest(col("na"), col("nb")) <= lit(1.25) * least(col("na"), col("nb")))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("i"))
      .filter(col("i").cast("double") /
        (col("na") + col("nb") - col("i")) >= 0.8)
      .select(col("doc_b").as("doc_id")).distinct()
    incoming
      .join(exactDropped, Seq("doc_id"), "left_anti")
      .join(nearDropped, Seq("doc_id"), "left_anti")
  }

  /** Persist the incremental-dedup index for `docs` (the already-ingested
    * corpus) at `path`: three frames, each a multi-root kind whose
    * `seed/` sub-dir this build writes —
    *   `shingles/` (doc_id, shh): the RAW exploded 8-byte shingle hashes
    *   `hashes/`   (doc_id, h):   the md5 content hash per document
    *   `df/`       (shh, df):     per-shingle document frequency
    * The shingle frame is raw (un-capped) because the stop-shingle df cap
    * must count UNION(history, incoming) document frequency at query
    * time, exactly as a full re-dedup would — a cap baked in at index
    * time would freeze history's df and diverge from the convergence
    * contract. The df frame is that frequency pre-aggregated: the
    * query-time stop list needs df(history) + df(incoming) per key, and
    * reading the `(shh, df)` deltas beats re-aggregating the pair
    * frame every batch. This is the 100-TB lifecycle piece: each
    * ingest batch APPENDS its survivors' pairs and df counts to the
    * index ([[appendToIndex]]), and no later batch ever re-reads
    * history *text* — only these compact hash frames.
    *
    * Index keys are xxhash64 values, not shingle strings: 8 bytes/key vs
    * ~25, which is what makes the persisted index affordable. The df cap
    * therefore counts by 64-bit hash in indexed mode; two DISTINCT
    * shingles colliding would merge their df counts (P ≈ n²/2⁶⁵ —
    * vanishing at any realistic vocabulary), the standard signature-index
    * trade every production dedup index makes.
    */
  def writeIndex(docs: DataFrame, path: String): Unit =
    writeSubRoot(docs, path, "seed")

  /** Write one sub-root `sub` of all three frames from a
    * `documents`-shaped frame: the shingle pairs, the content hashes
    * and the sub-root's df counts (`groupBy(shh)` of the same pairs).
    * The three writes are independent and overlapped ([[Par.runAll]]);
    * the shingle explode runs once per write that needs it, which is
    * batch-sized work. The explode is not fanned out: the df
    * aggregate's exchange already spreads its rows, and the shingle
    * pairs are written as the scan splits them. Overwrite semantics ⇒
    * a replayed fold rewrites the same dirs wholesale.
    */
  private def writeSubRoot(docs: DataFrame, path: String, sub: String): Unit = {
    val p = protocol(path)
    val Seq(shDir, hDir, dfDir) =
      Seq("shingles", "hashes", "df").map(k => s"${p.dir(k)}/$sub")
    val exploded = docs
      .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
    Par.runAll(
      () => exploded.write.mode(SaveMode.Overwrite).parquet(shDir),
      () => exploded.groupBy(col("shh")).agg(count(lit(1)).as("df"))
        .write.mode(SaveMode.Overwrite).parquet(dfDir),
      () => docs.select(col("doc_id"), md5(col("text")).as("h"))
        .write.mode(SaveMode.Overwrite).parquet(hDir))
  }

  // ---- index sub-frame layout: `shingles/`, `hashes/` and `df/` hold
  // ONLY subdirectories — `seed/` (writeIndex), `b<batchId>/` (one per
  // folded batch, rewritten in place on replay) and `c<n>/`
  // (compactIndex, vacuumDedupIndex); `df/` also holds `d<deleteId>/`,
  // a delete's NEGATIVE counts — and the set of VALID b/d-dirs is the
  // ledger at `df/_ledger`. A b-dir not in the ledger is an orphan from
  // a crashed fold: readers skip it, and the replay of that batch
  // rewrites it wholesale before committing. That is what makes the
  // fold exactly-once under replay. `df/` is never generation-swapped
  // (the ledger lives in it); its collapses land in place. ----

  /** The index's staged-commit machinery — ledger, committed-dir
    * resolution, tombstones, publishes (see
    * [[graft.index.FoldProtocol]]). The ledger is a `_ledger` file
    * inside `df/`, which only ever holds sub-dirs besides it.
    */
  private[graft] def protocol(path: String) =
    new graft.index.FoldProtocol(path, "df/_ledger")

  /** [[protocol]] of a root whose df is in the delta layout — every
    * entry point below opens its root through this. A root written
    * before the df became per-commit deltas holds ONE flat summary
    * frame in `df/` (no sub-dirs): the first open moves it, under the
    * writer lease, into the collapse `c<hw>` (hw = the newest fold),
    * which is exactly what that summary sums. A summary that also
    * holds a delete committed above the newest fold fits no collapse
    * name (`c<hw>` would serve that delete at horizons before it, a
    * later order would hide later folds), so such a root refuses: it
    * has to be rebuilt with [[writeIndex]] over its live corpus.
    */
  private def opened(path: String): graft.index.FoldProtocol = {
    val p = protocol(path)
    if (p.isFlat("df")) p.withLease("adopt-flat-df") {
      if (p.isFlat("df")) {
        val hw = p.highWater()
        val late = p.deletedBatches().filter(_ > hw)
        require(late.isEmpty,
          s"dedup index at $path has a flat df summary that includes " +
            s"delete(s) d${late.toSeq.sorted.mkString(", d")} committed " +
            s"after its newest fold $hw: it cannot be upgraded to the df " +
            "delta layout in place — rebuild it with Dedup.writeIndex " +
            "over its live corpus")
        p.adoptFlat("df", s"c$hw")
      }
    }
    p
  }

  /** BatchIds whose fold is fully committed. */
  def foldedBatches(path: String): Set[Long] =
    protocol(path).foldedBatches()

  /** DeleteIds whose tombstone batch is fully committed. */
  def deletedBatchIds(path: String): Set[Long] =
    protocol(path).deletedBatches()

  /** The committed files of an index sub-frame (`shingles`/`hashes`),
    * minus committed tombstones: every non-batch subdir (seed, compact)
    * plus exactly the ledgered b-dirs. Orphan b-dirs from a crashed
    * fold are invisible until their replay commits.
    */
  private def indexFrame(s: SparkSession, path: String,
      sub: String): DataFrame =
    protocol(path).readCommittedStripped(s, sub, "doc_id")(readSub(s, sub))

  /** Declared read schemas of the index frames, so no read runs a
    * footer-inference job. Document ids are integral (a narrower stored
    * id widens to BIGINT on read).
    */
  private val FrameSchemas = Map(
    "shingles" -> "doc_id BIGINT, shh BIGINT",
    "hashes" -> "doc_id BIGINT, h STRING",
    "df" -> "shh BIGINT, df BIGINT")

  /** Reader of one committed sub-dir of frame `sub`. */
  private def readSub(s: SparkSession, sub: String)(dir: String): DataFrame =
    s.read.schema(FrameSchemas(sub)).parquet(dir)

  /** The `(shh, df)` rows of the committed df delta dirs `dirs` (seed
    * or collapse, `b<id>` positive, `d<id>` negative), unsummed: a
    * key's df is the sum of its rows. The serves sum them inside the
    * stop-list aggregate ([[incrementalKeepNewFromFrames]]), so reading
    * N deltas costs a union, not a second aggregate.
    */
  private def dfDeltas(s: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(readSub(s, "df")).reduce(_.union(_))

  /** [[dfDeltas]] summed per key, with the keys that reach 0 dropped
    * (only reachable through deletes) — what a collapse persists. No
    * aggregate when one dir is given: a seed or collapse already holds
    * one positive row per key.
    */
  private def dfOf(s: SparkSession, dirs: Seq[String]): DataFrame =
    if (dirs.size == 1) dfDeltas(s, dirs)
    else dfDeltas(s, dirs)
      .groupBy(col("shh")).agg(sum(col("df")).as("df"))
      .filter(col("df") =!= 0)

  /** The df the current serve sees: [[dfOf]] over every committed
    * `df/` sub-dir, one row per key.
    */
  private[graft] def servedDf(s: SparkSession, path: String): DataFrame =
    dfOf(s, opened(path).committedDirs("df"))

  /** Fold batch `batchId` into a persisted index, EXACTLY ONCE under
    * replay (the per-batch lifecycle step: after
    * `incrementalKeepNewIndexed` picks a batch's survivors, those
    * survivors join the corpus and must be queryable by the NEXT batch).
    * Through [[graft.index.FoldProtocol.fold]]: a ledgered batchId is a
    * committed no-op (returns false); otherwise the batch's shingle,
    * hash and df rows land in `b<batchId>/` sub-dirs of the three
    * frames with overwrite semantics ([[stageBatchFold]] — a replay
    * after a mid-write crash rewrites the same dirs), and the one
    * atomic ledger replace commits them together, after checking that
    * all three staged dirs are still there.
    *
    * Cost shape: O(|batch|) reads and writes. The batch's df delta is
    * its own `groupBy(shh)`; the existing df is never read and never
    * rewritten, and neither is the corpus pair frame.
    */
  def appendToIndex(docs: DataFrame, path: String, batchId: Long): Boolean =
    opened(path).fold(batchId, Seq("shingles", "hashes", "df")) {
      stageBatchFold(docs, path, batchId)
    }

  /** The stage of a fold: the batch's three `b<batchId>` sub-dirs,
    * written concurrently. Exposed to the spec so a crash between the
    * writes and the ledger commit can be simulated.
    */
  private[graft] def stageBatchFold(docs: DataFrame, path: String,
      batchId: Long): Unit =
    writeSubRoot(docs, path, s"b$batchId")

  /** Tombstone a batch of documents, EXACTLY ONCE under replay — the
    * index-side half of a takedown/retraction request. Through
    * [[graft.index.FoldProtocol.delete]], two overlapped writes stage:
    * the victim ids under `tombstones/d<deleteId>/`, and the victims'
    * NEGATIVE per-shingle counts under `df/d<deleteId>/`, computed FROM
    * THE SERVED INDEX (their (doc_id, shh) rows are right there — the
    * text is never re-read, and the df is never read). The ledger
    * replace (`d<deleteId>`) commits both: from that instant every
    * reader ([[indexFrame]] anti-joins committed tombstones, the df
    * readers sum the committed deltas) serves as if the docs were never
    * indexed — result-identical to a from-scratch rebuild without them
    * (the df stop-list sees the corrected counts, candidate joins never
    * see the victims' shingles). [[compactIndex]] later purges the rows
    * physically. Repeated ids and ids absent from the index are
    * harmless: the semi-join emits each served shingle row once.
    *
    * Cost: the writes are O(|ids|) tombstone rows plus O(the victims'
    * distinct shingles) df rows. The read is NOT victim-bounded: the
    * semi-join scans every served shingle row, since the shingle frame
    * is not clustered by document and nothing prunes it. Replay-safe:
    * an uncommitted stage reads the UNCHANGED served index, so a
    * crashed delete recomputes the identical delta. A deleteId at or
    * below a df collapse (a takedown stream's raw batchIds beside the
    * ingest folds') still serves its delta: the protocol marks it as
    * committed after that collapse.
    */
  def deleteFromIndex(ids: DataFrame, path: String,
      deleteId: Long): Boolean = {
    val p = opened(path)
    p.delete(deleteId, Seq(s"df/d$deleteId")) {
      Par.runAll(
        () => p.stageTombstones(ids, "doc_id", deleteId),
        () => indexFrame(ids.sparkSession, path, "shingles")
          .join(ids.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .groupBy(col("shh")).agg((-count(lit(1))).as("df"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${p.dir("df")}/d$deleteId"))
    }
  }

  /** Compact the index: rewrite the shingle/hash frames' committed
    * sub-dirs (seed + ledgered batches + any previous compact) into ONE
    * `c<hw>/` dir of `numFiles` files each, hash-clustered by key and
    * published by a manifest generation swap, and collapse the df
    * deltas in place into one summed `c<hw>/` dir. Without this, batch
    * N's readers pay an O(N) file listing and an O(N)-way df sum; with
    * a periodic compaction (every K batches, like
    * `Layout.compactDatePartition` on the ingest table) both stay
    * O(numFiles + K). The `repartition(numFiles, key)` clustering
    * co-locates each key range in one file — a catalog deployment
    * would make this a `bucketBy(shh)` table write so the candidate
    * join can also skip its exchange, same as `bucketJoin`.
    *
    * The df collapse sums exactly the df dirs it supersedes — those
    * with ledger id ≤ hw — so a delete committed above the newest fold
    * stays a separate delta instead of being subtracted twice, and a
    * delete id of another sequence (a takedown stream's epoch-namespaced
    * ids) never hides later folds. When a vacuum at a delete id already
    * collapsed df past hw, that collapse is the df's. Every publish is
    * value-preserving on its own (each rewrites the same served
    * content), so a crash between them serves correct results.
    *
    * Single-writer: must not run concurrently with an in-flight fold
    * (orphan b-dirs being rewritten by a replay are excluded from the
    * compaction read but would be deleted by the swap — the replay then
    * rewrites them, so correctness holds, but the wasted work is real).
    * The ledger is NOT touched: replayed batchIds keep short-circuiting
    * after their b-dirs are compacted away.
    */
  def compactIndex(s: SparkSession, path: String, numFiles: Int = 8): Unit = {
    val p = opened(path)
    p.withLease("compact-dedup") {
      val cname = p.compactDirName()
      val dfUpTo = (p.committedDirs("df")
        .map(d => d.substring(d.lastIndexOf('/') + 1))
        .filter(_.matches("c\\d+")).map(p.dirOrd) :+ p.highWater()).max
      val dfDirs = p.committedDirsAsOf("df", dfUpTo)
      val sides = Seq("shingles" -> "shh", "hashes" -> "h")
      // the sides stage concurrently; the publishes stay on this
      // (lease-holding) thread
      Par.runAll(sides.map { case (sub, key) => () =>
        indexFrame(s, path, sub)
          .repartition(numFiles, col(key))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$path/.$sub.compacting/$cname")
      } :+ (() => p.collapseInPlace("df", dfUpTo)(
        dfOf(s, dfDirs).write.mode(SaveMode.Overwrite).parquet(_))): _*)
      for ((sub, _) <- sides) p.publishDir(s".$sub.compacting", sub)
      // Compaction rewrote the SERVED (tombstone-stripped) frames, so
      // the publish doubled as the physical purge.
      p.clearTombstones()
    }
  }

  /** [[incrementalKeepNew]] against a PERSISTED index (see
    * [[writeIndex]]): result-identical by contract — same union df cap,
    * same size-ratio prune, same chain semantics — but the history side
    * is read from the compact (doc_id, shh)/(doc_id, h) frames, so the
    * corpus *text* is never re-scanned and never re-shingled. At 100 TB
    * this is the difference between "the join shape is right" and "the
    * cost is right": per batch the engine reads |corpus| 16-byte index
    * rows instead of re-tokenizing |corpus| documents (and the index
    * read is column-pruned parquet, amenable to the same
    * bucketing/compaction as any Layout table). The history df is the
    * sum of the committed df deltas, taken inside the stop-list
    * aggregate: its read grows with the folds and deletes since the
    * last compaction or vacuum.
    * Plan-pinned in OperatorsSpec: the only scans of the documents
    * table in this plan carry the incoming-batch filter.
    */
  def incrementalKeepNewIndexed(indexPath: String,
      incoming: DataFrame): DataFrame = {
    val s = incoming.sparkSession
    val dfDirs = opened(indexPath).committedDirs("df")
    incrementalKeepNewFromFrames(
      indexFrame(s, indexPath, "shingles"),
      indexFrame(s, indexPath, "hashes"),
      dfDeltas(s, dfDirs),
      incoming)
  }

  /** [[incrementalKeepNewIndexed]] AS OF a ledger horizon: the history
    * side is the index exactly as it stood after ledger id `asOf` —
    * shingle/hash dirs and tombstone batches ledger-scoped through
    * [[graft.index.FoldProtocol.readCommittedStrippedAsOf]], and the df
    * summed over the df deltas with ledger id ≤ `asOf`
    * ([[graft.index.FoldProtocol.committedDirsAsOf]], as BM25's
    * `indexStatsAsOf` sums its stats deltas). Honesty guards included:
    * a compaction or vacuum that collapsed the horizon refuses.
    */
  def incrementalKeepNewIndexedAsOf(indexPath: String,
      incoming: DataFrame, asOf: Long): DataFrame =
    incrementalKeepNewIndexedAsOfAll(indexPath, incoming, Seq(asOf)).head

  /** All requested horizons of [[incrementalKeepNewIndexedAsOf]] at
    * once, the incoming-side derived frames shared: the batch's md5
    * content hashes and exploded shingle hashes are IDENTICAL at every
    * horizon (the horizon scopes the INDEX, never the query batch), yet
    * the per-horizon form re-derived each of them twice per horizon
    * (once for the stop-list merge, once for the candidate union) — six
    * evaluations of the incoming explode/hash pipeline for a 3-horizon
    * serve. Pinned once, before the horizons fan out. The pins are
    * construction-only — every byte still derives from the parquet
    * index and batch per invocation.
    */
  def incrementalKeepNewIndexedAsOfAll(indexPath: String,
      incoming: DataFrame, horizons: Seq[Long]): Seq[DataFrame] = {
    val s = incoming.sparkSession
    val p = opened(indexPath)
    // LAZY pins: plan truncation + single evaluation with NO
    // construction job — the eager form (pin jobs up front) was
    // A/B-measured slower at bench scale, where the extra scheduler
    // round trips cost more than they overlap.
    val incHashes = incoming
      .select(col("doc_id"), md5(col("text")).as("h"))
      .localCheckpoint(false)
    val incSh = Par.fanOut(incoming)
      .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
      .localCheckpoint(false)
    Par.buildAll(horizons) { asOf =>
      def scoped(sub: String) =
        p.readCommittedStrippedAsOf(s, sub, "doc_id", asOf)(readSub(s, sub))
      incrementalKeepNewFromFrames(scoped("shingles"), scoped("hashes"),
        dfDeltas(s, p.committedDirsAsOf("df", asOf)),
        incoming, Some((incHashes, incSh)))
    }
  }

  /** The incremental-dedup core over explicit history frames — shared
    * by the current-horizon read and the as-of read (ledger-scoped
    * frames and df deltas). `histDf` is the history's unsummed
    * `(shh, df)` delta rows ([[dfDeltas]]).
    */
  private def incrementalKeepNewFromFrames(histSh: DataFrame,
      histHash: DataFrame, histDf: DataFrame,
      incoming: DataFrame,
      pinned: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val incIds = incoming.select(col("doc_id"))
    // (a) exact: any smaller-id doc (history or earlier-in-batch) with
    // the same content hash
    // batch-bounded; consumed twice (probe side + the history union)
    val incHashes = pinned.map(_._1).getOrElse(
      incoming.select(col("doc_id"), md5(col("text")).as("h"))
        .localCheckpoint(false))
    val exactDropped = incHashes
      .join(histHash.union(incHashes)
        .select(col("doc_id").as("other_id"), col("h")), Seq("h"))
      .filter(col("other_id") < col("doc_id"))
      .select(col("doc_id")).distinct()
    // (b) near: union the index pairs with the incoming batch's freshly
    // shingled pairs, cap on union df, then the same incoming-sided
    // candidate join as the non-indexed operator
    // batch-bounded (never corpus-scale), so the lazy pin is safe: the
    // incoming explode otherwise re-runs once per consumer of the
    // capped union (size aggregate + both self-join branches) plus the
    // stop-list merge
    val incSh = pinned.map(_._2).getOrElse(
      Par.fanOut(incoming)
        .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
        .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
        .localCheckpoint(false))
    val allSh = histSh.union(incSh)
    // Union df per key = history df + incoming df: ONE aggregate over
    // the history's df delta rows plus a 1 per incoming (doc, shingle)
    // pair — history's pair frame is never scanned for it (that scan
    // happens once, below, for candidates), and the deltas need no sum
    // of their own first.
    val stop = histDf
      .union(incSh.select(col("shh"), lit(1L).as("df")))
      .groupBy(col("shh")).agg(sum(col("df")).as("df"))
      .filter(col("df") > MaxDf)
      .select(col("shh"))
    // No broadcast hint (same rationale as docShingles): the stop list
    // grows with corpus vocabulary; AQE broadcasts it while it is small
    // and falls back to a shuffled anti-join once it is not.
    val capped = allSh.join(stop, Seq("shh"), "left_anti")
    // Row-level window for the per-doc capped counts, NOT a pair-level
    // size join: the alternative (one doc-keyed aggregate joined onto
    // the pair frame, ratio prune after the agg) was A/B-measured ~10%
    // SLOWER across the whole indexed family — the window's exchange is
    // shared by both self-join branches via ReuseExchange, while the
    // size-join form re-executes the capped anti-join once per consumer
    // and loses the pre-aggregation ratio prune. (The r18 ngramPairs
    // note's aggregate-and-broadcast-back rejection, re-confirmed on
    // this path.)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val withN = capped.withColumn("n", count(lit(1)).over(wDoc))
    val a = withN.select(col("doc_id").as("doc_a"), col("shh"), col("n").as("na"))
    val b = withN.join(incIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("shh"), col("n").as("nb"))
    val nearDropped = a.join(b, Seq("shh"))
      .filter(col("doc_a") < col("doc_b") &&
        greatest(col("na"), col("nb")) <= lit(1.25) * least(col("na"), col("nb")))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("i"))
      .filter(col("i").cast("double") /
        (col("na") + col("nb") - col("i")) >= 0.8)
      .select(col("doc_b").as("doc_id")).distinct()
    incoming
      .join(exactDropped, Seq("doc_id"), "left_anti")
      .join(nearDropped, Seq("doc_id"), "left_anti")
  }

  /** Build-if-absent the persisted index for the gate's history split
    * under the session warehouse (suffix-keyed per source dir, like
    * Layout's bucketed tables), and return its path.
    */
  def ensureIndex(s: SparkSession, d: String): String =
    Fixture("graft_dedup_index", DedupKind, Seq(Seed(history(s, d))))
      .ensure(s, d)

  /** The dedup index as the fixture layer sees it: three ledgered
    * frames, the df deltas among them.
    */
  val DedupKind: IndexKind = IndexKind(protocol,
    Nil, Seq("shingles", "hashes", "df"),
    write = writeIndex(_, _),
    fold = appendToIndex(_, _, _),
    delete = deleteFromIndex(_, _, _),
    vacuum = vacuumDedupIndex(_, _, _))

  /** The gates' indexed history wave (doc_id % 5 ≠ 4). */
  private def history(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 5 =!= 4)

  /** The shield classes (doc_id % 10 ∈ {0, 7}): history docs that
    * shield incoming near-dups at every gate sf, so deleting them
    * visibly changes the incremental answer.
    */
  private val isShield: Column =
    col("doc_id") % 10 === 0 || col("doc_id") % 10 === 7

  /** Oracle CTE: exploded distinct (doc_id, shingle) pairs, no df cap. */
  private val rawShingleCte: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ex AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 1)),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
      |       FROM w)""".stripMargin

  /** Shared oracle CTE: capped (doc_id, shingle) pairs. (Visible to the
    * curation operators: doc_split_leakfree rebuilds the same near-dup
    * pair relation in its oracle.)
    */
  private[operators] val shingleCte: String =
    s"""$rawShingleCte,
      |s AS (SELECT doc_id, sh FROM ex
      |      WHERE sh IN (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= 50))""".stripMargin

  /** Build-if-absent the DELETED-index gate fixture: the history index
    * (doc_id % 5 ≠ 4) with one committed delete batch (doc_id % 10 = 1
    * — all history docs) tombstoned through [[deleteFromIndex]]. Keyed
    * on the delete's ledger entry: a crash anywhere before the delete's
    * commit rebuilds from scratch.
    */
  def ensureDeletedIndex(s: SparkSession, d: String): String =
    Fixture("graft_dedup_del", DedupKind, Seq(Seed(history(s, d)),
      Delete(0L, history(s, d).filter(isShield).select(col("doc_id")))))
      .ensure(s, d)

  /** Oracle for the deleted-index gate: the exact incremental answer
    * recomputed from scratch WITHOUT the tombstoned docs (doc_id % 10
    * IN (0, 7) — classes that include shields of incoming near-dups,
    * so the delete visibly changes the answer) — shingles, df cap,
    * near/exact dup relations and the survivor filter all see only
    * live documents, which is precisely what the tombstone anti-join +
    * df correction must reproduce.
    */
  private val incrementalDeletedOracleSql: String =
    """WITH live AS (SELECT * FROM documents WHERE doc_id % 10 NOT IN (0, 7)),
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM live),
      |ex AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         range(1, greatest(len(ws) - 1, 1)),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
      |       FROM w),
      |s AS (SELECT doc_id, sh FROM ex
      |      WHERE sh IN (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= 50)),
      |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |near AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM inter
      |  JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8),
      |exact_dup AS (SELECT DISTINCT b.doc_id
      |       FROM live a JOIN live b
      |         ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id)
      |SELECT doc_id, lang, source FROM documents
      |WHERE doc_id % 5 = 4
      |  AND doc_id NOT IN (SELECT doc_id FROM near)
      |  AND doc_id NOT IN (SELECT doc_id FROM exact_dup)""".stripMargin

  /** Build-if-absent the takedown-then-reingest gate fixture — the
    * full ledger-ordered tombstone lifecycle: seed from the history
    * wave minus the victims, fold the victims as ledgered batch 1,
    * tombstone them (delete 0, high-water 1), then RE-INGEST them
    * under the same ids as batch 2 (the corrected-version flow of a
    * takedown pipeline; here the correction is content-identical so
    * the oracle is the full-corpus rebuild). Ledger order makes batch
    * 2 serve while batch 1 stays hidden. The victim classes (%10 in
    * (0, 7)) shield incoming near-dups, so an over-hiding tombstone
    * (the pre-ledger-order semantics: hide the id from ALL folds)
    * visibly changes the answer — this gate and
    * `dedup_incremental_deleted` bracket the delete semantics from
    * both sides (shields gone there, restored here).
    */
  def ensureReaddedIndex(s: SparkSession, d: String): String = {
    lazy val hist = history(s, d)
    Fixture("graft_dedup_readd", DedupKind, Seq(
      Seed(hist.filter(!isShield)),
      Fold(1L, hist.filter(isShield)),
      Delete(0L, hist.filter(isShield).select(col("doc_id"))),
      Fold(2L, hist.filter(isShield)))).ensure(s, d)
  }

  /** Floor-bounded retention for the dedup index — the kind-generic
    * [[graft.index.FoldProtocol.vacuumKinds]] kernel over all three
    * frames: each collapses its dirs with ledger id ≤ floor into one
    * `c<floor>`. The shingle/hash collapses hold the as-of-floor SERVED
    * view (tombstones ≤ floor stripped — the collapse doubles as their
    * physical purge); the df collapse holds the sum of the df deltas
    * ≤ floor, so the deletes above the floor stay separate deltas.
    * Then the sources reclaim. Horizons ≥ floor keep serving exactly
    * as before; below, the compaction honesty guard refuses. Value-gated by
    * `dedup_incremental_vacuum` (surviving horizons hash-equal to
    * `dedup_incremental_asof`'s oracle branches).
    */
  def vacuumDedupIndex(s: SparkSession, path: String,
      floorRequested: Long): Boolean = {
    val p = opened(path)
    val frames = Seq("shingles", "hashes").map(sub =>
      sub -> ((floor: Long, staging: String) =>
        p.readCommittedStrippedAsOf(s, sub, "doc_id", floor)(readSub(s, sub))
          .write.mode(SaveMode.Overwrite).parquet(staging)))
    val df = "df" -> ((floor: Long, staging: String) =>
      dfOf(s, p.committedDirsAsOf("df", floor))
        .write.mode(SaveMode.Overwrite).parquet(staging))
    p.vacuumKinds(s, floorRequested, frames :+ df)
  }

  /** Build-if-absent the AS-OF dedup-index gate fixture — ledger ids
    * at DISTINCT dir orders so every id is a distinguishable horizon
    * (the `ensureAsOfIvfIndex` convention):
    *   seed (order 0): history minus the late wave (doc_id % 5 ∈ 0–2)
    *   b1: the late history wave (doc_id % 5 = 3)
    *   d2: takedown of the shield classes (doc_id % 10 ∈ {0, 7})
    */
  def ensureAsOfDedupIndex(s: SparkSession, d: String): String =
    Fixture("graft_dedup_asof", DedupKind, asOfScript(s, d)).ensure(s, d)

  private def asOfScript(s: SparkSession, d: String): Seq[Step] = {
    lazy val hist = history(s, d)
    Seq(Seed(hist.filter(col("doc_id") % 5 =!= 3)),
      Fold(1L, hist.filter(col("doc_id") % 5 === 3)),
      Delete(2L, hist.filter(isShield).select(col("doc_id"))))
  }

  /** Build-if-absent the VACUUMED dedup-index gate fixture: the as-of
    * lifecycle then [[vacuumDedupIndex]] at floor 1 — horizon 0
    * reclaimed (refuses), horizons 1 and 2 must keep serving
    * hash-equal to the unvacuumed construction.
    */
  def ensureVacuumedDedupIndex(s: SparkSession, d: String): String =
    Fixture("graft_dedup_vacuum", DedupKind, asOfScript(s, d) :+ Vacuum(1L))
      .ensure(s, d)

  /** One horizon of the as-of / vacuum oracles: the full-batch
    * incremental rebuild over exactly the documents the horizon's
    * index holds (plus the incoming batch) — the
    * `dedup_incremental_deleted` convention, `$h`-suffixed so three
    * horizons coexist in one WITH. `ex`/`s` are MATERIALIZED (each is
    * referenced 2–3×; un-pinned, three horizons' inlined re-evals of
    * the shingle explode stack multiply).
    */
  private def asofDedupHorizonCtes(h: Int, liveWhere: String): String =
    s"""live$h AS (SELECT * FROM documents WHERE $liveWhere),
       |w$h AS (SELECT doc_id, string_split(text, ' ') AS ws FROM live$h),
       |ex$h AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(
       |         range(1, greatest(len(ws) - 1, 1)),
       |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
       |       FROM w$h),
       |s$h AS MATERIALIZED (SELECT doc_id, sh FROM ex$h
       |      WHERE sh IN (SELECT sh FROM ex$h GROUP BY sh HAVING count(*) <= 50)),
       |sz$h AS (SELECT doc_id, count(*) AS n FROM s$h GROUP BY doc_id),
       |inter$h AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |          FROM s$h a JOIN s$h b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id),
       |near$h AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM inter$h
       |  JOIN sz$h x ON x.doc_id = doc_a JOIN sz$h y ON y.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8),
       |xd$h AS (SELECT DISTINCT b.doc_id
       |       FROM live$h a JOIN live$h b
       |         ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id),
       |out$h AS (SELECT CAST($h AS BIGINT) AS horizon, doc_id, lang, source
       |  FROM documents
       |  WHERE doc_id % 5 = 4
       |    AND doc_id NOT IN (SELECT doc_id FROM near$h)
       |    AND doc_id NOT IN (SELECT doc_id FROM xd$h))""".stripMargin

  /** The three as-of horizons' live predicates: 0 = seed only (late
    * wave % 5 = 3 invisible), 1 = seed + fold (all history), 2 = the
    * takedown applied (% 10 ∈ {0, 7} gone). The incoming batch
    * (% 5 = 4) is always live — it is the query, not index state.
    */
  private val asofDedupHorizons: Seq[(Int, String)] = Seq(
    0 -> "doc_id % 5 <> 3",
    1 -> "TRUE",
    2 -> "doc_id % 10 NOT IN (0, 7)")

  private def asofDedupOracleSql(horizons: Seq[(Int, String)]): String =
    "WITH " + horizons.map { case (h, w) => asofDedupHorizonCtes(h, w) }
      .mkString(",\n") + "\n" +
      horizons.map { case (h, _) =>
        s"SELECT horizon, doc_id, lang, source FROM out$h"
      }.mkString("\nUNION ALL ")

  /** Oracle for the readded-index gate: the corpus the lifecycle
    * leaves is the FULL corpus (every victim's pre-delete version is
    * hidden, its identical re-ingest serves), so the oracle is the
    * from-scratch incremental answer over all documents — any
    * over-hiding tombstone (hiding the re-ingested batch too) loses
    * the victims' shields and mismatches.
    */
  // a def, not a val: incrementalOracleSql is initialized later in this
  // object and a val here would capture null at init order
  private def incrementalReaddedOracleSql: String = incrementalOracleSql

  /** Shared oracle for `dedup_incremental` AND `dedup_incremental_indexed`
    * — the indexed variant's contract is result-IDENTITY with the
    * recompute-everything form, so both gate against the same SQL.
    */
  private val incrementalOracleSql: String =
    s"""$shingleCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id),
       |near AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM inter
       |  JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8),
       |exact_dup AS (SELECT DISTINCT b.doc_id
       |       FROM documents a JOIN documents b
       |         ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id % 5 = 4
       |  AND doc_id NOT IN (SELECT doc_id FROM near)
       |  AND doc_id NOT IN (SELECT doc_id FROM exact_dup)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // Exact dedup: content-hash keep-list (min doc_id survives per group).
    QuerySpec(
      "dedup_exact",
      """SELECT md5(text) AS text_hash, count(*) AS n_copies,
        | min(doc_id) AS keep_doc_id
        |FROM documents GROUP BY md5(text)""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
    },

    // N-gram Jaccard near-dup pairs: candidates share a (capped) shingle;
    // exact Jaccard from distinct-shingle counts; threshold 0.8.
    QuerySpec(
      "dedup_ngram",
      s"""$shingleCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
         |FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8""".stripMargin) {
      (s, d) => ngramPairs(Tables.documents(s, d))
    },

    // Threshold-sensitivity sweep: candidate-pair counts per Jaccard
    // decile in ONE pass — the readout that justifies (or indicts) the
    // 0.8 near-dup threshold before a 100 TB dedup run commits to it.
    // Same capped-shingle candidate generation as dedup_ngram but with
    // NO size-ratio prune and NO threshold (the prune is only lossless
    // w.r.t. the ≥ 0.8 result set; a sweep must see the whole
    // distribution). Bucketing is exact integer arithmetic —
    // bucket_x10 = (10·i) div (na+nb−i) — so no float boundary can
    // disagree across engines; min/max Jaccard per bucket ride along
    // 4-dp-rounded. Output is ≤ 11 rows however large the corpus.
    QuerySpec(
      "dedup_threshold_sweep",
      s"""$shingleCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |j AS (SELECT (10 * i) // (x.n + y.n - i) AS bucket_x10,
         |             CAST(i AS DOUBLE) / (x.n + y.n - i) AS jac
         |      FROM inter JOIN sz x ON x.doc_id = doc_a
         |                 JOIN sz y ON y.doc_id = doc_b)
         |SELECT CAST(bucket_x10 AS BIGINT) AS bucket_x10,
         |  count(*) AS n_pairs,
         |  round(min(jac), 4) AS min_jac, round(max(jac), 4) AS max_jac
         |FROM j GROUP BY bucket_x10""".stripMargin) { (s, d) =>
      val sh = docShingles(Tables.documents(s, d), MaxDf)
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
      val withN = sh
        .withColumn("n", count(lit(1)).over(wDoc))
        .select(col("doc_id"), xxhash64(col("sh")).as("shh"), col("n"))
      val inter = withN
        .select(col("doc_id").as("doc_a"), col("shh"), col("n").as("na"))
        .join(withN.select(col("doc_id").as("doc_b"), col("shh"),
          col("n").as("nb")), Seq("shh"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("i"))
      inter
        .select(
          expr("(10 * i) div (na + nb - i)").as("bucket_x10"),
          (col("i").cast("double") / (col("na") + col("nb") - col("i")))
            .as("jac"))
        .groupBy(col("bucket_x10"))
        .agg(count(lit(1)).as("n_pairs"),
          round(min(col("jac")), 4).as("min_jac"),
          round(max(col("jac")), 4).as("max_jac"))
    },

    // The composed end product: the corpus keep-list. A document is
    // dropped iff it is the GREATER id of some ≥ 0.8-Jaccard pair — the
    // lowest id of each near-dup cluster survives (chain semantics:
    // removal follows pairs, not transitive closure, identically on
    // both engines).
    QuerySpec(
      "dedup_keeplist",
      s"""$shingleCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |dropped AS (
         |  SELECT DISTINCT doc_b FROM inter
         |  JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM dropped)""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val pairs = ngramPairs(docs) // shares the dedup_ngram machinery
        val dropped = pairs.select(col("doc_b").as("doc_id")).distinct()
        docs.join(dropped, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
    },

    // Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.9 — the
    // subset-detection complement to dedup_ngram's Jaccard (a doc quoted
    // inside a larger one is invisible to Jaccard past a ~1.25 size
    // ratio, containment-1.0 here). Same capped-shingle blocking, no
    // size-ratio prune (the size-skewed pairs ARE the signal).
    QuerySpec(
      "dedup_containment",
      s"""$shingleCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |pairs AS (SELECT doc_a, doc_b, i, x.n AS na, y.n AS nb
         |          FROM inter JOIN sz x ON x.doc_id = doc_a
         |          JOIN sz y ON y.doc_id = doc_b)
         |SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS doc_inner,
         |  CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS doc_outer,
         |  round(CAST(i AS DOUBLE) / least(na, nb), 4) AS containment
         |FROM pairs
         |WHERE CAST(i AS DOUBLE) / least(na, nb) >= 0.9""".stripMargin) {
      (s, d) => containmentPairs(Tables.documents(s, d))
    },

    // Prefix-filtering EXACT similarity join (PPJoin family): shingle
    // Jaccard ≥ 0.8 with NO df cap and NO banding — lossless by the
    // prefix-filter lemma (see prefixJoinPairs). The oracle mirrors the
    // same prefix machinery over the UNCAPPED shingle stream (windows +
    // integer prefix arithmetic); the equivalence of the pruned join to
    // brute-force all-pairs is pinned separately in OperatorsSpec,
    // where brute force is affordable.
    QuerySpec(
      "dedup_prefix_join",
      s"""$rawShingleCte,
        |dfx AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
        |r AS (SELECT ex.doc_id, ex.sh, sz.n,
        |        row_number() OVER (PARTITION BY ex.doc_id
        |                           ORDER BY dfx.df, ex.sh) AS r
        |      FROM ex JOIN dfx USING (sh) JOIN sz USING (doc_id)),
        |p AS (SELECT doc_id, sh, n FROM r
        |      WHERE r <= n - (4 * n + 4) // 5 + 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.n AS na, b.n AS nb
        |  FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  WHERE 5 * least(a.n, b.n) >= 4 * greatest(a.n, b.n)),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, c.na, c.nb, count(*) AS i
        |  FROM cand c JOIN ex x ON x.doc_id = c.doc_a
        |              JOIN ex y ON y.doc_id = c.doc_b AND y.sh = x.sh
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b,
        |  round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
        |FROM inter WHERE 5 * i >= 4 * (na + nb - i)""".stripMargin) {
      (s, d) => prefixJoinPairs(Tables.documents(s, d))
    },

    // ExactSubstr cross-doc substring dedup (Lee et al. 2022): longest
    // maximal shared byte-span ≥ 40 chars per doc pair, via every-offset
    // 30-char anchors + diagonal-run islands (see substringSpans). The
    // oracle mirrors the identical diagonal-island formulation over
    // per-position substrings; brute-force diagonal-scan equality is
    // pinned separately in OperatorsSpec where quadratic scan is
    // affordable. All arithmetic is integer (offsets, run counts), so
    // the gate is exact by construction.
    QuerySpec(
      "dedup_substring",
      s"""WITH $substrSpanCtes,
        |best AS (
        |  SELECT doc_a, doc_b, span_len, a_off, b_off,
        |         count(*) OVER (PARTITION BY doc_a, doc_b) AS n_spans,
        |         row_number() OVER (PARTITION BY doc_a, doc_b
        |                            ORDER BY span_len DESC, a_off, b_off)
        |           AS rn
        |  FROM spans WHERE span_len >= $SubstrFloor)
        |SELECT doc_a, doc_b, span_len, a_off, b_off,
        |       n_spans::BIGINT AS n_spans
        |FROM best WHERE rn = 1""".stripMargin) {
      (s, d) => substringSpans(Tables.documents(s, d))
    },

    // The ExactSubstr CUT: per affected document, merged coverage of
    // every ≥-floor span shared with a LOWER-id doc (the
    // keep-first-occurrence rule) — interval-union arithmetic, all
    // integer, mirrored verbatim in the oracle. See substringCut.
    QuerySpec(
      "dedup_substring_cut",
      s"""WITH $substrSpanCtes,
        |ivl AS (
        |  SELECT doc_b AS doc_id, b_off AS s, b_off + span_len AS e
        |  FROM spans WHERE span_len >= $SubstrFloor),
        |mk AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pmax
        |  FROM ivl),
        |ni AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |  FROM mk),
        |mrg AS (SELECT doc_id, g, min(s) AS ms, max(e) AS me
        |        FROM ni GROUP BY doc_id, g)
        |SELECT m.doc_id, CAST(count(*) AS BIGINT) AS n_cut,
        |  CAST(sum(me - ms) AS BIGINT) AS chars_removed,
        |  CAST(length(d.text) - sum(me - ms) AS BIGINT) AS new_len
        |FROM mrg m JOIN documents d ON d.doc_id = m.doc_id
        |GROUP BY m.doc_id, length(d.text)""".stripMargin) {
      (s, d) => substringCut(Tables.documents(s, d))
    },

    // COLLECTION-level overlap: pairwise shingle-set Jaccard between
    // SOURCES — the corpus-composition readout run before mixing
    // datasets (two crawls of the same site, a re-release of a known
    // dump, a benchmark hiding inside a crawl all show up here before
    // any doc-level pass runs). Exact, not sketched: sets are DISTINCT
    // (source, shingle) pairs, so the self-join's per-key fan-out is
    // bounded by #sources (≤ 20 rows per shingle however large the
    // corpus — the join cannot skew), intersections aggregate map-side,
    // and the output is ≤ C(#sources, 2) rows at any scale. No
    // threshold: the whole 190-pair matrix IS the readout.
    QuerySpec(
      "dedup_source_overlap",
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws
        |           FROM documents),
        |ex AS (SELECT DISTINCT source,
        |         unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |       FROM w),
        |sz AS (SELECT source, count(*) AS n FROM ex GROUP BY source),
        |inter AS (SELECT a.source AS source_a, b.source AS source_b,
        |            count(*) AS i
        |          FROM ex a JOIN ex b ON a.sh = b.sh AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT source_a, source_b, i AS n_shared,
        |  round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
        |FROM inter JOIN sz x ON x.source = source_a
        |           JOIN sz y ON y.source = source_b""".stripMargin) {
      (s, d) =>
        val ex = Par.fanOut(Tables.documents(s, d))
          .select(col("source"), explode(shingles3(col("text"))).as("sh"))
          .distinct()
        val sz = ex.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val inter = ex.select(col("source").as("source_a"), col("sh"))
          .join(ex.select(col("source").as("source_b"), col("sh")),
            Seq("sh"))
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("i"))
        inter
          .join(sz.select(col("source").as("source_a"), col("n").as("na")),
            Seq("source_a"))
          .join(sz.select(col("source").as("source_b"), col("n").as("nb")),
            Seq("source_b"))
          .select(col("source_a"), col("source_b"),
            col("i").as("n_shared"),
            round(col("i").cast("double") /
              (col("na") + col("nb") - col("i")), 4).as("jaccard"))
    },

    // Incremental dedup under the oracle gate: every 5th doc plays the
    // incoming batch, the rest the already-ingested corpus. Survivors =
    // incoming docs with NO smaller-id exact twin (md5) and NO
    // smaller-id near-dup partner (capped-shingle Jaccard ≥ 0.8 over
    // history ∪ incoming — the df cap counts union frequency, exactly
    // like a full re-dedup). The oracle computes the full batch answer
    // and restricts it to the increment, which is the operator's
    // convergence contract (also spec-pinned in OperatorsSpec); the
    // Spark side only ever generates candidate pairs whose GREATER side
    // is incoming — O(|incoming| · blocked), never O(|corpus|²).
    QuerySpec(
      "dedup_incremental",
      incrementalOracleSql) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val history = docs.filter(col("doc_id") % 5 =!= 4)
        val incoming = docs.filter(col("doc_id") % 5 === 4)
        incrementalKeepNew(history, incoming)
          .select(col("doc_id"), col("lang"), col("source"))
    },

    // The same incremental contract served from the PERSISTED index: the
    // history side is read back as compact (doc_id, shh)/(doc_id, h)
    // parquet frames (built once, build-if-absent like Layout's bucketed
    // tables) and the corpus text is never re-scanned — the plan's only
    // documents scans carry the incoming-batch filter (spec-pinned).
    // Same oracle as dedup_incremental: the index changes COST, not one
    // row of the result.
    QuerySpec(
      "dedup_incremental_indexed",
      incrementalOracleSql) {
      (s, d) =>
        val incoming = Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
        incrementalKeepNewIndexed(ensureIndex(s, d), incoming)
          .select(col("doc_id"), col("lang"), col("source"))
    },

    // The takedown contract under the value gate: after one ledgered
    // delete batch (doc_id % 10 = 1 tombstoned out of the history
    // index), the incremental answer must be IDENTICAL to a
    // from-scratch rebuild that never saw the deleted docs — the
    // tombstone anti-join hides their shingle/hash rows and the df
    // correction restores the stop-list counts, so a victim can no
    // longer shield its near-dups from surviving (the oracle recomputes
    // everything over live docs only).
    QuerySpec(
      "dedup_incremental_deleted",
      incrementalDeletedOracleSql) {
      (s, d) =>
        val incoming = Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
        incrementalKeepNewIndexed(ensureDeletedIndex(s, d), incoming)
          .select(col("doc_id"), col("lang"), col("source"))
    },

    // Takedown-then-reingest: tombstones are scoped by ledger order, so
    // deleting a batch's documents and then folding corrected versions
    // under the SAME ids serves the corrected corpus — delete hides
    // only the folds committed before it. The oracle rebuilds the
    // incremental answer over exactly that corpus (pre-delete versions
    // absent, corrected re-ingests present).
    QuerySpec(
      "dedup_incremental_readded",
      incrementalReaddedOracleSql) {
      (s, d) =>
        val incoming = Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
        incrementalKeepNewIndexed(ensureReaddedIndex(s, d), incoming)
          .select(col("doc_id"), col("lang"), col("source"))
    },

    // AS-OF (time-travel) incremental dedup: the SAME persisted index
    // answers the incremental-survivor question at three ledger
    // horizons — post-seed (late wave invisible), post-fold, and
    // post-takedown — by ledger-scoped dir/tombstone filters on the
    // shingle/hash frames, with each horizon's df stop-list summed over
    // the df deltas whose ledger id is within the horizon. Oracle =
    // the full-batch rebuild restricted per horizon, the
    // dedup_incremental_deleted convention. This was the last ledgered
    // family with no as-of read.
    QuerySpec(
      "dedup_incremental_asof",
      asofDedupOracleSql(asofDedupHorizons)) { (s, d) =>
      val root = ensureAsOfDedupIndex(s, d)
      val incoming = Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
      incrementalKeepNewIndexedAsOfAll(root, incoming,
        asofDedupHorizons.map(_._1.toLong))
        .zip(asofDedupHorizons).map { case (df, (h, _)) =>
          df.select(lit(h.toLong).as("horizon"), col("doc_id"),
            col("lang"), col("source"))
        }.reduce(_.unionByName(_))
    },

    // Floor-bounded retention on the DEDUP index under the value gate:
    // the as-of lifecycle VACUUMED at floor 1 — horizon 0 reclaimed
    // (refuses), horizons 1 and 2 hash-equal to the unvacuumed as-of
    // oracle's surviving branches. Completes vacuum coverage across
    // every ledgered family.
    QuerySpec(
      "dedup_incremental_vacuum",
      asofDedupOracleSql(asofDedupHorizons.drop(1))) { (s, d) =>
      val root = ensureVacuumedDedupIndex(s, d)
      val incoming = Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
      incrementalKeepNewIndexedAsOfAll(root, incoming,
        asofDedupHorizons.drop(1).map(_._1.toLong))
        .zip(asofDedupHorizons.drop(1)).map { case (df, (h, _)) =>
          df.select(lit(h.toLong).as("horizon"), col("doc_id"),
            col("lang"), col("source"))
        }.reduce(_.unionByName(_))
    },

    // Transitive-closure corpus dedup: collapse ≥0.8-Jaccard pairs into
    // connected components (iterative label propagation + pointer
    // jumping, O(log n) rounds) and keep the min doc_id per component.
    // The oracle recomputes the same components with a recursive CTE
    // (reachability sets are tiny — bounded by near-dup cluster size).
    QuerySpec(
      "dedup_cluster",
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |          JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         |          WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, r) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
         |SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
         |  CAST(CASE WHEN u = min(r) THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM reach GROUP BY u""".stripMargin) { (s, d) =>
      val cc = connectedComponents(ngramPairs(Tables.documents(s, d)))
      cc.select(col("doc_id"), col("cluster_id"),
        when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L).as("keep"))
    },

    // Soft dedup: instead of DROPPING near-duplicates, every document
    // gets a sampling weight 1/|its near-dup cluster| (singletons keep
    // 1.0), so a training sampler sees each CONTENT once in expectation
    // while no document is discarded — the downweight-don't-delete
    // policy. Reuses the dedup_cluster component labels; the only new
    // work is a cluster-size count and one doc_id-keyed left join back
    // to the corpus (co-partitioned fact-sized join — no broadcast, no
    // new pair machinery).
    QuerySpec(
      "dedup_softweight",
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |          JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         |          WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, r) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         |cl AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
         |cs AS (SELECT cluster_id, count(*) AS nc FROM cl GROUP BY cluster_id)
         |SELECT d.doc_id,
         |  round(CAST(1 AS DOUBLE) / coalesce(cs.nc, 1), 4) AS weight
         |FROM documents d
         |LEFT JOIN cl ON d.doc_id = cl.doc_id
         |LEFT JOIN cs ON cl.cluster_id = cs.cluster_id""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val cc = connectedComponents(ngramPairs(docs))
        val sized = cc.join(
          cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("nc")),
          Seq("cluster_id"))
        docs.select(col("doc_id"))
          .join(sized.select(col("doc_id"), col("nc")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            round(lit(1.0) / coalesce(col("nc"), lit(1L)), 4).as("weight"))
    },

    // Keep-BEST dedup: instead of keeping the oldest member of each
    // near-dup cluster (dedup_cluster's min-id `keep`) or downweighting
    // all of them (dedup_softweight), elect the highest-QUALITY member
    // as the cluster's canonical document — the policy a training
    // pipeline actually wants when duplicates differ in extraction
    // quality (same article, one copy boilerplate-mangled). Composes
    // the cluster labels with the text_quality score; election is a
    // bounded per-cluster argmax via ONE max(struct(score, -doc_id))
    // aggregate (4-dp-rounded score ordering with smallest-id
    // tie-break — deterministic and engine-portable, no window over
    // the corpus), then a cluster-keyed join back. Singletons are
    // their own canonical. At 100 TB: quality is a per-row codegen'd
    // projection; the cluster frame is O(near-dups); the election
    // aggregate and the join shuffle the small cluster side only —
    // the corpus-sized frame shuffles once on doc_id, the same
    // partitioning the cluster labels already carry.
    QuerySpec(
      "dedup_canonical",
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |          JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
         |          WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, r) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         |cl AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
         |qf AS (SELECT doc_id,
         |    CASE WHEN n_words >= 20 THEN 1.0 ELSE CAST(n_words AS DOUBLE)/20 END *
         |      (1.0 - CAST(n_punct AS DOUBLE)/n_chars) *
         |      (CASE WHEN CAST(n_stop AS DOUBLE)/n_words > 0.05 THEN 1.0 ELSE 0.5 END)
         |      AS q
         |  FROM (SELECT doc_id, length(text) AS n_chars,
         |      len(string_split(text,' ')) AS n_words,
         |      len(list_filter(string_split(text,' '),
         |          w -> w IN ('the','a','of','and','in','to','is','it','on','for'))) AS n_stop,
         |      length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct
         |    FROM documents)),
         |m AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |can AS (SELECT cluster_id, doc_id AS canonical_id FROM (
         |    SELECT m.cluster_id, m.doc_id,
         |      row_number() OVER (PARTITION BY m.cluster_id
         |        ORDER BY round(qf.q, 4) DESC, m.doc_id) AS rn
         |    FROM m JOIN qf ON m.doc_id = qf.doc_id) WHERE rn = 1)
         |SELECT m.doc_id, CAST(m.cluster_id AS BIGINT) AS cluster_id,
         |  CAST(can.canonical_id AS BIGINT) AS canonical_id,
         |  CAST(CASE WHEN m.doc_id = can.canonical_id THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_canonical
         |FROM m JOIN can ON m.cluster_id = can.cluster_id""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val cc = connectedComponents(ngramPairs(docs))
        // (doc_id, cluster_id) membership feeds BOTH the election and
        // the final output; the quality projection (regexp-heavy) rides
        // ONLY the election branch, so the membership recompute — cheap
        // against cc's checkpointed labels — is the price of reuse, not
        // a second corpus-wide quality pass
        val base = docs.select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        // argmax(quality, tie: min doc_id) per cluster as ONE struct
        // max: struct compares field-by-field, so max(q, -doc_id)
        // yields the highest rounded score then the smallest id
        val elected = base
          .join(docs.select(col("doc_id"),
            round(TextAnalysis.qualityScore(col("text")), 4).as("q")),
            Seq("doc_id"))
          .groupBy(col("cluster_id"))
          .agg(max(struct(col("q"), (-col("doc_id")).as("neg_id")))
            .as("best"))
          .select(col("cluster_id"),
            (-col("best.neg_id")).as("canonical_id"))
        base.join(elected, Seq("cluster_id"))
          .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
            when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L)
              .as("is_canonical"))
    },

    // MinHash + LSH: 8 min-hashes from TWO md5 digests per shingle (each
    // digest splits into four independent fixed-width hex words — 8-char
    // lowercase hex compares lexicographically as its numeric value, so
    // MIN over each word is a valid min-hash), 4 bands × 2 rows;
    // candidate pairs collide on at least one band (P≈0.98 at the 0.8
    // Jaccard threshold, ≈0.03 at background 0.3). Portable to the
    // oracle because the family is md5 hex substrings + MIN. Deriving 8
    // hashes from 2 digests (vs one md5 per hash) cut the signature
    // stage ~4× — md5 dominates the scan.
    QuerySpec(
      "dedup_minhash",
      s"""$shingleCte,
         |sig AS (SELECT doc_id,
         |  ${(0 until 8).map { j =>
             val c = j / 4; val p = j % 4
             s"min(substr(md5('$c:' || sh), ${p * 8 + 1}, 8)) AS h$j"
           }.mkString(", ")}
         |  FROM s GROUP BY doc_id),
         |bands AS (
         |  ${(0 until 4).map(b =>
             s"SELECT doc_id, $b AS band, md5(h${2*b} || '|' || h${2*b+1}) AS bh FROM sig")
             .mkString(" UNION ALL ")})
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin) {
      (s, d) =>
        val k = 8
        val rowsPerBand = 2
        val sh = docShingles(Tables.documents(s, d), MaxDf)
        val sig = sh.groupBy(col("doc_id")).agg(
          min(substring(md5(concat(lit("0:"), col("sh"))), 1, 8)).as("h0"),
          (1 until k).map { j =>
            val c = j / 4; val p = j % 4
            min(substring(md5(concat(lit(s"$c:"), col("sh"))), p * 8 + 1, 8))
              .as(s"h$j")
          }: _*)
        val bandCols = (0 until k / rowsPerBand).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws("|",
              (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)).as("bh"))
        }
        val bands = sig
          .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
          .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
        val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
        val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("bh"))
        a.join(b, Seq("band", "bh"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
          .distinct()
    },

    // MinHash estimator calibration: for every LSH candidate pair, the
    // sketch's Jaccard estimate (matching minhash components / 8) next
    // to the EXACT shingle Jaccard — the same certify-the-approximation
    // pattern as sim_ivf_recall/sim_pq_recall, applied to the dedup
    // sketch. This is what makes a threshold choice defensible at
    // 100 TB: the estimator's error is itself an oracled query, not a
    // paper citation. Exact Jaccard is computed ONLY for candidate
    // pairs (shingles semi-joined down to candidate docs first), so the
    // verify cost scales with the candidate set — the banded bound —
    // never the corpus. The shingle and signature frames each feed
    // several branches and are corpus-scale, so they pin DURABLY
    // (Layout.stagePin — one warehouse parquet roundtrip each): a
    // localCheckpoint would hold a corpus-expansion-scale lineage-free
    // frame on executors, where one lost executor fails the whole job
    // unrecoverably. Only the candidate-pair frame — bounded by the
    // banded candidate set, not the corpus — keeps the cheap
    // executor-local pin.
    QuerySpec(
      "dedup_minhash_estimate",
      s"""$shingleCte,
         |sig AS (SELECT doc_id,
         |  ${(0 until 8).map { j =>
             val c = j / 4; val p = j % 4
             s"min(substr(md5('$c:' || sh), ${p * 8 + 1}, 8)) AS h$j"
           }.mkString(", ")}
         |  FROM s GROUP BY doc_id),
         |bands AS (
         |  ${(0 until 4).map(b =>
             s"SELECT doc_id, $b AS band, md5(h${2*b} || '|' || h${2*b+1}) AS bh FROM sig")
             .mkString(" UNION ALL ")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |  round((${(0 until 8).map(j =>
             s"CASE WHEN x.h$j = y.h$j THEN 1 ELSE 0 END").mkString(" + ")}
         |    ) / 8.0, 4) AS est_j,
         |  round(CAST(coalesce(i.i, 0) AS DOUBLE)
         |    / (sx.n + sy.n - coalesce(i.i, 0)), 4) AS exact_j
         |FROM cand c
         |JOIN sig x ON x.doc_id = c.doc_a JOIN sig y ON y.doc_id = c.doc_b
         |JOIN sz sx ON sx.doc_id = c.doc_a JOIN sz sy ON sy.doc_id = c.doc_b
         |LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b""".stripMargin) {
      (s, d) =>
        val k = 8
        val rowsPerBand = 2
        val sh = Layout.stagePin(
          docShingles(Tables.documents(s, d), MaxDf), "mhest_sh")
        val sig = Layout.stagePin(sh.groupBy(col("doc_id")).agg(
          min(substring(md5(concat(lit("0:"), col("sh"))), 1, 8)).as("h0"),
          (1 until k).map { j =>
            val c = j / 4; val p = j % 4
            min(substring(md5(concat(lit(s"$c:"), col("sh"))), p * 8 + 1, 8))
              .as(s"h$j")
          }: _*), "mhest_sig")
        val bandCols = (0 until k / rowsPerBand).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws("|",
              (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)).as("bh"))
        }
        val bands = sig
          .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
          .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
        val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
          .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
            Seq("band", "bh"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
          .distinct()
          .localCheckpoint()
        // exact Jaccard, candidate-pruned: shingles of candidate docs only
        val candDocs = cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b").as("doc_id"))).distinct()
        val candSh = sh.join(candDocs, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
        val sz = candSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = candSh.select(col("doc_id").as("doc_a"), col("shh"))
          .join(candSh.select(col("doc_id").as("doc_b"), col("shh")), Seq("shh"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
        val matches = (0 until k).map(j =>
          when(col(s"x.h$j") === col(s"y.h$j"), 1).otherwise(0))
          .reduce((a: Column, b: Column) => a + b)
        cand
          .join(sig.as("x"), col("doc_a") === col("x.doc_id"))
          .join(sig.as("y"), col("doc_b") === col("y.doc_id"))
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
          .join(inter, Seq("doc_a", "doc_b"), "left")
          .select(col("doc_a"), col("doc_b"),
            round(matches.cast("double") / k, 4).as("est_j"),
            round(coalesce(col("i"), lit(0L)).cast("double")
              / (col("na") + col("nb") - coalesce(col("i"), lit(0L))), 4)
              .as("exact_j"))
    },

    // SimHash: 64-bit signature from per-shingle bit votes; candidate
    // pairs share at least one of four 16-bit chunks (finds all pairs with
    // Hamming distance ≤ 3 by pigeonhole) and pass an exact popcount check.
    // The token hash is md5-derived (== DuckDB md5_number_upper) exactly so
    // this query can carry a value-level oracle: the SQL recomputes the
    // signatures bit-by-bit from the same hash family.
    QuerySpec(
      "dedup_simhash",
      s"""$rawShingleCte,
         |hh AS (SELECT doc_id, md5_number_upper(sh) AS h FROM ex),
         |votes AS (SELECT doc_id, b,
         |    CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
         |         THEN (1::HUGEINT << b)::UBIGINT ELSE 0::UBIGINT END AS bv
         |  FROM hh, range(0, 64) t(b) GROUP BY doc_id, b),
         |sigs AS (SELECT doc_id, bit_or(bv) AS sig FROM votes GROUP BY doc_id),
         |chunks AS (SELECT doc_id, sig, c, (sig >> (c * 16)) & 65535 AS cv
         |           FROM sigs, range(0, 4) t(c))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM chunks a JOIN chunks b
         |  ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin) { (s, d) =>
      val sigs = simhashSignatures(Tables.documents(s, d))
      val chunks = sigs.select(
        col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("chunk"),
            shiftrightunsigned(col("simhash"), c * 16)
              .bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("cc"))
        .select(col("doc_id"), col("simhash"),
          col("cc.chunk").as("chunk"), col("cc.cv").as("cv"))
      val a = chunks.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
        col("chunk"), col("cv"))
      val b = chunks.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
        col("chunk"), col("cv"))
      a.join(b, Seq("chunk", "cv"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    },

    // Embedding near-dup via SRP-LSH (signed random projections): each
    // vector hashes to sign bits against pseudo-random hyperplanes
    // (generated ONCE driver-side from a fixed seed and shipped as array
    // literals — no RNG state on executors), bits group into bands,
    // candidates collide on a band, and survivors verify with exact
    // cosine. This is the metadata-free scale path: no label column
    // needed, candidate cost bounded by band-bucket sizes. The oracle SQL
    // embeds the SAME plane literals and recomputes the sign bits with
    // list_dot_product over DOUBLE[]; the Spark side uses the same
    // arithmetic — a double-accumulated dot product (DotProduct), not
    // cosine — so the sign agrees bit-for-bit even for all-zero vectors
    // (dot = 0 → bit set in both engines; cosine would be NaN → unset)
    // and for near-zero dots where float vs double accumulation could
    // flip the sign.
    QuerySpec(
      "dedup_embedding_lsh",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |sig AS (SELECT vec_id, v,
         |${(0 until LshBands).map { b =>
             "  " + (0 until LshBandBits).map { j =>
               val plane = LshPlanes(b * LshBandBits + j)
               s"(CASE WHEN list_dot_product(v, ${plane.mkString("[", ",", "]")}) >= 0 THEN ${1L << j} ELSE 0 END)"
             }.mkString(" + ") + s" AS bv$b"
           }.mkString(",\n")}
         |  FROM e),
         |bands AS (
         |${(0 until LshBands).map(b =>
             s"  SELECT vec_id, v, $b AS b, bv$b AS bv FROM sig")
             .mkString("\n  UNION ALL\n")})
         |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_cosine_similarity(a.v, b.v), 4) AS sim,
         |  CAST(CASE WHEN round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_dup
         |FROM bands a JOIN bands b
         |  ON a.b = b.b AND a.bv = b.bv AND a.vec_id < b.vec_id""".stripMargin) {
      (s, d) =>
      val e = Par.fanOut(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding").as("v"))
      // Codegen'd DotProduct is the projection kernel (the higher-order-
      // function formulation is interpreted and was ~20× slower — see
      // functions/VectorFunctions.scala).
      //
      // Output is the full CANDIDATE stream (band-colliding pairs) with
      // each pair's verification verdict, not just the verified
      // survivors: with 16-bit bands the collision probability at
      // moderate cosine is tiny BY DESIGN (that is the scale bound), so
      // on a corpus with no true near-dups the survivor set is empty —
      // emitting candidates keeps the gate observable (every candidate
      // pair and its 4-dp cosine must match the oracle exactly) while
      // downstream dedup consumes `is_dup = 1` rows only.
      // The band self-join runs on SKINNY rows — (vec_id, band, bv),
      // 18 bytes — with the 64-float vector dropped before the
      // exchange (column pruning cuts it right after the sign
      // projections). Vectors re-join ONLY for the candidate pairs,
      // which 16-bit banding keeps ≪ N by design: at corpus scale the
      // alternative (each band row dragging its vector through the
      // shuffle and the join build side) multiplies the heaviest
      // column by LshBands× for data that candidate generation never
      // reads. Verify joins are unhinted — corpus-derived sides, AQE
      // sizes them (broadcast at bench scale, shuffled at web scale).
      val bands = srpBands(e).select(col("vec_id"), col("band"), col("bv"))
      val cand = bands.select(col("vec_id").as("vec_a"), col("band"), col("bv"))
        .join(bands.select(col("vec_id").as("vec_b"), col("band"), col("bv")),
          Seq("band", "bv"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
        .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(Similarity.cosine(col("va"), col("vb")), 4).as("sim"))
        .withColumn("is_dup",
          when(col("sim") >= 0.4, lit(1L)).otherwise(lit(0L)))
    },

    // Embedding-cosine near-dup: blocked by cluster label (the metadata
    // blocking key), threshold on 4-dp-rounded cosine. Pairs only — no
    // float in the output, so cross-engine float noise can't break hashes.
    QuerySpec(
      "dedup_embedding",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4""".stripMargin) {
      (s, d) =>
        val e = Par.fanOut(Tables.embeddings(s, d))
          .select(col("vec_id"), col("label"), col("embedding").as("v"))
        val a = e.select(col("vec_id").as("vec_a"), col("label"), col("v").as("va"))
        val b = e.select(col("vec_id").as("vec_b"), col("label"), col("v").as("vb"))
        a.join(b, Seq("label"))
          .filter(col("vec_a") < col("vec_b"))
          .filter(round(Similarity.cosine(col("va"), col("vb")), 4) >= 0.4)
          .select(col("vec_a"), col("vec_b"))
    },

    // Decontamination: drop-list of corpus docs sharing any word-4-gram
    // with a held-out benchmark set (here: source 'src0' stands in for
    // the eval suite; real pipelines use 8–13-grams against actual test
    // sets — k is a parameter of `kgrams`). The 100-TB plan: the
    // benchmark side is tiny (eval suites, not corpora), so its distinct
    // gram hashes BROADCAST and the corpus-side gram stream filters
    // against them map-side — no shuffle of corpus grams; only the
    // surviving (contaminated) gram hits, orders of magnitude fewer,
    // reach the distinct+count shuffle. Grams join on xxhash64 (8-byte
    // shuffle keys, same trick and caveat as `ngramPairs`); the oracle
    // joins the gram strings directly.
    QuerySpec(
      "decontaminate",
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, source,
        |        list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gk
        |      FROM w, unnest(range(1, len(ws) - 2)) t(i)),
        |bench AS (SELECT DISTINCT gk FROM g WHERE source = 'src0'),
        |corp AS (SELECT DISTINCT doc_id, gk FROM g WHERE source <> 'src0')
        |SELECT doc_id, count(*) AS n_contaminated
        |FROM corp JOIN bench USING (gk) GROUP BY doc_id""".stripMargin) {
      (s, d) =>
        val grams = Par.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), col("source"),
            explode(kgrams(col("text"), 4)).as("g"))
        val bench = grams.filter(col("source") === "src0")
          .select(xxhash64(col("g")).as("gh")).distinct()
        val corp = grams.filter(col("source") =!= "src0")
          .select(col("doc_id"), xxhash64(col("g")).as("gh"))
        // No broadcast hint: a PRODUCTION eval suite is bounded by
        // construction and its gram list may be hinted, but THIS gated
        // stand-in derives the bench side from the corpus itself
        // (source 'src0'), so its gram vocabulary grows with scale —
        // exactly the class of frame the hazard sweep bans from forced
        // broadcasts. AQE still broadcasts it at bench scale.
        corp.join(bench, Seq("gh"))
          .distinct() // each shared gram counted once per doc
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_contaminated"))
    },

    // SOFT decontamination: instead of the hard drop-list above, every
    // corpus document gets its contaminated-gram FRACTION (|distinct
    // 4-grams shared with the benchmark| / |its distinct 4-grams|) and
    // a flag at the 5% bar — the GPT-3-style "dirty document" report a
    // pipeline reviews before deciding drop vs keep, and the evidence
    // for wherever the threshold lands (on the gate corpus the planted
    // contaminated docs sit at 1.0 against a ≤2% n-gram-collision
    // background). Same gram machinery as `decontaminate`; the only
    // additions are a per-doc distinct-gram count off the SAME corp
    // frame and a left join so zero-overlap docs report 0.0 instead of
    // vanishing. Scale shape unchanged: gram join on the hashed key,
    // both aggregates partial, no new corpus pass.
    QuerySpec(
      "decontaminate_score",
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, source,
        |        list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gk
        |      FROM w, unnest(range(1, len(ws) - 2)) t(i)),
        |bench AS (SELECT DISTINCT gk FROM g WHERE source = 'src0'),
        |corp AS (SELECT DISTINCT doc_id, gk FROM g WHERE source <> 'src0'),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id),
        |hit AS (SELECT doc_id, count(*) AS n_contaminated
        |        FROM corp JOIN bench USING (gk) GROUP BY doc_id)
        |SELECT tot.doc_id, CAST(tot.n_grams AS BIGINT) AS n_grams,
        |  CAST(coalesce(hit.n_contaminated, 0) AS BIGINT) AS n_contaminated,
        |  round(CAST(coalesce(hit.n_contaminated, 0) AS DOUBLE)
        |    / tot.n_grams, 4) AS frac,
        |  CAST(CASE WHEN CAST(coalesce(hit.n_contaminated, 0) AS DOUBLE)
        |    / tot.n_grams > 0.05 THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id""".stripMargin) {
      (s, d) =>
        val grams = Par.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), col("source"),
            explode(kgrams(col("text"), 4)).as("g"))
        val bench = grams.filter(col("source") === "src0")
          .select(xxhash64(col("g")).as("gh")).distinct()
        val corp = grams.filter(col("source") =!= "src0")
          .select(col("doc_id"), xxhash64(col("g")).as("gh")).distinct()
        val tot = corp.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"))
        val hit = corp.join(bench, Seq("gh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_contaminated"))
        val frac = coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_grams")
        tot.join(hit, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
            round(frac, 4).as("frac"),
            when(frac > 0.05, 1L).otherwise(0L).as("flagged"))
    },

    // Record linkage / entity resolution — the STRUCTURED-records
    // flavor of dedup: link dirty free-text entity names back to a
    // canonical catalog via blocking + edit-distance verify (the
    // Fellegi-Sunter block-and-compare architecture every MDM / customer
    // -360 pipeline runs). The corpus carries no dirty names, so the
    // gate PLANTS them deterministically (the construct-the-signal
    // pattern `text_pii` uses): every third part's name loses one
    // character at position 4 + (key mod (len-4)) — past the blocking
    // prefix, so the TRUE match always shares the block. Linkage:
    // candidates = equi-join on the 3-char prefix block (never
    // all-pairs — the quadratic work is confined to same-block groups,
    // exactly the dedup blocking story; at 100 TB the block key grows a
    // length band / phonetic code, same shape), verify = levenshtein
    // ≤ 2 (integer-exact in both engines), resolve = min (dist, name)
    // per record via one struct-min aggregate (no window). The ≤ 2 bar
    // makes resolution non-vacuous: single-edit-apart catalog names
    // compete inside the block (51 multi-candidate records at sf0.01)
    // and the true dist-1 match must win the ordering.
    QuerySpec(
      "q_record_linkage",
      """WITH catalog AS (SELECT DISTINCT p_name FROM part),
        |dirty AS (SELECT p_partkey AS rec_id, p_name,
        |    4 + (p_partkey % (length(p_name) - 4)) AS pos
        |  FROM part WHERE p_partkey % 3 = 0),
        |drec AS (SELECT rec_id,
        |    concat(substr(p_name, 1, CAST(pos - 1 AS INT)),
        |           substr(p_name, CAST(pos + 1 AS INT))) AS dirty_name
        |  FROM dirty),
        |cand AS (SELECT d.rec_id, d.dirty_name, c.p_name AS cand_name,
        |    levenshtein(d.dirty_name, c.p_name) AS dist
        |  FROM drec d JOIN catalog c
        |    ON substr(d.dirty_name, 1, 3) = substr(c.p_name, 1, 3)
        |  WHERE levenshtein(d.dirty_name, c.p_name) <= 2)
        |SELECT rec_id, min(dirty_name) AS dirty_name,
        |  first(cand_name ORDER BY dist, cand_name) AS match_name,
        |  CAST(min(dist) AS INT) AS dist,
        |  CAST(count(*) AS BIGINT) AS n_candidates
        |FROM cand GROUP BY rec_id""".stripMargin) { (s, d) =>
      val part = Tables.part(s, d)
      val catalog = part.select(col("p_name")).distinct()
        .select(col("p_name").as("cand_name"),
          substring(col("p_name"), 1, 3).as("blk"))
      val drec = part.filter(col("p_partkey") % 3 === 0)
        .select(col("p_partkey").as("rec_id"), col("p_name"),
          (lit(4) + col("p_partkey") % (length(col("p_name")) - 4))
            .cast("int").as("pos"))
        .select(col("rec_id"),
          concat(col("p_name").substr(lit(1), col("pos") - 1),
            col("p_name").substr(col("pos") + 1, length(col("p_name"))))
            .as("dirty_name"))
        .select(col("rec_id"), col("dirty_name"),
          substring(col("dirty_name"), 1, 3).as("blk"))
      drec.join(catalog, Seq("blk"))
        .select(col("rec_id"), col("dirty_name"), col("cand_name"),
          levenshtein(col("dirty_name"), col("cand_name")).as("dist"))
        .filter(col("dist") <= 2)
        .groupBy(col("rec_id"))
        .agg(min(col("dirty_name")).as("dirty_name"),
          min(struct(col("dist"), col("cand_name"))).as("best"),
          count(lit(1)).as("n_candidates"))
        .select(col("rec_id"), col("dirty_name"),
          col("best.cand_name").as("match_name"),
          col("best.dist").as("dist"), col("n_candidates"))
    }
  )

  /** 64-bit SimHash signatures via the custom single-pass Catalyst
    * aggregate (`graft.functions.SimHashAgg`): per-shingle xxhash64 bit
    * votes combined map-side. Shingles (not single words) keep the
    * signature discriminative when the vocabulary is small — with
    * unigram features every doc shares most tokens and all signatures
    * collapse toward each other.
    */
  def simhashSignatures(docs: DataFrame): DataFrame =
    // Same rationale as docShingles: fan the per-doc shingle+hash
    // compute across the session's parallelism before the explode —
    // only when the scan is narrower than the session (Par.fanOut).
    Par.fanOut(docs)
      .select(col("doc_id"), explode(shingles3(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg.simhash_agg(col("tok")).as("simhash"))
}
