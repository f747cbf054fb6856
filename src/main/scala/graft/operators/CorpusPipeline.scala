package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed end-to-end curation pipeline — every stage a crawled
  * corpus passes through on its way into a training set, chained as ONE
  * gated query (the reference's whole identity is a composed pipeline:
  * fetch → transform → load, `deployment_function.py:200-220`; this is
  * that composition at LLM-data scale). Each stage is the SAME
  * formulation as its standalone gate, so this certifies the
  * inter-stage column contracts and survivor accounting ON TOP of the
  * per-stage gates — the level where the round-14 hybrid rank-bound
  * class of bug lives:
  *
  *   raw markup → extract (TextAnalysis.extractHtml) → normalize
  *   (text_normalize kernel) → quality/langid/length filter → near-dup
  *   dedup, keep cluster-canonical (Dedup.ngramPairs +
  *   connectedComponents) → benchmark holdout + decontaminate
  *   (doc_curate's 4-gram machinery) → stratified sample
  *   (doc_sample_stratified's salted two-phase quota) → token packing
  *   (doc_pack's prefix-sum bins).
  *
  * The corpus is plain text, so the markup stage PLANTS the
  * text_extract scaffold on the md5(doc_id)-gated half — the
  * construct-the-signal pattern — and the DuckDB oracle recomputes the
  * ENTIRE chain from the same plant.
  *
  * Stage shapes at 100 TB: extraction + normalization are map work
  * plus one doc_id-keyed block reassembly (no corpus-wide shuffle);
  * the filter is per-row codegen; dedup candidates are df-capped
  * shingle blocks (never all-pairs) and the component labels are
  * O(near-dups); decontamination streams corpus grams against the
  * benchmark gram set (bench-sized, AQE-broadcast at scale);
  * sampling's window partitions are salt-bounded then quota-bounded;
  * packing's window partitions are quota-bounded by construction. The
  * normalized frame is pinned once (stagePin) — it feeds the filter,
  * both shingle sides, and the benchmark gram build, and its
  * regex-heavy extraction chain is the most expensive per-row work in
  * the pipeline; a production run lands this intermediate anyway.
  */
object CorpusPipeline {

  private val QualityFloor = 0.75
  private val Quota = 50
  private val BinBudget = 2048

  /** The chain's stage frames, in order; each is the survivor set
    * entering the next stage. Shared by the corpus gate and the
    * rejects-attribution twin so the two can never drift apart.
    * Returned keys: input, normalized (post-extract, post-normalize),
    * filtered, deduped, decontaminated, sampled, packed.
    */
  private[graft] def stages(s: SparkSession, d: String)
      : Seq[(String, DataFrame)] = {
    val docs = Tables.documents(s, d)
    // stage 0: plant the markup scaffold on the md5-gated half (the
    // text_extract construction, shared constants)
    val h = md5(col("doc_id").cast("string"))
    val t2 = when(substring(h, 1, 1).between("0", "7"),
      concat(lit(TextAnalysis.MarkupPre), col("text"),
        lit(TextAnalysis.MarkupPost))).otherwise(col("text"))
    val aug = docs.select(col("doc_id"), col("lang"), col("source"),
      t2.as("t2"))
    // stage 1: markup extraction (the shared extractHtml kernel), then
    // lang/source rejoined from the column-pruned scan (extractHtml
    // contracts to (doc_id, t2, ext))
    val ext = TextAnalysis.extractHtml(aug.select(col("doc_id"), col("t2")))
      .join(docs.select(col("doc_id"), col("lang"), col("source")),
        Seq("doc_id"))
    // stage 2: normalization (the SHARED text_normalize kernel) — docs
    // whose extraction came back empty leave the pipeline here
    val ntExpr = TextAnalysis.normalizeExpr(col("ext"))
    // Pinned: the regex-heavy extract+normalize chain feeds the filter,
    // BOTH dedup shingle sides, and the benchmark gram build — 2-3×
    // recomputed without the pin, and it IS the intermediate a
    // production run lands.
    val nrm = Layout.stagePin(
      ext.filter(length(col("ext")) > 0)
        .select(col("doc_id"), col("lang"), col("source"),
          ntExpr.as("nt")),
      "pipe_nrm")
    // stage 3: quality floor (shared text_quality kernel on the
    // normalized text), confident language ID (text_langid kernel),
    // and the gopher word-count rule
    val nt = col("nt")
    val nWords = size(split(nt, " "))
    val k1Cond = TextAnalysis.qualityScore(nt) >= QualityFloor &&
      TextAnalysis.predLang(nt) =!= "und" &&
      nWords.between(15, 10000)
    val k1 = nrm
      .filter(k1Cond)
      .select(col("doc_id"), col("lang"), col("source"), col("nt"),
        nWords.cast("long").as("n_tok"))
    // stage 4: near-dup dedup, keep the cluster-canonical (min-id)
    // member — banded df-capped candidates, never all-pairs
    val cc = Dedup.connectedComponents(
      Dedup.ngramPairs(k1.select(col("doc_id"), col("nt").as("text"))))
    // ONE audit pass over the normalized corpus: every nrm row with its
    // filter verdict and cluster-canonical verdict, the quality/langid
    // expression chain evaluated ONCE per row and the cc labels joined
    // ONCE. Both later stages (the decontamination gram stream and the
    // k3 survivor base) and the rejects gate's flag columns read THIS
    // frame — previously each consumer re-ran the k1 filter chain over
    // the nrm pin (measured 3× in pipeline_corpus, 6× in the rejects
    // twin). Lazy local checkpoint: no job at construction; the first
    // execution materializes it once and every other consumer reads the
    // stored blocks (plan truncation rides along — the rejects plan
    // carried 5 copies of this subtree).
    val audit = nrm
      .select(col("doc_id"), col("lang"), col("source"), col("nt"),
        nWords.cast("long").as("n_tok"),
        // NULL-safe: a NULL filter verdict is a drop (the oracle's NOT
        // IN (k1)), so the rejects audit's `!in_k1` never sees NULL
        coalesce(k1Cond, lit(false)).as("in_k1"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("nt"),
        col("n_tok"), col("in_k1"),
        (col("in_k1") && (col("cluster_id").isNull ||
          col("cluster_id") === col("doc_id"))).as("in_k2"))
      .localCheckpoint(false)
    val k2 = audit.filter(col("in_k2"))
      .select(col("doc_id"), col("lang"), col("source"), col("nt"),
        col("n_tok"))
    // stage 5: benchmark holdout + decontamination (doc_curate's 4-gram
    // machinery over the NORMALIZED text — the benchmark gram set
    // derives from ALL src0 docs post-normalize, not just survivors:
    // a benchmark is a fixed external artifact)
    val bench = nrm.filter(col("source") === "src0")
      .select(explode(array_distinct(Dedup.kgrams(col("nt"), 4))).as("g"))
      .select(xxhash64(col("g")).as("gh")).distinct()
    val corpus = k2.filter(col("source") =!= "src0")
    val cont = corpus
      .select(col("doc_id"), explode(Dedup.kgrams(col("nt"), 4)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      // unhinted: bench is corpus-derived — AQE broadcasts it at bench
      // scale, degrades to a shuffled join past broadcast size
      .join(bench, Seq("gh"))
      .select(col("doc_id")).distinct()
      // two consumers (k3's anti-join and the rejects gate's
      // contaminated flag) — lazily pinned so the gram join runs once
      .localCheckpoint(false)
    val k3 = corpus.join(cont, Seq("doc_id"), "left_anti")
    // stage 6: stratified sample — per-language quota in content-hash
    // order, the doc_sample_stratified two-phase salted take (stage-1
    // partitions are (lang, salt)-bounded, stage 2 ranks ≤ 16·quota)
    val hk = md5(col("doc_id").cast("string"))
    val wSalt = Window.partitionBy(col("lang"), col("salt"))
      .orderBy(col("h"), col("doc_id"))
    val cand = k3
      .withColumn("h", hk)
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(16)))
      .withColumn("r0", row_number().over(wSalt))
      .filter(col("r0") <= Quota)
      .drop("r0", "salt")
    val wLang = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    val k4 = cand.withColumn("rn", row_number().over(wLang))
      .filter(col("rn") <= Quota)
      .select(col("doc_id"), col("lang"), col("n_tok"))
    // stage 7: token packing — doc_pack's exclusive prefix sum ÷ budget.
    // A plain per-lang window is scale-safe HERE by construction: the
    // sample stage bounds every lang partition at Quota rows (doc_pack
    // itself runs the two-level block decomposition because its input
    // is corpus-sized).
    val wPack = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = k4
      .withColumn("prior", coalesce(sum(col("n_tok")).over(wPack), lit(0L)))
      .withColumn("bin_id", expr(s"prior div $BinBudget"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("bin_id"))
    Seq("input" -> docs, "normalized" -> nrm, "filtered" -> k1,
      "deduped" -> k2, "decontaminated" -> k3, "sampled" -> k4,
      "audit" -> audit, "cont" -> cont, "packed" -> packed)
  }

  /** The oracle's CTE chain — the ENTIRE pipeline restated in DuckDB
    * SQL, shared by both gates. Markup plant and every stage constant
    * are interpolated from the same definitions the Spark plan uses.
    */
  private def pipelineCtes: String =
    s"""WITH RECURSIVE
       |base AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
       |aug AS (SELECT d.doc_id, d.lang, d.source,
       |    CASE WHEN substr(b.h, 1, 1) BETWEEN '0' AND '7'
       |    THEN '${TextAnalysis.MarkupPre}' || d.text || '${TextAnalysis.MarkupPost}'
       |    ELSE d.text END AS t2
       |  FROM documents d JOIN base b USING (doc_id)),
       |ns AS (SELECT doc_id, t2,
       |    regexp_replace(regexp_replace(regexp_replace(t2,
       |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
       |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
       |      '(?s)<!--.*?-->', ' ', 'g') AS t3 FROM aug),
       |sp AS (SELECT doc_id,
       |    regexp_split_to_array(t3, '</?(p|div|li|h[1-6]|br)[^>]*>') AS arr
       |  FROM ns),
       |blk AS (SELECT doc_id, i, arr[i] AS blk
       |        FROM sp, unnest(range(1, len(arr) + 1)) u(i)),
       |sc AS (SELECT doc_id, i,
       |    trim(regexp_replace(regexp_replace(blk, '<[^>]*>', ' ', 'g'),
       |      ' +', ' ', 'g')) AS clean,
       |    coalesce(list_sum(list_transform(
       |      regexp_extract_all(blk, '<a[^>]*>([^<]*)</a>', 1),
       |      x -> len(x))), 0) AS alen
       |  FROM blk),
       |cat AS (SELECT doc_id, string_agg(clean, ' ' ORDER BY i) AS cat
       |        FROM sc WHERE len(clean) > 0 AND alen * 2 <= len(clean)
       |        GROUP BY doc_id),
       |ext AS (SELECT a.doc_id, a.lang, a.source,
       |    trim(regexp_replace(regexp_replace(regexp_replace(
       |      regexp_replace(coalesce(c.cat, ''),
       |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&amp;', '&', 'g'),
       |      ' +', ' ', 'g')) AS ex
       |  FROM aug a LEFT JOIN cat c USING (doc_id)),
       |nrm AS MATERIALIZED (SELECT doc_id, lang, source,
       |    trim(regexp_replace(regexp_replace(
       |      replace(replace(replace(lower(ex), 'é', 'e'), 'ö', 'o'), 'ñ', 'n'),
       |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
       |  FROM ext WHERE length(ex) > 0),
       |f AS MATERIALIZED (SELECT doc_id, lang, source, nt, n_words,
       |    (CASE WHEN n_words >= 20 THEN 1.0 ELSE CAST(n_words AS DOUBLE)/20 END)
       |      * (1.0 - CAST(n_punct AS DOUBLE)/n_chars)
       |      * (CASE WHEN CAST(n_stop AS DOUBLE)/n_words > 0.05 THEN 1.0 ELSE 0.5 END) AS q,
       |    CASE WHEN en_n >= es_n AND en_n >= de_n AND en_n*20 >= n_words THEN 'en'
       |         WHEN es_n > en_n AND es_n >= de_n AND es_n*20 >= n_words THEN 'es'
       |         WHEN de_n > en_n AND de_n > es_n AND de_n*20 >= n_words THEN 'de'
       |         ELSE 'und' END AS pred_lang
       |  FROM (SELECT doc_id, lang, source, nt,
       |      length(nt) AS n_chars,
       |      len(string_split(nt, ' ')) AS n_words,
       |      length(nt) - length(regexp_replace(nt, '[^a-z0-9 ]', '', 'g')) AS n_punct,
       |      len(list_filter(string_split(nt, ' '),
       |        w -> w IN ('the','a','of','and','in','to','is','it','on','for'))) AS n_stop,
       |      len(list_filter(string_split(nt, ' '),
       |        w -> w IN ('the','a','of','and','in'))) AS en_n,
       |      len(list_filter(string_split(nt, ' '),
       |        w -> w IN ('el','la','de','que','y'))) AS es_n,
       |      len(list_filter(string_split(nt, ' '),
       |        w -> w IN ('der','die','das','und','ist'))) AS de_n
       |    FROM nrm)),
       |k1 AS MATERIALIZED (SELECT doc_id, lang, source, nt, n_words FROM f
       |  WHERE q >= $QualityFloor AND pred_lang <> 'und'
       |    AND n_words BETWEEN 15 AND 10000),
       |w2 AS (SELECT doc_id, string_split(nt, ' ') AS ws FROM k1),
       |ex2 AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(
       |         range(1, greatest(len(ws) - 1, 1)),
       |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh FROM w2),
       |s AS MATERIALIZED (SELECT doc_id, sh FROM ex2
       |      WHERE sh IN (SELECT sh FROM ex2 GROUP BY sh HAVING count(*) <= 50)),
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
       |k2 AS MATERIALIZED (SELECT k1.* FROM k1 LEFT JOIN cl ON k1.doc_id = cl.doc_id
       |      WHERE cl.cluster_id IS NULL OR cl.cluster_id = k1.doc_id),
       |bw AS (SELECT string_split(nt, ' ') AS ws FROM nrm WHERE source = 'src0'),
       |bg AS (SELECT DISTINCT list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gk
       |       FROM bw, unnest(range(1, len(ws) - 2)) t(i)),
       |cw AS (SELECT doc_id, string_split(nt, ' ') AS ws FROM k2
       |       WHERE source <> 'src0'),
       |cg AS (SELECT DISTINCT doc_id, list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gk
       |       FROM cw, unnest(range(1, len(ws) - 2)) t(i)),
       |cont AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gk)),
       |k3 AS MATERIALIZED (SELECT * FROM k2 WHERE source <> 'src0'
       |      AND doc_id NOT IN (SELECT doc_id FROM cont)),
       |r AS (SELECT doc_id, lang, n_words,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM k3),
       |k4 AS MATERIALIZED (SELECT doc_id, lang, n_words FROM r WHERE rn <= $Quota),
       |c AS (SELECT doc_id, lang, n_words,
       |    coalesce(sum(n_words) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
       |  FROM k4)""".stripMargin

  // pipeline_rag constants + helpers: declared BEFORE `specs` — the
  // oracle builder runs during object init, and an object-body val
  // referencing a LATER val silently captures its zero default (the
  // FixedK lesson from round 13).
  private val EmbedDim = 8
  private val RagTopK = 20

  /** One fake-embedding component: md5(key) folded to a uniform in
    * [-0.5, 0.5) — integer md5 arithmetic then one exact double
    * division, so Scala, Spark and DuckDB all derive the identical
    * value (the md5-hex → BIGINT convention from Relational.scala).
    */
  private def embComp(fp: Column, j: Int): Column =
    (graft.functions.Md5Long.md5_prefix(concat(fp, lit(s":$j")), 15)
      % 1000003L).cast("double") / 1000003.0 - 0.5

  private def embCompSql(key: String, j: Int): String =
    s"(('0x' || substr(md5($key || ':$j'), 1, 15))::BIGINT % 1000003)" +
      s" / 1000003.0 - 0.5"

  private def mdComponent(key: String): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000003L)
      .toDouble / 1000003.0 - 0.5
  }

  /** The probe query's fake embedding — driver-side constants from
    * the SAME md5 arithmetic the oracle recomputes in SQL.
    */
  private val ProbeVec: IndexedSeq[Double] =
    (0 until EmbedDim).map(j => mdComponent(s"graftprobe:$j"))
  private val ProbeNorm: Double =
    math.sqrt(ProbeVec.map(x => x * x).reduce(_ + _))

  val specs: Seq[QuerySpec] = Seq(

    // The composed pipeline's OUTPUT: every surviving document with its
    // language stratum, token count, and packed bin — what lands in the
    // training corpus. See the object Scaladoc for the chain.
    QuerySpec(
      "pipeline_corpus",
      s"""$pipelineCtes
         |SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_tok,
         |  CAST(prior // $BinBudget AS BIGINT) AS bin_id
         |FROM c""".stripMargin) { (s, d) =>
      stages(s, d).last._2
    },

    // The pipeline's row-level drop audit: every document that did NOT
    // reach the packed corpus, labeled with the FIRST stage that
    // dropped it (compliance evidence: WHY is a document absent).
    // extract_empty is the structural guard for markup that reduces to
    // nothing — the planted scaffold always leaves a body, so the label
    // is reachable only on degenerate real-world input.
    QuerySpec(
      "pipeline_corpus_rejects",
      s"""$pipelineCtes
         |SELECT d.doc_id,
         |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM nrm) THEN 'extract_empty'
         |       WHEN d.doc_id NOT IN (SELECT doc_id FROM k1) THEN 'filter'
         |       WHEN d.doc_id NOT IN (SELECT doc_id FROM k2) THEN 'duplicate'
         |       WHEN d.source = 'src0' THEN 'holdout'
         |       WHEN d.doc_id NOT IN (SELECT doc_id FROM k3) THEN 'contaminated'
         |       ELSE 'sampled_out' END AS reason
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM k4)""".stripMargin) {
      (s, d) =>
      val st = stages(s, d).toMap
      // Single-pass flag audit (guide §1.2 step 1): the `audit` frame
      // carries in_k1/in_k2 from ONE evaluation of the filter chain and
      // ONE cc join (previously five per-stage flag joins re-ran the
      // whole post-nrm chain per flag — the quality/langid expressions
      // 4×, the decontamination gram join 2×). Only the sampled set
      // still joins as a presence flag: its window ranks derive from
      // the same audit frame via k3. Reason semantics are unchanged —
      // in_k1/in_k2 are booleans on nrm survivors (NULL only when the
      // doc never reached nrm, which the first branch catches), and a
      // k2-surviving doc is contaminated iff it is in `cont`.
      st("input")
        .select(col("doc_id"), col("source"))
        .join(st("audit").select(col("doc_id"), lit(true).as("in_nrm"),
          col("in_k1"), col("in_k2")), Seq("doc_id"), "left")
        .join(st("cont").select(col("doc_id"), lit(true).as("contam")),
          Seq("doc_id"), "left")
        .join(st("sampled").select(col("doc_id"), lit(true).as("in_k4")),
          Seq("doc_id"), "left")
        .filter(col("in_k4").isNull)
        .select(col("doc_id"),
          when(col("in_nrm").isNull, "extract_empty")
            .when(!col("in_k1"), "filter")
            .when(!col("in_k2"), "duplicate")
            .when(col("source") === "src0", "holdout")
            .when(col("contam").isNotNull, "contaminated")
            .otherwise("sampled_out").as("reason"))
    },

    // The RAG-ingest composition: chunk (doc_chunk_overlap's 64/48
    // windows, tail fragments < 16 tokens dropped) → EMBED → brute
    // cosine top-k for a probe query. The embed step is the
    // multimodal decode pattern at the text seam: a DETERMINISTIC
    // md5-derived fake (component j = md5(fp:j) folded to a uniform
    // in [-0.5, 0.5)) stands in for the encoder model — the chunking,
    // vector plumbing, scoring arithmetic and ranking are real and
    // oracle-able, and a production run swaps ONE select for a
    // mapInPandas/ONNX call. The serve is the brute baseline rung
    // (one scan, one bounded top_k aggregate — window-free); at corpus scale the
    // chunks land in the certified IVF/PQ/binary index family
    // instead — this gate certifies the chunk→vector→rank chain those
    // rungs consume. Cosine parity: components materialize once, dot
    // and norms are EXPLICIT 8-term + chains (identical fold order in
    // both engines), probe constants derive from the same md5
    // arithmetic driver-side, only the final quotient rounds (the
    // Relational.scala convention).
    QuerySpec("pipeline_rag", ragOracleSql) { (s, d) =>
      val w = split(col("text"), " ")
      val chunks = Tables.documents(s, d)
        .select(col("doc_id"), w.as("ws"))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(1), greatest(size(col("ws")), lit(1)),
            lit(48))).as("st"))
        .filter(least(lit(64), size(col("ws")) - col("st") + 1) >= 16)
        .select(col("doc_id"),
          ((col("st") - 1) / 48).cast("int").as("chunk_idx"),
          md5(array_join(slice(col("ws"), col("st"), lit(64)), " "))
            .as("fp"))
      val withE = chunks.select(col("doc_id") +: col("chunk_idx") +:
        (0 until EmbedDim).map(j => embComp(col("fp"), j).as(s"e$j")): _*)
      val dot = (0 until EmbedDim)
        .map(j => col(s"e$j") * lit(ProbeVec(j))).reduce(_ + _)
      val nv = (0 until EmbedDim)
        .map(j => col(s"e$j") * col(s"e$j")).reduce(_ + _)
      val sim = round(dot / (sqrt(nv) * lit(ProbeNorm)), 4)
      // window-free top-k via the bounded top_k aggregate (the ranksOf
      // convention): the composite id packs (doc_id, chunk_idx) so the
      // buffer's smaller-id tie-break IS the oracle's
      // (sim DESC, doc_id, chunk_idx) order
      // the pack needs chunk_idx < 2^20 (~50M whitespace tokens per
      // doc); overflow must FAIL, not silently attribute the chunk to
      // the next doc_id and corrupt the tie order
      val safeIdx = when(col("chunk_idx") < (1 << 20), col("chunk_idx"))
        .otherwise(raise_error(lit(
          "pipeline_rag: chunk_idx overflows the 20-bit (doc_id, chunk_idx) pack")))
      withE
        .select((shiftleft(col("doc_id"), 20) + safeIdx)
          .as("cid"), sim.as("sim"))
        .agg(graft.functions.TopKAgg.top_k(
          col("sim"), col("cid"), RagTopK).as("top"))
        .select(posexplode(col("top")).as(Seq("pos", "sc")))
        .select((col("pos") + 1).cast("long").as("rnk"),
          shiftright(col("sc.id"), 20).as("doc_id"),
          col("sc.id").bitwiseAND(lit((1L << 20) - 1)).cast("int")
            .as("chunk_idx"),
          col("sc.score").as("sim"))
    }
  )

  private def ragOracleSql: String = {
    val es = (0 until EmbedDim)
      .map(j => s"${embCompSql("fp", j)} AS e$j").mkString(",\n|        ")
    val qs = (0 until EmbedDim)
      .map(j => s"${embCompSql("'graftprobe'", j)} AS q$j")
      .mkString(",\n|             ")
    val dot = (0 until EmbedDim).map(j => s"e$j*q$j").mkString(" + ")
    val nv = (0 until EmbedDim).map(j => s"e$j*e$j").mkString(" + ")
    val nq = (0 until EmbedDim).map(j => s"q$j*q$j").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c AS (SELECT doc_id, CAST((s - 1) // 48 AS INT) AS chunk_idx,
       |        md5(list_aggregate(ws[s:s+63], 'string_agg', ' ')) AS fp
       |      FROM w, unnest(range(1, len(ws) + 1, 48)) t(s)
       |      WHERE least(64, len(ws) - s + 1) >= 16),
       |e AS (SELECT doc_id, chunk_idx,
       |        $es
       |      FROM c),
       |q AS (SELECT $qs),
       |sc AS (SELECT doc_id, chunk_idx,
       |        round(($dot) / (sqrt($nv) * sqrt($nq)), 4) AS sim
       |      FROM e, q)
       |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, chunk_idx, sim FROM (
       |  SELECT doc_id, chunk_idx, sim,
       |    row_number() OVER (ORDER BY sim DESC, doc_id, chunk_idx) AS rnk
       |  FROM sc)
       |WHERE rnk <= $RagTopK""".stripMargin
  }
}
