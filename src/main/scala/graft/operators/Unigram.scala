package graft.operators

import graft.{QuerySpec, Tables}
import graft.index.Fixture
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer (the SentencePiece-unigram shape, Kudo 2018)
  * next to [[Bpe]] — the second tokenizer family real pipelines
  * compare against. Where BPE grows a vocabulary bottom-up by greedy
  * pair merges, unigram starts from an over-complete substring seed
  * and EM-PRUNES it: score pieces by corpus likelihood, Viterbi-segment
  * every word under the current scores, re-estimate scores from the
  * segmentation usage, and drop pieces the best paths never use.
  * Apply is Viterbi segmentation under the frozen final scores.
  *
  * This implementation is HARD EM (Viterbi E-step — usage counted
  * from the single best path, not forward-backward expectations): a
  * standard variant that keeps every statistic integer-exact and lets
  * the DuckDB oracle replay the whole learn bit-for-bit. The only
  * floats are the piece scores, round(ln(eu / total), 6) — the
  * text_unigram_logprob convention: both engines ln() the SAME exact
  * rational, and the 6-dp round absorbs last-ulp libm drift, so the
  * Viterbi argmax compares identical doubles on both sides. DP
  * tie-break is pinned: candidate split points j ascend, first
  * maximum wins (= the LONGEST final piece on ties).
  *
  * Scale shape (the [[Bpe]] argument, stronger): the learn runs
  * ENTIRELY on the word-frequency frame — corpus-size-independent
  * once words are counted. Viterbi is pure in-row expression work
  * (one `aggregate` fold over the word's positions; no UDF, no
  * shuffle), the usage re-estimate is one piece-keyed aggregate, and
  * the only driver collects are the vocabulary score maps — bounded
  * by SeedSize + |alphabet|, constants by construction (the bounded-K
  * collect class). Apply = one wordseg join per corpus, the
  * [[Bpe.meter]] shape.
  */
object Unigram {

  /** Longest candidate piece. Production tokenizers use 8–16; the
    * gate pins the machinery, the constant is a knob.
    */
  val MaxPieceLen = 4

  /** Multi-char seed pieces kept for EM (top by weighted count).
    * Production: 10⁵–10⁶ seeds pruned toward 32k — same aggregates,
    * bigger constant; the score-map collect grows with THIS knob,
    * never the corpus.
    */
  val SeedSize = 64

  /** Hard-EM rounds (each = one Viterbi segmentation of the word
    * frame + one usage re-estimate + prune).
    */
  val EmRounds = 2

  /** Score of a piece absent from the vocabulary — never on a best
    * path while single-char coverage exists.
    */
  private val Floor = -1e9

  /** Per-language unigram-token budget of `doc_token_budget_unigram`. */
  val Budget = 8000L

  private def wordFreq(docs: DataFrame): DataFrame =
    Par.fanOut(docs)
      .select(explode(filter(split(col("text"), " "), w => w =!= ""))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Every substring of `w` with length 1..MaxPieceLen, one entry per
    * occurrence (start position) — the over-complete seed inventory.
    */
  private def subPieces(w: Column): Column =
    flatten(transform(
      filter(sequence(lit(1), lit(MaxPieceLen)), l => l <= length(w)),
      l => transform(sequence(lit(1), length(w) - l + 1),
        p => w.substr(p, l))))

  /** Viterbi forward pass over one word under score map `m`:
    * struct(bests: array<double>, bps: array<int>) with
    * bests(i) = best path log-prob of the first i chars,
    * bps(i) = that path's last split point. Split candidates j ascend
    * and the FIRST maximum wins — the pinned tie-break.
    */
  private def viterbiState(w: Column, m: Column): Column =
    aggregate(sequence(lit(1), length(w)),
      struct(array(lit(0.0)).as("bests"),
        array(lit(0)).as("bps")),
      (st, i) => {
        val lo = greatest(lit(0), i - MaxPieceLen)
        val scores = transform(sequence(lo, i - 1), j =>
          element_at(st.getField("bests"), j + 1) +
            coalesce(try_element_at(m, w.substr(j + 1, i - j)),
              lit(Floor)))
        val smax = array_max(scores)
        val jstar = (lo + array_position(scores, smax) - 1).cast("int")
        struct(
          concat(st.getField("bests"), array(smax)).as("bests"),
          concat(st.getField("bps"), array(jstar)).as("bps"))
      })

  /** The best path's pieces (reverse order — consumers count or
    * explode, never order): walk the backpointers length(w) times
    * (extra steps idle at position 0, keeping the fold
    * constant-shape).
    */
  private[graft] def viterbiPieces(w: Column, m: Column): Column = {
    val bps = viterbiState(w, m).getField("bps")
    aggregate(sequence(lit(1), length(w)),
      struct(length(w).as("pos"),
        typedlit(Seq.empty[String]).as("pieces")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val prev = element_at(bps, pos + 1)
        when(pos > 0,
          struct(prev.as("pos"),
            concat(acc.getField("pieces"),
              array(w.substr(prev + 1, pos - prev))).as("pieces")))
          .otherwise(acc)
      }).getField("pieces")
  }

  /** One score re-estimate: keep pieces the segmentation used (single
    * chars always survive, floored at count 1 — coverage must never
    * die), score = round(ln(eu / Σeu), 6).
    */
  private def rescore(vocabUsage: DataFrame): DataFrame = {
    val kept = vocabUsage
      .filter(length(col("piece")) === 1 || col("usage") > 0)
      .withColumn("eu",
        when(length(col("piece")) === 1, greatest(col("usage"), lit(1L)))
          .otherwise(col("usage")))
    val tot = kept.agg(sum(col("eu"))).head().getLong(0)
    kept.select(col("piece"), col("usage"),
      round(log(col("eu").cast("double") / tot.toDouble), 6).as("score"))
  }

  /** The vocabulary score map as a literal column — driver collect
    * bounded by SeedSize + |alphabet| (constants by construction).
    */
  private def scoreMap(scores: DataFrame): Column =
    typedlit(scores.select(col("piece"), col("score"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)

  /** The full hard-EM learn: returns the final (piece, score, usage)
    * model frame, the final per-word segmentation frame
    * (word, freq, n_pieces), and the prune curve — per EM round,
    * (rank, vocab_size, total corpus tokens when segmenting under that
    * round's scores), the unigram twin of [[Bpe.learnWithCurve]]'s
    * merge-gain curve. The curve is measured off statistics the learn
    * already materializes: round r's total is the SAME usage aggregate
    * the re-estimate consumes (Σ usage = Σ freq·n_pieces), so the
    * readout costs one extra one-row aggregate per round, the bounded
    * collect class.
    */
  private[graft] def learnModel(docs: DataFrame)
      : (DataFrame, DataFrame, Seq[(Int, Long, Long)]) = {
    val s = docs.sparkSession
    val wf = Layout.stagePin(wordFreq(docs), "uni_wf")
    val cand = wf
      .select(col("freq"), explode(subPieces(col("word"))).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
    val chars = cand.filter(length(col("piece")) === 1)
    val multi = cand.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc).limit(SeedSize)
    val v0 = chars.unionByName(multi)
      .select(col("piece"), col("cnt").as("usage"),
        col("cnt").as("eu"))
    val tot0 = v0.agg(sum(col("eu"))).head().getLong(0)
    var scores = v0.select(col("piece"), col("usage"),
      round(log(col("eu").cast("double") / tot0.toDouble), 6).as("score"))
    val curve = Seq.newBuilder[(Int, Long, Long)]
    for (r <- 1 to EmRounds) {
      val m = scoreMap(scores)
      // localCheckpoint: the usage frame (≤ vocab rows) feeds BOTH the
      // curve total and the rescore join — unpinned, each consumer
      // re-runs the Viterbi explode over the word frame
      val usage = wf
        .select(col("freq"),
          explode(viterbiPieces(col("word"), m)).as("piece"))
        .groupBy("piece").agg(sum("freq").as("usage"))
        .localCheckpoint()
      curve += ((r - 1, scores.count(),
        usage.agg(sum(col("usage"))).head().getLong(0)))
      scores = rescore(
        scores.select(col("piece"))
          .join(usage, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("usage"), lit(0L))
            .as("usage")))
    }
    val mFinal = scoreMap(scores)
    val wordseg = wf.select(col("word"), col("freq"),
      size(viterbiPieces(col("word"), mFinal)).cast("long")
        .as("n_pieces"))
      .localCheckpoint()
    curve += ((EmRounds, scores.count(),
      wordseg.agg(sum(col("freq") * col("n_pieces"))).head().getLong(0)))
    (scores.select(col("piece"), col("score"), col("usage")), wordseg,
      curve.result())
  }

  /** Build-if-absent the persisted model for `d`: `pieces/`
    * (piece, score, usage) and `wordseg/` (word, freq, n_pieces)
    * parquet dirs under the stage-and-publish convention —
    * [[Bpe.ensureBpeModel]]'s contract for the unigram family.
    */
  def ensureUnigramModel(s: SparkSession, d: String): String =
    ensureModel(s, d, "graft_unigram_model", identity)

  /** The model trained on the HISTORY wave only (doc_id % 5 ≠ 4) —
    * the frozen-tokenizer fixture `text_unigram_oov` meters the
    * incoming wave against, [[Bpe.ensureHistoryBpeModel]]'s contract
    * for the unigram family.
    */
  def ensureHistoryUnigramModel(s: SparkSession, d: String): String =
    ensureModel(s, d, "graft_unigram_hist",
      _.filter(col("doc_id") % 5 =!= 4))

  private def ensureModel(s: SparkSession, d: String, name: String,
      slice: DataFrame => DataFrame): String = {
    val root = new org.apache.hadoop.fs.Path(Fixture.root(s, d, name))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.ensurePublishedDir(s, root.toString)(r =>
      Seq("pieces", "wordseg", "curve").forall(side => fs.exists(
        new org.apache.hadoop.fs.Path(r, side + "/_SUCCESS")))
    ) { staging =>
      val (pieces, wordseg, curve) =
        learnModel(slice(Tables.documents(s, d)))
      import s.implicits._
      pieces.coalesce(1).write.parquet(s"$staging/pieces")
      wordseg.write.parquet(s"$staging/wordseg")
      curve.toDF("rank", "vocab_size", "total_tokens")
        .coalesce(1).write.parquet(s"$staging/curve")
    }
  }

  /** One ledgered tokenizer VERSION for the unigram family: an honest
    * re-fit on `slice` landed as full-state commit `commitId` (seed
    * when 0) under the family-generic [[graft.index.ModelLedger]]
    * dialect — [[Bpe.ensureLedgeredBpeModel]]'s contract. Spec-gated
    * rather than value-gated: the per-horizon oracle would be the
    * recursive-DP learn chain × horizons (see PLANS.md); the version
    * states themselves are pinned frame-identical to the
    * overwrite-published fits in `UnigramSpec`.
    */
  def commitUnigramVersion(s: SparkSession, slice: DataFrame,
      root: String, commitId: Long): Boolean = {
    val (pieces, wordseg, curve) = learnModel(slice)
    import s.implicits._
    val sides = Seq(
      "pieces" -> pieces.coalesce(1),
      "wordseg" -> wordseg,
      "curve" -> curve.toDF("rank", "vocab_size", "total_tokens")
        .coalesce(1))
    if (commitId == 0L) {
      graft.index.ModelLedger.initSeed(root, sides); true
    } else graft.index.ModelLedger.commitVersion(root, commitId, sides)
  }

  /** The wordseg side served at a ledger horizon — what [[meter]]
    * joins; honesty guards are the ModelLedger's.
    */
  def wordsegAsOf(s: SparkSession, root: String, asOf: Long): DataFrame =
    graft.index.ModelLedger.readSideAsOf(s, root, "wordseg", asOf)

  /** Per-doc unigram token meter against a (word, n_pieces) frame —
    * the [[Bpe.meter]] shape: explode → wordseg join → one doc_id
    * aggregate; out-of-vocabulary words (new text against a frozen
    * model) fall back to char count. Unhinted: the wordseg side is
    * scale-growing, the planner's size check owns the broadcast.
    */
  def meter(docs: DataFrame, wordseg: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), w => w =!= "")).as("word"))
      .join(wordseg.select(col("word"), col("n_pieces")),
        Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_pieces"), length(col("word")).cast("long")))
          .as("unigram_tokens"))

  // ---------------------------------------------------------------
  // Oracle SQL: the whole hard-EM learn unrolled as chained CTEs.
  // The Viterbi DP is a recursive CTE carrying the growing
  // (bests, bps) lists, with the per-(word, position) candidate
  // score LISTS precomputed by a join (not a map lookup) and every
  // reused stage MATERIALIZED — DuckDB otherwise re-executes the
  // chain per reference, ~7× at the third DP block.
  // ---------------------------------------------------------------

  /** One Viterbi block (ps/dp/fin/wb/seg) under score CTE `scoreCte`. */
  private def dpSql(n: Int, scoreCte: String): String = {
    val scores = s"list_transform(range(0, len(p.scs)), k -> " +
      s"d.bests[greatest(0, d.i+1-$MaxPieceLen) + k + 1] + p.scs[k+1])"
    s"""ps$n AS MATERIALIZED (
       |  SELECT word, i, list(coalesce(s.score, -1e9) ORDER BY j) AS scs
       |  FROM (SELECT word, i, j, substr(word, j+1, i-j) AS piece
       |        FROM wf, unnest(range(1, len(word)+1)) ti(i),
       |             unnest(range(greatest(0, i-$MaxPieceLen), i)) tj(j)) q
       |  LEFT JOIN $scoreCte s USING (piece)
       |  GROUP BY word, i),
       |dp$n AS (
       |  SELECT word, 0 AS i, [CAST(0.0 AS DOUBLE)] AS bests,
       |         [0]::INT[] AS bps FROM wf
       |  UNION ALL
       |  SELECT d.word, d.i+1,
       |    list_append(d.bests, list_max($scores)),
       |    list_append(d.bps, CAST(greatest(0, d.i+1-$MaxPieceLen)
       |      + list_position($scores, list_max($scores)) - 1 AS INT))
       |  FROM dp$n d JOIN ps$n p ON p.word = d.word AND p.i = d.i+1
       |),
       |fin$n AS (SELECT word, bps FROM dp$n WHERE i = len(word)),
       |wb$n AS (
       |  SELECT word, bps, len(word) AS pos, []::VARCHAR[] AS pieces
       |  FROM fin$n
       |  UNION ALL
       |  SELECT word, bps, bps[pos+1],
       |    list_append(pieces, substr(word, bps[pos+1]+1, pos - bps[pos+1]))
       |  FROM wb$n WHERE pos > 0
       |),
       |seg$n AS MATERIALIZED (SELECT word, pieces FROM wb$n
       |                       WHERE pos = 0)""".stripMargin
  }

  /** The learn chain: wf → seed scores s0 → EmRounds × (DP block +
    * usage + prune + rescore) → s<EmRounds>(piece, usage, score).
    */
  private def learnSql: String = learnSqlOver("")

  private def learnSqlOver(docWhere: String): String = {
    val b = new StringBuilder
    b ++= s"""WITH RECURSIVE wf AS MATERIALIZED (
      |  SELECT w AS word, count(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w
      |        FROM documents$docWhere)
      |  WHERE w <> '' GROUP BY w),
      |cand AS (
      |  SELECT substr(word, p, L) AS piece, sum(freq) AS cnt
      |  FROM wf, unnest(range(1, $MaxPieceLen+1)) tl(L),
      |       unnest(range(1, len(word)+2-L)) tp(p)
      |  WHERE L <= len(word) GROUP BY 1),
      |chars AS (SELECT piece, cnt FROM cand WHERE len(piece) = 1),
      |multi AS (SELECT piece, cnt FROM cand WHERE len(piece) > 1
      |          ORDER BY cnt DESC, piece LIMIT $SeedSize),
      |v0 AS (SELECT piece, cnt AS eu FROM chars
      |       UNION ALL SELECT piece, cnt FROM multi),
      |s0 AS MATERIALIZED (SELECT piece,
      |  round(ln(CAST(eu AS DOUBLE) / (SELECT sum(eu) FROM v0)), 6)
      |    AS score FROM v0)""".stripMargin
    var prev = "s0"
    for (r <- 1 to EmRounds) {
      b ++= ",\n" + dpSql(r, prev)
      b ++= s""",
        |u$r AS (
        |  SELECT piece, sum(freq) AS usage
        |  FROM (SELECT word, unnest(pieces) AS piece FROM seg$r)
        |  JOIN wf USING (word)
        |  GROUP BY piece),
        |k$r AS (
        |  SELECT p.piece, coalesce(u.usage, 0) AS usage,
        |    CASE WHEN len(p.piece) = 1
        |         THEN greatest(coalesce(u.usage, 0), 1)
        |         ELSE coalesce(u.usage, 0) END AS eu
        |  FROM $prev p LEFT JOIN u$r u USING (piece)
        |  WHERE len(p.piece) = 1 OR coalesce(u.usage, 0) > 0),
        |s$r AS MATERIALIZED (SELECT piece, usage,
        |    round(ln(CAST(eu AS DOUBLE) / (SELECT sum(eu) FROM k$r)), 6)
        |      AS score
        |  FROM k$r)""".stripMargin
      prev = s"s$r"
    }
    b.toString
  }

  /** Apply tail: final-score DP over the word frame → per-word piece
    * counts → per-doc token stream.
    */
  private def applySql: String =
    ",\n" + dpSql(EmRounds + 1, s"s$EmRounds") + s""",
      |np AS MATERIALIZED (SELECT word, len(pieces) AS n_pieces
      |                    FROM seg${EmRounds + 1}),
      |dw AS (SELECT doc_id, w AS word
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE w <> '')""".stripMargin

  /** [[applySql]]'s incoming-wave variant: the wave's token stream
    * with `lang` carried, metered against whatever (history-frozen)
    * learn chain precedes it — wave words absent from the history
    * word frame get NO np row and pay the char fallback, exactly the
    * frozen-tokenizer semantics.
    */
  private def applyWaveSql: String =
    ",\n" + dpSql(EmRounds + 1, s"s$EmRounds") + s""",
      |np AS MATERIALIZED (SELECT word, len(pieces) AS n_pieces
      |                    FROM seg${EmRounds + 1}),
      |dw AS (SELECT lang, w AS word
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
      |        FROM documents WHERE doc_id % 5 = 4)
      |  WHERE w <> '')""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // The EM-pruned vocabulary itself, value-gated: every surviving
    // piece with its final usage and 6-dp score. Gating the MODEL (not
    // just the counts it induces) pins seed selection, both EM rounds'
    // Viterbi tie-breaks, the prune rule and the rescore arithmetic.
    QuerySpec(
      "text_unigram_vocab",
      learnSql + s"""
        |SELECT piece, score, CAST(usage AS BIGINT) AS usage
        |FROM s$EmRounds""".stripMargin) { (s, d) =>
      s.read.parquet(ensureUnigramModel(s, d) + "/pieces")
        .select(col("piece"), col("score"), col("usage"))
    },

    // The EM-prune curve — the unigram twin of text_bpe_curve: per EM
    // round, the vocabulary size and the corpus token total when
    // segmenting under that round's scores. The readout a tokenizer
    // build uses to size the seed and the prune schedule (stop when
    // the curve flattens). Served from the persisted model (the curve
    // is measured during the checkpointed learn off statistics the
    // EM already materializes — one extra one-row aggregate per
    // round); the oracle replays the whole learn and re-measures each
    // round's segmentation.
    QuerySpec(
      "text_unigram_curve",
      learnSql + ",\n" + dpSql(EmRounds + 1, s"s$EmRounds") + s"""
        |${(0 to EmRounds).map { r =>
          s"""SELECT $r AS rank,
             |  CAST((SELECT count(*) FROM s$r) AS BIGINT) AS vocab_size,
             |  (SELECT CAST(sum(freq * len(pieces)) AS BIGINT)
             |   FROM seg${r + 1} JOIN wf USING (word)) AS total_tokens"""
            .stripMargin
        }.mkString("\nUNION ALL\n")}""".stripMargin) { (s, d) =>
      s.read.parquet(ensureUnigramModel(s, d) + "/curve")
        .select(col("rank"), col("vocab_size"), col("total_tokens"))
    },

    // Per-doc unigram token meter: n_words alongside unigram_tokens —
    // the Viterbi-segmented subword count under the frozen model, the
    // number a training pipeline budgets in once the tokenizer family
    // is unigram instead of BPE.
    QuerySpec(
      "text_unigram_tokens",
      learnSql + applySql + """
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(coalesce(n_pieces, length(word))) AS BIGINT)
        |    AS unigram_tokens
        |FROM dw LEFT JOIN np USING (word) GROUP BY doc_id"""
        .stripMargin) { (s, d) =>
      meter(Tables.documents(s, d),
        s.read.parquet(ensureUnigramModel(s, d) + "/wordseg"))
    },

    // Tokenizer-drift alarm for the unigram family — text_oov_rate's
    // contract with the model swapped: the incoming wave (doc_id % 5
    // = 4) metered against the unigram model FROZEN on history, per
    // language: wave tokens missing the frozen word frame (paying the
    // char fallback) and the wave's cost in frozen-tokenizer units.
    // With this both tokenizer families carry the retraining signal.
    QuerySpec(
      "text_unigram_oov",
      learnSqlOver(" WHERE doc_id % 5 <> 4") + applyWaveSql + """
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN n_pieces IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(sum(CASE WHEN n_pieces IS NULL THEN 1 ELSE 0 END)
        |        AS DOUBLE) / count(*), 6) + 0 AS oov_rate,
        |  CAST(sum(coalesce(n_pieces, length(word))) AS BIGINT)
        |    AS unigram_tokens
        |FROM dw LEFT JOIN np USING (word) GROUP BY lang"""
        .stripMargin) { (s, d) =>
      val ws = s.read
        .parquet(ensureHistoryUnigramModel(s, d) + "/wordseg")
        .select(col("word"), col("n_pieces"))
      Tables.documents(s, d)
        .filter(col("doc_id") % 5 === 4)
        .select(col("lang"),
          explode(filter(split(col("text"), " "), w => w =!= ""))
            .as("word"))
        .join(ws, Seq("word"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("n_pieces").isNull, 1L).otherwise(0L)).as("n_oov"),
          (round(sum(when(col("n_pieces").isNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6) + 0.0).as("oov_rate"),
          sum(coalesce(col("n_pieces"), length(col("word")).cast("long")))
            .as("unigram_tokens"))
    },

    // doc_token_budget re-metered in unigram tokens — the
    // doc_token_budget_bpe contract with the meter swapped: per
    // language, best quality first until the subword budget fills,
    // via the same quantile-range-partitioned prefix sum (no
    // per-language window).
    QuerySpec(
      "doc_token_budget_unigram",
      learnSql + applySql + s""",
        |ct AS (SELECT doc_id, sum(coalesce(n_pieces, length(word))) AS n_tok
        |       FROM dw LEFT JOIN np USING (word) GROUP BY doc_id),
        |qs AS (SELECT doc_id, lang,
        |    round((CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1.0
        |           ELSE CAST(len(string_split(text, ' ')) AS DOUBLE)/20 END)
        |      * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)/length(text))
        |      * (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |             w -> w IN ('the','a','of','and','in','to','is','it','on','for'))) AS DOUBLE)
        |             / len(string_split(text, ' ')) > 0.05 THEN 1.0 ELSE 0.5 END), 4) AS q
        |  FROM documents),
        |c AS (SELECT qs.doc_id, qs.lang, ct.n_tok,
        |    coalesce(sum(ct.n_tok) OVER (PARTITION BY lang
        |      ORDER BY q DESC, qs.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM qs JOIN ct ON qs.doc_id = ct.doc_id)
        |SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok
        |FROM c WHERE prior < $Budget""".stripMargin) { (s, d) =>
      val counts = meter(Tables.documents(s, d),
        s.read.parquet(ensureUnigramModel(s, d) + "/wordseg"))
        .select(col("doc_id"), col("unigram_tokens").as("n_tok"))
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          (round(TextAnalysis.qualityScore(col("text")), 4) * -1).as("ord"))
        .join(counts, "doc_id")
      Curation.rangedPrefixSum(t, Seq("lang"), Seq("ord", "doc_id"),
          "n_tok", "prior")
        .filter(col("prior") < Budget)
        .select(col("doc_id"), col("lang"), col("n_tok"))
    }
  )
}
