package graft.operators

import graft.{QuerySpec, Tables}
import graft.index.Fixture
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer,
  * Devlin et al. 2019) — the third gated tokenizer family next to BPE
  * (`Bpe`) and unigram-LM (`Unigram`), with the same
  * learn → persist → serve lifecycle and publish convention.
  *
  * LEARN differs from BPE in exactly one place: the merge election
  * maximizes the likelihood GAIN `count(ab) / (count(a)·count(b))`
  * instead of the raw pair count, so rare-but-cohesive pairs win over
  * merely frequent ones. The gate's election score is the
  * integer-exact surrogate `(cnt·10¹²) DIV (cnt_a·cnt_b)` — a
  * quantized monotone transform both engines compute identically
  * (floor division of non-negative BIGINTs), per the cross-engine
  * parity convention; production uses log-space floats. Non-initial
  * symbols carry the `##` continuation prefix from the first
  * character split on, and a merge concatenates `a + b-minus-##`.
  * Everything else — the word-frequency learning frame, the framed
  * one-pass `replace` rewrite, the sentinel election on pair
  * exhaustion, the bounded one-row collect per round — is `Bpe`'s
  * machinery verbatim (see its scaladoc for the 100-TB story: each
  * round is one vocabulary-sized aggregate + a TakeOrdered argmax,
  * never a corpus pass).
  *
  * SERVE is the WordPiece signature and is NOT the learn segmentation
  * replayed: greedy LONGEST-MATCH-FIRST against the frozen piece
  * vocabulary (initial pieces at position 1, `##`-pieces after),
  * falling back to a single `[UNK]` when no piece matches — the exact
  * BERT runtime algorithm. It runs as ONE in-row `aggregate` fold per
  * word over its character positions (state = position, piece count,
  * piece string): no UDF, no joins, constant expression tree. The
  * piece vocabulary rides into the fold as array literals via a
  * bounded driver collect — |alphabet|·2 + `Rounds` entries, a
  * CONSTANT by construction (unlike the corpus-growing BPE word-vocab
  * frame, which is why BPE's meter joins while WordPiece's matcher
  * folds).
  */
object WordPiece {

  /** Merge rounds — same knob and same bounded-round argument as
    * [[Bpe.Rounds]].
    */
  val Rounds = 8

  /** Integer score scale for the likelihood-gain surrogate. Bounds at
    * the gate: cnt ≤ corpus tokens (~10⁶), cnt_a·cnt_b ≤ 10¹², so
    * cnt·10¹² ≤ 10¹⁸ < 2⁶³. At web scale the election runs in
    * log-space floats; the integer surrogate is the gate's
    * cross-engine exactness device.
    */
  val ScoreScale = 1000000000000L

  /** Per-language WordPiece-token budget of
    * `doc_token_budget_wordpiece` (the [[Bpe.Budget]] analogue).
    */
  val Budget = 8000L

  /** Elected when a round has no pairs left (same device as
    * [[Bpe.Sentinel]]): control characters cannot appear in text, so
    * the framed replace of the sentinel is a no-op.
    */
  private[graft] val Sentinel = "\u0001 \u0001"

  /** Word-frequency frame with the initial WordPiece segmentation:
    * first character bare, every later character `##`-prefixed, all
    * space-framed so one framed `replace` rewrites any adjacent pair.
    */
  private def initVocab(docs: DataFrame): DataFrame =
    Par.fanOut(docs)
      .select(explode(filter(split(col("text"), " "), w => w =!= ""))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("seq",
        concat(lit(" "), substring(col("word"), 1, 1),
          regexp_replace(expr("substring(word, 2)"), "(.)", " ##$1"),
          lit(" ")))

  /** The merged symbol of an elected pair: left + right-minus-`##`
    * (space dropped); the space-only fallback also normalizes the
    * sentinel, whose halves carry no `##`.
    */
  private def mergedOf(pair: String): String =
    pair.replace(" ##", "").replace(" ", "")

  /** One round's scored pair frame: adjacent-pair counts joined with
    * both member symbols' occurrence counts, scored by the integer
    * likelihood-gain surrogate.
    */
  private def scoredPairs(vocab: DataFrame): DataFrame = {
    val syms = split(trim(col("seq")), " ")
    val symCounts = vocab
      .select(col("freq"), explode(syms).as("sym"))
      .groupBy("sym").agg(sum("freq").as("c"))
    val pairs = vocab
      .select(col("freq"),
        explode(zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("freq").as("cnt"))
    pairs
      .join(symCounts.select(col("sym").as("a"), col("c").as("ca")), "a")
      .join(symCounts.select(col("sym").as("b"), col("c").as("cb")), "b")
      .select(concat(col("a"), lit(" "), col("b")).as("pair"),
        expr(s"(cnt * ${ScoreScale}L) DIV (ca * cb)").as("score"))
  }

  /** Greedy likelihood-gain merge learn: the `rounds` winning
    * (pair, score) elections in order plus the piece vocabulary
    * (distinct initial symbols ∪ merged symbols — the frozen matcher
    * alphabet). One-row driver collect per round, as in [[Bpe.learn]].
    */
  private[graft] def learn(docs: DataFrame,
      rounds: Int): (Seq[(String, Long)], Seq[String]) = {
    val base = initVocab(docs).persist()
    var vocab = base
    val merges = Seq.newBuilder[(String, Long)]
    val sentinelRow = docs.sparkSession.range(1)
      .select(lit(Sentinel).as("pair"), lit(-1L).as("score"))
    for (_ <- 1 to rounds) {
      val bestRow = scoredPairs(vocab)
        .unionByName(sentinelRow)
        .orderBy(col("score").desc, col("pair").asc)
        .limit(1)
        .head()
      val best = bestRow.getString(0)
      merges += ((best, bestRow.getLong(1)))
      vocab = vocab.withColumn("seq",
        replace(col("seq"), lit(s" $best "), lit(s" ${mergedOf(best)} ")))
    }
    val initial = base
      .select(explode(split(trim(col("seq")), " ")).as("piece"))
      .distinct()
      .collect().map(_.getString(0)).toSeq
    base.unpersist()
    val pieces = (initial ++ merges.result().map(m => mergedOf(m._1)))
      .distinct.sorted
    (merges.result(), pieces)
  }

  /** Build-if-absent the persisted model for `d` (the [[Bpe]] publish
    * convention): `merges/` (rank, pair, merged, score) and `pieces/`
    * (piece) parquet dirs, staged and published atomically.
    */
  def ensureWordPieceModel(s: SparkSession, d: String): String = {
    val root = new org.apache.hadoop.fs.Path(Fixture.root(s, d, "graft_wp_model"))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.ensurePublishedDir(s, root.toString)(r =>
      Seq("merges", "pieces").forall(side => fs.exists(
        new org.apache.hadoop.fs.Path(r, side + "/_SUCCESS")))
    ) { staging =>
      val (merges, pieces) = learn(Tables.documents(s, d), Rounds)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((p, sc), i) => (i + 1, p, mergedOf(p), sc) }
        .toDF("rank", "pair", "merged", "score")
        .coalesce(1)
        .write.parquet(s"$staging/merges")
      pieces.toDF("piece")
        .coalesce(1)
        .write.parquet(s"$staging/pieces")
    }
    root.toString
  }

  /** One ledgered tokenizer VERSION for the WordPiece family: an
    * honest re-fit on `slice` landed as full-state commit `commitId`
    * (seed when 0) under [[graft.index.ModelLedger]] —
    * [[Bpe.ensureLedgeredBpeModel]]'s contract, spec-gated like the
    * unigram family (the likelihood-merge oracle × horizons is the
    * expensive MATERIALIZED chain; see PLANS.md).
    */
  def commitWordPieceVersion(s: SparkSession, slice: DataFrame,
      root: String, commitId: Long): Boolean = {
    val (merges, pieces) = learn(slice, Rounds)
    import s.implicits._
    val sides = Seq(
      "merges" -> merges.zipWithIndex
        .map { case ((p, sc), i) => (i + 1, p, mergedOf(p), sc) }
        .toDF("rank", "pair", "merged", "score").coalesce(1),
      "pieces" -> pieces.toDF("piece").coalesce(1))
    if (commitId == 0L) {
      graft.index.ModelLedger.initSeed(root, sides); true
    } else graft.index.ModelLedger.commitVersion(root, commitId, sides)
  }

  /** The piece vocabulary served at a ledger horizon — the bounded
    * driver-side list [[segment]] consumes; honesty guards are the
    * ModelLedger's.
    */
  def piecesAsOf(s: SparkSession, root: String, asOf: Long): Seq[String] =
    graft.index.ModelLedger.readSideAsOf(s, root, "pieces", asOf)
      .collect().map(_.getString(0)).toSeq.sorted

  /** The persisted piece vocabulary, as a bounded driver-side list
    * (|alphabet|·2 + Rounds entries — constant by construction, the
    * documented pushdown-convention collect class).
    */
  def modelPieces(s: SparkSession, root: String): Seq[String] =
    s.read.parquet(s"$root/pieces")
      .collect().map(_.getString(0)).toSeq.sorted

  /** Greedy longest-match-first segmentation of a `word` column
    * against the frozen piece list — the BERT runtime algorithm as one
    * in-row `aggregate` fold over the word's character positions.
    * Appends `n_wp` (piece count; 1 for an unmatchable word) and
    * `wp_pieces` (space-joined pieces, `[UNK]` when unmatchable).
    */
  def greedySegmented(words: DataFrame, pieces: Seq[String]): DataFrame = {
    val initLit = typedLit(pieces.filterNot(_.startsWith("##")))
    val contLit = typedLit(pieces.filter(_.startsWith("##")).map(_.drop(2)))
    val maxL = (pieces.map(p =>
      if (p.startsWith("##")) p.length - 2 else p.length) :+ 1).max
    val w = col("word")
    def pieceAt(pos: Column, l: Column): Column = w.substr(pos, l)
    def matches(pos: Column, l: Column): Column =
      when(pos === 1, array_contains(initLit, pieceAt(pos, l)))
        .otherwise(array_contains(contLit, pieceAt(pos, l)))
    val folded = aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("pos"), lit(0L).as("n"), lit("").as("ps"),
        lit(false).as("stuck")),
      (st, _) => {
        val pos = st.getField("pos")
        // longest match first: the max L whose piece is in the vocab
        val bestL = array_max(filter(sequence(lit(1), lit(maxL)),
          l => l <= length(w) - pos + 1 && matches(pos, l)))
        when(st.getField("stuck") || pos > length(w), st)
          .otherwise(when(bestL.isNull,
            struct(pos.as("pos"), st.getField("n").as("n"),
              st.getField("ps").as("ps"), lit(true).as("stuck")))
            .otherwise(struct(
              (pos + bestL).as("pos"),
              (st.getField("n") + 1L).as("n"),
              concat(st.getField("ps"), lit(" "),
                when(pos === 1, pieceAt(pos, bestL))
                  .otherwise(concat(lit("##"), pieceAt(pos, bestL))))
                .as("ps"),
              lit(false).as("stuck"))))
      })
    words
      .withColumn("_wp", folded)
      .withColumn("n_wp",
        when(col("_wp.stuck"), 1L).otherwise(col("_wp.n")))
      .withColumn("wp_pieces",
        when(col("_wp.stuck"), lit("[UNK]"))
          .otherwise(trim(col("_wp.ps"))))
      .drop("_wp")
  }

  /** Per-doc WordPiece token meter of an ARBITRARY document frame
    * (`doc_id`, `text`) against a frozen piece list — the greedy fold
    * runs once per DISTINCT batch word, then joins back onto the token
    * stream (the [[Bpe.meter]] shape with the vocabulary join replaced
    * by the matcher). Words over unseen characters meter as one
    * `[UNK]` token — the BERT runtime rule, so a frozen tokenizer
    * never refuses new text. Shared by the batch budget gate and
    * `streaming.StreamingMeter`'s WordPiece twin.
    */
  def meter(docs: DataFrame, pieces: Seq[String]): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => w =!= "")).as("word"))
    val seg = greedySegmented(toks.select(col("word")).distinct(), pieces)
      .select(col("word"), col("n_wp"))
    toks.join(seg, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_wp")).as("wp_tokens"))
  }

  /** The corpus word-frequency frame greedily segmented against the
    * persisted model — the serve half `text_wordpiece_tokens` gates
    * and the meter side `doc_token_budget_wordpiece` joins.
    */
  def segmentedVocab(s: SparkSession, d: String): DataFrame =
    greedySegmented(
      Par.fanOut(Tables.documents(s, d))
        .select(explode(filter(split(col("text"), " "), w => w =!= ""))
          .as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq")),
      modelPieces(s, ensureWordPieceModel(s, d)))

  // ---- oracles ----

  /** The unrolled learn chain (the [[Bpe]] oracle pattern with the
    * WordPiece election): per round, symbol counts + adjacent-pair
    * counts → integer likelihood-gain argmax → framed one-pass
    * replace. Chain CTEs are `AS MATERIALIZED`: each round references
    * its predecessor from BOTH the pair side and the symbol-count
    * side, and without the pin DuckDB inlines the chain into 3^rounds
    * re-evaluations of the base scan (observed as an fd-exhaustion
    * failure at 8 rounds — BPE's 2-ref chain squeaks under the limit,
    * this one does not).
    */
  private def learnSql(rounds: Int): String = {
    val b = new StringBuilder
    b ++= s"""wf AS MATERIALIZED (SELECT w AS word, count(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |v0 AS MATERIALIZED (SELECT word, freq,
      |  ' ' || substr(word, 1, 1) ||
      |  regexp_replace(substr(word, 2), '(.)', ' ##\\1', 'g') || ' ' AS seq
      |  FROM wf)""".stripMargin
    for (r <- 1 to rounds) {
      val p = r - 1
      b ++= s""",
        |y$r AS MATERIALIZED (SELECT freq, string_split(trim(seq), ' ') AS syms FROM v$p),
        |sc$r AS (SELECT sym, sum(freq) AS c
        |  FROM (SELECT freq, unnest(syms) AS sym FROM y$r) GROUP BY sym),
        |p$r AS (SELECT syms[i] AS a, syms[i + 1] AS b, sum(freq) AS cnt
        |  FROM y$r, unnest(range(1, len(syms))) t(i) GROUP BY 1, 2),
        |b$r AS (SELECT pair, score FROM (
        |    SELECT p.a || ' ' || p.b AS pair,
        |      CAST((p.cnt * $ScoreScale) // (ca.c * cb.c) AS BIGINT) AS score
        |    FROM p$r p JOIN sc$r ca ON ca.sym = p.a
        |                JOIN sc$r cb ON cb.sym = p.b
        |    UNION ALL SELECT chr(1) || ' ' || chr(1), CAST(-1 AS BIGINT)) u
        |  ORDER BY score DESC, pair LIMIT 1),
        |v$r AS MATERIALIZED (SELECT word, freq,
        |  replace(seq, ' ' || b.pair || ' ',
        |    ' ' || replace(replace(b.pair, ' ##', ''), ' ', '') || ' ') AS seq
        |  FROM v$p, b$r b)""".stripMargin
    }
    b.toString
  }

  /** The piece vocabulary + greedy longest-match segmenter, as SQL:
    * a static longest-match table per (word, position), walked by a
    * RECURSIVE CTE (depth ≤ word length) → `wseg(word, freq, n_wp,
    * wp_pieces)`. Mirrors [[greedySegmented]] exactly, including the
    * `[UNK]` rule.
    */
  private def segmentSql(rounds: Int): String =
    s""",
      |pieces AS MATERIALIZED (
      |  SELECT DISTINCT unnest(string_split(trim(seq), ' ')) AS piece
      |  FROM v0
      |  UNION
      |  ${(1 to rounds).map(r =>
           s"SELECT replace(replace(pair, ' ##', ''), ' ', '') FROM b$r")
           .mkString("\n|  UNION\n|  ")}),
      |cand AS (
      |  SELECT w.word, t.i AS pos, p.piece,
      |    CASE WHEN p.piece LIKE '##%' THEN len(p.piece) - 2
      |         ELSE len(p.piece) END AS adv
      |  FROM wf w, unnest(range(1, len(w.word) + 1)) t(i), pieces p
      |  WHERE (t.i = 1 AND p.piece NOT LIKE '##%'
      |         AND substr(w.word, 1, len(p.piece)) = p.piece)
      |     OR (t.i > 1 AND p.piece LIKE '##%'
      |         AND substr(w.word, t.i::INT, len(p.piece) - 2)
      |             = substr(p.piece, 3))),
      |best AS MATERIALIZED (SELECT word, pos, piece, adv FROM (
      |    SELECT *, row_number() OVER (PARTITION BY word, pos
      |                                 ORDER BY adv DESC, piece) AS rn
      |    FROM cand) WHERE rn = 1),
      |walk AS (
      |  SELECT word, freq, 1 AS pos, 0 AS n, '' AS ps FROM wf
      |  UNION ALL
      |  SELECT s.word, s.freq, s.pos + b.adv, s.n + 1,
      |         s.ps || ' ' || b.piece
      |  FROM walk s JOIN best b ON b.word = s.word AND b.pos = s.pos
      |  WHERE s.pos <= len(s.word)),
      |wseg AS MATERIALIZED (SELECT word, freq,
      |    CASE WHEN pos = len(word) + 1 THEN n ELSE 1 END AS n_wp,
      |    CASE WHEN pos = len(word) + 1 THEN trim(ps)
      |         ELSE '[UNK]' END AS wp_pieces
      |  FROM (SELECT *, row_number() OVER (PARTITION BY word
      |                                     ORDER BY pos DESC) AS rn
      |        FROM walk) WHERE rn = 1)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // The learned merge table, value-gated with its election scores:
    // rank-ordered winning pairs, merged symbols, and the integer
    // likelihood-gain surrogate — pins the WordPiece election
    // (score formula, tie-break, ##-aware rewrite) independently of
    // the matcher.
    QuerySpec(
      "text_wordpiece_vocab",
      s"WITH RECURSIVE ${learnSql(Rounds)},\n" +
        s"""m AS (${(1 to Rounds)
          .map(r => s"SELECT $r AS rank, pair, score FROM b$r")
          .mkString("\n|      UNION ALL ")})
          |SELECT rank, pair,
          |  replace(replace(pair, ' ##', ''), ' ', '') AS merged, score
          |FROM m""".stripMargin) { (s, d) =>
      s.read.parquet(ensureWordPieceModel(s, d) + "/merges")
    },

    // The greedy longest-match serve over the corpus vocabulary: every
    // distinct word's piece count and segmentation against the frozen
    // pieces. THE WordPiece runtime behavior — deliberately not the
    // learn segmentation replayed (greedy matching can split a
    // training word differently than its merge history did); the
    // oracle walks a recursive-CTE segmenter over the same piece set.
    QuerySpec(
      "text_wordpiece_tokens",
      s"WITH RECURSIVE ${learnSql(Rounds)}${segmentSql(Rounds)}\n" +
        """SELECT word, freq, CAST(n_wp AS BIGINT) AS n_wp, wp_pieces
          |FROM wseg""".stripMargin) { (s, d) =>
      segmentedVocab(s, d)
        .select(col("word"), col("freq"), col("n_wp"), col("wp_pieces"))
    },

    // doc_token_budget re-metered in WordPiece tokens: per language,
    // best quality first until the subword budget fills — the
    // Bpe.Budget gate with the meter swapped for the greedy-match
    // vocabulary join (same quantile-range-partitioned prefix sum, no
    // per-language window).
    QuerySpec(
      "doc_token_budget_wordpiece",
      s"WITH RECURSIVE ${learnSql(Rounds)}${segmentSql(Rounds)},\n" +
        s"""dw AS (SELECT doc_id, w AS word
          |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          |        FROM documents)
          |  WHERE w <> ''),
          |ct AS (SELECT doc_id, sum(n_wp) AS n_tok
          |       FROM dw JOIN wseg USING (word) GROUP BY doc_id),
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
      // the greedy-segmented vocabulary is the meter: every corpus
      // word's n_wp, joined back onto the token stream (unhinted — the
      // word-vocab frame is corpus-growing, the planner owns the
      // broadcast decision, per the repo rule)
      val counts = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(filter(split(col("text"), " "), w => w =!= ""))
            .as("word"))
        .join(segmentedVocab(s, d).select(col("word"), col("n_wp")),
          Seq("word"))
        .groupBy("doc_id").agg(sum(col("n_wp")).as("n_tok"))
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
