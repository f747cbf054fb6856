package graft.operators

import graft.{QuerySpec, Tables}
import graft.index.Fixture
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: bounded-round greedy pair-merge LEARN
  * over the corpus word-frequency frame, then APPLY as a vocabulary
  * join — the tokenizer-fidelity step between `vocab_coverage`'s
  * whitespace curve and what a training pipeline actually meters
  * budgets in (BPE subword counts, Sennrich et al. 2016).
  *
  * Learn runs on the WORD-FREQUENCY frame, not the corpus: classic BPE
  * trains on (word, freq) pairs, so however large the corpus, each
  * merge round aggregates a vocabulary-sized frame (the same frame
  * `vocab_coverage` tops — ~10⁸ rows at web scale, corpus-independent
  * once counted). One tokenize shuffle builds that frame; each of the
  * `Rounds` rounds is then one pair-count aggregate (map-side partial,
  * shuffled by pair) plus a TakeOrdered argmax — no window, no global
  * sort. The winning pair per round is a ONE-ROW driver collect
  * (O(rounds) rows total over the whole learn, same bounded-collect
  * class as the IVF probe-cell lists), after which the merge rewrite is
  * a pure per-row `replace` stacked on the segmentation lineage. That
  * stack is CHECKPOINTED every [[CheckpointEvery]] rounds
  * (`Layout.stagePin`, the curation chain's pattern): the frame is
  * staged to parquet and the lineage restarts from the read-back, so
  * plan depth is bounded by the cadence — a constant — however many
  * merges are learned. That bound is what makes `Rounds` genuinely a
  * knob: at the 30k–100k merges of a production tokenizer the
  * per-round work is still one vocabulary-sized aggregate + one
  * TakeOrdered, and the analyzed plan never grows past the cadence
  * (BpeSpec pins both at 64 rounds).
  *
  * Merge-application semantics are pinned EXACTLY (and identically in
  * the DuckDB oracles): a round replaces occurrences of its winning
  * pair leftmost-first, non-overlapping, in ONE pass — the semantics
  * both engines' `replace` share. (Strict HF-style BPE re-scans after
  * each in-word merge; the one-pass variant differs only on runs of a
  * pair overlapping itself, is deterministic, and keeps apply a pure
  * in-row fold on both engines.) Ties break (count DESC, pair ASC);
  * symbols never contain spaces, so ` pair ` cannot straddle symbol
  * boundaries. A round with no remaining pairs elects the untouchable
  * `chr(1) chr(1)` sentinel (control chars cannot appear in text), so
  * both engines emit exactly `Rounds` merges whatever the corpus.
  *
  * Apply = join: the learn's final segmentation already fixes every
  * vocabulary word's subword count, so metering a document is explode →
  * vocab join (planner-size-checked broadcast at gate scale) → per-doc
  * sum — zero shuffle on the corpus side beyond the final doc_id
  * aggregate. Out-of-vocabulary words
  * (impossible when scoring the training corpus itself, routine when
  * metering NEW text against a frozen tokenizer) fall back to
  * char-count, encoded identically in the oracles.
  */
object Bpe {

  /** Merge rounds the gated queries learn. Bounded by design: real
    * tokenizers run 30k–100k merges, but each round is the SAME
    * aggregate shape — the gate pins the machinery, the constant is a
    * knob.
    */
  val Rounds = 8

  /** Per-language BPE-token budget of `doc_token_budget_bpe` (vs 5000
    * whitespace tokens in `doc_token_budget` — subword counts run
    * higher).
    */
  val Budget = 8000L

  /** Segmentation-checkpoint cadence of the learn loop: after every
    * this-many merge rounds the (word, freq, seq) frame is staged to
    * parquet and the replace stack restarts from the read-back. Bounds
    * the analyzed-plan depth at a CONSTANT whatever `rounds` is — the
    * property that lets the merge count scale to production (30k+)
    * without the stacked-`withColumn` lineage and per-round codegen
    * growing linearly. The gate's `Rounds = 8` never reaches the
    * cadence, so the gated queries' plans are byte-identical to the
    * un-checkpointed learn.
    */
  private[graft] val CheckpointEvery = 16

  /** Elected when a round has no pairs left; `replace` of its framed
    * form is a no-op on any real segmentation.
    */
  private[graft] val Sentinel = "\u0001 \u0001"

  /** Word-frequency frame with the initial character segmentation:
    * `seq` is the word's symbols space-joined with sentinel spaces at
    * both ends, so every symbol occurrence — first, last, interior —
    * is ` sym `-framed and one `replace(' a b ', ' ab ')` rewrites it.
    */
  private def initVocab(docs: DataFrame): DataFrame =
    Par.fanOut(docs)
      .select(explode(filter(split(col("text"), " "), w => w =!= ""))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("seq",
        concat(lit(" "), trim(regexp_replace(col("word"), "(.)", "$1 ")),
          lit(" ")))

  /** One round's (pair, summed word-frequency) aggregate. */
  private def pairCounts(vocab: DataFrame): DataFrame = {
    val syms = split(trim(col("seq")), " ")
    vocab
      .select(col("freq"),
        explode(zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
  }

  /** Greedy pair-merge learn: returns the `rounds` winning pairs in
    * merge order, the final per-word segmentation frame
    * (word, freq, seq), and the CACHED base frame the segmentation's
    * lineage stacks its replaces on — the caller unpersists that base
    * once the segmentation is consumed.
    */
  private[graft] def learn(docs: DataFrame,
      rounds: Int): (Seq[String], DataFrame, DataFrame) =
    learnWithCurve(docs, rounds) match { case (m, _, v, b) => (m, v, b) }

  /** [[learn]] plus the merge-gain curve: corpus token total after
    * round r for r = 0 (character baseline) .. `rounds` — the readout
    * a tokenizer build uses to size its vocabulary (marginal
    * compression per merge). Measured, not derived: one-pass replace
    * can merge FEWER occurrences than the pair count (a pair
    * overlapping its own run), so total_r is an aggregate over the
    * round's segmentation, not total_{r-1} − cnt_r. One extra one-row
    * collect per round, same bounded class as the election itself.
    */
  private[graft] def learnWithCurve(docs: DataFrame,
      rounds: Int): (Seq[String], Seq[Long], DataFrame, DataFrame) = {
    val base = initVocab(docs).persist()
    var vocab = base
    def total(v: DataFrame): Long = v
      .agg(sum(col("freq") * size(split(trim(col("seq")), " "))))
      .head().getLong(0)
    val merges = Seq.newBuilder[String]
    val totals = Seq.newBuilder[Long]
    totals += total(base)
    // One pin base name PER LEARN INVOCATION: stagePin prunes aged
    // siblings of the same name, and two sessions learning on one
    // warehouse must never prune each other's still-referenced
    // checkpoints. Within one learn the self-prune is safe — by the
    // time round r+CheckpointEvery pins, the round-r pin has no
    // remaining reader.
    val pinName =
      s"bpe_seg_${java.util.UUID.randomUUID().toString.take(8)}"
    val sentinelRow = docs.sparkSession.range(1)
      .select(lit(Sentinel).as("pair"), lit(-1L).as("cnt"))
    for (r <- 1 to rounds) {
      // One-row driver collect per round (bounded: `rounds` rows total).
      val best = pairCounts(vocab)
        .unionByName(sentinelRow)
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1)
        .head().getString(0)
      merges += best
      vocab = vocab.withColumn("seq",
        replace(col("seq"), lit(s" $best "),
          lit(" " + best.replace(" ", "") + " ")))
      // Bounded-lineage checkpoint: restart the replace stack from a
      // parquet pin every CheckpointEvery rounds (skip on the final
      // round — the caller persists the result itself). Not reached at
      // the gate's Rounds = 8; proven at 64 rounds in BpeSpec.
      if (r % CheckpointEvery == 0 && r < rounds)
        vocab = Layout.stagePin(vocab, pinName)
      totals += total(vocab)
    }
    (merges.result(), totals.result(), vocab, base)
  }

  /** Build-if-absent the persisted model for `d` (suffix-keyed
    * warehouse convention, same completeness contract as
    * `Retrieval.ensureBm25Index`): `merges/` (rank, pair, merged),
    * `vocab/` (word, freq, n_bpe) and `curve/` (rank, total_tokens)
    * parquet dirs; complete iff all carry `_SUCCESS`. The learn is
    * deterministic, so a completed model re-serves without
    * re-learning. The build STAGES-AND-PUBLISHES
    * (`Layout.ensurePublishedDir`): the three dirs land in a private
    * staging sibling and swap in atomically, so two sessions racing
    * one warehouse can never interleave into a half-written model —
    * each stages privately, publishes serialize at the rename, and a
    * crashed build's staging is swept by age.
    */
  def ensureBpeModel(s: SparkSession, d: String): String =
    ensureModel(s, d, "graft_bpe_model", identity)

  /** The model trained on the HISTORY wave only (doc_id % 5 ≠ 4) — the
    * frozen-tokenizer fixture `text_oov_rate` meters the incoming wave
    * against.
    */
  def ensureHistoryBpeModel(s: SparkSession, d: String): String =
    ensureModel(s, d, "graft_bpe_hist", _.filter(col("doc_id") % 5 =!= 4))

  private def ensureModel(s: SparkSession, d: String, name: String,
      slice: DataFrame => DataFrame): String = {
    val root = new org.apache.hadoop.fs.Path(Fixture.root(s, d, name))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.ensurePublishedDir(s, root.toString)(r =>
      Seq("merges", "vocab", "curve").forall(side => fs.exists(
        new org.apache.hadoop.fs.Path(r, side + "/_SUCCESS")))
    ) { staging =>
      val (merges, totals, vocab, base) =
        learnWithCurve(slice(Tables.documents(s, d)), Rounds)
      import s.implicits._
      merges.zipWithIndex
        .map { case (p, i) => (i + 1, p, p.replace(" ", "")) }
        .toDF("rank", "pair", "merged")
        .coalesce(1)
        .write.parquet(s"$staging/merges")
      totals.zipWithIndex
        .map { case (t, r) => (r, t) }
        .toDF("rank", "total_tokens")
        .coalesce(1)
        .write.parquet(s"$staging/curve")
      vocab
        .select(col("word"), col("freq"),
          size(split(trim(col("seq")), " ")).cast("long").as("n_bpe"))
        .write.parquet(s"$staging/vocab")
      base.unpersist()
    }
  }

  /** The three persisted sides of one fitted BPE model (merges /
    * curve / vocab — [[ensureModel]]'s shapes) plus the cached base to
    * unpersist after they land. Shared by the overwrite-published
    * roots and the ledgered version commits.
    */
  private def fitSides(s: SparkSession, slice: DataFrame)
      : (Seq[(String, DataFrame)], DataFrame) = {
    val (merges, totals, vocab, base) = learnWithCurve(slice, Rounds)
    import s.implicits._
    val m = merges.zipWithIndex
      .map { case (p, i) => (i + 1, p, p.replace(" ", "")) }
      .toDF("rank", "pair", "merged").coalesce(1)
    val c = totals.zipWithIndex.map { case (t, r) => (r, t) }
      .toDF("rank", "total_tokens").coalesce(1)
    val v = vocab.select(col("word"), col("freq"),
      size(split(trim(col("seq")), " ")).cast("long").as("n_bpe"))
    (Seq("merges" -> m, "curve" -> c, "vocab" -> v), base)
  }

  /** Model-root time travel for the TOKENIZER family: BPE model
    * VERSIONS as ledgered full-state commits under the family-generic
    * [[graft.index.ModelLedger]] dialect — seed on the first train
    * third, b1 re-fit on two thirds, b2 re-fit on the full train
    * split. Unlike NB's algebraically exact grow, BPE merges are
    * corpus-global elections with NO exact increment, so the honest
    * version IS a fresh fit on the cumulative slice (cost: one fit
    * per version, model-sized writes — exactly what a production
    * tokenizer-retrain publishes). What travels is WHICH frozen
    * tokenizer metered a run: a reproducible pipeline can now pin
    * tokenizer version k next to corpus fold N.
    */
  def ensureLedgeredBpeModel(s: SparkSession, d: String): String =
    ensureLedgered(s, d, "graft_bpe_ledger", vacuumFloor = None)

  /** The ledgered lifecycle then a [[graft.index.ModelLedger.vacuum]]
    * at floor 1: the seed version reclaimed, horizons 1 and 2 serving
    * unchanged (the `text_bpe_vacuum` gate), horizon 0 refusing.
    */
  def ensureVacuumedBpeModel(s: SparkSession, d: String): String =
    ensureLedgered(s, d, "graft_bpe_ledger_vac", vacuumFloor = Some(1L))

  private def ensureLedgered(s: SparkSession, d: String, name: String,
      vacuumFloor: Option[Long]): String = {
    val root = Fixture.root(s, d, name)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val p = (r: String) => graft.index.ModelLedger.protocol(r)
    Layout.ensurePublishedDir(s, root)(r =>
      p(r).foldedBatches() == Set(1L, 2L) &&
        vacuumFloor.forall(f =>
          fs.exists(new org.apache.hadoop.fs.Path(
            s"${p(r).dir("vocab")}/c$f", "_SUCCESS")) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"${p(r).dir("vocab")}/seed")))
    ) { staging =>
      val train = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 4)
      val (s0, b0) = fitSides(s, train.filter(col("doc_id") % 3 === 1))
      graft.index.ModelLedger.initSeed(staging, s0)
      b0.unpersist()
      val (s1, b1) = fitSides(s, train.filter(col("doc_id") % 3 =!= 0))
      graft.index.ModelLedger.commitVersion(staging, 1L, s1)
      b1.unpersist()
      val (s2, b2) = fitSides(s, train)
      graft.index.ModelLedger.commitVersion(staging, 2L, s2)
      b2.unpersist()
      vacuumFloor.foreach(f => graft.index.ModelLedger.vacuum(
        s, staging, Seq("merges", "curve", "vocab"), f))
    }
    root
  }

  /** Per-doc BPE token meter of an ARBITRARY document frame
    * (`doc_id`, `text`) against a vocab segmentation frame
    * (`word`, `n_bpe`): explode → vocab join → one doc_id aggregate;
    * out-of-vocabulary words fall back to char count. Shared by the
    * batch gates and `streaming.StreamingMeter` (the same frozen-model
    * arithmetic applies per micro-batch). The vocab side carries NO
    * broadcast hint — it is a scale-GROWING frame (distinct corpus
    * words), so the broadcast decision belongs to the planner's size
    * check, per the repo-wide rule: at bench scale the KB-sized
    * parquet statistics pick the broadcast anyway (plan-pinned in
    * BpeSpec), and a 10⁸-word production vocabulary degrades to the
    * shuffle join on `word` instead of a forced multi-GB broadcast.
    */
  def meter(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), w => w =!= "")).as("word"))
      .join(vocab.select(col("word"), col("n_bpe")),
        Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_bpe"), length(col("word")).cast("long")))
          .as("bpe_tokens"))

  /** The persisted model's vocab segmentation frame. */
  def modelVocab(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/vocab")

  /** Shared learn-chain prefix of the three oracles: the full
    * `Rounds`-round merge election unrolled as chained CTEs — word
    * frequencies → char segmentation → per round (pair counts →
    * sentinel-guarded argmax → one-pass framed replace). Functionally
    * identical to [[learn]] by construction: same normalization, same
    * tie-break (ASCII corpus, so the engines' string orders agree),
    * same one-pass `replace` semantics.
    */
  private def learnSql(rounds: Int, docWhere: String = ""): String = {
    val b = new StringBuilder
    b ++= s"""WITH wf AS (SELECT w AS word, count(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w
      |        FROM documents$docWhere)
      |  WHERE w <> '' GROUP BY w),
      |v0 AS (SELECT word, freq,
      |  ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' ' AS seq
      |  FROM wf)""".stripMargin
    for (r <- 1 to rounds) {
      val p = r - 1
      b ++= s""",
        |e$r AS (SELECT freq, syms, i
        |  FROM (SELECT freq, string_split(trim(seq), ' ') AS syms FROM v$p) s,
        |       unnest(range(1, len(syms))) t(i)),
        |p$r AS (SELECT syms[i] || ' ' || syms[i + 1] AS pair, sum(freq) AS cnt
        |  FROM e$r GROUP BY 1),
        |b$r AS (SELECT pair FROM (SELECT pair, cnt FROM p$r
        |    UNION ALL SELECT chr(1) || ' ' || chr(1), CAST(-1 AS BIGINT)) u
        |  ORDER BY cnt DESC, pair LIMIT 1),
        |v$r AS (SELECT word, freq,
        |  replace(seq, ' ' || b.pair || ' ',
        |          ' ' || replace(b.pair, ' ', '') || ' ') AS seq
        |  FROM v$p, b$r b)""".stripMargin
    }
    b.toString
  }

  /** Oracle tail shared by the two metering queries: final
    * segmentation → per-word subword count → per-doc token stream.
    */
  private def meterSql(rounds: Int): String =
    s""",
      |vt AS (SELECT word, len(string_split(trim(seq), ' ')) AS n_bpe
      |       FROM v$rounds),
      |dw AS (SELECT doc_id, w AS word
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE w <> '')""".stripMargin

  /** [[meterSql]]'s incoming-wave variant: the wave's token stream with
    * `lang` carried, metered against whatever learn chain precedes it
    * (history-frozen for `text_oov_rate`).
    */
  private def meterSqlWave(rounds: Int): String =
    s""",
      |vt AS (SELECT word, len(string_split(trim(seq), ' ')) AS n_bpe
      |       FROM v$rounds),
      |dw AS (SELECT lang, w AS word
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
      |        FROM documents WHERE doc_id % 5 = 4)
      |  WHERE w <> '')""".stripMargin

  /** The cumulative train slices each ledgered tokenizer version was
    * fit on — the oracle re-fits per horizon, the engine serves the
    * persisted version.
    */
  private val bpeAsofHorizons: Seq[(Int, String)] = Seq(
    0 -> " WHERE doc_id % 5 <> 4 AND doc_id % 3 = 1",
    1 -> " WHERE doc_id % 5 <> 4 AND doc_id % 3 <> 0",
    2 -> " WHERE doc_id % 5 <> 4")

  /** One horizon of the tokenizer-as-of oracle: the full learn chain
    * on the horizon's cumulative slice, metering the incoming wave per
    * language (the `text_oov_rate` readout, horizon-tagged).
    */
  private def bpeAsofSql(h: Int, where: String): String =
    s"""SELECT CAST($h AS BIGINT) AS horizon, lang,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_oov AS BIGINT) AS n_oov,
       |  CAST(bpe_tokens AS BIGINT) AS bpe_tokens
       |FROM (
       |${learnSql(Rounds, where) + meterSqlWave(Rounds)}
       |SELECT lang, count(*) AS n_tokens,
       |  sum(CASE WHEN n_bpe IS NULL THEN 1 ELSE 0 END) AS n_oov,
       |  sum(coalesce(n_bpe, length(word))) AS bpe_tokens
       |FROM dw LEFT JOIN vt USING (word) GROUP BY lang)""".stripMargin

  /** The incoming wave metered under the tokenizer version served at
    * horizon `h` — unhinted vocab join per the repo-wide rule.
    */
  private def bpeAsofFrame(s: SparkSession, root: String, d: String,
      h: Int): DataFrame = {
    val vt = graft.index.ModelLedger
      .readSideAsOf(s, root, "vocab", h.toLong)
      .select(col("word"), col("n_bpe"))
    Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 4)
      .select(col("lang"),
        explode(filter(split(col("text"), " "), w => w =!= "")).as("word"))
      .join(vt, Seq("word"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("n_bpe").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("n_bpe"), length(col("word")).cast("long")))
          .as("bpe_tokens"))
      .select(lit(h.toLong).as("horizon"), col("lang"),
        col("n_tokens"), col("n_oov"), col("bpe_tokens"))
  }

  val specs: Seq[QuerySpec] = Seq(

    // The learned merge table itself, value-gated: rank-ordered winning
    // pairs and their merged symbols. Gating the MERGES (not just the
    // counts they induce) pins the learn loop — election order,
    // tie-break, rewrite semantics — independently of the apply layer.
    QuerySpec(
      "text_bpe_vocab",
      learnSql(Rounds) + s""",
        |m AS (${(1 to Rounds)
          .map(r => s"SELECT $r AS rank, pair FROM b$r")
          .mkString("\n|      UNION ALL ")})
        |SELECT rank, pair, replace(pair, ' ', '') AS merged FROM m"""
        .stripMargin) { (s, d) =>
      s.read.parquet(ensureBpeModel(s, d) + "/merges")
    },

    // The merge-gain curve: corpus token total after 0..Rounds merges —
    // the marginal-compression readout that sizes a production
    // vocabulary (stop merging when the curve flattens). Served from
    // the persisted model; the oracle re-measures every round's
    // segmentation from the unrolled learn chain.
    QuerySpec(
      "text_bpe_curve",
      learnSql(Rounds) + s"""
        |${(0 to Rounds).map(r =>
          s"""SELECT $r AS rank,
             |  (SELECT CAST(sum(freq * len(string_split(trim(seq), ' ')))
             |          AS BIGINT) FROM v$r) AS total_tokens""".stripMargin)
          .mkString("\nUNION ALL\n")}""".stripMargin) { (s, d) =>
      s.read.parquet(ensureBpeModel(s, d) + "/curve")
    },

    // Per-doc BPE token meter: n_words (whitespace) alongside
    // bpe_tokens (subword) — the pair of numbers a data pipeline
    // reports per document once a tokenizer is frozen.
    QuerySpec(
      "text_bpe_tokens",
      learnSql(Rounds) + meterSql(Rounds) + """
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(coalesce(n_bpe, length(word))) AS BIGINT) AS bpe_tokens
        |FROM dw LEFT JOIN vt USING (word) GROUP BY doc_id"""
        .stripMargin) { (s, d) =>
      meter(Tables.documents(s, d), modelVocab(s, ensureBpeModel(s, d)))
    },

    // Tokenizer-drift alarm: the incoming wave (doc_id % 5 = 4) metered
    // against the model FROZEN on history — per language, how many wave
    // tokens miss the frozen vocabulary (and so pay the char-level
    // fallback), and what the wave costs in the frozen tokenizer's
    // units. A rising oov_rate is THE signal a production pipeline
    // watches to schedule tokenizer retraining — the text sibling of
    // sim_cell_drift's embedding alarm. Plan: explode → broadcast
    // frozen-vocab join → one lang aggregate; corpus scanned once.
    QuerySpec(
      "text_oov_rate",
      learnSql(Rounds, " WHERE doc_id % 5 <> 4") + meterSqlWave(Rounds) +
        """
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN n_bpe IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(sum(CASE WHEN n_bpe IS NULL THEN 1 ELSE 0 END)
        |        AS DOUBLE) / count(*), 6) + 0 AS oov_rate,
        |  CAST(sum(coalesce(n_bpe, length(word))) AS BIGINT) AS bpe_tokens
        |FROM dw LEFT JOIN vt USING (word) GROUP BY lang"""
        .stripMargin) { (s, d) =>
      // unhinted like Bpe.meter: the frozen vocab is scale-growing,
      // the planner's size check owns the broadcast decision
      val vt = modelVocab(s, ensureHistoryBpeModel(s, d))
        .select(col("word"), col("n_bpe"))
      Tables.documents(s, d)
        .filter(col("doc_id") % 5 === 4)
        .select(col("lang"),
          explode(filter(split(col("text"), " "), w => w =!= ""))
            .as("word"))
        .join(vt, Seq("word"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("n_bpe").isNull, 1L).otherwise(0L)).as("n_oov"),
          (round(sum(when(col("n_bpe").isNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6) + 0.0).as("oov_rate"),
          sum(coalesce(col("n_bpe"), length(col("word")).cast("long")))
            .as("bpe_tokens"))
    },

    // doc_token_budget re-metered in BPE tokens: per language, best
    // quality first until the subword budget fills. Same quantile-
    // range-partitioned prefix sum as the whitespace variant
    // (Curation.rangedPrefixSum — no per-language window), with the
    // meter swapped for the model join.
    QuerySpec(
      "doc_token_budget_bpe",
      learnSql(Rounds) + meterSql(Rounds) + s""",
        |ct AS (SELECT doc_id, sum(coalesce(n_bpe, length(word))) AS n_tok
        |       FROM dw LEFT JOIN vt USING (word) GROUP BY doc_id),
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
      val counts =
        meter(Tables.documents(s, d), modelVocab(s, ensureBpeModel(s, d)))
          .select(col("doc_id"), col("bpe_tokens").as("n_tok"))
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          (round(TextAnalysis.qualityScore(col("text")), 4) * -1).as("ord"))
        .join(counts, "doc_id")
      Curation.rangedPrefixSum(t, Seq("lang"), Seq("ord", "doc_id"),
          "n_tok", "prior")
        .filter(col("prior") < Budget)
        .select(col("doc_id"), col("lang"), col("n_tok"))
    },

    // Tokenizer model-root time travel: the incoming wave metered
    // under each LEDGERED tokenizer version — horizon 0 the seed fit
    // (first train third), 1 the two-thirds re-fit, 2 the full-train
    // re-fit. The oov/token readouts discriminate versions hard (a
    // narrower fit leaves more wave words to the char fallback), so
    // the gate pins both WHICH version each horizon serves and the
    // version states themselves; the oracle re-fits per horizon.
    QuerySpec(
      "text_bpe_asof",
      bpeAsofHorizons.map { case (h, w) => bpeAsofSql(h, w) }
        .mkString("\nUNION ALL\n")) { (s, d) =>
      val root = ensureLedgeredBpeModel(s, d)
      Par.buildAll(bpeAsofHorizons) { case (h, _) =>
          bpeAsofFrame(s, root, d, h) }
        .reduce(_.unionByName(_))
    },

    // Floor-bounded retention for the tokenizer ledger: vacuumed at
    // floor 1, the surviving horizons (1, 2) must keep the unvacuumed
    // oracle unchanged; the below-floor refusal is spec-pinned in
    // BpeSpec (refusals have no SQL value image).
    QuerySpec(
      "text_bpe_vacuum",
      bpeAsofHorizons.drop(1).map { case (h, w) => bpeAsofSql(h, w) }
        .mkString("\nUNION ALL\n")) { (s, d) =>
      val root = ensureVacuumedBpeModel(s, d)
      Par.buildAll(bpeAsofHorizons.drop(1)) { case (h, _) =>
          bpeAsofFrame(s, root, d, h) }
        .reduce(_.unionByName(_))
    }
  )
}
