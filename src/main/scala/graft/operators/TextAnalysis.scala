package graft.operators

import graft.{QuerySpec, Tables}
import graft.index.Fixture
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: language ID
  * (marker-token heuristic), quality scoring, token counting, document
  * fingerprinting. All pure per-row expressions — no shuffle, fully
  * codegen'd, trivially scan-parallel at 100 TB.
  */
object TextAnalysis {

  private def words(c: Column): Column = split(c, " ")

  /** Count of tokens belonging to a marker set. */
  private def markerCount(c: Column, markers: Seq[String]): Column =
    size(filter(words(c), w => w.isInCollection(markers)))

  private val Stopwords =
    Seq("the", "a", "of", "and", "in", "to", "is", "it", "on", "for")

  /** The `text_normalize` kernel as one expression: case fold, accent
    * strip, punctuation→space, whitespace collapse. Shared by the
    * standalone gate and `CorpusPipeline`'s stage 2 so the two
    * formulations cannot drift.
    */
  private[operators] def normalizeExpr(c: Column): Column = {
    val lowered = regexp_replace(regexp_replace(regexp_replace(
      lower(c), "é", "e"), "ö", "o"), "ñ", "n")
    trim(regexp_replace(regexp_replace(
      lowered, "[^a-z0-9 ]", " "), " +", " "))
  }

  /** The `text_langid` marker-argmax as one expression (same tie and
    * ≥5%-marker-density confidence rules as the standalone gate).
    * Shared by `text_langid`, `text_langid_confusion`, and
    * `CorpusPipeline`'s stage 3.
    */
  private[operators] def predLang(t: Column): Column = {
    val enN = markerCount(t, Seq("the", "a", "of", "and", "in"))
    val esN = markerCount(t, Seq("el", "la", "de", "que", "y"))
    val deN = markerCount(t, Seq("der", "die", "das", "und", "ist"))
    val n = size(words(t))
    when(enN >= esN && enN >= deN && enN * 20 >= n, "en")
      .when(esN > enN && esN >= deN && esN * 20 >= n, "es")
      .when(deN > enN && deN > esN && deN * 20 >= n, "de")
      .otherwise("und")
  }

  /** Blended quality score in [0, 1] (length, punctuation, stopword
    * signals) — the shared kernel of `text_quality`, `doc_curate`'s
    * stage 1, and `streaming.StreamingCuration`. Pure per-row
    * expression: applies identically to batch frames and streams.
    */
  def qualityScore(t: Column): Column = {
    val nChars = length(t)
    val nWords = size(words(t))
    val nStop = markerCount(t, Stopwords)
    val nPunct = nChars - length(regexp_replace(t, "[^a-z0-9 ]", ""))
    when(nWords >= 20, 1.0).otherwise(nWords.cast("double") / 20) *
      (lit(1.0) - nPunct.cast("double") / nChars) *
      when(nStop.cast("double") / nWords > 0.05, 1.0).otherwise(0.5)
  }

  /** The NAMED quality-rule pack (Gopher/C4-shaped, Rae et al. 2021
    * §A1.1, bands fitted to the corpus so the discriminating rules
    * actually fire): unlike [[qualityScore]]'s blended scalar, every
    * rule is its own column, so a rejected document says WHICH
    * published rule rejected it — the per-rule attribution a curation
    * audit needs (the `doc_curate_rejects` convention, applied inside
    * the quality stage). Emits the measured values, a 0/1 verdict per
    * rule, and the FIRST failed rule's name (`kept` when none). Pure
    * per-row expressions — no shuffle, codegen'd, scan-parallel.
    *
    * Rules: word count in [20, 80]; mean word length in [3.0, 4.6];
    * symbol-to-word ratio (# and ellipsis chars) ≤ 0.1; bullet-led
    * lines ≤ 90%; ellipsis-ended lines ≤ 30%; ≥ 2 stop-words. The
    * symbol/line rules are the published pack evaluated faithfully —
    * on this all-ASCII single-line corpus they measure genuine zeros
    * and pass (the oracle recomputes the zeros per row, so they are
    * value-gated, not decorative).
    */
  def qualityRules(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val nw = size(ws)
    val nc = length(col("text"))
    val lines = split(col("text"), "\n")
    val nl = size(lines)
    val wordCount = nw.cast("long")
    val meanWordLen = round((nc - nw + 1).cast("double") / nw, 4)
    val nSym = nc - length(regexp_replace(col("text"), "[#…]", ""))
    val symbolRatio = round(nSym.cast("double") / nw, 4)
    val bulletRatio = round(
      size(filter(lines, l => l.startsWith("- ") || l.startsWith("* ")))
        .cast("double") / nl, 4)
    val ellipsisRatio = round(
      size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
        .cast("double") / nl, 4)
    val stopCount = markerCount(col("text"), Stopwords).cast("long")
    def flag(ok: Column): Column = when(ok, 1L).otherwise(0L)
    docs
      .select(col("doc_id"),
        wordCount.as("word_count"), meanWordLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), bulletRatio.as("bullet_ratio"),
        ellipsisRatio.as("ellipsis_ratio"), stopCount.as("stop_count"))
      .select(col("*"),
        flag(col("word_count").between(20, 80)).as("wc_ok"),
        flag(col("mean_word_len").between(3.0, 4.6)).as("mwl_ok"),
        flag(col("symbol_ratio") <= 0.1).as("symbol_ok"),
        flag(col("bullet_ratio") <= 0.9).as("bullet_ok"),
        flag(col("ellipsis_ratio") <= 0.3).as("ellipsis_ok"),
        flag(col("stop_count") >= 2).as("stop_ok"))
      .withColumn("reason",
        when(col("wc_ok") === 0, "word_count")
          .when(col("mwl_ok") === 0, "mean_word_length")
          .when(col("symbol_ok") === 0, "symbol_ratio")
          .when(col("bullet_ok") === 0, "bullet_lines")
          .when(col("ellipsis_ok") === 0, "ellipsis_lines")
          .when(col("stop_ok") === 0, "stop_words")
          .otherwise("kept"))
  }

  /** Oracle SQL mirroring `RollingHashMinima.winnow`: k-gram polynomial
    * hashes (base 257 mod 2^61−1 — direct sum equals the rolling form
    * since 257^(k−1) < the modulus) and minima over every full window of
    * `w` grams (one global window when a doc has ≤ w grams). Documents
    * are pure ASCII, so `ascii(substr(...))` equals the byte the Spark
    * kernel hashes.
    */
  private def winnowOracleSql(k: Int, w: Int): String = {
    val Mod = (BigInt(1) << 61) - 1
    val terms = (0 until k).map { j =>
      s"ascii(substr(text, i + $j, 1)) * ${BigInt(257).pow(k - 1 - j)}::HUGEINT"
    }.mkString(" + ")
    s"""WITH g0 AS (
       |  SELECT doc_id, text, unnest(range(1, length(text) - ${k - 2})) AS i
       |  FROM documents),
       |g AS (SELECT doc_id, i, ($terms) % $Mod AS h FROM g0),
       |mins AS (
       |  SELECT doc_id, i,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS m,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM g),
       |fps AS (SELECT DISTINCT doc_id, m FROM mins
       |        WHERE i <= greatest(ng - ${w - 1}, 1)),
       |agg AS (SELECT doc_id, count(*) AS nf,
       |               min(m) AS min_fp, max(m) AS max_fp
       |        FROM fps GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(a.nf, 0) AS BIGINT) AS n_fingerprints,
       |  CAST(a.min_fp AS BIGINT) AS min_fp, CAST(a.max_fp AS BIGINT) AS max_fp
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
  }

  /** Per-document average add-one-smoothed bigram log-probability
    * (doc_id, avg_logp, n_bigrams) — the kernel of
    * `text_bigram_logprob` and `text_perplexity_bucket`. One token
    * explode feeds both the model counts and the scoring join; the
    * unigram table joins the aggregated BIGRAM frame (|vocab|² ≫
    * |vocab| — the small side joins the model, never the corpus stream
    * twice); both model frames are corpus-derived ⇒ unhinted, only the
    * scalar V broadcasts. The trailing count(w1) for the final word of
    * each doc is included in c(w1) exactly as the oracle counts it.
    */
  private def bigramLogprob(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docs = Par.fanOut(d)
    val toks = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val grams = docs
      .select(col("doc_id"), explode(Dedup.kgrams(col("text"), 2)).as("g2"))
    val c1 = toks.groupBy(col("word")).agg(count(lit(1)).as("n1"))
    val c2 = grams.groupBy(col("g2")).agg(count(lit(1)).as("n2"))
    val v = broadcast(c1.agg(count(lit(1)).as("v")))
    val m = c2
      .join(c1, split(col("g2"), " ")(0) === col("word"))
      .select(col("g2"), col("n2"), col("n1"))
    grams.join(m, Seq("g2"))
      .crossJoin(v)
      .groupBy(col("doc_id"))
      .agg(
        round(avg(log((col("n2").cast("double") + 1) / (col("n1") + col("v")))), 4)
          .as("avg_logp"),
        count(lit(1)).as("n_bigrams"))
  }

  /** The structured-PII categories: (name, detection pattern, mask
    * token). Patterns stay in the Java-regex ∩ RE2 subset (\b, \d,
    * bounded repeats) so the Spark expression and the DuckDB oracle
    * match the same spans; the Seq order is the MASKING order, applied
    * identically in both engines.
    */
  private[graft] val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,4}",
      "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("id", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<ID>"))

  /** The gate's deterministic PII plant over `text`/`doc_id`:
    * md5(doc_id)-gated categories with values derived from doc_id, so
    * both engines recompute the identical augmented body (the
    * construct-the-signal pattern — the corpus itself carries no PII).
    * Category payloads are mutually non-matching (the email value has
    * no dotted-digit runs, the dashed-digit shapes can't prefix into
    * each other across their \b boundaries).
    */
  /** The markup scaffold the `text_extract` gate plants around the
    * md5-gated half's text (shared verbatim with the oracle literal):
    * style + script to drop, a link-only nav div and link-only list
    * items to fail the link-density filter, the document body as the
    * surviving content block, and an entity-carrying footer block.
    */
  private[graft] val MarkupPre: String =
    "<html><head><style>body{margin:0}</style>" +
      "<script>for(var i=0;i<3;i++){track(i);}</script></head>" +
      "<!-- layout a>b --><body>" +
      "<div id=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
      "<a href=\"/b\">More</a></div><p>"
  private[graft] val MarkupPost: String =
    "</p><ul><li><a href=\"/x\">x</a></li><li><a href=\"/y\">y</a></li>" +
      "</ul><p>Footer &amp; contact &lt;info&gt;</p></body></html>"

  /** HTML/markup extraction — the stage a crawled corpus runs before
    * everything else in this module (trafilatura shape, from scratch):
    * (1) drop `<script>`/`<style>` elements wholesale (cross-char
    * non-greedy bodies — scripts containing '<' count) and `<!-- -->`
    * comments; (2) split on
    * block-level tags (`p div li h1-6 br`); (3) per block, strip tags,
    * collapse whitespace, and compute LINK DENSITY — total `<a>` anchor
    * text over block text — dropping empty blocks and blocks that are
    * ≥ half link text (nav/menu/footer boilerplate); (4) rejoin the
    * survivors in document order, unescape the core entities
    * (`&lt; &gt; &amp;`, ampersand last), collapse again. Every step is
    * integer/regex arithmetic the oracle restates in RE2-compatible
    * SQL. Already-clean text passes through unchanged (single block,
    * zero links — the idempotence contract pinned in OperatorsSpec).
    *
    * Scale shape: pure map work plus ONE doc_id-keyed reassembly
    * aggregate whose per-key state is the document's own block list —
    * no corpus-wide shuffle, no window. Input `(doc_id, t2)`; output
    * `(doc_id, t2, ext)`.
    */
  def extractHtml(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // Element bodies use non-greedy CROSS-char matches ((?s).*?), not
    // [^<]*: real-world scripts contain '<' (for(i=0;i<n;i++)) and the
    // wholesale-drop contract must hold for them, not just for bodies
    // that happen to avoid the character. HTML comments are stripped
    // too (a '>' inside a comment would otherwise split the comment
    // across the tag-strip rule and leak its tail as text). Order —
    // script, style, comments — is shared with the oracle.
    val noScript = regexp_replace(regexp_replace(regexp_replace(col("t2"),
      "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    val blocks = docs.select(col("doc_id"),
      posexplode(split(noScript, "</?(p|div|li|h[1-6]|br)[^>]*>"))
        .as(Seq("i", "blk")))
    val scored = blocks.select(col("doc_id"), col("i"),
      trim(regexp_replace(regexp_replace(col("blk"), "<[^>]*>", " "),
        " +", " ")).as("clean"),
      coalesce(aggregate(transform(
        regexp_extract_all(col("blk"), lit("<a[^>]*>([^<]*)</a>"),
          lit(1)),
        x => length(x)), lit(0), (a, x) => a + x), lit(0)).as("alen"))
    val cat = scored
      .filter(length(col("clean")) > 0 &&
        col("alen") * 2 <= length(col("clean")))
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("i"), col("clean")))),
        p => p("clean")), " ").as("cat"))
    docs.join(cat, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t2"),
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          coalesce(col("cat"), lit("")),
          "&lt;", "<"), "&gt;", ">"), "&amp;", "&"), " +", " "))
          .as("ext"))
  }

  private[graft] def piiAugmented: Column = {
    val h = md5(col("doc_id").cast("string"))
    val id = col("doc_id")
    concat(
      col("text"),
      when(substring(h, 1, 1).between("0", "7"),
        concat(lit(" contact user"), id.cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
      when(substring(h, 2, 1).between("0", "7"),
        concat(lit(" host 10."), (id % 200).cast("string"), lit("."),
          (id % 13).cast("string"), lit("."),
          (id % 251).cast("string"))).otherwise(lit("")),
      when(substring(h, 3, 1).between("0", "3"),
        concat(lit(" call 555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(substring(h, 4, 1).between("0", "1"),
        concat(lit(" ref 123-45-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
  }

  /** All four category masks applied in [[PiiPatterns]] order. */
  private[graft] def piiMasked(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (_, pat, tok)) =>
      regexp_replace(acc, pat, tok)
    }

  /** Sorted distinct characters of `t` (Spark's regex split on ""
    * keeps a trailing empty element — removed so the entropy fold and
    * the oracle's string_split('') see the same alphabet).
    */
  def distinctChars(t: Column): Column =
    array_sort(array_distinct(array_remove(split(t, ""), "")))

  /** Character-level Shannon entropy (bits/char), 4-dp rounded. The
    * per-char count is length(t) − length(replace(t, ch)) — exact
    * integer arithmetic, no second tokenization — and the -Σ p·log2 p
    * fold runs left-to-right over [[distinctChars]] so the float
    * summation order is engine-independent.
    */
  def charEntropy(t: Column): Column = {
    val n = length(t).cast("double")
    def p(ch: Column): Column =
      (length(t) - length(replace(t, ch, lit("")))).cast("double") / n
    // p evaluated ONCE per char: higher-order-function lambdas are
    // interpreted (no codegen subexpression elimination inside them),
    // so `p(ch) * log2(p(ch))` literally ran the O(|t|) replace-scan
    // twice per distinct char. Mapping to the p array first halves the
    // string scans; same doubles, same product, same fold order —
    // bit-identical output (guide §1.2 step 2: per-task work).
    val ps = transform(distinctChars(t), ch => p(ch))
    val terms = transform(ps, x => x * log2(x))
    round(-aggregate(terms, lit(0.0), (acc, x) => acc + x), 4)
  }

  /** Content-defined chunks of a document (CDC — the rsync/dedup-store
    * boundary trick applied to words): a chunk ends after every word
    * whose md5 starts with '0' (expected chunk length 16 words), so the
    * SAME word run chunks the SAME way wherever it appears — shifting a
    * document's prefix does not re-chunk its tail, which is what makes
    * chunk hashes comparable ACROSS documents (fixed-width windows
    * lose alignment after one inserted word). Built as one in-row fold
    * over the word array: chunking costs zero shuffle, and md5 is the
    * boundary hash so the DuckDB oracle reproduces the cuts exactly.
    */
  def cdcChunks(text: Column): Column = {
    val ws = words(text)
    aggregate(
      ws,
      struct(typedLit(Seq.empty[String]).as("done"), lit("").as("cur")),
      (acc, w) => {
        val cur2 = when(acc("cur") === "", w)
          .otherwise(concat(acc("cur"), lit(" "), w))
        val cut = md5(w).startsWith("0")
        struct(
          when(cut, concat(acc("done"), array(cur2)))
            .otherwise(acc("done")).as("done"),
          when(cut, lit("")).otherwise(cur2).as("cur"))
      },
      acc => when(acc("cur") === "", acc("done"))
        .otherwise(concat(acc("done"), array(acc("cur")))))
  }

  /** Multinomial Naive Bayes language classifier — train on the
    * doc_id % 5 ≠ 4 split, score the % 5 = 4 holdout. See the
    * `text_nb_langid` QuerySpec comment for the full design; the short
    * version: training is one token-keyed aggregation pass (closed-form,
    * no iteration), scoring sums 1e-6-scaled BIGINT log-likelihood
    * surrogates (order-free integer arithmetic — cross-engine exact),
    * unseen tokens take the per-lang smoothed default so the model join
    * carries only observed (lang, token) rows, and the argmax tie-breaks
    * on lang ascending. Semantics pinned in OperatorsSpec (hand-computed
    * planted model where NB provably separates, exact-tie fixture). On
    * the driver's synthetic corpus the lang labels are content-
    * independent, so holdout accuracy sits at the majority prior — the
    * gate certifies the OPERATOR (exact scores, exact argmax), and the
    * planted-corpus spec certifies that it learns when there is signal.
    */
  def nbLangid(docs: DataFrame): DataFrame = {
    val (model, langs) = nbModelFrames(docs.filter(col("doc_id") % 5 =!= 4))
    nbClassify(docs.filter(col("doc_id") % 5 === 4), model, langs)
  }

  /** Fit the NB model on a labeled `(doc_id, lang, text)` frame: returns
    * (model = (lang, tok, c, l_i), langs = (lang, dl, t, v, dd, prior_i,
    * def_i)) — the two frames [[nbClassify]] consumes (it reads only the
    * integer surrogates) and exactly what [[ensureNbModel]] persists.
    * The RAW sufficient statistics (c, dl, t, v, dd) ride along because
    * they are what makes the model family EXACTLY maintainable: counts
    * are subtractable, so [[nbForget]] can unlearn a document set
    * decrementally and land bit-identically on the from-scratch refit —
    * the closed-form-model property no SGD classifier has.
    */
  def nbModelFrames(train: DataFrame): (DataFrame, DataFrame) = {
    val trainToks = Par.fanOut(train)
      .select(col("lang"), explode(words(col("text"))).as("tok"))
    val cnt = trainToks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val priors = train.groupBy(col("lang")).agg(count(lit(1)).as("dl"))
    nbFinalize(cnt, priors)
  }

  /** The fit's FINALIZE stage: sufficient statistics → integer
    * log-likelihood surrogates. Shared verbatim by the from-scratch fit
    * and the decremental [[nbForget]], so the two paths cannot drift.
    * `cnt` = (lang, tok, c > 0), `priors` = (lang, dl).
    */
  private def nbFinalize(cnt: DataFrame,
      priors: DataFrame): (DataFrame, DataFrame) = {
    // Group-less scalars (vocab size, train doc count) — true scalars at
    // any corpus size, so the cross joins below are 1-row broadcasts.
    val vocab = cnt.select(col("tok")).distinct().agg(count(lit(1)).as("v"))
    val dTot = priors.agg(sum(col("dl")).as("dd"))
    val langTot = cnt.groupBy(col("lang")).agg(sum(col("c")).as("t"))
    // ≤ |langs| rows: prior + smoothed-zero default per language.
    val langs = langTot.join(priors, Seq("lang"))
      .crossJoin(vocab).crossJoin(dTot)
      .select(col("lang"), col("dl"), col("t"), col("v"), col("dd"),
        round(log(col("dl").cast("double") / col("dd")) * 1e6)
          .cast("long").as("prior_i"),
        round(log(lit(1.0) / (col("t") + col("v"))) * 1e6)
          .cast("long").as("def_i"))
    // The model: observed (lang, token) smoothed log-likelihoods as
    // 1e-6-scaled integers. Corpus-derived cardinality ⇒ never hinted.
    val model = cnt.join(langTot, Seq("lang")).crossJoin(vocab)
      .select(col("lang"), col("tok"), col("c"),
        round(log((col("c") + 1).cast("double") / (col("t") + col("v")))
          * 1e6).cast("long").as("l_i"))
    (model, langs)
  }

  /** EXACT unlearning: remove `forget` (a labeled `(doc_id, lang, text)`
    * frame) from a fitted model WITHOUT touching the rest of the train
    * corpus — subtract its per-(lang, token) counts and per-lang doc
    * counts from the persisted sufficient statistics, drop zeroed rows
    * (vocabulary shrinks exactly like a refit's would), and re-finalize
    * through the same [[nbFinalize]] kernel. Bit-identical to the
    * from-scratch refit on train ∖ forget (gated by `text_nb_forgotten`
    * against the refit ORACLE, and spec-pinned frame-for-frame) at the
    * cost of scoring only the FORGOTTEN docs — the right-to-be-forgotten
    * path for a model whose training corpus no longer fits a refit
    * window.
    */
  def nbForget(model: DataFrame, langs: DataFrame,
      forget: DataFrame): (DataFrame, DataFrame) = {
    val fCnt = Par.fanOut(forget)
      .select(col("lang"), explode(words(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("fc"))
    val cnt = model.select(col("lang"), col("tok"), col("c"))
      .join(fCnt, Seq("lang", "tok"), "left")
      .select(col("lang"), col("tok"),
        (col("c") - coalesce(col("fc"), lit(0L))).as("c"))
      .filter(col("c") > 0)
    val fDocs = forget.groupBy(col("lang")).agg(count(lit(1)).as("fdl"))
    val priors = langs.select(col("lang"), col("dl"))
      .join(fDocs, Seq("lang"), "left")
      .select(col("lang"),
        (col("dl") - coalesce(col("fdl"), lit(0L))).as("dl"))
      .filter(col("dl") > 0)
    // Pin the folded statistics ONCE: nbFinalize reads cnt three ways
    // (vocab scalar, per-lang totals, the model map) — without the pin
    // each reader replays the subtraction join. The pinned frame is
    // model-sized (vocab × langs), exactly what a production fold
    // persists anyway.
    // the two model pins are independent eager jobs — overlap them
    val Seq(cntP, priorsP) = Par.buildAll(Seq(cnt, priors))(_.localCheckpoint())
    nbFinalize(cntP, priorsP)
  }

  /** Score a `(doc_id, lang, text)` frame against a fitted NB model —
    * the frozen-model arithmetic shared by the batch gates, the
    * persisted-model serve and the streaming classify (same kernel per
    * micro-batch). The input's `lang` column rides through as
    * `true_lang`; prediction uses only `text`.
    */
  def nbClassify(docs: DataFrame, model: DataFrame,
      langs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // Tokens with multiplicity, collapsed to (doc, tok, k) so the model
    // join carries one row per distinct token, not per occurrence.
    val docToks = Par.fanOut(docs)
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
    val seen = docToks.join(model, Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("k") * col("l_i")).as("seen_sum"),
        sum(col("k")).as("seen_k"))
    // langs is ≤ |distinct labels| rows but still corpus-DERIVED, so it
    // joins UNHINTED per the repo-wide rule (the planner's size check
    // broadcasts it at any sane scale; a pathological label column
    // degrades gracefully instead of OOMing a forced broadcast).
    val scored = docs
      .select(col("doc_id"), col("lang").as("true_lang"),
        size(words(col("text"))).cast("long").as("n_toks"))
      .crossJoin(langs)
      .join(seen, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("true_lang"), col("lang"),
        (col("prior_i") + coalesce(col("seen_sum"), lit(0L)) +
          (col("n_toks") - coalesce(col("seen_k"), lit(0L))) * col("def_i"))
          .as("nb_score"))
    scored
      .withColumn("rn", row_number().over(w.partitionBy(col("doc_id"))
        .orderBy(col("nb_score").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("true_lang"),
        col("lang").as("pred_lang"), col("nb_score"))
  }

  /** EXACT incremental training — [[nbForget]]'s mirror: fold a NEW
    * labeled document batch into a fitted model by ADDING its
    * per-(lang, token) counts and per-lang doc counts to the persisted
    * sufficient statistics (full-outer on the key: unseen tokens and
    * new languages create rows), then re-finalize through the same
    * [[nbFinalize]] kernel. Bit-identical to the from-scratch refit on
    * train ∪ increment at the cost of counting only the INCREMENT —
    * with nbForget this closes the lifecycle triangle (fit / grow /
    * forget), all three landing on the same finalize arithmetic.
    */
  def nbGrow(model: DataFrame, langs: DataFrame,
      increment: DataFrame): (DataFrame, DataFrame) = {
    val gCnt = Par.fanOut(increment)
      .select(col("lang"), explode(words(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("gc"))
    val cnt = model.select(col("lang"), col("tok"), col("c"))
      .join(gCnt, Seq("lang", "tok"), "full_outer")
      .select(col("lang"), col("tok"),
        (coalesce(col("c"), lit(0L)) + coalesce(col("gc"), lit(0L)))
          .as("c"))
    val gDocs = increment.groupBy(col("lang")).agg(count(lit(1)).as("gdl"))
    val priors = langs.select(col("lang"), col("dl"))
      .join(gDocs, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("dl"), lit(0L)) + coalesce(col("gdl"), lit(0L)))
          .as("dl"))
    // Same pin as nbForget: one materialization of the addition fold.
    // the two model pins are independent eager jobs — overlap them
    val Seq(cntP, priorsP) = Par.buildAll(Seq(cnt, priors))(_.localCheckpoint())
    nbFinalize(cntP, priorsP)
  }

  /** Build-if-absent the PERSISTED NB model for `d` (model/ + langs/
    * sides under one published root, the BPE-model convention): the
    * train-once-serve-many lifecycle — `text_nb_indexed` and the
    * streaming classify read these frames and never re-scan train text.
    */
  def ensureNbModel(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val root = new org.apache.hadoop.fs.Path(Fixture.root(s, d, "graft_nb_model"))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.ensurePublishedDir(s, root.toString)(r =>
      Seq("model", "langs").forall(side => fs.exists(
        new org.apache.hadoop.fs.Path(r, side + "/_SUCCESS"))) &&
        // Schema gate: the persisted shape is part of the contract
        // (nbForget needs the raw counts) — a root written by an older
        // code version rebuilds instead of serving stale frames.
        scala.util.Try(
          s.read.parquet(s"$r/model").columns.toSet
            == Set("lang", "tok", "c", "l_i") &&
          s.read.parquet(s"$r/langs").columns.toSet
            == Set("lang", "dl", "t", "v", "dd", "prior_i", "def_i"))
          .getOrElse(false)
    ) { staging =>
      val (model, langs) = nbModelFrames(
        Tables.documents(s, d).filter(col("doc_id") % 5 =!= 4))
      model.write.parquet(s"$staging/model")
      langs.coalesce(1).write.parquet(s"$staging/langs")
    }
  }

  /** Model-root time travel: NB model VERSIONS as ledgered commits.
    * Model states are FULL checkpoints under the family-generic
    * [[graft.index.ModelLedger]] dialect (which this family pioneered
    * before it was factored out): `model/seed` + `langs/seed` hold the
    * initial fit, each [[growNbModelCommit]] lands the GROWN frames as
    * one ledgered version, and the as-of read picks the newest
    * committed dirs ≤ the horizon. A model version is model-sized
    * (vocab × langs), which is what a production fold persists anyway
    * (see nbForget's pin); [[vacuumNbModel]] reclaims old versions
    * floor-bounded. What's family-SPECIFIC here is how a version is
    * produced: [[nbGrow]] is algebraically exact, so each version is
    * bit-identical to the from-scratch fit on its cumulative slice —
    * the property `text_nb_asof` gates.
    */
  private[graft] def modelProtocol(path: String) =
    graft.index.ModelLedger.protocol(path)

  /** Initial fit of a ledgered NB model root (commit 0, no ledger
    * entry — the seed convention).
    */
  def initLedgeredNbModel(train: DataFrame, root: String): Unit = {
    val (model, langs) = nbModelFrames(train)
    graft.index.ModelLedger.initSeed(root,
      Seq("model" -> model, "langs" -> langs.coalesce(1)))
  }

  /** Fold a labeled increment into the ledgered model EXACTLY ONCE
    * under replay: [[nbGrow]] from the newest committed version, the
    * grown frames land as `b<commitId>` dirs on both sides, one ledger
    * commit. Cost ∝ the increment plus one model-sized write — the
    * nbGrow contract, now with a versioned history.
    */
  def growNbModelCommit(s: org.apache.spark.sql.SparkSession,
      root: String, increment: DataFrame, commitId: Long): Boolean = {
    val (m0, l0) = readNbModelAsOf(s, root, Long.MaxValue)
    val (m1, l1) = nbGrow(m0, l0, increment)
    graft.index.ModelLedger.commitVersion(root, commitId,
      Seq("model" -> m1, "langs" -> l1.coalesce(1)))
  }

  /** The model exactly as it stood after ledger commit `asOf` — the
    * [[graft.index.ModelLedger]] full-state read per side, honesty
    * guards included (a vacuum that reclaimed the horizon refuses
    * rather than serving a newer model as an older one).
    */
  def readNbModelAsOf(s: org.apache.spark.sql.SparkSession,
      root: String, asOf: Long): (DataFrame, DataFrame) =
    (graft.index.ModelLedger.readSideAsOf(s, root, "model", asOf),
      graft.index.ModelLedger.readSideAsOf(s, root, "langs", asOf))

  /** Floor-bounded retention for the model ledger — the
    * [[graft.index.ModelLedger]] full-state resolution (c<floor> =
    * the newest version ≤ floor). Value-gated by `text_nb_vacuum`.
    */
  def vacuumNbModel(s: org.apache.spark.sql.SparkSession,
      root: String, floorRequested: Long): Boolean =
    graft.index.ModelLedger.vacuum(s, root,
      Seq("model", "langs"), floorRequested)

  /** Build-if-absent the ledgered-model gate fixture: the train split
    * (doc_id % 5 ≠ 4) lands in three versions — seed on the % 3 = 1
    * third, b1 grows in % 3 = 2, b2 grows in % 3 = 0 — so horizon 2's
    * model is bit-identical to the from-scratch full-train fit (the
    * text_nb_grown contract, now with every intermediate version
    * servable).
    */
  def ensureLedgeredNbModel(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val root = Fixture.root(s, d, "graft_nb_ledger")
    Layout.ensurePublishedDir(s, root)(r =>
      modelProtocol(r).foldedBatches() == Set(1L, 2L)
    ) { staging =>
      val train = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 4)
      initLedgeredNbModel(train.filter(col("doc_id") % 3 === 1), staging)
      growNbModelCommit(s, staging,
        train.filter(col("doc_id") % 3 === 2), 1L)
      growNbModelCommit(s, staging,
        train.filter(col("doc_id") % 3 === 0), 2L)
    }
    root
  }

  /** Build-if-absent the VACUUMED-model gate fixture: the ledgered
    * lifecycle then [[vacuumNbModel]] at floor 1 — the seed version
    * reclaimed, horizons 1 and 2 serving unchanged.
    */
  def ensureVacuumedNbModel(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val root = Fixture.root(s, d, "graft_nb_vacuum")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.ensurePublishedDir(s, root)(r =>
      modelProtocol(r).foldedBatches() == Set(1L, 2L) &&
        fs.exists(new org.apache.hadoop.fs.Path(
          s"${modelProtocol(r).dir("model")}/c1", "_SUCCESS")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(
          s"${modelProtocol(r).dir("model")}/seed"))
    ) { staging =>
      val train = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 4)
      initLedgeredNbModel(train.filter(col("doc_id") % 3 === 1), staging)
      growNbModelCommit(s, staging,
        train.filter(col("doc_id") % 3 === 2), 1L)
      growNbModelCommit(s, staging,
        train.filter(col("doc_id") % 3 === 0), 2L)
      vacuumNbModel(s, staging, 1L)
    }
    root
  }

  /** The per-horizon train predicates of the model-ledger gates: each
    * horizon's model is bit-identical to a from-scratch fit on its
    * cumulative train slice, so the oracle is [[nbOracle]] per slice.
    */
  private val nbAsofHorizons: Seq[(Int, String)] = Seq(
    0 -> "doc_id % 5 <> 4 AND doc_id % 3 = 1",
    1 -> "doc_id % 5 <> 4 AND doc_id % 3 <> 0",
    2 -> "doc_id % 5 <> 4")

  private def nbAsofOracleSql(horizons: Seq[(Int, String)]): String =
    horizons.map { case (h, w) =>
      s"SELECT CAST($h AS BIGINT) AS horizon, * FROM (\n${nbOracle(w)})"
    }.mkString("\nUNION ALL\n")

  /** The Spark side of the model-ledger gates: classify the holdout
    * under each horizon's served model.
    */
  private def nbAsofFrames(s: org.apache.spark.sql.SparkSession,
      root: String, d: String,
      horizons: Seq[(Int, String)]): DataFrame = {
    val test = Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
    Par.buildAll(horizons) { case (h, _) =>
      val (m, l) = readNbModelAsOf(s, root, h.toLong)
      nbClassify(test, m, l)
        .select(lit(h.toLong).as("horizon"), col("doc_id"),
          col("true_lang"), col("pred_lang"), col("nb_score"))
    }.reduce(_.unionByName(_))
  }

  /** Interpolated Kneser–Ney bigram document scoring — see the
    * `text_kn_logprob` QuerySpec comment. Model = one bigram-type frame
    * (c2) folded three ways: prefix totals + distinct-continuation
    * counts (pre), distinct-context counts (cont), scalar type total.
    * Same one-explode-feeds-model-and-scoring shape as
    * [[bigramLogprob]]; all model frames corpus-derived ⇒ unhinted,
    * only the scalar type total broadcasts.
    */
  private[graft] def knLogprob(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docs = Par.fanOut(d)
    val grams = docs
      .select(col("doc_id"), explode(Dedup.kgrams(col("text"), 2)).as("g2"))
    val c2 = grams.groupBy(col("g2")).agg(count(lit(1)).as("n2"))
    val sp = c2.select(col("g2"), col("n2"),
      split(col("g2"), " ")(0).as("w1"), split(col("g2"), " ")(1).as("w2"))
    val pre = sp.groupBy(col("w1"))
      .agg(sum(col("n2")).as("cw1"), count(lit(1)).as("nf"))
    val cont = sp.groupBy(col("w2")).agg(count(lit(1)).as("np"))
    val tt = broadcast(c2.agg(count(lit(1)).as("t")))
    val m = sp.join(pre, Seq("w1")).join(cont, Seq("w2")).crossJoin(tt)
      .select(col("g2"),
        ((col("n2") - 0.75) / col("cw1") +
          lit(0.75) * col("nf") / col("cw1") *
            (col("np") / col("t").cast("double"))).as("p"))
    grams.join(m, Seq("g2"))
      .groupBy(col("doc_id"))
      .agg(round(avg(log(col("p"))), 4).as("avg_logp"),
        count(lit(1)).as("n_bigrams"))
  }

  /** The NB classification oracle, parameterized ONLY by the train-split
    * predicate (one interpolation point, no substring surgery): shared
    * VERBATIM by `text_nb_langid` (direct) and `text_nb_indexed`
    * (persisted-model serve), and with the forget-set excluded by
    * `text_nb_forgotten` — whose oracle is thus the from-scratch REFIT,
    * the exact-unlearning contract.
    */
  private def nbOracle(trainWhere: String): String =
    s"""WITH train AS (SELECT * FROM documents WHERE $trainWhere),
      |test AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
      |tt AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |       FROM train),
      |cnt AS (SELECT lang, tok, count(*) AS c FROM tt GROUP BY 1, 2),
      |v AS (SELECT count(DISTINCT tok) AS v FROM tt),
      |lt AS (SELECT lang, sum(c) AS t FROM cnt GROUP BY 1),
      |pr AS (SELECT lang, count(*) AS dl FROM train GROUP BY 1),
      |dd AS (SELECT count(*) AS dd FROM train),
      |langs AS (
      |  SELECT lt.lang, lt.t,
      |    CAST(round(ln(CAST(pr.dl AS DOUBLE) / dd.dd) * 1e6) AS BIGINT)
      |      AS prior_i,
      |    CAST(round(ln(1.0 / (lt.t + v.v)) * 1e6) AS BIGINT) AS def_i
      |  FROM lt JOIN pr USING (lang), v, dd),
      |model AS (
      |  SELECT cnt.lang, cnt.tok,
      |    CAST(round(ln(CAST(cnt.c + 1 AS DOUBLE) / (lt.t + v.v)) * 1e6)
      |      AS BIGINT) AS l_i
      |  FROM cnt JOIN lt USING (lang), v),
      |ttoks AS (
      |  SELECT doc_id, tok, count(*) AS k
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM test) GROUP BY 1, 2),
      |seen AS (
      |  SELECT q.doc_id, m.lang,
      |    sum(q.k * m.l_i) AS seen_sum, sum(q.k) AS seen_k
      |  FROM ttoks q JOIN model m ON m.tok = q.tok GROUP BY 1, 2),
      |scored AS (
      |  SELECT te.doc_id, te.lang AS true_lang, l.lang,
      |    CAST(l.prior_i + coalesce(s.seen_sum, 0) +
      |      (CAST(len(string_split(te.text, ' ')) AS BIGINT)
      |        - coalesce(s.seen_k, 0)) * l.def_i AS BIGINT) AS nb_score
      |  FROM test te CROSS JOIN langs l
      |  LEFT JOIN seen s ON s.doc_id = te.doc_id AND s.lang = l.lang)
      |SELECT doc_id, true_lang, lang AS pred_lang, nb_score
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY nb_score DESC, lang) AS rn FROM scored)
      |WHERE rn = 1""".stripMargin

  private val nbOracleSql: String = nbOracle("doc_id % 5 <> 4")

  val specs: Seq[QuerySpec] = Seq(

    // Per-rule quality attribution (the Gopher/C4 rule pack): every
    // named rule is its own value-gated column plus a 0/1 verdict, and
    // `reason` names the FIRST failed rule — the blended qualityScore
    // tells you a doc is bad, this tells the audit WHY. Pure per-row
    // SQL oracle.
    QuerySpec(
      "doc_quality_rules",
      s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
         |    length(text) AS nc, string_split(text, chr(10)) AS ls
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS word_count,
         |    round((nc - len(ws) + 1.0) / len(ws), 4) AS mean_word_len,
         |    round((nc - length(replace(replace(text, '#', ''), '…', '')))
         |      * 1.0 / len(ws), 4) AS symbol_ratio,
         |    round(len(list_filter(ls,
         |        l -> l LIKE '- %' OR l LIKE '* %')) * 1.0 / len(ls), 4)
         |      AS bullet_ratio,
         |    round(len(list_filter(ls,
         |        l -> l LIKE '%...' OR l LIKE '%…')) * 1.0 / len(ls), 4)
         |      AS ellipsis_ratio,
         |    CAST(len(list_filter(ws, x -> x IN (${Stopwords
               .map("'" + _ + "'").mkString(", ")}))) AS BIGINT)
         |      AS stop_count
         |  FROM w),
         |f AS (SELECT *,
         |    CASE WHEN word_count BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS wc_ok,
         |    CASE WHEN mean_word_len BETWEEN 3.0 AND 4.6 THEN 1 ELSE 0 END AS mwl_ok,
         |    CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS symbol_ok,
         |    CASE WHEN bullet_ratio <= 0.9 THEN 1 ELSE 0 END AS bullet_ok,
         |    CASE WHEN ellipsis_ratio <= 0.3 THEN 1 ELSE 0 END AS ellipsis_ok,
         |    CASE WHEN stop_count >= 2 THEN 1 ELSE 0 END AS stop_ok
         |  FROM m)
         |SELECT doc_id, word_count, mean_word_len, symbol_ratio,
         |  bullet_ratio, ellipsis_ratio, stop_count,
         |  CAST(wc_ok AS BIGINT) AS wc_ok, CAST(mwl_ok AS BIGINT) AS mwl_ok,
         |  CAST(symbol_ok AS BIGINT) AS symbol_ok,
         |  CAST(bullet_ok AS BIGINT) AS bullet_ok,
         |  CAST(ellipsis_ok AS BIGINT) AS ellipsis_ok,
         |  CAST(stop_ok AS BIGINT) AS stop_ok,
         |  CASE WHEN wc_ok = 0 THEN 'word_count'
         |       WHEN mwl_ok = 0 THEN 'mean_word_length'
         |       WHEN symbol_ok = 0 THEN 'symbol_ratio'
         |       WHEN bullet_ok = 0 THEN 'bullet_lines'
         |       WHEN ellipsis_ok = 0 THEN 'ellipsis_lines'
         |       WHEN stop_ok = 0 THEN 'stop_words'
         |       ELSE 'kept' END AS reason
         |FROM f""".stripMargin) { (s, d) =>
      qualityRules(Tables.documents(s, d))
    },

    // Repetition filters (the Gopher §A1.1 repetition signals): a doc
    // dominated by one word or one bigram, or with a collapsed
    // distinct-word ratio, is boilerplate/spam however good its other
    // quality stats. Per doc: the most frequent word and bigram (count
    // tie broken on the larger string — deterministic in both
    // engines), their share of the token stream, the distinct-word
    // ratio, a 0/1 verdict per signal, and the first failed signal's
    // name. Two shuffles, both keyed by doc_id (token counts, gram
    // counts) with map-side combine; the per-doc argmax is one
    // struct-max aggregate, no window.
    QuerySpec(
      "doc_repetition",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |n AS (SELECT doc_id, len(ws) AS nw FROM w),
        |t AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |c AS (SELECT doc_id, word, count(*) AS cnt FROM t GROUP BY 1, 2),
        |tw AS (SELECT doc_id, word AS top_word, cnt AS top_cnt FROM (
        |   SELECT doc_id, word, cnt,
        |     row_number() OVER (PARTITION BY doc_id
        |                        ORDER BY cnt DESC, word DESC) AS rn
        |   FROM c) WHERE rn = 1),
        |nd AS (SELECT doc_id, count(*) AS ndist FROM c GROUP BY 1),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, greatest(len(ws), 1)),
        |          i -> ws[i] || ' ' || ws[i+1])) AS gm
        |      FROM w),
        |gc AS (SELECT doc_id, gm, count(*) AS cnt FROM g GROUP BY 1, 2),
        |tg AS (SELECT doc_id, gm AS top_bigram, cnt AS tg_cnt FROM (
        |   SELECT doc_id, gm, cnt,
        |     row_number() OVER (PARTITION BY doc_id
        |                        ORDER BY cnt DESC, gm DESC) AS rn
        |   FROM gc) WHERE rn = 1),
        |f AS (SELECT n.doc_id, CAST(nw AS BIGINT) AS n_words, top_word,
        |    round(top_cnt * 1.0 / nw, 4) AS top_share,
        |    top_bigram,
        |    round(tg_cnt * 1.0 / greatest(nw - 1, 1), 4) AS bigram_share,
        |    round(ndist * 1.0 / nw, 4) AS distinct_ratio
        |  FROM n JOIN tw USING (doc_id) JOIN nd USING (doc_id)
        |         JOIN tg USING (doc_id))
        |SELECT *,
        |  CAST(CASE WHEN top_share <= 0.12 THEN 1 ELSE 0 END AS BIGINT)
        |    AS word_ok,
        |  CAST(CASE WHEN bigram_share <= 0.05 THEN 1 ELSE 0 END AS BIGINT)
        |    AS bigram_ok,
        |  CAST(CASE WHEN distinct_ratio >= 0.35 THEN 1 ELSE 0 END AS BIGINT)
        |    AS distinct_ok,
        |  CASE WHEN top_share > 0.12 THEN 'top_word'
        |       WHEN bigram_share > 0.05 THEN 'top_bigram'
        |       WHEN distinct_ratio < 0.35 THEN 'distinct_ratio'
        |       ELSE 'kept' END AS reason
        |FROM f""".stripMargin) { (s, d) =>
      val docs = Par.fanOut(Tables.documents(s, d))
      val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
        .select(col("doc_id"), col("ws"), size(col("ws")).as("nw"))
      val wc = base
        .select(col("doc_id"), explode(col("ws")).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("cnt"))
      val topWord = wc.groupBy(col("doc_id"))
        .agg(max(struct(col("cnt"), col("word"))).as("m"),
          count(lit(1)).as("ndist"))
        .select(col("doc_id"), col("m.word").as("top_word"),
          col("m.cnt").as("top_cnt"), col("ndist"))
      val topGram = docs
        .select(col("doc_id"),
          explode(Dedup.kgrams(col("text"), 2)).as("gm"))
        .groupBy(col("doc_id"), col("gm"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(max(struct(col("cnt"), col("gm"))).as("m"))
        .select(col("doc_id"), col("m.gm").as("top_bigram"),
          col("m.cnt").as("tg_cnt"))
      base.select(col("doc_id"), col("nw"))
        .join(topWord, Seq("doc_id"))
        .join(topGram, Seq("doc_id"))
        .select(col("doc_id"), col("nw").cast("long").as("n_words"),
          col("top_word"),
          round(col("top_cnt").cast("double") / col("nw"), 4)
            .as("top_share"),
          col("top_bigram"),
          round(col("tg_cnt").cast("double") /
            greatest(col("nw") - 1, lit(1)), 4).as("bigram_share"),
          round(col("ndist").cast("double") / col("nw"), 4)
            .as("distinct_ratio"))
        .select(col("*"),
          when(col("top_share") <= 0.12, 1L).otherwise(0L).as("word_ok"),
          when(col("bigram_share") <= 0.05, 1L).otherwise(0L)
            .as("bigram_ok"),
          when(col("distinct_ratio") >= 0.35, 1L).otherwise(0L)
            .as("distinct_ok"),
          when(col("top_share") > 0.12, "top_word")
            .when(col("bigram_share") > 0.05, "top_bigram")
            .when(col("distinct_ratio") < 0.35, "distinct_ratio")
            .otherwise("kept").as("reason"))
    },

    // Language ID: stopword-marker ratio per candidate language, argmax
    // with deterministic precedence, 'und' below confidence floor.
    QuerySpec(
      "text_langid",
      """WITH f AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','in'))) AS en_n,
        |    len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','que','y'))) AS es_n,
        |    len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','ist'))) AS de_n,
        |    len(string_split(text,' ')) AS n
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN en_n >= es_n AND en_n >= de_n AND en_n * 20 >= n THEN 'en'
        |       WHEN es_n > en_n AND es_n >= de_n AND es_n * 20 >= n THEN 'es'
        |       WHEN de_n > en_n AND de_n > es_n AND de_n * 20 >= n THEN 'de'
        |       ELSE 'und' END AS pred_lang,
        |  CAST(en_n AS BIGINT) AS en_markers, CAST(n AS BIGINT) AS n_tokens
        |FROM f""".stripMargin) { (s, d) =>
      val t = col("text")
      val enN = markerCount(t, Seq("the", "a", "of", "and", "in"))
      val n = size(words(t))
      Tables.documents(s, d).select(
        col("doc_id"),
        predLang(t).as("pred_lang"),
        enN.cast("long").as("en_markers"),
        n.cast("long").as("n_tokens"))
    },

    // Language-ID confusion matrix: the langid heuristic judged
    // against the corpus' true labels — (true lang, predicted lang,
    // count, share-of-true-lang) — the certify-the-heuristic readout
    // in the same family as the ANN recall and MinHash calibration
    // gates: a classifier you ship at 100 TB needs its error surface
    // in the gate, not in a notebook. Aggregate first (the matrix is
    // ≤ |langs|² rows), then one unhinted per-lang totals join; the
    // doc_id prediction join co-partitions with the label scan.
    QuerySpec(
      "text_langid_confusion",
      """WITH f AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','in'))) AS en_n,
        |    len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','que','y'))) AS es_n,
        |    len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','ist'))) AS de_n,
        |    len(string_split(text,' ')) AS n
        |  FROM documents),
        |p AS (SELECT doc_id,
        |    CASE WHEN en_n >= es_n AND en_n >= de_n AND en_n * 20 >= n THEN 'en'
        |         WHEN es_n > en_n AND es_n >= de_n AND es_n * 20 >= n THEN 'es'
        |         WHEN de_n > en_n AND de_n > es_n AND de_n * 20 >= n THEN 'de'
        |         ELSE 'und' END AS pred_lang
        |  FROM f),
        |c AS (SELECT d.lang, p.pred_lang, count(*) AS n
        |      FROM documents d JOIN p ON d.doc_id = p.doc_id
        |      GROUP BY d.lang, p.pred_lang),
        |t AS (SELECT lang, sum(n) AS tot FROM c GROUP BY lang)
        |SELECT c.lang, c.pred_lang, c.n,
        |  round(CAST(c.n AS DOUBLE) / t.tot, 4) AS share
        |FROM c JOIN t ON c.lang = t.lang""".stripMargin) { (s, d) =>
      val pred = Tables.documents(s, d).select(
        col("lang"), predLang(col("text")).as("pred_lang"))
      val cells = pred.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("lang")).agg(sum(col("n")).as("tot"))
      cells.join(totals, Seq("lang"))
        .select(col("lang"), col("pred_lang"), col("n"),
          round(col("n").cast("double") / col("tot"), 4).as("share"))
    },

    // TRAINED language classifier: multinomial Naive Bayes with add-one
    // smoothing, learned from the corpus' own labels — the supervised
    // upgrade of the text_langid marker heuristic. Training is PURE
    // AGGREGATION (per-(lang, token) counts + per-lang totals + one
    // scalar vocabulary size), so the "fit" distributes as one
    // token-keyed shuffle with map-side combine — no SGD, no driver
    // loop, no iteration: the closed-form classifier a 100 TB corpus
    // can actually train in one pass. Scoring: every per-(lang, token)
    // log-likelihood is pre-rounded to a 1e-6-scaled BIGINT surrogate,
    // so per-doc scores are INTEGER sums — associative, order-free, and
    // bit-identical across engines (a raw double sum would diverge in
    // accumulation order; the unigram-LM 4-dp-round convention, applied
    // at the term level so the argmax can never flip on ulps). Unseen
    // tokens take the smoothed zero-count mass (1/(t_l+V)) via a
    // per-lang default — computed from the doc's token total minus its
    // seen-token count, so the model join only ever carries tokens the
    // train split actually has. Held-out protocol: every 5th doc is
    // test (the repo's split convention), the rest train; the model
    // frame is corpus-derived (vocab × langs ⇒ grows with the corpus)
    // so the scoring join is UNHINTED; only the ≤|langs|-row per-lang
    // frame broadcasts.
    QuerySpec(
      "text_nb_langid",
      nbOracleSql) { (s, d) =>
      nbLangid(Tables.documents(s, d))
    },

    // The SAME classification served from the PERSISTED model (the
    // train-once-serve-many lifecycle every other model family here
    // has): identical contract, identical oracle — but the serve reads
    // only the published model/ + langs/ frames and the holdout slice;
    // train text is never re-scanned. Output equality with the direct
    // gate is additionally pinned in OperatorsSpec.
    QuerySpec(
      "text_nb_indexed",
      nbOracleSql) { (s, d) =>
      val root = ensureNbModel(s, d)
      nbClassify(
        Tables.documents(s, d).filter(col("doc_id") % 5 === 4),
        s.read.parquet(s"$root/model"),
        s.read.parquet(s"$root/langs"))
    },

    // The TRAINED classifier's confusion matrix — the same
    // certify-the-classifier readout text_langid_confusion gives the
    // marker heuristic: (true, predicted, count, share-of-true) over
    // the holdout. Aggregate of the nbLangid frame (≤ |langs|² rows at
    // any corpus size), one unhinted totals join.
    QuerySpec(
      "text_nb_confusion",
      s"""WITH nb AS ($nbOracleSql),
         |c AS (SELECT true_lang, pred_lang, count(*) AS n
         |      FROM nb GROUP BY 1, 2),
         |t AS (SELECT true_lang, sum(n) AS tot FROM c GROUP BY 1)
         |SELECT c.true_lang, c.pred_lang, CAST(c.n AS BIGINT) AS n,
         |  round(CAST(c.n AS DOUBLE) / t.tot, 4) AS share
         |FROM c JOIN t USING (true_lang)""".stripMargin) { (s, d) =>
      val cells = nbLangid(Tables.documents(s, d))
        .groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("true_lang")).agg(sum(col("n")).as("tot"))
      cells.join(totals, Seq("true_lang"))
        .select(col("true_lang"), col("pred_lang"), col("n"),
          round(col("n").cast("double") / col("tot"), 4).as("share"))
    },

    // EXACT incremental training (nbForget's mirror — the lifecycle
    // triangle's third side): the model seeds on two thirds of the
    // train split, the remaining third folds in as a counted INCREMENT
    // (full-outer count addition + the shared finalize), and the
    // holdout classifies under the grown model. The ORACLE is the
    // DIRECT gate's full-train oracle VERBATIM — growth must land
    // bit-identically on training from scratch.
    QuerySpec(
      "text_nb_grown",
      nbOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 5 =!= 4)
      val (m0, l0) = nbModelFrames(train.filter(col("doc_id") % 3 =!= 0))
      val (m1, l1) = nbGrow(m0, l0, train.filter(col("doc_id") % 3 === 0))
      nbClassify(docs.filter(col("doc_id") % 5 === 4), m1, l1)
    },

    // EXACT unlearning (the model-side right-to-be-forgotten): every
    // 25th doc is taken down from the PERSISTED model by decremental
    // count subtraction (nbForget — cost ∝ the forgotten docs, never
    // the train corpus), then the holdout classifies under the
    // shrunken model. The ORACLE is the from-scratch refit without
    // those docs — so the gate certifies that subtraction lands
    // bit-identically on retraining, the property only closed-form
    // sufficient-statistics models have (an SGD model would need the
    // full corpus back). Frame-level refit equality is additionally
    // pinned in OperatorsSpec.
    QuerySpec(
      "text_nb_forgotten",
      nbOracle("doc_id % 5 <> 4 AND doc_id % 25 <> 0")) { (s, d) =>
      val root = ensureNbModel(s, d)
      val docs = Tables.documents(s, d)
      val (m2, l2) = nbForget(
        s.read.parquet(s"$root/model"),
        s.read.parquet(s"$root/langs"),
        docs.filter(col("doc_id") % 5 =!= 4 && col("doc_id") % 25 === 0))
      nbClassify(docs.filter(col("doc_id") % 5 === 4), m2, l2)
    },

    // MODEL-ROOT TIME TRAVEL: the NB model's versions are ledgered
    // commits (seed fit, two grow folds), and the holdout classifies
    // under the model AS OF each commit — so a reproducible training
    // run can pin the classifier that scored its corpus, not just the
    // corpus. Each horizon's model is bit-identical to a from-scratch
    // fit on its cumulative train slice (the text_nb_grown contract
    // per version), so the oracle is the shared nbOracle per slice.
    QuerySpec(
      "text_nb_asof",
      nbAsofOracleSql(nbAsofHorizons)) { (s, d) =>
      nbAsofFrames(s, ensureLedgeredNbModel(s, d), d, nbAsofHorizons)
    },

    // Floor-bounded retention on the MODEL ledger under the value
    // gate: the three-version lifecycle vacuumed at floor 1 — the seed
    // version reclaimed (refuses, spec-pinned), horizons 1 and 2
    // hash-equal to the unvacuumed oracle branches.
    QuerySpec(
      "text_nb_vacuum",
      nbAsofOracleSql(nbAsofHorizons.drop(1))) { (s, d) =>
      nbAsofFrames(s, ensureVacuumedNbModel(s, d), d,
        nbAsofHorizons.drop(1))
    },

    // Token↔label mutual information — the label-LEAKAGE detector (and
    // classic feature selector): for every token, MI between its
    // per-doc presence and the lang label, I(X;Y) = Σ_{x,y} p·ln(p/pq).
    // A token with high MI IS the label smuggled into the text — the
    // thing a split-hygiene audit wants surfaced before training a
    // classifier that "wins" by reading it. All probabilities come from
    // four count frames (N, N_t, N_l, N_tl — one explode, map-side
    // combining aggregates); the per-(token, lang) two-term
    // contribution is computed in a FIXED order and pre-rounded to a
    // 1e-9-scaled BIGINT, so the per-token MI is an order-free integer
    // sum (the text_nb_langid convention) and the top-50 cut can never
    // flip on accumulation ulps. Zero cells take 0·ln0 = 0 via lazy
    // guards on BOTH engines (CASE / when evaluate only the taken
    // branch, so the 1/0 inside a guarded branch never runs). The
    // ≤|langs| label frame broadcasts; everything else is vocab-scale
    // map work; the cut is TakeOrdered.
    QuerySpec(
      "text_label_mi",
      """WITH t AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |lab AS (SELECT doc_id, lang FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents),
        |nt AS (SELECT tok, count(*) AS n_t FROM t GROUP BY tok),
        |nl AS (SELECT lang, count(*) AS n_l FROM lab GROUP BY lang),
        |ntl AS (SELECT t.tok, lab.lang, count(*) AS n_tl
        |        FROM t JOIN lab USING (doc_id) GROUP BY 1, 2),
        |grid AS (SELECT nt.tok, nt.n_t, nl.lang, nl.n_l,
        |           coalesce(ntl.n_tl, 0) AS n_tl, nn.n
        |         FROM nt CROSS JOIN nl
        |         LEFT JOIN ntl ON ntl.tok = nt.tok AND ntl.lang = nl.lang,
        |         nn),
        |terms AS (SELECT tok, n_t,
        |    CAST(round((
        |      CASE WHEN n_tl > 0 THEN
        |        (CAST(n_tl AS DOUBLE) / n) *
        |          ln((CAST(n_tl AS DOUBLE) / n) /
        |             ((CAST(n_t AS DOUBLE) / n) * (CAST(n_l AS DOUBLE) / n)))
        |      ELSE 0.0 END +
        |      CASE WHEN n_l - n_tl > 0 AND n - n_t > 0 THEN
        |        (CAST(n_l - n_tl AS DOUBLE) / n) *
        |          ln((CAST(n_l - n_tl AS DOUBLE) / n) /
        |             ((CAST(n - n_t AS DOUBLE) / n) * (CAST(n_l AS DOUBLE) / n)))
        |      ELSE 0.0 END) * 1e9) AS BIGINT) AS mi_term
        |  FROM grid)
        |SELECT tok, CAST(sum(mi_term) AS BIGINT) AS mi_e9,
        |  CAST(min(n_t) AS BIGINT) AS n_docs
        |FROM terms GROUP BY tok
        |ORDER BY mi_e9 DESC, tok LIMIT 50""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val t = Par.fanOut(docs).select(col("doc_id"),
        explode(array_distinct(words(col("text")))).as("tok"))
      val lab = docs.select(col("doc_id"), col("lang"))
      val nn = docs.agg(count(lit(1)).as("n"))
      val nt = t.groupBy(col("tok")).agg(count(lit(1)).as("n_t"))
      val nl = lab.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      val ntl = t.join(lab, Seq("doc_id"))
        .groupBy(col("tok"), col("lang")).agg(count(lit(1)).as("n_tl"))
      // nl is corpus-derived (distinct label values) ⇒ UNHINTED per the
      // repo-wide rule — the planner's size check picks the broadcast
      // nested-loop at bench scale, and a pathological label column
      // degrades gracefully instead of OOMing a forced broadcast.
      val grid = nt.crossJoin(nl)
        .join(ntl, Seq("tok", "lang"), "left")
        .crossJoin(nn)
        .select(col("tok"), col("n_t"), col("n_l"),
          coalesce(col("n_tl"), lit(0L)).as("n_tl"), col("n"))
      val dN = col("n").cast("double")
      val p1 = col("n_tl").cast("double") / dN
      val p0 = (col("n_l") - col("n_tl")).cast("double") / dN
      val term1 = when(col("n_tl") > 0,
        p1 * log(p1 / ((col("n_t").cast("double") / dN) *
          (col("n_l").cast("double") / dN)))).otherwise(lit(0.0))
      val term0 = when(col("n_l") - col("n_tl") > 0 && col("n") - col("n_t") > 0,
        p0 * log(p0 / (((col("n") - col("n_t")).cast("double") / dN) *
          (col("n_l").cast("double") / dN)))).otherwise(lit(0.0))
      grid
        .select(col("tok"), col("n_t"),
          round((term1 + term0) * 1e9).cast("long").as("mi_term"))
        .groupBy(col("tok"))
        .agg(sum(col("mi_term")).as("mi_e9"), min(col("n_t")).as("n_docs"))
        .orderBy(col("mi_e9").desc, col("tok"))
        .limit(50)
    },

    // Quality scoring: length/word-shape/stopword signals + blended score.
    QuerySpec(
      "text_quality",
      """WITH f AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    len(string_split(text,' ')) AS n_words,
        |    len(list_filter(string_split(text,' '),
        |        w -> w IN ('the','a','of','and','in','to','is','it','on','for'))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
        |  CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
        |  CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
        |  CASE WHEN n_words >= 20 THEN 1.0 ELSE CAST(n_words AS DOUBLE)/20 END *
        |    (1.0 - CAST(n_punct AS DOUBLE)/n_chars) *
        |    (CASE WHEN CAST(n_stop AS DOUBLE)/n_words > 0.05 THEN 1.0 ELSE 0.5 END)
        |    AS quality_score
        |FROM f""".stripMargin) { (s, d) =>
      val t = col("text")
      val nChars = length(t)
      val nWords = size(words(t))
      val nStop = markerCount(t, Stopwords)
      val nPunct = nChars - length(regexp_replace(t, "[^a-z0-9 ]", ""))
      Tables.documents(s, d).select(
        col("doc_id"),
        nWords.cast("long").as("n_words"),
        ((nChars - (nWords - 1)).cast("double") / nWords).as("avg_word_len"),
        (nStop.cast("double") / nWords).as("stopword_ratio"),
        (nPunct.cast("double") / nChars).as("punct_ratio"),
        qualityScore(t).as("quality_score"))
    },

    // Gopher-style composite rule filter (Rae et al. 2021, table A1
    // shape): per-document structural signals — word count, mean word
    // length, duplicate-word fraction, distinct-stopword count — each
    // gated by its own rule flag, plus the conjunction. Thresholds are
    // tightened from the paper's (3–10 mean-wlen etc.) so every rule
    // discriminates on the synthetic corpus (481/487/74/317 of 500 pass
    // the four rules individually at sf0.01; 10 pass all). Pure per-row
    // expressions — no shuffle, fully codegen'd; the rule comparisons
    // run on the 4-dp-ROUNDED signals in both engines so the flags are
    // decided on identical values (the float-parity convention).
    QuerySpec(
      "text_gopher_rules",
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |    len(ws) AS n_words,
        |    round(CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
        |      / len(ws), 4) AS mean_wlen,
        |    round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4)
        |      AS dup_frac,
        |    len(list_filter(list_distinct(ws),
        |      w -> w IN ('the','a','of','and','in','to','is','it','on','for')))
        |      AS n_stop
        |  FROM f)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_wlen, dup_frac,
        |  CAST(n_stop AS BIGINT) AS n_stop,
        |  CAST(CASE WHEN n_words BETWEEN 15 AND 10000 THEN 1 ELSE 0 END AS BIGINT) AS r_len,
        |  CAST(CASE WHEN mean_wlen BETWEEN 4.0 AND 5.0 THEN 1 ELSE 0 END AS BIGINT) AS r_wlen,
        |  CAST(CASE WHEN dup_frac <= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS r_dup,
        |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
        |  CAST(CASE WHEN n_words BETWEEN 15 AND 10000
        |    AND mean_wlen BETWEEN 4.0 AND 5.0
        |    AND dup_frac <= 0.3 AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM g""".stripMargin) { (s, d) =>
      val w = words(col("text"))
      val nWords = size(w)
      val meanWlen = round(
        aggregate(transform(w, x => length(x).cast("long")), lit(0L),
          (acc, x) => acc + x).cast("double") / nWords, 4)
      val dupFrac = round(
        lit(1.0) - size(array_distinct(w)).cast("double") / nWords, 4)
      val nStop = size(filter(array_distinct(w),
        x => x.isInCollection(Stopwords)))
      val flag = (c: Column) => when(c, 1L).otherwise(0L)
      val rWlen = col("mean_wlen").between(4.0, 5.0)
      val rDup = col("dup_frac") <= 0.3
      val rStop = col("n_stop") >= 2L
      Tables.documents(s, d)
        .select(col("doc_id"), nWords.cast("long").as("n_words"),
          meanWlen.as("mean_wlen"), dupFrac.as("dup_frac"),
          nStop.cast("long").as("n_stop"))
        .select(col("*"),
          flag(col("n_words").between(15, 10000)).as("r_len"),
          flag(rWlen).as("r_wlen"), flag(rDup).as("r_dup"),
          flag(rStop).as("r_stop"),
          flag(col("n_words").between(15, 10000) && rWlen && rDup && rStop)
            .as("pass"))
    },

    // Token counting: whitespace tokens + BPE-ish regex word-pieces.
    QuerySpec(
      "text_tokens",
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(words(col("text"))).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("re_tokens"))
    },

    // Winnowing fingerprints (rolling hash): per-doc count plus extrema
    // of the fingerprint set (full sets feed overlap joins; extrema keep
    // the gate output compact). The Karp–Rabin hash is plain modular
    // arithmetic (base 257 mod 2^61−1), so the oracle recomputes every
    // k-gram hash directly in HUGEINT and takes the same window minima;
    // the substring-sharing guarantee is pinned in OperatorsSpec.
    QuerySpec(
      "text_winnow",
      winnowOracleSql(k = 8, w = 16)) { (s, d) =>
      val fps = graft.functions.RollingHashMinima
        .winnow_fingerprints(col("text"), k = 8, w = 16)
      Tables.documents(s, d).select(
        col("doc_id"),
        size(fps).cast("long").as("n_fingerprints"),
        element_at(fps, 1).as("min_fp"),
        element_at(fps, -1).as("max_fp"))
    },

    // Corpus vocabulary readout: top-5 non-stopword terms per language by
    // frequency (word tie-break). Explode → two-key partial-aggregated
    // count → per-lang top-k window; the shuffle is keyed by (lang, word)
    // so hot words spread across partitions before the tiny top-k.
    QuerySpec(
      "text_top_terms",
      s"""WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |f AS (SELECT lang, word, count(*) AS n FROM w
         |      WHERE word NOT IN (${Stopwords.map("'" + _ + "'").mkString(", ")})
         |      GROUP BY lang, word),
         |r AS (SELECT lang, word, n,
         |    row_number() OVER (PARTITION BY lang
         |                       ORDER BY n DESC, word) AS rank
         |  FROM f)
         |SELECT lang, word, n, rank FROM r WHERE rank <= 5""".stripMargin) {
      (s, d) =>
        // Two-stage top-k: a single PARTITION BY lang window would sort
        // the language's ENTIRE vocabulary in one task (10M+ words per
        // major language at corpus scale). Stage 1 ranks within
        // (lang, salt-of-word) — bounded groups — and keeps 5; stage 2
        // ranks the ≤ 16×5 survivors per lang. Result-identical: every
        // global top-5 word is necessarily in its own salt's top-5.
        val freq = Tables.documents(s, d)
          .select(col("lang"), explode(words(col("text"))).as("word"))
          .filter(!col("word").isInCollection(Stopwords))
          .groupBy(col("lang"), col("word"))
          .agg(count(lit(1)).as("n"))
        val wSalt = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("salt"))
          .orderBy(col("n").desc, col("word"))
        val cand = freq
          .withColumn("salt", pmod(xxhash64(col("word")), lit(16)))
          .withColumn("r0", row_number().over(wSalt))
          .filter(col("r0") <= 5)
          .drop("r0", "salt")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("n").desc, col("word"))
        cand.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
    },

    // Fingerprinting: content hash of normalized text + order-insensitive
    // vocabulary hash (sorted distinct words) — the classic "fingerprint
    // then exact-group" dedup primitive.
    QuerySpec(
      "text_fingerprint",
      """SELECT doc_id,
        | md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS content_fp,
        | md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS vocab_fp
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), " +", " ")))).as("content_fp"),
        md5(array_join(array_sort(array_distinct(words(col("text")))), " "))
          .as("vocab_fp"))
    },

    // Character-level Shannon entropy — the information-density quality
    // signal (binary junk, base64 blobs and repeated-char padding sit
    // far from natural text's ~4.1 bits/char): H = -Σ p_c·log2 p_c over
    // the doc's characters. Pure per-row expression, zero shuffle,
    // scan-parallel at 100 TB. Portability: per-char counts via the
    // exact length(replace(...)) trick; the fold runs over the SORTED
    // distinct-char list so both engines sum identical doubles in
    // identical order; final 4-dp round guards the last ulp (the same
    // contract as the logprob scores).
    QuerySpec(
      "text_entropy",
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_distinct(string_split(text, ''))) AS BIGINT) AS n_unique,
        |  round(-list_aggregate(list_transform(
        |      list_sort(list_distinct(string_split(text, ''))),
        |      ch -> ((length(text) - length(replace(text, ch, '')))
        |               / CAST(length(text) AS DOUBLE))
        |            * log2((length(text) - length(replace(text, ch, '')))
        |               / CAST(length(text) AS DOUBLE))),
        |    'sum'), 4) AS entropy
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(distinctChars(col("text"))).cast("long").as("n_unique"),
        charEntropy(col("text")).as("entropy"))
    },

    // Cross-document duplication score — the corpus-level twin of
    // text_repetition's WITHIN-doc signal: the fraction of a doc's
    // distinct 3-gram shingles that occur in at least one OTHER doc
    // (df > 1 over distinct-per-doc grams). High scores mark boilerplate
    // and template families that per-pair dedup thresholds can miss but
    // quality filters want to downweight. Plan: one shingle explode
    // feeds both the df table and the scoring join (same sh-keyed
    // exchange, planner reuses it — the text_unigram_logprob shape);
    // the df frame is corpus-derived ⇒ unhinted. NO df cap here, unlike
    // the dedup blocking path: a cap exists to bound candidate-PAIR
    // fan-out, but this join is per-(doc, gram) — linear in the explode,
    // hot keys collapse map-side in the df groupBy first.
    QuerySpec(
      "text_cross_duplication",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ex AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, greatest(len(ws) - 1, 1)),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
        |       FROM w),
        |df AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
        |agg AS (SELECT doc_id, count(*) AS n_grams,
        |         sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS n_shared
        |        FROM ex JOIN df USING (sh) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(a.n_shared, 0) AS BIGINT) AS n_shared,
        |  round(CAST(coalesce(a.n_shared, 0) AS DOUBLE)
        |        / greatest(coalesce(a.n_grams, 0), 1), 4) AS shared_frac
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val ex = Par.fanOut(docs)
          .select(col("doc_id"),
            explode(Dedup.shingles3(col("text"))).as("sh"))
        val df = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        val agg = ex.join(df, Seq("sh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
        docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            round(coalesce(col("n_shared"), lit(0L)).cast("double") /
              greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 4)
              .as("shared_frac"))
    },

    // Unigram-LM document scoring (the corpus-statistics quality
    // filter: docs whose tokens are improbable under the corpus' own
    // unigram distribution are noise/ocr-garble candidates). ONE
    // token explode feeds both the corpus frequency table and the
    // scoring join — same exchange (word-keyed), so the planner reuses
    // it rather than re-exploding the corpus. The frequency table is
    // corpus-derived (vocabulary grows with the corpus) ⇒ the scoring
    // join is UNHINTED; only the group-less token total (a true
    // scalar at any scale) broadcasts. avg(ln p) summation order
    // differs across engines at ~1e-14; the 4-dp round makes the
    // comparison deterministic (boundary-hit risk ~1e-10/doc).
    QuerySpec(
      "text_unigram_logprob",
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |f AS (SELECT word, count(*) AS n FROM w GROUP BY word),
        |t AS (SELECT sum(n) AS tot FROM f)
        |SELECT doc_id,
        |  round(avg(ln(CAST(n AS DOUBLE) / tot)), 4) AS avg_logp,
        |  count(*) AS n_tokens
        |FROM w JOIN f USING (word), t
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      val w = Par.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
      val f = w.groupBy(col("word")).agg(count(lit(1)).as("n"))
      val t = broadcast(f.agg(sum(col("n")).as("tot")))
      w.join(f, Seq("word"))
        .crossJoin(t)
        .groupBy(col("doc_id"))
        .agg(
          round(avg(log(col("n").cast("double") / col("tot"))), 4)
            .as("avg_logp"),
          count(lit(1)).as("n_tokens"))
    },

    // Bigram-LM document scoring — the perplexity filter (CCNet/KenLM
    // shape) next to text_unigram_logprob's bag-of-words score: each
    // doc averages ln P(w2|w1) under the corpus' own add-1-smoothed
    // bigram model, P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V). Repetitive or
    // scrambled text scores very differently from modal word order,
    // which the unigram model cannot see. Plan shape: ONE bigram
    // explode feeds both the model counts and the scoring join (same
    // word-pair-keyed exchange); the unigram table joins the BIGRAM
    // frame (|vocab|² ≫ |vocab| — the small side joins the aggregated
    // model, never the corpus stream twice); both model frames are
    // corpus-derived ⇒ unhinted, only the scalar V broadcasts. The
    // trailing count(w1) for the final word of each doc is included in
    // c(w1) exactly as the oracle counts it (c1 counts ALL tokens).
    QuerySpec(
      "text_bigram_logprob",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |g AS (SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS g2
        |      FROM w, unnest(range(1, len(ws))) u(i)),
        |c1 AS (SELECT word AS w1, count(*) AS n1 FROM t GROUP BY word),
        |c2 AS (SELECT g2, count(*) AS n2 FROM g GROUP BY g2),
        |v AS (SELECT count(*) AS v FROM c1),
        |m AS (SELECT c2.g2, c2.n2, c1.n1 FROM c2
        |      JOIN c1 ON c1.w1 = string_split(c2.g2, ' ')[1])
        |SELECT doc_id,
        |  round(avg(ln((CAST(n2 AS DOUBLE) + 1) / (n1 + v.v))), 4)
        |    AS avg_logp,
        |  count(*) AS n_bigrams
        |FROM g JOIN m USING (g2), v
        |GROUP BY doc_id""".stripMargin) { (s, d) =>
      bigramLogprob(Tables.documents(s, d))
    },

    // Interpolated Kneser–Ney bigram scoring — the smoothing actually
    // shipped in KenLM-class perplexity filters, next to the add-1
    // baseline above: P(w2|w1) = max(c(w1w2)−D, 0)/c(w1•) +
    // D·N1+(w1•)/c(w1•) · N1+(•w2)/N1+(••), absolute discount D = 0.75
    // (exact in binary: 3/4). The continuation probability scores w2 by
    // how many DISTINCT contexts it follows, not raw frequency — the
    // "San Francisco" fix: "Francisco" is frequent but predicts nothing
    // outside one context, and add-1 smoothing cannot see that. All
    // model quantities are COUNTS off the one bigram-type frame (prefix
    // totals, distinct-continuation and distinct-context type counts,
    // one scalar type total), so the fit distributes exactly like the
    // add-1 model's; corpus self-scoring means every scored bigram was
    // observed (c ≥ 1 ⇒ the max(·,0) clamp never binds — noted, not
    // elided). The per-value double chain is written in the same
    // left-associative order in both engines; per-doc avg rides the
    // file's 4-dp-round convention. Normalization (Σ_w2 P(w2|w1) = 1,
    // the KN invariant) is pinned in OperatorsSpec on a planted corpus.
    QuerySpec(
      "text_kn_logprob",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g2
        |      FROM w, unnest(range(1, len(ws))) u(i)),
        |c2 AS (SELECT g2, count(*) AS n2 FROM g GROUP BY g2),
        |sp AS (SELECT g2, n2, string_split(g2, ' ')[1] AS w1,
        |              string_split(g2, ' ')[2] AS w2 FROM c2),
        |pre AS (SELECT w1, sum(n2) AS cw1, count(*) AS nf
        |        FROM sp GROUP BY w1),
        |cont AS (SELECT w2, count(*) AS np FROM sp GROUP BY w2),
        |tt AS (SELECT count(*) AS t FROM c2),
        |m AS (SELECT sp.g2,
        |        (sp.n2 - 0.75) / pre.cw1 +
        |          0.75 * pre.nf / pre.cw1 * (cont.np / CAST(tt.t AS DOUBLE))
        |          AS p
        |      FROM sp JOIN pre USING (w1) JOIN cont USING (w2), tt)
        |SELECT doc_id, round(avg(ln(p)), 4) AS avg_logp,
        |  count(*) AS n_bigrams
        |FROM g JOIN m USING (g2) GROUP BY doc_id""".stripMargin) { (s, d) =>
      knLogprob(Tables.documents(s, d))
    },

    // Perplexity bucketing (the CCNet head/middle/tail split): per
    // language, documents ranked by the add-one-smoothed bigram model
    // score (most probable first) and cut into terciles — bucket
    // = ceil(3·rank/n), pinned by that exact integer formula in BOTH
    // engines (not ntile, whose remainder convention is not worth
    // cross-engine trust). Rank is deterministic (4-dp-rounded score,
    // doc_id tie-break). The rank is the skew-sensitive part at 100 TB
    // — a flat per-lang row_number window puts a whole language on one
    // task — so the engine computes it as a literal-1
    // [[Curation.rangedPrefixSum]]: quantile-range partitions, local
    // windows, bounded offset frame. The per-lang totals join is
    // corpus-derived ⇒ unhinted (AQE sizes it).
    QuerySpec(
      "text_perplexity_bucket",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |g AS (SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS g2
        |      FROM w, unnest(range(1, len(ws))) u(i)),
        |c1 AS (SELECT word AS w1, count(*) AS n1 FROM t GROUP BY word),
        |c2 AS (SELECT g2, count(*) AS n2 FROM g GROUP BY g2),
        |v AS (SELECT count(*) AS v FROM c1),
        |m AS (SELECT c2.g2, c2.n2, c1.n1 FROM c2
        |      JOIN c1 ON c1.w1 = string_split(c2.g2, ' ')[1]),
        |lp AS (SELECT doc_id,
        |    round(avg(ln((CAST(n2 AS DOUBLE) + 1) / (n1 + v.v))), 4) AS avg_logp
        |  FROM g JOIN m USING (g2), v GROUP BY doc_id),
        |b AS (SELECT d.doc_id, d.lang, lp.avg_logp
        |      FROM lp JOIN documents d ON d.doc_id = lp.doc_id),
        |r AS (SELECT doc_id, lang, avg_logp,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY avg_logp DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM b)
        |SELECT doc_id, lang, avg_logp, (3*rn + n - 1) // n AS bucket
        |FROM r""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = bigramLogprob(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("avg_logp"),
          (-col("avg_logp")).as("ord"), lit(1L).as("one"))
      val ranked = Curation.rangedPrefixSum(
        scored, Seq("lang"), Seq("ord", "doc_id"), "one", "prior")
      val totals = ranked.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      ranked.join(totals, Seq("lang"))
        .select(col("doc_id"), col("lang"), col("avg_logp"),
          expr("(3 * (prior + 1) + n - 1) div n").as("bucket"))
    },

    // Sensitive-term redaction (the PII-scrub shape every production
    // training-data pipeline runs before release): a word-boundary
    // regex replaces each term-list hit with a fixed token; the query
    // emits the hit count and an md5 of the redacted text — full
    // redacted bodies never leave the executors, so the gate carries
    // ~48 bytes/doc however large documents get. Pure map work: no
    // shuffle at all beyond the scan. Patterns stay in the
    // \b(alt|...)\b subset that Java regex and RE2 (DuckDB) agree on.
    QuerySpec(
      "text_redact",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|key|value)\b'))
        |    AS BIGINT) AS n_redacted,
        |  md5(regexp_replace(text, '\b(customer|key|value)\b',
        |      '[REDACTED]', 'g')) AS redacted_fp
        |FROM documents""".stripMargin) { (s, d) =>
      val pat = "\\b(customer|key|value)\\b"
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
          .cast("long").as("n_redacted"),
        md5(regexp_replace(col("text"), pat, "[REDACTED]")).as("redacted_fp"))
    },

    // Structured-PII scrub (the release-hygiene pass next to
    // text_redact's term-list scrub): emails, IPv4s, phone numbers and
    // SSN-shaped ids detected by pattern, counted per category, and
    // masked to typed tokens — what C4/CCNet-style pipelines run before
    // any corpus leaves the building. The synthetic corpus carries no
    // PII, so the gate PLANTS a deterministic payload per document
    // (md5(doc_id)-gated categories, values derived from doc_id — the
    // construct-the-signal pattern the dedup fixtures use) and both
    // engines recompute the identical augmentation before detecting.
    // Patterns stay in the Java-regex ∩ RE2 subset (\b, \d, bounded
    // repeats); masking applies the four replaces in one fixed order so
    // the fingerprint is cross-engine stable. Pure map work — no
    // shuffle beyond the scan, ~48 bytes/doc however large bodies get.
    QuerySpec(
      "text_pii",
      """WITH base AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |aug AS (
        |  SELECT d.doc_id,
        |    d.text
        |    || CASE WHEN substr(b.h, 1, 1) BETWEEN '0' AND '7'
        |       THEN ' contact user' || CAST(d.doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
        |    || CASE WHEN substr(b.h, 2, 1) BETWEEN '0' AND '7'
        |       THEN ' host 10.' || CAST(d.doc_id % 200 AS VARCHAR) || '.' || CAST(d.doc_id % 13 AS VARCHAR) || '.' || CAST(d.doc_id % 251 AS VARCHAR) ELSE '' END
        |    || CASE WHEN substr(b.h, 3, 1) BETWEEN '0' AND '3'
        |       THEN ' call 555-' || lpad(CAST(d.doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN substr(b.h, 4, 1) BETWEEN '0' AND '1'
        |       THEN ' ref 123-45-' || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    AS t2
        |  FROM documents d JOIN base b USING (doc_id))
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,4}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,4}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g')) AS masked_fp
        |FROM aug""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), piiAugmented.as("t2"))
        .select(
          Seq(col("doc_id")) ++
            PiiPatterns.map { case (name, pat, _) =>
              size(regexp_extract_all(col("t2"), lit(pat), lit(0)))
                .cast("long").as(s"n_$name")
            } :+ md5(piiMasked(col("t2"))).as("masked_fp"): _*)
    },

    // Text normalization — the canonicalization stage every dedup /
    // fingerprint pass runs first (case folding, accent stripping,
    // punctuation removal, whitespace collapse), so "Héllo,  WÖRLD!"
    // and "hello world" land on the same key. The corpus is already
    // clean, so the gate PLANTS dirt on an md5(doc_id)-gated half
    // (the text_pii construct-the-signal pattern): a suffix carrying
    // uppercase, three accented letters, punctuation runs and double
    // spaces. Normalization is lower → three literal accent replaces
    // (applied post-lower so only lowercase forms need mapping) →
    // non-[a-z0-9 ] to space (Java regex and RE2 agree on the class;
    // DuckDB takes the 'g' flag Spark applies by default) → space
    // collapse → trim. Pure map work, no shuffle beyond the scan;
    // clean docs prove the pass is a no-op (changed = 0), planted
    // docs land on the canonical fingerprint of their clean body +
    // normalized suffix.
    QuerySpec(
      "text_normalize",
      """WITH base AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |aug AS (
        |  SELECT d.doc_id, d.text
        |    || CASE WHEN substr(b.h, 1, 1) BETWEEN '0' AND '7'
        |       THEN '  Héllo,  WÖRLD!!  Ñoisy__text' ELSE '' END AS t2
        |  FROM documents d JOIN base b USING (doc_id)),
        |norm AS (
        |  SELECT doc_id, t2,
        |    trim(regexp_replace(regexp_replace(
        |      replace(replace(replace(lower(t2), 'é', 'e'), 'ö', 'o'), 'ñ', 'n'),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
        |  FROM aug)
        |SELECT doc_id,
        |  CAST(CASE WHEN nt <> t2 THEN 1 ELSE 0 END AS BIGINT) AS changed,
        |  CAST(length(nt) AS BIGINT) AS n_chars_norm,
        |  md5(nt) AS fp
        |FROM norm""".stripMargin) { (s, d) =>
      val h = md5(col("doc_id").cast("string"))
      val t2 = concat(col("text"),
        when(substring(h, 1, 1).between("0", "7"),
          lit("  Héllo,  WÖRLD!!  Ñoisy__text")).otherwise(lit("")))
      val lowered = regexp_replace(regexp_replace(regexp_replace(
        lower(col("t2")), "é", "e"), "ö", "o"), "ñ", "n")
      val nt = trim(regexp_replace(regexp_replace(
        lowered, "[^a-z0-9 ]", " "), " +", " "))
      Tables.documents(s, d)
        .select(col("doc_id"), t2.as("t2"))
        .select(col("doc_id"), col("t2"), nt.as("nt"))
        .select(col("doc_id"),
          when(col("nt") =!= col("t2"), 1L).otherwise(0L).as("changed"),
          length(col("nt")).cast("long").as("n_chars_norm"),
          md5(col("nt")).as("fp"))
    },

    // HTML/markup extraction — the stage before text_normalize in any
    // crawled pipeline. The corpus is plain text, so the gate PLANTS a
    // full markup scaffold on the md5(doc_id)-gated half (style +
    // script to drop, a link-only nav and link-only list items for the
    // link-density filter to kill, the body text as the surviving
    // block, an entity-carrying footer) and the oracle recomputes the
    // ENTIRE extraction — script/style drop, block split, per-block
    // tag strip + anchor-length sum, the alen*2 <= len(clean) keep
    // rule, ordered reassembly, entity unescape — in RE2-compatible
    // SQL. Clean docs pass through unchanged (changed = 0 on the
    // ungated half IS the idempotence readout).
    QuerySpec(
      "text_extract",
      s"""WITH base AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |aug AS (
         |  SELECT d.doc_id,
         |    CASE WHEN substr(b.h, 1, 1) BETWEEN '0' AND '7'
         |    THEN '$MarkupPre' || d.text || '$MarkupPost'
         |    ELSE d.text END AS t2
         |  FROM documents d JOIN base b USING (doc_id)),
         |ns AS (SELECT doc_id, t2,
         |    regexp_replace(regexp_replace(regexp_replace(t2,
         |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
         |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
         |      '(?s)<!--.*?-->', ' ', 'g') AS t3 FROM aug),
         |sp AS (SELECT doc_id,
         |    regexp_split_to_array(t3, '</?(p|div|li|h[1-6]|br)[^>]*>')
         |      AS arr FROM ns),
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
         |fin AS (SELECT a.doc_id, a.t2,
         |    trim(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(coalesce(c.cat, ''),
         |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&amp;', '&', 'g'),
         |      ' +', ' ', 'g')) AS ext
         |  FROM aug a LEFT JOIN cat c USING (doc_id))
         |SELECT doc_id,
         |  CAST(CASE WHEN ext <> t2 THEN 1 ELSE 0 END AS BIGINT) AS changed,
         |  CAST(length(ext) AS BIGINT) AS n_chars,
         |  md5(ext) AS fp
         |FROM fin""".stripMargin) { (s, d) =>
      val h = md5(col("doc_id").cast("string"))
      val t2 = when(substring(h, 1, 1).between("0", "7"),
        concat(lit(MarkupPre), col("text"), lit(MarkupPost)))
        .otherwise(col("text"))
      val aug = Tables.documents(s, d).select(col("doc_id"), t2.as("t2"))
      extractHtml(aug)
        .select(col("doc_id"),
          when(col("ext") =!= col("t2"), 1L).otherwise(0L).as("changed"),
          length(col("ext")).cast("long").as("n_chars"),
          md5(col("ext")).as("fp"))
    },

    // Sub-document dedup via content-defined chunking: per doc, the
    // fraction of its CDC chunks shared verbatim with ANOTHER document —
    // the boilerplate detector (headers, navigation, license blocks)
    // that document-level dedup misses because the surrounding text
    // differs. Chunking is pure in-row work (see cdcChunks); the only
    // shuffles are the chunk-hash dedup (8-byte xxhash64 keys — two
    // distinct chunks colliding is the standard n²/2⁶⁵ signature-index
    // trade, same as ngramPairs; the oracle groups the chunk STRINGS)
    // and the doc_id roll-up, both map-side partial-aggregated. The dup
    // set is corpus-derived ⇒ the flag join is UNHINTED (AQE sizes it).
    QuerySpec(
      "text_chunk_dedup",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, i, ws[i] AS word,
        |        CASE WHEN md5(ws[i]) LIKE '0%' THEN 1 ELSE 0 END AS cut
        |      FROM w, unnest(range(1, len(ws) + 1)) u(i)),
        |c AS (SELECT doc_id, i, word,
        |        coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ck
        |      FROM t),
        |ch AS (SELECT doc_id, ck, string_agg(word, ' ' ORDER BY i) AS chunk
        |       FROM c GROUP BY doc_id, ck),
        |nd AS (SELECT chunk FROM (
        |         SELECT chunk, count(DISTINCT doc_id) AS ndoc
        |         FROM ch GROUP BY chunk) WHERE ndoc > 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN chunk IN (SELECT chunk FROM nd) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS dup_chunks,
        |  CAST(sum(CASE WHEN chunk IN (SELECT chunk FROM nd) THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) AS dup_frac
        |FROM ch GROUP BY doc_id""".stripMargin) { (s, d) =>
      val ch = Par.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(cdcChunks(col("text"))).as("chunk"))
        .select(col("doc_id"), xxhash64(col("chunk")).as("h"))
      val dup = ch.groupBy(col("h"))
        .agg(count_distinct(col("doc_id")).as("ndoc"))
        .filter(col("ndoc") > 1)
        .select(col("h"))
      ch.join(dup.withColumn("hit", lit(1L)), Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(coalesce(col("hit"), lit(0L))).as("dup_chunks"))
        .withColumn("dup_frac",
          col("dup_chunks").cast("double") / col("n_chunks"))
    },

    // Repetition signals (Gopher/RefinedWeb-style quality filters): the
    // duplicate word-bigram fraction and the most-frequent-bigram share
    // of each document. Boilerplate and loop-generated text score high on
    // both; real prose stays low. Grams are blocked by doc_id through
    // both shuffles ((doc_id, g2) count, then doc_id roll-up), so per-doc
    // work never concentrates — the same shape as dedup's shingle
    // pipeline. Fractions are exact integer ratios cast to double,
    // identical in both engines.
    QuerySpec(
      "text_repetition",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g2
        |      FROM w, unnest(range(1, len(ws))) t(i)),
        |cnt AS (SELECT doc_id, g2, count(*) AS n FROM g GROUP BY doc_id, g2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_2grams,
        |  CAST(count(*) AS BIGINT) AS distinct_2grams,
        |  CAST(sum(n) - count(*) AS DOUBLE) / sum(n) AS dup_2gram_frac,
        |  CAST(max(n) AS DOUBLE) / sum(n) AS top_2gram_frac
        |FROM cnt GROUP BY doc_id""".stripMargin) { (s, d) =>
      Par.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(Dedup.kgrams(col("text"), 2)).as("g2"))
        .groupBy(col("doc_id"), col("g2"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n")).as("n_2grams"),
          count(lit(1)).as("distinct_2grams"),
          ((sum(col("n")) - count(lit(1))).cast("double") / sum(col("n")))
            .as("dup_2gram_frac"),
          (max(col("n")).cast("double") / sum(col("n")))
            .as("top_2gram_frac"))
    },

    // Vocabulary coverage curve (tokenizer-training prep): the top-100
    // words by corpus frequency with each rank's cumulative share of all
    // tokens. The heavy stage — token explode + count — shuffles by word
    // (hot words spread before aggregation, partial agg map-side). The
    // ranking stage uses NO window at all: a web-scale corpus'
    // distinct-token tail (typos, noise) is billions of rows, so an
    // unpartitioned `row_number()/sum() OVER (ORDER BY n DESC)` would
    // funnel the whole vocabulary into one task just to throw away all
    // but 100 rows. Instead ONE global aggregate computes the top-100
    // via the bounded-state `top_k_str` aggregate (k pairs per map task
    // cross the exchange, merged like any partial agg — the same
    // machinery as sim_topk, string-id variant) and the corpus token
    // total in the same pass; rank is the array position and the
    // cumulative sum folds over the ≤100-element array per output row.
    // cum at rank r depends only on rows above r, so the result is
    // value-identical to the oracle's global-window form: exact integer
    // counts in doubles (< 2^53), addition of integers is
    // order-insensitive, ties break (n DESC, word ASC) in both engines.
    QuerySpec(
      "vocab_coverage",
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |f AS (SELECT word, count(*) AS n FROM w GROUP BY word),
        |r AS (SELECT word, n,
        |    row_number() OVER (ORDER BY n DESC, word) AS rank,
        |    sum(n) OVER (ORDER BY n DESC, word
        |                 ROWS UNBOUNDED PRECEDING) AS cum,
        |    (SELECT sum(n) FROM f) AS tot
        |  FROM f)
        |SELECT word, CAST(n AS BIGINT) AS n, rank,
        |  CAST(cum AS DOUBLE) / tot AS cum_frac
        |FROM r WHERE rank <= 100""".stripMargin) { (s, d) =>
      val f = Par.fanOut(Tables.documents(s, d))
        .select(explode(words(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
      f.agg(
          graft.functions.TopKAgg
            .top_k_str(col("n").cast("double"), col("word"), 100).as("tk"),
          sum(col("n")).as("tot"))
        .select(col("tk"), col("tot"),
          posexplode(col("tk")).as(Seq("pos", "e")))
        .select(
          col("e")("id").as("word"),
          col("e")("score").cast("bigint").as("n"),
          (col("pos") + 1).as("rank"),
          (aggregate(slice(col("tk"), lit(1), col("pos") + 1), lit(0.0d),
            (acc, x) => acc + x("score")) / col("tot")).as("cum_frac"))
    },

    // Distribution-drift gate (population stability index): the word
    // distribution of the incoming wave (doc_id % 5 = 4) against the
    // history corpus, binned as the top-50 history words plus an
    // <other> bin, add-one smoothed so every bin has mass on both
    // sides. PSI is THE pre-ingest drift alarm a 100-TB pipeline runs
    // before folding a wave in (0.1/0.25 warn/act conventions); the
    // per-bin readout shows WHICH vocabulary moved. Plan: one tokenize
    // scan aggregates the vocabulary frame, which is staged once
    // (Layout.stagePin) and re-read by the top-k (TakeOrdered — no
    // vocabulary-wide window), other-bin and totals passes — the
    // corpus text is scanned exactly once however many passes the bin
    // construction needs. `round(...) + 0.0` canonicalizes IEEE −0.0
    // before the hash compare (a tiny-negative psi term rounds to
    // −0.0, and the two engines need not agree on its sign bit).
    QuerySpec(
      "text_drift_psi",
      """WITH w AS (SELECT doc_id % 5 = 4 AS inc,
        |             unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |c AS (SELECT word,
        |        sum(CASE WHEN inc THEN 0 ELSE 1 END) AS hist_n,
        |        sum(CASE WHEN inc THEN 1 ELSE 0 END) AS inc_n
        |      FROM w GROUP BY word),
        |t AS (SELECT word, hist_n, inc_n FROM c
        |      ORDER BY hist_n DESC, word LIMIT 50),
        |o AS (SELECT '<other>' AS word,
        |        (SELECT sum(hist_n) FROM c) - (SELECT sum(hist_n) FROM t)
        |          AS hist_n,
        |        (SELECT sum(inc_n) FROM c) - (SELECT sum(inc_n) FROM t)
        |          AS inc_n),
        |b AS (SELECT * FROM t UNION ALL SELECT * FROM o),
        |tot AS (SELECT sum(hist_n) AS ht, sum(inc_n) AS it FROM b),
        |p AS (SELECT word, hist_n, inc_n,
        |        CAST(hist_n + 1 AS DOUBLE) / (ht + 51) AS ph,
        |        CAST(inc_n + 1 AS DOUBLE) / (it + 51) AS pi
        |      FROM b, tot)
        |SELECT word,
        |  CAST(hist_n AS BIGINT) AS hist_n,
        |  CAST(inc_n AS BIGINT) AS inc_n,
        |  round(ph, 6) + 0 AS hist_share,
        |  round(pi, 6) + 0 AS inc_share,
        |  round((ph - pi) * ln(ph / pi), 6) + 0 AS psi
        |FROM p""".stripMargin) { (s, d) =>
      val c = Layout.stagePin(
        Par.fanOut(Tables.documents(s, d))
          .select((col("doc_id") % 5 === 4).as("inc"),
            explode(words(col("text"))).as("word"))
          .groupBy(col("word"))
          .agg(sum(when(col("inc"), 0L).otherwise(1L)).as("hist_n"),
            sum(when(col("inc"), 1L).otherwise(0L)).as("inc_n")),
        "drift_vocab")
      val top = c.orderBy(col("hist_n").desc, col("word")).limit(50)
      val totalsAll = c.agg(sum(col("hist_n")).as("ha"),
        sum(col("inc_n")).as("ia"))
      val totalsTop = top.agg(sum(col("hist_n")).as("hc"),
        sum(col("inc_n")).as("ic"))
      val other = totalsAll.crossJoin(totalsTop)
        .select(lit("<other>").as("word"),
          (col("ha") - col("hc")).as("hist_n"),
          (col("ia") - col("ic")).as("inc_n"))
      val bins = top.unionByName(other)
      val tot = bins.agg(sum(col("hist_n")).as("ht"),
        sum(col("inc_n")).as("it"))
      val ph = (col("hist_n") + lit(1)).cast("double") / (col("ht") + lit(51))
      val pi = (col("inc_n") + lit(1)).cast("double") / (col("it") + lit(51))
      bins.crossJoin(broadcast(tot))
        .select(col("word"), col("hist_n"), col("inc_n"),
          (round(ph, 6) + 0.0).as("hist_share"),
          (round(pi, 6) + 0.0).as("inc_share"),
          (round((ph - pi) * log(ph / pi), 6) + 0.0).as("psi"))
    }
  )
}
