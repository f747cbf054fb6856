package graft

import org.apache.spark.sql.functions._

/** Invariants of the temporal + corpus-curation operators (value parity
  * with DuckDB is the driver gate's job; these pin semantics).
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  /** Engine rounding convention for integer surrogates: half AWAY from
    * zero (Spark `round` and DuckDB `round` both do this), vs Scala
    * `math.round`'s half-toward-+∞ — they disagree on negative exact-.5
    * boundaries, and the DSIR dlt / Gumbel terms are routinely negative.
    */
  private def roundAway(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("doc_dsir: importance-resampled top-100 matches an independent " +
    "third-implementation recompute (hashed-bigram models, integer " +
    "surrogates, Gumbel keys) on sf0.001") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bigrams(t: String): Seq[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 2) Seq.empty
      else ws.sliding(2).map(_.mkString(" ")).toSeq
    }
    def bkt(g: String): Long =
      (BigInt(md5hex(g).take(15), 16) % 1024).toLong
    val docBkts = rows.map { case (id, src, t) =>
      (id, src, bigrams(t).map(bkt))
    }
    val all = docBkts.flatMap(_._3)
    val tgt = docBkts.filter(_._2 == "src0").flatMap(_._3)
    val cr = all.groupBy(identity).view.mapValues(_.size).toMap
    val ct = tgt.groupBy(identity).view.mapValues(_.size).toMap
    val (totR, totT) = (all.size.toLong, tgt.size.toLong)
    val dlt: Map[Long, Long] = cr.keys.map { b =>
      b -> roundAway((math.log((ct.getOrElse(b, 0) + 1).toDouble /
        (totT + 1024)) -
        math.log((cr(b) + 1).toDouble / (totR + 1024))) * 1e6)
    }.toMap
    val expected = docBkts.map { case (id, src, bs) =>
      val logw = bs.map(dlt).sum
      val u = (BigInt(md5hex(id.toString).take(11), 16).toLong + 1)
        .toDouble / 17592186044417.0
      (id, src, logw, logw + roundAway(-math.log(-math.log(u)) * 1e6))
    }.sortBy { case (id, _, _, k) => (-k, id) }.take(100).toSeq
    val got = run("doc_dsir").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    // the Gumbel perturbation actually reorders: selection is not just
    // the logw top-100 (otherwise the sampler adds nothing)
    val logwTop = docBkts.map { case (id, _, bs) => (id, bs.map(dlt).sum) }
      .sortBy { case (id, w) => (-w, id) }.take(100).map(_._1).toSet
    assert(got.map(_._1).toSet != logwTop)
  }

  test("q_pagerank: engine top-20 equals an independent integer " +
    "recurrence recompute, and propagation is non-vacuous (scores " +
    "spread beyond the uniform start)") {
    val n = Tables.documents(spark, sf0001).count()
    val nodes = (0L until n)
    val edges = nodes.flatMap { id =>
      Seq((id * 31 + 7) % n, (id * 17 + 3) % n, (id * 13 + 11) % n)
        .distinct.filter(_ != id).map(id -> _)
    }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val scale = 1000000000L
    val base = (scale / n) * 15 / 100
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to 10) {
      val c = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = nodes.map(v => v -> (base + 85 * c.getOrElse(v, 0L) / 100)).toMap
    }
    val expected = r.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(20)
      .map { case (id, sc) => (id, sc) }
    val got = run("q_pagerank").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got == expected)
    // non-vacuous: the graph's in-degree structure actually moved mass
    assert(got.map(_._2).distinct.size > 1)
    assert(got.head._2 > scale / n, "top score must exceed uniform start")
  }

  test("q_pagerank_personalized: teleport concentration is " +
    "load-bearing — the personalized top-20 differs from the uniform " +
    "ranking and seed docs dominate it") {
    val uniform = run("q_pagerank").collect().map(_.getLong(0)).toSet
    val pers = run("q_pagerank_personalized").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pers.map(_._1).toSet != uniform,
      "personalization must reorder the top-20")
    val seeds = Tables.documents(spark, sf0001)
      .filter($"source" === "src0").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    // seeds hold most of the mass (they receive the full teleport
    // term every round); their link targets take the rest
    assert(pers.count(p => seeds(p._1)) >= 10,
      s"seed docs must dominate: ${pers.count(p => seeds(p._1))}/20")
    assert(pers.forall(_._2 >= 0))
  }

  test("sessionize: no session spans a >30min gap, bounds are ordered") {
    val s = run("q_sessionize")
    assert(s.count() > 0)
    // bounds ordered within every session
    assert(s.filter($"session_start" > $"session_end").count() == 0)
    // sessions of one user never overlap: next start strictly after
    // previous end (they are gap-separated by construction)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"session_start")
    val overlaps = s
      .withColumn("prev_end", lag($"session_end", 1).over(w))
      .filter($"prev_end".isNotNull && $"session_start" <= $"prev_end")
    assert(overlaps.count() == 0)
  }

  test("range join: every matched click has >= 1 recent error") {
    val r = run("q_range_join")
    assert(r.filter($"n_recent_errors" < 1).count() == 0)
  }

  test("percentiles are ordered p25 <= p50 <= p90") {
    val p = run("q_percentile")
    assert(p.count() > 0)
    assert(p.filter($"p25" > $"p50" || $"p50" > $"p90").count() == 0)
  }

  test("stratified sample: per-language quota respected and deterministic") {
    val a = run("doc_sample_stratified")
    val perLang = a.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(perLang.values.forall(_ <= 50))
    // en stratum exceeds the quota in the corpus → exactly 50 kept
    assert(perLang("en") == 50L)
    // deterministic: identical result on a rerun
    val b = run("doc_sample_stratified")
    assert(a.orderBy("doc_id").collect().toSeq ==
      b.orderBy("doc_id").collect().toSeq)
  }

  test("weighted sample: keys reproduce the A-ES formula exactly, the " +
    "per-language quota holds, the draw is length-biased, and the " +
    "two-stage windows equal a single global ranking") {
    val a = run("doc_sample_weighted").cache()
    val perLang = a.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(perLang.values.forall(_ <= 50) && perLang("en") == 50L)
    // recompute every doc's key in plain Scala and rank per language —
    // the two-stage salted take must equal the one-stage global top-50
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect()
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val keyed = docs.map { case (id, lang, text) =>
      val w = math.max(text.split(" ", -1).length, 1)
      val u = (java.lang.Long.parseLong(md5hex(id.toString).take(15), 16)
        + 1).toDouble / 1152921504606846976.0
      (id, lang, w.toLong, math.log(u) / w)
    }
    val expect = keyed.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._4, r._1)).take(50).toSeq
    }.map(r => (r._1, r._2, r._3)).toSet
    val got = a.select($"doc_id", $"lang", $"w")
      .as[(Long, String, Long)].collect().toSet
    assert(got == expect,
      s"A-ES drift: extra=${got.diff(expect).take(3)} missing=${expect.diff(got).take(3)}")
    // length bias: sampled docs are heavier on average than the corpus
    // (en stratum — the one where the quota genuinely selects)
    val corpusAvg = keyed.filter(_._2 == "en").map(_._3).sum.toDouble /
      keyed.count(_._2 == "en")
    val sampleAvg = got.toSeq.filter(_._2 == "en").map(_._3).sum.toDouble /
      got.count(_._2 == "en")
    assert(sampleAvg > corpusAvg,
      s"weighted draw must be length-biased: $sampleAvg vs $corpusAvg")
  }

  test("packing: bins partition the corpus and respect the budget boundary") {
    val p = run("doc_pack").cache()
    val docs = Tables.documents(spark, sf0001)
    // every doc lands in exactly one bin
    assert(p.agg(sum($"n_docs")).as[Long].head() == docs.count())
    // within a language, bins 0..k-1 are contiguous
    val bins = p.groupBy($"lang")
      .agg(min($"bin_id").as("lo"), max($"bin_id").as("hi"),
        count(lit(1)).as("k"))
    assert(bins.filter($"lo" =!= 0 || $"hi" =!= $"k" - 1).count() == 0)
    // a bin only opens once the previous one reached the budget: all but
    // the last bin of a language hold >= 2048 tokens minus the straggler
    // spill, i.e. cumulative tokens through bin b >= 2048*b
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"bin_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = p.withColumn("before", coalesce(sum($"total_tokens").over(w), lit(0L)))
    assert(cum.filter($"before" < $"bin_id" * 2048).count() == 0)
    p.unpersist()
  }

  test("bin_id integer division stays exact past 2^53 (ADVICE r2 regression)") {
    // floor(x / 2048.0) goes through a double and rounds above 2^53;
    // `div` stays in BIGINT. One token-prior past the rounding cliff:
    val prior = (1L << 53) + 2047L // double rounds this to 2^53 exactly
    val r = Seq(prior).toDF("prior")
      .select(
        expr("prior div 2048").as("viaDiv"),
        floor($"prior" / 2048).as("viaDouble"))
      .collect().head
    assert(r.getLong(0) == prior / 2048L)
    assert(r.getLong(1) != prior / 2048L) // the bug the fix removes
  }

  test("class balance: weights inverse to group size, mean-one normalized") {
    val cb = run("doc_class_balance")
    val rows = cb.select($"n", $"weight").as[(Long, Double)].collect()
    // sum of n*weight == total docs (inverse-frequency normalization)
    val total = rows.map(_._1).sum
    assert(math.abs(rows.map { case (n, w) => n * w }.sum - total) < 1e-6)
    // strictly decreasing weight with group size
    val byN = rows.sortBy(_._1)
    byN.sliding(2).foreach {
      case Array((n1, w1), (n2, w2)) if n1 < n2 => assert(w1 > w2)
      case _ =>
    }
  }

  test("mixture sampling: tier rates honored, content-keyed and " +
    "deterministic, rates land near targets") {
    val a = run("doc_mixture").cache()
    val hi = Seq("src0", "src1", "src2")
    // every kept row is under its tier threshold, and h really is the
    // md5 prefix of the content key (retry-stable randomness)
    assert(a.filter(
      $"h" >= when($"source".isInCollection(hi), "cccccccc")
        .otherwise("40000000")).count() == 0)
    assert(a.filter(
      $"h" =!= substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))),
        1, 8)).count() == 0)
    // observed keep-rates within binomial noise of the 0.8 / 0.25 targets
    val docs = Tables.documents(spark, sf0001)
    val nHi = docs.filter($"source".isInCollection(hi)).count().toDouble
    val nLo = docs.count() - nHi
    val kHi = a.filter($"source".isInCollection(hi)).count().toDouble
    val kLo = a.count() - kHi
    assert(math.abs(kHi / nHi - 0.8) < 0.15, s"hi rate ${kHi / nHi}")
    assert(math.abs(kLo / nLo - 0.25) < 0.15, s"lo rate ${kLo / nLo}")
    // deterministic rerun
    val b = run("doc_mixture")
    assert(a.orderBy("doc_id").collect().toSeq ==
      b.orderBy("doc_id").collect().toSeq)
    a.unpersist()
  }

  test("doc_temperature: smallest language fully kept, achieved " +
    "per-language keep ratio tracks sqrt(n_min/n), head downsampled") {
    val totals = Tables.documents(spark, sf0001)
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val kept = run("doc_temperature")
      .groupBy($"lang").agg(count(lit(1)).as("k"))
      .as[(String, Long)].collect().toMap
    val nMin = totals.values.min
    val (minLang, _) = totals.minBy(_._2)
    assert(kept(minLang) == totals(minLang)) // rate 1.0 ⇒ exact retention
    totals.foreach { case (lang, n) =>
      val rate = math.sqrt(nMin.toDouble / n)
      val achieved = kept.getOrElse(lang, 0L).toDouble / n
      // content-hash draws are uniform; ±0.15 covers binomial noise at
      // the sf0.001 group sizes (n >= 64)
      assert(math.abs(achieved - rate) <= 0.15,
        s"$lang: achieved=$achieved rate=$rate")
    }
    val (maxLang, maxN) = totals.maxBy(_._2)
    assert(kept(maxLang) < maxN) // the head is genuinely downsampled
  }

  test("q_scd2: versions chain into a gapless partition of each user's " +
    "history with exactly one open interval and no no-op versions") {
    val out = SparkEntry.queries("q_scd2")(spark, sf0001)
      .select($"user_id", $"version", $"state", $"n_events",
        $"valid_from", $"valid_to", $"is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getString(4), Option(r.getString(5)), r.getLong(6)))
    assert(out.nonEmpty)
    val evCount = Tables.events(spark, sf0001)
      .groupBy($"user_id").count().as[(Long, Long)].collect().toMap
    out.groupBy(_._1).foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"user $u versions not 1..K")
      assert(rows.count(_._7 == 1L) == 1, s"user $u open intervals != 1")
      assert(sorted.last._7 == 1L && sorted.last._6.isEmpty)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._6.contains(b._5), s"user $u interval gap at v${b._2}")
          assert(a._3 != b._3, s"user $u no-op version v${b._2}")
          assert(a._5 < b._5) // strictly advancing valid_from
        case _ =>
      }
      assert(rows.map(_._4).sum == evCount(u), s"user $u event count")
    }
  }

  test("q_funnel: stage timestamps strictly ascend, null slots match " +
    "the stage, and a brute-force sequential scan agrees") {
    val out = SparkEntry.queries("q_funnel")(spark, sf0001)
      .select($"user_id", $"stage", $"view_ts", $"click_ts", $"purchase_ts")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        Option(r.getString(3)), Option(r.getString(4))))
    assert(out.nonEmpty && out.exists(_._2 == 3L))
    out.foreach { case (u, stage, t1, t2, t3) =>
      assert(Seq(t1, t2, t3).count(_.nonEmpty) == stage, s"user $u")
      (t1, t2, t3) match {
        case (Some(a), Some(b), Some(c)) => assert(a < b && b < c)
        case (Some(a), Some(b), None) => assert(a < b)
        case _ =>
      }
    }
    // brute force: earliest view, earliest later click, earliest later purchase
    val ev = Tables.events(spark, sf0001)
      .select($"user_id", date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        $"event_type")
      .as[(Long, String, String)].collect()
    val expect = ev.groupBy(_._1).map { case (u, es) =>
      def firstAfter(tpe: String, after: Option[String]) = {
        val c = es.filter(e => e._3 == tpe && after.forall(e._2 > _)).map(_._2)
        if (after.isEmpty && c.isEmpty && es.exists(_._3 == tpe)) None
        else c.sorted.headOption
      }
      val t1 = es.filter(_._3 == "view").map(_._2).sorted.headOption
      val t2 = if (t1.isEmpty) None else firstAfter("click", t1)
      val t3 = if (t2.isEmpty) None else firstAfter("purchase", t2)
      (u, Seq(t1, t2, t3).count(_.nonEmpty).toLong, t1, t2, t3)
    }.toSet
    assert(out.toSet == expect)
  }

  test("doc_order: positions are a 1..N permutation matching the " +
    "content-hash sort, stable across partition counts") {
    val out = SparkEntry.queries("doc_order")(spark, sf0001)
      .select($"doc_id", $"order_key", $"position")
      .as[(Long, String, Long)].collect()
    val n = out.length
    assert(n > 0 && out.map(_._3).sorted.toSeq == (1L to n).toSeq)
    val expected = out.sortBy(r => (r._2, r._1)).map(_._1).toSeq
    assert(out.sortBy(_._3).map(_._1).toSeq == expected)
    // stability: a different slice count yields the identical permutation
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id",
        md5(concat($"doc_id".cast("string"), lit(":"), $"text"))
          .as("order_key"),
        lit(0).as("all"), lit(1L).as("one"))
    val alt = operators.Curation.rangedPrefixSum(
        docs, Seq("all"), Seq("order_key", "doc_id"), "one", "prior",
        numPartitions = 5)
      .select($"doc_id", ($"prior" + 1L).as("position"))
      .as[(Long, Long)].collect().toMap
    assert(out.forall(r => alt(r._1) == r._3))
  }

  test("q_cohort: offset-0 cell equals the cohort size, offsets are " +
    "non-negative, and a brute-force recompute agrees") {
    val out = SparkEntry.queries("q_cohort")(spark, sf0001)
      .select($"cohort_day", $"day_offset", $"n_active")
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall(_._2 >= 0))
    val ev = Tables.events(spark, sf0001)
      .select($"user_id", to_date($"ts").cast("string"))
      .as[(Long, String)].collect()
    def day(s: String) = java.time.LocalDate.parse(s).toEpochDay
    val epoch = day("2024-01-01")
    val first = ev.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
    val expect = ev.groupBy { case (u, dt) =>
        (day(first(u)) - epoch, day(dt) - day(first(u))) }
      .map { case (k, es) => (k._1, k._2, es.map(_._1).distinct.size.toLong) }
      .toSet
    assert(out.toSet == expect)
    // every user is active in their own cohort's offset-0 cell
    val cohortSizes = first.groupBy { case (_, d0) => day(d0) - epoch }
      .map { case (c, us) => c -> us.size.toLong }
    out.filter(_._2 == 0L).foreach { case (c, _, n) =>
      assert(n == cohortSizes(c), s"cohort $c offset-0 $n != ${cohortSizes(c)}")
    }
    assert(out.count(_._2 == 0L) == cohortSizes.size)
  }

  test("doc_token_budget: quantile-partitioned prefix sum equals the " +
    "flat window exactly; every language fills its budget or exhausts") {
    val got = run("doc_token_budget")
      .select($"doc_id", $"lang", $"n_tok")
      .as[(Long, String, Long)].collect().toSet
    // flat-window recompute (the oracle shape, in-engine)
    val t = Tables.documents(spark, sf0001).select($"doc_id", $"lang",
      size(split($"text", " ")).cast("long").as("n_tok"),
      (round(operators.TextAnalysis.qualityScore($"text"), 4) * -1).as("ord"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"ord", $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val flat = t.withColumn("prior", coalesce(sum($"n_tok").over(w), lit(0L)))
      .filter($"prior" < 5000L)
      .select($"doc_id", $"lang", $"n_tok")
      .as[(Long, String, Long)].collect().toSet
    assert(got == flat)
    // budget semantics: selected tokens reach the budget unless the
    // language ran out of documents entirely
    val langTotals = t.groupBy($"lang").agg(sum($"n_tok").as("tot"))
      .as[(String, Long)].collect().toMap
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val sel = rows.toSeq.map(_._3).sum
      assert(sel >= math.min(5000L, langTotals(lang)), s"$lang sel=$sel")
    }
  }

  test("doc_split_leakfree: every demoted doc has a train near-dup " +
    "partner; no surviving test doc does; base assignment is the " +
    "deterministic md5 rule") {
    val out = run("doc_split_leakfree")
      .as[(Long, String)].collect().toMap
    assert(out.values.toSet == Set("train", "test", "leak_dropped"))
    // independent near-dup pair relation (the gated dedup_ngram query)
    val pairs = run("dedup_ngram")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def baseTest(id: Long): Boolean =
      "012".contains(md5hex(s"split:$id").head)
    // base rule: non-demoted docs carry exactly the md5 assignment
    out.foreach { case (id, split) =>
      if (split != "leak_dropped")
        assert(split == (if (baseTest(id)) "test" else "train"))
      else assert(baseTest(id), "only test docs can be demoted")
    }
    val trainPartner: Map[Long, Boolean] =
      (pairs ++ pairs.map(_.swap)).groupBy(_._1)
        .map { case (id, ps) => id -> ps.exists(p => !baseTest(p._2)) }
    out.foreach { case (id, split) =>
      if (split == "leak_dropped")
        assert(trainPartner.getOrElse(id, false),
          s"$id demoted without a train partner")
      if (split == "test")
        assert(!trainPartner.getOrElse(id, false),
          s"$id kept in test despite a train near-dup")
    }
  }

  test("doc_curate: composition is consistent with the standalone stage " +
    "queries — survivors pass mixture, are uncontaminated, non-benchmark") {
    val out = run("doc_curate").cache()
    assert(out.count() > 0)
    assert(out.filter($"source" === "src0").count() == 0)
    // every survivor is in the standalone mixture keep-set
    val mixIds = run("doc_mixture").select($"doc_id").as[Long].collect().toSet
    val outIds = out.select($"doc_id").as[Long].collect().toSet
    assert(outIds.subsetOf(mixIds))
    // no survivor is flagged by the standalone decontaminate query
    val contaminated = run("decontaminate")
      .select($"doc_id").as[Long].collect().toSet
    assert((outIds & contaminated).isEmpty)
    out.unpersist()
  }

  test("doc_curate_report: stage counts shrink monotonically and the " +
    "mixture stage equals doc_curate's own output cardinality") {
    val rows = SparkEntry.queries("doc_curate_report")(spark, sf0001)
      .orderBy($"stage_ord")
      .select($"stage_ord", $"stage", $"n_docs")
      .as[(Int, String, Long)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)) == Seq((0, "input"), (1, "quality"),
      (2, "holdout"), (3, "decontaminate"), (4, "dedup"), (5, "mixture")))
    assert(rows.sliding(2).forall(w => w(0)._3 >= w(1)._3),
      s"every stage can only drop documents: $rows")
    assert(rows.head._3 ==
      Tables.documents(spark, sf0001).count())
    assert(rows.last._3 ==
      SparkEntry.queries("doc_curate")(spark, sf0001).count())
  }

  test("doc_curate_rejects: per-reason counts reconcile exactly with " +
    "the report's stage-to-stage deltas, and rejects + survivors " +
    "partition the corpus") {
    val rep = SparkEntry.queries("doc_curate_report")(spark, sf0001)
      .orderBy($"stage_ord").select($"n_docs").as[Long].collect()
    val rej = SparkEntry.queries("doc_curate_rejects")(spark, sf0001)
      .groupBy($"reason").count()
      .as[(String, Long)].collect().toMap
    assert(rej.getOrElse("quality", 0L) == rep(0) - rep(1))
    assert(rej.getOrElse("holdout", 0L) == rep(1) - rep(2))
    assert(rej.getOrElse("contaminated", 0L) == rep(2) - rep(3))
    assert(rej.getOrElse("duplicate", 0L) == rep(3) - rep(4))
    assert(rej.getOrElse("mixture", 0L) == rep(4) - rep(5))
    assert(rej.values.sum + rep(5) == rep(0),
      "every input doc is either rejected with a reason or served")
  }

  test("rejects audits on a NULL-text document answer like the oracle's " +
    "NOT IN: doc_curate_rejects labels it quality, the corpus " +
    "pipeline's extract stage drops it") {
    val dir = tmpDir("graft-null-doc")
    val docs = Tables.documents(spark, sf0001)
    val nullId = docs.agg(max($"doc_id")).as[Long].head() + 1
    docs.union(docs.limit(1).select(lit(nullId).as("doc_id"),
        lit(null).cast("string").as("text"), lit("en").as("lang"),
        lit("src1").as("source"), lit(null).cast("long").as("n_chars")))
      .write.parquet(s"$dir/documents.parquet")
    def reason(q: String) = SparkEntry.queries(q)(spark, dir)
      .filter($"doc_id" === nullId).select($"reason").as[String].collect()
    assert(reason("doc_curate_rejects").toSeq == Seq("quality"))
    assert(reason("pipeline_corpus_rejects").toSeq == Seq("extract_empty"))
  }
}
