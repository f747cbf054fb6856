package graft

/** Enforces the PLANS.md audit: if an operator change regresses the
  * physical plan (lost pruning, lost broadcast, lost map-side partial
  * aggregation), these fail before the bench would notice.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  test("q1_agg: scan prunes to the 5 referenced columns, partial agg " +
    "before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("FileScan parquet [l_quantity#")) // pruned column set
    assert(!p.contains("l_shipdate") && !p.contains("l_partkey"))
    assert(p.contains("partial_sum"))
  }

  test("q_snapshot_latest: scalar MAX reads only ts and broadcasts") {
    val p = plan("q_snapshot_latest")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"))
    // the scalar-subquery scan prunes to the single ts column; its
    // physical type follows the driver's parquet encoding (bigint for
    // the NANOS-as-long era, timestamp_ntz for the µs era)
    assert(p.contains("ReadSchema: struct<ts:bigint>") ||
      p.contains("ReadSchema: struct<ts:timestamp_ntz>"))
  }

  test("q_hll_distinct: ONE scan, sketch partial-aggregates map-side") {
    val q = SparkEntry.queries("q_hll_distinct")(spark, sf0001)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, s"expected 1 scan, got ${scans.length}")
    // two ObjectHashAggregates (partial + final) around one exchange:
    // the register file merges map-side like any partial agg
    val p = q.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q_hot_keys: two scans total (sketch + exact re-count), the " +
    "candidate set broadcasts, both aggregates partial") {
    val q = SparkEntry.queries("q_hot_keys")(spark, sf0001)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 2, s"expected 2 scans, got ${scans.length}")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q_skew_join: the shuffle_hash hint is honored (no broadcast of " +
    "the salt-exploded dim) and the salted partial aggregate reuses " +
    "the join's (k, salt) partitioning — no extra exchange") {
    val q = SparkEntry.queries("q_skew_join")(spark, sf0001)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // exchanges: the dim derivation's distinct (k), fact by (k, salt),
    // exploded dim by (k, salt), final fold by k — exactly four; the
    // (k, salt) PARTIAL aggregate adds none, it reuses the join's
    // partitioning. (String count: EnsureRequirements only plants
    // exchanges in the executedPlan; sparkPlan predates them.)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 4,
      s"expected 4 exchanges: $p")
  }

  test("q_star_join: every dimension side is broadcast (no dim shuffle)") {
    val p = plan("q_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3)
  }

  test("multimodal_meta: binary payload never read for metadata query") {
    val p = plan("multimodal_meta")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q_profile: ONE orders scan feeds every per-column aggregate " +
    "(profiling must not re-read the table per column), with " +
    "map-side partial aggregation") {
    val q = SparkEntry.queries("q_profile")(spark, sf0001)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, s"expected 1 scan, got ${scans.length}")
    assert(q.queryExecution.executedPlan.toString.contains("partial_"))
    // profile invariants on the result itself
    val rows = q.collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val (n, nNull, nDist) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nNull >= 0 && nNull <= n)
      assert(nDist >= 1 && nDist <= n - nNull)
      assert(r.getString(4) != null && r.getString(5) != null)
    }
  }

  test("q_cdc_delta: the snapshot diff is join-free — ONE events scan, " +
    "ONE exchange, full-outer semantics from aggregate null slots") {
    val q = SparkEntry.queries("q_cdc_delta")(spark, sf0001)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, s"expected 1 scan, got ${scans.length}")
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "oracle's FULL JOIN must not exist here")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
    assert(p.contains("partial_max_by") || p.contains("partial_"))
  }

  test("q_funnel: no window over the raw event stream — the ordered " +
    "cascade is min-aggregates joined on the user key") {
    val p = plan("q_funnel")
    assert(!p.contains("Window"), "funnel must not sort the raw stream")
    assert(p.contains("partial_min"))
  }

  test("dedup_canonical: the per-cluster election is a struct-max " +
    "aggregate, never a window over the corpus") {
    val p = plan("dedup_canonical")
    assert(!p.contains("Window"),
      "canonical election must not rank members with a window")
    assert(p.contains("partial_max") || p.contains("max("),
      s"expected the struct-max election aggregate in:\n$p")
  }

  test("q_topk: limit is pushed into a TakeOrdered operator, not a " +
    "global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_sessionize: ONE exchange — both windows and the session " +
    "aggregate reuse the user_id partitioning") {
    val p = plan("q_sessionize")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("doc_pack: two-level prefix sum — every window over the doc " +
    "stream is (lang, blk)-bounded; only the tiny block frame windows " +
    "by lang alone") {
    val p = plan("doc_pack")
    // the doc-stream window and the groupBy share (lang, blk) keys; the
    // lang-only exchange exists ONLY for the block-totals frame, which
    // is |corpus|/1024 rows — no unbounded per-lang ordering of docs
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, p)
    // lang-only exchanges feed the block-level window, whose input is a
    // HashAggregate (block totals), never a raw doc scan
    val windows = "Window \\[[^\\]]*\\], \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(windows.size == 2, s"$windows\n$p")
    assert(windows.count(_.contains("blk")) >= 1, s"$windows\n$p")
  }

  test("q_range_join: hash join on the equi key, never a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("q_tpch10: filters reach both fact scans, customer broadcasts, " +
    "top-20 is a TakeOrdered — never a global sort") {
    val q = SparkEntry.queries("q_tpch10_returns")(spark, sf0001)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // sparkPlan, not executedPlan: AQE wraps the executed tree and hides
    // the scans from collect until runtime
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val pushed = scans.map(_.metadata("PushedFilters")).mkString(" ")
    assert(pushed.contains("EqualTo(l_returnflag,R)"), pushed)
    assert(pushed.contains("o_orderdate"), pushed)
  }

  test("q_tpch18: the HAVING subquery plans as one partial-aggregated " +
    "pass over lineitem feeding the join — no second fact scan") {
    val q = SparkEntry.queries("q_tpch18_volume")(spark, sf0001)
    val p = q.queryExecution.executedPlan.toString
    val lineitemScans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata("Location").contains("lineitem") => f
    }.size
    assert(lineitemScans == 1, s"lineitem scanned $lineitemScans times")
    assert(p.contains("HashAggregate"), p)
  }

  // The 100-TB broadcast policy: customer/part/supplier/orders/lineitem
  // grow linearly with scale factor, so a hard broadcast() hint (which
  // bypasses the size check and the 8 GB broadcast limit) is an OOM at
  // sf100+. The sweep is TOTAL — it iterates every registered query, not
  // a named list (a named list is exactly how q_star_join's forced
  // broadcast(customer) survived the round-3 purge): any hint whose
  // build side carries a scale-growing table's columns fails here, no
  // matter which query reintroduces it. Bounded frames (nation/region,
  // 1-row scalars, centroid rows, benchmark-gram lists) keep their hints
  // — none expose these columns.
  private val scalingDimCols =
    Set("c_custkey", "p_partkey", "s_suppkey", "o_orderkey", "l_orderkey",
      "doc_id", "vec_id", "event_id")

  // Scale-growing table FILES (everything that grows with sf; nation and
  // region are fixed-cardinality). Matched by scan path, not column
  // names — renames/derived columns can't hide a corpus scan.
  private val scaleTableScan =
    (".*/(customer|orders|lineitem|part|supplier|events|documents|" +
      "embeddings)\\.parquet$").r

  /** Paths of scale-growing parquet scans anywhere under `p`. */
  private def corpusScans(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
    p.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
              .filter(pa => scaleTableScan.pattern.matcher(pa).matches())
          case _ => Nil
        }
    }.flatten

  /** A subtree whose output SIZE is bounded NO MATTER how large the
    * scanned tables grow: it contains a group-less (scalar) aggregate
    * over scalar-valued aggregate functions, or an explicit limit.
    * GroupBy aggregates, distincts and filters do NOT count — a
    * groupBy's output grows with its key's cardinality (the
    * stop-shingle-list failure: "distinct shingles with df > 50" IS the
    * corpus' frequent-n-gram vocabulary), and that is exactly the class
    * of "small at bench scale" claim that rots. Neither does a
    * group-less aggregate whose buffer is itself collection-valued
    * (collect_list / collect_set): it bounds the ROW count at 1 but the
    * row's BYTES grow with whatever was collected — the
    * sim_label_coherence failure mode, where one
    * map_from_entries(collect_list(...)) row accumulated the whole
    * label→centroid domain in a single task's aggregation buffer.
    */
  private def structurallyBounded(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p.exists {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.isEmpty &&
          !a.aggregateExpressions.exists(_.exists {
            case _: org.apache.spark.sql.catalyst.expressions.aggregate.CollectList => true
            case _: org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet => true
            case _ => false
          })
      case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => true
      case _ => false
    }

  test("ALL queries: no broadcast hint on a scale-growing side, no " +
    "unpartitioned window over ANY frame (total sweep over " +
    "SparkEntry.specs)") {
    // One pass over every registered query's analyzed plan, checking the
    // two 100-TB hazard classes this project has actually hit:
    //  1. a broadcast() hint whose build side reads a scale-growing
    //     table (bypasses AQE's size check → OOM at sf100). Checked
    //     STRUCTURALLY — any corpus scan under the hint, whatever the
    //     output column names (the round-5 stop-list hint renamed its
    //     way past the old column-keyed check) — unless a group-less
    //     aggregate or an explicit limit bounds the subtree's
    //     cardinality independent of corpus size. The old column-name
    //     check is kept as a second net for hints on frames built
    //     outside the registered table loaders.
    //  2. a window with NO partition spec (funnels its whole input into
    //     one task — the vocab_coverage failure mode; bounded inputs
    //     don't excuse it, because "bounded" claims rot as shapes evolve
    //     and every current operator has a partitioned or window-free
    //     form).
    val violations = SparkEntry.specs.flatMap { sp =>
      val analyzed =
        try SparkEntry.queries(sp.name)(spark, sf0001).queryExecution.analyzed
        catch { case e: Throwable =>
          fail(s"${sp.name}: failed to analyze: ${e.getMessage}")
        }
      // Only BROADCAST-class hints are the hazard: they bypass AQE's
      // size check and materialize the side on every executor (and the
      // driver). Shuffle-class hints (shuffle_hash / merge) keep the
      // side distributed — q_skew_join's shuffle_hash on the
      // salt-exploded dim is the technique, not a hazard.
      val hints = analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
      }
      val hintedCols = hints.flatMap(_.child.output.map(_.name))
        .toSet.intersect(scalingDimCols)
      val unboundedCorpusHints = hints.flatMap { h =>
        val scans = corpusScans(h.child)
        if (scans.nonEmpty && !structurallyBounded(h.child))
          scans.map(_.replaceAll(".*/", ""))
        else Nil
      }
      val globalWindows = analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      val problems =
        (if (hintedCols.nonEmpty) Seq(s"hint on $hintedCols") else Nil) ++
          (if (unboundedCorpusHints.nonEmpty)
            Seq(s"unbounded hint over corpus scan(s) $unboundedCorpusHints")
           else Nil) ++
          (if (globalWindows.nonEmpty)
            Seq(s"${globalWindows.size} unpartitioned window(s)") else Nil)
      if (problems.nonEmpty) Some(sp.name -> problems) else None
    }
    assert(violations.isEmpty, s"scale hazards: $violations")
    // Self-check against a vacuous matcher (a path-format drift would
    // silently blind the structural sweep): sim_topk's query-set hint
    // reads the embeddings table and is bounded by its GlobalLimit —
    // the matcher must SEE that scan and the bound.
    val st = SparkEntry.queries("sim_topk")(spark, sf0001)
      .queryExecution.analyzed
    val stHints = st.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(stHints.exists(h => corpusScans(h.child).nonEmpty &&
      structurallyBounded(h.child)),
      "corpusScans/structurallyBounded matcher no longer sees the " +
        "sim_topk query-set hint — the sweep would be vacuous")
  }

  test("hazard sweep: a group-less COLLECTION-valued aggregate under a " +
    "hint is flagged (1 row, but bytes grow with the corpus), while a " +
    "scalar-buffered group-less aggregate still counts as a bound") {
    import org.apache.spark.sql.functions._
    def hintsOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    val docs = Tables.documents(spark, sf0001)
    // The sim_label_coherence round-6 shape: the whole key→payload
    // domain packed into one map row. Row count 1; bytes O(|domain|).
    val packed = docs.agg(
      map_from_entries(collect_list(struct(col("doc_id"), col("lang"))))
        .as("m"))
    val badHints = hintsOf(docs.crossJoin(broadcast(packed)))
    assert(badHints.exists(h => corpusScans(h.child).nonEmpty &&
      !structurallyBounded(h.child)),
      "collection-valued scalar aggregate under a hint must NOT count " +
        "as structurally bounded")
    // Scalar buffers (max/count/sum) stay bounded in rows AND bytes —
    // the q_snapshot_latest max-ts broadcast must keep passing.
    val scalar = docs.agg(max(col("doc_id")).as("mx"))
    val okHints = hintsOf(docs.crossJoin(broadcast(scalar)))
    assert(okHints.exists(h => corpusScans(h.child).nonEmpty &&
      structurallyBounded(h.child)),
      "scalar group-less aggregate must remain a valid bound")
  }

  // And the other half of the policy: dropping the hints cost nothing
  // where a broadcast was ever correct — size-stats/AQE still plan
  // BroadcastHashJoin for these shapes at bench scale.
  for (q <- Seq("q_tpch3_shipping", "q_tpch5_local_volume",
      "q_tpch7_volume", "q_tpch10_returns", "q_tpch13_custdist",
      "q_tpch17_smallqty", "q_tpch18_volume", "q_tpch14_promo",
      "q_left_join", "q_star_join")) {
    test(s"$q: planner still picks BroadcastHashJoin at bench scale " +
      "with no hint on the scaling side") {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), p)
    }
  }

  test("decontaminate / dedup_ngram: dropping the corpus-derived hints " +
    "(bench grams, stop-shingle list) costs nothing at bench scale — " +
    "AQE still broadcasts the small build side at runtime, or elides " +
    "the empty anti-join outright") {
    // These build sides are groupBy/distinct outputs, so the STATIC
    // planner has no reliable size estimate — the broadcast decision is
    // AQE's, made from actual map-output stats. Assert on the FINAL
    // adaptive plan (post-execution), not the initial one.
    val dc = SparkEntry.queries("decontaminate")(spark, sf0001)
    dc.collect()
    val dcPlan = dc.queryExecution.executedPlan.toString
    assert(dcPlan.contains("BroadcastHashJoin"), dcPlan)
    val ng = SparkEntry.queries("dedup_ngram")(spark, sf0001)
    ng.collect()
    val ngPlan = ng.queryExecution.executedPlan.toString
    // the stop list is EMPTY at this sf (no shingle has df > 50): AQE
    // must either broadcast the anti side or replace the anti-join with
    // its probe side — never run a shuffled anti-join of the full
    // shingle stream against a frame it knows is tiny
    assert(!ngPlan.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("LeftAnti")), ngPlan)
  }

  test("q_tpch21: both correlated subqueries (EXISTS + NOT EXISTS " +
    "against the same fact) derive from ONE lineitem scan — no " +
    "semi/anti re-scan — and the top-100 is a TakeOrdered") {
    val q = SparkEntry.queries("q_tpch21_waiting")(spark, sf0001)
    val lineitemScans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata("Location").contains("lineitem") => f
    }.size
    assert(lineitemScans == 1, s"lineitem scanned $lineitemScans times")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_tpch20: both IN subqueries plan as LeftSemi joins (no " +
    "row-duplicating inner join), one lineitem scan, and the p_name " +
    "prefix filter reaches the part scan") {
    val q = SparkEntry.queries("q_tpch20_excess")(spark, sf0001)
    val p = q.queryExecution.executedPlan.toString
    assert("LeftSemi".r.findAllIn(p).length >= 2, p)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.count(_.metadata("Location").contains("lineitem")) == 1)
    val partPushed = scans.filter(_.metadata("Location").contains("part"))
      .map(_.metadata("PushedFilters")).mkString(" ")
    assert(partPushed.contains("StringStartsWith(p_name,red)"), partPushed)
  }

  test("q_tpch19: the OR-of-ANDs predicate CNF-extracts per side — the " +
    "brand/size disjunction reaches the part scan, the quantity " +
    "disjunction the lineitem scan") {
    val q = SparkEntry.queries("q_tpch19_disjunct")(spark, sf0001)
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata("Location") -> f.metadata("PushedFilters")
    }.toMap
    val partPushed = scans.collect { case (l, p) if l.contains("part") => p }
    val liPushed = scans.collect { case (l, p) if l.contains("lineitem") => p }
    assert(partPushed.exists(p => p.contains("Or(") && p.contains("p_brand")),
      scans.mkString("\n"))
    assert(liPushed.exists(p => p.contains("Or(") && p.contains("l_quantity")),
      scans.mkString("\n"))
  }

  test("q_bucket_join: bucketed join + groupBy on the bucket key run " +
    "with ZERO exchanges — the shuffle was paid once at write time") {
    val p = plan("q_bucket_join")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Bucketed: true"), p)
  }

  private def ingestConfig(base: String) = graft.pipeline.IngestPipeline.Config(
    trafficUrlTemplate = "traffic://{lat},{lon}?key={key}",
    weatherUrlTemplate = "weather://{lat},{lon}?key={key}",
    points = Fixtures.geoPoints,
    trafficPath = s"$base/traffic_table",
    weatherPath = s"$base/weather_table",
    snapshotPath = s"$base/latest_joined_data",
    retryDelayMillis = 0L)
  private val ingestDay1 = java.time.ZonedDateTime.of(2026, 8, 12, 9, 0, 0, 0,
    java.time.ZoneId.of("UTC"))
  /** Well-formed payloads, except for the APIs named in `down`, which fail. */
  private def ingestFetch(down: String*): graft.sources.HttpJsonSource.Fetcher =
    (url, _) =>
      if (down.exists(url.startsWith)) scala.util.Failure(new RuntimeException("down"))
      else scala.util.Success(
        if (url.startsWith("traffic")) Fixtures.tomtom() else Fixtures.openWeather())

  test("ingest history: a date predicate prunes partitions at the scan " +
    "(the 100-TB guard for the only append-forever table)") {
    import graft.pipeline.IngestPipeline
    import org.apache.spark.sql.functions.col
    val c = ingestConfig(tmpDir("prune"))
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1)
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1.plusDays(1))
    val q = spark.read.parquet(c.trafficPath).filter(col("date") === "2026-08-12")
    // the predicate must land in PartitionFilters (directory-level file
    // listing prune), NOT PushedFilters (row-group skipping after listing)
    val scans = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.exists(_.toString.contains("2026-08-12")),
      scans.head.partitionFilters.mkString("; "))
    // and it actually prunes: exactly ONE of the two date directories is
    // selected for the scan's file listing
    assert(scans.head.selectedPartitions.partitionCount == 1)
    assert(q.count() == 3)
  }

  /** Runs `body` and returns its result, every node of the physical
    * plans its SQL executions ran (subqueries and write commands'
    * inner plans included), the number of jobs it started and the
    * number of SQL executions it ran.
    */
  private def observed[T](body: => T)
      : (T, Seq[org.apache.spark.sql.execution.SparkPlan], Int, Int) = {
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(counter)
    val r = try {
      val r = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      r
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      spark.listenerManager.unregister(ql)
    }
    val helper = new AdaptiveSparkPlanHelper {}
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      helper.collectWithSubqueries(p) {
        case cr: CommandResultExec => cr +: nodes(cr.commandPhysicalPlan)
        case n => Seq(n)
      }.flatten
    (r, plans.asScala.toSeq.flatMap(nodes), jobs.get(), plans.size)
  }

  /** The scans of the observed `nodes` that read `c`'s history tables. */
  private def historyScans(c: graft.pipeline.IngestPipeline.Config,
      nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    nodes.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .filter(_.relation.location.rootPaths.exists(p =>
        p.toString.contains(c.trafficPath) || p.toString.contains(c.weatherPath)))

  test("ingest snapshot: every scan of the hourly refresh lists ONE date " +
    "partition, the newest (the per-hour 100-TB guard)") {
    import graft.pipeline.IngestPipeline
    import org.apache.spark.sql.execution.FileSourceScanExec
    val c = ingestConfig(tmpDir("prune"))
    // two date dirs of history; the observed run is on the newer day
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1.minusDays(1))
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1)
    val (r, nodes, _, _) = observed(
      IngestPipeline.run(spark, c, ingestFetch(), ingestDay1.plusHours(1)))
    assert(r.snapshotRows == 3)
    val history = historyScans(c, nodes)
    def roots(f: FileSourceScanExec) = f.relation.location.rootPaths.map(_.toString)
    assert(history.exists(roots(_).exists(_.contains(c.trafficPath))))
    assert(history.exists(roots(_).exists(_.contains(c.weatherPath))))
    history.foreach { f =>
      assert(f.selectedPartitions.partitionCount == 1, roots(f))
      assert(roots(f).forall(_.endsWith("date=2026-08-12")), roots(f))
    }
    // each table is scanned once: the newest-hour job returns the traffic
    // rows the lookup uses, so no second traffic scan
    def scansOf(path: String) = history.count(roots(_).exists(_.contains(path)))
    assert(scansOf(c.trafficPath) == 1 && scansOf(c.weatherPath) == 1,
      history.map(roots))
    // the hour's `time` reaches the weather scan as a Parquet filter, so
    // the publish's one task reads only that hour's row groups
    history.filter(roots(_).exists(_.contains(c.weatherPath))).foreach { f =>
      assert(f.metadata("PushedFilters").contains("time"), f.metadata)
    }
  }

  test("ingest snapshot: no scan of the hourly refresh lists the run's own " +
    "appended file (the refresh adds the run's rows from the driver)") {
    import graft.pipeline.IngestPipeline
    val c = ingestConfig(tmpDir("own"))
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1)
    def files(table: String) = new java.io.File(s"$table/date=2026-08-12").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toURI.getPath).toSet
    val tables = Seq(c.trafficPath, c.weatherPath)
    val before = tables.flatMap(files).toSet
    val (r, nodes, _, _) = observed(
      IngestPipeline.run(spark, c, ingestFetch(), ingestDay1.plusHours(1)))
    assert(r.snapshotRows == 3)
    val own = tables.flatMap(files).toSet -- before
    assert(own.size == 2, own)
    val history = historyScans(c, nodes)
    assert(history.size == 2) // the MAX and the publish
    val scanned = history.flatMap(_.relation.location.inputFiles)
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    assert(scanned == before, scanned)
  }

  test("ingest snapshot: a day-rollover run's refresh scans no history dir " +
    "and runs no MAX job (3 jobs: two appends, the publish)") {
    import graft.pipeline.IngestPipeline
    val c = ingestConfig(tmpDir("rollover"))
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1)
    val (r, nodes, jobs, _) = observed(
      IngestPipeline.run(spark, c, ingestFetch(), ingestDay1.plusDays(1)))
    assert(r.snapshotRows == 3)
    assert(historyScans(c, nodes).isEmpty, historyScans(c, nodes).map(_.relation.location))
    assert(jobs == 3)
    assert(spark.read.parquet(c.snapshotPath).select("date").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSeq == Seq.fill(3)("2026-08-13"))
  }

  test("ingest snapshot: a non-empty hourly run into existing roots is 4 " +
    "jobs (two appends, the MAX, the publish), with no join and no broadcast") {
    import graft.pipeline.IngestPipeline
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val c = ingestConfig(tmpDir("jobs"))
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1)
    val (r, nodes, jobs, executions) = observed(
      IngestPipeline.run(spark, c, ingestFetch(), ingestDay1.plusHours(1)))
    assert(r.trafficRows == 3 && r.weatherRows == 3 && r.snapshotRows == 3)
    assert(jobs == 4)
    // 6 SQL executions: the two transform collects (no job), the two
    // appends, the MAX and the publish — the appends decide emptiness
    // from the transformed rows' local relation, with no isEmpty
    // execution of their own
    assert(executions == 6)
    assert(nodes.nonEmpty)
    assert(!nodes.exists {
      case _: BaseJoinExec | _: BroadcastExchangeExec => true
      case _ => false
    }, nodes.map(_.nodeName).distinct)
    // the newest weather dir holds both runs' files, two scan splits, yet
    // the publish writes from one partition: one snapshot file, not an
    // extra empty one for partition 0
    assert(new java.io.File(c.snapshotPath).listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
  }

  test("ingest append: each hourly append writes ONE parquet file per table " +
    "(driver-local rows are written from one partition)") {
    import graft.pipeline.IngestPipeline
    val c = ingestConfig(tmpDir("files"))
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1)
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1.plusHours(1))
    IngestPipeline.run(spark, c, ingestFetch(), ingestDay1.plusDays(1))
    for (table <- Seq(c.trafficPath, c.weatherPath)) {
      def files(date: String) = new java.io.File(s"$table/date=$date").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files("2026-08-12") == 2 && files("2026-08-13") == 1, table)
    }
  }

  test("ingest append: exactly ONE job per non-empty append stage (the " +
    "transform folds into a LocalRelation, so its collect runs none)") {
    import graft.pipeline.IngestPipeline
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // With the other API down its table root never exists, so the
    // snapshot refresh returns before any job: the run's jobs are the
    // one append stage's.
    def jobsOf(run: => IngestPipeline.RunReport): (Long, Long, Int) = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      val r = run
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (r.trafficRows, r.weatherRows, jobs.get())
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      assert(jobsOf(IngestPipeline.run(spark, ingestConfig(tmpDir("jobs")),
        ingestFetch("weather"), ingestDay1)) == ((3L, 0L, 1)))
      assert(jobsOf(IngestPipeline.run(spark, ingestConfig(tmpDir("jobs")),
        ingestFetch("traffic"), ingestDay1)) == ((0L, 3L, 1)))
      val malformed: graft.sources.HttpJsonSource.Fetcher =
        (_, _) => scala.util.Success(Fixtures.notJson)
      assert(jobsOf(IngestPipeline.run(spark, ingestConfig(tmpDir("jobs")),
        malformed, ingestDay1)) == ((0L, 0L, 0)))
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("q_tpch2 / q_tpch15: the shared view subtree plans ONCE — one " +
    "lineitem scan via ReusedExchange — and Q2's top-100 is a " +
    "TakeOrdered, with no nested-loop join anywhere") {
    // Pinned on a no-AQE session clone: the ReuseExchange rule runs at
    // physical planning there, so the plan string is deterministic
    // (under AQE the same dedup happens at stage materialization, which
    // plancheck verified but is only visible post-execution).
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val p2 = SparkEntry.queries("q_tpch2_mincost")(noAqe, sf0001)
      .queryExecution.executedPlan.toString
    assert(p2.contains("ReusedExchange"), p2)
    assert("lineitem\\.parquet".r.findAllIn(p2).length == 1,
      "Q2's correlated-MIN decorrelation must derive offers ONCE")
    assert(p2.contains("TakeOrderedAndProject"), p2)
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"), p2)
    val p15 = SparkEntry.queries("q_tpch15_topsupplier")(noAqe, sf0001)
      .queryExecution.executedPlan.toString
    assert(p15.contains("ReusedExchange"), p15)
    assert("lineitem\\.parquet".r.findAllIn(p15).length == 1,
      "Q15's revenue view must plan (and scan) once — if this broke, " +
        "check the isnotnull pre-filter on rev (constraint pushdown " +
        "de-canonicalizes the two view references)")
  }

  test("dedup_prefix_join: the a/b prefix branches and the two full-set " +
    "branches plan through ReusedExchange — the shingle pipeline " +
    "computes once per role, not once per join side") {
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val p = SparkEntry.queries("dedup_prefix_join")(noAqe, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p)
    // one scan for the prefix pipeline + one for the collect_set
    // pipeline is the floor; anything past 3 means a branch stopped
    // canonicalizing and the explode work multiplied
    val scans = "documents\\.parquet".r.findAllIn(p).length
    assert(scans <= 3, s"$scans documents scans:\n$p")
  }

  test("q_tpch4 / q_tpch8 / q_tpch11 / q_tpch16: the round-7 planner " +
    "traps keep their shapes — semi join with non-equi residual, no " +
    "nested loop in the 8-table join, reused view under HAVING, " +
    "anti join before the distinct count") {
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    def p(n: String) = SparkEntry.queries(n)(noAqe, sf0001)
      .queryExecution.executedPlan.toString
    val p4 = p("q_tpch4_priority")
    assert(p4.contains("LeftSemi"), p4) // EXISTS ⇒ semi, never inner+distinct
    val p8 = p("q_tpch8_marketshare")
    assert(!p8.contains("BroadcastNestedLoopJoin") &&
      !p8.contains("CartesianProduct"), p8)
    val p11 = p("q_tpch11_stock")
    assert(p11.contains("ReusedExchange") &&
      "lineitem\\.parquet".r.findAllIn(p11).length == 1,
      "Q11's filtered partsupp view must plan once under the HAVING " +
        "scalar subquery (isnotnull pre-filter — see Q15)")
    val p16 = p("q_tpch16_suppcnt")
    assert(p16.contains("LeftAnti"), p16)
    val p9 = p("q_tpch9_profit")
    assert("lineitem\\.parquet".r.findAllIn(p9).length == 1,
      "Q9's derived supply cost must ride the fact's own shuffle as a " +
        "pair-partitioned window, not re-scan lineitem for an " +
        "aggregate-and-join-back")
    assert("Window".r.findAllIn(p9).nonEmpty, p9)
  }

  test("Par.fanOut: injects the corpus exchange ONLY on narrow scans — " +
    "a scan with splits >= parallelism passes through exchange-free") {
    import org.apache.spark.sql.functions._
    val p = spark.sparkContext.defaultParallelism
    val dir = tmpDir("fanout")
    // Wide scan: at least `p` splits (one parquet file per partition,
    // each its own split at this size).
    spark.range(0, 10000).select(col("id"), rand(7).as("x"))
      .repartition(p * 2)
      .write.parquet(s"$dir/wide")
    val wide = spark.read.parquet(s"$dir/wide")
    val wideOut = graft.operators.Par.fanOut(wide)
    assert(wideOut.queryExecution.toRdd.getNumPartitions >= p)
    assert(!wideOut.queryExecution.executedPlan.toString.contains("Exchange"),
      "fanOut must be a no-op (no exchange) when the scan is already " +
        "as wide as the session")
    // Narrow scan: one file, one split — the exchange IS injected and
    // widens the frame to the session's parallelism.
    spark.range(0, 10000).select(col("id"), rand(7).as("x"))
      .coalesce(1)
      .write.parquet(s"$dir/narrow")
    val narrow = spark.read.parquet(s"$dir/narrow")
    assert(narrow.queryExecution.toRdd.getNumPartitions < p)
    val narrowOut = graft.operators.Par.fanOut(narrow)
    assert(narrowOut.queryExecution.executedPlan.toString
      .contains("Exchange RoundRobinPartitioning"),
      "fanOut must widen a single-split scan")
  }
}
