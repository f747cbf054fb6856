package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without any exchange (co-located join)") {
    val o = Tables.orders(spark, sf0001)
    val l = Tables.lineitem(spark, sf0001)
    Layout.writeBucketed(o, "orders_b", 4, Seq("o_orderkey"))
    Layout.writeBucketed(
      l.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", 4,
      Seq("o_orderkey"))
    // at test scale the planner prefers broadcasting the small side
    // (also shuffle-free); disable it to surface the bucketed SMJ path a
    // large-×-large join would take
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      // and the result is still correct
      val n = joined.count()
      val expected = l.join(o, l("l_orderkey") === o("o_orderkey")).count()
      assert(n == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("writeSorted: the range-clustered copy answers a ts-slice " +
    "reading a fraction of the rows the unclustered copy reads " +
    "(row-group stats skip), with the range in PushedFilters and " +
    "identical results") {
    val dir = tmpDir("sorted-layout")
    val ev = Tables.events(spark, sf0001)
    Layout.writeSorted(ev, s"$dir/sorted", "ts")
    // control: same rows, same file count, ts scattered by a hash key —
    // every row group straddles the whole time domain, nothing skips
    ev.repartition(8, col("event_id"))
      .write.parquet(s"$dir/shuffled")
    // no-AQE clone so scan metrics sit in a plain executed plan
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val lo = "2024-01-05 00:00:00"; val hi = "2024-01-07 00:00:00"
    def scan(path: String) = {
      val q = noAqe.read.parquet(path)
        .filter(col("ts") >= to_timestamp(lit(lo)) &&
          col("ts") < to_timestamp(lit(hi)))
      val rows = q.collect().map(_.getLong(0)).toSet
      val sc = q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      (rows, sc.metrics("numOutputRows").value, sc.metadata("PushedFilters"))
    }
    val (sortedRows, sortedScanned, pushed) = scan(s"$dir/sorted")
    val (shuffledRows, shuffledScanned, _) = scan(s"$dir/shuffled")
    assert(sortedRows == shuffledRows, "layout must not change results")
    assert(pushed.contains("GreaterThanOrEqual(ts") &&
      pushed.contains("LessThan(ts"), pushed)
    assert(shuffledScanned == ev.count(),
      "control: scattered row groups must all survive pruning")
    assert(sortedScanned * 3 < shuffledScanned,
      s"sorted layout scanned $sortedScanned rows vs $shuffledScanned " +
        "unclustered — row-group skipping is not engaging")
  }

  test("writeZOrdered: the 2-D rectangle predicate skips files on BOTH " +
    "dimensions — fewer rows scanned than the unclustered control AND " +
    "than what a user-blind time-only prune could achieve") {
    val dir = tmpDir("zorder-layout")
    val ev = Tables.events(spark, sf0001)
    Layout.writeZOrdered(ev, s"$dir/zorder",
      Layout.morton32(col("user_id"),
        unix_micros(col("ts")) / 86400000000L - 19723L))
    ev.repartition(16, col("event_id")).write.parquet(s"$dir/shuffled")
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    def scan(path: String) = {
      val q = noAqe.read.parquet(path)
        .filter(col("user_id").between(4, 7) &&
          col("ts") >= to_timestamp(lit("2024-01-05 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))
      val rows = q.collect().map(_.getLong(0)).toSet
      val sc = q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      (rows, sc.metrics("numOutputRows").value, sc.metadata("PushedFilters"))
    }
    val (zRows, zScanned, pushed) = scan(s"$dir/zorder")
    val (ctlRows, ctlScanned, _) = scan(s"$dir/shuffled")
    assert(zRows == ctlRows, "layout must not change results")
    assert(pushed.contains("GreaterThanOrEqual(user_id,4)") &&
      pushed.contains("LessThan(ts"), pushed)
    assert(ctlScanned == ev.count(),
      "control: scattered files must all survive pruning")
    // both-dimension skipping: the 10-day window alone keeps ~1/3 of
    // rows; z-order must beat that bound, which only the user_id
    // dimension can explain
    val timeOnlyBound = ev.count() / 3
    assert(zScanned < timeOnlyBound,
      s"z-order scanned $zScanned rows — not beating the time-only " +
        s"bound $timeOnlyBound (control scans $ctlScanned)")
  }

  test("hilbert: bijective over the full 64x64 grid and UNIT-STEP " +
    "continuous (every consecutive pair of curve positions is a grid " +
    "neighbor) — the locality property Morton provably lacks") {
    import spark.implicits._
    val n = 64
    val grid = (0 until n).flatMap(x => (0 until n).map(y => (x, y)))
      .toDF("x", "y")
    val got = grid.select($"x", $"y",
        Layout.hilbert($"x", $"y", order = 6).as("d"),
        Layout.morton32($"x", $"y").as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // bijection: 4096 distinct d covering exactly 0..4095
    val ds = got.map(_._3)
    assert(ds.toSet == (0L until (n.toLong * n)).toSet)
    // adjacency: walking the curve in d order only ever takes unit steps
    val byD = got.sortBy(_._3)
    byD.sliding(2).foreach { case Array(a, b) =>
      val step = math.abs(a._1 - b._1) + math.abs(a._2 - b._2)
      assert(step == 1, s"non-unit step between d=${a._3} and d=${b._3}")
    }
    // Morton on the same grid is NOT unit-step continuous (seam jumps)
    val byZ = got.sortBy(_._4)
    val zJumps = byZ.sliding(2).count { case Array(a, b) =>
      math.abs(a._1 - b._1) + math.abs(a._2 - b._2) > 1
    }
    assert(zJumps > 0, "control: Morton should show seam jumps")
  }

  test("hilbert layout: the 2-D rectangle predicate skips on BOTH " +
    "dimensions, beating the time-only bound like z-order does") {
    val dir = tmpDir("hilbert-layout")
    val ev = Tables.events(spark, sf0001)
    Layout.writeZOrdered(ev, s"$dir/hilbert",
      Layout.hilbert(col("user_id"),
        unix_micros(col("ts")) / 86400000000L - 19723L))
    ev.repartition(16, col("event_id")).write.parquet(s"$dir/shuffled")
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    def scan(path: String) = {
      val q = noAqe.read.parquet(path)
        .filter(col("user_id").between(2, 5) &&
          col("ts") >= to_timestamp(lit("2024-01-08 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-18 00:00:00")))
      val rows = q.collect().map(_.getLong(0)).toSet
      val sc = q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      (rows, sc.metrics("numOutputRows").value)
    }
    val (hRows, hScanned) = scan(s"$dir/hilbert")
    val (ctlRows, ctlScanned) = scan(s"$dir/shuffled")
    assert(hRows == ctlRows, "layout must not change results")
    assert(ctlScanned == ev.count(),
      "control: scattered files must all survive pruning")
    val timeOnlyBound = ev.count() / 3
    assert(hScanned < timeOnlyBound,
      s"hilbert scanned $hScanned rows — not beating the time-only " +
        s"bound $timeOnlyBound (control scans $ctlScanned)")
  }

  test("publishOverwrite: snapshot swap replaces content completely and " +
    "leaves no staging/trash dirs behind") {
    import spark.implicits._
    val path = tmpDir("publish") + "/snapshot"
    Layout.publishOverwrite(Seq(1, 2, 3).toDF("v"), path)
    assert(spark.read.parquet(path).count() == 3)
    // second publish fully replaces the first (old rows gone, not merged)
    Layout.publishOverwrite(Seq(9).toDF("v"), path)
    val vs = spark.read.parquet(path).as[Int].collect().toSeq
    assert(vs == Seq(9))
    val parent = java.nio.file.Paths.get(path).getParent
    val leftovers = java.nio.file.Files.list(parent).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (leftovers.hasNext) names += leftovers.next().getFileName.toString
    assert(names.toSeq == Seq("snapshot"), names.mkString(","))
  }

  test("compaction: many small files of one date partition become one, " +
    "rows identical, other partitions untouched, pruning preserved") {
    val base = tmpDir("compact")
    val path = s"$base/history"
    import spark.implicits._
    // six hourly appends on day 1, two on day 2 — one file each, the
    // append-forever shape of the ingest table
    (0 until 6).foreach { h =>
      Seq((h.toLong, s"09:0$h")).toDF("speed", "time")
        .withColumn("date", lit("2026-08-12"))
        .write.mode("append").partitionBy("date").parquet(path)
    }
    (0 until 2).foreach { h =>
      Seq((100L + h, s"10:0$h")).toDF("speed", "time")
        .withColumn("date", lit("2026-08-13"))
        .write.mode("append").partitionBy("date").parquet(path)
    }
    def files(day: String) =
      new java.io.File(s"$path/date=$day").listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
    val before = spark.read.parquet(path).orderBy("speed").collect().toSeq
    val day2Before = files("2026-08-13").map(_.getName).toSet
    assert(files("2026-08-12").size == 6)

    Layout.compactDatePartition(spark, path, "2026-08-12")

    assert(files("2026-08-12").size == 1)
    assert(files("2026-08-13").map(_.getName).toSet == day2Before)
    val after = spark.read.parquet(path).orderBy("speed").collect().toSeq
    assert(after == before)
    // pruning still works against the rewritten directory
    val q = spark.read.parquet(path).filter(col("date") === "2026-08-12")
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.selectedPartitions.partitionCount == 1)
    assert(q.count() == 6)
  }

  test("compaction fails, live partition untouched and staging removed, " +
    "when an append lands in the partition during its staging write") {
    val base = tmpDir("compact-race")
    val path = s"$base/history"
    import spark.implicits._
    def append(speed: Long): Unit =
      Seq((speed, "09:00")).toDF("speed", "time")
        .withColumn("date", lit("2026-08-12"))
        .write.mode("append").partitionBy("date").parquet(path)
    (0 until 3).foreach(h => append(h.toLong))
    val part = new java.io.File(s"$path/date=2026-08-12")
    def files = part.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    var landed = false
    val err = intercept[java.util.ConcurrentModificationException] {
      HookedCommitProtocol.withHook(spark) { out =>
        if (out.contains(".compacting") && !landed) { landed = true; append(99L) }
      } { Layout.compactDatePartition(spark, path, "2026-08-12") }
    }
    assert(landed && err.getMessage.contains("1 files added"), err.getMessage)
    assert(files.size == 4)
    assert(spark.read.parquet(path).select("speed").as[Long].collect().sorted
      .toSeq == Seq(0L, 1L, 2L, 99L))
    assert(new java.io.File(path).list().filterNot(_.endsWith(".crc")).toSet ==
      Set("date=2026-08-12", "_SUCCESS"))
    // with appends stopped, the rerun compacts all four rows
    Layout.compactDatePartition(spark, path, "2026-08-12")
    assert(files.size == 1)
    assert(spark.read.parquet(path).count() == 4)
  }

  test("morton32 stays monotone past 2^31: the sign-bit flip keeps " +
    "signed sort order equal to the unsigned interleave order for the " +
    "full 32-bit key range") {
    import spark.implicits._
    // b's bit 31 lands at z-position 63 (the sign bit): without the
    // flip, b >= 2^31 sorted BEFORE b = 0
    val bs = Seq(0L, 1L, (1L << 31) - 1, 1L << 31, (1L << 31) + 5,
      (1L << 32) - 1)
    val zb = bs.toDF("b")
      .withColumn("z", Layout.morton32(lit(0L), col("b")))
      .orderBy(col("b")).select(col("z")).as[Long].collect()
    assert(zb.zip(zb.tail).forall { case (x, y) => x < y },
      s"z must increase with b across the 2^31 boundary: ${zb.toSeq}")
    // a's bit 31 lands at position 62 — monotone too, and below b's bit
    val za = bs.toDF("a")
      .withColumn("z", Layout.morton32(col("a"), lit(0L)))
      .orderBy(col("a")).select(col("z")).as[Long].collect()
    assert(za.zip(za.tail).forall { case (x, y) => x < y },
      s"z must increase with a across the 2^31 boundary: ${za.toSeq}")
    // locality is preserved below the boundary: the flip is a shared
    // constant, so relative order of small-key z-values is unchanged
    val small = Seq((1L, 2L), (1L, 3L), (2L, 2L), (3L, 7L))
    val zs = small.toDF("a", "b")
      .withColumn("z", Layout.morton32(col("a"), col("b")))
      .select(col("z")).as[Long].collect()
    assert(zs.distinct.length == small.length,
      "distinct small keys keep distinct z-cells")
  }

  test("stagePin: two pins under the same name serve their own rows " +
    "(no cross-serve, no clobber), and clearPins removes the whole " +
    "scratch root") {
    import spark.implicits._
    val first = Layout.stagePin(Seq(1L, 2L).toDF("v"), "samename")
    val second = Layout.stagePin(Seq(9L).toDF("v"), "samename")
    // the SECOND pin must not have overwritten the first's directory:
    // both frames re-read their own materialized rows
    assert(first.select($"v").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(second.select($"v").as[Long].collect().toSeq == Seq(9L))
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), ".graft_pin")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(root).count(
      _.getPath.getName.startsWith("samename-")) == 2,
      "each pin gets its own uniquely-suffixed directory")
    // reclamation: the root vanishes (onApplicationEnd runs the same
    // clearPins path when the session stops)
    Layout.clearPins(spark)
    assert(!fs.exists(root), "clearPins must remove the scratch root")
    // pinning still works after a clear (the reclaim hook re-registers)
    assert(Layout.stagePin(Seq(5L).toDF("v"), "post-clear")
      .select($"v").as[Long].collect().toSeq == Seq(5L))
  }

  test("stagePin prunes prior same-name pins past the reader grace, " +
    "never younger ones — a long session's scratch stays bounded") {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), ".graft_pin")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.stagePin(Seq(1L).toDF("v"), "prune-name")
    def pins() = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("prune-name-")).toSeq
    val firstDir = pins() match { case Seq(p) => p }
    // young sibling: a re-pin must NOT reclaim it (a concurrent query
    // inside the grace window may still be scanning it)
    val second = Layout.stagePin(Seq(2L).toDF("v"), "prune-name")
    assert(pins().size == 2, "a young prior pin survives a re-pin")
    // age the first pin past the grace: the next re-pin reclaims it
    assert(new java.io.File(firstDir.toUri.getPath)
      .setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    val third = Layout.stagePin(Seq(3L).toDF("v"), "prune-name")
    val left = pins()
    assert(!left.contains(firstDir) && left.size == 2,
      s"the stale pin must be reclaimed, younger ones kept: $left")
    // the surviving frames still serve their own rows
    assert(second.select($"v").as[Long].collect().toSeq == Seq(2L))
    assert(third.select($"v").as[Long].collect().toSeq == Seq(3L))
    Layout.clearPins(spark)
  }

  test("ensurePublishedDir: stage-and-publish build-if-absent — " +
    "complete artifacts re-serve, a crashed build leaves the old " +
    "artifact serving and its litter sweeps by age, an incomplete " +
    "root rebuilds atomically") {
    val root = tmpDir("ensure-pub") + "/artifact"
    var builds = 0
    def ensure(): Unit =
      Layout.ensurePublishedDir(spark, root)(r =>
        new java.io.File(r, "_SUCCESS").exists) { staging =>
        builds += 1
        // Overwrite: the staging dir pre-exists (liveness marker)
        Seq(1L, 2L).toDF("v").coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(staging)
      }
    ensure()
    assert(builds == 1 && spark.read.parquet(root).count() == 2)
    ensure()
    assert(builds == 1, "a complete artifact must re-serve, not rebuild")

    // crashed build: the staged partial never publishes — the old
    // artifact keeps serving, the staging dir is litter
    intercept[RuntimeException] {
      Layout.ensurePublishedDir(spark, root)(_ => false) { staging =>
        Seq(9L).toDF("v").write.parquet(staging + "/partial")
        throw new RuntimeException("simulated build crash")
      }
    }
    assert(spark.read.parquet(root).select($"v").as[Long].collect()
      .sorted.toSeq == Seq(1L, 2L), "old artifact intact after the crash")
    val parent = new java.io.File(root).getParentFile
    assert(parent.listFiles().exists(_.getName.contains(".staging-")),
      "the crashed staging is visible litter")
    // top-level aging alone must NOT sweep: the staging's inner files
    // are fresh, and liveness is judged by the newest file in the TREE
    // (a live builder's parquet tasks write deep under _temporary/
    // without touching the staging dir's own mtime)
    def ageTop(): Unit = parent.listFiles()
      .filter(_.getName.contains(".staging-"))
      .foreach(f => assert(f.setLastModified(1000L)))
    ageTop()
    ensure()
    assert(parent.listFiles().exists(_.getName.contains(".staging-")),
      "fresh-inside staging must be treated as live, not swept")
    // once the WHOLE tree is aged past the grace, the next ensure sweeps
    def ageTree(f: java.io.File): Unit = {
      f.setLastModified(1000L)
      Option(f.listFiles()).foreach(_.foreach(ageTree))
    }
    parent.listFiles().filter(_.getName.contains(".staging-"))
      .foreach(ageTree)
    ensure()
    assert(builds == 1)
    assert(!parent.listFiles().exists(_.getName.contains(".staging-")),
      "aged litter must sweep")

    // an incomplete root (lost _SUCCESS) rebuilds through the same swap
    assert(new java.io.File(root, "_SUCCESS").delete())
    ensure()
    assert(builds == 2 && spark.read.parquet(root).count() == 2)
  }

  test("ensurePublishedDir: a staging deleted out of band mid-build " +
    "(sweeper race) FAILS the publish loudly instead of serving an " +
    "incomplete root; the liveness marker exists from the first instant") {
    import spark.implicits._
    val root = tmpDir("ensure-sweepable") + "/artifact"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Two-sided artifact: complete = both sides' _SUCCESS markers
    def complete(r: String): Boolean =
      new java.io.File(s"$r/a/_SUCCESS").exists &&
        new java.io.File(s"$r/b/_SUCCESS").exists
    val err = intercept[IllegalArgumentException] {
      Layout.ensurePublishedDir(spark, root)(complete) { staging =>
        // the liveness marker is already there before any build write —
        // a compute-only first phase still registers as live to sweeps
        assert(new java.io.File(staging, "._graft_building").exists,
          "the staging must carry a liveness marker from creation")
        Seq(1L).toDF("v").write.parquet(s"$staging/a")
        // out-of-band deletion (a misconfigured sweeper, a manual rm)
        fs.delete(new org.apache.hadoop.fs.Path(staging), true)
        // subsequent writes silently recreate the dir MINUS side a
        Seq(2L).toDF("v").write.parquet(s"$staging/b")
      }
    }
    assert(err.getMessage.contains("incomplete at publish"),
      s"the publish guard must name the damage, got: ${err.getMessage}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root)),
      "nothing may publish from a damaged staging")
  }

  test("bucketed groupBy on the bucket key needs no exchange") {
    Layout.writeBucketed(Tables.orders(spark, sf0001), "orders_b2", 4,
      Seq("o_custkey"))
    try {
      val agg = spark.table("orders_b2").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed agg must not shuffle:\n$plan")
      assert(agg.count() > 0)
    } finally spark.sql("DROP TABLE IF EXISTS orders_b2")
  }
}
