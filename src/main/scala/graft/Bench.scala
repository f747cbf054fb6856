package graft

/** Benchmark main (driver contract): runs every registered query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  *
  * Each query is fully materialized through the `noop` sink — `count()`
  * would let Catalyst prune every projected column and bench only the
  * scan. AQE is on (runtime coalescing/skew handling, same as a
  * production cluster session would run).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envInt("SPARK_GRAFT_CPUS", 4))
    // Warmup: touch every table (FS cache) and JIT the hottest codegen
    // paths (decimal agg, cosine loop) so the first timed query doesn't
    // absorb JVM compilation.
    Tables.all.foreach { n =>
      try {
        val df = if (n == "events") Tables.events(spark, sfDir)
        else Tables.load(spark, sfDir, n)
        df.write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => }
    }
    val byName = SparkEntry.specs.map(sp => sp.name -> sp).toMap
    // One cold pass of each hot code path (decimal agg, cosine kernel,
    // shingle explode/window/join) so timed runs measure steady state.
    Seq("q1_agg", "sim_topk", "dedup_ngram", "dedup_simhash").foreach { n =>
      try byName(n).fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      spark.catalog.clearCache()
    }
    // Three timed runs per query, min reported: a single pass is at the
    // mercy of GC/scheduler noise on a shared box; min-of-3 is the
    // steady-state cost. The runs are INTERLEAVED — pass 1 times every
    // query, then pass 2, then pass 3 — not back-to-back per query: a
    // transient external load spike (the driver's own verify step, a
    // cron) then inflates ONE pass of each query it overlaps instead of
    // all three runs of whichever queries it hit, so the per-query min
    // stays clean under exactly the contention that inflated the r2–r4
    // committed records. All per-run times go to stderr so a contended
    // box (one run 10× the others) is self-diagnosing from the log.
    // Caches cleared between runs so queries are timed in isolation.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val passTimes: Seq[Map[String, Double]] = (1 to runs).map { pass =>
      SparkEntry.specs.map { sp =>
        val t0 = System.nanoTime()
        try sp.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${sp.name} failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
        sp.name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    val results = SparkEntry.specs.map { sp =>
      val times = passTimes.map(_(sp.name))
      System.err.println(
        s"[bench] ${sp.name} runs=" + times.map(t => f"$t%.3f").mkString(","))
      sp.name -> (times.min, times.max, times.sorted.apply(times.size / 2))
    }
    val qs = results.map { case (k, (mn, _, _)) => "\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    // Median-sum rides along as a second contention diagnostic: on a
    // quiet box median ≈ min; under bursty host steal (a per-query min
    // can dodge a burst that median can't) the gap quantifies how much
    // of the wall-clock was noise.
    val totalMedian = results.map(_._2._3).sum
    // Contention self-diagnostics carried IN the record: `load_avg` is
    // the box's 1-min load when the bench finished, `spread` the worst
    // per-query max/min ratio across the timed runs. A quiet dedicated
    // box shows load ≈ bench cpus and spread ≈ 1–3; a contended box
    // (r2's unparsed tail, r3's 48 s vs a clean 35 s) shows up as high
    // load and a double-digit spread, so an inflated total is
    // explainable from the record alone instead of needing a re-run.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spread = results.map { case (_, (mn, mx, _)) => mx / math.max(mn, 1e-9) }.max
    val diag = f""""load_avg":$loadAvg%.2f,"spread":$spread%.2f,""" +
      f""""total_median":$totalMedian%.2f"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",$diag}""")
    // Short summary line LAST: the full per-query line above overflows
    // the driver's tail/parse (BENCH_r01/r02 recorded "parsed": null).
    // Tail-parsers take the last line, so this one is the headline.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},$diag}""")
    spark.stop()
  }
}
