package graft
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, GraftSession.envInt("SPARK_GRAFT_BENCHONE_RUNS", 2))
    val spark = GraftSession.local(GraftSession.envInt("SPARK_GRAFT_CPUS", 32))
    val byName = SparkEntry.specs.map(sp => sp.name -> sp).toMap
    // Passes are INTERLEAVED across the requested queries (the
    // graft.Bench protocol): a host-steal burst then inflates one pass
    // of each query instead of every run of whichever query it hit, so
    // the per-query min stays clean on a contended box.
    val times = (1 to runs).map { i =>
      args.map { name =>
        val t0 = System.nanoTime()
        byName(name).fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        println(s"TIMING $name run$i: $t")
        // isolate runs like graft.Bench does — a query that caches
        // (sim_ivf etc.) would otherwise report a warm-cache run2
        spark.catalog.clearCache()
        name -> t
      }.toMap
    }
    args.foreach { name =>
      println(f"MIN $name: ${times.map(_(name)).min}%.3f")
    }
    spark.stop()
  }
}
