package graft.tools

import graft.SparkEntry

/** Dev tool: dumps `explain("formatted")` for selected queries so plan
  * regressions (lost pushdown, missed broadcast, codegen fallback) are
  * reviewable. `sbt "runMain graft.tools.PlanAudit [names...]"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val byName = SparkEntry.specs.map(sp => sp.name -> sp).toMap
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q_snapshot_latest", "q_flagship_snapshot",
        "q_left_join", "sim_topk", "dedup_minhash", "multimodal_meta")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      byName(n).fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
