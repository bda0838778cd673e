package graft
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named queries (or all) to files —
  * the plan-evidence artifact for optimization rounds
  * (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [q1 q2 ...]
  * Writes <outDir>/<query>_<suffix>.txt per query. Runs at the
  * driver's correctness config (local[4], sf0.01) so plan shape —
  * Exchange count, join strategy, PushedFilters — matches what the
  * oracle gate executes; AQE-final shapes are measured by Bench, this
  * records the declared static plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [queries...]")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val spark = SparkEntry.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // layout-fallback pseudo-queries: the no-broadcast scale twins the
    // specs gate (dumped with auto-broadcast OFF so the plan is the
    // pure fallback shape — only these run under the override)
    val fallbacks: Map[String, SparkSession => org.apache.spark.sql.DataFrame] = Map(
      "q_link_pred@fallback" ->
        (s => graft.queries.StructureQueries.linkPredLayout(s, dir, broadcastSlice = false)))
    def explained(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    for (q <- names) {
      // physical planning happens inside explainString, so the conf
      // override must span it, not just the frame construction
      val plan = fallbacks.get(q) match {
        case Some(build) =>
          val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
          try {
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            explained(build(spark))
          } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        case None => graft.operators.CheckpointBlocks.scoped(
          explained(SparkEntry.queries(q)(spark, dir)))
      }
      val f = new java.io.File(outDir, s"${q}_$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.write(plan) finally w.close()
      println(s"[plandump] wrote ${f.getPath} (${plan.length} chars)")
    }
    spark.stop()
  }
}
