package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query job/stage/task profile — the measurement tool behind the
  * round-12 optimization pass (guide §1: decide whether a query is
  * scheduler-overhead-bound or compute-bound before touching it).
  *
  * Runs each named query once (after a warmup rep) under the bench's
  * session shape and reports: wall seconds, Spark jobs launched, stages,
  * tasks, summed executor task time, shuffle bytes written. A query
  * whose wall >> task-time/cores is overhead-bound (many small jobs);
  * one whose task time dominates is compute-bound.
  *
  * Usage: runMain graft.JobProfile q_a q_b ...  (env SPARK_GRAFT_SF_DIR)
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    import graft.queries.{StageStore, Stages}
    // resolve staged artifacts exactly like Bench so query timings
    // exclude staging (persistent warehouse default)
    val (_, sub) = Bench.warehouseSubdir(sfDir)
    val root = new java.io.File("target/bench-warehouse", sub).getAbsolutePath
    StageStore.setForTesting(sfDir, root)
    Stages.resolveAllConcurrently(spark, sfDir)
    @volatile var jobs = 0
    @volatile var jobsEnded = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var shuffleWrite = 0L
    val stageRows = scala.collection.mutable.ArrayBuffer.empty[(Double, Int, Double, String)]
    val jobSites = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        // the job's display name is its final stage's callsite — the
        // grouping that tells WHICH code path launches 40 tiny jobs
        jobSites += j.stageInfos.lastOption.map(_.name.takeWhile(_ != '+').trim)
          .getOrElse("?")
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobsEnded += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        val m = s.stageInfo.taskMetrics
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        stageRows += ((m.executorRunTime / 1000.0, s.stageInfo.numTasks,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          s.stageInfo.name.take(90)))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskMetrics != null) taskTimeMs += t.taskMetrics.executorRunTime
      }
    }
    val perStage = sys.env.contains("GRAFT_PROFILE_STAGES")
    println(f"${"query"}%-28s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"taskS"}%8s ${"shufMB"}%7s")
    // one scope per query: its executions' checkpoints are
    // freed before the next query builds
    for (q <- args) graft.operators.CheckpointBlocks.scoped {
      val fn = SparkEntry.queries(q)
      Bench.execute(fn(spark, sfDir)) // warmup rep (codegen, broadcast warm)
      spark.sparkContext.addSparkListener(listener)
      jobs = 0; jobsEnded = 0; stages = 0; tasks = 0; taskTimeMs = 0L
      shuffleWrite = 0L
      stageRows.clear(); jobSites.clear()
      val t0 = System.nanoTime()
      Bench.execute(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async; wait for every started job's end
      // event to land (bounded), then a short grace for task events —
      // a fixed sleep alone can truncate or inflate the counts
      // (profiling tool; the bound keeps a lost event from hanging it)
      val deadline = System.nanoTime() + 3_000_000_000L
      while (jobsEnded < jobs && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(listener)
      println(f"$q%-28s $wall%7.3f $jobs%5d $stages%6d $tasks%6d ${taskTimeMs / 1000.0}%8.2f ${shuffleWrite / 1e6}%7.1f")
      if (perStage)
        for ((sec, n, mb, name) <- stageRows.sortBy(-_._1).take(15))
          println(f"    $sec%8.2fs $n%4d tasks $mb%7.1fMB  $name")
      if (sys.env.contains("GRAFT_PROFILE_JOBS"))
        for ((site, n) <- jobSites.groupBy(identity).view.mapValues(_.size)
            .toSeq.sortBy(-_._2))
          println(f"    jobs $n%3d  $site")
      // the AQE FINAL plan of the profiled execution (what the SQL tab
      // would show): re-execute once and print — the declared static
      // plan (PlanDump) cannot show AQE's runtime join/read rewrites
      if (sys.env.contains("GRAFT_PROFILE_PLAN")) {
        val df = fn(spark, sfDir)
        Bench.execute(df)
        println(df.queryExecution.executedPlan.toString())
      }
    }
    spark.stop()
  }
}
