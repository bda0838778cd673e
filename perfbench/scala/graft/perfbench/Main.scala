package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, pretty, render}

import graft.etl.TableFormat
import graft.ingest.Sources

/** One workload run in one JVM: set up, then a closed loop of
  * ops on one client thread for `--seconds`, checking every op's
  * output. Writes a JSON result for `perfbench/run.py`.
  *
  * {{{
  * graft.perfbench.Main --workload chart_day --inputs DIR --work DIR
  *   --seconds 10 --trace 0|1 --cpus 4 --out result.json
  *   [--goldens goldens.json]
  * graft.perfbench.Main --record-goldens chart_queries --inputs DIR --work DIR --out FILE
  * graft.perfbench.Main --selftest --work DIR
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = o.getOrElse("cpus", "4").toInt
    val work = new File(o("work"))
    val spark = session(cpus, work)
    try {
      if (o.contains("selftest")) SelfTest.run(spark, work)
      else if (o.contains("record-goldens")) recordGoldens(spark, o)
      else runWorkload(spark, o, cpus, work)
    } finally spark.stop()
  }

  /** The program's own session shape (`graft.Bench`, `graft.Verify`),
    * with every scratch directory inside the run's work dir. */
  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }

  private def runWorkload(spark: SparkSession, o: Map[String, String], cpus: Int,
      work: File): Unit = {
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val inputs = new File(o("inputs"))
    val traced = o("trace") == "1"
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.install())
    val backend = trace.fold(TableFormat.DefaultBackend)(t =>
      TimingFormat.backend(TableFormat.DefaultBackend, t.spans))
    val fetcher: Sources.Fetcher = {
      val files = new Sources.FileFetcher(Map.empty)
      trace.fold[Sources.Fetcher](files)(t => new TimingFetcher(files, t.spans))
    }
    val wl: Workload = o("workload") match {
      case "chart_day" => new ChartDay(spark, inputs, work, backend, fetcher)
      case "corpus_day" => new CorpusDay(spark, inputs, work, backend)
      case "chart_queries" =>
        new ChartQueries(spark, inputs, ChartQueries.goldens(new File(o("goldens"))), trace)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up is built three times and reported as the median build
    val buildS = (1 to 3).map(r => seconds(wl.build(r)))
    // the timed loop starts from a collected heap, so no run inherits
    // a half-full old generation from its set-up
    val warmS = seconds { wl.warmup(cpus); System.gc() }
    val storeStart = wl.store.map(du).getOrElse(0L)

    val lat = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val live = mutable.ArrayBuffer.empty[(Double, Double)]
    var storeBytes = 0L
    var gcS = 0.0
    var gcN = 0L
    var attempted = 0
    val budgetNs = (o("seconds").toDouble * 1e9).toLong
    val t0 = System.nanoTime()
    var i = 0
    // closed loop, one client: the next op starts when the last ends.
    // No warm-up: a run is a fresh process, as a daily batch job is, so
    // the first op pays the JVM's warm-up
    while (i < wl.nOps && !(i > 0 && wl.mayStopAfter(i - 1) && System.nanoTime() - t0 >= budgetNs)) {
      val before = if (traced) wl.store.map(du).getOrElse(0L) else 0L
      val gc0 = gcTotals
      trace.foreach(_.begin(i))
      val s = System.nanoTime()
      val out = try Right(trace.fold(wl.run(i))(_.spans.time("op")(wl.run(i))))
        catch { case e: Throwable => Left(s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - s) / 1e9
      trace.foreach { t =>
        t.end()
        val gc1 = gcTotals
        gcS += (gc1._1 - gc0._1) / 1e3
        gcN += gc1._2 - gc0._2
        storeBytes += wl.store.map(du).getOrElse(0L) - before
        live += checkpointLive(spark)
      }
      attempted += 1
      out.flatMap(r => wl.check(i, r).toLeft(r)) match {
        case Left(e) => errors += e
        case Right(_) => lat += dt
      }
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val storeEnd = wl.store.map(du).getOrElse(0L)

    val base = List(
      "attempted" -> JInt(attempted), "failed" -> JInt(errors.size),
      "errors" -> JArray(errors.take(20).map(e => JString(e.take(300))).toList),
      "errors_total" -> JInt(errors.size),
      "session_s" -> JDouble(sessionS), "build_s" -> nums(buildS), "warmup_s" -> JDouble(warmS),
      "latencies_s" -> nums(lat.toSeq), "timed_wall_s" -> JDouble(wall),
      "peak_rss_mb" -> JDouble(vmHwmMb), "store_bytes_growth" -> JInt(storeEnd - storeStart),
      "cpus" -> JInt(cpus))
    val layered = trace.toList.flatMap { t =>
      val n = math.max(attempted, 1).toDouble
      val sums = mutable.Map.empty[String, Double] ++ t.totals
      t.spans.closed.groupBy(_.name).foreach { case (name, ss) =>
        sums(s"$name.calls") = ss.size.toDouble
        sums(s"$name.s") = ss.map(_.durNs).sum / 1e9
        sums(s"$name.self_s") = ss.map(_.selfNs).sum / 1e9
      }
      sums("jvm.gc_s") = gcS
      sums("jvm.gc_count") = gcN.toDouble
      sums("etl.bytes_written_mb") = storeBytes / 1e6
      val opWall = lat.sum
      val layers = sums.map { case (k, v) => k -> v / n }.toMap ++ Map(
        "exec.slot_idle_share" ->
          (if (opWall > 0) 1 - sums.getOrElse("exec.task_run_s", 0.0) / (opWall * cpus) else 0.0),
        "checkpoint.live_blocks" -> mean(live.map(_._1).toSeq),
        "checkpoint.live_mb" -> mean(live.map(_._2).toSeq),
        // the tracing's own time (listener callbacks and the per-op
        // listener drains) as a share of the traced ops' wall time
        "trace.overhead_share" -> (if (opWall > 0) t.overheadNs / 1e9 / opWall else 0.0))
      List("layers" -> JObject(layers.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }),
        "spans" -> spansJson(t))
    }
    Files.write(Paths.get(o("out")), compact(render(JObject(base ++ layered))).getBytes("UTF-8"))
  }

  /** Per op: its spans in start order and its Spark jobs. */
  private def spansJson(t: Trace): JValue =
    JArray(t.spans.closed.groupBy(_.op).toList.sortBy(_._1).map { case (op, ss) =>
      JObject(
        "op" -> JInt(op),
        "spans" -> JArray(ss.sortBy(_.startNs).toList.map(s => JObject(
          "name" -> JString(s.name), "depth" -> JInt(s.depth),
          "dur_s" -> JDouble(s.durNs / 1e9), "self_s" -> JDouble(s.selfNs / 1e9)))),
        "jobs" -> JArray(t.jobs.filter(_.op == op).toList.map(j => JObject(
          "job" -> JInt(j.jobId), "site" -> JString(j.site), "phase" -> JString(j.phase),
          "dur_s" -> JDouble(j.durMs / 1e3)))))
    })

  private def nums(xs: Seq[Double]): JValue = JArray(xs.map(JDouble(_)).toList)

  /** Writes goldens.json for the query workload from this build. */
  private def recordGoldens(spark: SparkSession, o: Map[String, String]): Unit = {
    val wl = new ChartQueries(spark, new File(o("inputs")), Map.empty, None)
    val goldens = JObject("chart_queries" -> JObject(wl.queries.toList.map { q =>
      val (rows, hash) = wl.execute(q)
      q -> JObject("rows" -> JInt(rows), "hash" -> JString(f"$hash%016x"))
    }))
    Files.write(Paths.get(o("out")), (pretty(render(goldens)) + "\n").getBytes("UTF-8"))
  }

  private def seconds(body: => Unit): Double = {
    val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
  }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def du(f: File): Long =
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  private def gcTotals: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  private def checkpointLive(spark: SparkSession): (Double, Double) = {
    val info = spark.sparkContext.getRDDStorageInfo
    (info.map(_.numCachedPartitions.toDouble).sum,
      info.map(r => (r.memSize + r.diskSize).toDouble).sum / 1e6)
  }

  /** Peak resident set (VmHWM) of this process, in MB. */
  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
