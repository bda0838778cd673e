package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.{ManifestStore, TableFormat}
import graft.ingest.Sources

/** One closed span of the traced run: a named call into a layer, its
  * inclusive time and its self time (inclusive minus its children). */
final case class Span(op: Int, name: String, depth: Int, startNs: Long,
    durNs: Long, selfNs: Long)

/** A Spark job seen by the listener, attributed to its op and to the
  * module of the source file that launched it. */
final case class JobSpan(op: Int, jobId: Int, site: String, phase: String, durMs: Long)

/** Driver-side spans, nested per thread. Off (a bare call) outside the
  * traced ops, so set-up and checks never show up as layer time. */
final class Spans {
  @volatile var op: Int = -1
  private final class Open(val name: String, val start: Long) { var childNs = 0L }
  private val stack = ThreadLocal.withInitial[mutable.ArrayBuffer[Open]](
    () => mutable.ArrayBuffer.empty[Open])
  val closed: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def time[T](name: String)(body: => T): T =
    if (op < 0) body
    else {
      val s = stack.get()
      val o = new Open(name, System.nanoTime())
      s += o
      try body
      finally {
        val dur = System.nanoTime() - o.start
        s.remove(s.size - 1)
        s.lastOption.foreach(_.childNs += dur)
        closed.synchronized {
          closed += Span(op, name, s.size, o.start, dur, dur - o.childNs)
        }
      }
    }
}

/** The timing `Backend` decorator: every [[TableFormat]] method is
  * forwarded to the wrapped backend, the defaulted ones included, so
  * the wrapped backend's own `tryAppend`, `readVersionRange` and
  * `statsUpperBound` run (the trait defaults would turn an O(batch)
  * append into an O(history) rewrite). A commit span includes
  * executing the lazy frame it is handed. */
final class TimingFormat(inner: TableFormat, spans: Spans) extends TableFormat {
  def read(table: String): DataFrame = spans.time("etl.read")(inner.read(table))
  def readVersion(table: String, version: Long): DataFrame =
    spans.time("etl.read")(inner.readVersion(table, version))
  override def readVersionRange(table: String, version: Long, column: String,
      lower: Option[Any], upper: Option[Any]): DataFrame =
    spans.time("etl.read")(inner.readVersionRange(table, version, column, lower, upper))
  override def statsUpperBound(table: String, version: Long, column: String): Option[Any] =
    spans.time("etl.version_probe")(inner.statsUpperBound(table, version, column))
  def currentVersion(table: String): Long =
    spans.time("etl.version_probe")(inner.currentVersion(table))
  def tryCommit(table: String, df: DataFrame, expectedBase: Long): Long =
    spans.time(commitSpan(table))(inner.tryCommit(table, df, expectedBase))
  override def overwrite(table: String, df: DataFrame): Unit =
    spans.time(commitSpan(table))(inner.overwrite(table, df))
  override def tryAppend(table: String, delta: DataFrame, ontoVersion: Long,
      expectedBase: Long): Long =
    spans.time("etl.append")(inner.tryAppend(table, delta, ontoVersion, expectedBase))
  override def tryDeleteRows(table: String, keys: DataFrame, ontoVersion: Long,
      expectedBase: Long): Long =
    spans.time("etl.delete")(inner.tryDeleteRows(table, keys, ontoVersion, expectedBase))

  private def commitSpan(table: String) =
    if (table == ManifestStore.Manifest) "etl.manifest_commit" else "etl.commit"
}

object TimingFormat {
  def backend(inner: TableFormat.Backend, spans: Spans): TableFormat.Backend =
    (s, root) => new TimingFormat(inner(s, root), spans)
}

/** The timing [[Sources.Fetcher]] wrapper. */
final class TimingFetcher(inner: Sources.Fetcher, spans: Spans) extends Sources.Fetcher {
  def fetch(url: String, bearerToken: Option[String]): Sources.Fetched =
    spans.time("ingest.fetch")(inner.fetch(url, bearerToken))
}

/** The traced run's hooks: driver spans, a SparkListener for jobs,
  * stages and tasks, and a QueryExecutionListener for Catalyst's
  * planning phases. Counters collect only while an op is open; each
  * op ends with a listener drain so its events are all in. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val spans = new Spans
  val jobs: mutable.ArrayBuffer[JobSpan] = mutable.ArrayBuffer.empty
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  @volatile private var active = -1
  private val jobStarts = mutable.Map.empty[Int, (Long, String, String)]
  private val execSites = scala.collection.concurrent.TrieMap.empty[Long, String]

  private def add(k: String, v: Double): Unit = sums.synchronized {
    sums(k) = sums.getOrElse(k, 0.0) + v
  }
  def totals: Map[String, Double] = sums.synchronized(sums.toMap)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Time the tracing itself spends: listener callbacks and drains. */
  private val overhead = new java.util.concurrent.atomic.AtomicLong
  def overheadNs: Long = overhead.get
  private def costed[T](body: => T): T = {
    val s = System.nanoTime()
    try body finally overhead.addAndGet(System.nanoTime() - s)
  }

  def begin(op: Int): Unit = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    active = op
    spans.op = op
  }

  def end(): Unit = {
    costed(PerfbenchBridge.drainListeners(spark.sparkContext))
    active = -1
    spans.op = -1
  }

  /** Catalyst phases of a query executed outside any Dataset action
    * (the query workloads run `queryExecution.toRdd`). */
  def addPhases(qe: QueryExecution): Unit = if (active >= 0) costed {
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"catalyst.${phase}_s", s.durationMs / 1000.0)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe)

  override def onJobStart(j: SparkListenerJobStart): Unit = if (active >= 0) costed {
    val details = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).details
    val phase = Option(j.properties).flatMap(p => Option(p.getProperty(Trace.PhaseKey)))
      .getOrElse("")
    // jobs a SQL execution launches from its own threads (broadcasts,
    // subqueries) carry no program frame: they take their execution's,
    // or, outside any execution, the benchmark's own execute call's
    val site = Trace.moduleOf(details) match {
      case "other" => Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSites.get(id.toLong))
        .getOrElse(if (phase == "execute") "op" else "other")
      case m => m
    }
    jobStarts.synchronized { jobStarts(j.jobId) = (j.time, site, phase) }
    add("exec.jobs", 1)
    if (phase == "construct") add("queries.construct_jobs", 1)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = costed {
    val started = jobStarts.synchronized(jobStarts.remove(j.jobId))
    started.foreach { case (t0, site, phase) =>
      val dur = j.time - t0
      add(s"site.$site.jobs", 1)
      add(s"site.$site.s", dur / 1000.0)
      jobs.synchronized { jobs += JobSpan(active, j.jobId, site, phase, dur) }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = costed { e match {
    case s: SparkListenerSQLExecutionStart => execSites(s.executionId) = Trace.moduleOf(s.details)
    case s: SparkListenerSQLExecutionEnd => execSites.remove(s.executionId)
    case _ =>
  } }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    if (active >= 0) costed(add("exec.stages", 1))

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (active >= 0 && t.taskMetrics != null) costed {
      val m = t.taskMetrics
      add("exec.tasks", 1)
      add("exec.task_run_s", m.executorRunTime / 1e3)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.task_gc_s", m.jvmGCTime / 1e3)
      add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("exec.input_mb", m.inputMetrics.bytesRead / 1e6)
    }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  /** The module a job belongs to: the package under `graft.` of the
    * first program frame of its call site (`graft.io.Tables$.table(…)`
    * is `io`), the lower-cased object name for top-level objects
    * (`graft.DailyEtl$` is `dailyetl`), `op` for the benchmark's own
    * execute call, `other` otherwise. */
  def moduleOf(callSiteLong: String): String = {
    val frame = callSiteLong.linesIterator.map(_.trim).find(_.startsWith("graft."))
    frame match {
      case None => "other"
      case Some(f) =>
        val cls = f.takeWhile(_ != '(').split('.').dropRight(1) // drop the method
        if (cls.length >= 3) { if (cls(1) == "perfbench") "op" else cls(1) }
        else cls.lastOption.map(_.takeWhile(_ != '$').toLowerCase).getOrElse("other")
    }
  }
}
