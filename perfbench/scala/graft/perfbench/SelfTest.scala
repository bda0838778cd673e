package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.etl.TableFormat

/** The timing decorator must be the same program as the backend it
  * wraps: every method forwards, the defaulted ones included. Two
  * stores get the same history and the same appends, one through the
  * decorator; the bytes each append writes, the read pruning and the
  * stats bound must all be equal. Falling back to the trait's default
  * `tryAppend` would rewrite history on every append and fail here. */
object SelfTest {
  def run(spark: SparkSession, work: File): Unit = {
    val spans = new Spans
    spans.op = 0
    val plain = TableFormat.DefaultBackend(spark, new File(work, "plain").getPath)
    val timed = TimingFormat.backend(TableFormat.DefaultBackend, spans)(
      spark, new File(work, "timed").getPath)
    def du(dir: String): Long = {
      val p = new File(work, dir).toPath
      Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
    val history = spark.range(0, 20000).select(col("id"), (col("id") % 97).as("day"))
    val failures = Seq("plain" -> plain, "timed" -> timed).map { case (name, fmt) =>
      var v = fmt.tryCommit("t", history, 0L)
      val grew = (1 to 3).map { d =>
        val before = du(name)
        val delta = spark.range(0, 10).select((col("id") + 100000 * d).as("id"),
          (col("id") * 0 + 1000 + d).as("day"))
        v = fmt.tryAppend("t", delta, v, fmt.currentVersion("t"))
        du(name) - before
      }
      val pruned = fmt.readVersionRange("t", v, "day", Some(1001L), Some(1001L))
      val files = pruned.inputFiles.length
      val rows = pruned.count()
      (name, grew, files, rows, fmt.statsUpperBound("t", v, "day"))
    }
    val Seq(a, b) = failures
    val problems = Seq(
      Option.when(a._2 != b._2)(s"append bytes differ: plain ${a._2}, timed ${b._2}"),
      Option.when(a._3 != b._3)(s"range read scans ${a._3} vs ${b._3} files"),
      Option.when(a._4 != b._4 || a._4 != 10)(s"range read rows ${a._4} vs ${b._4}"),
      Option.when(a._5 != b._5 || a._5.isEmpty)(s"stats bound ${a._5} vs ${b._5}"),
      Option.when(!spans.closed.exists(_.name == "etl.append"))("appends were not timed")
    ).flatten
    if (problems.nonEmpty) sys.error("decorator self-test failed: " + problems.mkString("; "))
    println(s"selftest ok: append bytes ${a._2.mkString(",")}, range files ${a._3}, " +
      s"stats bound ${a._5.get}, spans ${spans.closed.size}")
  }
}
