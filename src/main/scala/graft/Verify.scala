package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args: @unchecked
    // optional trailing args: restrict the dump to named queries
    val only: Set[String] = rest.toSet
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed query must be LOUD: round 5 lost 28 queries because a
    // per-query failure printed one stderr line and simply dropped out
    // of the dump, so the shrunken report looked like a clean pass.
    // Now every failure is collected, summarized, written to
    // _errors.json beside oracle_sql.json, and fails the whole run.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try graft.operators.CheckpointBlocks.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // Regeneration tripwire (round-5 postmortem): stamp the observed
    // events.ts parquet encoding + per-table row counts beside the
    // dump, and print them, so a driver-side testdata regeneration is
    // visible in the round artifacts (tools/round_start_check.py
    // compares the CORRECTNESS key set round-over-round).
    val meta = {
      val counts = graft.io.Tables.names
        .map(n => s"${q(n)}: ${graft.io.Tables.table(spark, sfDir, n).count()}")
        .mkString("{", ",", "}")
      s"""{"events_ts": ${q(graft.io.Tables.eventsTsKind(spark, sfDir))}, "tables": $counts}"""
    }
    Files.writeString(Paths.get(s"$outDir/_meta.json"), meta)
    System.err.println(s"[verify] snapshot meta: $meta")
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: " +
          failures.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
