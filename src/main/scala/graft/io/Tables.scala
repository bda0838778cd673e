package graft.io

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated synthetic testdata (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Explicit-by-construction:
  * parquet carries the schema; we never infer CSV/JSON schemas anywhere
  * in this engine (mirrors the reference's fixed DDL stance,
  * reference `db/sql/create_schema_structure.sql:19-70`).
  *
  * Scale notes (100 TB design): at cluster scale these would be
  * partitioned-by-date facts (`orders`, `lineitem`, `events`) and
  * broadcast-able dims (`region`, `nation`, `customer`, `supplier`,
  * `part`). All downstream operators in [[graft.queries]] are written so
  * the date filters and column prunes reach the scan (verified via
  * `.explain` — see PLANS.md).
  *
  * Schema cache: inferring a parquet schema runs one Spark job per
  * open, and every query opens its tables afresh. Each table's schema
  * is inferred once and later opens pass it as a user-specified schema
  * (same nullable `LogicalRelation`, same pushdowns, no job). The cache
  * entry is keyed on the path's data-file listing (path, length and
  * mtime of every file) and on the confs inference depends on, so a
  * table rewritten in place, or read under another timestamp encoding
  * conf, is inferred again. The listing is a file-system call per
  * open and runs no job. `StructType` belongs to no session, so one
  * entry serves every session in the JVM.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every query path flows through here: install the engine's
    // planner strategy + optimizer rules on sessions built without
    // GraftExtensions (the driver's Verify/Bench sessions)
    graft.plans.TopK.install(spark)
    if (name == "events") rawEvents(spark, sfDir) match {
      case (df, true)  => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case (df, false) => df.withColumn("ts", col("ts").cast(TimestampType))
    } else read(spark, s"$sfDir/$name.parquet")
  }

  /** The confs parquet schema inference reads; a cached schema is
    * reused only under the values it was inferred with. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private type Fingerprint = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** path -> (fingerprint, inferred schema); one entry per path. */
  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  /** Opens a parquet table, inferring its schema only when no cached
    * schema matches the path's current files and inference confs. */
  private def read(spark: SparkSession, path: String): DataFrame =
    dataFiles(spark, path) match {
      case None => spark.read.parquet(path) // Spark raises its own missing-path error
      case Some(files) =>
        val fingerprint: Fingerprint = (files, inferenceConfs.map(spark.conf.getOption))
        schemas.get(path) match {
          case (fp, schema) if fp == fingerprint => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(path, (fingerprint, df.schema))
            df
        }
    }

  /** (path, length, mtime) of every file under `path`, sorted; None
    * when the path does not exist. */
  private def dataFiles(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(b.result().sorted)
    } catch { case _: FileNotFoundException => None }
  }

  /** Regeneration tripwire (round-5 postmortem): the observed on-disk
    * encoding of `events.ts` for this snapshot, as a stable label.
    * Bench and Verify stamp it into their JSON tails so a driver-side
    * testdata regeneration that flips the encoding is visible in the
    * round artifacts instead of silently changing 28 queries. */
  def eventsTsKind(spark: SparkSession, sfDir: String): String = {
    val (df, nanos) = rawEvents(spark, sfDir)
    if (nanos) "int64_nanos" else df.schema("ts").dataType.typeName
  }

  /** events scan + whether `ts` arrived as a raw nanos long.
    *
    * The testdata generator has shipped `events.ts` under two parquet
    * encodings across rounds — TIMESTAMP(NANOS) (which Spark 4 only
    * reads as a bare long under `nanosAsLong`) and native
    * TIMESTAMP(MICROS)/NTZ — so the reader dispatches on the schema the
    * scan actually produces instead of hardwiring either one.
    * Nanos→micros uses integer division (a double roundtrip would lose
    * precision at ~1.7e18 ns); DuckDB truncates the same way, so the
    * oracle compare sees identical instants. The NTZ case is cast to
    * TimestampType (identity under the engine-wide UTC session zone) so
    * every downstream consumer sees one stable `ts` type. */
  private def rawEvents(spark: SparkSession, sfDir: String): (DataFrame, Boolean) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(spark, s"$sfDir/events.parquet")
    (df, df.schema("ts").dataType == LongType)
  }

  /** events with a time-range predicate pushed to the parquet scan.
    *
    * Nanos encoding: the converted `ts` is a derived column, so range
    * filters on it can NOT push down — filtering the RAW nanos long
    * first gives the scan a pushable `[from, until)` range, then the
    * conversion runs on the survivors only. Native encoding: filter on
    * a literal of the column's own type (NTZ vs instant) BEFORE the
    * unifying cast, for the same reason. At scale this is the
    * difference between reading a day and reading the table. */
  def eventsBetween(spark: SparkSession, sfDir: String, fromIso: String, untilIso: String): DataFrame = {
    val from = java.time.Instant.parse(fromIso)
    val until = java.time.Instant.parse(untilIso)
    rawEvents(spark, sfDir) match {
      case (df, true) =>
        def ns(i: java.time.Instant) = i.getEpochSecond * 1000000000L
        df.where(col("ts") >= ns(from) && col("ts") < ns(until))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case (df, false) =>
        def tsLit(i: java.time.Instant): Column = df.schema("ts").dataType match {
          case TimestampNTZType => lit(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
          case _                => lit(i)
        }
        df.where(col("ts") >= tsLit(from) && col("ts") < tsLit(until))
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Register every testdata table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
