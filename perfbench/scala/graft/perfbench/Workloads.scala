package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{CorpusEtl, DailyEtl, SparkEntry}
import graft.etl.{ManifestStore, TableFormat}
import graft.ingest.Sources
import graft.model.Music

/** What the runner needs from a workload. Ops are numbered from 0 in
  * timed order; `run` is the only timed call, `check` runs after it. */
trait Workload {
  /** Build the workload's starting state afresh (run several times;
    * the last build is the one the ops use). */
  def build(rep: Int): Unit
  /** Ops available. */
  def nOps: Int
  /** Whether the run may stop after op `i` (query workloads stop only
    * at sweep boundaries, so every query weighs the same). */
  def mayStopAfter(i: Int): Boolean = true
  /** Untimed warm-up after the builds, part of set-up. */
  def warmup(threads: Int): Unit = ()
  def run(i: Int): Any
  /** None when op `i`'s output is right, else what was wrong. */
  def check(i: Int, out: Any): Option[String]
  /** The directory whose growth is the store's growth, if any. */
  def store: Option[File] = None
}

/** Reads the generator's manifest and goldens (tiny JSON files). */
object Json {
  def read(f: File): JValue = JsonMethods.parse(new String(Files.readAllBytes(f.toPath), "UTF-8"))
  def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d.toLong
    case other => sys.error(s"not a number: $other")
  }
  def str(v: JValue): String = v match {
    case JString(s) => s
    case other => sys.error(s"not a string: $other")
  }
  def arr(v: JValue): List[JValue] = v match {
    case JArray(a) => a
    case _ => Nil
  }
}

/** `chart_day`: `DailyEtl.run` day after day over a store seeded with
  * ~13 months of chart history, so the one-year retention fires daily
  * and every table takes the rewrite path. */
final class ChartDay(spark: SparkSession, inputs: File, work: File,
    backend: TableFormat.Backend, fetcher: Sources.Fetcher) extends Workload {
  private val manifest = Json.read(new File(inputs, "manifest.json"))
  private val days = Json.arr(manifest \ "days").map { d =>
    (LocalDate.parse(Json.str(d \ "date")),
      Seq("artist", "song", "artist_song_map", "ranking")
        .map(t => t -> Json.long(d \ "returning" \ t)).toMap)
  }.toVector
  private val tables = Seq(
    "artist" -> Music.artistSchema, "song" -> Music.songSchema,
    "artist_song_map" -> Music.artistSongMapSchema, "ranking" -> Music.rankingSchema)
  private var root: File = _
  private val csvRows = scala.collection.mutable.Map.empty[String, Long]

  def build(rep: Int): Unit = {
    root = new File(work, s"store-$rep")
    val fmt = TableFormat.DefaultBackend(spark, new File(root, "store").getPath)
    val versions = tables.map { case (t, schema) =>
      val df = spark.read.schema(schema)
        .json(new File(inputs, s"history/$t.jsonl").getPath)
      t -> fmt.tryCommit(t, df, 0L)
    }.toMap
    new ManifestStore(spark, fmt, tables.map(_._1)).commit(versions, 0L)
  }

  override def store: Option[File] = Some(new File(root, "store"))
  // no warm-up: the daily job runs in a fresh JVM, so its first day,
  // JIT compilation included, is the latency its user waits for
  def nOps: Int = days.size

  def run(i: Int): Any = {
    val (date, _) = days(i)
    val stem = new File(inputs, s"days/$date").getPath
    DailyEtl.run(spark, fetcher, DailyEtl.Config(
      storeRoot = new File(root, "store").getPath, date = date,
      playlistSource = s"$stem.html", tracksSource = s"$stem.json",
      renderPath = new File(root, "README.md").getPath,
      csvDir = Some(new File(root, "csv").getPath)), None, backend)
  }

  def check(i: Int, out: Any): Option[String] = {
    val (date, returning) = days(i)
    val got = Files.readAllBytes(new File(root, "README.md").toPath)
    val want = Files.readAllBytes(new File(inputs, s"days/$date.md").toPath)
    if (!java.util.Arrays.equals(got, want)) Some(s"$date: rendered README differs")
    else returning.toSeq.sorted.flatMap { case (t, n) =>
      val now = csvLines(new File(root, s"csv/$t.csv"))
      val grew = now - csvRows.getOrElse(t, 0L)
      csvRows(t) = now
      if (grew != n) Some(s"$date: $t.csv grew by $grew rows, expected $n") else None
    }.headOption
  }

  private def csvLines(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .map { f => val lines = Files.lines(f.toPath); try lines.count() finally lines.close() }
      .sum
}

/** `corpus_day`: `CorpusEtl.init` on the eval slice, then one
  * `CorpusEtl.runBatch` fold per op. */
final class CorpusDay(spark: SparkSession, inputs: File, work: File,
    backend: TableFormat.Backend) extends Workload {
  private val batches = Json.arr(Json.read(new File(inputs, "manifest.json")) \ "batches")
    .map(b => (Json.long(b \ "batch_id"), Json.long(b \ "n_in"), Json.long(b \ "n_exact_dup")))
    .toVector
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private var root: File = _

  private def docs(name: String) =
    spark.read.schema(docSchema).json(new File(inputs, name).getPath)

  def build(rep: Int): Unit = {
    root = new File(work, s"store-$rep")
    CorpusEtl.init(spark, root.getPath, docs("eval.jsonl"))
  }

  override def store: Option[File] = Some(root)
  def nOps: Int = batches.size

  def run(i: Int): Any = {
    val (id, _, _) = batches(i)
    CorpusEtl.runBatch(spark, root.getPath, docs(f"batches/$id%04d.jsonl"), id,
      backend = backend)
  }

  def check(i: Int, out: Any): Option[String] = {
    val a = out.asInstanceOf[CorpusEtl.Audit]
    val (id, nIn, nExact) = batches(i)
    if (a.batchId != id || a.nIn != nIn) Some(s"batch $id: nIn ${a.nIn}, expected $nIn")
    else if (a.nExactDup != nExact) Some(s"batch $id: nExactDup ${a.nExactDup}, expected $nExact")
    else None
  }
}

/** `chart_queries`: the chart and parity registry entries over a fixed
  * snapshot, one seeded permutation per sweep. An op is construction
  * (`fn(spark, dir)`) plus planning and full execution of the declared
  * physical plan, digesting every row on the executors. */
final class ChartQueries(spark: SparkSession, inputs: File,
    goldens: Map[String, (Long, Long)], trace: Option[Trace]) extends Workload {
  private val dir = new File(inputs, "tables").getPath
  private val sweeps: Vector[Vector[String]] =
    Files.readAllLines(new File(inputs, "order.txt").toPath).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toVector).toVector
  private val perSweep = sweeps.head.size
  def queries: Seq[String] = sweeps.head.sorted
  private val ops = sweeps.flatten

  def build(rep: Int): Unit =
    graft.io.Tables.names.take(8).foreach(t => graft.io.Tables.table(spark, dir, t).schema)

  /** Every query once, checked, on `threads` client threads (the timed
    * loop itself stays single-client). */
  override def warmup(threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val runs = queries.map(q => pool.submit(() => check(q, execute(q))))
      runs.flatMap(_.get()).headOption.foreach(e => sys.error(s"warm-up: $e"))
    } finally pool.shutdown()
  }

  def nOps: Int = ops.size
  // at least MinSweeps sweeps: one 15-20 s sweep on a shared 4-core host
  // spread 0.15-0.29 (IQR / median) over ten runs
  override def mayStopAfter(i: Int): Boolean =
    (i + 1) % perSweep == 0 && i + 1 >= ChartQueries.MinSweeps * perSweep
  def run(i: Int): Any = execute(ops(i))
  def check(i: Int, out: Any): Option[String] = check(ops(i), out)

  private def check(q: String, out: Any): Option[String] = {
    val got = out.asInstanceOf[(Long, Long)]
    goldens.get(q) match {
      case None => Some(s"$q: no golden recorded")
      case Some(want) if want != got => Some(s"$q: (rows, hash) $got, golden $want")
      case _ => None
    }
  }

  def execute(q: String): (Long, Long) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.PhaseKey, "construct")
    val df = try trace.fold(SparkEntry.queries(q)(spark, dir))(
        _.spans.time("queries.construct")(SparkEntry.queries(q)(spark, dir)))
      finally sc.setLocalProperty(Trace.PhaseKey, "execute")
    try Digest.of(df)
    finally {
      sc.setLocalProperty(Trace.PhaseKey, null)
      trace.foreach(_.addPhases(df.queryExecution))
    }
  }
}

object ChartQueries {
  val MinSweeps = 2

  /** goldens.json's `chart_queries`: query -> (rows, unsigned hex digest). */
  def goldens(f: File): Map[String, (Long, Long)] =
    Json.read(f) \ "chart_queries" match {
      case JObject(fields) => fields.map { case (q, v) =>
        q -> (Json.long(v \ "rows"), java.lang.Long.parseUnsignedLong(Json.str(v \ "hash"), 16))
      }.toMap
      case _ => Map.empty
    }
}

/** Row count and an order-insensitive 64-bit digest of a query's full
  * result, computed over the declared physical plan's output rows. */
object Digest {
  def of(df: DataFrame): (Long, Long) = {
    val types = df.schema.fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r, types) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  def rowHash(r: InternalRow, types: Array[DataType]): Long = {
    val sb = new StringBuilder
    types.indices.foreach { i =>
      sb.append('|')
      canon(if (r.isNullAt(i)) null else r.get(i, types(i)), types(i), sb)
    }
    val b = java.security.MessageDigest.getInstance("MD5").digest(sb.toString.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(b).getLong
  }

  /** A type-aware canonical text form; floating point rounds to 9
    * significant digits so the digest ignores last-bit noise. */
  private def canon(v: Any, t: DataType, sb: StringBuilder): Unit = (v, t) match {
    case (null, _) => sb.append("<null>")
    case (d: Double, _) => sb.append(roundSig(d))
    case (f: Float, _) => sb.append(roundSig(f.toDouble))
    case (a: ArrayData, ArrayType(et, _)) =>
      sb.append('[')
      (0 until a.numElements()).foreach { i =>
        if (i > 0) sb.append(',')
        canon(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
      }
      sb.append(']')
    case (m: MapData, MapType(kt, vt, _)) =>
      canon(m.keyArray(), ArrayType(kt), sb); sb.append("->"); canon(m.valueArray(), ArrayType(vt), sb)
    case (s: InternalRow, st: StructType) =>
      sb.append('{')
      st.fields.indices.foreach { i =>
        if (i > 0) sb.append(',')
        canon(if (s.isNullAt(i)) null else s.get(i, st.fields(i).dataType), st.fields(i).dataType, sb)
      }
      sb.append('}')
    case (other, _) => sb.append(other.toString)
  }

  private def roundSig(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).toString
}
