package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{DoubleAdder, LongAdder}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.ManifestParquet
import graft.operators.CheckpointBlocks

/** Where staged corpus artifacts persist BETWEEN sessions: a
  * [[graft.etl.TableFormat]] warehouse root, so "materialize once per
  * corpus snapshot" survives the driver JVM instead of dying with its
  * localCheckpoint blocks.
  *
  * Resolution order per snapshot dir: a test-scoped override (keyed
  * by dir so a suite exercising the store can never leak into a
  * concurrently-running suite that expects in-session rebuilds), then
  * the `SPARK_GRAFT_WAREHOUSE` environment variable, else None —
  * session-lifetime localCheckpoint, the in-process default.
  *
  * Table names embed the snapshot dir, the artifact id WITH its build
  * parameters, and [[FormatVersion]]: a parameter change or a
  * semantic change to a builder mints a NEW table rather than
  * silently reading a stale artifact (the invalidation story —
  * snapshots are immutable, so content only changes when code or
  * parameters do; bump [[FormatVersion]] on semantic change). */
private[graft] object StageStore {

  /** Bump when any staged builder's SEMANTICS change, so persisted
    * artifacts from older code can never satisfy a newer read. */
  // v2: round-12 optimization — prEdges gained dst_degree, prDegrees
  // gained n_in (the join-free PageRank round shape); a v1 warehouse
  // would satisfy the resolve with the old schemas
  // v3: artifacts persist as ManifestParquet tables (`_log/` manifests
  // over `d-*` data dirs) instead of `v=N` directories; the new table
  // names keep a pinned warehouse from ever reading an old-layout dir
  val FormatVersion = 3

  private val testOverrides = new ConcurrentHashMap[String, String]()

  private[graft] def setForTesting(dir: String, root: String): Unit =
    testOverrides.put(dir, root)
  private[graft] def clearForTesting(dir: String): Unit =
    testOverrides.remove(dir)

  def rootFor(dir: String): Option[String] =
    Option(testOverrides.get(dir)).orElse(sys.env.get("SPARK_GRAFT_WAREHOUSE"))

  def tableName(dir: String, what: String): String =
    s"stage_v$FormatVersion|$dir|$what".replaceAll("[^A-Za-z0-9._-]", "_")

  // ---- erasure epochs -------------------------------------------------
  //
  // "A corpus snapshot is immutable" has one legal exception:
  // right-to-be-forgotten erasure edits the snapshot in place. Every
  // staged artifact built from the PRE-erasure snapshot then still
  // carries the forgotten rows until rebuilt — so erasure must
  // invalidate them. The mechanism is an EPOCH per snapshot dir that
  // participates in both the in-session memo key and the persisted
  // table name: bumping it orphans every older artifact (never
  // resolved again — vacuum policy, like orphan store versions) and
  // the next resolve rebuilds from the now-erased source.
  // [[graft.CorpusEtl.forget]] bumps it for the snapshot dirs the
  // caller names. Persisted per-warehouse as a one-line epoch file, so
  // cold sessions see it; within a session the memory map is the
  // source of truth (seeded from the file on first touch).

  private val erasureEpochs = new ConcurrentHashMap[String, java.lang.Long]()
  private val epochSeeded = new ConcurrentHashMap[String, java.lang.Boolean]()

  private def epochPath(root: String, dir: String) =
    new org.apache.hadoop.fs.Path(root,
      s"_erasure_epoch_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}")

  def erasureEpoch(spark: SparkSession, dir: String): Long = {
    val sessionKey = s"${spark.sparkContext.applicationId}|$dir"
    if (epochSeeded.putIfAbsent(sessionKey, true) == null)
      rootFor(dir).foreach { root =>
        val p = epochPath(root, dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) {
          val in = fs.open(p)
          val persisted =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
            finally in.close()
          erasureEpochs.merge(dir, persisted, (a, b) => math.max(a, b))
        }
      }
    Option(erasureEpochs.get(dir)).map(_.longValue).getOrElse(0L)
  }

  /** Called by an erasure (after the snapshot's files are rewritten):
    * invalidates every staged artifact of `dir`, in this session and
    * in the warehouse. Returns the new epoch. */
  def bumpErasureEpoch(spark: SparkSession, dir: String): Long = {
    val next = erasureEpoch(spark, dir) + 1
    erasureEpochs.put(dir, next)
    rootFor(dir).foreach { root =>
      val p = epochPath(root, dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    }
    next
  }
}

/** Bucketed catalog commits for POSITIONED staged layouts (round 13,
  * verdict item 4): a layout whose value is its partitioning (the
  * fuzzy deletion index pre-positioned on its join key) cannot ride
  * [[graft.etl.ManifestParquet]] — a plain parquet round-trip
  * discards exactly the layout it exists to hold. The production
  * shape is a table written BUCKETED on the key at index-write time
  * ([[graft.io.BucketedTables]], the `band_index` shape): a fresh JVM
  * then reads the committed files back bucketed and every join on the
  * key plans with ZERO Exchange on the index side — the positioning
  * shuffle is paid once per snapshot at write time, not once per
  * session.
  *
  * Cross-JVM story: `saveAsTable` registers the table in the
  * session's in-memory catalog, which dies with the JVM while the
  * bucketed FILES survive. A sidecar marker (`_graft_bucketed.json`:
  * schema DDL, bucket keys, bucket count) is committed next to the
  * data AFTER a successful write; a cold session finds the marker and
  * recreates the same external-table DDL over the committed location
  * — same bucket spec, so scans come back hash-partitioned without a
  * byte rewritten. The marker commits by temp-file rename, so an
  * interrupted write leaves no marker and rebuilds; a marker that
  * does not parse is dropped and rebuilds too. The bucket count is
  * DATA-derived (rows / RowsPerBucket, clamped), so every session
  * derives the same layout from the same snapshot and a 100 TB index
  * scales its bucket count with its size instead of inheriting a
  * local core count. */
private[graft] object BucketedStage {

  /** Target rows per bucket: matches the verify-stage sizing
    * ([[graft.operators.FuzzyJoin.VerifyRowsPerTask]]) so a bucketed
    * probe's natural task width equals the width the verify wants. */
  val RowsPerBucket = 8192L

  def bucketCountFor(rows: Long): Int =
    math.max(1L, math.min((rows + RowsPerBucket - 1) / RowsPerBucket, 4096L)).toInt

  /** Catalog identifiers allow a narrower charset than store table
    * names ('.' would parse as a namespace separator). */
  def catalogName(root: String, table: String): String =
    ("bkt_" + Integer.toHexString(root.hashCode).takeRight(8) + "_" + table)
      .replaceAll("[^A-Za-z0-9_]", "_")

  /** Resolve a bucketed artifact: reuse the session catalog entry if
    * it points at this root, else recreate DDL over committed files
    * (cold session), else build + bucketed write + marker commit.
    * Returns the bucketed TABLE scan — callers that also want the
    * rows memory-resident persist() it; the cache inherits the scan's
    * HashPartitioning, so joins stay exchange-free either way. */
  def resolve(spark: SparkSession, root: String, table: String,
      keys: Seq[String])(build: => DataFrame): DataFrame = {
    val name = catalogName(root, table)
    val path = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "bucketed"), table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_bucketed.json")
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    // a same-JVM catalog entry is only valid if it points at THIS
    // root's files (two warehouse roots for one snapshot dir — a test
    // override vs the bench root — must not satisfy each other)
    val entryValid = catalog.tableExists(ident) && {
      val loc = catalog.getTableMetadata(ident).location.toString
        .stripSuffix("/")
      val want = fs.makeQualified(path).toString.stripSuffix("/")
      loc == want || { spark.sql(s"DROP TABLE `$name`"); false }
    }
    // a marker that does not read back whole (a torn write from
    // before the rename commit) is dropped: the layout rebuilds
    def committedLayout: Option[(String, Int, Seq[String])] =
      if (!fs.exists(marker)) None
      else scala.util.Try {
        val in = fs.open(marker)
        val parsed =
          try org.json4s.jackson.JsonMethods.parse(
            scala.io.Source.fromInputStream(in, "UTF-8").mkString)
          finally in.close()
        implicit val fmts: org.json4s.DefaultFormats.type = org.json4s.DefaultFormats
        ((parsed \ "schema").extract[String], (parsed \ "buckets").extract[Int],
          (parsed \ "keys").extract[Seq[String]])
      }.toOption.orElse { fs.delete(marker, false); None }
    if (!entryValid) {
      committedLayout match {
        case Some((ddl, n, ks)) =>
          // cold session over committed files: recreate the DDL
          spark.sql(
            s"""CREATE TABLE `$name` ($ddl) USING parquet
               |CLUSTERED BY (${ks.map(k => s"`$k`").mkString(", ")})
               |SORTED BY (${ks.map(k => s"`$k`").mkString(", ")})
               |INTO $n BUCKETS
               |LOCATION '${fs.makeQualified(path)}'""".stripMargin)
        case None =>
          val df = build
          // data-derived bucket count: every session derives the same
          // layout from the same snapshot (a conf-derived count would
          // let whichever session built first pin its core count)
          val n = bucketCountFor(df.count())
          graft.io.BucketedTables.create(df, name, fs.makeQualified(path).toString,
            n, keys)
          val json = org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(
              org.json4s.JObject(
                "schema" -> org.json4s.JString(df.schema.toDDL),
                "keys" -> org.json4s.JArray(
                  keys.map(org.json4s.JString(_)).toList),
                "buckets" -> org.json4s.JInt(n))))
          // temp + rename: a reader sees the whole marker or none
          val tmp = new org.apache.hadoop.fs.Path(path, "_graft_bucketed.json.tmp")
          val out = fs.create(tmp, true)
          try out.write(json.getBytes("UTF-8")) finally out.close()
          require(fs.rename(tmp, marker), s"could not commit $marker")
      }
    }
    spark.table(name)
  }
}

/** The single enumeration of every PERSISTABLE staged artifact across
  * the three stage objects — Bench's warehouse resolve and
  * StageStoreSpec's store-vs-inprocess bit-equality sweep both
  * iterate THIS list, so an artifact added to a stage object cannot
  * be silently uncovered by either (each stage object contributes its
  * own (name, builder) rows; session-scoped layouts with
  * `persistable = false` stay out by construction). */
private[graft] object Stages {
  def persistableArtifacts
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    GraphStage.persistableArtifacts ++
      DedupStage.persistableArtifacts ++
      LmStage.persistableArtifacts ++
      VectorStage.persistableArtifacts

  def stagedSecondsTotal: Double =
    GraphStage.stagedSeconds + DedupStage.stagedSeconds +
      LmStage.stagedSeconds + VectorStage.stagedSeconds

  /** Per-stage build-time attribution (adder sums — CPU-ish cost, not
    * wall): Bench emits these as separate tail fields so a staged_sec
    * regression names its stage instead of being one opaque scalar. */
  def stagedSecondsByStage: Seq[(String, Double)] = Seq(
    "graph" -> GraphStage.stagedSeconds,
    "dedup" -> DedupStage.stagedSeconds,
    "lm" -> LmStage.stagedSeconds,
    "vector" -> VectorStage.stagedSeconds)

  /** How many build closures actually RAN across all stages (vs store
    * reads / memo hits) — with the persistent bench warehouse this is
    * the artifact's own cold/warm self-description: 0 builds means
    * every staged input came off the committed store, so a reader
    * knows `staged_sec` is a warm read, not a build. */
  def buildCountTotal: Long =
    GraphStage.buildCount + DedupStage.buildCount +
      LmStage.buildCount + VectorStage.buildCount

  /** Resolve every persistable artifact, fanning independent builds
    * out over a bounded thread pool — they are independent Spark jobs,
    * so on an idle 32-core box the wall cost is max-of-builds, not
    * sum-of-builds. Same-artifact requests dedupe inside [[StageCache]]
    * (memo cells), and a builder resolving a dependency just blocks on
    * that cell. Returns wall seconds; a failed build rethrows (loud,
    * never a silently-missing artifact). */
  def resolveAllConcurrently(spark: SparkSession, dir: String): Double = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val t0 = System.nanoTime()
    // JVM class-init deadlock guard (round-9 postmortem): the query
    // objects' oracle-SQL vals cross-reference (CorpusQueries ↔
    // PipelineQueries ↔ …), which is legal when ONE thread walks the
    // cycle (recursive-init re-entry) but deadlocks when two prewarm
    // threads enter it from opposite ends (graph builder touched
    // PipelineQueries constants while the dedup builder touched
    // CorpusQueries — both parked on the other's class monitor
    // forever). Force the whole chain on THIS thread first.
    graft.SparkEntry.queries.size: Unit
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, persistableArtifacts.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = persistableArtifacts.map { case (_, build) =>
        Future { build(spark, dir).count(): Unit }
      }
      fs.foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    (System.nanoTime() - t0) / 1e9
  }

  def clearAllForTesting(): Unit = {
    GraphStage.clearForTesting()
    DedupStage.clearForTesting()
    LmStage.clearForTesting()
    VectorStage.clearForTesting()
  }

  /** [[clearAllForTesting]] + free the dropped artifacts' blocks —
    * what Bench's cold→warm warehouse swap needs (the cold copies
    * would otherwise sit in the block manager at ~2× staged memory
    * while the warm resolve and the timed query loop run). */
  def clearAllAndFree(): Unit = {
    GraphStage.clearAndFree()
    DedupStage.clearAndFree()
    LmStage.clearAndFree()
    VectorStage.clearAndFree()
  }

  /** Sample the cross-JVM warm-read cost of ONE committed artifact:
    * drop just its memo cell (its committed warehouse table stays) and
    * re-resolve through the normal [[StageCache]] path — the store
    * read + localCheckpoint a fresh driver JVM would pay. `name` is a
    * [[persistableArtifacts]] display name (`stage.artifact`); cache
    * keys carry the stage-local artifact id (the display name's suffix
    * plus build params), so the suffix selects the cell. Returns wall
    * seconds, or -1 if nothing matched (not resolved this session, or
    * not in warehouse mode — an unmemoized in-process artifact would
    * REBUILD, which is not the number this samples). */
  def warmReadSample(spark: SparkSession, dir: String, name: String): Double =
    persistableArtifacts.find(_._1 == name) match {
      case Some((n, build)) if StageStore.rootFor(dir).isDefined =>
        val sub = n.split("\\.", 2)(1)
        val dropped = dropEverywhere(sub)
        if (dropped == 0) -1.0
        else {
          val t0 = System.nanoTime()
          build(spark, dir).count(): Unit
          (System.nanoTime() - t0) / 1e9
        }
      case _ => -1.0
    }

  private def dropEverywhere(sub: String): Int =
    GraphStage.dropMatchingAndFree(sub) +
      DedupStage.dropMatchingAndFree(sub) +
      LmStage.dropMatchingAndFree(sub) +
      VectorStage.dropMatchingAndFree(sub)

  /** Sample the COLD BUILD cost of ONE artifact — the mirror of
    * [[warmReadSample]], for bench runs whose default persistent
    * warehouse makes the main staging pass a warm read: drop the
    * artifact's memo cell, point the snapshot's store override at a
    * throwaway root, and time a full build + parquet commit +
    * read-back (exactly what cold staging pays per artifact). The
    * override is then restored and the memo dropped again, so the
    * caller's next resolve (the warm sample / the query loop) reads
    * the REAL store untouched. Only meaningful for an artifact whose
    * builder reads base tables, not other staged artifacts — a
    * dependent build would resolve its deps from warm memos and
    * under-report. Returns wall seconds, or -1 when not resolved this
    * session / not in warehouse mode. */
  def coldBuildSample(spark: SparkSession, dir: String, name: String): Double =
    persistableArtifacts.find(_._1 == name) match {
      case Some((n, build)) if StageStore.rootFor(dir).isDefined =>
        val realRoot = StageStore.rootFor(dir).get
        val sub = n.split("\\.", 2)(1)
        if (dropEverywhere(sub) == 0) -1.0
        else {
          val tmp = java.nio.file.Files
            .createTempDirectory("graft-cold-sample").toString
          StageStore.setForTesting(dir, tmp)
          try {
            val t0 = System.nanoTime()
            build(spark, dir).count(): Unit
            (System.nanoTime() - t0) / 1e9
          } finally {
            StageStore.setForTesting(dir, realRoot)
            // drop the temp-root build and re-resolve from the REAL
            // store, so the caller (warm sample, query loop) finds the
            // memo exactly as it was before the sample ran
            dropEverywhere(sub): Unit
            build(spark, dir).count(): Unit
            graft.io.TempDirs.deleteRecursively(tmp)
          }
        }
      case _ => -1.0
    }
}

/** Shared scaffolding for corpus-snapshot staged artifacts
  * ([[DedupStage]], [[LmStage]], [[GraphStage]]): memoize a built,
  * eagerly-materialized frame per (session, snapshot dir, artifact),
  * and account the one-time build wall-clock so Bench can report it
  * (`staged_sec`) instead of min-of-reps hiding it.
  *
  * When [[StageStore]] resolves a warehouse root for the snapshot
  * dir, the artifact is a VERSIONED TABLE: first build commits
  * version 1 through [[graft.etl.ManifestParquet]] and frees the build's
  * checkpoint blocks (the parquet artifact supersedes them); every
  * later request — including a COLD SESSION — reads the committed
  * version instead of rebuilding (StageStoreSpec proves read-not-
  * rebuild and bit-equality with the in-process path). Without a
  * root, artifacts are session-lifetime localCheckpoints: a corpus
  * snapshot is immutable, so in-process there is no invalidation
  * story beyond the session ending with its blocks.
  *
  * Concurrency: the map holds lazily-built CELLS, not values —
  * `computeIfAbsent` only allocates a cell (O(1), no long bin lock),
  * and the build runs under the cell's own monitor via `lazy val`.
  * Two requests for the same artifact dedupe to one build; requests
  * for DIFFERENT artifacts never contend (building inside
  * `computeIfAbsent` would hold the bin lock for the whole build and
  * can deadlock a concurrent fan-out — Bench prewarms all persistable
  * artifacts from a Future pool). This also makes [[apply]] safely
  * reentrant: a builder that resolves a dependency artifact mid-build
  * just touches another cell. Build times use a [[DoubleAdder]], so
  * concurrent builds of different artifacts never lose an
  * increment. */
private[graft] final class StageCache {

  private final class Cell(build: () => DataFrame) {
    @volatile var built: Option[DataFrame] = None
    lazy val value: DataFrame = {
      val v = build()
      built = Some(v)
      v
    }
  }
  private val cache = new ConcurrentHashMap[String, Cell]()
  private val secs = new DoubleAdder()
  private val builds = new LongAdder()

  def stagedSeconds: Double = secs.sum()

  /** How many times a build closure actually ran (vs store reads /
    * memo hits) — the observable StageStoreSpec's cold-session
    * reuse assertion counts. */
  private[graft] def buildCount: Long = builds.sum()

  /** Drop all staged artifacts (testing only) — DeterminismSpec uses
    * this so the BUILD stage re-runs under each partitioning, not
    * just its consumers; StageStoreSpec uses it as the cold-session
    * stand-in (the memo is exactly the state a new driver JVM
    * starts without). */
  def clear(): Unit = cache.clear()

  /** [[clear]] + free every MATERIALIZED artifact's checkpoint
    * blocks. Dropping cells alone orphans their eager checkpoints
    * until ContextCleaner GC — for Bench's cold→warm warehouse
    * resolve that meant a ~2× staged-memory spike riding into the
    * timed query loop. Only safe when every artifact can be
    * re-resolved (a committed store version, or a rebuild). */
  def clearAndFree(): Unit = {
    cache.values().forEach(c => c.built.foreach(CheckpointBlocks.free))
    cache.clear()
  }

  /** Drop (and free) ONLY the memo cells whose ARTIFACT-ID segment
    * equals `sub` — the per-artifact form of [[clearAndFree]] behind
    * [[Stages.warmReadSample]]. Keys are `appId|dir|id|params…`
    * (neither appId nor a snapshot dir contains '|'), so the id is
    * exactly segment 2 — a substring match would silently free an
    * unrelated artifact whose key merely embeds `sub` (e.g. a future
    * `fooIndex` vs `index`), forcing a warm rebuild mid-rep-loop.
    * Returns how many cells were dropped (0 = no such artifact was
    * resolved in this session). */
  private[graft] def dropMatchingAndFree(sub: String): Int = {
    var n = 0
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val parts = e.getKey.split("\\|", 4)
      if (parts.length >= 3 && parts(2) == sub) {
        e.getValue.built.foreach(CheckpointBlocks.free)
        it.remove()
        n += 1
      }
    }
    n
  }

  /** Build-once per (session, dir, artifact id — include any build
    * parameters in `what`).
    *
    * `persistable = false` marks a session-scoped LAYOUT rather than
    * a table: artifacts whose value is their in-memory partitioning
    * (e.g. the co-partitioned walk adjacency) stay eager
    * localCheckpoints even in warehouse mode — a parquet round-trip
    * would discard exactly the partitioning they exist to hold (a
    * real warehouse writes such tables BUCKETED on the key —
    * BucketingSpec proves that layout's zero-exchange join — but a
    * plain parquet table cannot carry it). */
  def apply(spark: SparkSession, dir: String, what: String,
      persistable: Boolean = true)(
      build: => DataFrame): DataFrame = {
    // the snapshot's erasure epoch rides the memo key AND the
    // persisted table name: a forget bumps it, so pre-erasure
    // artifacts (memoized or committed) are never resolved again and
    // the next request rebuilds from the erased source
    val epoch = StageStore.erasureEpoch(spark, dir)
    val what2 = if (epoch == 0) what else s"$what|fe$epoch"
    val key = s"${spark.sparkContext.applicationId}|$dir|$what2"
    cache.computeIfAbsent(key, _ => new Cell(() => {
      val t0 = System.nanoTime()
      val resolved = StageStore.rootFor(dir).filter(_ => persistable) match {
        case None =>
          builds.increment()
          build
        case Some(root) =>
          val fmt = new ManifestParquet(spark, root)
          val tbl = StageStore.tableName(dir, what2)
          // the store read is MATERIALIZED once per session: a memoized
          // lazy scan would re-read parquet on every consuming query
          // execution (measured +8 s across the sf0.1 suite), where the
          // in-process path hands consumers memory-resident blocks —
          // the checkpoint restores that symmetry, and its cost is
          // exactly the session-warmup `staged_warm_sec` reports
          if (fmt.currentVersion(tbl) > 0) fmt.read(tbl).localCheckpoint(true)
          else {
            builds.increment()
            val built = build
            fmt.overwrite(tbl, built)
            // the committed parquet version supersedes the build's
            // eager checkpoint blocks — free them (lineage is
            // truncated at the checkpoint, so this never reaches
            // into an upstream artifact's blocks)
            CheckpointBlocks.free(built)
            fmt.read(tbl).localCheckpoint(true)
          }
      }
      secs.add((System.nanoTime() - t0) / 1e9)
      resolved
    })).value
  }
}
