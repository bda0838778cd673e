package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-table atomicity for multi-table stores ([[graft.DailyEtl]],
  * [[graft.CorpusEtl]]): a MANIFEST table committed LAST pins the
  * exact (table → version) tuple of one consistent state, and every
  * read goes through it.
  *
  * The invariants this helper centralizes (they were hand-rolled in
  * both mains, and drifting apart — the reads must be as pinned as
  * the commits):
  *
  *  1. READS ARE PINNED: a run resolves every table at the version
  *     the manifest recorded, never `currentVersion` — so orphan
  *     versions left by a crashed or race-losing run are invisible
  *     (a phantom half-day can never leak into the next day's union).
  *  2. COMMITS RECORD RETURNED VERSIONS: the manifest pins exactly
  *     the versions this run's `tryCommit`/`tryAppend` calls
  *     returned — never a re-listed `currentVersion`, which could
  *     observe a concurrent writer's orphan.
  *  3. ARBITRATION AT THE MANIFEST: the manifest commits against the
  *     base version this run's reads used, so the loser of a
  *     double-fired day fails LOUDLY (optimistic concurrency) and
  *     leaves only orphans the manifest never points to. Table-level
  *     commits arbitrate at `currentVersion` instead — superseding
  *     orphans rather than colliding with them ([[TableFormat
  *     .tryAppend]]'s two-version contract).
  *
  * A crash anywhere mid-persist therefore leaves at worst orphan
  * table versions; the next run reads the previous complete state
  * and its own commits simply supersede the orphans.
  */
final class ManifestStore(
    spark: SparkSession,
    val fmt: TableFormat,
    val tables: Seq[String]) {

  import ManifestStore.Manifest

  /** Version of the last committed manifest; 0 before init. */
  def base: Long = fmt.currentVersion(Manifest)

  /** The (table → version) map pinned by manifest version `v`
    * (driver-side collect of an ~n-tables-row frame). */
  def pinned(v: Long): Map[String, Long] =
    fmt.readVersion(Manifest, v).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def readPinned(p: Map[String, Long], table: String): DataFrame =
    fmt.readVersion(table, p(table))

  /** Commit one consistent state: `versions` MUST be the versions
    * returned by this run's table commits (invariant 2), `base` the
    * manifest version this run's reads were pinned to (invariant 3). */
  def commit(versions: Map[String, Long], base: Long): Unit = {
    import spark.implicits._
    require(versions.keySet == tables.toSet,
      s"manifest must pin every table: got ${versions.keySet.toSeq.sorted}, " +
        s"expected ${tables.sorted}")
    fmt.tryCommit(Manifest,
      tables.map(t => (t, versions(t))).toDF("table_name", "version"), base)
    ()
  }

  /** Point-in-time read of the whole store as pinned by manifest
    * version `v` — "what did the pipeline know after day N". */
  def tablesAsOf(v: Long): Map[String, DataFrame] = {
    val p = pinned(v)
    tables.map(t => t -> readPinned(p, t)).toMap
  }

  /** The store's CDC feed: per-table changes between the states
    * pinned by manifest `fromManifest` (0 = before init) and
    * `toManifest` — what keeps DOWNSTREAM consumers batch-
    * proportional (a shard exporter reads the new days' rows and
    * retracted keys, never the corpus). Requires a backend with
    * incremental reads ([[ManifestParquet]]); a table whose pin
    * didn't move yields an empty change set. */
  def changesBetween(fromManifest: Long, toManifest: Long): Map[String, ChangeSet] = {
    val inc = fmt match {
      case m: ManifestParquet => m
      case _ => throw new UnsupportedOperationException(
        s"backend ${fmt.getClass.getSimpleName} does not support incremental reads")
    }
    val cur = base
    require(toManifest >= 1 && toManifest <= cur,
      s"manifest versions are 1..$cur, cannot diff to $toManifest")
    require(fromManifest >= 0 && fromManifest <= toManifest,
      s"invalid manifest change range ($fromManifest, $toManifest]")
    val p1: Map[String, Long] =
      if (fromManifest == 0) tables.map(_ -> 0L).toMap else pinned(fromManifest)
    val p2 = pinned(toManifest)
    tables.map(t => t -> inc.changesBetween(t, p1(t), p2(t))).toMap
  }

  /** Store-wide retention: keep manifest versions `retainManifest..`
    * and vacuum every table down to the oldest version any RETAINED
    * manifest still pins (a table whose pin never moves — the
    * benchmark pinned at init — is never touched). Orphan table
    * versions above the watermark survive until the pins move past
    * them; orphan DIRS (crashed commits) go subject to the
    * `olderThanMs` in-flight guard. This is the store's erasure
    * horizon: a [[graft.CorpusEtl.forget]] becomes physical once
    * every pre-forget manifest falls below `retainManifest` and the
    * tables have been compacted past their tombstones. */
  def vacuumTo(retainManifest: Long, olderThanMs: Long = 0L): Map[String, VacuumStats] = {
    val v = fmt match {
      case m: ManifestParquet => m
      case _ => throw new UnsupportedOperationException(
        s"backend ${fmt.getClass.getSimpleName} does not support vacuum")
    }
    val cur = base
    require(retainManifest >= 1 && retainManifest <= cur,
      s"retainManifest $retainManifest outside committed manifests 1..$cur")
    val retainedPins = (retainManifest to cur).map(pinned)
    val perTable = tables.map { t =>
      t -> v.vacuum(t, retainedPins.map(_(t)).min, olderThanMs)
    }.toMap
    perTable + (Manifest -> v.vacuum(Manifest, retainManifest, olderThanMs))
  }
}

object ManifestStore {
  val Manifest = "manifest"
}
