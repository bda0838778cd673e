package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** The storage seam under the load layer — the contract a
  * transactional table format (Delta, Iceberg, Hudi) would fulfil.
  *
  * The reference gets atomic `INSERT … ON CONFLICT DO NOTHING
  * RETURNING` from Postgres (`etl_pipeline.py:594-612`); this engine
  * has one commit protocol, [[ManifestParquet]]: a table version is an
  * immutable manifest listing immutable parquet data dirs, "merge" =
  * [[Load.upsert]]'s anti-join chain + an O(batch) append commit, and
  * RETURNING is computed pre-write. Version N+1 is published by an
  * exclusive manifest commit, so of two merges that both anti-joined
  * against version N only one commits; the other fails loudly
  * instead of dropping the winner's rows. The trait stays a
  * seam: [[TableFormat.Backend]] lets specs and a timing decorator
  * wrap or substitute the backend, and everything above it is
  * unchanged.
  */
trait TableFormat {

  /** Current committed state. */
  def read(table: String): DataFrame

  /** Point-in-time read of a committed version (audit/backfill). */
  def readVersion(table: String, version: Long): DataFrame

  /** Read `version` restricted to rows with `column` in the inclusive
    * interval [lower, upper] (an absent bound is open; both absent =
    * the full version). Semantically IDENTICAL to
    * `readVersion(...).where(...)`, but a backend that keeps
    * file-level statistics ([[ManifestParquet]]) PRUNES non-matching
    * files from the scan before Spark ever lists them: a point read
    * against a year of daily appends plans over the one matching
    * day's files instead of 365 dirs. (Parquet row-group skipping
    * still applies inside whatever survives the prune — this is the
    * layer ABOVE it, the Delta/Iceberg data-skipping shape.) Safe for
    * null-bearing columns because a range predicate is
    * null-rejecting. */
  def readVersionRange(table: String, version: Long, column: String,
      lower: Option[Any], upper: Option[Any]): DataFrame

  /** An UPPER BOUND on max(`column`) over `version`, derived from
    * commit statistics alone — NO Spark job, no file listed. Exact
    * for pure-append history; after row deletions it may exceed the
    * true max (a tombstone never shrinks retained file stats), so
    * callers use it where an upper bound is what the logic wants —
    * e.g. [[graft.CorpusEtl.runBatch]]'s monotonic batch-id guard,
    * which deliberately keeps ids monotonic across erasures. None
    * when the backend keeps no statistics, any file lacks them for
    * this column, or no committed row carried a value. */
  def statsUpperBound(table: String, version: Long, column: String): Option[Any]

  /** Highest committed version, 0 if the table does not exist. */
  def currentVersion(table: String): Long

  /** Backend commit primitive: persist `df` as version
    * `expectedBase + 1`, FAILING (not clobbering) if any other writer
    * committed after `expectedBase` — the backend supplies the
    * arbitration (a no-overwrite manifest rename in
    * [[ManifestParquet]]). Returns the committed version. */
  def tryCommit(table: String, df: DataFrame, expectedBase: Long): Long

  /** Create-or-replace the table with `df` as its next version. */
  def overwrite(table: String, df: DataFrame): Unit =
    tryCommit(table, df, currentVersion(table))

  /** APPEND commit: the next version's logical content is version
    * `ontoVersion`'s content plus `delta`, committed at
    * `expectedBase + 1`. The two version arguments are deliberately
    * separate: `ontoVersion` is the version this writer's READS were
    * pinned to (a manifest-consistent snapshot), `expectedBase` is
    * the arbitration point (normally [[currentVersion]]) — so a
    * writer derives content ONLY from its pinned state while its
    * commit SUPERSEDES any orphan versions a crashed run left behind
    * (orphans are never unioned in; they just become dead versions no
    * manifest references). `ontoVersion <= 0` creates the table with
    * `delta` as its content.
    *
    * The commit is O(batch): it writes ONLY the delta's files and a
    * new manifest line, never history's. */
  def tryAppend(table: String, delta: DataFrame, ontoVersion: Long,
      expectedBase: Long): Long

  /** DELETE-by-key commit: the next version's logical content is
    * version `ontoVersion`'s content minus every row whose value in
    * `keys`' single column appears in `keys` — the erasure primitive
    * (right-to-be-forgotten). Version arguments as in [[tryAppend]]:
    * reads pinned to `ontoVersion`, arbitration at `expectedBase`.
    *
    * The commit is a DELETION VECTOR: stage only the key set and
    * append a tombstone entry to the manifest, so erasing k documents
    * from a year of history writes O(k) bytes
    * ([[ManifestParquet.compact]] later materializes the subtraction
    * and drops the tombstone). An empty key set still mints a
    * version — callers that want no-op elision guard before
    * calling. */
  def tryDeleteRows(table: String, keys: DataFrame, ontoVersion: Long,
      expectedBase: Long): Long

  /** `MERGE WHEN NOT MATCHED THEN INSERT` under the table's unique
    * constraints (DDL order), with `priority` as the within-batch
    * tie-break: commits the merged state and returns the inserted
    * (RETURNING) set. A no-op merge (zero survivors) MUST NOT mint a
    * new version.
    *
    * Defined ONCE on the trait: the merge semantics ARE the contract;
    * backends only supply read + arbitrated commit. RETURNING is
    * computed pre-commit against the version the anti-joins saw —
    * committed versions are immutable, so the lazy
    * frame remains valid after the commit — and the commit supersedes
    * EXACTLY the version read, so a racer's rows can never be
    * silently dropped. */
  final def mergeInsert(
      table: String,
      batch: DataFrame,
      constraints: Seq[Seq[String]],
      priority: Seq[Column]): DataFrame = {
    val base = currentVersion(table)
    require(base > 0, s"table $table does not exist")
    val existing = readVersion(table, base)
    // the RETURNING set executes ONCE: without it the anti-join chain
    // over the full table runs three times (empty guard, the commit's
    // recompute of existing∪inserted, the caller's action on the
    // returned frame)
    val (inserted, _) = Load.upsertOnce(existing, batch, constraints, priority)
    if (inserted.isEmpty) inserted
    // the merged state IS existing ∪ inserted — commit it as an
    // APPEND of the survivors onto the version the anti-joins saw,
    // so the commit pays O(inserted), not O(table)
    else { tryAppend(table, inserted, base, base); inserted }
  }

  /** `MERGE WHEN MATCHED AND target.valueCol IS NULL THEN UPDATE` —
    * the fill-if-null enrich (S10). Returns the updated rows; no-op
    * updates mint no version. */
  final def mergeUpdateIfNull(
      table: String,
      updates: DataFrame,
      key: String,
      valueCol: String): DataFrame = {
    val base = currentVersion(table)
    require(base > 0, s"table $table does not exist")
    val (returning0, newState) =
      Load.updateColumn(readVersion(table, base), updates, key, valueCol)
    // same one-execution discipline as mergeInsert: the fill join
    // otherwise runs for the guard, the commit, and the caller's read
    val returning = graft.operators.CheckpointBlocks.local(returning0)
    if (returning.isEmpty) returning
    else { tryCommit(table, newState, base); returning }
  }
}

object TableFormat {
  /** How a store root resolves to a backend: [[ManifestParquet]] for
    * every runnable main. A caller may wrap it (perfbench's timing
    * decorator) without touching the pipelines above the seam. */
  type Backend = (SparkSession, String) => TableFormat
  val DefaultBackend: Backend = (s, r) => new ManifestParquet(s, r)

  /** The key column of a delete set: its single column, by contract. */
  private[etl] def deleteKeyCol(keys: DataFrame): String = {
    require(keys.schema.fields.length == 1,
      s"a delete key set must have exactly one column, " +
        s"got ${keys.schema.fieldNames.mkString(", ")}")
    keys.schema.fieldNames.head
  }

  /** The [lower, upper] interval as a Catalyst predicate — the filter
    * every [[TableFormat.readVersionRange]] applies, pruned scan or
    * not, so the pruning can only ever be a (correct) superset. */
  private[etl] def rangeCondition(column: String,
      lower: Option[Any], upper: Option[Any]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    (lower.map(col(column) >= lit(_)) ++ upper.map(col(column) <= lit(_)))
      .reduceOption(_ && _).getOrElse(lit(true))
  }
}

/** One table's changes between two committed versions — the CDC feed
  * that keeps DOWNSTREAM consumers batch-proportional too: a
  * training-shard exporter reads the day's `appended` rows and
  * retracts `deletedKeys`, never rescanning the corpus.
  *
  * Contract (multiset identity, spec-asserted):
  * {{{
  *   readVersion(to) == readVersion(from).minusKeys(deletedKeys) ++ appended
  * }}}
  * `appended` already excludes rows that were appended and then
  * deleted INSIDE the range (in-range tombstones apply to it in
  * manifest order, exactly as a read would); `deletedKeys` is keyed
  * by delete-key column (one frame of distinct keys per column —
  * in practice one column per table). */
final case class ChangeSet(
    appended: DataFrame, deletedKeys: Map[String, DataFrame])

/** What [[ManifestParquet.vacuum]] reclaimed. */
final case class VacuumStats(
    dirsDeleted: Long, bytesDeleted: Long, manifestsDeleted: Long)

/** The table format — the one that makes DAILY APPEND COMMITS
  * O(batch): a table version is a MANIFEST (an immutable text file in
  * `_log/`) listing the immutable data directories whose union is the
  * version's content — the Delta/Iceberg commit shape. An append
  * commit stages ONLY the batch's files and writes a one-more-line
  * manifest; history's files are never rewritten, so the bytes
  * written per daily commit are proportional to the batch, not the
  * corpus (TableFormatSpec asserts it). Overwrites (merge-update,
  * compaction) still rewrite — that is what they mean; erasure
  * commits a tombstone instead (below).
  *
  * Layout per table:
  * {{{
  *   root/<table>/_log/<v>.manifest   line 1 = schema JSON,
  *                                    lines 2.. = ordered entries:
  *                                      d-<nonce>          data dir
  *                                      !<keyCol>:d-<nonce> tombstone
  *   root/<table>/d-<nonce>/          immutable parquet dirs (data,
  *                                    or a tombstone's key set)
  * }}}
  *
  * A TOMBSTONE entry (the deletion-vector shape) subtracts every row
  * whose `keyCol` value appears in its key-set dir from the entries
  * ABOVE it — order matters, so a later append of a previously
  * deleted key is NOT re-deleted (erasure then re-arrival is a
  * first-class sequence for the corpus store). [[tryDeleteRows]]
  * therefore commits O(keys) bytes, not O(history); [[compact]]
  * materializes the subtraction and drops the tombstones; [[vacuum]]
  * makes the erasure PHYSICAL once the pre-delete versions age out
  * of retention.
  *
  * Commit protocol: stage data dirs first (uniquely named — racing
  * writers can never clobber each other's staged files), then
  * CREATE-EXCLUSIVE the manifest for version N+1 — the exclusive
  * create is the arbitration point, so the loser of a race fails
  * loudly with its staged dir left as an orphan no manifest
  * references ([[vacuum]] reclaims it). Reads resolve ONLY through
  * manifests, with the manifest's own schema (name-based parquet
  * column resolution — a dir staged with different column ORDER
  * still reads correctly, and an empty version reads as an empty
  * frame without inference).
  *
  * Incremental (CDC) reads come from manifest structure alone
  * ([[changesBetween]]); compaction commits are marked
  * dataChange=false so maintenance is invisible to incremental readers
  * (the Delta convention), while any other rewrite that DOES change
  * data (merge-update, overwrite) makes the range non-incremental: the
  * reader gets a loud error telling it to full-refresh, never a silent
  * wrong delta. */
final class ManifestParquet(spark: SparkSession, root: String)
    extends TableFormat {

  import org.apache.spark.sql.types.{DataType, StructType}
  import ManifestParquet.{ColStats, DataEntry, Entry, EntryMeta, TombstoneEntry,
    compareStats, parseEntry, renderEntry, statCanonical, statValue, statsEligible}

  private def fs =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(table: String) = new Path(root, table)
  private def logDir(table: String) = new Path(tableDir(table), "_log")
  private def manifestPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.manifest")

  override def currentVersion(table: String): Long = {
    val dir = logDir(table)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong)
      .sorted.lastOption.getOrElse(0L)
  }

  override def read(table: String): DataFrame = {
    val v = currentVersion(table)
    require(v > 0, s"table $table does not exist under $root")
    readVersion(table, v)
  }

  private def readManifest(table: String, v: Long): (StructType, Seq[String]) = {
    val (schema, _, entries) = readManifestFull(table, v)
    (schema, entries)
  }

  /** Full manifest: schema, the PARENT version this commit was built
    * onto (`#onto:` header; legacy manifests without one assume the
    * linear v−1), and the entry lines. The parent pointer is what
    * lets [[changesBetween]] walk the true ancestry chain — a crashed
    * run's orphan version sits off-chain and is never visited, the
    * same invisibility batch readers get from manifest pins. */
  private def readManifestFull(table: String, v: Long)
      : (StructType, Long, Seq[String]) = {
    val in = fs.open(manifestPath(table, v))
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = txt.split("\n", -1).toSeq
    val body = lines.tail.filter(_.nonEmpty)
    val onto = body.collectFirst {
      case l if l.startsWith("#onto:") => l.stripPrefix("#onto:").toLong
    }.getOrElse(v - 1)
    (DataType.fromJson(lines.head).asInstanceOf[StructType], onto,
      body.filterNot(_.startsWith("#")))
  }

  /** The version's raw manifest entry lines, in commit order —
    * operational introspection (and the specs' receipt that compact
    * dropped the tombstones). */
  def manifestEntries(table: String, version: Long): Seq[String] =
    readManifest(table, version)._2

  override def readVersion(table: String, version: Long): DataFrame = {
    val (schema, lines) = readManifest(table, version)
    foldEntries(table, schema, lines.map(parseEntry))
  }

  private def dirPath(table: String, d: String) =
    new Path(tableDir(table), d).toString

  /** The manifest read semantics: union the data entries in order,
    * each tombstone anti-joining the content ABOVE it — so a later
    * re-append of a deleted key survives. Consecutive data entries
    * collapse into one multi-path scan; plan depth = tombstone count
    * (bounded by forget frequency; [[compact]] resets it to zero). */
  private def foldEntries(table: String, schema: StructType,
      entries: Seq[Entry]): DataFrame = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    def scan(dirs: Seq[String]): DataFrame =
      spark.read.schema(schema).parquet(dirs.map(dirPath(table, _)): _*)
    // common case — no tombstones — stays the single multi-path scan
    if (entries.forall(_.isInstanceOf[DataEntry])) {
      if (entries.isEmpty) empty
      else scan(entries.collect { case d: DataEntry => d.dir })
    } else {
      var acc = empty
      var pending = Vector.empty[String]
      def flush(): Unit =
        if (pending.nonEmpty) {
          acc = if (acc eq empty) scan(pending) else acc.unionByName(scan(pending))
          pending = Vector.empty
        }
      entries.foreach {
        case d: DataEntry => pending :+= d.dir
        case TombstoneEntry(keyCol, d) =>
          flush()
          val keys = spark.read
            .schema(StructType(Seq(schema(keyCol)).map(_.copy(nullable = true))))
            .parquet(dirPath(table, d))
          acc = acc.join(keys, Seq(keyCol), "left_anti")
      }
      flush()
      acc
    }
  }

  /** Data skipping from manifest statistics: drop every data dir
    * whose [min, max] for `column` cannot intersect [lower, upper]
    * BEFORE the scan is planned — Spark never even lists the pruned
    * files. A point read against a year of daily appends touches the
    * one matching day's dir ([[TableFormatSpec]] asserts it via
    * `inputFiles`); the residual `where` keeps the result exactly
    * `readVersion(...).where(...)` whatever the stats say. Legacy
    * entries without stats, and columns whose type carries no stats,
    * are conservatively kept. */
  override def readVersionRange(table: String, version: Long, column: String,
      lower: Option[Any], upper: Option[Any]): DataFrame = {
    val (schema, lines) = readManifest(table, version)
    require(schema.fieldNames.contains(column),
      s"range read on $table: column $column is not in the table " +
        s"schema ${schema.fieldNames.mkString(", ")}")
    val dt = schema(column).dataType
    val bounded = lower.isDefined || upper.isDefined
    def keep(e: Entry): Boolean = e match {
      case DataEntry(_, Some(m)) =>
        if (m.rows == 0) false
        else m.stats.get(column) match {
          case Some(ColStats(Some(mn), Some(mx))) =>
            // prune iff the intervals are provably disjoint
            val belowAll = upper.flatMap(u =>
              statCanonical(dt, u).map(compareStats(dt, _, mn))).exists(_ < 0)
            val aboveAll = lower.flatMap(l =>
              statCanonical(dt, l).map(compareStats(dt, _, mx))).exists(_ > 0)
            !(belowAll || aboveAll)
          // stats collected, no values seen: every row is NULL in
          // `column`, and a range predicate is null-rejecting
          case Some(ColStats(None, None)) => !bounded
          // exactly one bound present — the writer never emits this
          // shape (min/max travel together), so it is a corrupt or
          // foreign manifest; treat as unknown and keep, mirroring
          // parseMeta's conservative handling
          case Some(_) => true
          // this column's type carries no stats — keep
          case None => true
        }
      case _ => true // legacy pre-stats entry, or a tombstone
    }
    foldEntries(table, schema, lines.map(parseEntry).filter(keep))
      .where(TableFormat.rangeCondition(column, lower, upper))
  }

  /** Manifest-only upper bound of max(`column`): the max of the data
    * entries' recorded maxima — NO Spark job, no file listed (the
    * O(1) read behind [[graft.CorpusEtl.runBatch]]'s daily batch-id
    * guard). Exact on pure-append history; tombstones can only make
    * it an over-estimate, which is the documented contract. None if
    * any data entry predates stats or the column never carried a
    * value. */
  override def statsUpperBound(table: String, version: Long,
      column: String): Option[Any] = {
    val (schema, lines) = readManifest(table, version)
    if (!schema.fieldNames.contains(column) ||
        !statsEligible(schema(column).dataType)) None
    else {
      val dt = schema(column).dataType
      val datas = lines.map(parseEntry).collect { case d: DataEntry => d }
      val unknown = datas.exists(d => d.meta match {
        case None => true // legacy pre-stats entry: contents unknown
        case Some(m) => m.rows > 0 && !m.stats.contains(column)
      })
      if (unknown) None
      else {
        val maxes = datas.flatMap(_.meta.flatMap(_.stats.get(column)).flatMap(_.max))
        if (maxes.isEmpty) None
        else Some(statValue(dt,
          maxes.reduce((a, b) => if (compareStats(dt, a, b) >= 0) a else b)))
      }
    }
  }

  /** Stage `df` as a new immutable data dir; returns its name. The
    * nonce keeps racing writers' staged files disjoint — arbitration
    * happens at the manifest, never at the data. */
  private def stage(table: String, df: DataFrame): String = {
    val name = s"d-${java.util.UUID.randomUUID().toString.take(13)}"
    df.write.mode(SaveMode.ErrorIfExists)
      .parquet(new Path(tableDir(table), name).toString)
    name
  }

  /** Stage `df` and record its COMMIT STATISTICS (row count + per-
    * column min/max for stat-eligible types) in the manifest entry —
    * what powers [[readVersionRange]]'s file pruning and
    * [[statsUpperBound]]'s job-free reads. The stats are observed on
    * the staging write itself (an `Observation` of [[statsExprs]]), so
    * a commit runs one query, not a write plus a re-read of what it
    * wrote; the numbers equal [[metaFor]] over the staged files
    * (TableFormatSpec checks it). The metrics arrive on the listener
    * bus after the write: the wait for them is bounded, and a commit
    * whose metrics never arrive fails loudly before any manifest is
    * published, leaving its staged dir an orphan. Float/double
    * columns drop their stats when any NaN is present — NaN breaks
    * interval reasoning, so those dirs simply never prune. */
  private[graft] def stageWithMeta(table: String, df: DataFrame,
      dataChange: Boolean): String = {
    val exprs = statsExprs(df.schema)
    val observed = org.apache.spark.sql.Observation()
    val name = stage(table, df.observe(observed, exprs.head, exprs.tail: _*))
    val row =
      try scala.concurrent.Await.result(observed.future, ManifestParquet.StatsWait)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            s"commit of $table: the staging write's statistics did not arrive within " +
              s"${ManifestParquet.StatsWait}; no manifest was published (staged dir $name " +
              "is an orphan)", e)
      }
    renderEntry(name, metaOf(row, df.schema, dataChange))
  }

  /** The stats aggregates over `schema`: the row count, then per
    * stat-eligible column its min and max, plus a NaN flag for
    * float/double columns. [[metaOf]] reads a row of them back. */
  private def statsExprs(schema: StructType): Seq[Column] = {
    import org.apache.spark.sql.functions.{col, count, isnan, lit, max, min}
    count(lit(1)) +: schema.fields.toSeq.filter(f => statsEligible(f.dataType)).flatMap { f =>
      val c = col(f.name)
      Seq(min(c), max(c)) ++ (if (isFloaty(f.dataType)) Seq(max(isnan(c))) else Nil)
    }
  }

  private def isFloaty(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DoubleType => true
    case _ => false
  }

  /** One bounded stats pass over a staged dir's files: [[statsExprs]]
    * as a query of their own (clustered rewrites, which stage several
    * dirs in one write). */
  private[graft] def metaFor(staged: DataFrame, schema: StructType,
      dataChange: Boolean): EntryMeta = {
    val exprs = statsExprs(schema)
    metaOf(staged.agg(exprs.head, exprs.tail: _*).head(), schema, dataChange)
  }

  /** The entry metadata of one row of [[statsExprs]] over `schema`. */
  private def metaOf(row: org.apache.spark.sql.Row, schema: StructType,
      dataChange: Boolean): EntryMeta = {
    val rows = row.getLong(0)
    var i = 1
    val stats = schema.fields.toSeq.filter(f => statsEligible(f.dataType)).flatMap { f =>
      val fl = isFloaty(f.dataType)
      val (mnAt, mxAt) = (i, i + 1)
      val nanAt = if (fl) Some(i + 2) else None
      i += (if (fl) 3 else 2)
      val hasNan = nanAt.exists(j => !row.isNullAt(j) && row.getBoolean(j))
      if (hasNan) None // NaN breaks interval reasoning: record NOTHING
      else {
        val mn = if (row.isNullAt(mnAt)) None
          else statCanonical(f.dataType, row.get(mnAt))
        val mx = if (row.isNullAt(mxAt)) None
          else statCanonical(f.dataType, row.get(mxAt))
        // min/max travel together; ColStats(None, None) MEANS "every
        // row is null here" (prunable under any bound), so it is only
        // written when the nulls are real, never on a render failure
        if (mn.isDefined && mx.isDefined) Some(f.name -> ColStats(mn, mx))
        else if (row.isNullAt(mnAt) && row.isNullAt(mxAt))
          Some(f.name -> ColStats(None, None))
        else None
      }
    }.toMap
    EntryMeta(rows, dataChange, stats)
  }

  /** The arbitration point: publish a COMPLETE manifest for the next
    * version. The content is first written (and closed) at a hidden
    * tmp path, then moved to the final name with a NO-OVERWRITE
    * rename — so a crash mid-write leaves only an orphan `_tmp` file
    * (vacuum's age-gated cleanup), never a torn manifest that
    * `currentVersion` would select and brick every subsequent read;
    * and a racer that already published `next` fails the rename
    * loudly, its staged data orphaned, committed state untouched.
    * (On HDFS semantics the non-overwrite rename is the atomic
    * put-if-absent; on LocalFileSystem rename maps to POSIX rename,
    * which OVERWRITES an existing destination — so two racers can
    * both pass the exists check and both rename "successfully". The
    * post-rename read-back below catches the writer whose bytes were
    * replaced and fails it loudly; the residual window — the winner's
    * verify completing before the loser's overwrite lands — is a
    * narrow check-then-act gap that only an atomic put-if-absent,
    * a real log format's CAS, closes.)
    *
    * `onto` records the version this commit was BUILT ON — the
    * ancestry pointer [[changesBetween]] walks. */
  private def commitManifest(table: String, next: Long, schema: StructType,
      dirs: Seq[String], onto: Long): Long = {
    fs.mkdirs(logDir(table))
    val tmp = new Path(logDir(table),
      s"_${java.util.UUID.randomUUID().toString.take(8)}_$next.manifest.tmp")
    val bytes = (schema.json +: s"#onto:$onto" +: dirs).mkString("\n")
      .getBytes("UTF-8")
    val out = fs.create(tmp, false)
    try out.write(bytes)
    finally out.close()
    val p = manifestPath(table, next)
    val won =
      try !fs.exists(p) && fs.rename(tmp, p)
      catch { case _: java.io.IOException => false }
    if (!won) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"commit race on $table v=$next: another writer committed after " +
          s"the base version this writer read")
    }
    // LocalFileSystem rename overwrites, so a racer that also passed the
    // exists check may have replaced our manifest between our rename and
    // now — read back and refuse to report a success we can't prove
    val in = fs.open(p)
    val published =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    if (!java.util.Arrays.equals(published, bytes))
      throw new IllegalStateException(
        s"commit race on $table v=$next: a concurrent writer's manifest " +
          s"replaced this writer's published bytes (overwriting-rename " +
          s"filesystem); committed state is the racer's, this commit lost")
    next
  }

  override def tryCommit(table: String, df: DataFrame, expectedBase: Long): Long = {
    val entry = stageWithMeta(table, df, dataChange = true)
    commitManifest(table, expectedBase + 1, df.schema, Seq(entry),
      onto = expectedBase)
  }

  /** The O(batch) append: stage the delta's files, then commit a
    * manifest = `ontoVersion`'s dirs + the one new dir. Bytes written
    * ∝ delta; history's files untouched. Strict by default — a
    * typo'd column must fail, not silently widen the table; opt into
    * widening with [[tryAppendEvolve]]. */
  override def tryAppend(table: String, delta: DataFrame, ontoVersion: Long,
      expectedBase: Long): Long =
    appendImpl(table, delta, ontoVersion, expectedBase, evolve = false)

  /** ADDITIVE SCHEMA EVOLUTION: like [[tryAppend]], but a delta that
    * carries NEW columns widens the table schema in the same commit
    * (the new fields are appended nullable; every pre-evolution dir
    * reads them as NULL through the manifest's name-based column
    * resolution — no file is rewritten, the O(batch) story holds).
    * Deliberately additive-only: a type change on a shared column or
    * a delta MISSING table columns refuses loudly — renames and
    * narrowing are migrations, not appends. Statistics stay
    * conservative across the boundary: pre-evolution dirs carry no
    * stats for the new column, so they are never pruned on it and
    * [[statsUpperBound]] reports unknown rather than guessing. */
  def tryAppendEvolve(table: String, delta: DataFrame, ontoVersion: Long,
      expectedBase: Long): Long =
    appendImpl(table, delta, ontoVersion, expectedBase, evolve = true)

  private def appendImpl(table: String, delta: DataFrame, ontoVersion: Long,
      expectedBase: Long, evolve: Boolean): Long = {
    if (ontoVersion <= 0) tryCommit(table, delta, expectedBase)
    else {
      val (schema, baseDirs) = readManifest(table, ontoVersion)
      // name+type checks, nullability-insensitive (catalogString drops
      // containsNull/nullable, which rewrites legitimately flip)
      def typesOf(s: StructType) =
        s.fields.map(f => f.name -> f.dataType.catalogString).toMap
      val (tableCols, deltaCols) = (typesOf(schema), typesOf(delta.schema))
      val clash = tableCols.keySet.intersect(deltaCols.keySet)
        .filter(c => tableCols(c) != deltaCols(c))
      require(clash.isEmpty,
        s"append to $table: column types changed for ${clash.toSeq.sorted.mkString(", ")} " +
          "— a type change is never an append")
      val missing = (tableCols.keySet -- deltaCols.keySet).toSeq.sorted
      val added = (deltaCols.keySet -- tableCols.keySet).toSeq.sorted
      if (!evolve) require(missing.isEmpty && added.isEmpty,
        s"append to $table: delta schema ${delta.schema.simpleString} does not " +
          s"match table schema ${schema.simpleString}")
      else require(missing.isEmpty,
        s"append to $table: delta lacks table columns ${missing.mkString(", ")} " +
          "— schema evolution is additive-only")
      val widened =
        if (added.isEmpty) schema
        else StructType(schema.fields ++
          delta.schema.fields.filter(f => added.contains(f.name))
            .map(_.copy(nullable = true)))
      val entry = stageWithMeta(table, delta, dataChange = true)
      commitManifest(table, expectedBase + 1, widened, baseDirs :+ entry,
        onto = ontoVersion)
    }
  }

  /** CDC from manifest structure alone: walk `toVersion`'s ANCESTRY
    * (the `#onto:` parent pointers) back to `fromVersion`, then
    * classify each chain step by shape. An append or delete commit
    * extends its parent's manifest (line-prefix): its extra data dirs
    * are the appended rows (later in-range tombstones applied,
    * exactly as a read would) and its extra tombstones are the
    * deleted keys. A commit that REPLACES its parent's lines is legal
    * only when every entry is marked dataChange=false ([[compact]]) —
    * same logical content, nothing to emit; any other rewrite
    * (overwrite, merge-update) makes the range non-incremental and
    * throws rather than return a silently wrong delta.
    *
    * Walking the ancestry — not every raw version — is what keeps a
    * crashed run's ORPHAN versions invisible here exactly as manifest
    * pins keep them invisible to batch readers: the next healthy
    * commit's `onto` points at the pinned state it extended, so the
    * orphan sits off-chain and is never visited (a prefix walk over
    * raw versions would first ingest the phantom rows and then wedge
    * on the healthy commit). `fromVersion` must itself be an ancestor
    * of `toVersion` (manifest-pinned versions always are). Read the
    * range before it ages out: [[vacuum]] may reclaim in-range dirs
    * once no RETAINED manifest references them. */
  def changesBetween(table: String, fromVersion: Long,
      toVersion: Long): ChangeSet = {
    val cur = currentVersion(table)
    require(toVersion >= 1 && toVersion <= cur,
      s"table $table has versions 1..$cur, cannot diff to $toVersion")
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"invalid change range ($fromVersion, $toVersion] on $table")
    val schema = readManifest(table, toVersion)._1
    // ancestry chain to → … → from (exclusive of from)
    var chain = List.empty[Long]
    var cursor = toVersion
    while (cursor > fromVersion) {
      chain ::= cursor
      val parent = readManifestFull(table, cursor)._2
      require(parent < cursor,
        s"corrupt manifest ancestry on $table: $cursor points at $parent")
      if (parent < fromVersion) throw new IllegalStateException(
        s"table $table version $fromVersion is not an ancestor of $toVersion " +
          "(it was superseded or rewritten) — the range is not incrementally " +
          "readable; full-refresh instead")
      cursor = parent
    }
    val changed = Vector.newBuilder[Entry]
    var prev: Seq[String] =
      if (fromVersion == 0) Seq.empty else readManifest(table, fromVersion)._2
    for (v <- chain) {
      val lines = readManifest(table, v)._2
      if (lines.take(prev.size) == prev)
        changed ++= lines.drop(prev.size).map(parseEntry)
      else {
        val rewriteNoChange = lines.nonEmpty && lines.map(parseEntry).forall {
          case DataEntry(_, Some(m)) => !m.dataChange
          case _ => false
        }
        if (!rewriteNoChange) throw new IllegalStateException(
          s"table $table version $v rewrote history (overwrite or merge-update) " +
            "— the range is not incrementally readable; full-refresh instead")
      }
      prev = lines
    }
    val entries = changed.result()
    val appended = foldEntries(table, schema, entries)
    val deleted = entries.collect { case t: TombstoneEntry => t }
      .groupBy(_.keyCol).map { case (k, ts) =>
        val keySchema = StructType(Seq(schema(k).copy(nullable = true)))
        k -> ts.map(t => spark.read.schema(keySchema)
            .parquet(dirPath(table, t.dir)))
          .reduce(_ unionByName _).dropDuplicates(k)
      }
    ChangeSet(appended, deleted)
  }

  /** The O(keys) erasure: stage the distinct key set as its own dir
    * and commit a manifest = `ontoVersion`'s entries + one tombstone
    * line. Bytes written ∝ keys — erasing k documents from a year of
    * history never rewrites the year ([[compact]] materializes the
    * subtraction later, on maintenance cadence, not on the erasure's
    * critical path). */
  override def tryDeleteRows(table: String, keys: DataFrame,
      ontoVersion: Long, expectedBase: Long): Long = {
    val keyCol = TableFormat.deleteKeyCol(keys)
    require(ontoVersion > 0, s"table $table does not exist under $root")
    val (schema, baseLines) = readManifest(table, ontoVersion)
    require(schema.fieldNames.contains(keyCol),
      s"delete from $table: key column $keyCol is not in the table " +
        s"schema ${schema.fieldNames.mkString(", ")}")
    require(
      keys.schema.head.dataType.catalogString == schema(keyCol).dataType.catalogString,
      s"delete from $table: key column $keyCol is " +
        s"${keys.schema.head.dataType.catalogString} but the table's is " +
        s"${schema(keyCol).dataType.catalogString}")
    val name = stage(table, keys.dropDuplicates(keyCol))
    commitManifest(table, expectedBase + 1, schema,
      baseLines :+ s"!$keyCol:$name", onto = ontoVersion)
  }

  /** Small-file maintenance (the flip side of O(batch) appends: a
    * year of daily commits is 365 data dirs): rewrite the current
    * content as ONE staged dir and commit a one-dir manifest.
    * Concurrent pinned readers are untouched — their manifests still
    * reference the old dirs. Also the tombstone materializer: the
    * rewrite applies every deletion vector, so the compacted manifest
    * carries no tombstone entries and read plans are one scan again. */
  def compact(table: String): Long = {
    val base = currentVersion(table)
    require(base > 0, s"table $table does not exist under $root")
    val (schema, _) = readManifest(table, base)
    // dataChange=false: same logical content in fewer files — marked
    // so incremental readers ([[changesBetween]]) see through it
    val entry = stageWithMeta(table, readVersion(table, base), dataChange = false)
    commitManifest(table, base + 1, schema, Seq(entry), onto = base)
  }

  /** CLUSTERED compaction — the OPTIMIZE/ZORDER maintenance shape:
    * rewrite the current content as up to `buckets` RANGE-CLUSTERED
    * data dirs, one manifest entry each with correspondingly TIGHT
    * stats, so [[readVersionRange]] prunes INSIDE compacted history
    * (plain [[compact]] folds everything into one dir, whose stats
    * span the whole domain — great for read-plan hygiene, useless for
    * skipping). Daily-append dirs often each span the full key domain
    * (every day touches every key range) and never prune; after a
    * clustered compact, a point read touches ~1/buckets of the data.
    * For multi-dimensional locality pass a single interleaved-bits
    * key column (the `q_zorder` expression) — range-clustering on it
    * IS Z-ordering. dataChange=false: invisible to incremental
    * readers, like [[compact]]. One write job (the bucket ordinal is
    * a write-time partition column that never reaches the files) +
    * one bounded stats job per bucket. */
  def compactClustered(table: String, clusterBy: Seq[String],
      buckets: Int): Long = {
    import org.apache.spark.sql.functions.col
    requireColumns(table, clusterBy)
    clusteredRewrite(table, buckets, df => (df, clusterBy.map(col)))
  }

  /** Z-ORDERED compaction: cluster on the Morton bit-interleave of
    * two numeric columns ([[graft.io.ZOrder.mortonCode]] — one
    * broadcast bounds agg + pure per-row bit math), so point/range
    * reads on EITHER column prune: every bucket covers a small
    * rectangle in both dimensions, where single-column clustering
    * leaves reads on the second column scanning every bucket. The
    * Delta/Iceberg `OPTIMIZE ZORDER BY`, as a manifest commit. */
  def compactZOrdered(table: String, a: String, b: String,
      buckets: Int): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, max, min}
    requireColumns(table, Seq(a, b))
    clusteredRewrite(table, buckets, { df =>
      val bounds = df.agg(
        min(col(a)).as("__amin"), max(col(a)).as("__amax"),
        min(col(b)).as("__bmin"), max(col(b)).as("__bmax"))
      (df.crossJoin(broadcast(bounds)),
        Seq(graft.io.ZOrder.mortonCode(
          col(a), col("__amin"), col("__amax"),
          col(b), col("__bmin"), col("__bmax"))))
    })
  }

  private def requireColumns(table: String, cols: Seq[String]): Unit = {
    val (schema, _) = readManifest(table, currentVersion(table))
    val absent = cols.filterNot(schema.fieldNames.contains)
    require(absent.isEmpty,
      s"cluster columns ${absent.mkString(", ")} are not in $table's " +
        s"schema ${schema.fieldNames.mkString(", ")}")
  }

  /** The shared clustered-rewrite core: `prepare` may attach helper
    * columns (e.g. broadcast bounds) and returns the cluster-key
    * expressions; rows range-partition into ≤`buckets` contiguous key
    * ranges and sort within each (tight parquet row groups inside
    * tight manifest stats), the bucket ordinal rides as a write-time
    * partition column that never reaches the files, and only the
    * table's own columns land on disk. */
  private def clusteredRewrite(table: String, buckets: Int,
      prepare: DataFrame => (DataFrame, Seq[Column])): Long = {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val base = currentVersion(table)
    require(base > 0, s"table $table does not exist under $root")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val (schema, _) = readManifest(table, base)
    val (prepared, keyCols) = prepare(readVersion(table, base))
    val name = s"d-${java.util.UUID.randomUUID().toString.take(13)}"
    prepared
      .repartitionByRange(buckets, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .withColumn("_graft_bucket", spark_partition_id())
      .select(schema.fieldNames.toSeq.map(col) :+ col("_graft_bucket"): _*)
      .write.mode(SaveMode.ErrorIfExists)
      .partitionBy("_graft_bucket")
      .parquet(dirPath(table, name))
    val subDirs = fs.listStatus(new Path(tableDir(table), name)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_graft_bucket="))
      .map(st => s"$name/${st.getPath.getName}")
      .sortBy(_.split('=').last.toInt)
    val entries = subDirs.map { sub =>
      val staged = spark.read.schema(schema).parquet(dirPath(table, sub))
      renderEntry(sub, metaFor(staged, schema, dataChange = false))
    }
    // a fully-empty table writes no bucket subdirs: fall back to one
    // explicit empty entry so the commit keeps CDC-visible shape
    if (entries.nonEmpty)
      commitManifest(table, base + 1, schema, entries, onto = base)
    else commitManifest(table, base + 1, schema, Seq(
      stageWithMeta(table, readVersion(table, base).limit(0),
        dataChange = false)), onto = base)
  }

  /** Physical reclamation, the OTHER half of erasure:
    * [[tryDeleteRows]] makes forgotten rows unreadable through every
    * retained version, vacuum makes their BYTES leave the disk once
    * the versions that carried them age out of retention. Drop
    * manifests below `retainFrom` and physically delete every dir
    * (data or tombstone key set) referenced ONLY by them, plus
    * unreferenced orphans (crashed commits, race losers) older than
    * `olderThanMs` — the in-flight-writer guard: a younger dir may be
    * a commit's staged-but-not-yet-published data (the Delta/Iceberg
    * retention-threshold shape). Run with the default 0 only when no
    * writer is in flight. After the pre-delete manifests age out and
    * compact() has materialized the subtraction, no retained manifest
    * references the forgotten rows' files, and vacuum removes the
    * bytes (CorpusEtlSpec's erasure receipt). */
  def vacuum(table: String, retainFrom: Long,
      olderThanMs: Long = 0L): VacuumStats = {
    val cur = currentVersion(table)
    require(cur > 0, s"table $table does not exist under $root")
    require(retainFrom >= 1 && retainFrom <= cur,
      s"retainFrom $retainFrom outside committed versions 1..$cur of $table")
    val versions = fs.listStatus(logDir(table)).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong)
    val (drop, keep) = versions.partition(_ < retainFrom)
    // a clustered-compaction entry names a SUBDIR (d-x/_graft_bucket=N);
    // its top-level dir is what vacuum must treat as referenced
    val referenced: Set[String] = keep.flatMap(v =>
      readManifest(table, v)._2.map(l =>
        parseEntry(l).dir.takeWhile(_ != '/'))).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    var dirs = 0L; var bytes = 0L
    for (st <- fs.listStatus(tableDir(table)).toSeq
         if st.getPath.getName != "_log"
         if !referenced.contains(st.getPath.getName)
         if st.getModificationTime <= cutoff) {
      bytes += fs.getContentSummary(st.getPath).getLength
      dirs += 1
      fs.delete(st.getPath, true)
    }
    drop.foreach(v => fs.delete(manifestPath(table, v), false))
    // a crashed commit's staged-but-unpublished manifest (tmp file in
    // _log) is an orphan like its staged data dir — same age gate
    for (st <- fs.listStatus(logDir(table)).toSeq
         if st.getPath.getName.endsWith(".manifest.tmp")
         if st.getModificationTime <= cutoff) {
      bytes += st.getLen
      fs.delete(st.getPath, false)
    }
    VacuumStats(dirs, bytes, drop.size.toLong)
  }
}

object ManifestParquet {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.util.DateTimeUtils
  import org.apache.spark.unsafe.types.UTF8String
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** How long a commit waits for its staging write's observed
    * statistics, which the listener bus delivers after the write. */
  private[etl] val StatsWait = scala.concurrent.duration.Duration(2, "min")

  /** One manifest line, parsed. Tombstones are `!<keyCol>:<dir>`;
    * anything else is a data dir — optionally followed by one space
    * and a single-line JSON meta blob (`d-xxx {"rows":N,...}`), the
    * commit statistics that power data skipping. Pre-stats manifests
    * (bare dir lines) parse unchanged as meta-less entries. */
  sealed trait Entry { def dir: String }

  /** Per-column min/max in the type's CANONICAL STRING form (integers,
    * epoch-days, epoch-micros and 0/1 booleans as decimal strings;
    * floats via toString; decimals plain; strings raw). `(None, None)`
    * means the dir's rows are ALL NULL in this column — distinct from
    * the column being absent from the map, which means "unknown"
    * (NaN present, or a stats-less writer). */
  final case class ColStats(min: Option[String], max: Option[String])
  final case class EntryMeta(rows: Long, dataChange: Boolean,
      stats: Map[String, ColStats])
  final case class DataEntry(dir: String, meta: Option[EntryMeta]) extends Entry
  final case class TombstoneEntry(keyCol: String, dir: String) extends Entry

  def parseEntry(line: String): Entry =
    if (line.startsWith("!")) {
      val sep = line.indexOf(':')
      require(sep > 1, s"malformed tombstone manifest entry: $line")
      TombstoneEntry(line.substring(1, sep), line.substring(sep + 1))
    } else {
      val sp = line.indexOf(' ')
      if (sp < 0) DataEntry(line, None)
      else DataEntry(line.substring(0, sp),
        Some(parseMeta(line.substring(sp + 1))))
    }

  private[etl] def renderEntry(dir: String, meta: EntryMeta): String = {
    def statsJson(s: ColStats): JValue = JObject(List(
      "min" -> s.min.map(JString(_): JValue).getOrElse(JNull),
      "max" -> s.max.map(JString(_): JValue).getOrElse(JNull)))
    val fields = List("rows" -> (JInt(meta.rows): JValue)) ++
      (if (meta.dataChange) Nil
       else List("dataChange" -> (JBool(false): JValue))) ++
      (if (meta.stats.isEmpty) Nil
       else List("stats" -> (JObject(
         meta.stats.toList.sortBy(_._1).map { case (c, s) => c -> statsJson(s) }): JValue)))
    // compact rendering is single-line by construction (JSON escapes
    // any newline inside string stats), so the manifest stays
    // line-oriented
    dir + " " + JsonMethods.compact(JsonMethods.render(JObject(fields)))
  }

  private[etl] def parseMeta(json: String): EntryMeta = {
    def asLong(v: JValue): Long = v match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case other => sys.error(s"malformed manifest meta number: $other")
    }
    def asStatString(v: JValue): Option[String] = v match {
      case JString(s) => Some(s)
      case JNull | JNothing => None
      case other => sys.error(s"malformed manifest stat value: $other")
    }
    val o = JsonMethods.parse(json) match {
      case JObject(fields) => fields.toMap
      case other => sys.error(s"malformed manifest meta: $other")
    }
    val stats = o.get("stats") match {
      case Some(JObject(cols)) => cols.map { case (c, v) =>
        val m = v match {
          case JObject(f) => f.toMap
          case other => sys.error(s"malformed manifest column stats: $other")
        }
        c -> ColStats(m.get("min").flatMap(asStatString),
          m.get("max").flatMap(asStatString))
      }.toMap
      case _ => Map.empty[String, ColStats]
    }
    EntryMeta(
      rows = asLong(o.getOrElse("rows",
        sys.error(s"manifest meta missing rows: $json"))),
      dataChange = o.get("dataChange") match {
        case Some(JBool(b)) => b
        case _ => true
      },
      stats = stats)
  }

  /** Types whose min/max support exact interval reasoning. Binary,
    * arrays, structs and maps carry no stats (and are never pruned). */
  private[etl] def statsEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType |
         FloatType | DoubleType | StringType => true
    case _: DecimalType => true
    case _ => false
  }

  /** A runtime value (from an agg collect OR a caller's predicate
    * bound) in the column type's canonical string form; None when the
    * value's runtime type doesn't convert — pruning then degrades to
    * keep-everything, never to a wrong prune. */
  private[etl] def statCanonical(dt: DataType, v: Any): Option[String] = {
    def longOf(x: Any): Option[Long] = x match {
      case n: Byte => Some(n.toLong)
      case n: Short => Some(n.toLong)
      case n: Int => Some(n.toLong)
      case n: Long => Some(n)
      case _ => None
    }
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        longOf(v).map(_.toString)
      case BooleanType => v match {
        case b: Boolean => Some(if (b) "1" else "0")
        case _ => None
      }
      case DateType => v match {
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
        case d: java.time.LocalDate => Some(d.toEpochDay.toString)
        case _ => None
      }
      case TimestampType => v match {
        case t: java.sql.Timestamp =>
          Some(DateTimeUtils.fromJavaTimestamp(t).toString)
        case t: java.time.Instant =>
          Some(DateTimeUtils.instantToMicros(t).toString)
        case _ => None
      }
      case TimestampNTZType => v match {
        case t: java.time.LocalDateTime =>
          Some(DateTimeUtils.localDateTimeToMicros(t).toString)
        case _ => None
      }
      case FloatType => v match {
        case f: Float => Some(f.toDouble.toString)
        case d: Double => Some(d.toString)
        case _ => None
      }
      case DoubleType => v match {
        case d: Double => Some(d.toString)
        case f: Float => Some(f.toDouble.toString)
        case _ => None
      }
      case _: DecimalType => v match {
        case b: java.math.BigDecimal => Some(b.toPlainString)
        case b: scala.math.BigDecimal => Some(b.underlying.toPlainString)
        case _ => None
      }
      case StringType => v match {
        case s: String => Some(s)
        case s: UTF8String => Some(s.toString)
        case _ => None
      }
      case _ => None
    }
  }

  /** Total order over two canonical stat strings of the same column
    * type. Strings compare as Spark compares them (UTF8String binary
    * order, not UTF-16 code units); floats compare with `==` first so
    * -0.0 ties 0.0 exactly as SQL equality does. */
  private[etl] def compareStats(dt: DataType, a: String, b: String): Int =
    dt match {
      case StringType =>
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
      case FloatType | DoubleType =>
        val (x, y) = (a.toDouble, b.toDouble)
        if (x == y) 0 else java.lang.Double.compare(x, y)
      case _: DecimalType => BigDecimal(a).compare(BigDecimal(b))
      case _ => java.lang.Long.compare(a.toLong, b.toLong)
    }

  /** A canonical stat string back as the external runtime value of
    * the column's type (what [[TableFormat.statsUpperBound]] hands
    * its caller). */
  private[etl] def statValue(dt: DataType, s: String): Any = dt match {
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case BooleanType => s == "1"
    case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong))
    case TimestampType => DateTimeUtils.toJavaTimestamp(s.toLong)
    case TimestampNTZType => DateTimeUtils.microsToLocalDateTime(s.toLong)
    case FloatType => s.toFloat
    case DoubleType => s.toDouble
    case _: DecimalType => new java.math.BigDecimal(s)
    case StringType => s
    case other => sys.error(s"no stat value decoding for $other")
  }
}
