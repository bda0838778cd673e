package graft.etl

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.MusicCsv.keepBestRow
import graft.model.Music.MusicDb
import graft.operators.CheckpointBlocks.local
import graft.operators.Wave

/** The load layer: every `INSERT … ON CONFLICT DO NOTHING RETURNING`
  * of the reference (S9, `etl_pipeline.py:594-612,699-728,768-786,
  * 824-851`) re-expressed set-based (SURVEY.md §2.3 J7, §7.4 risks
  * 1-2).
  *
  * Semantics of `ON CONFLICT DO NOTHING` on an immutable store:
  *   1. dedup WITHIN the batch per unique constraint (first-in-order
  *      wins — Spark has no row order, so the caller supplies an
  *      explicit priority order);
  *   2. LEFT ANTI join against the existing table per unique
  *      constraint, in constraint order (a row can pass the PK check
  *      and still violate a later unique key);
  *   3. the surviving set IS the `RETURNING` result — computed before
  *      the append, then unioned in.
  *
  * Scale: each anti-join shuffles on the constraint key OR broadcasts
  * the batch side; daily batches are tiny (10 rows in the reference),
  * so Catalyst broadcasts them and the "upsert" costs one pass over
  * the existing table per constraint. With a sorted/bucketed store
  * these collapse further; with a transactional table format this
  * whole object is `MERGE WHEN NOT MATCHED`.
  *
  * One execution per stage: the reference computes each RETURNING set
  * once per statement and appends exactly those rows to its CSVs.
  * [[upsert]] and [[updateColumn]] stay lazy (query plans are built
  * from them), but [[loadBatch]] runs every stage exactly once through
  * [[graft.operators.CheckpointBlocks.local]], so the commits and CSV
  * sinks downstream read checkpoints and parquet scans instead of
  * re-running the parse, the dedup windows and the anti-join chains
  * once per consumer.
  */
object Load {

  /** One `ON CONFLICT DO NOTHING` upsert.
    *
    * @param constraints the table's unique constraints, in DDL order;
    *                    each is the column list of one constraint.
    *                    NULL keys never conflict (SQL UNIQUE), which
    *                    left_anti's null-rejecting equi-join gives for
    *                    free.
    * @param priority    within-batch tie-break (the reference's insert
    *                    order), e.g. the ingestion `position` column.
    * @return (inserted rows — the RETURNING set, new table state)
    */
  def upsert(
      existing: DataFrame,
      batch: DataFrame,
      constraints: Seq[Seq[String]],
      priority: Seq[Column]): (DataFrame, DataFrame) = {
    val cols = existing.columns.map(col).toSeq
    // dedup while the priority columns (e.g. ingestion position) are
    // still present, THEN project to the table's schema.
    // SQL UNIQUE never treats NULL keys as conflicting, so rows with
    // any NULL key column bypass the dedup window (a partitionBy on
    // them would wrongly collapse all NULL-keyed rows into one).
    val deduped = constraints.foldLeft(batch) { (b, keys) =>
      val anyNull = keys.map(col(_).isNull).reduce(_ || _)
      keepBestRow(b.where(!anyNull), keys, priority)
        .unionByName(b.where(anyNull))
    }.select(cols: _*)
    val inserted = constraints.foldLeft(deduped) { (b, keys) =>
      b.join(existing, keys, "left_anti")
    }.select(cols: _*) // USING anti-joins move key columns first — restore DDL order
    (inserted, existing.unionByName(inserted))
  }

  /** S10 `UPDATE song_tb SET apple_music_url=$1 WHERE isrc=$2
    * RETURNING *` (reference `etl_pipeline.py:663-697`), set-based:
    * one join + coalesce instead of a row-at-a-time loop. Only rows
    * whose url was NULL get updated (the reference selects candidates
    * with `apple_music_url IS NULL`, P2).
    *
    * @param updates columns (isrc, apple_music_url)
    * @return (updated rows — RETURNING set, new song table)
    */
  def updateAppleMusicUrls(song: DataFrame, updates: DataFrame): (DataFrame, DataFrame) =
    updateColumn(song, updates, "isrc", "apple_music_url")

  /** General fill-if-NULL column update (the set-based S10): rows of
    * `base` whose `valueCol` is NULL take the update's value; non-NULL
    * rows are never overwritten (the reference selects candidates with
    * `… IS NULL`, P2). Returns (RETURNING set, new state).
    *
    * UNIQUE(valueCol) safety (the reference declares the filled
    * column UNIQUE, `create_schema_structure.sql`): a fill value that
    * already exists on ANY base row, or that more than one key would
    * take, would corrupt the uniqueness the reference's UPDATE
    * enforces by raising — a distributed batch can't abort halfway,
    * so such updates are SKIPPED instead (the engine-wide
    * conflict-skip discipline `upsert` applies to inserts; documented
    * deviation: skip-and-continue where the reference would error). */
  def updateColumn(base: DataFrame, updates: DataFrame, key: String, valueCol: String): (DataFrame, DataFrame) =
    returningAndState(filled(base, updates, key, valueCol), base.columns)

  /** [[updateColumn]]'s fill join: `base` with the filled `valueCol`
    * and a `__hit` flag on the rows the fill changed. */
  private def filled(base: DataFrame, updates: DataFrame, key: String, valueCol: String): DataFrame = {
    val u = updates.select(col(key), col(valueCol).as("__new_val"))
      .where(col("__new_val").isNotNull)
      .transform(keepBestRow(_, Seq(key), Seq(col("__new_val").asc)))
      // value already present anywhere in base → skip (anti-join on
      // the value column); two keys drawing the same value → lowest
      // key wins, the other skips
      .join(base.select(col(valueCol).as("__new_val"))
        .where(col("__new_val").isNotNull), Seq("__new_val"), "left_anti")
      .transform(keepBestRow(_, Seq("__new_val"), Seq(col(key).asc)))
    base.join(u, Seq(key), "left")
      .withColumn("__hit", col(valueCol).isNull && col("__new_val").isNotNull)
      .withColumn(valueCol,
        when(col("__hit"), col("__new_val")).otherwise(col(valueCol)))
  }

  /** (RETURNING set, new state) of a [[filled]] frame. */
  private def returningAndState(applied: DataFrame, cols: Seq[String]): (DataFrame, DataFrame) = {
    val keep = cols.map(col)
    (applied.where(col("__hit")).select(keep: _*), applied.select(keep: _*))
  }

  /** Result of one daily batch load: the new state plus the four
    * insert RETURNING sets (what the reference appends to its CSVs,
    * S11) and the S10 fill RETURNING set (`updatedSongs` — songs
    * already present that gained an apple_music_url this batch; also
    * how [[graft.DailyEtl]] knows a day is NOT pure-append and must
    * commit the song table as a rewrite). `docs` is the batch as
    * loaded. `retentionFired` says the X5 cascade deleted rows, so
    * `db` is a rewrite of the loaded state, not an append to it.
    * Every frame reads [[loadBatch]]'s checkpoints. */
  final case class LoadResult(
      db: MusicDb,
      insertedArtists: DataFrame,
      insertedSongs: DataFrame,
      updatedSongs: DataFrame,
      insertedMaps: DataFrame,
      insertedRankings: DataFrame,
      docs: DataFrame,
      retentionFired: Boolean)

  /** Full daily load (reference `main()` stages 1-2,
    * `etl_pipeline.py:1003-1022`): the reference inserts dims first,
    * then bridge + fact. Each upsert here anti-joins only its own
    * table and the batch, never another upsert's result, so the four
    * run concurrently as one [[graft.operators.Wave]] with the S10 URL
    * probe; the FK order is kept where it matters, in the committed
    * state, which the manifest publishes for all four tables at once.
    * The S10 fill, the retention and its cascade follow in order.
    *
    * Each stage executes exactly once, here: `docs` at entry, every
    * upsert's RETURNING set (the new state is `existing ∪ inserted`),
    * the S10 fill (one checkpoint feeds both `updatedSongs` and the
    * new song state) and the retention cascade's key sets
    * ([[Maintenance.retention]]) are
    * [[graft.operators.CheckpointBlocks.local]] checkpoints. A batch
    * that carries no apple_music_url skips the fill, and a day with no
    * aged ranking skips the cascade. So every frame of the result is a
    * shallow plan over those checkpoints and the `db` scans, however
    * many times it is read. The checkpoints belong to the caller's
    * innermost open scope (unscoped, Spark's ContextCleaner reclaims
    * them once the result is unreachable): the result stays readable
    * until that scope closes.
    *
    * @param docs normalized song docs with (source, position) carried
    *             explicitly from ingestion (see [[Normalize]]).
    * @param today the ranking-date stamp (injected, never
    *              `current_date()` inside the plan — testability +
    *              reproducible backfills).
    */
  def loadBatch(db: MusicDb, docs: DataFrame, today: java.sql.Date): LoadResult = {
    val batch = local(docs)
    val pos = Seq(col("source").asc, col("position").asc)

    // the four upserts and the S10 probe each read only their own
    // table and the batch: one wave runs them, then the fill, the
    // retention and its cascade follow in order
    lazy val artist = upsertOnce(db.artist, Normalize.artists(batch),
      Seq(Seq("artist_id")), Seq(Normalize.artistPriority))
    // keep (source, position) through the within-batch dedup; upsert
    // projects to the table schema only after ordering by them
    val songs = batch.select(
      (db.song.columns.map(col) ++ Seq(col("source"), col("position"))).toSeq: _*)
    lazy val song = upsertOnce(
      db.song, songs,
      Seq(Seq("isrc"), Seq("spotify_url"), Seq("apple_music_url")),
      pos)
    lazy val map = upsertOnce(db.artistSongMap, Normalize.artistSongMaps(batch),
      Seq(Seq("artist_id", "isrc")), Seq(col("artist_id").asc))
    // rank is 1:1 with position within each source, so (source, rank)
    // reproduces the reference's insert order without re-carrying the
    // ingestion columns through the W2 window
    lazy val rank = upsertOnce(
      db.ranking, Normalize.rankings(batch, today),
      Seq(Seq("isrc", "ranking_date", "ranking_source"),
        Seq("ranking_date", "rank", "ranking_source")),
      Seq(col("ranking_source").asc, col("rank").asc))
    val urls = batch.select(col("isrc"), col("apple_music_url"))
      .where(col("apple_music_url").isNotNull)
    lazy val noUrls = urls.isEmpty
    // the wave's members touch these objects; initialise them here
    (Normalize, graft.io.MusicCsv): Unit
    Wave.run(batch.sparkSession)(Seq(() => artist, () => song, () => map, () => rank,
      () => noUrls))
    val ((insArtist, newArtist), (insSong, newSong0), (insMap, newMap), (insRank, newRank)) =
      (artist, song, map, rank)

    // songs already present keep their row but may gain an
    // apple_music_url they lacked (S10 enrich path); a batch that
    // carries no url fills nothing
    val (updSong, newSong) =
      if (noUrls) (newSong0.limit(0), newSong0)
      else returningAndState(
        local(filled(newSong0, urls, "isrc", "apple_music_url")
          .select((db.song.columns :+ "__hit").map(col).toSeq: _*)),
        db.song.columns)

    // AFTER INSERT retention trigger X5 fires on the fact table
    val loaded = MusicDb(newArtist, newSong, newMap, newRank)
    val retained = Maintenance.retention(loaded, today)

    LoadResult(retained.getOrElse(loaded), insArtist, insSong, updSong, insMap, insRank,
      batch, retentionFired = retained.isDefined)
  }

  /** [[upsert]] executed once: (the checkpointed RETURNING set,
    * `existing ∪` it). */
  private[etl] def upsertOnce(existing: DataFrame, batch: DataFrame,
      constraints: Seq[Seq[String]], priority: Seq[Column]): (DataFrame, DataFrame) = {
    val inserted = local(upsert(existing, batch, constraints, priority)._1)
    (inserted, existing.unionByName(inserted))
  }

  /** S11 CSV append sink, in the reference's CSV conventions
    * (`etl_pipeline.py:732-742`, SURVEY.md §3.3): every non-null value
    * double-quoted, SQL NULL an unquoted empty field (so a
    * `\copy … FORMAT csv` rebuild reads NULL, not an empty string,
    * into a UNIQUE column), ISO dates. The other bytes are the ones
    * Spark's `quoteAll` CSV writer produces: lower-case booleans,
    * values trimmed, and `\` and `"` inside a value escaped with `\`.
    *
    * Written from the driver: `df` is a RETURNING set, a subset of the
    * day's top-N batch, so it is collected and written as one new
    * `part-*.csv` file in the `path` directory — first to a hidden temp
    * file, then renamed, so a reader listing the directory never sees
    * a partial file. One Spark job (the collect), no write job and no
    * `_temporary` commit protocol. An empty set writes no file. */
  def appendCsv(df: DataFrame, path: String): Unit = {
    val unsupported = df.schema.fields.filterNot(f => csvType(f.dataType))
    require(unsupported.isEmpty,
      s"appendCsv: no CSV form for ${unsupported.map(_.toString).mkString(", ")}")
    val rows = df.collect()
    val dir = new Path(path)
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    if (rows.nonEmpty) {
      val name = s"part-00000-${java.util.UUID.randomUUID()}-c000.csv"
      val tmp = new Path(dir, s".$name.tmp")
      val out = fs.create(tmp, false)
      try out.write(rows.map(csvLine).mkString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, new Path(dir, name)))
        throw new java.io.IOException(s"appendCsv: could not rename $tmp into $path")
    }
  }

  private def csvType(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType => true
    case _ => false
  }

  /** One CSV line of a row: NULL unquoted and empty; every other value
    * as Spark's writer prints it (a date ISO `yyyy-MM-dd`), trimmed of
    * leading and trailing whitespace as Spark's writer trims, with `\`
    * escaped `\\` and `"` escaped `\"`, and quoted. */
  private def csvLine(r: Row): String =
    (0 until r.length).map { i =>
      if (r.isNullAt(i)) ""
      else "\"" + r.get(i).toString.trim.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("", ",", "\n")
}
