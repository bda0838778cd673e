package graft.etl

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Music.MusicDb

/** The reference's trigger graph as explicit batch stages (SURVEY.md
  * §2.10 X3-X5): triggers have no Spark analog, so per-row trigger
  * timing collapses to set-based stage ordering — observably identical
  * except in pathological same-batch cases (documented, §7.4 risk 1).
  *
  * Cascade chain on ranking deletes (reference
  * `db/sql/create_schema_behavior.sql:56-93` +
  * `create_schema_structure.sql:43-50` FK CASCADE):
  *
  *   delete rankings → songs whose isrc lost its last ranking are
  *   deleted (X4) → their bridge rows cascade (FK) → artists who lost
  *   their last bridge row are deleted (X3).
  *
  * Faithful scoping detail: the triggers only examine keys TOUCHED by
  * a delete — a song that never had rankings is NOT garbage-collected
  * by the reference, so the GC here is driven off the deleted-key set,
  * not a global orphan sweep.
  */
object Maintenance {

  /** X5 retention (behavior.sql:74-80): after an insert with date D,
    * delete rankings with `ranking_date <= D - INTERVAL '1 year'`,
    * then run the delete-cascade GC. At scale the fact table is
    * partitioned by ranking_date, so this is a partition drop, not a
    * rewrite. The kept rankings are the complementary filter, which
    * is what [[deleteRankings]]' `exceptAll` leaves when the delete
    * set is a filter of the table itself.
    *
    * @return the retained state, or None when nothing is aged: such a
    *   day deletes nothing, so the cascade does not run */
  def retention(db: MusicDb, newDate: Date): Option[MusicDb] = {
    val aged = coalesce(col("ranking_date") <= add_months(lit(newDate), -12), lit(false))
    val deleted = db.ranking.where(aged)
    if (deleted.isEmpty) None
    else Some(cascade(db, deleted, db.ranking.where(!aged)))
  }

  /** Apply a ranking delete-set plus the full trigger cascade. */
  def deleteRankings(db: MusicDb, deleted: DataFrame): MusicDb =
    cascade(db, deleted, db.ranking.exceptAll(deleted))

  /** The trigger cascade of a ranking delete, given the delete set and
    * the rankings it leaves. Four key lists are collected to the
    * driver: the deleted and the still-ranked songs, then the artists
    * the song deletes touched and the artists still mapped. The gone
    * keys are their set differences, and each returned table is its
    * input filtered by a gone-key list. Over the daily load's held
    * tables ([[Load.loadBatch]]) every collect reads a `LocalRelation`
    * and every filter folds into one at plan time, so the cascade runs
    * no Spark job. The lists are as long as the tables' key sets,
    * which X5 retention bounds (see [[graft.DailyEtl.run]]). */
  private def cascade(db: MusicDb, deleted: DataFrame, ranking: DataFrame): MusicDb = {
    // X4: touched songs with no remaining ranking rows
    val songsGone = keys(deleted, "isrc") -- keys(ranking, "isrc")
    val song = without(db.song, songsGone, "isrc")

    // FK ON DELETE CASCADE: bridge rows of deleted songs
    val touched = keys(db.artistSongMap.where(col("isrc").isin(songsGone.toSeq: _*)), "artist_id")
    val artistSongMap = without(db.artistSongMap, songsGone, "isrc")

    // X3: touched artists with no remaining bridge rows
    val artistsGone = touched -- keys(artistSongMap, "artist_id")
    val artist = without(db.artist, artistsGone, "artist_id")

    MusicDb(artist, song, artistSongMap, ranking)
  }

  /** The distinct non-NULL values of `df`'s `key`, on the driver. A
    * NULL key matches no row of the cascade (SQL equality), so
    * leaving it out changes no result. */
  private def keys(df: DataFrame, key: String): Set[Any] =
    df.select(key).collect().iterator.map(_.get(0)).filter(_ != null).toSet

  /** `table`'s rows whose `key` is not in `gone`. A row with a NULL
    * key stays, as a `left_anti` join against the gone keys keeps it. */
  private def without(table: DataFrame, gone: Set[Any], key: String): DataFrame =
    table.where(col(key).isNull || !col(key).isin(gone.toSeq: _*))

  /** Constraint audit (SURVEY.md §1.4): the DDL's PK/UNIQUE/CHECK
    * rules as a validation report — violation counts per rule, for
    * data-quality gating at load time. Empty result = clean. */
  def constraintViolations(db: MusicDb, today: Date): DataFrame = {
    val spark = db.ranking.sparkSession
    import spark.implicits._
    def dupCount(df: DataFrame, keys: Seq[String]): Long =
      df.groupBy(keys.map(col): _*).count().where(col("count") > 1).count()
    Seq(
      ("artist_pk", dupCount(db.artist, Seq("artist_id"))),
      ("song_pk", dupCount(db.song, Seq("isrc"))),
      // NULL keys never conflict under SQL UNIQUE (same rule Load.upsert
      // applies), so NULL-url rows are excluded before counting — a
      // table with several legally-NULL urls is clean, not a violation
      ("song_unique_spotify_url",
        dupCount(db.song.where(col("spotify_url").isNotNull), Seq("spotify_url"))),
      ("song_unique_apple_music_url",
        dupCount(db.song.where(col("apple_music_url").isNotNull), Seq("apple_music_url"))),
      ("map_pk", dupCount(db.artistSongMap, Seq("artist_id", "isrc"))),
      ("ranking_unique_isrc_date_source",
        dupCount(db.ranking, Seq("isrc", "ranking_date", "ranking_source"))),
      ("ranking_unique_date_rank_source",
        dupCount(db.ranking, Seq("ranking_date", "rank", "ranking_source"))),
      ("ranking_rank_range",
        db.ranking.where(col("rank") < 1 || col("rank") > 10).count()),
      ("ranking_date_not_future",
        db.ranking.where(col("ranking_date") > lit(today)).count()),
      ("map_fk_artist",
        db.artistSongMap.join(db.artist, Seq("artist_id"), "left_anti").count()),
      ("map_fk_song",
        db.artistSongMap.join(db.song, Seq("isrc"), "left_anti").count()),
      ("ranking_fk_song",
        db.ranking.join(db.song, Seq("isrc"), "left_anti").count()),
      ("ranking_source_enum",
        db.ranking.where(!col("ranking_source").isin(graft.model.Music.sources: _*)).count()),
    ).toDF("constraint", "violations").where(col("violations") > 0)
  }
}
