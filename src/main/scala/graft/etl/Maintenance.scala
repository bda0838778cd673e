package graft.etl

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Music.MusicDb
import graft.operators.CheckpointBlocks

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
    * the rankings it leaves. The two gone-key sets are executed once
    * each ([[CheckpointBlocks.local]]), so every returned table is a
    * shallow anti-join against a checkpoint. */
  private def cascade(db: MusicDb, deleted: DataFrame, ranking: DataFrame): MusicDb = {
    val deletedKeys = deleted.select("isrc").distinct()

    // X4: touched songs with no remaining ranking rows
    val songsGone = CheckpointBlocks.local(deletedKeys
      .join(ranking.select("isrc").distinct(), Seq("isrc"), "left_anti"))
    val song = without(db.song, songsGone, "isrc")

    // FK ON DELETE CASCADE: bridge rows of deleted songs
    val mapsGone = db.artistSongMap.join(songsGone, Seq("isrc"), "left_semi")
    val artistSongMap = without(db.artistSongMap, songsGone, "isrc")

    // X3: touched artists with no remaining bridge rows
    val artistsGone = CheckpointBlocks.local(mapsGone.select("artist_id").distinct()
      .join(artistSongMap.select("artist_id").distinct(), Seq("artist_id"), "left_anti"))
    val artist = without(db.artist, artistsGone, "artist_id")

    MusicDb(artist, song, artistSongMap, ranking)
  }

  /** `table`'s rows whose `key` is not in `gone`, in `table`'s column
    * order (a USING anti-join moves the key first, and a rewrite
    * commits whatever order it is given). */
  private def without(table: DataFrame, gone: DataFrame, key: String): DataFrame =
    table.join(gone, Seq(key), "left_anti").select(table.columns.map(col).toSeq: _*)

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
