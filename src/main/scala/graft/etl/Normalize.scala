package graft.etl

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nested→relational normalization (SURVEY.md §2.2 P1, §2.8 F13,
  * §2.5 W2): from the in-flight song doc (one row per song, artists
  * nested as an array of structs, explicit `source` + `position`
  * columns carried from ingestion) to the four base tables.
  *
  * Determinism rule (SURVEY.md §7.4 risk 3): the reference derives
  * ranks from Python list position (`etl_pipeline.py:839-850`); Spark
  * has no row order, so position is an explicit column set at parse
  * time and rank is a window over a total order — never an implicit
  * zip-with-index.
  */
object Normalize {

  /** Which name an artist keeps when one batch carries it under
    * several: the least, and a NULL name only when no row has one. */
  val artistPriority: Column = col("artist_name").asc_nulls_last

  /** F13: explode the nested artist array; dedup across songs that
    * share an artist, keeping the [[artistPriority]] name. A hash
    * aggregate, not a window: `min` skips NULLs, which is exactly
    * that priority. */
  def artists(docs: DataFrame): DataFrame =
    docs
      .select(explode(col("artists")).as("a"))
      .select(col("a.artist_id"), col("a.artist_name"))
      .groupBy("artist_id")
      .agg(min("artist_name").as("artist_name"))

  def songs(docs: DataFrame): DataFrame =
    docs.select(
      col("isrc"), col("song_name"), col("song_duration_ms"),
      col("is_explicit"), col("spotify_url"), col("apple_music_url"))

  /** Bridge rows: (artist_id, isrc) pairs from the exploded nest. */
  def artistSongMaps(docs: DataFrame): DataFrame =
    docs
      .select(col("isrc"), explode(col("artists")).as("a"))
      .select(col("a.artist_id"), col("isrc"))
      .dropDuplicates("artist_id", "isrc")

  /** W2 positional ranking: rank = 1-based position within each
    * source half (reference `etl_pipeline.py:839-850`), stamped with
    * the injected load date (F8). */
  def rankings(docs: DataFrame, today: Date): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("position").asc)
    docs.select(
      col("isrc"),
      lit(today).as("ranking_date"),
      row_number().over(w).as("rank"),
      col("source").as("ranking_source"))
  }
}
