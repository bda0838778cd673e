package graft

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Window}
import org.apache.spark.sql.functions._

import graft.etl.Load
import graft.model.Music.{Artist, MusicDb}

/** [[Load.loadBatch]] executes each load stage once: a counting UDF in
  * the docs' plan runs once per doc row however many of the result's
  * frames are executed, and the new table states do not carry the
  * docs' explode or dedup windows into what a commit executes. */
class LoadOnceSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  /** A store holding one song whose only ranking is past the one-year
    * horizon of 2026-02-01, so the load's retention cascade deletes
    * it, its bridge row and its artist. */
  private def agedDb: MusicDb = MusicDb(
    Seq(("A0", "Old")).toDF("artist_id", "artist_name"),
    Seq(("I0", "Gone", 90, false, "su0", Option.empty[String]))
      .toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url", "apple_music_url"),
    Seq(("A0", "I0")).toDF("artist_id", "isrc"),
    Seq(("I0", d("2025-01-01"), 1, "Spotify")).toDF("isrc", "ranking_date", "rank", "ranking_source"))

  /** Six docs as an RDD-backed frame (no optimizer-time folding of a
    * local relation), each row passing through `keep`. */
  private def docs(keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    spark.sparkContext.parallelize((1 to 6).map { i =>
      (s"I$i", s"Song $i", 100 * i, i % 2 == 0, s"su$i", Option.empty[String],
        Seq(Artist(s"A$i", s"Artist $i"), Artist("AS", "Shared")),
        if (i <= 3) "Spotify" else "Apple Music", i)
    }, 2).toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url",
      "apple_music_url", "artists", "source", "position")
      .where(keep(col("isrc")))

  private def frames(r: Load.LoadResult): Seq[(String, DataFrame)] = Seq(
    "db.artist" -> r.db.artist, "db.song" -> r.db.song,
    "db.artistSongMap" -> r.db.artistSongMap, "db.ranking" -> r.db.ranking,
    "insertedArtists" -> r.insertedArtists, "insertedSongs" -> r.insertedSongs,
    "updatedSongs" -> r.updatedSongs, "insertedMaps" -> r.insertedMaps,
    "insertedRankings" -> r.insertedRankings)

  test("loadBatch runs each doc row through the load exactly once, whatever reads the result") {
    val calls = spark.sparkContext.longAccumulator("load-once-udf")
    val counted = udf { (_: String) => calls.add(1); true }.asNondeterministic()
    val res = Load.loadBatch(agedDb, docs(counted(_)), d("2026-02-01"))
    // every table and RETURNING set executes twice, as a commit and a
    // CSV sink would read it
    val rows = frames(res).map { case (n, df) => n -> df.collect().length }.toMap
    frames(res).foreach { case (_, df) => df.collect() }
    assert(calls.value == 6, s"${calls.value} UDF calls for 6 doc rows")
    // and the results are the load's: 6 songs, 7 artists, the aged
    // song and its artist gone through the retention cascade
    assert(rows == Map("db.artist" -> 7, "db.song" -> 6, "db.artistSongMap" -> 12,
      "db.ranking" -> 6, "insertedArtists" -> 7, "insertedSongs" -> 6,
      "updatedSongs" -> 0, "insertedMaps" -> 12, "insertedRankings" -> 6), rows)
    assert(res.db.artist.where($"artist_id" === "A0").isEmpty &&
      res.db.song.where($"isrc" === "I0").isEmpty)
  }

  test("loadBatch's new table states carry no Window or Generate from the docs' plan") {
    val res = Load.loadBatch(agedDb, docs(_ => lit(true)), d("2026-02-01"))
    Seq("artist" -> res.db.artist, "song" -> res.db.song,
      "artist_song_map" -> res.db.artistSongMap, "ranking" -> res.db.ranking).foreach {
      case (n, df) =>
        val plan = df.queryExecution.optimizedPlan
        val inlined = plan.collect { case w: Window => w; case g: Generate => g }
        assert(inlined.isEmpty, s"$n re-runs the docs' explode or dedup:\n$plan")
    }
  }
}
