package graft

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.etl.Load
import graft.ingest.Sources
import graft.model.Music.MusicDb
import graft.query.Views
import graft.report.Render

/** Full daily-run equivalent of the reference's `main()` wired
  * end-to-end through THIS engine: playlist HTML → track-batch JSON →
  * normalize → FK-ordered loads with RETURNING → delta view →
  * rendered Markdown. Glue-level test: every module boundary the
  * individual specs cover in isolation is crossed here for real. */
class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._

  private def playlistHtml(n: Int): String =
    (1 to n).map(i =>
      s"""<meta name="music:song" content="https://open.spotify.com/track/t$i"/>""")
      .mkString("<html><head>", "\n", "</head></html>")

  private def tracksJson(ids: Seq[String]): String = {
    val tracks = ids.zipWithIndex.map { case (id, i) =>
      s"""{"external_ids":{"isrc":"ISRC$id"},
         | "artists":[{"id":"art$id","name":"Artist $id"},{"id":"shared","name":"Common"}],
         | "duration_ms":${1000 + i},"explicit":${i % 2 == 0},
         | "external_urls":{"spotify":"https://open.spotify.com/track/$id"},
         | "name":"Song $id"}""".stripMargin
    }.mkString(",")
    s"""{"tracks":[$tracks]}"""
  }

  private def emptyDb: MusicDb = MusicDb(
    Seq.empty[(String, String)].toDF("artist_id", "artist_name"),
    Seq.empty[(String, String, Int, Boolean, String, Option[String])]
      .toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url", "apple_music_url"),
    Seq.empty[(String, String)].toDF("artist_id", "isrc"),
    Seq.empty[(String, Date, Int, String)]
      .toDF("isrc", "ranking_date", "rank", "ranking_source"))

  test("day-1 + day-2 runs: load, dedup, delta view, rendered README") {
    // --- day 1: scrape → batch lookup → normalize → load ---
    val pages = Seq(("spotify", playlistHtml(12))).toDF("page_id", "html")
    val urls = Sources.songUrlsFromPlaylistHtml(pages) // top-10 limit
    assert(urls.count() === 10)
    val ids = urls.orderBy("position")
      .select(Sources.trackIdFromUrl(col("song_url"))).as[String].collect()
    val docs1 = Sources.songDocsFromTracksJson(Seq(tracksJson(ids)).toDF("body"))
    val day1 = Date.valueOf("2026-02-01")
    // checkpoint between days, as a deployment's parquet write would —
    // chained daily loads otherwise stack plans into analyzer blowup
    val r1full = Load.loadBatch(emptyDb, docs1, day1)
    val r1 = r1full.copy(db = r1full.db.checkpointed())
    assert(r1.insertedSongs.count() === 10)
    assert(r1.insertedArtists.count() === 11) // 10 distinct + "Common"
    assert(r1.insertedRankings.count() === 10)
    assert(r1.db.artistSongMap.count() === 20)

    // --- day 2: one song drops out, positions shift, newcomer enters ---
    val day2Ids = ids.drop(1) :+ "t99" // t1 leaves, t99 enters at rank 10
    val docs2 = Sources.songDocsFromTracksJson(Seq(tracksJson(day2Ids)).toDF("body"))
    val day2 = Date.valueOf("2026-02-02")
    val r2full = Load.loadBatch(r1.db, docs2, day2)
    val r2 = r2full.copy(db = r2full.db.checkpointed())
    assert(r2.insertedSongs.count() === 1) // only the newcomer
    assert(r2.insertedRankings.count() === 10)

    // re-running day 2 is a no-op (idempotent daily cron)
    val r2again = Load.loadBatch(r2.db, docs2, day2)
    assert(r2again.insertedRankings.count() === 0)
    assert(r2again.db.ranking.count() === r2.db.ranking.count())

    // --- delta view: every survivor moved up by 1 ---
    val deltas = Views.allRankingsWithDelta(r2again.db)
      .where(col("date") === lit(day2))
      .select("rank", "song", "delta")
      .collect()
      .map(r => r.getInt(0) -> (r.getString(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))
      .toMap
    assert(deltas.size === 10)
    assert(deltas(1)._2 === Some(1)) // was rank 2 yesterday
    assert(deltas(9)._2 === Some(1))
    assert(deltas(10)._1.contains("Song t99"))
    assert(deltas(10)._2 === None) // newcomer ⇒ "new"

    // --- rendered README ---
    val md = Render.renderForDate(r2again.db, LocalDate.of(2026, 2, 2))
    assert(md.startsWith("# Daily Top Songs"))
    assert(md.contains("February 2, 2026"))
    assert(md.contains("| new | 10 |"))
    assert(md.contains("""Artist t2, Common \- Song t2"""))
    assert(md.contains("+1"))
  }

  test("daily pipeline persisted through the default table format") {
    val fmt = graft.etl.TableFormat.DefaultBackend(spark,
      java.nio.file.Files.createTempDirectory("e2efmt").toString)
    val tables = Seq("artist", "song", "artist_song_map", "ranking")
    def persist(db: MusicDb): Unit =
      tables.zip(Seq(db.artist, db.song, db.artistSongMap, db.ranking))
        .foreach { case (n, df) => fmt.overwrite(n, df) }
    def load(): MusicDb = MusicDb(
      fmt.read("artist"), fmt.read("song"),
      fmt.read("artist_song_map"), fmt.read("ranking"))

    // day 1 loads into an empty store; the commit IS the between-days
    // checkpoint (no in-memory lineage survives the day boundary)
    val ids = (1 to 10).map(i => s"t$i")
    val docs1 = Sources.songDocsFromTracksJson(Seq(tracksJson(ids)).toDF("body"))
    val r1 = Load.loadBatch(emptyDb, docs1, Date.valueOf("2026-02-01"))
    persist(r1.db)
    assert(tables.forall(fmt.currentVersion(_) == 1L))

    // day 2 reads ONLY what the format committed
    val docs2 = Sources.songDocsFromTracksJson(
      Seq(tracksJson(ids.drop(1) :+ "t99")).toDF("body"))
    val r2 = Load.loadBatch(load(), docs2, Date.valueOf("2026-02-02"))
    assert(r2.insertedSongs.count() === 1)
    assert(r2.insertedRankings.count() === 10)
    persist(r2.db)
    assert(tables.forall(fmt.currentVersion(_) == 2L))

    // the delta view over the REHYDRATED store matches the in-memory path
    val deltas = Views.allRankingsWithDelta(load())
      .where(col("date") === lit(Date.valueOf("2026-02-02")))
      .select("rank", "delta").collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(deltas(1) === Some(1) && deltas(10) === None)
    // day-1 state stays queryable (snapshot isolation across versions)
    assert(fmt.readVersion("ranking", 1).count() === 10)
    assert(fmt.read("ranking").count() === 20)
  }
}
