package graft

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.etl.{Load, Maintenance, Normalize}
import graft.model.Music
import graft.model.Music.{Artist, MusicDb}

/** J7 anti-join upsert chain, S10 join-update, W2 rank assignment,
  * idempotence (SURVEY.md §5). */
class LoadSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private val emptySong = Seq.empty[(String, String, Int, Boolean, String, Option[String])]
    .toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url", "apple_music_url")

  test("withRankingIds: dense deterministic ids in (date, source, rank) order") {
    val r = Seq(
      ("I2", d("2026-01-02"), 1, "Spotify"),
      ("I1", d("2026-01-01"), 2, "Spotify"),
      ("I3", d("2026-01-01"), 1, "Apple Music"),
      ("I4", d("2026-01-01"), 1, "Spotify"))
      .toDF("isrc", "ranking_date", "rank", "ranking_source")
    val got = Music.withRankingIds(r.repartition(3))
      .orderBy("ranking_id")
      .select("ranking_id", "isrc").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "I3"), (2, "I4"), (3, "I1"), (4, "I2")))
  }

  test("audited CSV ingest: malformed lines quarantine with raw text, good rows parse clean") {
    val dir = java.nio.file.Files.createTempDirectory("audited").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/artist.csv"),
      """artist_id,artist_name
        |"A1","Alpha"
        |"A2","Beta","EXTRA-FIELD"
        |"A3","Gamma"
        |""".stripMargin)
    val audited = graft.io.MusicCsv.readAudited(
      spark, s"$dir/artist.csv", Music.artistSchema)
    assert(audited.good.select("artist_id").as[String].collect().sorted.toSeq == Seq("A1", "A3"))
    assert(audited.good.columns.toSeq == Music.artistSchema.fieldNames.toSeq)
    val bad = audited.quarantined.select("raw_line").as[String].collect()
    assert(bad.length == 1 && bad.head.contains("EXTRA-FIELD"))
    audited.release() // idempotent cache drop
    audited.release()
  }

  test("upsert: within-batch dedup first, then anti-join per constraint in order (J7)") {
    val existing = Seq(
      ("I1", "Old", 1, false, "su1", Option.empty[String])).toDF(emptySong.columns.toSeq: _*)
    val batch = Seq(
      // dup PK within batch: lower position wins
      ("I2", "New A", 2, false, "su2", Option.empty[String], "Spotify", 1),
      ("I2", "New A dup", 2, false, "su2b", Option.empty[String], "Spotify", 2),
      // survives PK check but violates spotify_url unique vs existing
      ("I3", "Steal URL", 3, false, "su1", Option.empty[String], "Spotify", 3),
      // clean insert
      ("I4", "New B", 4, true, "su4", Some("au4"), "Spotify", 4))
      .toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url", "apple_music_url", "source", "position")
    val (inserted, state) = Load.upsert(
      existing, batch,
      Seq(Seq("isrc"), Seq("spotify_url"), Seq("apple_music_url")),
      Seq($"source".asc, $"position".asc))
    assert(inserted.select("isrc").as[String].collect().sorted.toSeq == Seq("I2", "I4"))
    assert(state.count() == 3)
    // RETURNING kept the first-in-order row for the in-batch dup
    assert(inserted.where($"isrc" === "I2").select("song_name").as[String].head() == "New A")
  }

  test("upsert: NULL unique keys never conflict (apple_music_url)") {
    val existing = Seq(("I1", "A", 1, false, "su1", Option.empty[String]))
      .toDF(emptySong.columns.toSeq: _*)
    val batch = Seq(("I2", "B", 2, false, "su2", Option.empty[String], "Spotify", 1))
      .toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url", "apple_music_url", "source", "position")
    val (inserted, _) = Load.upsert(existing, batch,
      Seq(Seq("isrc"), Seq("spotify_url"), Seq("apple_music_url")),
      Seq($"position".asc))
    assert(inserted.count() == 1)
  }

  test("upsert idempotence: re-loading the same batch is a no-op (S9)") {
    val batch = Seq(("I1", "A", 1, false, "su1", Option.empty[String], "Spotify", 1))
      .toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url", "apple_music_url", "source", "position")
    val (_, s1) = Load.upsert(emptySong, batch,
      Seq(Seq("isrc")), Seq($"position".asc))
    val (ins2, s2) = Load.upsert(s1, batch, Seq(Seq("isrc")), Seq($"position".asc))
    assert(ins2.count() == 0)
    assert(s2.count() == s1.count())
  }

  test("updateAppleMusicUrls: only NULL urls updated; RETURNING = touched rows (S10)") {
    val song = Seq(
      ("I1", "A", 1, false, "su1", Option.empty[String]),
      ("I2", "B", 2, false, "su2", Some("existing")),
      ("I3", "C", 3, false, "su3", Option.empty[String]))
      .toDF(emptySong.columns.toSeq: _*)
    val updates = Seq(("I1", "new1"), ("I2", "clobber")).toDF("isrc", "apple_music_url")
    val (returning, newSong) = Load.updateAppleMusicUrls(song, updates)
    assert(returning.select("isrc").as[String].collect().toSeq == Seq("I1"))
    val urls = newSong.orderBy("isrc").select("apple_music_url").as[Option[String]].collect()
    assert(urls.toSeq == Seq(Some("new1"), Some("existing"), None))
  }

  test("updateColumn honors UNIQUE(valueCol): pre-existing and doubly-drawn values skip (S10)") {
    val song = Seq(
      ("I1", "A", 1, false, "su1", Option.empty[String]),
      ("I2", "B", 2, false, "su2", Some("taken")),
      ("I3", "C", 3, false, "su3", Option.empty[String]),
      ("I4", "D", 4, false, "su4", Option.empty[String]))
      .toDF(emptySong.columns.toSeq: _*)
    val updates = Seq(
      ("I1", "taken"), // value already on I2 → skip (ref UPDATE would raise)
      ("I3", "dup"), ("I4", "dup"), // two keys drawing one value → lowest key wins
      ("I4", "ok4")) // I4 lost "dup" but keepBestRow picked its min value first
      .toDF("isrc", "apple_music_url")
    val (returning, newSong) = Load.updateAppleMusicUrls(song, updates)
    // I1 skipped (conflict with existing), I3 wins "dup", I4's
    // candidate after per-key dedup is "dup" (min value) which I3 took
    assert(returning.select("isrc").as[String].collect().toSeq == Seq("I3"))
    val urls = newSong.orderBy("isrc").select("apple_music_url").as[Option[String]].collect()
    assert(urls.toSeq == Seq(None, Some("taken"), Some("dup"), None))
    // the invariant the guard exists for: no duplicated non-NULL value
    val dupVals = newSong.where($"apple_music_url".isNotNull)
      .groupBy("apple_music_url").count().where($"count" > 1).count()
    assert(dupVals == 0)
  }

  test("W2 rank assignment: 1-based position within each source half") {
    val docs = Seq(
      ("I1", "Spotify", 1), ("I2", "Spotify", 2),
      ("I3", "Apple Music", 1))
      .toDF("isrc", "source", "position")
    val r = Normalize.rankings(docs, d("2026-01-01"))
      .orderBy("ranking_source", "rank")
      .select("isrc", "rank", "ranking_source")
      .as[(String, Int, String)].collect()
    assert(r.toSeq == Seq(("I3", 1, "Apple Music"), ("I1", 1, "Spotify"), ("I2", 2, "Spotify")))
  }

  test("artist dedup keeps the same name whichever order the batch lists it in (F13)") {
    // A1 arrives under two names, A2 once named and once unnamed: the
    // least name wins, and a real name beats a NULL one
    val rows = Seq(
      ("I1", Seq(Artist("A1", "Anne"), Artist("A2", null))),
      ("I2", Seq(Artist("A1", "Ann"), Artist("A2", "Cy"))))
    def names(order: Seq[(String, Seq[Artist])]): Seq[(String, String)] =
      Normalize.artists(order.toDF("isrc", "artists")).orderBy("artist_id")
        .as[(String, String)].collect().toSeq
    assert(names(rows) == Seq(("A1", "Ann"), ("A2", "Cy")))
    assert(names(rows.reverse) == Seq(("A1", "Ann"), ("A2", "Cy")))
  }

  test("loadBatch end-to-end: dims then fact, RETURNING sets, retention fires (X5)") {
    val artistType = org.apache.spark.sql.Encoders.product[Artist].schema
    val docs = Seq(
      ("I1", "Song A", 100, false, "su1", Option.empty[String],
        Seq(Artist("A1", "Ann"), Artist("A2", "Bob")), "Spotify", 1),
      ("I2", "Song B", 200, true, "su2", Some("au2"),
        Seq(Artist("A1", "Ann")), "Spotify", 2))
      .toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url", "apple_music_url", "artists", "source", "position")
    val empty = MusicDb(
      Seq.empty[(String, String)].toDF("artist_id", "artist_name"),
      emptySong,
      Seq.empty[(String, String)].toDF("artist_id", "isrc"),
      Seq.empty[(String, Date, Int, String)].toDF("isrc", "ranking_date", "rank", "ranking_source"))
    val r1 = Load.loadBatch(empty, docs, d("2026-01-01"))
    assert(r1.insertedArtists.count() == 2)
    assert(r1.insertedSongs.count() == 2)
    assert(r1.insertedMaps.count() == 3)
    assert(r1.insertedRankings.count() == 2)
    assert(r1.db.ranking.count() == 2)
    // same batch next day: dims conflict-skip, fact gets new date rows
    val r2 = Load.loadBatch(r1.db, docs, d("2026-01-02"))
    assert(r2.insertedArtists.count() == 0)
    assert(r2.insertedSongs.count() == 0)
    assert(r2.insertedRankings.count() == 2)
    assert(r2.db.ranking.count() == 4)
    // a load >1 year later retains only the new rows (X5) and GCs
    val r3 = Load.loadBatch(r1.db, docs, d("2027-01-02"))
    assert(r3.db.ranking.select("ranking_date").distinct().count() == 1)
  }

  test("retention boundary: date <= new - 1 year deleted, newer kept (X5)") {
    val db = MusicDb(
      Seq(("A1", "Ann")).toDF("artist_id", "artist_name"),
      Seq(("I1", "A", 1, false, "su1", Option.empty[String]),
        ("I2", "B", 2, false, "su2", Option.empty[String])).toDF(emptySong.columns.toSeq: _*),
      Seq(("A1", "I1"), ("A1", "I2")).toDF("artist_id", "isrc"),
      Seq(
        ("I1", d("2025-01-02"), 1, "Spotify"), // exactly new-1yr: deleted (<=)
        ("I2", d("2025-01-03"), 2, "Spotify")) // newer: kept
        .toDF("isrc", "ranking_date", "rank", "ranking_source"))
    val out = Maintenance.retention(db, d("2026-01-02")).get
    assert(out.ranking.select("isrc").as[String].collect().toSeq == Seq("I2"))
    // cascade: I1's song deleted, its map row cascaded, artist kept (still maps I2)
    assert(out.song.select("isrc").as[String].collect().toSeq == Seq("I2"))
    assert(out.artistSongMap.count() == 1)
    assert(out.artist.count() == 1)
  }

  test("GC cascade: artist deleted when last bridge row goes (X3/X4)") {
    val db = MusicDb(
      Seq(("A1", "Ann"), ("A2", "Bob")).toDF("artist_id", "artist_name"),
      Seq(("I1", "A", 1, false, "su1", Option.empty[String])).toDF(emptySong.columns.toSeq: _*),
      Seq(("A1", "I1"), ("A2", "I1")).toDF("artist_id", "isrc"),
      Seq(("I1", d("2026-01-01"), 1, "Spotify")).toDF("isrc", "ranking_date", "rank", "ranking_source"))
    val out = Maintenance.deleteRankings(db, db.ranking)
    assert(out.ranking.count() == 0)
    assert(out.song.count() == 0)
    assert(out.artistSongMap.count() == 0)
    assert(out.artist.count() == 0)
  }

  test("GC scoping is faithful: untouched orphans survive (trigger semantics)") {
    // song I9 never had rankings; a delete of I1 rankings must not GC I9
    val db = MusicDb(
      Seq(("A1", "Ann")).toDF("artist_id", "artist_name"),
      Seq(("I1", "A", 1, false, "su1", Option.empty[String]),
        ("I9", "Orphan", 9, false, "su9", Option.empty[String])).toDF(emptySong.columns.toSeq: _*),
      Seq(("A1", "I1")).toDF("artist_id", "isrc"),
      Seq(("I1", d("2026-01-01"), 1, "Spotify")).toDF("isrc", "ranking_date", "rank", "ranking_source"))
    val out = Maintenance.deleteRankings(db, db.ranking)
    assert(out.song.select("isrc").as[String].collect().toSeq == Seq("I9"))
  }

  test("GC cascade keeps NULL-keyed rows, as a left_anti join against the gone keys does") {
    val db = MusicDb(
      Seq(("A1", "Ann"), (null, "Nobody")).toDF("artist_id", "artist_name"),
      Seq(("I1", "A", 1, false, "su1", Option.empty[String]),
        (null, "Keyless", 2, false, "su2", Option.empty[String])).toDF(emptySong.columns.toSeq: _*),
      Seq(("A1", "I1"), (null, "I1"), ("A1", null)).toDF("artist_id", "isrc"),
      Seq(("I1", d("2026-01-01"), 1, "Spotify")).toDF("isrc", "ranking_date", "rank", "ranking_source"))
    val out = Maintenance.deleteRankings(db, db.ranking)
    // I1 goes with both of its bridge rows; A1 is still mapped (to a
    // NULL isrc), and no NULL key matches a gone key
    assert(out.song.select("song_name").as[String].collect().toSeq == Seq("Keyless"))
    assertSameRows(out.artistSongMap, Seq(Seq("A1", null)))
    assert(out.artist.select("artist_name").as[String].collect().toSet == Set("Ann", "Nobody"))
  }

  /** The `part-*` files of a CSV sink directory, concatenated in name order. */
  private def sinkText(dir: String): String =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString

  test("S11 CSV sink: NULL is an unquoted empty field and reads back as NULL through MusicCsv") {
    val dir = java.nio.file.Files.createTempDirectory("csv_sink").toString
    val songs = Seq(
      ("I1", "Say \"Hi\"", 1000, true, "https://s/1", Option("https://a/1")),
      ("I2", "Two, Three", 2000, false, "https://s/2", Option.empty[String]))
      .toDF("isrc", "song_name", "song_duration_ms", "is_explicit", "spotify_url", "apple_music_url")
    Load.appendCsv(songs, s"$dir/song.csv")
    val text = sinkText(s"$dir/song.csv")
    assert(text ==
      "\"I1\",\"Say \\\"Hi\\\"\",\"1000\",\"true\",\"https://s/1\",\"https://a/1\"\n" +
      "\"I2\",\"Two, Three\",\"2000\",\"false\",\"https://s/2\",\n")
    // under the seed fixture's header, the sink's lines load as a seed song.csv
    val seed = java.nio.file.Paths.get(getClass.getResource("/seed").toURI).toString
    val header = "\"isrc\",\"song_name\",\"song_duration_ms\",\"is_explicit\",\"spotify_url\"," +
      "\"apple_music_url\"\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/seed_song.csv"), header + text)
    val db = graft.io.MusicCsv.loadSeed(spark, s"$seed/artist.csv", s"$dir/seed_song.csv",
      s"$seed/artist_song_map.csv", Seq(s"$seed/ranking.csv"))
    assert(rowsOf(db.song.orderBy("isrc")) == Seq(
      Seq("I1", "Say \"Hi\"", 1000, true, "https://s/1", "https://a/1"),
      Seq("I2", "Two, Three", 2000, false, "https://s/2", null)))
  }

  test("S11 CSV sink: non-null values are byte-equal to Spark's quoteAll CSV writer") {
    val dir = java.nio.file.Files.createTempDirectory("csv_sink_bytes").toString
    val rows = Seq(
      ("a\"b", "back\\slash", "", 7L, 1.5, true, d("2026-01-02")),
      ("comma, here", "\\\"", " pad ", -1L, -0.25, false, d("1999-12-31")),
      ("line\nbreak", "\ttab\t", "x", 0L, 1.0e10, true, d("2000-02-29")))
      .toDF("s1", "s2", "s3", "n", "x", "b", "day").coalesce(1)
    Load.appendCsv(rows, s"$dir/driver.csv")
    rows.write.option("quoteAll", "true").option("emptyValue", "").option("nullValue", "")
      .csv(s"$dir/spark.csv")
    assert(sinkText(s"$dir/driver.csv") == sinkText(s"$dir/spark.csv"))
  }

  test("constraint audit: clean reference seed reports no violations") {
    val db = graft.io.MusicCsv.loadSeedDir(spark, "/root/reference/db/csv")
    val v = Maintenance.constraintViolations(db, d("2026-07-24"))
    assert(v.count() == 0, v.collect().mkString(", "))
  }
}
