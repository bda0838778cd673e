package graft

import java.nio.file.{Files, Paths}
import java.sql.Date
import java.time.LocalDate

import graft.etl.Maintenance
import graft.io.MusicCsv
import graft.report.Render

/** The seed-CSV paths (constraint audit, README render, SQL view
  * registration) over a small synthetic seed shipped with the tests
  * (`src/test/resources/seed`), so they run on any box. The fixture
  * follows the reference seed's CSV conventions (quoted values, an
  * unquoted empty field for NULL, `True`/`False`) and carries the
  * cases the loader and renderer must get right:
  *  - duplicate artist, bridge and ranking lines (deduplicated on load);
  *  - song S4 listed twice, once without an Apple Music url: the row
  *    with the url wins (S14);
  *  - S2 has two artists, listed out of name order;
  *  - Markdown specials in names (`(`, `)`, `_`, `.`, `!`, `-`);
  *  - Spotify deltas on 2026-03-02 of +1, -1 and 0, a gap (S4, last
  *    ranked 2026-02-28) and a first appearance (S5), all "new" when
  *    not consecutive.
  * The expected README (`README.expected.md`) was written by hand from
  * those rows, not captured from a run. */
class SeedFixtureSpec extends SparkSpec {
  import spark.implicits._

  private val seedDir =
    Paths.get(getClass.getResource("/seed").toURI).toString

  private val day = LocalDate.of(2026, 3, 2)

  test("synthetic seed: load dedups to the hand-counted rows and the constraint audit is clean") {
    val db = MusicCsv.loadSeedDir(spark, seedDir)
    assert(db.artist.count() == 4)
    assert(db.song.count() == 5)
    assert(db.artistSongMap.count() == 6)
    assert(db.ranking.count() == 12)
    assert(db.song.where($"isrc" === "S4").select("apple_music_url")
      .as[String].collect().toSeq == Seq("https://music.apple.com/us/song/4"))
    val clean = Maintenance.constraintViolations(db, Date.valueOf(day))
    assert(clean.count() == 0, clean.collect().mkString(", "))
    // the audit is not vacuous: judged a day earlier, the seven
    // 2026-03-02 rankings lie in the future
    val early = Maintenance.constraintViolations(db, Date.valueOf(day.minusDays(1)))
      .as[(String, Long)].collect().toSeq
    assert(early == Seq(("ranking_date_not_future", 7L)))
  }

  test("synthetic seed: render for 2026-03-02 reproduces the hand-written README byte-for-byte") {
    val db = MusicCsv.loadSeedDir(spark, seedDir).cached()
    val got = Render.renderForDate(db, day)
    val expected = new String(Files.readAllBytes(
      Paths.get(seedDir, "README.expected.md")), "UTF-8")
    assert(got == expected)
  }

  test("synthetic seed: registerMusic exposes the reference views") {
    GraftCatalog.registerMusic(spark, seedDir)
    assert(spark.sql("SELECT count(*) FROM all_rankings_view").as[Long].head() == 12L)
    val apple = spark.sql(
      """SELECT rank, song, apple_music_url, delta
        |FROM all_rankings_with_delta_view
        |WHERE date = DATE '2026-03-02' AND platform = 'Apple Music'
        |ORDER BY rank""".stripMargin)
      .as[(Int, String, String, Option[Int])].collect().toSeq
    assert(apple == Seq(
      (1, "Cy - Three_Words", "https://music.apple.com/us/song/3", None),
      (2, "Ann - First Light", "https://music.apple.com/us/song/1", Some(-1))))
    assert(spark.sql(
      "SELECT spotify_url FROM all_rankings_with_urls_view WHERE song LIKE 'Ann, Bob - %'")
      .as[String].collect().toSeq.distinct == Seq("https://open.spotify.com/track/s2"))
  }
}
