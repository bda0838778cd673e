package graft

import java.nio.file.{Files, Path}
import java.time.LocalDate

import graft.ingest.Sources

/** Drives [[DailyEtl.run]] — the composition `main` wires — over
  * fixture files exactly as a deployment would invoke the binary:
  * two daily runs against a fresh store, CSV sinks, rendered README,
  * idempotent re-run, and the reference's short-chart abort. The
  * library-level twin is PipelineE2ESpec; this one goes through the
  * entry point's own fetch/commit/render plumbing. */
class DailyEtlSpec extends SparkSpec {

  private def write(p: Path, s: String): String = {
    Files.write(p, s.getBytes("UTF-8")); p.toString
  }

  private def playlistHtml(ids: Seq[String]): String =
    ids.map(i =>
      s"""<meta name="music:song" content="https://open.spotify.com/track/$i"/>""")
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

  test("two daily runs through the binary: store commits, CSVs, rendered README, idempotent re-run") {
    val dir = Files.createTempDirectory("dailyetl")
    val store = s"$dir/store"
    val readme = s"$dir/README.md"
    val csv = s"$dir/csv"
    Files.createDirectories(java.nio.file.Paths.get(csv))
    val fetcher = new Sources.FileFetcher(Map.empty)
    val ids1 = (1 to 10).map(i => s"t$i")

    // --- day 1 ---
    val r1 = DailyEtl.run(spark, fetcher, DailyEtl.Config(
      store, LocalDate.of(2026, 2, 1),
      write(java.nio.file.Paths.get(s"$dir/playlist1.html"), playlistHtml(ids1 :+ "t11" :+ "t12")),
      write(java.nio.file.Paths.get(s"$dir/tracks1.json"), tracksJson(ids1)),
      readme, Some(csv)))
    assert(r1.insertedSongs.count() === 10)
    assert(r1.insertedArtists.count() === 11) // 10 distinct + "Common"
    assert(r1.insertedRankings.count() === 10)

    // --- day 2: t1 drops out, everyone shifts up, t99 enters ---
    val ids2 = ids1.drop(1) :+ "t99"
    val cfg2 = DailyEtl.Config(
      store, LocalDate.of(2026, 2, 2),
      write(java.nio.file.Paths.get(s"$dir/playlist2.html"), playlistHtml(ids2)),
      write(java.nio.file.Paths.get(s"$dir/tracks2.json"), tracksJson(ids2)),
      readme, Some(csv))
    val r2 = DailyEtl.run(spark, fetcher, cfg2)
    assert(r2.insertedSongs.count() === 1) // only the newcomer
    assert(r2.insertedRankings.count() === 10)

    // rendered README: delta view over the committed store
    val md = new String(Files.readAllBytes(java.nio.file.Paths.get(readme)), "UTF-8")
    assert(md.startsWith("# Daily Top Songs"))
    assert(md.contains("February 2, 2026"))
    assert(md.contains("| new | 10 |")) // t99 is a newcomer
    assert(md.contains("+1")) // survivors moved up
    assert(md.contains("""Artist t2, Common \- Song t2"""))

    // CSV append sinks accumulated BOTH days
    val rankingCsv = spark.read
      .schema("ranking_id INT, isrc STRING, ranking_date STRING, rank INT, ranking_source STRING")
      .csv(s"$csv/ranking.csv")
    assert(rankingCsv.count() === 20)
    assert(rankingCsv.where("ranking_date = '2026-02-02'").count() === 10)
    assert(spark.read.text(s"$csv/artist.csv").count() === 12) // 11 + t99's artist

    // re-running day 2 is a no-op for the data (idempotent daily
    // cron) and leaves the rendered README byte-identical
    val r2again = DailyEtl.run(spark, fetcher, cfg2)
    assert(r2again.insertedRankings.count() === 0)
    assert(r2again.db.ranking.count() === 20)
    val mdAgain = new String(Files.readAllBytes(java.nio.file.Paths.get(readme)), "UTF-8")
    assert(mdAgain === md)
  }

  test("the day runs interpreted: no whole-stage codegen in its plans, the caller's confs restored") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.util.QueryExecutionListener
    val wholeStage = SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key
    val factoryMode = SQLConf.CODEGEN_FACTORY_MODE.key
    def confs = (spark.conf.getAll.get(wholeStage), spark.conf.getAll.get(factoryMode))
    val dir = Files.createTempDirectory("dailyetl_interpreted")
    val fetcher = new Sources.FileFetcher(Map.empty)
    val ids = (1 to 10).map(i => s"t$i")
    def cfg(n: Int, idsN: Seq[String]) = DailyEtl.Config(
      s"$dir/store", LocalDate.of(2026, 2, 1),
      write(java.nio.file.Paths.get(s"$dir/p$n.html"), playlistHtml(idsN)),
      write(java.nio.file.Paths.get(s"$dir/t$n.json"), tracksJson(idsN)),
      s"$dir/README.md", Some(s"$dir/csv"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    restoringConfs(wholeStage, factoryMode) { // other suites share this session
      spark.conf.set(wholeStage, "true") // the caller set this one
      spark.conf.unset(factoryMode) // and never set this one
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.listenerManager.register(listener)
      try {
        DailyEtl.run(spark, fetcher, cfg(1, ids))
        org.apache.spark.ListenerDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      assert(confs == (Some("true"), None), "a normal day must restore the caller's confs")
      val helper = new AdaptiveSparkPlanHelper {}
      val compiled = plans.toArray(Array.empty[SparkPlan]).toSeq
        .filter(p => helper.collectWithSubqueries(p) { case w: WholeStageCodegenExec => w }.nonEmpty)
      assert(plans.size > 10, s"the listener saw ${plans.size} queries")
      assert(compiled.isEmpty, s"whole-stage codegen ran in the day:\n${compiled.take(1).mkString}")

      intercept[DailyEtl.SongDataNotFoundError](
        DailyEtl.run(spark, fetcher, cfg(2, ids.take(9))))
      assert(confs == (Some("true"), None), "an aborted day must restore the caller's confs")
    }
  }

  test("a short chart aborts the run before anything is loaded") {
    val dir = Files.createTempDirectory("dailyetl_short")
    val store = s"$dir/store"
    val fetcher = new Sources.FileFetcher(Map.empty)
    val e = intercept[DailyEtl.SongDataNotFoundError] {
      DailyEtl.run(spark, fetcher, DailyEtl.Config(
        store, LocalDate.of(2026, 2, 1),
        write(java.nio.file.Paths.get(s"$dir/p.html"),
          playlistHtml((1 to 9).map(i => s"t$i"))),
        write(java.nio.file.Paths.get(s"$dir/t.json"),
          tracksJson((1 to 9).map(i => s"t$i"))),
        s"$dir/README.md", None))
    }
    assert(e.getMessage.contains("expected 10 songs, got 9"))
    // nothing was committed — the store stays absent
    assert(!Files.exists(java.nio.file.Paths.get(store)))
  }

  test("a short track-lookup response aborts the run (both fetch stages guarded)") {
    // the playlist yields a full 10 ids, but the tracks API silently
    // drops one (under-full batches are legal per response — only
    // over-full raises in the parser): the run must abort, not load
    // and render a 9-song day
    val dir = Files.createTempDirectory("dailyetl_shorttracks")
    val ids = (1 to 10).map(i => s"t$i")
    val e = intercept[DailyEtl.SongDataNotFoundError] {
      DailyEtl.run(spark, new Sources.FileFetcher(Map.empty), DailyEtl.Config(
        s"$dir/store", LocalDate.of(2026, 2, 1),
        write(java.nio.file.Paths.get(s"$dir/p.html"), playlistHtml(ids)),
        write(java.nio.file.Paths.get(s"$dir/t.json"), tracksJson(ids.drop(1))),
        s"$dir/README.md", None))
    }
    assert(e.getMessage.contains("returned 9 of 10"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/store")))
  }

  test("the daily render reads two chart dates, not the archive — byte-equal to the full-history render") {
    val dir = Files.createTempDirectory("dailyetl_renderprune")
    val store = s"$dir/store"
    val fetcher = new Sources.FileFetcher(Map.empty)
    val ids = (1 to 10).map(i => s"t$i")
    def cfg(n: Int, day: Int, idsN: Seq[String]) = DailyEtl.Config(
      store, LocalDate.of(2026, 2, day),
      write(java.nio.file.Paths.get(s"$dir/p$n.html"), playlistHtml(idsN)),
      write(java.nio.file.Paths.get(s"$dir/t$n.json"), tracksJson(idsN)),
      s"$dir/README.md", None)
    DailyEtl.run(spark, fetcher, cfg(1, 1, ids))
    DailyEtl.run(spark, fetcher, cfg(2, 2, ids.drop(1) :+ "t98"))
    DailyEtl.run(spark, fetcher, cfg(3, 3, ids.drop(2) :+ "t98" :+ "t99"))
    val written = new String(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/README.md")), "UTF-8")

    val fmt = graft.etl.TableFormat.DefaultBackend(spark, store)
    val fullDb = graft.model.Music.MusicDb(fmt.read("artist"), fmt.read("song"),
      fmt.read("artist_song_map"), fmt.read("ranking"))
    val day3 = LocalDate.of(2026, 2, 3)
    // the pruned render is byte-equal to one over the whole archive
    assert(written == graft.report.Render.renderForDate(fullDb, day3))
    // and its ranking scan plans over the two matching day dirs only
    val store2 = new graft.etl.ManifestStore(spark, fmt,
      Seq("artist", "song", "artist_song_map", "ranking"))
    val renderDb = DailyEtl.renderDbOf(fmt, store2.pinned(store2.base), fullDb, day3)
    def dirsOf(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(f => f.split('/').dropRight(1).last).toSet
    assert(dirsOf(fullDb.ranking).size == 3)
    assert(dirsOf(renderDb.ranking).size == 2,
      s"the render must touch days 2-3 only, got ${dirsOf(renderDb.ranking)}")
    assert(graft.report.Render.renderForDate(renderDb, day3) == written)
  }

  test("a torn multi-table persist cannot corrupt the store: reads go through the manifest") {
    val dir = Files.createTempDirectory("dailyetl_torn")
    val store = s"$dir/store"
    val fetcher = new Sources.FileFetcher(Map.empty)
    val ids1 = (1 to 10).map(i => s"t$i")
    def cfg(n: Int, day: Int, idsN: Seq[String]) = DailyEtl.Config(
      store, LocalDate.of(2026, 2, day),
      write(java.nio.file.Paths.get(s"$dir/p$n.html"), playlistHtml(idsN)),
      write(java.nio.file.Paths.get(s"$dir/t$n.json"), tracksJson(idsN)),
      s"$dir/README.md", None)
    DailyEtl.run(spark, fetcher, cfg(1, 1, ids1))
    // simulate a crash mid-persist of a later run: an orphan artist
    // version lands WITHOUT a manifest update
    val fmt = graft.etl.TableFormat.DefaultBackend(spark, store)
    import spark.implicits._
    fmt.overwrite("artist", Seq(("junk", "Torn Writer")).toDF("artist_id", "artist_name"))
    // the next daily run reads the manifest-pinned consistent day-1
    // state, never the orphan — t99 is the only new song, and the
    // junk artist is invisible
    val r2 = DailyEtl.run(spark, fetcher, cfg(2, 2, ids1.drop(1) :+ "t99"))
    assert(r2.insertedSongs.count() === 1)
    assert(r2.db.artist.where($"artist_id" === "junk").isEmpty)
    assert(r2.db.ranking.count() === 20)
  }

  test("a pure-append day commits only its delta: one new dir per table, yesterday's files untouched") {
    val dir = Files.createTempDirectory("dailyetl_append")
    val store = s"$dir/store"
    val fetcher = new Sources.FileFetcher(Map.empty)
    val ids1 = (1 to 10).map(i => s"t$i")
    def cfg(n: Int, day: Int, idsN: Seq[String]) = DailyEtl.Config(
      store, LocalDate.of(2026, 2, day),
      write(java.nio.file.Paths.get(s"$dir/p$n.html"), playlistHtml(idsN)),
      write(java.nio.file.Paths.get(s"$dir/t$n.json"), tracksJson(idsN)),
      s"$dir/README.md", None)
    DailyEtl.run(spark, fetcher, cfg(1, 1, ids1))
    val fmt = graft.etl.TableFormat.DefaultBackend(spark, store)
      .asInstanceOf[graft.etl.ManifestParquet]
    val v1 = fmt.currentVersion("ranking")
    val day1Entries = fmt.manifestEntries("ranking", v1)

    DailyEtl.run(spark, fetcher, cfg(2, 2, ids1.drop(1) :+ "t99"))
    val v2 = fmt.currentVersion("ranking")
    val day2Entries = fmt.manifestEntries("ranking", v2)
    assert(day2Entries.take(day1Entries.size) == day1Entries &&
      day2Entries.size == day1Entries.size + 1,
      "a pure-append day must add exactly one data dir to the fact manifest")
    // the new dir holds ONLY day 2's rows — yesterday's bytes were
    // never rewritten
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val newDir =
      s"$store/ranking/${graft.etl.ManifestParquet.parseEntry(day2Entries.last).dir}"
    val fresh = spark.read.parquet(newDir)
    assert(fresh.count() == 10 &&
      fresh.where(col("ranking_date") =!= java.sql.Date.valueOf("2026-02-02")).isEmpty)
    // dims too: the song append carries only the newcomer
    val songEntries = fmt.manifestEntries("song", fmt.currentVersion("song"))
    val newSongs = spark.read.parquet(
      s"$store/song/${graft.etl.ManifestParquet.parseEntry(songEntries.last).dir}")
    assert(newSongs.select("isrc").as[String].collect().toSeq == Seq("ISRCt99"))
  }

  /** Each table with its DDL column order, the order its CSV sink
    * writes. */
  private val tables = Seq(
    "artist" -> graft.model.Music.artistSchema, "song" -> graft.model.Music.songSchema,
    "artist_song_map" -> graft.model.Music.artistSongMapSchema,
    "ranking" -> graft.model.Music.rankingSchema)

  private def csvParts(csv: String, table: String): Set[java.io.File] =
    Option(new java.io.File(s"$csv/$table.csv").listFiles()).toSet.flatten
      .filter(_.getName.startsWith("part-"))

  /** Runs `day`, checks each table's CSV sink against the store and
    * returns the day's result. The rows the day appended to a CSV are
    * exactly the rows of the newly pinned version that the previous
    * pin lacks. (The song table's equality needs a day with no S10
    * fill, whose updated rows change the store but are not CSV
    * inserts; these charts never fill.) */
  private def assertSinksMatchStore[T](store: String, csv: String)(day: => T): T = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val fmt = graft.etl.TableFormat.DefaultBackend(spark, store)
    val manifest = new graft.etl.ManifestStore(spark, fmt, tables.map(_._1))
    val before = manifest.pinned(manifest.base)
    val partsBefore = tables.map { case (t, _) => t -> csvParts(csv, t) }.toMap
    val result = day
    val after = manifest.pinned(manifest.base)
    tables.foreach { case (t, schema) =>
      def pinned(pins: Map[String, Long]) =
        manifest.readPinned(pins, t).select(schema.fieldNames.toSeq.map(col): _*)
      val added = pinned(after).exceptAll(pinned(before))
        .collect().map(_.mkString("|")).toSeq.sorted
      val fresh = (csvParts(csv, t) -- partsBefore(t)).toSeq.map(_.getPath)
      val cols = (if (t == "ranking") Seq("ranking_id") else Nil) ++ schema.fieldNames
      val appended =
        if (fresh.isEmpty) Nil
        else spark.read.schema(StructType(cols.map(StructField(_, StringType))))
          .csv(fresh: _*).drop("ranking_id")
          .collect().map(_.mkString("|")).toSeq.sorted
      assert(appended == added, s"$t: CSV appended $appended, store added $added")
    }
    result
  }

  test("a retention day rewrites: year-old rankings drop through the X5 cascade, the store stays consistent") {
    val dir = Files.createTempDirectory("dailyetl_retention")
    val store = s"$dir/store"
    val csv = s"$dir/csv"
    val fetcher = new Sources.FileFetcher(Map.empty)
    val ids1 = (1 to 10).map(i => s"t$i")
    def cfg(n: Int, date: LocalDate, idsN: Seq[String]) = DailyEtl.Config(
      store, date,
      write(java.nio.file.Paths.get(s"$dir/p$n.html"), playlistHtml(idsN)),
      write(java.nio.file.Paths.get(s"$dir/t$n.json"), tracksJson(idsN)),
      s"$dir/README.md", Some(csv))
    val r1 = DailyEtl.run(spark, fetcher, cfg(1, LocalDate.of(2025, 1, 1), ids1))
    assert(!r1.retentionFired)
    // 13 months later: the same chart again — day-1 rankings are past
    // the horizon; the songs survive (they rank today), so only the
    // fact rows age out
    val r2 = assertSinksMatchStore(store, csv)(
      DailyEtl.run(spark, fetcher, cfg(2, LocalDate.of(2026, 2, 1), ids1)))
    assert(r2.retentionFired)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fmt = graft.etl.TableFormat.DefaultBackend(spark, store)
    val ranking = fmt.read("ranking")
    assert(ranking.count() == 10 &&
      ranking.where(col("ranking_date") =!= java.sql.Date.valueOf("2026-02-01")).isEmpty,
      "the year-old rankings must be retired by the retention stage")
    assert(fmt.read("song").count() == 10 && r2.insertedSongs.isEmpty)
    // a third, ordinary day on the rewritten store appends again
    val r3 = assertSinksMatchStore(store, csv)(
      DailyEtl.run(spark, fetcher, cfg(3, LocalDate.of(2026, 2, 2), ids1.drop(1) :+ "t99")))
    assert(r3.insertedSongs.count() == 1 && !r3.retentionFired)
    assert(fmt.read("ranking").count() == 20)
  }

  /** A backend decorator whose commits to `table` throw; everything
    * else is forwarded to `inner`. */
  private final class FailingCommits(inner: graft.etl.TableFormat, table: String)
      extends graft.etl.TableFormat {
    import org.apache.spark.sql.DataFrame
    private def failOn(t: String): Unit =
      if (t == table) throw new java.io.IOException(s"injected commit failure on $t")
    def read(t: String): DataFrame = inner.read(t)
    def readVersion(t: String, v: Long): DataFrame = inner.readVersion(t, v)
    def readVersionRange(t: String, v: Long, column: String,
        lower: Option[Any], upper: Option[Any]): DataFrame =
      inner.readVersionRange(t, v, column, lower, upper)
    def statsUpperBound(t: String, v: Long, column: String): Option[Any] =
      inner.statsUpperBound(t, v, column)
    def currentVersion(t: String): Long = inner.currentVersion(t)
    def tryCommit(t: String, df: DataFrame, expectedBase: Long): Long = {
      failOn(t); inner.tryCommit(t, df, expectedBase)
    }
    def tryAppend(t: String, delta: DataFrame, ontoVersion: Long, expectedBase: Long): Long = {
      failOn(t); inner.tryAppend(t, delta, ontoVersion, expectedBase)
    }
    def tryDeleteRows(t: String, keys: DataFrame, ontoVersion: Long, expectedBase: Long): Long = {
      failOn(t); inner.tryDeleteRows(t, keys, ontoVersion, expectedBase)
    }
  }

  test("a commit that fails inside the commit wave publishes no manifest; the next run reads the previous state") {
    val dir = Files.createTempDirectory("dailyetl_wavefail")
    val store = s"$dir/store"
    val csv = s"$dir/csv"
    val fetcher = new Sources.FileFetcher(Map.empty)
    val ids1 = (1 to 10).map(i => s"t$i")
    def cfg(n: Int, day: Int, idsN: Seq[String]) = DailyEtl.Config(
      store, LocalDate.of(2026, 2, day),
      write(java.nio.file.Paths.get(s"$dir/p$n.html"), playlistHtml(idsN)),
      write(java.nio.file.Paths.get(s"$dir/t$n.json"), tracksJson(idsN)),
      s"$dir/README.md", Some(csv))
    DailyEtl.run(spark, fetcher, cfg(1, 1, ids1))
    val day1Readme = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/README.md"))
    val fmt = graft.etl.TableFormat.DefaultBackend(spark, store)
    val manifest = new graft.etl.ManifestStore(spark, fmt,
      Seq("artist", "song", "artist_song_map", "ranking"))
    val base1 = manifest.base
    val others = Seq("artist", "artist_song_map", "ranking")
    val versions1 = others.map(fmt.currentVersion)

    // the song commit fails at once, while the other three are in flight
    val failing: graft.etl.TableFormat.Backend =
      (s, root) => new FailingCommits(graft.etl.TableFormat.DefaultBackend(s, root), "song")
    val cfg2 = cfg(2, 2, ids1.drop(1) :+ "t99")
    val e = intercept[java.io.IOException](DailyEtl.run(spark, fetcher, cfg2, backend = failing))
    assert(e.getMessage == "injected commit failure on song")
    // no manifest was published, and the wave's other commits had all
    // finished when run threw: each left one orphan version
    assert(manifest.base == base1)
    assert(others.map(fmt.currentVersion) == versions1.map(_ + 1))
    // nothing after the commit wave ran: no CSV rows, no README
    assert(spark.read.text(s"$csv/ranking.csv").count() == 10)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/README.md")), day1Readme))

    // the next run reads the day-1 state, not the orphans
    val r2 = DailyEtl.run(spark, fetcher, cfg2)
    assert(manifest.base == base1 + 1)
    assert(r2.insertedSongs.count() == 1 && r2.insertedArtists.count() == 1)
    assert(r2.db.ranking.count() == 20)
    assert(spark.read.text(s"$csv/ranking.csv").count() == 20)
  }

  test("token extraction parses the OAuth2 response shape") {
    assert(DailyEtl.accessTokenFromJson(
      """{"access_token":"abc123","token_type":"Bearer","expires_in":3600}""")
      === "abc123")
    intercept[Sources.UnexpectedContentTypeError](
      DailyEtl.accessTokenFromJson("""{"error":"invalid_client"}"""))
  }
}
