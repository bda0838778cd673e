package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.etl.{Load, ManifestStore, TableFormat}
import graft.ingest.Sources
import graft.model.Music
import graft.model.Music.MusicDb
import graft.operators.Wave
import graft.report.Render

/** The runnable daily pipeline — the engine's analog of the
  * reference's orchestrated entry point (`etl_pipeline.py:874-1034` →
  * `render_templates.py:108-203`): fetch the playlist page, extract
  * the top-10 song URLs (S4), batch-look-up track data (S7),
  * FK-ordered load committed through the [[graft.etl.TableFormat]]
  * seam (S9/J7, with the X5 retention stage riding the load; the
  * default manifest-log backend makes a pure-append day cost O(batch)
  * bytes — see [[persist]]), append the four RETURNING
  * sets to CSVs (S11, written from the driver by [[Load.appendCsv]]),
  * and re-render the README from the delta view (W1/F6-F11).
  * Independent steps of the day run concurrently (see [[run]]).
  *
  * Usage:
  * {{{
  * sbt "runMain graft.DailyEtl <storeRoot> <yyyy-MM-dd> \
  *   <playlistSource> <tracksSource> <renderPath> [csvDir]"
  * }}}
  *
  * Fetches are driver-side control-plane calls behind
  * [[Sources.Fetcher]]: an `http(s)://` source goes through the real
  * [[Sources.HttpFetcher]] (with an OAuth2 client-credentials bearer
  * token when GRAFT_TOKEN_URL / GRAFT_CLIENT_ID / GRAFT_CLIENT_SECRET
  * are set — S3, reference `etl_pipeline.py:259-293`); any other
  * source is a local file ([[Sources.FileFetcher]]), which is how
  * zero-egress builds and DailyEtlSpec drive the binary end-to-end.
  * `tracksSource` may carry an `{ids}` placeholder, expanded per
  * ≤`batchSize`-id batch with the batch ordinal carried as the
  * explicit order key (SURVEY §7.4 risk 3 — never row order).
  *
  * Parsing and the table scans are Spark-side, but the load is sized
  * for the daily bound, not for a backfill: [[Load.loadBatch]] holds
  * the day's batch and the four tables on the driver, and the day
  * runs interpreted (see [[run]]). Both rest on X5 retention, which
  * keeps the store at about a year of charts whatever the number of
  * days loaded. A replay that keeps far more than a year of rankings
  * is outside that bound: it belongs on Spark-side anti-joins
  * ([[Load.upsert]]) and compiled code.
  */
object DailyEtl {

  /** Reference `SongDataNotFoundError` (`etl_pipeline.py:975-976`):
    * a partial chart aborts the run rather than loading a short day. */
  final class SongDataNotFoundError(msg: String) extends RuntimeException(msg)

  final case class Config(
      storeRoot: String,
      date: LocalDate,
      playlistSource: String,
      tracksSource: String,
      renderPath: String,
      csvDir: Option[String],
      topN: Int = 10,
      batchSize: Int = 50)

  private val tableNames = Seq("artist", "song", "artist_song_map", "ranking")

  private def emptyDb(spark: SparkSession): MusicDb = {
    import spark.implicits._
    MusicDb(
      spark.emptyDataset[Music.Artist].toDF(),
      spark.emptyDataset[Music.Song].toDF(),
      spark.emptyDataset[Music.ArtistSongMap].toDF(),
      spark.emptyDataset[Music.Ranking].toDF())
  }

  /** Cross-table atomicity rides [[graft.etl.ManifestStore]] (shared
    * with [[CorpusEtl]]): a MANIFEST table committed LAST pins the
    * exact (table → version) quadruple of one consistent daily state,
    * and reads always go through it. A crash anywhere mid-persist
    * leaves at worst ORPHAN table versions the manifest never points
    * to — the next run reads the previous complete state (or day-1
    * empty, if no manifest ever committed) and its own commit simply
    * supersedes the orphans. Without this, four independent
    * sequential commits could tear: a day-3 read of artist@v2 +
    * song@v1 is FK-inconsistent forever.
    *
    * @return the consistent state plus the manifest version it was
    *   read at — [[persist]] commits against exactly that base, so a
    *   concurrent second run (double-fired cron, manual backfill
    *   racing the schedule) fails its commit LOUDLY instead of
    *   silently overwriting the winner's day (lost update). */
  private def storeOf(spark: SparkSession, fmt: TableFormat) =
    new ManifestStore(spark, fmt, tableNames)

  private def loadDb(spark: SparkSession, fmt: TableFormat)
      : (MusicDb, Long, Map[String, Long]) = {
    val store = storeOf(spark, fmt)
    val base = store.base
    if (base > 0) {
      val pinned = store.pinned(base)
      (dbAt(fmt, pinned), base, pinned)
    } else (emptyDb(spark), base, Map.empty) // day 1: nothing committed yet
  }

  /** The four tables at the versions `pins` names. */
  private def dbAt(fmt: TableFormat, pins: Map[String, Long]): MusicDb = {
    def tbl(n: String) = fmt.readVersion(n, pins(n))
    MusicDb(tbl("artist"), tbl("song"), tbl("artist_song_map"), tbl("ranking"))
  }

  /** Commit the day. The common day is PURE APPEND — nothing fired
    * the X5 retention cascade and no existing song gained a URL — and
    * then each table commits only its RETURNING delta onto its pinned
    * version ([[TableFormat.tryAppend]]): on the default manifest-log
    * backend the daily storage cost is O(batch), matching
    * [[CorpusEtl]]. A day where retention fired is a rewrite by
    * MEANING (the cascade can delete from all four tables — at
    * warehouse scale that's the date-partition drop the Maintenance
    * scaladoc describes); a day with S10 fills rewrites only the song
    * table. The manifest pins exactly the versions these commits
    * RETURN — never a re-listed currentVersion, which could observe a
    * concurrent writer's orphan (ManifestStore invariant 2).
    *
    * The four table commits are independent (each stages its own
    * dirs and publishes its own table's next version), so they run as
    * one [[graft.operators.Wave]]. The manifest commits after all four
    * have returned, and only if all four succeeded: a failure in any
    * of them rethrows once the others have finished, with nothing
    * published but orphan table versions the old manifest never
    * names, so the next run reads the previous state.
    *
    * @return the (table → version) map the new manifest pins */
  private def persist(spark: SparkSession, fmt: TableFormat, res: Load.LoadResult,
      pinned: Map[String, Long], manifestBase: Long): Map[String, Long] = {
    // each frame is a held LocalRelation, which splits into up to
    // defaultParallelism partitions: commit each as one file
    def full(n: String, df: DataFrame) =
      () => n -> fmt.tryCommit(n, df.coalesce(1), fmt.currentVersion(n))
    def append(n: String, delta: DataFrame) =
      () => n -> fmt.tryAppend(n, delta.coalesce(1), pinned.getOrElse(n, 0L),
        fmt.currentVersion(n))
    val commits =
      if (res.retentionFired)
        tableNames.zip(Seq(res.db.artist, res.db.song, res.db.artistSongMap, res.db.ranking))
          .map { case (n, df) => full(n, df) }
      else Seq(
        append("artist", res.insertedArtists),
        if (res.updatedSongs.isEmpty) append("song", res.insertedSongs)
        else full("song", res.db.song),
        append("artist_song_map", res.insertedMaps),
        append("ranking", res.insertedRankings))
    val versions = Wave.run(spark)(commits).toMap
    storeOf(spark, fmt).commit(versions, manifestBase)
    versions
  }

  /** One daily run, fetcher-injected (specs pass [[Sources
    * .FileFetcher]]; [[main]] wires HTTP/file dispatch). Returns the
    * [[Load.LoadResult]] so callers can inspect the RETURNING sets.
    * Its frames are held on the driver ([[graft.etl.Held]]), so they
    * stay readable for as long as the caller keeps the result.
    *
    * The day is bounded twice over: the batch is the top `topN` of one
    * playlist page, and X5 retention keeps the store at about
    * topN × sources × 366 ranking rows (a few thousand rows per table).
    * Two choices rest on that bound, with no cap and no second path
    * above it, because no store this job writes outgrows it:
    *  - [[Load.loadBatch]] collects the four pinned tables, the batch
    *    and every stage it derives to the driver and rebuilds each as a
    *    `LocalRelation`, so nothing it returns is a checkpoint and
    *    Catalyst folds filters over it at plan time;
    *  - the day runs on Spark's interpreted evaluators: for its length,
    *    whole-stage codegen is off and the expression factory mode is
    *    `NO_CODEGEN` on the caller's session; both confs are restored
    *    when `run` returns or throws. At this size compiling each
    *    operator costs more than it saves: on 4 cores, a cold day over
    *    13 months of history compiled 290 generated classes, about 4 s
    *    of a 15 s day; interpreted it compiles 10 (under 0.2 s) and
    *    takes about 10 s.
    * The confs are set on the caller's session rather than a child
    * session, so the result's frames stay in the caller's session and
    * its query listeners see the day's queries. Other queries running
    * on that session while `run` is inside its day run interpreted
    * too.
    *
    * A day is many small jobs, most of which do not depend on each
    * other, so [[graft.operators.Wave]]s run them concurrently on the
    * driver, each worker on the caller's session (so inside the
    * interpreted window):
    *  1. in [[Load.loadBatch]], the four table reads with the docs,
    *     then the four upserts;
    *  2. in [[persist]], the four table commits; the manifest commits
    *     after all four have returned;
    *  3. the four CSV sinks and the render; the README file is written
    *     after the whole wave succeeded.
    * A wave waits for all of its members and then rethrows the first
    * failure, so no worker is still writing when `run` throws. A
    * failure in the commit wave leaves the manifest unpublished: the
    * next run reads the previous state (DailyEtlSpec injects one). */
  def run(spark: SparkSession, fetcher: Sources.Fetcher, cfg: Config,
      bearerToken: Option[String] = None,
      backend: TableFormat.Backend = TableFormat.DefaultBackend): Load.LoadResult =
    interpreted(spark)(day(spark, fetcher, cfg, bearerToken, backend))

  /** The confs that turn generated-code compilation off, named
    * through Spark's own constants, so a rename in Spark breaks the
    * build instead of silently compiling again. */
  private val interpretedConfs = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)

  /** Runs `body` with [[interpretedConfs]] set on `spark`, then puts
    * back each key's previous value, unsetting a key that was unset. */
  private def interpreted[T](spark: SparkSession)(body: => T): T = {
    val saved = interpretedConfs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    interpretedConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def day(spark: SparkSession, fetcher: Sources.Fetcher, cfg: Config,
      bearerToken: Option[String], backend: TableFormat.Backend): Load.LoadResult = {
    import spark.implicits._

    // 1. playlist page → top-N song URLs, order carried explicitly
    val html = fetcher.fetch(cfg.playlistSource) match {
      case Sources.Html(b) => b
      case _ => throw new Sources.UnexpectedContentTypeError(
        s"playlist source '${cfg.playlistSource}' did not return HTML")
    }
    val ids = Sources.songUrlsFromPlaylistHtml(
        Seq(("spotify", html)).toDF("page_id", "html"), limit = cfg.topN)
      .orderBy("position")
      .select(Sources.trackIdFromUrl(col("song_url"))).as[String].collect().toSeq
    if (ids.length != cfg.topN)
      throw new SongDataNotFoundError(
        s"Ranking data is missing: expected ${cfg.topN} songs, got ${ids.length}.")

    // 2. batched track lookup; batch_id is the request ordinal
    val responses = ids.grouped(cfg.batchSize).zipWithIndex.map { case (g, i) =>
      val url =
        if (cfg.tracksSource.contains("{ids}"))
          cfg.tracksSource.replace("{ids}", g.mkString(","))
        else cfg.tracksSource
      fetcher.fetch(url, bearerToken) match {
        case Sources.Json(b) => (i.toLong, b)
        case _ => throw new Sources.UnexpectedContentTypeError(
          s"tracks source '$url' did not return JSON")
      }
    }.toSeq
    val docs = Sources.songDocsFromTracksJson(
      responses.toDF("batch_id", "body"), batchSize = cfg.batchSize)

    // 3. FK-ordered load over the committed state; the parquet commit
    //    IS the between-days checkpoint (no in-memory lineage survives
    //    a day boundary — PipelineE2ESpec's chained-plan lesson).
    //    loadBatch executes each stage once and commits nothing, so
    //    everything below reads the rows it holds on the driver
    val fmt = backend(spark, cfg.storeRoot)
    val (db, manifestBase, pinned) = loadDb(spark, fmt)
    val res = Load.loadBatch(db, docs, java.sql.Date.valueOf(cfg.date))
    // the abort contract covers BOTH fetch stages: a tracks response
    // that silently dropped an id (under-full is legal per batch —
    // only OVER-full raises in the parser) must abort the run before
    // anything commits, not load a short day. The docs are held: this
    // reads their rows and runs no job
    val nDocs = res.docs.collect().length
    if (nDocs != cfg.topN)
      throw new SongDataNotFoundError(
        s"Ranking data is missing: track lookup returned $nDocs of ${cfg.topN} songs.")
    // the waves below touch these objects: initialise them on this
    // thread first (see graft.operators.Wave)
    (graft.etl.ManifestParquet, Render, Music, graft.operators.ExactRank): Unit
    val pins = persist(spark, fmt, res, pinned, manifestBase)

    // 4. S11 CSV append sinks: the four RETURNING sets, ranking with
    //    the snapshot-derived ranking_id export column
    val sinks = cfg.csvDir.toSeq.flatMap { dir =>
      // each frame is built inside its member: withRankingIds runs a job
      def sink(table: String)(df: => DataFrame) =
        () => Load.appendCsv(df, s"$dir/$table.csv")
      Seq(
        sink("artist")(res.insertedArtists),
        sink("song")(res.insertedSongs),
        sink("artist_song_map")(res.insertedMaps),
        sink("ranking")(Music.withRankingIds(res.insertedRankings)
          .select(col("ranking_id"), col("isrc"),
            date_format(col("ranking_date"), "yyyy-MM-dd").as("ranking_date"),
            col("rank"), col("ranking_source"))))
    }

    // 5. render from the COMMITTED store, exactly as the reference's
    //    separate render job queries the database after the load: the
    //    versions the manifest now pins are the ones persist returned
    //    (ManifestStore invariant 2). The ranking read is range-pruned
    //    to the only two chart dates the render can reference — O(day),
    //    not O(history), against a backfilled archive
    lazy val md = Render.renderForDate(
      renderDbOf(fmt, pins, dbAt(fmt, pins), cfg.date), cfg.date)
    // 4 and 5 run as one wave; the README is written only once it succeeded
    Wave.run(spark)(sinks :+ (() => md))
    Files.write(Paths.get(cfg.renderPath), md.getBytes("UTF-8"))
    res
  }

  /** The render's input state: the committed db with the ranking fact
    * restricted to [date−1, date]. EXACT by the consecutive-day gate:
    * `allRankingsWithDelta`'s LAG contributes a delta only when the
    * previous chart row is dated exactly date−1, so no older row can
    * influence the rendered date — the restriction changes the plan's
    * bytes, never its output (DailyEtlSpec pins byte-equality). */
  private[graft] def renderDbOf(fmt: TableFormat, pins: Map[String, Long],
      db: MusicDb, date: LocalDate): MusicDb =
    if (pins.isEmpty) db
    else db.copy(ranking = fmt.readVersionRange("ranking", pins("ranking"),
      "ranking_date",
      Some(java.sql.Date.valueOf(date.minusDays(1))),
      Some(java.sql.Date.valueOf(date))))

  private[graft] def accessTokenFromJson(body: String): String = {
    val re = """"access_token"\s*:\s*"([^"]+)"""".r
    re.findFirstMatchIn(body).map(_.group(1)).getOrElse(
      throw new Sources.UnexpectedContentTypeError(
        "token response carried no access_token"))
  }

  /** The reference's `config.ini` keys resolved into a [[Config]]:
    * playlist URL from `[DEFAULT] SPOTIFY_PLAYLIST_URL`; tracks
    * source = `[API] SPOTIFY_BASE_API_URL` (trailing slash normalized,
    * `etl_pipeline.py:98-99`) + the reference's batched endpoint path
    * (`v1/tracks?ids=…`, `etl_pipeline.py:401`) as an `{ids}`
    * template; log level from `[LOGGING] LOGGING_LEVEL` with
    * Python→log4j name mapping (empty/NOTSET disables logging,
    * `etl_pipeline.py:105-107`; CRITICAL→FATAL, WARNING→WARN); the
    * OAuth2 token endpoint from `[API] SPOTIFY_TOKEN_API_URL`
    * (`etl_pipeline.py:95`) — credentials stay env-only, as the
    * reference keeps them in `.env`. Returns (config, log level,
    * token endpoint). */
  private[graft] def configFromIni(ini: graft.etl.IniConfig,
      storeRoot: String, date: LocalDate, renderPath: String,
      csvDir: Option[String]): (Config, String, Option[String]) = {
    val base0 = ini("API", "SPOTIFY_BASE_API_URL")
    val base = if (base0.endsWith("/")) base0 else base0 + "/"
    val logLevel = ini.get("LOGGING", "LOGGING_LEVEL") match {
      case None | Some("") | Some("NOTSET") => "OFF"
      case Some("CRITICAL") => "FATAL"
      case Some("WARNING") => "WARN"
      case Some(l) => l
    }
    (Config(storeRoot, date, ini("DEFAULT", "SPOTIFY_PLAYLIST_URL"),
      s"${base}v1/tracks?ids={ids}", renderPath, csvDir), logLevel,
      ini.get("API", "SPOTIFY_TOKEN_API_URL"))
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: DailyEtl <storeRoot> <yyyy-MM-dd> <playlistSource> " +
      "<tracksSource> <renderPath> [csvDir] | DailyEtl --config <config.ini> " +
      "<storeRoot> <yyyy-MM-dd> <renderPath> [csvDir]"
    val (cfg, logLevel, iniTokenUrl) = args.toSeq match {
      case Seq("--config", ini, storeRoot, date, renderPath, rest @ _*)
          if rest.length <= 1 =>
        configFromIni(graft.etl.IniConfig.load(ini), storeRoot,
          LocalDate.parse(date), renderPath, rest.headOption)
      case s if s.length == 5 || s.length == 6 =>
        (Config(args(0), LocalDate.parse(args(1)), args(2), args(3),
          args(4), args.lift(5)), "WARN", None)
      case _ => sys.error(usage)
    }
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel(logLevel)
    val http = new Sources.HttpFetcher()
    val file = new Sources.FileFetcher(Map.empty)
    val fetcher: Sources.Fetcher = new Sources.Fetcher {
      def fetch(url: String, tok: Option[String]): Sources.Fetched =
        if (url.matches("^https?://.*")) http.fetch(url, tok)
        else file.fetch(url, tok)
    }
    // S3: only when a token endpoint + credentials are configured —
    // the endpoint from config.ini's [API] SPOTIFY_TOKEN_API_URL (the
    // reference's source for it) or the GRAFT_TOKEN_URL env;
    // credentials are env-only, never a config file
    val token = for {
      tokenUrl <- iniTokenUrl.orElse(sys.env.get("GRAFT_TOKEN_URL"))
      id <- sys.env.get("GRAFT_CLIENT_ID")
      secret <- sys.env.get("GRAFT_CLIENT_SECRET")
    } yield accessTokenFromJson(
      http.postForm(tokenUrl, Sources.clientCredentialsHeader(id, secret),
        Map("grant_type" -> "client_credentials")).body)
    val res = run(spark, fetcher, cfg, token)
    // the RETURNING sets are held: their sizes read held rows, no job
    def n(df: DataFrame) = df.collect().length
    println(s"[daily-etl] ${cfg.date}: " +
      s"artists+${n(res.insertedArtists)} songs+${n(res.insertedSongs)} " +
      s"maps+${n(res.insertedMaps)} rankings+${n(res.insertedRankings)} " +
      s"-> ${cfg.renderPath}")
    spark.stop()
  }
}
