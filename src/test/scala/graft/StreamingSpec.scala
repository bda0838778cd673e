package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingCharts
import graft.streaming.StreamingCharts.{Appearance, Streak}

/** Top-level so Spark can derive an Encoder without an outer
  * instance. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** Streaming semantics: watermarked daily aggregation, cross-batch
  * dedup, keyed streak state, and batch/stream parity of the ranking
  * pipeline. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked daily scores emit completed days once, summed exactly") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingCharts.dailyScores(in.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("daily_scores_t").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 7, "click", 1.50),
      Ev(2, ts("2024-01-01 11:00:00"), 7, "click", 2.25),
      Ev(2, ts("2024-01-01 11:00:00"), 7, "click", 2.25), // dup event_id
      Ev(3, ts("2024-01-01 12:00:00"), 8, "click", 9.00))
    q.processAllAvailable()
    // advance watermark past day 1 (watermark = 2 days)
    in.addData(Ev(9, ts("2024-01-04 00:00:01"), 7, "click", 1.00))
    q.processAllAvailable()
    val got = spark.table("daily_scores_t")
      .select($"date".cast("string"), $"entity_id", $"score".cast("string"))
      .as[(String, Long, String)].collect().toSet
    q.stop()
    assert(got === Set(("2024-01-01", 7L, "3.75"), ("2024-01-01", 8L, "9.00")))
  }

  test("streak state counts consecutive chart days, resets on gaps") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Appearance]
    val q = StreamingCharts.trackStreaks(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("streaks_t").start()
    in.addData(
      Appearance("Spotify", 1L, Date.valueOf("2024-01-01")),
      Appearance("Spotify", 1L, Date.valueOf("2024-01-02")))
    q.processAllAvailable()
    in.addData(
      Appearance("Spotify", 1L, Date.valueOf("2024-01-03")),
      Appearance("Spotify", 1L, Date.valueOf("2024-01-05")), // gap resets
      Appearance("Apple Music", 1L, Date.valueOf("2024-01-05"))) // isolated key
    q.processAllAvailable()
    val got = spark.table("streaks_t").as[Streak].collect()
      .map(s => (s.platform, s.entity_id, s.date.toString, s.streak)).toSet
    q.stop()
    assert(got === Set(
      ("Spotify", 1L, "2024-01-01", 1),
      ("Spotify", 1L, "2024-01-02", 2),
      ("Spotify", 1L, "2024-01-03", 3),
      ("Spotify", 1L, "2024-01-05", 1),
      ("Apple Music", 1L, "2024-01-05", 1)))
  }

  test("streak state ignores a late cross-batch appearance instead of regressing") {
    implicit val sqlCtx = spark.sqlContext
    val droppedBefore = StreamingCharts.droppedLateRows(spark)
    val in = MemoryStream[Appearance]
    val q = StreamingCharts.trackStreaks(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("streaks_late_t").start()
    in.addData(
      Appearance("Spotify", 1L, Date.valueOf("2024-01-08")),
      Appearance("Spotify", 1L, Date.valueOf("2024-01-09")),
      Appearance("Spotify", 1L, Date.valueOf("2024-01-10")))
    q.processAllAvailable()
    // a LATE Jan 5 row in the next micro-batch: nothing upstream
    // watermarks this stream, so the fold itself must drop it — a
    // reset here would make Jan 11 restart at 1 instead of reaching 4
    in.addData(
      Appearance("Spotify", 1L, Date.valueOf("2024-01-05")),
      Appearance("Spotify", 1L, Date.valueOf("2024-01-11")))
    q.processAllAvailable()
    val got = spark.table("streaks_late_t").as[Streak].collect()
      .map(s => (s.date.toString, s.streak)).toSet
    q.stop()
    assert(got === Set(
      ("2024-01-08", 1), ("2024-01-09", 2), ("2024-01-10", 3),
      ("2024-01-11", 4))) // late Jan 5 emitted nothing, state intact
    // the drop is OBSERVABLE, not silent: monitoring must be able to
    // tell "no backfills" from "backfills being discarded"
    assert(StreamingCharts.droppedLateRows(spark) === droppedBefore + 1)
  }

  test("ranking sink is idempotent under micro-batch replay (at-least-once foreachBatch)") {
    val store = new StreamingCharts.RankingStore(spark)
    val day = Seq((Date.valueOf("2024-01-01"), "click", 7L, "9.5"))
      .toDF("date", "platform", "entity_id", "score")
      .select($"date", $"platform", $"entity_id", $"score".cast("decimal(14,2)"))
    // simulate the crash-replay: the same batch id commits twice
    store.appendOnce(0L, StreamingCharts.rankBatch(day))
    store.appendOnce(0L, StreamingCharts.rankBatch(day))
    store.appendOnce(1L, StreamingCharts.rankBatch(day)) // a real new batch
    assert(store.snapshot().count() == 2)
  }

  test("durable ranking ledger survives a driver restart: cross-crash replay commits nothing") {
    val root = java.nio.file.Files.createTempDirectory("rankstore").toString
    val day = Seq((Date.valueOf("2024-01-01"), "click", 7L, "9.5"))
      .toDF("date", "platform", "entity_id", "score")
      .select($"date", $"platform", $"entity_id", $"score".cast("decimal(14,2)"))
    val s1 = new StreamingCharts.DurableRankingStore(spark, root)
    s1.appendOnce(0L, StreamingCharts.rankBatch(day))
    s1.appendOnce(0L, StreamingCharts.rankBatch(day)) // same-JVM replay: no-op
    // "crash" between sink write and checkpoint commit, then driver
    // restart: a FRESH store instance over the same root — all
    // in-memory state gone, the ledger must come back from the table
    val s2 = new StreamingCharts.DurableRankingStore(spark, root)
    assert(s2.committedBatchIds() === Set(0L))
    s2.appendOnce(0L, StreamingCharts.rankBatch(day)) // cross-crash replay: no-op
    s2.appendOnce(1L, StreamingCharts.rankBatch(day)) // a real new batch
    assert(s2.snapshot().count() === 2)
    assert(s2.committedBatchIds() === Set(0L, 1L))
    // the second batch is an O(batch) append, not a rewrite: its
    // version still lists the first batch's data dir, plus its own
    val mp = new graft.etl.ManifestParquet(spark, root)
    val firstDir = mp.manifestEntries("rankings", 1L).head.takeWhile(_ != ' ')
    val entries = mp.manifestEntries("rankings", s2.storeVersion)
    assert(entries.size === 2)
    assert(entries.head.takeWhile(_ != ' ') === firstDir)
    // and a THIRD rehydration still sees exactly the committed state
    val s3 = new StreamingCharts.DurableRankingStore(spark, root)
    assert(s3.snapshot().count() === 2)
    assert(s3.snapshot().columns.toSeq ===
      Seq("date", "platform", "entity_id", "rank"))

    // an EMPTY micro-batch enters the ledger too: its replay must not
    // mint a new identical table version (unbounded churn), and the
    // rehydrated ledger must know it committed
    val emptyBatch = StreamingCharts.rankBatch(day.where($"entity_id" < 0))
    s3.appendOnce(2L, emptyBatch)
    val vAfterEmpty = s3.storeVersion
    s3.appendOnce(2L, emptyBatch) // same-JVM replay: no new version
    assert(s3.storeVersion === vAfterEmpty)
    val s4 = new StreamingCharts.DurableRankingStore(spark, root)
    s4.appendOnce(2L, emptyBatch) // cross-restart replay: no new version
    assert(s4.storeVersion === vAfterEmpty)
    assert(s4.committedBatchIds() === Set(0L, 1L, 2L))
    assert(s4.snapshot().count() === 2) // sentinel rows never surface
  }

  test("streaming curation applies the batch language gate (und dropped)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val q = graft.streaming.StreamingCuration.curateStream(docs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("curated_lang_t").start()
    in.addData(
      // recognizable English, high quality → kept
      (1L, "the quick brown fox jumps over a lazy dog in the field", ts("2024-01-01 10:00:00")),
      // no stopword set recognizes digit text → predicted "und", out
      // in BOTH cadences (token count and quality alone would pass it)
      (2L, "111 222 333 444 555 666 777 888 999 000", ts("2024-01-01 10:01:00")))
    q.processAllAvailable()
    val got = spark.table("curated_lang_t").select($"doc_id").as[Long].collect().toSet
    q.stop()
    assert(got == Set(1L))
  }

  test("streaming session windows merge within the gap and agree with the batch sessionizer") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingCharts.sessionStats(in.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions_t").start()
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
      Ev(2, ts("2024-01-01 10:29:00"), 7, "click", 1.0), // merges (29 min)
      Ev(3, ts("2024-01-01 11:30:00"), 7, "click", 1.0), // 61 min → new session
      Ev(4, ts("2024-01-01 10:00:00"), 8, "click", 1.0)) // other user isolated
    in.addData(evs: _*)
    q.processAllAvailable()
    in.addData(Ev(9, ts("2024-01-04 00:00:01"), 9, "click", 1.0)) // advance watermark
    q.processAllAvailable()
    val got = spark.table("sessions_t")
      .select($"user_id", $"session_start".cast("string"),
        $"last_event".cast("string"), $"n_events")
      .as[(Long, String, String, Long)].collect().toSet
    q.stop()
    assert(got === Set(
      (7L, "2024-01-01 10:00:00", "2024-01-01 10:29:00", 2L),
      (7L, "2024-01-01 11:30:00", "2024-01-01 11:30:00", 1L),
      (8L, "2024-01-01 10:00:00", "2024-01-01 10:00:00", 1L)))
    // batch operator over the same events: same sessions (start,
    // last event, count) — streaming end = last + gap by definition
    val batch = graft.operators.Sessionize.sessionStats(
      evs.toDF().select($"user_id", $"event_id", $"ts"),
      "user_id", "ts", "event_id", 30L * 60 * 1000000)
      .select($"user_id", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events")
      .as[(Long, String, String, Long)].collect().toSet
    assert(batch === got)
  }

  test("streaming curation: content dedup within watermark + quality gates, batch-consistent") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val q = graft.streaming.StreamingCuration.curateStream(docs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("curated_t").start()
    val good = "the quick brown fox jumps over the lazy dog in a field"
    in.addData(
      (1L, good, ts("2024-01-01 10:00:00")),
      (2L, good, ts("2024-01-01 11:00:00")),            // exact dup → dropped
      (3L, "a a a a a a a a a a", ts("2024-01-01 10:05:00")), // low quality
      (4L, "too short", ts("2024-01-01 10:06:00")),     // under minTokens
      (5L, good + " again", ts("2024-01-01 10:07:00")))
    q.processAllAvailable()
    val got = spark.table("curated_t").select($"doc_id").as[Long].collect().toSet
    q.stop()
    assert(got == Set(1L, 5L))
    // the quality value matches the batch operator's for the same text
    val batchQ = graft.text.TextOps.qualityScore(
      Seq((1L, good)).toDF("doc_id", "text")).select("quality").head().getDouble(0)
    val streamQ = spark.table("curated_t")
      .where($"doc_id" === 1L).select("quality").head().getDouble(0)
    assert(batchQ == streamQ)
  }

  test("streaming SCD2 sink: two micro-batches equal two sequential batch merges") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit}
    val dim0 = Seq((1L, "A", Date.valueOf("2024-01-01"), Option.empty[Date]),
      (2L, "B", Date.valueOf("2024-01-01"), Option.empty[Date]))
      .toDF("k", "v", "valid_from", "valid_to")
    def eff(id: Long) = lit(s"2024-06-0${id + 1}").cast("date")

    var streamed = dim0
    val in = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.StreamingDim.scd2Sink(
      in.toDF().toDF("k", "v", "upd_seq"), Seq("k"), Seq("v"),
      Seq(col("upd_seq").desc), eff)(
      () => streamed, df => streamed = df.drop("is_current").localCheckpoint(true))
      .start()
    // batch 0: two updates for k=1 — precedence (latest upd_seq) wins
    in.addData((1L, "IGNORED", 1L), (1L, "A2", 2L)); q.processAllAvailable()
    in.addData((1L, "A2", 3L), (3L, "C", 4L)); q.processAllAvailable() // no-op + new key
    q.stop()

    var batched = dim0
    Seq(Seq((1L, "A2")), Seq((1L, "A2"), (3L, "C"))).zipWithIndex.foreach { case (rows, i) =>
      batched = graft.operators.Scd2.merge(
        batched, rows.toDF("k", "v"), Seq("k"), Seq("v"), eff(i.toLong))
        .drop("is_current")
    }
    val a = streamed.orderBy("k", "valid_from").collect().toSeq
    val b = batched.orderBy("k", "valid_from").collect().toSeq
    assert(a == b)
    // the no-op replay of (1, A2) in batch 1 minted no extra version
    assert(a.count(_.getLong(0) == 1L) == 2)
  }

  test("streaming incremental dedup vs static band index matches the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.where($"doc_id" % 4 =!= 0)
    val arriving = docs.where($"doc_id" % 4 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val index = graft.text.TextOps.lshBandRows(corpus, 3, 16, 8)
    val expected = graft.text.TextOps
      .minhashDupAgainstIndex(index, docs.where($"doc_id" % 4 === 0), 3, 16, 8, 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet

    val in = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.Set[(Long, Long, Double)]()
    val q = graft.streaming.StreamingDedup.dupsAgainstIndex(
      in.toDF().toDF("doc_id", "text"), index, 3, 16, 8, 0.5) { (dups, _) =>
      results ++= dups.select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
    }.start()
    // two micro-batches: the split must not change results (all heavy
    // state is the static index; per-batch candidate dedup is exact)
    val (first, second) = arriving.splitAt(arriving.size / 2)
    in.addData(first); q.processAllAvailable()
    in.addData(second); q.processAllAvailable()
    q.stop()
    assert(results.toSet == expected)
    assert(expected.nonEmpty)
  }

  test("streaming phash image dedup vs static index is batch-split invariant and equals the batch probe") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.table(spark, sf, "documents")
    def assets(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id".as("asset_id"), encode($"text", "UTF-8").as("media"))
    val index = graft.multimodal.Multimodal.phashBandRows(
      assets(docs.where($"doc_id" % 4 =!= 0)))
    val arrivingRows = assets(docs.where($"doc_id" % 4 === 0))
      .as[(Long, Array[Byte])].collect().toSeq
    val expected = graft.multimodal.Multimodal.phashNearPairsAgainstIndex(
        index, graft.multimodal.Multimodal.phashBandRows(
          assets(docs.where($"doc_id" % 4 === 0))))
      .as[(Long, Long, Int)].collect().toSet
    assert(expected.nonEmpty)
    val in = MemoryStream[(Long, Array[Byte])]
    val results = scala.collection.mutable.Set[(Long, Long, Int)]()
    val q = graft.streaming.StreamingDedup.phashDupsAgainstIndex(
      in.toDF().toDF("asset_id", "media"), index) { (dups, _) =>
      results ++= dups.as[(Long, Long, Int)].collect()
    }.start()
    // two micro-batches: the split must not change results (all heavy
    // state is the static index; the probe is stateless)
    val (first, second) = arrivingRows.splitAt(arrivingRows.size / 2)
    in.addData(first); q.processAllAvailable()
    in.addData(second); q.processAllAvailable()
    q.stop()
    assert(results.toSet == expected)
  }

  test("streaming ANN serving vs the static IVF index is batch-split invariant and equals the batch probe") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val emb = graft.io.Tables.table(spark, sf, "embeddings")
    // the persisted index q_ann_ivf_incremental maintains: quantizer
    // trained on the prior slice, postings over the full collection
    val centroids = graft.vector.IvfIndex.train(emb.where($"vec_id" % 4 =!= 0), 8, 2)
    val postings = graft.vector.IvfIndex.assign(emb, centroids).localCheckpoint(true)
    val queries = emb.where($"vec_id" % 100 === 0)
    val expected = graft.vector.IvfIndex
      .topKOverPostings(postings, queries, centroids, nProbe = 2, k = 5)
      .select($"query_id", $"rank".cast("long"), $"neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    val queryRows = queries.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    for (nSplits <- Seq(1, 3)) {
      val in = MemoryStream[(Long, Seq[Float])]
      val results = scala.collection.mutable.Set[(Long, Long, Long)]()
      val q = graft.streaming.StreamingAnn.topKAgainstIndex(
        in.toDF().toDF("vec_id", "embedding"), postings, centroids, 2, 5) { (topk, _) =>
        results ++= topk.select($"query_id", $"rank".cast("long"), $"neighbor_id")
          .as[(Long, Long, Long)].collect()
      }.start()
      // the split must not change results: a query's answer depends
      // only on the static index, never on other stream elements
      queryRows.grouped(math.max(1, queryRows.size / nSplits + 1)).foreach { b =>
        in.addData(b: _*); q.processAllAvailable()
      }
      q.stop()
      assert(results.toSet === expected)
    }
    graft.operators.CheckpointBlocks.free(postings)
  }

  test("streaming cluster maintenance through TableFormat equals a from-scratch components run") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val allPairs = graft.text.TextOps.minhashDupPairs(
        graft.io.Tables.table(spark, sf, "documents"), 3, 16, 8, 0.5)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(allPairs.nonEmpty)
    val fmt = new graft.etl.ManifestParquet(spark,
      java.nio.file.Files.createTempDirectory("cluster_maint").toString)
    val in = MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamingDedup.clusterMaintenance(
        in.toDF().toDF("a", "b"), fmt, "clusters")
      .start()
    allPairs.grouped(math.max(1, allPairs.size / 3 + 1)).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    // one committed version per non-empty micro-batch; the final one
    // is bit-equal to clustering every pair seen from scratch
    assert(fmt.currentVersion("clusters") >= 3)
    val live = fmt.read("clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val scratch = graft.operators.Components.connectedComponents(
        allPairs.toDF("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live == scratch)
  }

  test("stream-stream interval join: views within the hour attach, older ones age out") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[Ev]
    val vIn = MemoryStream[Ev]
    val q = StreamingCharts.purchaseViewJoin(pIn.toDF(), vIn.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("pv_join_t").start()
    vIn.addData(
      Ev(10, ts("2024-01-01 09:30:00"), 7, "view", 1.0), // 30 min before → joins
      Ev(11, ts("2024-01-01 08:30:00"), 7, "view", 1.0), // 90 min before → outside interval
      Ev(12, ts("2024-01-01 09:45:00"), 8, "view", 1.0)) // other user
    pIn.addData(Ev(1, ts("2024-01-01 10:00:00"), 7, "purchase", 5.0))
    q.processAllAvailable()
    // advance both watermarks so the left-outer null side emits
    vIn.addData(Ev(98, ts("2024-01-01 23:00:00"), 9, "view", 1.0))
    pIn.addData(
      Ev(2, ts("2024-01-01 13:00:00"), 7, "purchase", 5.0), // no view in window
      Ev(99, ts("2024-01-01 23:00:00"), 9, "purchase", 1.0))
    q.processAllAvailable()
    vIn.addData(Ev(100, ts("2024-01-02 12:00:00"), 9, "view", 1.0))
    pIn.addData(Ev(101, ts("2024-01-02 12:00:00"), 9, "purchase", 1.0))
    q.processAllAvailable()
    val got = spark.table("pv_join_t")
      .where($"purchase_id".isin(1L, 2L))
      .select($"purchase_id", $"view_id")
      .as[(Long, Option[Long])].collect().toSet
    q.stop()
    assert(got === Set((1L, Some(10L)), (2L, None)))
  }

  test("transformWithState streaks match the flatMapGroupsWithState form") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // the new arbitrary-state API requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Appearance]
      val q = StreamingCharts.trackStreaksV2(in.toDS())
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("streaks_v2_t").start()
      in.addData(
        Appearance("Spotify", 1L, Date.valueOf("2024-01-01")),
        Appearance("Spotify", 1L, Date.valueOf("2024-01-02")))
      q.processAllAvailable()
      in.addData(
        Appearance("Spotify", 1L, Date.valueOf("2024-01-03")),
        Appearance("Spotify", 1L, Date.valueOf("2024-01-05")), // gap resets
        Appearance("Apple Music", 1L, Date.valueOf("2024-01-05")))
      q.processAllAvailable()
      val got = spark.table("streaks_v2_t")
        .select($"platform", $"date".cast("string"), $"streak")
        .as[(String, String, Int)].collect().toSet
      q.stop()
      assert(got === Set(
        ("Spotify", "2024-01-01", 1),
        ("Spotify", "2024-01-02", 2),
        ("Spotify", "2024-01-03", 3),
        ("Spotify", "2024-01-05", 1),
        ("Apple Music", "2024-01-05", 1)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("foreachBatch ranking sink matches the batch ranking on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      (1 to 15).map(i =>
        Ev(i.toLong, ts("2024-01-01 10:00:00"), i.toLong, "click", 100.0 - i)): _*)
    val store = new StreamingCharts.RankingStore(spark)
    val scored = StreamingCharts.dailyScores(in.toDF(), watermark = "0 seconds")
    val q = StreamingCharts.rankingSink(scored, store)
    q.processAllAvailable()
    // push watermark forward so day 1 closes, then drain again
    in.addData(Ev(99, ts("2024-01-03 00:00:01"), 99, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val streamed = store.snapshot()
      .select($"date".cast("string"), $"platform", $"entity_id", $"rank")
      .as[(String, String, Long, Int)].collect().toSet
    val batch = graft.queries.ChartQueries.rankings(
      (1 to 15).map(i => (i.toLong, ts("2024-01-01 10:00:00"), i.toLong, "click", 100.0 - i))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select($"date".cast("string"), $"platform", $"entity_id", $"rank")
      .as[(String, String, Long, Int)].collect().toSet
    assert(batch.subsetOf(streamed))
    assert(streamed.map(_._1).contains("2024-01-01"))
  }

  test("ranking sink persists through the durable store end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ranksink_durable").toString
    val in = MemoryStream[Ev]
    in.addData(
      (1 to 15).map(i =>
        Ev(i.toLong, ts("2024-01-01 10:00:00"), i.toLong, "click", 100.0 - i)): _*)
    val store = new StreamingCharts.DurableRankingStore(spark, root)
    val q = StreamingCharts.rankingSink(
      StreamingCharts.dailyScores(in.toDF(), watermark = "0 seconds"), store)
    q.processAllAvailable() // day 1 still open: empty batches ledger too
    in.addData(Ev(99, ts("2024-01-03 00:00:01"), 99, "click", 1.0))
    q.processAllAvailable() // watermark closes day 1
    q.stop()
    // a FRESH driver's store over the same root sees the committed
    // ranked days and the batch ledger — the full foreachBatch →
    // manifest-table path, not just appendOnce in isolation
    val rehydrated = new StreamingCharts.DurableRankingStore(spark, root)
    val day1 = rehydrated.snapshot()
      .where($"date".cast("string") === "2024-01-01")
      .select($"entity_id", $"rank").as[(Long, Int)].collect().toMap
    assert(day1.size === 10) // top-10 of the 15 scored users
    assert(day1(1L) === 1) // user 1 had the highest day-1 score
    assert(rehydrated.committedBatchIds().nonEmpty)
  }

  test("streaming PSI monitor converges to the batch PSI under any batch split") {
    import graft.streaming.StreamingDrift
    import graft.streaming.StreamingDrift.{PsiRow, TokenRow}
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val toks = StreamingDrift.tokenRows(
      graft.io.Tables.table(spark, sf, "documents")).collect().toSeq
    val in = MemoryStream[TokenRow]
    val q = StreamingDrift.psiMonitor(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("psi_t").start()
    toks.grouped(math.max(1, toks.size / 3 + 1)).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val all = spark.table("psi_t").as[PsiRow].collect()
    val latest = all.groupBy(_.source).toSeq.map { case (_, rs) =>
      val r = rs.maxBy(_.version)
      (r.source, r.n_ref_tokens, r.n_cur_tokens, r.psi)
    }.toSet
    val batch = graft.queries.SelectionQueries.q_psi(spark, sf)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(latest === batch && batch.nonEmpty)
  }

  test("streaming BM25 stats equal the batch stats row under any split") {
    import graft.streaming.StreamingIndexStats
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.table(spark, sf, "documents")
    val batch = graft.queries.PipelineQueries
      .bm25Stats(graft.queries.PipelineQueries.bm25BaseFrame(docs))
      .collect().toSeq.map(r => (0 until r.length).map(r.get))
    val rows = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val sq = StreamingIndexStats.bm25StatsStream(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("bm25_t").start()
    rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { b =>
      in.addData(b: _*); sq.processAllAvailable()
    }
    sq.stop()
    val got = spark.table("bm25_t").collect().toSeq
      .map(r => (0 until r.length).map(r.get))
    assert(got == batch && batch.nonEmpty)
  }

  test("streaming k-means cell state equals the batch fold under any split") {
    import graft.streaming.StreamingKMeans
    import graft.vector.DistributedKMeans
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val emb = graft.io.Tables.table(spark, sf, "embeddings")
    val scale = 1000000L
    val q = DistributedKMeans.quantized(emb, scale).localCheckpoint(true)
    val cents = DistributedKMeans.train(q, k = 4, iters = 2)
    val batch = StreamingKMeans.flatten(DistributedKMeans.stateOf(q, cents)).toSet
    val rows = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    for (nSplits <- Seq(1, 3)) {
      val in = MemoryStream[(Long, Seq[Float])]
      val sq = StreamingKMeans.cellStateStream(
          in.toDF().toDF("vec_id", "embedding"), cents, scale)
        .writeStream.outputMode(OutputMode.Complete())
        .format("memory").queryName(s"km_t$nSplits").start()
      rows.grouped(math.max(1, rows.size / nSplits + 1)).foreach { b =>
        in.addData(b: _*); sq.processAllAvailable()
      }
      sq.stop()
      val got = spark.table(s"km_t$nSplits")
        .as[(Int, Int, Long, Long)].collect().toSet
      assert(got === batch && batch.nonEmpty)
    }
  }

  test("streaming weighted reservoir converges to the batch weighted sample") {
    import graft.streaming.StreamingMix
    import graft.streaming.StreamingMix.{DocRow, Pick}
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.table(spark, sf, "documents")
      .select($"doc_id", $"source", $"n_chars").as[DocRow].collect().toSeq
    val in = MemoryStream[DocRow]
    val q = StreamingMix.weightedReservoir(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("wres_t").start()
    // arbitrary batch split — the reservoir must not care
    docs.grouped(math.max(1, docs.size / 3 + 1)).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    // Update mode appends each re-emission; keep each source's LAST
    val all = spark.table("wres_t").as[Pick].collect()
    val latest = all.groupBy(_.source).toSeq.flatMap { case (_, ps) =>
      val v = ps.map(_.version).max
      ps.filter(_.version == v).toSeq
    }.map(p => (p.source, p.pick, p.doc_id, p.n_chars, p.es_key)).toSet
    val batch = graft.queries.PipelineQueries.q_weighted_sample(spark, sf)
      .as[(String, Int, Long, Long, Double)].collect().toSet
    assert(latest === batch)
  }

  test("streaming HLL sketch maintenance converges to the batch sketch, arbitrary batch split") {
    import graft.operators.HllSketch
    implicit val sqlCtx = spark.sqlContext
    val events = (1 to 120).map(i =>
      Ev(i, ts(f"2024-01-01 ${10 + i % 8}%02d:00:00"), i % 47, "click", 1.0)) ++
      (1 to 90).map(i =>
        Ev(200 + i, ts("2024-01-02 09:00:00"), i % 31, "view", 1.0))
    def project(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_type").as("platform"), col("user_id"))
    val in = MemoryStream[Ev]
    // the EXACT batch operator code over an unbounded stream: max is
    // an update-mode streaming aggregate and sketch state is
    // intrinsically bounded (groups x 256), no watermark needed
    val q = HllSketch.sketch(project(in.toDF()), col("user_id"), Seq("platform"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("hll_sketch_t").start()
    events.grouped(45).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    val streamed = spark.table("hll_sketch_t")
      .as[(String, String, Long)].collect().toSet
    q.stop()
    val batchSketch = HllSketch.sketch(
      project(events.toDF()), col("user_id"), Seq("platform"))
    assert(streamed === batchSketch.as[(String, String, Long)].collect().toSet)
    // and the estimates derived from the streamed sketch match batch
    val estS = HllSketch.estimate(spark.table("hll_sketch_t"), Seq("platform"))
      .as[(String, Long, Double)].collect().toSet
    val estB = HllSketch.estimate(batchSketch, Seq("platform"))
      .as[(String, Long, Double)].collect().toSet
    assert(estS === estB && estS.nonEmpty)
  }

  test("streaming corpus fold through the store == the batch fold, under any micro-batch split") {
    import graft.text.Curation
    implicit val sqlCtx = spark.sqlContext
    val cfg = Curation.Config()
    val docs = graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .as[Doc].collect().toSeq.sortBy(_.doc_id)
    val evalDocs = docs.filter(_.doc_id % cfg.evalModulus == 0)

    def ledgerRows(root: String) =
      graft.etl.TableFormat.DefaultBackend(spark, root).read("corpus_flags")
        .select("doc_id", "n_tokens", "quality", "predicted", "is_eval",
          "is_exact_dup", "is_near_dup", "is_contaminated", "sampled_in", "kept")
        .orderBy("doc_id").collect().toSeq

    // batch reference: the two-day CorpusEtl fold (whose oracle —
    // q_curate_incremental — already pins it to one-shot curate)
    val batchRoot = java.nio.file.Files.createTempDirectory("graft_sfold_b").toString
    CorpusEtl.init(spark, batchRoot, evalDocs.toDF(), cfg)
    val mid = docs.map(_.doc_id).max / 2
    CorpusEtl.runBatch(spark, batchRoot, docs.filter(_.doc_id <= mid).toDF(), 1L, cfg)
    CorpusEtl.runBatch(spark, batchRoot, docs.filter(_.doc_id > mid).toDF(), 2L, cfg)

    // streaming run: same corpus through foreachBatch micro-batches
    // with a DIFFERENT (finer, uneven) ascending-id split
    val streamRoot = java.nio.file.Files.createTempDirectory("graft_sfold_s").toString
    CorpusEtl.init(spark, streamRoot, evalDocs.toDF(), cfg)
    val in = MemoryStream[Doc]
    val q = graft.streaming.StreamingCuration
      .corpusFoldSink(in.toDF(), streamRoot, cfg).start()
    val cuts = Seq(docs.size / 5, docs.size / 2, docs.size * 4 / 5, docs.size)
    var from = 0
    for (to <- cuts if to > from) {
      in.addData(docs.slice(from, to): _*)
      q.processAllAvailable()
      from = to
    }
    q.stop()

    assert(ledgerRows(streamRoot) == ledgerRows(batchRoot),
      "micro-batch fold must be bit-equal to the daily batch fold")
    // the stream committed more (smaller) batches; the kept SET is
    // identical and the audit ledger's arithmetic still closes
    val fmt = graft.etl.TableFormat.DefaultBackend(spark, streamRoot)
    assert(fmt.read("corpus_flags").count() == docs.size)
  }

  test("corpus fold sink skips an already-committed micro-batch id (at-least-once replay)") {
    import graft.text.Curation
    implicit val sqlCtx = spark.sqlContext
    val cfg = Curation.Config()
    val root = java.nio.file.Files.createTempDirectory("graft_sfold_r").toString
    val day = Seq(
      Doc(10L, "one perfectly ordinary document with enough words to pass the gates", "en", "web", 67L),
      Doc(11L, "another entirely different document about music charts and rankings", "en", "web", 66L))
    CorpusEtl.init(spark, root, day.take(0).toDF(), cfg)

    val in = MemoryStream[Doc]
    val q = graft.streaming.StreamingCuration
      .corpusFoldSink(in.toDF(), root, cfg).start()
    in.addData(day: _*)
    q.processAllAvailable()
    q.stop()
    val fmt = graft.etl.TableFormat.DefaultBackend(spark, root)
    val n1 = fmt.read("corpus_flags").count()
    val v1 = fmt.currentVersion("corpus_flags")

    // replay epoch 0 against the SAME store (a recovered sink
    // re-delivers the batch): the committed high-water mark must make
    // it a no-op — no duplicate ledger rows, no new version
    val in2 = MemoryStream[Doc]
    val q2 = graft.streaming.StreamingCuration
      .corpusFoldSink(in2.toDF(), root, cfg).start()
    in2.addData(day: _*)
    q2.processAllAvailable()
    q2.stop()
    assert(fmt.read("corpus_flags").count() == n1)
    assert(fmt.currentVersion("corpus_flags") == v1,
      "a replayed batch must not mint table versions")
  }
}
