package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.TableFormat
import graft.text.Curation

/** The store-backed daily corpus fold: batch-by-batch [[CorpusEtl]]
  * over a temp store must reproduce the one-shot [[Curation.curate]]
  * verdicts bit-for-bit (ascending-id batches, benchmark pinned from
  * the full corpus's eval slice — the `q_curate_incremental`
  * equivalence, driven through the real manifest/commit path). The
  * manifest must make racing runs loud, phantom half-days invisible,
  * and reused batch ids impossible. */
class CorpusEtlSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_corpus_etl").toString

  private val docs: DataFrame =
    graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")

  private def fmtOf(root: String): TableFormat =
    TableFormat.DefaultBackend(spark, root)

  private def flagRows(df: DataFrame) = df
    .select("doc_id", "n_tokens", "quality", "predicted", "is_eval",
      "is_exact_dup", "is_near_dup", "is_contaminated", "sampled_in", "kept")
    .orderBy("doc_id").collect().toSeq

  test("[manifest-parquet] two-day fold over the store == one-shot curate over the union") {
    val root = freshRoot()
    val cfg = Curation.Config()
    val mid = docs.agg(max($"doc_id")).head().getLong(0) / 2
    CorpusEtl.init(spark, root,
      docs.where($"doc_id" % cfg.evalModulus === 0), cfg)
    val a1 = CorpusEtl.runBatch(spark, root, docs.where($"doc_id" <= mid), 1L, cfg)
    val a2 = CorpusEtl.runBatch(spark, root, docs.where($"doc_id" > mid), 2L, cfg)

    val fmt = fmtOf(root)
    val ledger = fmt.read("corpus_flags")
    assert(flagRows(ledger) == flagRows(Curation.curate(docs, cfg)))

    // the audit is the ledger's arithmetic
    assert(a1.nIn + a2.nIn == docs.count())
    assert(a1.nKept + a2.nKept ==
      ledger.where($"kept").count())

    // the kept table is exactly the ledger's kept set, text attached
    val kept = fmt.read("corpus_kept")
    assert(kept.select("doc_id").orderBy("doc_id").as[Long].collect().toSeq ==
      ledger.where($"kept").orderBy("doc_id").select("doc_id").as[Long].collect().toSeq)
  }

  test("a daily commit writes O(batch) bytes against a much larger history") {
    val root = freshRoot()
    val cfg = Curation.Config()
    val cut = docs.agg(max($"doc_id")).head().getLong(0) * 9 / 10
    CorpusEtl.init(spark, root,
      docs.where($"doc_id" % cfg.evalModulus === 0), cfg)
    CorpusEtl.runBatch(spark, root, docs.where($"doc_id" <= cut), 1L, cfg)
    val before = graft.etl.Compaction.dataBytes(spark, root)
    CorpusEtl.runBatch(spark, root, docs.where($"doc_id" > cut), 2L, cfg)
    val appended = graft.etl.Compaction.dataBytes(spark, root) - before
    assert(appended > 0)
    // day 2 is ~10% of the corpus; an O(history) commit would write
    // ≥2× the history (flags + band index + hashes rewritten in full)
    assert(appended < before / 2,
      s"day-2 commit wrote $appended bytes over a $before-byte store — " +
        "append commits must track the batch, not the corpus")
  }

  test("cross-batch duplicates are caught through the committed state") {
    val root = freshRoot()
    val cfg = Curation.Config()
    val base = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today", "en", "web", 60L),
      (11L, "an entirely different document about music charts and rankings here", "en", "web", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // batch 2: 20 = exact copy of 10; 21 = near copy of 11; 22 = fresh
    val day2 = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again today", "en", "web", 60L),
      (21L, "an entirely different document about music charts and rankings there", "en", "web", 60L),
      (22L, "completely unrelated content with many unique words in this row", "en", "web", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CorpusEtl.init(spark, root, base.limit(0), cfg)
    CorpusEtl.runBatch(spark, root, base, 1L, cfg)
    val a2 = CorpusEtl.runBatch(spark, root, day2, 2L, cfg)
    assert(a2.nExactDup == 1L && a2.nNearDup >= 1L)
    val f = fmtOf(root).read("corpus_flags").where($"batch_id" === 2L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(f(20L).getAs[Boolean]("is_exact_dup"))
    assert(f(21L).getAs[Boolean]("is_near_dup"))
    assert(!f(22L).getAs[Boolean]("is_exact_dup") &&
      !f(22L).getAs[Boolean]("is_near_dup"))
  }

  test("forget erases a document everywhere and its content is judged fresh") {
    val root = freshRoot()
    val cfg = Curation.Config()
    val day1 = Seq(
      (10L, "remember me not this very distinctive document text right here", "en", "web", 60L),
      (11L, "an entirely different document about music charts and rankings here", "en", "web", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CorpusEtl.init(spark, root, day1.limit(0), cfg)
    CorpusEtl.runBatch(spark, root, day1, 1L, cfg)
    CorpusEtl.forget(spark, root, Seq(10L).toDF("doc_id"))

    val fmt = fmtOf(root)
    for (t <- Seq("content_hashes", "band_index", "corpus_flags", "corpus_kept"))
      assert(fmt.read(t).where($"doc_id" === 10L).isEmpty, s"doc 10 survives in $t")
    assert(fmt.read("corpus_flags").where($"doc_id" === 11L).count() == 1)

    // the forgotten content no longer blocks a future arrival; the
    // untouched doc 11 still does
    val day2 = Seq(
      (20L, "remember me not this very distinctive document text right here", "en", "web", 60L),
      (21L, "an entirely different document about music charts and rankings there", "en", "web", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CorpusEtl.runBatch(spark, root, day2, 2L, cfg)
    val f = fmt.read("corpus_flags").where($"batch_id" === 2L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!f(20L).getAs[Boolean]("is_exact_dup") &&
      !f(20L).getAs[Boolean]("is_near_dup"))
    assert(f(21L).getAs[Boolean]("is_near_dup"))
  }

  test("forget commits O(forget-set) bytes on the manifest backend — a deletion vector, not a history rewrite") {
    val root = freshRoot()
    val cfg = Curation.Config()
    CorpusEtl.init(spark, root,
      docs.where($"doc_id" % cfg.evalModulus === 0), cfg)
    CorpusEtl.runBatch(spark, root, docs, 1L, cfg)
    val before = graft.etl.Compaction.dataBytes(spark, root)
    val victims = docs.select("doc_id").orderBy("doc_id").limit(3)
    CorpusEtl.forget(spark, root, victims)
    val written = graft.etl.Compaction.dataBytes(spark, root) - before
    assert(written > 0, "the forget must stage its key sets")
    assert(written < before / 10,
      s"forget wrote $written bytes over a $before-byte store — erasure " +
        "must cost O(forget-set), not a rewrite of all four tables")
    // and it still erases: no read surfaces the victims
    val fmt = fmtOf(root)
    val ids = victims.as[Long].collect().toSeq
    for (t <- Seq("content_hashes", "band_index", "corpus_flags", "corpus_kept"))
      assert(fmt.read(t).where($"doc_id".isin(ids: _*)).isEmpty, s"victim survives in $t")
  }

  test("physical erasure receipt: forget + compact + vacuum leaves no file on disk carrying the forgotten doc") {
    val root = freshRoot()
    val cfg = Curation.Config()
    val day1 = Seq(
      (10L, "erase every physical trace of this very distinctive document text", "en", "web", 66L),
      (11L, "an entirely different document about music charts and rankings here", "en", "web", 67L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CorpusEtl.init(spark, root, day1.limit(0), cfg)
    CorpusEtl.runBatch(spark, root, day1, 1L, cfg)
    CorpusEtl.forget(spark, root, Seq(10L).toDF("doc_id"))

    // logical erasure: current reads clean, but the PRE-forget state
    // (manifest v2) still time-travels to doc 10 — its bytes are
    // still on disk, which is exactly what vacuum is for
    assert(CorpusEtl.tablesAsOf(spark, root, 2L)("corpus_flags")
      .where($"doc_id" === 10L).count() == 1)

    CorpusEtl.compactStore(spark, root) // materialize the tombstones
    val fmt = fmtOf(root)
    CorpusEtl.vacuumStore(spark, root, fmt.currentVersion("manifest"))

    // the receipt: every parquet dir still on disk, read DIRECTLY
    // (bypassing all manifests), carries no row of doc 10
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("content_hashes", "band_index", "corpus_flags", "corpus_kept");
         st <- fs.listStatus(new org.apache.hadoop.fs.Path(root, t))
         if st.getPath.getName != "_log") {
      val raw = spark.read.parquet(st.getPath.toString)
      assert(raw.columns.contains("doc_id"), s"unexpected dir layout in $t")
      assert(raw.where($"doc_id" === 10L).isEmpty,
        s"file bytes for doc 10 survive vacuum in $t/${st.getPath.getName}")
    }
    // the pre-forget manifests are gone with their files
    intercept[Exception] {
      CorpusEtl.tablesAsOf(spark, root, 2L)("corpus_flags").collect()
    }
    // the surviving doc and the store's function are intact
    assert(fmt.read("corpus_flags").select("doc_id").as[Long].collect().toSeq == Seq(11L))
    CorpusEtl.runBatch(spark, root,
      Seq((20L, "a brand new document arriving after the maintenance pass", "en", "web", 57L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), 2L, cfg)
    assert(fmt.read("corpus_flags").count() == 2)
  }

  test("maintenance cadence: 30 folded days under a policy keep manifests and files bounded, reads pruned, erasure physical") {
    val root = freshRoot()
    val cfg = Curation.Config()
    // 60 distinct synthetic docs, two per day for 30 days (ascending
    // ids, like a real daily feed) — small on purpose: the case is
    // about STORE growth under cadence, not the funnel
    def day(d: Int): DataFrame = Seq(
      (d * 10L, s"distinct document alpha for day $d with its own unique words", "en", "web", 60L),
      (d * 10L + 1L, s"distinct document beta for day $d carrying different content", "en", "web", 61L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CorpusEtl.init(spark, root, day(0).limit(0), cfg)
    val policy = CorpusEtl.MaintenancePolicy(compactEvery = 10L, retainManifests = 3L)
    var maintenanceRuns = 0
    for (d <- 1 to 30) {
      CorpusEtl.runBatch(spark, root, day(d), d.toLong, cfg)
      if (CorpusEtl.maintainOnCadence(spark, root, d.toLong, policy))
        maintenanceRuns += 1
      // the erasure whose receipt must survive the NEXT cadence point
      if (d == 15)
        CorpusEtl.forget(spark, root, Seq(150L).toDF("doc_id"))
    }
    assert(maintenanceRuns == 3)

    val fmt = fmtOf(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("content_hashes", "band_index", "corpus_flags", "corpus_kept")) {
      // reads still prune: the current plan lists at most the dirs
      // since the last compaction (1 compacted + ≤ cadence appends),
      // never the 30-day history
      val dirsRead = fmt.read(t).inputFiles
        .map(_.replaceAll("/[^/]*$", "")).distinct.length
      assert(dirsRead <= 11, s"$t read lists $dirsRead dirs — compaction not folding")
      // and the bytes on disk are bounded too: vacuum reclaimed the
      // pre-retention versions (31 commits + 3 compactions would be
      // 34 data dirs unvacuumed)
      val dirsOnDisk = fs.listStatus(new org.apache.hadoop.fs.Path(root, t))
        .count(st => st.isDirectory && st.getPath.getName != "_log")
      assert(dirsOnDisk <= 15, s"$t holds $dirsOnDisk dirs on disk — vacuum not reclaiming")
    }
    // nothing lost: every surviving day's rows are in the ledger
    assert(fmt.read("corpus_flags").count() == 59L) // 60 folded − 1 forgotten
    // the day-15 erasure became PHYSICAL at the day-20 cadence point:
    // no parquet dir on disk, read directly (bypassing manifests),
    // carries doc 150
    for (t <- Seq("content_hashes", "band_index", "corpus_flags", "corpus_kept");
         st <- fs.listStatus(new org.apache.hadoop.fs.Path(root, t))
         if st.isDirectory && st.getPath.getName != "_log") {
      val raw = spark.read.parquet(st.getPath.toString)
      assert(raw.where($"doc_id" === 150L).isEmpty,
        s"file bytes for forgotten doc 150 survive the cadence in $t/${st.getPath.getName}")
    }
    // the store still functions after three maintenance cycles
    CorpusEtl.runBatch(spark, root, day(31), 31L, cfg)
    assert(fmt.read("corpus_flags").count() == 61L)
  }

  test("forgetting one copy never unblocks its surviving exact copies") {
    val root = freshRoot()
    val cfg = Curation.Config()
    val textX = "the same duplicated content appears in two separate documents today"
    val day1 = Seq(
      (30L, textX, "en", "web", 60L), (31L, textX, "en", "web", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CorpusEtl.init(spark, root, day1.limit(0), cfg)
    CorpusEtl.runBatch(spark, root, day1, 1L, cfg)
    CorpusEtl.forget(spark, root, Seq(30L).toDF("doc_id"))
    CorpusEtl.runBatch(spark, root,
      Seq((40L, textX, "en", "web", 60L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), 2L, cfg)
    val fmt = fmtOf(root)
    val f40 = fmt.read("corpus_flags").where($"doc_id" === 40L).head()
    assert(f40.getAs[Boolean]("is_exact_dup"),
      "doc 31's surviving probe row must still block new copies")

    // time travel: the day-1 state (manifest v2 — init was v1) still
    // shows doc 30's ledger row; the current state does not
    val asOfDay1 = CorpusEtl.tablesAsOf(spark, root, 2L)
    assert(asOfDay1("corpus_flags").where($"doc_id" === 30L).count() == 1)
    assert(fmt.read("corpus_flags").where($"doc_id" === 30L).isEmpty)
  }

  test("a reused batch_id is rejected before anything commits") {
    val root = freshRoot()
    val cfg = Curation.Config()
    val day = Seq((10L, "some perfectly ordinary document text for the ledger", "en", "web", 52L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CorpusEtl.init(spark, root, day.limit(0), cfg)
    CorpusEtl.runBatch(spark, root, day, 3L, cfg)
    val fmt = fmtOf(root)
    val vBefore = fmt.currentVersion("corpus_flags")
    for (bad <- Seq(3L, 2L)) {
      val ex = intercept[IllegalArgumentException] {
        CorpusEtl.runBatch(spark, root,
          Seq((20L, "another document entirely different from the first", "en", "web", 50L))
            .toDF("doc_id", "text", "lang", "source", "n_chars"), bad, cfg)
      }
      assert(ex.getMessage.contains("conflate"))
    }
    assert(fmt.currentVersion("corpus_flags") == vBefore,
      "a rejected batch must not mint table versions")
  }

  test("a crashed run's orphan versions never leak a phantom half-day") {
    val root = freshRoot()
    val cfg = Curation.Config()
    val day1 = Seq((10L, "the only legitimately committed document in this store", "en", "web", 54L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CorpusEtl.init(spark, root, day1.limit(0), cfg)
    CorpusEtl.runBatch(spark, root, day1, 1L, cfg)

    // simulate a run that crashed after committing flags but before
    // its manifest: orphan corpus_flags/content_hashes versions exist
    // that no manifest references
    val fmt = fmtOf(root)
    val phantom = Seq((666L, "phantom row from a crashed half-committed run", "en", "web", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (pFlags, _) = Curation.curateFoldDelta(phantom,
      Curation.FoldState(
        fmt.read("content_hashes"), fmt.read("band_index"), fmt.read("eval_shingles")), cfg)
    fmt.tryAppend("corpus_flags", pFlags.withColumn("batch_id", lit(2L)),
      fmt.currentVersion("corpus_flags"), fmt.currentVersion("corpus_flags"))
    fmt.tryAppend("content_hashes",
      phantom.select(md5($"text").as("content_md5"), $"doc_id"),
      fmt.currentVersion("content_hashes"), fmt.currentVersion("content_hashes"))

    // the next healthy day reads PINNED state: the phantom's ledger
    // row must not appear, and its hash must not block anything
    val day2 = Seq((20L, "phantom row from a crashed half-committed run", "en", "web", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CorpusEtl.runBatch(spark, root, day2, 2L, cfg)
    val ledger = fmt.read("corpus_flags")
    assert(ledger.where($"doc_id" === 666L).isEmpty,
      "the orphan's ledger row leaked into the committed state")
    assert(!ledger.where($"doc_id" === 20L).head()
      .getAs[Boolean]("is_exact_dup"),
      "the orphan's probe rows must not judge the next day")
    // and the ledger arithmetic still holds
    assert(ledger.count() == 2)
  }

  test("forget invalidates warehouse-staged artifacts: resolve-after-forget never surfaces forgotten ids") {
    import graft.queries.{DedupStage, StageStore}
    val snapDir = freshRoot() // the corpus snapshot the stage reads
    val warehouse = freshRoot() // staged-artifact store
    val storeRoot = freshRoot() // the CorpusEtl store
    val cfg = Curation.Config()
    val day1 = Seq(
      (1L, "erase this very distinctive document from every derived artifact", "en", "web", 64L),
      (2L, "an entirely different document about music charts and rankings here", "en", "web", 67L),
      (3L, "completely unrelated content with many unique words in this row", "en", "web", 63L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    day1.write.mode("overwrite").parquet(s"$snapDir/documents.parquet")
    StageStore.setForTesting(snapDir, warehouse)
    try {
      // a staged artifact built BEFORE the forget carries doc 1
      val before = DedupStage.corpusSliceBandIndex(spark, snapDir)
      assert(before.where($"doc_id" === 1L).count() > 0)
      val buildsBefore = DedupStage.buildCount

      // the erasure: rewrite the snapshot's files without doc 1 (the
      // caller's storage op), clean the CorpusEtl store, and name the
      // snapshot dir so its staged artifacts are invalidated
      CorpusEtl.init(spark, storeRoot, day1.limit(0), cfg)
      CorpusEtl.runBatch(spark, storeRoot, day1, 1L, cfg)
      day1.where($"doc_id" =!= 1L)
        .write.mode("overwrite").parquet(s"$snapDir/documents.parquet")
      CorpusEtl.forget(spark, storeRoot, Seq(1L).toDF("doc_id"),
        invalidateSnapshots = Seq(snapDir))

      // SAME session, no cache clear: the epoch bump alone must force
      // a rebuild from the erased source — the stale warehouse table
      // and the stale memo are both orphaned by the key change
      val after = DedupStage.corpusSliceBandIndex(spark, snapDir)
      assert(after.where($"doc_id" === 1L).isEmpty,
        "a staged artifact served the forgotten document after the forget")
      assert(after.where($"doc_id" === 2L).count() > 0)
      assert(DedupStage.buildCount == buildsBefore + 1,
        "the post-forget resolve must REBUILD, not read the stale store table")
    } finally {
      StageStore.clearForTesting(snapDir)
      DedupStage.clearForTesting()
    }
  }

  test("keptSince is a batch-proportional CDC feed: daily appends, forget retractions, compaction-transparent") {
    val root = freshRoot()
    val cfg = Curation.Config()
    val mid = docs.agg(max($"doc_id")).head().getLong(0) / 2
    CorpusEtl.init(spark, root,
      docs.where($"doc_id" % cfg.evalModulus === 0), cfg)
    CorpusEtl.runBatch(spark, root, docs.where($"doc_id" <= mid), 1L, cfg)
    val (cursor1, _) = CorpusEtl.keptSince(spark, root, 0L)
    CorpusEtl.runBatch(spark, root, docs.where($"doc_id" > mid), 2L, cfg)

    // the day-2 feed is exactly day 2's kept docs — never the corpus
    val fmt = fmtOf(root)
    val (cursor2, day2) = CorpusEtl.keptSince(spark, root, cursor1)
    assert(day2.deletedKeys.isEmpty)
    assert(day2.appended.select("doc_id").orderBy("doc_id").as[Long].collect().toSeq ==
      fmt.read("corpus_kept").where($"batch_id" === 2L)
        .select("doc_id").orderBy("doc_id").as[Long].collect().toSeq)

    // forget two kept docs: the feed since cursor2 is pure retraction
    val goners = fmt.read("corpus_kept").select("doc_id")
      .orderBy("doc_id").limit(2)
    val gonerIds = goners.as[Long].collect().toSeq
    CorpusEtl.forget(spark, root, goners)
    val (cursor3, afterForget) = CorpusEtl.keptSince(spark, root, cursor2)
    assert(afterForget.appended.isEmpty)
    assert(afterForget.deletedKeys("doc_id").orderBy("doc_id")
      .as[Long].collect().toSeq == gonerIds)

    // maintenance is invisible to the feed
    CorpusEtl.compactStore(spark, root)
    val (cursor4, quiet) = CorpusEtl.keptSince(spark, root, cursor3)
    assert(cursor4 > cursor3 && quiet.appended.isEmpty && quiet.deletedKeys.isEmpty)

    // the whole-range identity: asOf(cursor1) ∘ feed == now, for a
    // consumer that held its cursor across days, a forget, and a
    // compaction
    val (_, whole) = CorpusEtl.keptSince(spark, root, cursor1)
    val start = CorpusEtl.tablesAsOf(spark, root, cursor1)("corpus_kept")
    val recon = start
      .join(whole.deletedKeys("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(whole.appended)
      .select("doc_id").orderBy("doc_id").as[Long].collect().toSeq
    assert(recon ==
      fmt.read("corpus_kept").select("doc_id").orderBy("doc_id")
        .as[Long].collect().toSeq)
  }

  test("init refuses a live store; a racing day fails its manifest commit") {
    val root = freshRoot()
    val cfg = Curation.Config()
    CorpusEtl.init(spark, root, docs.limit(0), cfg)
    intercept[IllegalArgumentException] {
      CorpusEtl.init(spark, root, docs.limit(0), cfg)
    }
    // simulate the loser of a double-fired day: bump the manifest
    // under a run's feet, then its commit (against the stale base)
    // must fail loudly rather than silently overwrite
    val fmt = fmtOf(root)
    val stale = fmt.currentVersion("manifest")
    fmt.tryCommit("manifest", fmt.read("manifest"), stale)
    intercept[Exception] {
      fmt.tryCommit("manifest", fmt.read("manifest"), stale)
    }
  }
}
