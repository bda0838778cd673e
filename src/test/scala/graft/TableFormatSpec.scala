package graft

import org.apache.spark.sql.functions._

import graft.etl.{ManifestParquet, TableFormat}

/** MERGE-shaped contract for [[TableFormat]], run against
  * [[ManifestParquet]]: the merge semantics live on the trait, the
  * format supplies read + arbitrated commit. Then the format's own
  * guarantees: O(batch) commits, tombstones, statistics, CDC and
  * vacuum. */
class TableFormatSpec extends SparkSpec {
  import spark.implicits._

  private def freshFormat(): ManifestParquet = new ManifestParquet(
    spark, java.nio.file.Files.createTempDirectory("tfmt_m").toString)

  private def seed(fmt: TableFormat): Unit =
    fmt.overwrite("song",
      Seq(("I1", "One", "u1"), ("I2", "Two", "u2"))
        .toDF("isrc", "name", "url"))

  test("[manifest-parquet] mergeInsert: only non-conflicting rows land; RETURNING is exactly the inserted set") {
    val fmt = freshFormat()
    seed(fmt)
    val batch = Seq(
      ("I2", "Two-dup", "u2b", 1), // PK conflict with existing -> skipped
      ("I3", "Three", "u3", 2),
      ("I3", "Three-later", "u3b", 3), // within-batch dup, higher position loses
      ("I4", "Four", "u1", 4)) // url conflicts with existing -> skipped
      .toDF("isrc", "name", "url", "position")
    val returned = fmt.mergeInsert("song", batch,
      Seq(Seq("isrc"), Seq("url")), Seq(col("position").asc))
    assert(rowsOf(returned.orderBy("isrc")) ==
      Seq(Seq("I3", "Three", "u3")))
    assert(rowsOf(fmt.read("song").orderBy("isrc")) == Seq(
      Seq("I1", "One", "u1"),
      Seq("I2", "Two", "u2"),
      Seq("I3", "Three", "u3")))
  }

  test("[manifest-parquet] idempotence: re-merging the same batch inserts nothing and mints no version") {
    val fmt = freshFormat()
    seed(fmt)
    val batch = Seq(("I3", "Three", "u3", 1)).toDF("isrc", "name", "url", "position")
    fmt.mergeInsert("song", batch, Seq(Seq("isrc")), Seq(col("position").asc))
    val vAfterFirst = fmt.currentVersion("song")
    val second = fmt.mergeInsert("song", batch, Seq(Seq("isrc")), Seq(col("position").asc))
    assert(second.isEmpty)
    assert(fmt.currentVersion("song") == vAfterFirst,
      "a no-op merge must not mint a version")
  }

  test("[manifest-parquet] mergeUpdateIfNull: fills only NULL targets, returns only changed rows") {
    val fmt = freshFormat()
    fmt.overwrite("song",
      Seq(("I1", Option("keep")), ("I2", Option.empty[String]),
        ("I3", Option.empty[String]))
        .toDF("isrc", "apple_url"))
    val updated = fmt.mergeUpdateIfNull("song",
      Seq(("I1", "clobber"), ("I2", "filled")).toDF("isrc", "apple_url"),
      "isrc", "apple_url")
    assert(rowsOf(updated) == Seq(Seq("I2", "filled")))
    assert(rowsOf(fmt.read("song").orderBy("isrc")) == Seq(
      Seq("I1", "keep"), Seq("I2", "filled"), Seq("I3", null)))
    // I3 untouched, nothing to update for it -> second call is a no-op
    val v = fmt.currentVersion("song")
    assert(fmt.mergeUpdateIfNull("song",
      Seq(("I1", "clobber")).toDF("isrc", "apple_url"),
      "isrc", "apple_url").isEmpty)
    assert(fmt.currentVersion("song") == v)
  }

  test("[manifest-parquet] versions are immutable: a reader pinned pre-merge still sees its snapshot") {
    val fmt = freshFormat()
    seed(fmt)
    val v1 = fmt.currentVersion("song")
    val pinned = fmt.readVersion("song", v1)
    fmt.mergeInsert("song",
      Seq(("I9", "Nine", "u9", 1)).toDF("isrc", "name", "url", "position"),
      Seq(Seq("isrc")), Seq(col("position").asc))
    assert(fmt.currentVersion("song") == v1 + 1)
    assert(pinned.count() == 2 && fmt.read("song").count() == 3)
  }

  test("[manifest-parquet] a racing committer is detected, not silently clobbered") {
    val fmt = freshFormat()
    seed(fmt)
    // this writer's merge is based on v=1; a racer commits v=2 in the
    // window before our commit lands — the commit on expectedBase=1
    // must collide instead of dropping the racer's rows
    fmt.overwrite("song",
      Seq(("I8", "Racer", "u8")).toDF("isrc", "name", "url"))
    val ex = intercept[IllegalStateException] {
      fmt.tryCommit("song",
        Seq(("I7", "Seven", "u7")).toDF("isrc", "name", "url"),
        expectedBase = 1)
    }
    assert(ex.getMessage.contains("commit race"))
    // the racer's committed state is untouched
    assert(rowsOf(fmt.read("song")) == Seq(Seq("I8", "Racer", "u8")))
  }

  test("[manifest-parquet] RETURNING stays valid after the commit it preceded") {
    val fmt = freshFormat()
    seed(fmt)
    val returned = fmt.mergeInsert("song",
      Seq(("I5", "Five", "u5", 1)).toDF("isrc", "name", "url", "position"),
      Seq(Seq("isrc")), Seq(col("position").asc))
    // evaluate AFTER the commit — the lazy frame reads the version the
    // anti-joins saw, which the format keeps immutable
    assert(rowsOf(returned) == Seq(Seq("I5", "Five", "u5")))
  }

  test("[manifest-parquet] tryAppend: next version = pinned content + delta; pinned readers unmoved") {
    val fmt = freshFormat()
    seed(fmt) // v1: I1, I2
    val v1 = fmt.currentVersion("song")
    val v2 = fmt.tryAppend("song",
      Seq(("I3", "Three", "u3")).toDF("isrc", "name", "url"), v1, v1)
    assert(v2 == v1 + 1)
    assert(rowsOf(fmt.read("song").orderBy("isrc")) == Seq(
      Seq("I1", "One", "u1"), Seq("I2", "Two", "u2"), Seq("I3", "Three", "u3")))
    assert(fmt.readVersion("song", v1).count() == 2)
  }

  test("[manifest-parquet] tryAppend supersedes an orphan version without absorbing its rows") {
    val fmt = freshFormat()
    seed(fmt) // v1 = pinned consistent state
    val pinned = fmt.currentVersion("song")
    // a crashed run left an orphan v2 no manifest references
    fmt.tryCommit("song",
      Seq(("IX", "Orphan", "ux")).toDF("isrc", "name", "url"), pinned)
    val orphanTop = fmt.currentVersion("song")
    // the next healthy run reads PINNED, commits on top of CURRENT:
    // content = pinned ∪ delta — the orphan's rows must not leak in
    val v3 = fmt.tryAppend("song",
      Seq(("I3", "Three", "u3")).toDF("isrc", "name", "url"),
      pinned, orphanTop)
    assert(v3 == orphanTop + 1)
    assert(rowsOf(fmt.readVersion("song", v3).orderBy("isrc")) == Seq(
      Seq("I1", "One", "u1"), Seq("I2", "Two", "u2"), Seq("I3", "Three", "u3")))
  }

  test("[manifest-parquet] a racing tryAppend collides instead of silently losing a day") {
    val fmt = freshFormat()
    seed(fmt)
    val base = fmt.currentVersion("song")
    fmt.tryAppend("song",
      Seq(("I3", "Winner", "u3")).toDF("isrc", "name", "url"), base, base)
    val ex = intercept[IllegalStateException] {
      fmt.tryAppend("song",
        Seq(("I4", "Loser", "u4")).toDF("isrc", "name", "url"), base, base)
    }
    assert(ex.getMessage.contains("commit race"))
    assert(fmt.read("song").where(col("name") === "Winner").count() == 1)
  }

  test("[manifest-parquet] tryDeleteRows removes exactly the keyed rows; pinned readers unmoved") {
    val fmt = freshFormat()
    seed(fmt) // I1, I2
    val v1 = fmt.currentVersion("song")
    val v2 = fmt.tryDeleteRows("song",
      Seq("I1", "I9").toDF("isrc"), v1, v1) // I9 absent: deleting it is a no-op
    assert(v2 == v1 + 1)
    assert(rowsOf(fmt.read("song")) == Seq(Seq("I2", "Two", "u2")))
    assert(fmt.readVersion("song", v1).count() == 2,
      "the pre-delete version must still show the erased row")
  }

  test("[manifest-parquet] a key re-appended after its delete is NOT re-deleted") {
    val fmt = freshFormat()
    seed(fmt) // I1, I2
    val v1 = fmt.currentVersion("song")
    val v2 = fmt.tryDeleteRows("song", Seq("I1").toDF("isrc"), v1, v1)
    val v3 = fmt.tryAppend("song",
      Seq(("I1", "One-again", "u1b")).toDF("isrc", "name", "url"), v2, v2)
    assert(rowsOf(fmt.readVersion("song", v3).orderBy("isrc")) == Seq(
      Seq("I1", "One-again", "u1b"), Seq("I2", "Two", "u2")),
      "erasure applies to history, not to a fresh re-arrival of the key")
  }

  test("[manifest-parquet] a racing tryDeleteRows collides instead of silently clobbering") {
    val fmt = freshFormat()
    seed(fmt)
    val base = fmt.currentVersion("song")
    fmt.tryAppend("song",
      Seq(("I3", "Racer", "u3")).toDF("isrc", "name", "url"), base, base)
    val ex = intercept[IllegalStateException] {
      fmt.tryDeleteRows("song", Seq("I1").toDF("isrc"), base, base)
    }
    assert(ex.getMessage.contains("commit race"))
    assert(fmt.read("song").count() == 3)
  }

  // ---- the O(batch) commit guarantee ----

  private def dataBytes(root: String): Long =
    graft.etl.Compaction.dataBytes(spark, root)

  test("[manifest-parquet] an append commit writes O(batch) bytes, not O(history)") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_obatch").toString
    val fmt = new ManifestParquet(spark, root)
    // history: 200k rows with a fat payload column
    val history = spark.range(200000)
      .select(col("id"), concat(lit("payload-"), md5(col("id").cast("string"))).as("v"))
    fmt.overwrite("t", history)
    val historyBytes = dataBytes(root)
    val before = historyBytes
    // the daily batch: 50 rows
    val batch = spark.range(1000000, 1000050)
      .select(col("id"), concat(lit("payload-"), md5(col("id").cast("string"))).as("v"))
    val v = fmt.tryAppend("t", batch, fmt.currentVersion("t"), fmt.currentVersion("t"))
    val appended = dataBytes(root) - before
    assert(appended > 0, "the append must write the batch's files")
    assert(appended < historyBytes / 10,
      s"append wrote $appended bytes against $historyBytes of history — " +
        "an O(batch) commit must not rewrite history")
    assert(fmt.readVersion("t", v).count() == 200050)
  }

  test("[manifest-parquet] compact folds N data dirs into one; pinned readers keep theirs") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_compact").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(10).toDF("id"))
    for (day <- 1 to 5) {
      val cur = fmt.currentVersion("t")
      fmt.tryAppend("t", spark.range(day * 100, day * 100 + 10).toDF("id"), cur, cur)
    }
    val preCompact = fmt.currentVersion("t")
    val rows = rowsOf(fmt.read("t").orderBy("id"))
    val v = fmt.compact("t")
    assert(rowsOf(fmt.readVersion("t", v).orderBy("id")) == rows)
    // compacted version reads from a single data dir: appending once
    // more only references 2 dirs' worth of files
    assert(rowsOf(fmt.readVersion("t", preCompact).orderBy("id")) == rows,
      "pinned pre-compact version must still resolve")
  }

  test("[manifest-parquet] a delete commit writes O(keys) bytes, not O(history)") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_odelete").toString
    val fmt = new ManifestParquet(spark, root)
    val history = spark.range(200000)
      .select(col("id"), concat(lit("payload-"), md5(col("id").cast("string"))).as("v"))
    fmt.overwrite("t", history)
    val historyBytes = dataBytes(root)
    val v1 = fmt.currentVersion("t")
    val v2 = fmt.tryDeleteRows("t",
      spark.range(100, 150).toDF("id"), v1, v1)
    val written = dataBytes(root) - historyBytes
    assert(written > 0, "the delete must stage its key set")
    assert(written < historyBytes / 10,
      s"delete wrote $written bytes against $historyBytes of history — " +
        "a deletion-vector commit must not rewrite history")
    assert(fmt.readVersion("t", v2).count() == 199950)
    assert(fmt.readVersion("t", v2).where(col("id") === 120).isEmpty)
    assert(fmt.readVersion("t", v1).count() == 200000)
  }

  test("[manifest-parquet] compact materializes tombstones: one data entry, erased rows gone from the new files") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_dvcompact").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(100).toDF("id"))
    val v1 = fmt.currentVersion("t")
    val v2 = fmt.tryDeleteRows("t", spark.range(10).toDF("id"), v1, v1)
    assert(fmt.manifestEntries("t", v2).exists(_.startsWith("!id:")),
      "the delete version's manifest must carry a tombstone entry")
    val v3 = fmt.compact("t")
    val entries = fmt.manifestEntries("t", v3)
    assert(entries.size == 1 && !entries.head.startsWith("!"),
      s"a compacted manifest must be one data entry, got $entries")
    assert(fmt.readVersion("t", v3).count() == 90)
    // the compacted data dir itself no longer contains the erased rows
    val dataDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "t"),
      ManifestParquet.parseEntry(entries.head).dir).toString
    assert(spark.read.parquet(dataDir).where(col("id") < 10).isEmpty,
      "compaction must write files without the tombstoned rows")
  }

  test("[manifest-parquet] delete key column must exist with the table's type") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_dvtype").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(10).toDF("id"))
    val v = fmt.currentVersion("t")
    intercept[IllegalArgumentException] {
      fmt.tryDeleteRows("t", Seq("x").toDF("nope"), v, v)
    }
    intercept[IllegalArgumentException] {
      fmt.tryDeleteRows("t", Seq("x").toDF("id"), v, v) // string vs bigint
    }
    intercept[IllegalArgumentException] {
      fmt.tryDeleteRows("t", spark.range(3).select(col("id"), col("id").as("b")), v, v)
    }
  }

  test("[manifest-parquet] vacuum drops old manifests and their exclusive dirs; retained versions still read") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_vac").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(10).toDF("id")) // v1
    for (day <- 1 to 4) {
      val cur = fmt.currentVersion("t")
      fmt.tryAppend("t", spark.range(day * 100, day * 100 + 10).toDF("id"), cur, cur)
    } // v2..v5, sharing v1's dir
    val rowsBefore = rowsOf(fmt.read("t").orderBy("id"))
    val vCompact = fmt.compact("t") // v6: one fresh dir
    val stats = fmt.vacuum("t", vCompact)
    // v1..v5's five data dirs are referenced by no retained manifest
    assert(stats.manifestsDeleted == 5 && stats.dirsDeleted == 5 && stats.bytesDeleted > 0)
    assert(rowsOf(fmt.read("t").orderBy("id")) == rowsBefore)
    assert(fmt.currentVersion("t") == vCompact)
    intercept[Exception] { fmt.readVersion("t", 1) } // dropped manifest
    // idempotent: nothing left to reclaim
    assert(fmt.vacuum("t", vCompact) == graft.etl.VacuumStats(0, 0, 0))
    // and the table still accepts commits after vacuum
    val cur = fmt.currentVersion("t")
    fmt.tryAppend("t", spark.range(900, 910).toDF("id"), cur, cur)
    assert(fmt.read("t").count() == rowsBefore.size + 10)
  }

  test("[manifest-parquet] vacuum keeps dirs shared with retained manifests and respects the age gate") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_vac2").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(10).toDF("id")) // v1: dir A
    val v1 = fmt.currentVersion("t")
    fmt.tryAppend("t", spark.range(100, 110).toDF("id"), v1, v1) // v2: dirs A+B
    // retain from v2: v1's manifest goes, but dir A is shared with v2
    val stats = fmt.vacuum("t", 2)
    assert(stats.manifestsDeleted == 1 && stats.dirsDeleted == 0,
      "a dir referenced by a retained manifest must survive")
    assert(fmt.read("t").count() == 20)
    // an unreferenced orphan (crashed commit's staged dir) younger
    // than the age gate survives; with the gate at 0 it goes
    val orphan = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "t"), "d-orphancrash")
    spark.range(5).toDF("id").write.parquet(orphan.toString)
    assert(fmt.vacuum("t", 2, olderThanMs = 3600L * 1000).dirsDeleted == 0,
      "an in-flight-age dir must never be vacuumed")
    assert(fmt.vacuum("t", 2).dirsDeleted == 1,
      "an aged-out unreferenced orphan must be reclaimed")
  }

  test("[manifest-parquet] an empty version reads back with its schema, no inference") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_empty").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(3).toDF("id").limit(0))
    assert(fmt.read("t").schema.fieldNames.toSeq == Seq("id"))
    assert(fmt.read("t").isEmpty)
  }

  // ---- commit statistics: data skipping + stats-only bounds ----

  test("[manifest-parquet] readVersionRange is exactly readVersion().where() — point, open-ended, strings, nulls") {
    val fmt = freshFormat()
    fmt.overwrite("evt",
      Seq((1L, Option("alpha"), 10), (2L, Option.empty[String], 20),
        (3L, Option("charlie"), 30), (4L, Option("delta"), 40))
        .toDF("id", "tag", "v"))
    val v = fmt.currentVersion("evt")
    def same(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Unit =
      assert(rowsOf(got.orderBy("id")) == rowsOf(want.orderBy("id")))
    val full = fmt.readVersion("evt", v)
    same(fmt.readVersionRange("evt", v, "id", Some(2L), Some(3L)),
      full.where($"id" >= 2 && $"id" <= 3))
    same(fmt.readVersionRange("evt", v, "id", Some(3L), None),
      full.where($"id" >= 3))
    same(fmt.readVersionRange("evt", v, "id", None, Some(1L)),
      full.where($"id" <= 1))
    same(fmt.readVersionRange("evt", v, "id", None, None), full)
    // range on a null-bearing string column: null never matches
    same(fmt.readVersionRange("evt", v, "tag", Some("alpha"), Some("charlie")),
      full.where($"tag" >= "alpha" && $"tag" <= "charlie"))
  }

  private def scannedDirs(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => f.split('/').dropRight(1).last).toSet

  test("[manifest-parquet] a point range read prunes the scan to the matching commit's files") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_skip").toString
    val fmt = new ManifestParquet(spark, root)
    def day(n: Long) = spark.range(n * 100, n * 100 + 50)
      .select(col("id"), lit(n).as("batch_id"),
        concat(lit(s"src$n-"), col("id")).as("source"))
    fmt.overwrite("flags", day(1))
    for (n <- 2L to 4L) {
      val cur = fmt.currentVersion("flags")
      fmt.tryAppend("flags", day(n), cur, cur)
    }
    val v = fmt.currentVersion("flags")
    assert(scannedDirs(fmt.readVersion("flags", v)).size == 4)
    // the day-3 point read plans over ONE dir — the other three days'
    // files are never even listed
    val point = fmt.readVersionRange("flags", v, "batch_id", Some(3L), Some(3L))
    assert(scannedDirs(point).size == 1)
    assert(rowsOf(point.orderBy("id")) ==
      rowsOf(fmt.readVersion("flags", v).where($"batch_id" === 3).orderBy("id")))
    // string stats prune too (UTF8 binary order)
    val bySrc = fmt.readVersionRange("flags", v, "source",
      Some("src2-"), Some("src2-zzzz"))
    assert(scannedDirs(bySrc).size == 1 && bySrc.count() == 50)
    // a range spanning two days keeps exactly those two days' dirs
    val span = fmt.readVersionRange("flags", v, "batch_id", Some(2L), Some(3L))
    assert(scannedDirs(span).size == 2 && span.count() == 100)
  }

  test("[manifest-parquet] pruned reads stay tombstone-correct and all-null commits prune") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_skiptomb").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(100).select(col("id"), lit(1L).as("day")))
    val v1 = fmt.currentVersion("t")
    val v2 = fmt.tryAppend("t",
      spark.range(100, 200).select(col("id"), lit(2L).as("day")), v1, v1)
    val v3 = fmt.tryDeleteRows("t", spark.range(150, 160).toDF("id"), v2, v2)
    val got = fmt.readVersionRange("t", v3, "day", Some(2L), Some(2L))
    assert(rowsOf(got.orderBy("id")) ==
      rowsOf(fmt.readVersion("t", v3).where($"day" === 2).orderBy("id")))
    assert(scannedDirs(got).exists(_.startsWith("d-")),
      "the pruned read still scans the matching data dir")
    // an all-null commit is prunable under any bound
    val vn = fmt.tryAppend("t",
      spark.range(200, 210).select(col("id"), lit(null).cast("long").as("day")),
      v3, v3)
    val pruned = fmt.readVersionRange("t", vn, "day", Some(1L), None)
    assert(pruned.count() == 190)
    assert(rowsOf(pruned.orderBy("id")) ==
      rowsOf(fmt.readVersion("t", vn).where($"day" >= 1).orderBy("id")))
  }

  test("[manifest-parquet] NaN-bearing float stats are dropped — the dir is kept, never wrongly pruned") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_nan").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("m", Seq((1L, 5.0), (2L, Double.NaN)).toDF("id", "score"))
    val v1 = fmt.currentVersion("m")
    fmt.tryAppend("m", Seq((3L, 100.0)).toDF("id", "score"), v1, v1)
    val v = fmt.currentVersion("m")
    // the NaN dir's score stats are unknown: a [4, 6] range must
    // still find the 5.0 row living next to the NaN
    val got = fmt.readVersionRange("m", v, "score", Some(4.0), Some(6.0))
    assert(rowsOf(got) == Seq(Seq(1L, 5.0)))
    assert(fmt.statsUpperBound("m", v, "score").isEmpty,
      "a NaN-poisoned column has no trustworthy bound")
  }

  test("[manifest-parquet] observed commit statistics equal a re-read of the staged files") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("tfmt_observed").toString
    val fmt = new ManifestParquet(spark, root)
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("day", DateType)))
    val rows = Seq(Row(1L, "a", 1.5, java.sql.Date.valueOf("2026-01-02")),
      Row(2L, null, -3.0, java.sql.Date.valueOf("2025-12-31")))
    def frame(rs: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    val full = frame(rows)
    val frames = Seq(
      "rows" -> full,
      "checkpoint of an empty frame" ->
        graft.operators.CheckpointBlocks.local(full.where(col("id") < 0)),
      "limit(0)" -> full.limit(0),
      "empty LocalRelation" -> frame(Nil),
      "filter keeping no rows" -> full.where(col("id") > 100),
      "empty RDD" -> spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      "NaN-bearing doubles" -> frame(rows :+ Row(3L, "c", Double.NaN, null)),
      "all-null columns" -> frame(Seq(Row(1L, null, null, null), Row(2L, null, null, null))))
    frames.foreach { case (what, df) =>
      val entry = ManifestParquet.parseEntry(fmt.stageWithMeta("t", df, dataChange = true))
      val observed = entry match {
        case ManifestParquet.DataEntry(_, Some(m)) => m
        case other => fail(s"$what: staged entry carries no statistics: $other")
      }
      val reread = fmt.metaFor(
        spark.read.schema(schema).parquet(s"$root/t/${entry.dir}"), schema,
        dataChange = true)
      assert(observed == reread, s"$what: observed $observed, re-read $reread")
    }
  }

  test("[manifest-parquet] statsUpperBound: job-free exact max on appends, a safe over-estimate after deletes") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_ub").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(10).select(col("id"), lit(1L).as("batch_id"),
      lit(null).cast("string").as("note")))
    for (n <- 2L to 3L) {
      val cur = fmt.currentVersion("t")
      fmt.tryAppend("t", spark.range(n * 10, n * 10 + 10)
        .select(col("id"), lit(n).as("batch_id"),
          lit(null).cast("string").as("note")), cur, cur)
    }
    val v = fmt.currentVersion("t")
    assert(fmt.statsUpperBound("t", v, "batch_id") == Some(3L))
    assert(fmt.statsUpperBound("t", v, "id") == Some(39L))
    assert(fmt.statsUpperBound("t", v, "note").isEmpty,
      "a never-valued column has no bound")
    // erase every batch-3 row: the bound may only OVER-estimate (the
    // documented contract — monotonic-id guards want exactly that)
    val v2 = fmt.tryDeleteRows("t", spark.range(30, 40).toDF("id"), v, v)
    val trueMax = fmt.readVersion("t", v2).agg(max($"batch_id")).head().getLong(0)
    assert(trueMax == 2L)
    assert(fmt.statsUpperBound("t", v2, "batch_id") == Some(3L))
  }

  test("[manifest-parquet] pre-stats manifests read conservatively: no prune, no bound, same rows") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_legacy").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(100).select(col("id"), lit(7L).as("day")))
    val v = fmt.currentVersion("t")
    // hand-write a legacy manifest: same entries, meta stripped — the
    // format an older writer (or another engine) would have produced
    val logDir = new java.io.File(s"$root/t/_log")
    val src = scala.io.Source.fromFile(new java.io.File(logDir, f"$v%020d.manifest"))
    val lines = try src.getLines().toVector finally src.close()
    val stripped = lines.head +: lines.tail.map(l =>
      if (l.startsWith("!")) l else l.split(" ", 2)(0))
    val legacyV = v + 1
    java.nio.file.Files.write(
      new java.io.File(logDir, f"$legacyV%020d.manifest").toPath,
      stripped.mkString("\n").getBytes("UTF-8"))
    assert(fmt.readVersion("t", legacyV).count() == 100)
    assert(fmt.statsUpperBound("t", legacyV, "day").isEmpty)
    val got = fmt.readVersionRange("t", legacyV, "day", Some(7L), Some(7L))
    assert(got.count() == 100, "a stats-less entry must never be pruned")
  }

  // ---- incremental (CDC) reads from manifest structure ----

  test("[manifest-parquet] changesBetween streams appends + deletes; compaction is invisible; rewrites refuse") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_cdc").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(10).toDF("id")) // v1
    val v1 = fmt.currentVersion("t")
    val v2 = fmt.tryAppend("t", spark.range(10, 20).toDF("id"), v1, v1)
    val v3 = fmt.tryDeleteRows("t",
      Seq(3L, 12L).toDF("id"), v2, v2)
    val v4 = fmt.compact("t")
    val v5 = fmt.tryAppend("t", spark.range(20, 30).toDF("id"), v4, v4)
    val ch = fmt.changesBetween("t", v1, v5)
    // in-range tombstones apply to in-range appends (12 gone), and
    // the compaction emitted nothing
    assert(ch.appended.orderBy("id").as[Long].collect().toSeq ==
      ((10L to 19L).filter(_ != 12L) ++ (20L to 29L)))
    assert(ch.deletedKeys.keySet == Set("id"))
    assert(ch.deletedKeys("id").orderBy("id").as[Long].collect().toSeq ==
      Seq(3L, 12L))
    // the CDC identity: from ∘ changes == to
    val recon = fmt.readVersion("t", v1)
      .join(ch.deletedKeys("id"), Seq("id"), "left_anti")
      .unionByName(ch.appended)
    assert(rowsOf(recon.orderBy("id")) ==
      rowsOf(fmt.readVersion("t", v5).orderBy("id")))
    // a compaction-only range is a no-op feed
    val quiet = fmt.changesBetween("t", v3, v4)
    assert(quiet.appended.isEmpty && quiet.deletedKeys.isEmpty)
    // from == to is an empty feed
    val none = fmt.changesBetween("t", v5, v5)
    assert(none.appended.isEmpty && none.deletedKeys.isEmpty)
    // a true rewrite refuses loudly instead of feeding a wrong delta
    fmt.overwrite("t", spark.range(5).toDF("id")) // v6
    val ex = intercept[IllegalStateException] {
      fmt.changesBetween("t", v5, fmt.currentVersion("t"))
    }
    assert(ex.getMessage.contains("full-refresh"))
  }

  test("[manifest-parquet] additive schema evolution: new columns append, history reads NULL, nothing rewrites") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_evolve").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = fmt.currentVersion("t")
    val withLang = Seq((3L, "c", "en"), (4L, "d", "fr")).toDF("id", "v", "lang")
    // strict append refuses the widened delta
    intercept[IllegalArgumentException] { fmt.tryAppend("t", withLang, v1, v1) }
    // evolution widens in the same O(batch) commit — it rides the
    // same stage-only-the-delta path the append byte-assertion pins
    val v2 = fmt.tryAppendEvolve("t", withLang, v1, v1)
    assert(fmt.manifestEntries("t", v2).size ==
      fmt.manifestEntries("t", v1).size + 1,
      "evolution must add one dir, never restage history")
    assert(fmt.readVersion("t", v2).schema.fieldNames.toSeq == Seq("id", "v", "lang"))
    assert(rowsOf(fmt.readVersion("t", v2).orderBy("id")) == Seq(
      Seq(1L, "a", null), Seq(2L, "b", null),
      Seq(3L, "c", "en"), Seq(4L, "d", "fr")))
    // the pinned pre-evolution version still reads its own schema
    assert(fmt.readVersion("t", v1).schema.fieldNames.toSeq == Seq("id", "v"))
    // stats stay conservative across the boundary: the old dir is
    // unknown on the new column — kept by range reads, no bound
    assert(fmt.statsUpperBound("t", v2, "lang").isEmpty)
    val ranged = fmt.readVersionRange("t", v2, "lang", Some("en"), Some("en"))
    assert(rowsOf(ranged.orderBy("id")) ==
      rowsOf(fmt.readVersion("t", v2).where($"lang" === "en").orderBy("id")))
    // type changes and missing columns are migrations, not appends
    val exType = intercept[IllegalArgumentException] {
      fmt.tryAppendEvolve("t", Seq((5, "e", "de")).toDF("id", "v", "lang"), v2, v2)
    }
    assert(exType.getMessage.contains("never an append"))
    val exMissing = intercept[IllegalArgumentException] {
      fmt.tryAppendEvolve("t", Seq(5L -> "en").toDF("id", "lang"), v2, v2)
    }
    assert(exMissing.getMessage.contains("additive-only"))
    // CDC across the evolution: the feed carries the widened schema
    val ch = fmt.changesBetween("t", v1, v2)
    assert(ch.appended.schema.fieldNames.toSeq == Seq("id", "v", "lang"))
    val recon = fmt.readVersion("t", v1)
      .unionByName(ch.appended, allowMissingColumns = true)
    assert(rowsOf(recon.orderBy("id")) ==
      rowsOf(fmt.readVersion("t", v2).orderBy("id")))
  }

  test("[manifest-parquet] clustered compaction: range reads prune INSIDE compacted history; vacuum keeps the buckets") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_cluster").toString
    val fmt = new ManifestParquet(spark, root)
    // four daily appends, each spanning the FULL id domain (id ≡ day
    // mod 4) — the worst case for skipping: no day dir ever prunes
    def day(n: Int) = spark.range(2000).select((col("id") * 4 + n).as("id"))
    fmt.overwrite("t", day(0))
    for (n <- 1 to 3) {
      val cur = fmt.currentVersion("t")
      fmt.tryAppend("t", day(n), cur, cur)
    }
    val vPre = fmt.currentVersion("t")
    val prePrune = fmt.readVersionRange("t", vPre, "id", Some(100L), Some(120L))
    assert(scannedDirs(prePrune).size == 4,
      "interleaved daily dirs must not prune — that is the point of clustering")
    val vc = fmt.compactClustered("t", Seq("id"), 8)
    // same rows, now range-clustered: the point read plans over ~1/8
    val rows = rowsOf(fmt.readVersion("t", vPre).orderBy("id"))
    assert(rowsOf(fmt.readVersion("t", vc).orderBy("id")) == rows)
    assert(fmt.manifestEntries("t", vc).size == 8)
    val post = fmt.readVersionRange("t", vc, "id", Some(100L), Some(120L))
    assert(scannedDirs(post).size == 1,
      s"a 21-key point read should touch one of 8 clustered buckets, " +
        s"got ${scannedDirs(post)}")
    assert(rowsOf(post.orderBy("id")) ==
      rowsOf(fmt.readVersion("t", vc).where($"id".between(100, 120)).orderBy("id")))
    // invisible to incremental readers, like plain compact
    val quiet = fmt.changesBetween("t", vPre, vc)
    assert(quiet.appended.isEmpty && quiet.deletedKeys.isEmpty)
    // vacuum reclaims the four day dirs but keeps the bucket subdirs
    val stats = fmt.vacuum("t", vc)
    assert(stats.dirsDeleted == 4,
      s"the four pre-compaction day dirs must go, got $stats")
    assert(rowsOf(fmt.read("t").orderBy("id")) == rows,
      "the clustered buckets must survive vacuum")
    // and the table keeps accepting ordinary appends afterwards
    val cur = fmt.currentVersion("t")
    fmt.tryAppend("t", spark.range(8000, 8010).toDF("id"), cur, cur)
    assert(fmt.read("t").count() == rows.size + 10)
  }

  test("[manifest-parquet] z-ordered compaction: reads on EITHER dimension prune; single-column clustering can't") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_zorder").toString
    val fmt = new ManifestParquet(spark, root)
    // a 100×100 grid appended in four interleaved days (i mod 4) so
    // day dirs span both full domains and never prune
    def day(n: Int) = spark.range(2500)
      .select((col("id") * 4 + n).as("i"))
      .select(col("i"), (col("i") % 100).as("x"),
        (col("i") / 100).cast("long").as("y"))
    fmt.overwrite("g", day(0))
    for (n <- 1 to 3) {
      val cur = fmt.currentVersion("g")
      fmt.tryAppend("g", day(n), cur, cur)
    }
    val rows = rowsOf(fmt.read("g").orderBy("i"))
    val vz = fmt.compactZOrdered("g", "x", "y", 16)
    assert(rowsOf(fmt.readVersion("g", vz).orderBy("i")) == rows)
    val nBuckets = fmt.manifestEntries("g", vz).size
    assert(nBuckets > 8, s"expected ~16 buckets, got $nBuckets")
    // an x-strip and a y-strip each prune most buckets — the morton
    // rectangle property single-column clustering lacks on dim 2
    val xRead = fmt.readVersionRange("g", vz, "x", Some(10L), Some(12L))
    val yRead = fmt.readVersionRange("g", vz, "y", Some(80L), Some(82L))
    assert(scannedDirs(xRead).size <= nBuckets / 2,
      s"x-strip scanned ${scannedDirs(xRead).size} of $nBuckets buckets")
    assert(scannedDirs(yRead).size <= nBuckets / 2,
      s"y-strip scanned ${scannedDirs(yRead).size} of $nBuckets buckets")
    assert(rowsOf(xRead.orderBy("i")) ==
      rowsOf(fmt.readVersion("g", vz).where($"x".between(10, 12)).orderBy("i")))
    assert(rowsOf(yRead.orderBy("i")) ==
      rowsOf(fmt.readVersion("g", vz).where($"y".between(80, 82)).orderBy("i")))
  }

  test("[manifest-parquet] CDC walks the ancestry: a crashed run's orphan version is invisible, not a wedge") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_cdc_orphan").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(10).toDF("id")) // v1
    val v1 = fmt.currentVersion("t")
    // a crashed run commits its table version but never a manifest:
    // the orphan extends v1 with PHANTOM rows
    val vOrphan = fmt.tryAppend("t", spark.range(666, 676).toDF("id"), v1, v1)
    // the next healthy run reads PINNED v1 and supersedes the orphan
    val v3 = fmt.tryAppend("t", spark.range(10, 20).toDF("id"), v1, vOrphan)
    val ch = fmt.changesBetween("t", v1, v3)
    assert(ch.appended.orderBy("id").as[Long].collect().toSeq == (10L to 19L),
      "the orphan's phantom rows must not enter the CDC feed")
    assert(ch.deletedKeys.isEmpty)
    // and the feed keeps working on the next day too
    val v4 = fmt.tryAppend("t", spark.range(20, 30).toDF("id"), v3, v3)
    assert(fmt.changesBetween("t", v1, v4).appended.count() == 20)
    // a cursor pinned to the ORPHAN itself is off-chain: loud, not wrong
    val ex = intercept[IllegalStateException] {
      fmt.changesBetween("t", vOrphan, v4)
    }
    assert(ex.getMessage.contains("not an ancestor"))
  }

  test("[manifest-parquet] a crashed manifest write leaves an orphan tmp, never a torn manifest; vacuum reclaims it") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_tornman").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(10).toDF("id"))
    val v1 = fmt.currentVersion("t")
    // simulate the crash window: a staged-but-unpublished manifest
    val logDir = new java.io.File(s"$root/t/_log")
    java.nio.file.Files.write(
      new java.io.File(logDir, "_deadbeef_2.manifest.tmp").toPath,
      "truncated-junk".getBytes("UTF-8"))
    // readers and version listing are untouched — the torn content
    // never sits at a final manifest path
    assert(fmt.currentVersion("t") == v1)
    assert(fmt.read("t").count() == 10)
    // the table keeps committing (the tmp is not an arbitration claim)
    val v2 = fmt.tryAppend("t", spark.range(10, 15).toDF("id"), v1, v1)
    assert(fmt.readVersion("t", v2).count() == 15)
    // vacuum's age gate protects an in-flight tmp, then reclaims it
    assert(new java.io.File(logDir, "_deadbeef_2.manifest.tmp").exists)
    fmt.vacuum("t", v2, olderThanMs = 3600L * 1000)
    assert(new java.io.File(logDir, "_deadbeef_2.manifest.tmp").exists,
      "an in-flight-age tmp manifest must never be vacuumed")
    fmt.vacuum("t", v2)
    assert(!new java.io.File(logDir, "_deadbeef_2.manifest.tmp").exists)
  }

  test("[manifest-parquet] CDC: a key re-appended after its erasure survives the fold") {
    val root = java.nio.file.Files.createTempDirectory("tfmt_cdc2").toString
    val fmt = new ManifestParquet(spark, root)
    fmt.overwrite("t", spark.range(5).toDF("id")) // v1
    val v1 = fmt.currentVersion("t")
    val v2 = fmt.tryDeleteRows("t", Seq(2L).toDF("id"), v1, v1)
    val v3 = fmt.tryAppend("t", Seq(2L).toDF("id"), v2, v2)
    val ch = fmt.changesBetween("t", v1, v3)
    assert(ch.appended.as[Long].collect().toSeq == Seq(2L),
      "the re-append lands after the tombstone and must survive")
    assert(ch.deletedKeys("id").as[Long].collect().toSeq == Seq(2L))
    val recon = fmt.readVersion("t", v1)
      .join(ch.deletedKeys("id"), Seq("id"), "left_anti")
      .unionByName(ch.appended)
    assert(rowsOf(recon.orderBy("id")) ==
      rowsOf(fmt.readVersion("t", v3).orderBy("id")))
  }
}
