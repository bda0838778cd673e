package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.{CommitLogTable, VersionedParquet}
import graft.operators.Components
import graft.queries.{DedupStage, GraphStage, LmStage, StageStore}

/** The persisted-staged-artifact contract: with a warehouse root
  * configured, [[graft.queries.StageCache]] commits each artifact as
  * a versioned TableFormat table on first build and every later
  * request — including a COLD session — reads the committed version
  * instead of rebuilding, bit-equal to the in-process path. The
  * suite uses its own snapshot dir (symlinked at the source tables),
  * because [[StageStore]] overrides are dir-scoped — concurrent
  * suites on the shared testdata dirs keep the default in-process
  * behavior. */
class StageStoreSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"

  /** A snapshot dir distinct from the shared testdata paths, holding
    * symlinks to the same parquet — same data, different StageStore
    * scope. */
  private def snapshotDir(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft_snap_$tag")
    for (t <- Seq("documents", "lineitem", "orders", "customer", "embeddings")) {
      Files.createSymbolicLink(
        dir.resolve(s"$t.parquet"), Paths.get(s"$src/$t.parquet"))
    }
    dir.toString
  }

  private def warehouse(tag: String): String =
    Files.createTempDirectory(s"graft_wh_$tag").toString

  test("cold session reads the committed artifact instead of rebuilding") {
    val dir = snapshotDir("cold")
    val wh = warehouse("cold")
    StageStore.setForTesting(dir, wh)
    try {
      val before = DedupStage.buildCount
      val first = DedupStage.components(spark, dir)
        .orderBy("node").collect().toSeq
      // TWO builds: components resolves its minhashPairs dependency
      // (the shared pair artifact, round 11) and then itself
      assert(DedupStage.buildCount == before + 2)
      // the artifact is now a committed v=1 table in the warehouse
      val fmt = new VersionedParquet(spark, wh)
      val tbl = StageStore.tableName(dir,
        s"components|n=${graft.queries.CorpusQueries.ShingleN}" +
          s"|k=${graft.queries.CorpusQueries.MinhashK}" +
          s"|b=${graft.queries.CorpusQueries.MinhashBands}" +
          s"|t=${graft.queries.CorpusQueries.JaccardThreshold}")
      assert(fmt.currentVersion(tbl) == 1L)
      // drop the session memo — exactly the state a new driver JVM
      // starts without — and re-request: the store must serve it
      // with NO second build, bit-equal
      DedupStage.clearForTesting()
      val again = DedupStage.components(spark, dir)
        .orderBy("node").collect().toSeq
      // the cold read serves the committed components table WITHOUT
      // invoking the builder body — so the pair dependency isn't
      // touched either; the count must not move at all
      assert(DedupStage.buildCount == before + 2, "artifact was rebuilt")
      assert(again == first)
    } finally {
      StageStore.clearForTesting(dir)
      DedupStage.clearForTesting()
    }
  }

  test("store-backed artifacts are bit-equal to the in-process path, arrays included") {
    val stored = snapshotDir("ab")
    StageStore.setForTesting(stored, warehouse("ab"))
    try {
      // same underlying parquet through two snapshot dirs: one
      // store-backed, one default in-process. EVERY persistable
      // artifact from the shared registry is swept — a new stage
      // artifact is covered here (and by Bench's warehouse resolve)
      // without touching this test. Rows are totally ordered by all
      // columns (artifact tables are distinct-by-construction).
      def rows(dir: String) = graft.queries.Stages.persistableArtifacts
        .map { case (name, build) =>
          val df = build(spark, dir)
          name -> df.orderBy(df.columns.sorted.map(col).toIndexedSeq: _*)
            .collect().toSeq
        }
      assert(rows(stored) == rows(src))
    } finally {
      StageStore.clearForTesting(stored)
      graft.queries.Stages.clearAllForTesting()
    }
  }

  test("every persistable artifact's display suffix selects its memo cell (the warm/cold sample contract)") {
    // Stages.warmReadSample / coldBuildSample address an artifact by
    // its display-name suffix and match it against the memo key's
    // artifact-id segment — a stage() id that drifts from the display
    // suffix (five did before round 12: bigrams/bigramCounts,
    // trussThreshold_30, …) makes both samples silently report the -1
    // "not resolved" sentinel instead of failing loudly. Pin the
    // correspondence for every registered artifact.
    import graft.queries.VectorStage
    for ((name, build) <- graft.queries.Stages.persistableArtifacts) {
      build(spark, src).count() // resolve (memo hit if already built)
      val sub = name.split("\\.", 2)(1)
      val dropped = GraphStage.dropMatchingAndFree(sub) +
        DedupStage.dropMatchingAndFree(sub) +
        LmStage.dropMatchingAndFree(sub) +
        VectorStage.dropMatchingAndFree(sub)
      assert(dropped >= 1,
        s"$name: display suffix '$sub' selects no memo cell — the " +
          "warm/cold samples would silently report -1 for it")
    }
  }

  test("persisted cluster table folds a batch via foldInto, equal to full recompute") {
    import spark.implicits._
    // two old components {1,2,3} and {10,11}; the batch bridges them
    // (3,10) and adds a brand-new pair (20,21)
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val batch = Seq((3L, 10L), (20L, 21L)).toDF("a", "b")
    val fmt = new CommitLogTable(spark)
    fmt.overwrite("clusters", Components.connectedComponents(oldPairs))
    val v = Components.foldInto(fmt, "clusters", batch)
    assert(v == 2L)
    val maintained = fmt.read("clusters")
      .orderBy("node").collect().toSeq
    val fromScratch = Components
      .connectedComponents(oldPairs.unionByName(batch))
      .orderBy("node").collect().toSeq
    assert(maintained == fromScratch)
    // an empty batch must not mint a version (idle-stream discipline)
    val v2 = Components.foldInto(fmt, "clusters", batch.where(lit(false)))
    assert(v2 == 2L && fmt.currentVersion("clusters") == 2L)
  }

  test("foldInto bootstraps an absent table from scratch") {
    import spark.implicits._
    val fmt = new CommitLogTable(spark)
    val v = Components.foldInto(
      fmt, "boot", Seq((5L, 6L), (6L, 7L)).toDF("a", "b"))
    assert(v == 1L)
    assert(fmt.read("boot").orderBy("node").collect().toSeq ==
      Components.connectedComponents(
        Seq((5L, 6L), (6L, 7L)).toDF("a", "b")).orderBy("node").collect().toSeq)
  }

  test("bucketed positioned layout: cold session reads committed buckets, probe is exchange-free, bit-equal") {
    val dir = snapshotDir("bkt")
    val wh = warehouse("bkt")
    // in-process reference FIRST (no store): the r12 positioned cache
    val reference = graft.queries.PipelineQueries
      .q_fuzzy_join(spark, dir).collect().toSeq
    graft.queries.Stages.clearAllForTesting()
    StageStore.setForTesting(dir, wh)
    try {
      val before = DedupStage.buildCount
      val viaStore = graft.queries.PipelineQueries.q_fuzzy_join(spark, dir)
      assert(viaStore.collect().toSeq == reference && reference.nonEmpty)
      val builds = DedupStage.buildCount - before
      // the bucketed files + DDL marker are committed under the root
      val bktRoot = new java.io.File(wh, "bucketed")
      val tables = Option(bktRoot.listFiles).getOrElse(Array.empty)
        .filter(_.getName.contains("fuzzyIdxBkt"))
      assert(tables.length == 1, tables.mkString(","))
      assert(new java.io.File(tables.head, "_graft_bucketed.json").exists)
      // cold session: drop every memo AND the catalog entry — exactly
      // what a fresh driver JVM starts without — and re-request. The
      // committed buckets must serve the layout with no index rebuild.
      graft.queries.Stages.clearAllForTesting()
      spark.sql(s"DROP TABLE IF EXISTS `${graft.queries.BucketedStage
        .catalogName(wh, tables.head.getName)}`")
      val before2 = DedupStage.buildCount
      val cold = graft.queries.PipelineQueries.q_fuzzy_join(spark, dir)
      assert(cold.collect().toSeq == reference)
      // the plain keys-index builder must NOT have run again (the
      // bucketed table feeds the probe); store reads aren't builds
      assert(DedupStage.buildCount - before2 < builds,
        s"cold session rebuilt the index (builds: $builds then " +
          s"${DedupStage.buildCount - before2})")
      // the committed scan arrives hash-partitioned on the variant
      // key: the candidate self-join must not re-exchange the index
      // side (buckets ARE the positioning — the verdict's zero-
      // Exchange probe shape). The only exchanges left are the pair
      // dedup, the verify width repartition, and the contract sort.
      val idx = DedupStage.customerNameIndexPartitioned(spark, dir)
      val probe = idx.as("x").join(idx.as("y"), Seq("bkey"))
      val shuffles = countShuffles(probe.queryExecution.executedPlan)
      assert(shuffles == 0,
        s"$shuffles exchanges:\n${probe.queryExecution.executedPlan}")
    } finally {
      StageStore.clearForTesting(dir)
      graft.queries.Stages.clearAllForTesting()
    }
  }

  test("bucketed layout: a truncated marker is dropped and the layout rebuilds") {
    import graft.queries.BucketedStage
    import spark.implicits._
    val wh = warehouse("bkt_torn")
    val tableDir = Paths.get(wh, "bucketed", "torn")
    Files.createDirectories(tableDir)
    // a marker torn mid-write: the JSON stops inside the schema string
    Files.write(tableDir.resolve("_graft_bucketed.json"),
      "{\"schema\":\"k BIGINT, v ST".getBytes("UTF-8"))
    var builds = 0
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    val t = BucketedStage.resolve(spark, wh, "torn", Seq("k")) {
      builds += 1
      rows.toDF("k", "v")
    }
    try {
      assert(builds == 1, "a torn marker must rebuild, not recreate DDL")
      assert(t.orderBy("k").as[(Long, String)].collect().toSeq == rows)
      // the rebuilt marker is committed whole (no temp file left)
      val marker = new String(
        Files.readAllBytes(tableDir.resolve("_graft_bucketed.json")), "UTF-8")
      assert((org.json4s.jackson.JsonMethods.parse(marker) \ "buckets") ==
        org.json4s.JInt(1), marker)
      assert(!Files.exists(tableDir.resolve("_graft_bucketed.json.tmp")))
    } finally spark.sql(s"DROP TABLE IF EXISTS `${BucketedStage.catalogName(wh, "torn")}`")
  }
}
