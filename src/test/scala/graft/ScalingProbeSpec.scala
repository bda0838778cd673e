package graft

/** The PLANS.md 10× scaling probe as an executable gate: the five
  * heavyweight queries must stay ≤5× wall-time when rows grow 10×
  * (sf0.01 → sf0.1). Sub-linear-per-row scaling is the empirical
  * signature that candidate generation stays blocked/bucketed — an
  * accidental n² (a lost equi-key, a broadcast turned nested-loop)
  * shows up here as ~100×, far outside the generous 5× bound that
  * absorbs box variance and fixed overheads.
  *
  * SLOW SUITE: skipped (canceled) unless `GRAFT_SLOW=1` — run at
  * round close, not in the default `sbt test` loop:
  * `GRAFT_SLOW=1 sbt "testOnly graft.ScalingProbeSpec"`. */
class ScalingProbeSpec extends SparkSpec {

  private val heavyweights = Seq(
    "q_fuzzy_join", // deletion-variant blocking
    "q_triangles", // packed-adjacency intersections over the staged edges
    "q_kcore", // histogram threshold + delta-peel rounds
    "q_ktruss", // staged edge support + delta triangle peeling
    "q_pagerank", // iterative integer mass
    "q_cc_incremental", // daily fold: index probe + batch mining + delta CC
    "q_phash_dedup", // perceptual-hash banded join + Hamming verify
    "q_split_dedup_aware", // components consumer over the staged artifact
    "q_containment_prefix", // prefix-filtered candidate join (r9)
    "q_curate_incremental", // two-day fold: gates + index probes (r9)
    "q_kmeans") // full-collection Lloyd: bounded per-round shuffle (r9)

  private val small = "/root/testdata/sf0.01"
  private val big = "/root/testdata/sf0.1"

  test("heavyweight queries stay within 5x wall-time for 10x rows") {
    assume(sys.env.contains("GRAFT_SLOW"),
      "slow probe — run with GRAFT_SLOW=1 at round close")
    // the MinHash mining moved into the staged pair artifact in round
    // 11 (q_dedup_minhash is a memoized scan now — dropped from the
    // heavyweight list as vacuous), so the mining pass is probed as a
    // COLD build at both scales FIRST, memos cleared per side
    def coldBuildProbe(label: String)(build: String => Unit): Option[String] = {
      def timed(dir: String): Double = {
        graft.queries.Stages.clearAllAndFree()
        val t0 = System.nanoTime()
        build(dir)
        (System.nanoTime() - t0) / 1e9
      }
      val ts = timed(small)
      val tb = timed(big)
      val ratio = tb / math.max(ts, 0.1)
      info(f"$label%-22s sf0.01=$ts%6.2f s  sf0.1=$tb%6.2f s  ratio=$ratio%4.1f")
      if (ratio > 5.0) Some(f"$label scales $ratio%.1fx for 10x rows") else None
    }
    val miningFailures = Seq(
      coldBuildProbe("minhash-pairs build")(dir =>
        graft.queries.DedupStage.minhashPairs(spark, dir).count())).flatten
    // stage the shared dedup artifact at BOTH scales next, so
    // q_split_dedup_aware times its consumer stage at each
    graft.queries.DedupStage.components(spark, small).count()
    graft.queries.DedupStage.components(spark, big).count()
    // the co-purchase pair mining is the graph family's generation
    // cost — time the staged build itself at each scale (consumers
    // q_triangles/q_kcore then probe their own iteration/intersection
    // scaling over the materialized artifact)
    // the staged builds are corpus passes whose cost left the query
    // set when their consumers became cheap — probe each build
    // directly (pair mining for the graph family, the corpus bigram
    // aggregation that q_collocations' PMI mining moved into)
    def buildProbe(label: String)(build: String => Unit): Option[String] = {
      def timed(dir: String): Double = {
        val t0 = System.nanoTime()
        build(dir)
        (System.nanoTime() - t0) / 1e9
      }
      val ts = timed(small)
      val tb = timed(big)
      val ratio = tb / math.max(ts, 0.1)
      info(f"$label%-22s sf0.01=$ts%6.2f s  sf0.1=$tb%6.2f s  ratio=$ratio%4.1f")
      if (ratio > 5.0) Some(f"$label scales $ratio%.1fx for 10x rows") else None
    }
    val stageFailures = Seq(
      buildProbe("graph-stage build")(dir =>
        graft.queries.GraphStage.copurchasePairCounts(spark, dir).count()),
      buildProbe("bipartite build")(dir =>
        graft.queries.GraphStage.purchaseBipartite(spark, dir).count()),
      buildProbe("tri-count build")(dir =>
        graft.queries.GraphStage.copurchaseTriangleCounts(spark, dir).count()),
      buildProbe("edge-support build")(dir =>
        graft.queries.GraphStage.copurchaseEdgeSupport(spark, dir).count()),
      buildProbe("cc-prior build")(dir =>
        graft.queries.DedupStage.corpusSliceLabels(spark, dir).count()),
      buildProbe("lm-stage build")(dir =>
        graft.queries.LmStage.bigramCounts(spark, dir).count()),
      buildProbe("fuzzy-index build")(dir =>
        graft.queries.DedupStage.customerNameIndex(spark, dir).count()),
      buildProbe("pr-prior-ranks build")(dir =>
        graft.queries.GraphStage.pagerankPriorRanks(spark, dir).count()),
      buildProbe("km-prior-state build")(dir =>
        graft.queries.VectorStage.kmPriorState(spark, dir).count()),
      buildProbe("ivf-prior build")(dir =>
        graft.queries.VectorStage.ivfPriorPostings(spark, dir).count())).flatten
    val failures = miningFailures ++ stageFailures ++ heavyweights.flatMap { name =>
      def minOf2(dir: String): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.CheckpointBlocks.scoped(
          Bench.execute(SparkEntry.queries(name)(spark, dir)))
        (System.nanoTime() - t0) / 1e9
      }.min
      val ts = minOf2(small)
      val tb = minOf2(big)
      // floor the small time: fixed per-query overhead (session, job
      // setup) would otherwise make sub-100ms queries report noise
      val ratio = tb / math.max(ts, 0.1)
      info(f"$name%-22s sf0.01=$ts%6.2f s  sf0.1=$tb%6.2f s  ratio=$ratio%4.1f")
      if (ratio > 5.0) Some(f"$name scales $ratio%.1fx for 10x rows") else None
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  /** ONE MORE DECADE (sf0.1 → a derived sf1): the sf0.01→0.1 probe's
    * worst ratios (q_dedup_minhash 4.5, q_fuzzy_join ~3.9,
    * q_containment_prefix 2.9) deserve a second decade before the
    * scaling claim is believed toward 100×. The sf1 slice is
    * DERIVED from sf0.1 — 10 replicas with per-replica token/tag
    * perturbation chosen so each replica preserves the original's
    * intra-replica similarity structure exactly while sharing ZERO
    * matches across replicas (disjoint shingle vocabularies; customer
    * tags pairwise edit distance 3 ≫ the dist-1 threshold): true
    * pairs, candidates, and rows all scale by exactly 10, so the
    * measured ratio isolates the ENGINE's scaling, not a workload
    * shape change.
    *
    * The bound here is ≤12, NOT the first tier's ≤5 — deliberately.
    * At the first decade the small side is fixed-overhead-dominated,
    * which halves apparent ratios; at the second decade real work
    * dominates BOTH sides, and the ideal for a work-dominated
    * operator is LINEAR — ratio ≈ 10 for 10× rows (measured stage by
    * stage for q_fuzzy_join: candidates 977k→9.77M, true pairs
    * 262k→2.62M, each stage's wall ∝ rows). Linear-in-rows is
    * exactly what survives a 1000-executor scale-out; what this tier
    * must catch is SUPERLINEAR collapse — a lost equi-key or a
    * broadcast gone nested-loop reads ~100×, far outside 12. */
  test("one decade up: heavyweights scale linearly (<=12x for 10x rows) from sf0.1 to a derived sf1") {
    assume(sys.env.contains("GRAFT_SLOW"),
      "slow probe — run with GRAFT_SLOW=1 at round close")
    val sf1 = DecadeSlice.ensure(spark, big)

    def buildProbe(label: String)(build: String => Unit): Option[String] = {
      def timed(dir: String): Double = {
        // both sides must build COLD: the first tier's queries leave
        // sf0.1 artifacts memoized, and a 0.05 s memo hit under a
        // true sf1 build fakes a 60x "ratio" (round-10 finding)
        graft.queries.Stages.clearAllAndFree()
        val t0 = System.nanoTime()
        build(dir)
        (System.nanoTime() - t0) / 1e9
      }
      val ts = timed(big)
      val tb = timed(sf1)
      val ratio = tb / math.max(ts, 0.1)
      info(f"$label%-22s sf0.1=$ts%6.2f s  sf1=$tb%6.2f s  ratio=$ratio%4.1f")
      if (ratio > 12.0) Some(f"$label scales $ratio%.1fx for 10x rows at the second decade")
      else None
    }
    val stageFailures = Seq(
      buildProbe("fuzzy-index build")(dir =>
        graft.queries.DedupStage.customerNameIndex(spark, dir).count()),
      buildProbe("prefix-index build")(dir =>
        graft.queries.DedupStage.prefixIndex(spark, dir).count()),
      // q_dedup_minhash reads the staged pair artifact since round 11,
      // so the MINING pass (historically the worst decade ratio, 4.5
      // at tier 1) is probed here as the cold artifact build
      buildProbe("minhash-pairs build")(dir =>
        graft.queries.DedupStage.minhashPairs(spark, dir).count())).flatten

    // q_dedup_minhash dropped in round 11: it reads the staged pair
    // artifact, so its "ratio" was two memo scans — the mining's
    // decade scaling rides the cold minhash-pairs build probe above
    val decadeHeavyweights =
      Seq("q_fuzzy_join", "q_containment_prefix",
        "q_curate_incremental")
    val failures = stageFailures ++ decadeHeavyweights.flatMap { name =>
      def minOf2(dir: String): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.CheckpointBlocks.scoped(
          Bench.execute(SparkEntry.queries(name)(spark, dir)))
        (System.nanoTime() - t0) / 1e9
      }.min
      val ts = minOf2(big)
      val tb = minOf2(sf1)
      val ratio = tb / math.max(ts, 0.1)
      info(f"$name%-22s sf0.1=$ts%6.2f s  sf1=$tb%6.2f s  ratio=$ratio%4.1f")
      if (ratio > 12.0)
        Some(f"$name scales $ratio%.1fx for 10x rows at the second decade")
      else None
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  /** The empirical receipt for the manifest backend's O(batch) claim
    * (`corpus_day_sec`'s 100 TB story): fold a SAME-SIZE day into a
    * 10× resident corpus and the day's wall cost must track the
    * BATCH, not the corpus. Batch = replica-0 docs with last digit 7
    * (identical 10% slice at both tiers — the replica-id offset is a
    * multiple of 10, so the digit survives replication); resident =
    * everything else (4,500 docs at sf0.1, 49,500 at the derived
    * sf1). The disjoint-vocabulary replicas mean the 10× band index
    * holds 10× rows but the probe's true matches are unchanged, so
    * the measured ratio isolates index size. Ideal ratio ≈ 1; the ≤3
    * bound leaves room for the probe's index-side scan growing with
    * the corpus while still catching the O(corpus) failure modes
    * (re-shingling history, an index-side shuffle) that read ≈10×. */
  test("corpus-day fold: same-size day into a 10x corpus stays batch-proportional (<=3x)") {
    assume(sys.env.contains("GRAFT_SLOW"),
      "slow probe — run with GRAFT_SLOW=1 at round close")
    import org.apache.spark.sql.functions.col
    val sf1 = DecadeSlice.ensure(spark, big)
    val cfg = graft.text.Curation.Config()
    val offset = 100000000L

    def dayCost(dir: String, batchOnlyReplica0: Boolean): Double = {
      val root =
        java.nio.file.Files.createTempDirectory("graft-decade-corpus").toString
      try {
        val docs = graft.io.Tables.table(spark, dir, "documents")
        val isBatch =
          if (batchOnlyReplica0) col("doc_id") % 10 === 7 && col("doc_id") < offset
          else col("doc_id") % 10 === 7
        CorpusEtl.init(spark, root,
          docs.where(col("doc_id") % cfg.evalModulus === 0), cfg)
        CorpusEtl.runBatch(spark, root, docs.where(!isBatch), 1L, cfg)
        val t0 = System.nanoTime()
        CorpusEtl.runBatch(spark, root, docs.where(isBatch), 2L, cfg)
        (System.nanoTime() - t0) / 1e9
      } finally graft.io.TempDirs.deleteRecursively(root)
    }

    def minOf2(dir: String, r0: Boolean): Double =
      (1 to 2).map(_ => dayCost(dir, r0)).min
    val ts = minOf2(big, r0 = false)
    val tb = minOf2(sf1, r0 = true)
    val ratio = tb / math.max(ts, 0.1)
    info(f"corpus-day fold        sf0.1=$ts%6.2f s  sf1=$tb%6.2f s  ratio=$ratio%4.1f")
    assert(ratio <= 3.0,
      f"same-size day into a 10x corpus cost $ratio%.1fx — the fold is " +
        "scaling with the corpus, not the batch")
  }

  /** The ANN twin of the corpus-day receipt (q_ann_ivf_incremental's
    * 100 TB claim): appending a SAME-SIZE embedding batch to an index
    * whose resident posting table is 10× larger must cost the BATCH —
    * assignment is map-only against broadcast centroid literals, so a
    * ratio ≈1 is expected and ≥10 would mean the append path is
    * touching resident postings. The SEARCH over the appended index
    * is timed alongside but bounded at the decade tier's linear ≤12:
    * IVF search legitimately scans the probed cells' candidates
    * (nProbe/k of the collection — the knob a deployment retunes as
    * the corpus grows), so linear-in-candidates is the correct
    * expectation there, not O(batch). */
  test("ivf index append: same-size batch into a 10x posting table stays batch-proportional (<=3x)") {
    assume(sys.env.contains("GRAFT_SLOW"),
      "slow probe — run with GRAFT_SLOW=1 at round close")
    import org.apache.spark.sql.functions.col
    val sf1 = DecadeSlice.ensure(spark, big)
    val offset = 100000000L

    def tierCost(dir: String, replica0Only: Boolean): (Double, Double) = {
      // yesterday's artifacts resolve OUTSIDE the timed windows — the
      // daily pipeline reads them from the warehouse, it never
      // rebuilds them
      val centroids = graft.queries.VectorStage.ivfPriorCentroidSeq(spark, dir)
      graft.queries.VectorStage.ivfPriorPostings(spark, dir).count()
      val v = graft.io.Tables.table(spark, dir, "embeddings")
      val isBatch =
        if (replica0Only) col("vec_id") % 4 === 0 && col("vec_id") < offset
        else col("vec_id") % 4 === 0
      val batch = v.where(isBatch)
      def minOf2(work: () => Unit): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        work()
        (System.nanoTime() - t0) / 1e9
      }.min
      val tAssign = minOf2(() =>
        graft.vector.IvfIndex.assign(batch, centroids).count(): Unit)
      // same 20 query vectors at both tiers (replica 0 only), so the
      // search ratio isolates candidate growth
      val queries = v.where(col("vec_id") % 100 === 0 && col("vec_id") < offset)
      val postings = graft.queries.VectorStage.ivfPriorPostings(spark, dir)
        .unionByName(graft.vector.IvfIndex.assign(batch, centroids))
      val tProbe = minOf2(() =>
        graft.vector.IvfIndex
          .topKOverPostings(postings, queries, centroids, nProbe = 2, k = 5)
          .count(): Unit)
      (tAssign, tProbe)
    }

    val (aS, pS) = tierCost(big, replica0Only = false)
    val (aB, pB) = tierCost(sf1, replica0Only = true)
    val assignRatio = aB / math.max(aS, 0.1)
    val probeRatio = pB / math.max(pS, 0.1)
    info(f"ivf batch assign       sf0.1=$aS%6.2f s  sf1=$aB%6.2f s  ratio=$assignRatio%4.1f")
    info(f"ivf appended search    sf0.1=$pS%6.2f s  sf1=$pB%6.2f s  ratio=$probeRatio%4.1f")
    assert(assignRatio <= 3.0,
      f"same-size batch assignment cost $assignRatio%.1fx under a 10x resident " +
        "corpus — the append path is scaling with the postings, not the batch")
    assert(probeRatio <= 12.0,
      f"appended-index search cost $probeRatio%.1fx for 10x candidates — " +
        "superlinear in the probed cells")
  }

  /** The read-side twin of the fold probe (round-11 verdict #7): the
    * store's O(day) READ claims — a manifest-pinned point-in-time read
    * and a `changesBetween` day-feed — receipted against manifest
    * HISTORY length. Two stores with identical same-size days, one
    * with 10× the daily commits; the timed reads touch identical
    * content in both (days 0-2 for the pin, the last single day for
    * the feed), so any ratio growth is the read-side manifest walk
    * scaling with history — the failure modes being ruled out are a
    * read that lists every version dir or re-parses all manifests
    * (≈10×), not the O(lines) manifest parse (a year of appends is a
    * few KB of manifest text). Bound ≤3 absorbs noise on the small
    * absolute times (floored at 0.1 s like every probe here). */
  test("store read paths: pinned read and CDC day-read stay O(day) under 10x manifest history") {
    assume(sys.env.contains("GRAFT_SLOW"),
      "slow probe — run with GRAFT_SLOW=1 at round close")
    import org.apache.spark.sql.functions.col
    val docs = graft.io.Tables.table(spark, small, "documents")

    def buildStore(days: Int): (String, graft.etl.ManifestStore) = {
      val root =
        java.nio.file.Files.createTempDirectory("graft-readprobe").toString
      val fmt = new graft.etl.ManifestParquet(spark, root)
      val store = new graft.etl.ManifestStore(spark, fmt, Seq("docs"))
      var prev = 0L
      for (d <- 0 until days) {
        val day = docs.where(col("doc_id") % 50 === d)
        val v =
          if (d == 0) fmt.tryCommit("docs", day, 0L)
          else fmt.tryAppend("docs", day, ontoVersion = prev, expectedBase = prev)
        store.commit(Map("docs" -> v), d.toLong)
        prev = v
      }
      (root, store)
    }
    def minOf2(work: () => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      work()
      (System.nanoTime() - t0) / 1e9
    }.min

    val (rootA, storeA) = buildStore(5)
    val (rootB, storeB) = buildStore(50)
    try {
      // pinned point-in-time read: manifest 3 pins days 0-2 in BOTH
      // stores — the 47 manifests committed after the pin in store B
      // must not slow reading it
      val tPinA = minOf2(() =>
        storeA.readPinned(storeA.pinned(3L), "docs").count(): Unit)
      val tPinB = minOf2(() =>
        storeB.readPinned(storeB.pinned(3L), "docs").count(): Unit)
      val pinRatio = tPinB / math.max(tPinA, 0.1)
      info(f"pinned read            5-day=$tPinA%6.2f s  50-day=$tPinB%6.2f s  ratio=$pinRatio%4.1f")

      // CDC day-feed: the last day's changes — one same-size day in
      // both stores; the ancestry walk is one hop regardless of depth
      val tCdcA = minOf2(() =>
        storeA.changesBetween(storeA.base - 1, storeA.base)("docs")
          .appended.count(): Unit)
      val tCdcB = minOf2(() =>
        storeB.changesBetween(storeB.base - 1, storeB.base)("docs")
          .appended.count(): Unit)
      val cdcRatio = tCdcB / math.max(tCdcA, 0.1)
      info(f"cdc day-read           5-day=$tCdcA%6.2f s  50-day=$tCdcB%6.2f s  ratio=$cdcRatio%4.1f")

      assert(pinRatio <= 3.0,
        f"pinned read cost $pinRatio%.1fx under 10x manifest history — " +
          "the point-in-time read is walking history, not the pin")
      assert(cdcRatio <= 3.0,
        f"CDC day-read cost $cdcRatio%.1fx under 10x manifest history — " +
          "the feed is scaling with history, not the day")
    } finally {
      graft.io.TempDirs.deleteRecursively(rootA)
      graft.io.TempDirs.deleteRecursively(rootB)
    }
  }
}

/** Builder for the derived-sf1 slice (see the decade test's scaladoc
  * for the perturbation invariants). Written once to /tmp and marked
  * with a _READY sentinel; delete the dir to regenerate. */
object DecadeSlice {
  val root = "/tmp/graft_sf1"

  def ensure(spark: org.apache.spark.sql.SparkSession, srcDir: String): String =
    synchronized {
      import org.apache.spark.sql.functions._
      if (!new java.io.File(root, "_READY").exists()) {
        val reps = 10
        val offset = 100000000L

        // documents: suffix EVERY token with the replica id — each
        // replica is an isomorphic copy over a disjoint vocabulary
        // (no shingle survives across replicas), so near-dup truth
        // scales by exactly `reps`
        val docs = graft.io.Tables.table(spark, srcDir, "documents")
        docs.crossJoin(broadcast(spark.range(reps).toDF("rep")))
          .select(
            (col("doc_id") + col("rep") * offset).as("doc_id"),
            array_join(
              transform(split(col("text"), " "),
                t => concat(t, lit("x"), col("rep"))), " ").as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")))
          .repartition(8)
          .write.mode("overwrite").parquet(s"$root/documents.parquet")

        // customers: per-replica 3-char tags, pairwise edit distance 3
        // — intra-replica distances unchanged, zero cross-replica
        // dist-1 pairs
        val tags = Seq("aa0", "bb1", "cc2", "dd3", "ee4",
          "ff5", "gg6", "hh7", "ii8", "jj9")
        import spark.implicits._
        val tagDf = tags.zipWithIndex.map { case (t, i) => (t, i.toLong) }
          .toDF("tag", "rep")
        graft.io.Tables.table(spark, srcDir, "customer")
          .crossJoin(broadcast(tagDf))
          .select(
            (col("c_custkey") + col("rep") * offset).as("c_custkey"),
            concat(col("c_name"), lit(" "), col("tag")).as("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
          .repartition(8)
          .write.mode("overwrite").parquet(s"$root/customer.parquet")

        new java.io.File(root, "_READY").createNewFile()
      }
      // embeddings joined the slice in round 12 (the IVF append
      // receipt) — an older cached slice has the sentinel but not the
      // table, so this check is independent of _READY. Values are
      // copied verbatim per replica: assignment/search COST does not
      // depend on them, only on row counts
      if (!new java.io.File(s"$root/embeddings.parquet").exists()) {
        import org.apache.spark.sql.functions._
        val reps = 10
        val offset = 100000000L
        graft.io.Tables.table(spark, srcDir, "embeddings")
          .crossJoin(broadcast(spark.range(reps).toDF("rep")))
          .select(
            (col("vec_id") + col("rep") * offset).as("vec_id"),
            col("embedding"), col("label"))
          .repartition(8)
          .write.mode("overwrite").parquet(s"$root/embeddings.parquet")
      }
      root
    }
}
