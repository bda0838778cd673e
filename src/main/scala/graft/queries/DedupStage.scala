package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Tables
import graft.operators.Components
import graft.text.TextOps

/** The staged dedup-cluster artifact: MinHash near-dup pair mining +
  * connected components over the corpus snapshot, computed ONCE and
  * shared by every consumer.
  *
  * Four registered queries need the cluster labeling
  * (`q_dedup_components`, `q_cluster_canonical`, `q_dedup_stats`,
  * `q_split_dedup_aware`); mining pairs and re-running components
  * independently in each was ~2 s × 4 at sf0.1 and would be 4 full
  * corpus passes at 100 TB. A production pipeline materializes the
  * pair/cluster tables once per corpus snapshot and every downstream
  * stage reads the artifact — this object is that seam: the labeling
  * is computed on first request per (session, snapshot dir,
  * parameters) and, when a [[StageStore]] warehouse root is
  * configured, committed as a versioned
  * [[graft.etl.TableFormat]] table that COLD sessions read instead
  * of rebuilding (StageStoreSpec proves read-not-rebuild and
  * bit-equality); without a root it is an eager `localCheckpoint`,
  * session-lifetime — a corpus snapshot is immutable, so in-process
  * there is no invalidation story beyond the session ending with its
  * blocks. Daily maintenance of the labeling folds a pair delta in
  * with [[graft.operators.Components.incremental]] (`q_cc_incremental`
  * for the batch cadence; [[graft.operators.Components.foldInto]]
  * commits the same fold per micro-batch in
  * [[graft.streaming.StreamingDedup.clusterMaintenance]]).
  */
object DedupStage {

  private val stage = new StageCache

  def stagedSeconds: Double = stage.stagedSeconds
  private[graft] def clearForTesting(): Unit = stage.clear()
  private[graft] def clearAndFree(): Unit = stage.clearAndFree()
  private[graft] def buildCount: Long = stage.buildCount
  private[graft] def dropMatchingAndFree(sub: String): Int =
    stage.dropMatchingAndFree(sub)

  /** The full-corpus MinHash near-dup PAIR table (a, b, jaccard) at
    * the corpus default parameters — ONE mining pass (shingle →
    * minhash → band self-join → exact-Jaccard verify) shared by every
    * consumer: the [[components]] labeling build, the
    * [[corpusSliceLabels]] prior (LSH banding is per-document, so a
    * sub-corpus's pairs are EXACTLY the full table filtered to pairs
    * with both endpoints inside it — no re-mining), `q_dedup_minhash`
    * (the pairs themselves), and `q_curate`'s near-dup stage. Before
    * round 11 the mining ran once in staging plus once per
    * q_dedup_minhash/q_curate call — two extra full corpus passes per
    * sweep, and at 100 TB two extra corpus scans per consumer run. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, s"minhashPairs|$ccParams") {
      TextOps.minhashDupPairs(
        Tables.table(spark, dir, "documents"),
        CorpusQueries.ShingleN, CorpusQueries.MinhashK,
        CorpusQueries.MinhashBands, CorpusQueries.JaccardThreshold)
        .localCheckpoint(true)
    }

  /** (node, label) connected-component labeling of the MinHash
    * near-dup graph at the corpus default parameters — only nodes
    * incident to a near-dup pair appear (singletons derive by
    * anti-join or coalesce on the consumer side). */
  def components(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, s"components|$ccParams") {
      // connectedComponents' final round already ends in an EAGER
      // localCheckpoint; the returned frame is a light projection over
      // those materialized blocks. Checkpointing again here would
      // duplicate the block set and strand the inner one.
      Components.connectedComponents(
        minhashPairs(spark, dir).select("a", "b"))
    }

  import org.apache.spark.sql.functions.col

  /** The 3/4 corpus slice the incremental-CC daily batch treats as
    * "yesterday's corpus" (`q_cc_incremental`): doc_id % 4 ≠ 0. */
  private def corpusSlice(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents").where(col("doc_id") % 4 =!= 0)

  private def ccParams: String =
    s"n=${CorpusQueries.ShingleN}|k=${CorpusQueries.MinhashK}" +
      s"|b=${CorpusQueries.MinhashBands}|t=${CorpusQueries.JaccardThreshold}"

  /** Yesterday's cluster labeling over the corpus slice — the
    * persisted state a daily incremental-CC batch STARTS from. In
    * production this is a warehouse table written by yesterday's run;
    * staging it keeps `q_cc_incremental` measuring the actual daily
    * increment (index probe + batch-intra mining + fold) instead of
    * re-deriving the prior corpus from scratch on every call. */
  def corpusSliceLabels(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, s"ccPriorLabels|$ccParams") {
      // slice pairs = full-corpus pairs with both endpoints in the
      // slice: minhash signatures and bands are per-document, so a
      // sub-corpus mines exactly the filtered pair set — no second
      // full mining pass (see [[minhashPairs]])
      Components.connectedComponents(
        minhashPairs(spark, dir)
          .where(col("a") % 4 =!= 0 && col("b") % 4 =!= 0)
          .select("a", "b"))
    }

  /** Yesterday's LSH band index over the corpus slice — the second
    * persisted prior the daily batch probes (the corpus itself stays
    * untouched; only band rows travel). */
  def corpusSliceBandIndex(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, s"ccPriorIndex|$ccParams") {
      TextOps.lshBandRows(
        corpusSlice(spark, dir),
        CorpusQueries.ShingleN, CorpusQueries.MinhashK,
        CorpusQueries.MinhashBands)
        .localCheckpoint(true)
    }

  /** The prefix-join index table over the FULL corpus
    * ([[TextOps.prefixOrderedShingles]]): per doc, shingles ordered
    * by global (df, shingle) plus the set size. Threshold-independent
    * (only the shingle width parameterizes it), so any p/q similarity
    * join reads the same snapshot artifact
    * ([[TextOps.prefixJaccardPairsFromKeyed]]). */
  def prefixIndex(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, s"prefixIndex|n=${CorpusQueries.ShingleN}") {
      TextOps.prefixOrderedShingles(
        Tables.table(spark, dir, "documents"), CorpusQueries.ShingleN)
        .localCheckpoint(true)
    }

  /** The deletion-1 blocking KEY index over customer names
    * ([[graft.operators.FuzzyJoin.deletionIndex]] — (id, variant key)
    * rows, no string payload): per-snapshot, like the shingle index —
    * the fuzzy self-join (`q_fuzzy_join`) then pays only candidate
    * join + dedup + levenshtein verify instead of re-exploding len+1
    * variant rows per name on every call. */
  def customerNameIndex(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "fuzzyCustomerIndex|d=1") {
      graft.operators.FuzzyJoin.deletionIndex(
        Tables.table(spark, dir, "customer"), "c_custkey", "c_name")
        .localCheckpoint(true)
    }

  /** The deletion index PRE-POSITIONED on the variant key — the
    * in-session stand-in for a bkey-bucketed warehouse table
    * (exactly [[graft.io.BucketedTables]]'s role for the store's
    * band index). Two effects, and on THIS testdata the second is
    * the measured one: (a) both self-join sides arrive
    * hash-partitioned on the join key, so if the keys-only index
    * ever outgrows auto-broadcast the candidate join plans with zero
    * Exchange; (b) the raw checkpoint inherits the SOURCE FILE's
    * partitioning (1–2 partitions from the single customer parquet),
    * so every scan of the 2.8M-row index — the streamed side AND the
    * per-invocation broadcast build — ran near-serially; the
    * positioned cache is shuffle-partitions-wide. Same eager-CACHE
    * shape as [[GraphStage.copurchaseAdjacencyPartitioned]] (a
    * cached plan keeps its HashPartitioning visible to Catalyst
    * where a checkpoint's LogicalRDD reports Unknown under AQE);
    * session-scoped (`persistable = false`) because a parquet
    * round-trip would discard the layout — the one positioning
    * shuffle is paid once per snapshot per session (production pays
    * it once at index WRITE time via bucketing). Measured:
    * q_fuzzy_join 2.71 → 1.42 s min-of-5 at sf0.1, clean canaries. */
  def customerNameIndexPartitioned(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "fuzzyCustomerIndexPartitioned|v2", persistable = false) {
      val positioned = StageStore.rootFor(dir) match {
        case Some(root) =>
          // warehouse mode (round 13): the index commits BUCKETED on
          // the variant key through the catalog seam — the production
          // shape the r12 comment promised. A fresh JVM recreates the
          // DDL over the committed files and reads them back already
          // hash-partitioned: the positioning shuffle is paid once per
          // SNAPSHOT (at index write), not once per session, and the
          // probe join plans with zero Exchange on the index side
          // ([[BucketedStage]]; StageStoreSpec pins bit-equality and
          // the cold-session read-not-rebuild). The erasure epoch
          // rides the table name exactly as it rides stage memo keys.
          val epoch = StageStore.erasureEpoch(spark, dir)
          val what = if (epoch == 0) "fuzzyIdxBkt|d=1" else s"fuzzyIdxBkt|d=1|fe$epoch"
          BucketedStage.resolve(spark, root,
            StageStore.tableName(dir, what), Seq("bkey")) {
            customerNameIndex(spark, dir)
          }.persist()
        case None =>
          // in-process: the session positioned CACHE (r12 shape) — a
          // parquet round-trip would discard the layout
          customerNameIndex(spark, dir).repartition(col("bkey")).persist()
      }
      indexSizes.put(indexSizeKey(spark, dir), positioned.count())
      positioned
    }

  /** Row count of [[customerNameIndexPartitioned]] — the statistic
    * `q_fuzzy_join` sizes its verify-stage parallelism from (rows per
    * task, [[graft.operators.FuzzyJoin.VerifyRowsPerTask]]). Captured
    * by the positioning build's own count, so no extra job per query
    * invocation; a real warehouse reads this from table stats. */
  def customerNameIndexSize(spark: SparkSession, dir: String): Long = {
    val positioned = customerNameIndexPartitioned(spark, dir) // memoized build
    Option(indexSizes.get(indexSizeKey(spark, dir))).map(_.longValue)
      // unreachable in practice (the build put it); a cached count is
      // one cheap job if a future cache-clear path ever skips the put
      .getOrElse(indexSizes.computeIfAbsent(
        indexSizeKey(spark, dir), _ => positioned.count()))
  }

  private def indexSizeKey(spark: SparkSession, dir: String): String =
    s"${spark.sparkContext.applicationId}|$dir|fuzzyIdxSize"
  private val indexSizes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Yesterday's perceptual-hash band index over the prior asset
    * slice (doc_id % 4 ≠ 0, media = encoded text — the corpus fixture
    * pattern): the persisted prior the daily incremental IMAGE dedup
    * probes (`q_phash_incremental`), exactly as
    * [[corpusSliceBandIndex]] is for text MinHash — prior-corpus
    * bytes, features, and hashes never recompute; only band rows
    * travel. */
  def phashPriorIndex(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, "phashPriorIndex|c=16|bits=32|bands=2") {
      import org.apache.spark.sql.functions.encode
      graft.multimodal.Multimodal.phashBandRows(
        Tables.table(spark, dir, "documents")
          .where(col("doc_id") % 4 =!= 0)
          .select(col("doc_id").as("asset_id"),
            encode(col("text"), "UTF-8").as("media")))
        .localCheckpoint(true)
    }

  /** The (doc_id, pos, h) span-hash stream for C4-style keep-first
    * span dedup ([[TextOps.segmentHashRows]]): one span tokenize+hash
    * pass per snapshot, read by both `q_dedup_rewrite`'s global
    * count/argmin and its removed-position probe — measured 2.4 →
    * 1.1 s at sf0.1. The analogous per-token gram stream for
    * `q_exact_substring` was measured SLOWER staged (its ~n_tokens
    * rows cost more to checkpoint-round-trip than to recompute
    * fused), so only the 5×-narrower segment stream stages. */
  def segmentHashes(spark: SparkSession, dir: String): DataFrame =
    stage(spark, dir, s"segmentHashes|seg=${CorpusQueries.RewriteSeg}") {
      TextOps.segmentHashRows(
        Tables.table(spark, dir, "documents"), CorpusQueries.RewriteSeg)
        .localCheckpoint(true)
    }

  /** This stage's rows in [[Stages.persistableArtifacts]]. */
  private[graft] def persistableArtifacts
      : Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup.minhashPairs" -> (minhashPairs _),
    "dedup.components" -> (components _),
    "dedup.ccPriorLabels" -> (corpusSliceLabels _),
    "dedup.ccPriorIndex" -> (corpusSliceBandIndex _),
    "dedup.prefixIndex" -> (prefixIndex _),
    "dedup.fuzzyCustomerIndex" -> (customerNameIndex _),
    "dedup.phashPriorIndex" -> (phashPriorIndex _),
    "dedup.segmentHashes" -> (segmentHashes _))
}
