package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.TextOps
import graft.vector.VectorOps

/** Training-data pipeline operators over `documents` / `embeddings`
  * (the north-star extension set: dedup family, text analysis,
  * similarity search), each registered with a DuckDB oracle.
  *
  * The oracle SQL for the hash/LSH operators is GENERATED from the
  * same constants the Spark plans use (stopword sets, MinHash salt
  * count, band layout, LSH hyperplanes), so both engines run the
  * same deterministic algorithm — see [[TextOps]]/[[VectorOps]]
  * scaladoc for why the results match bit-for-bit.
  */
object CorpusQueries {

  private[graft] val ShingleN = 3
  private[graft] val MinhashK = 16
  private[graft] val MinhashBands = 8
  private[graft] val JaccardThreshold = 0.5
  private val SimhashMaxHamming = 3
  private val CosineDupThreshold = 0.45
  private val AnnK = 10
  private val LshK = 5
  private val VecDim = 64
  private val LshTables = VectorOps.hyperplaneTables(seed = 42L, tables = 4, planes = 4, dim = VecDim)
  // near-dup wants high recall at a fixed threshold, not top-k: fewer
  // planes than ANN (coarse buckets) and many tables (recall
  // amplification). 4 planes balance candidate volume (∝ n²/2^planes
  // per table) against recall at the borderline-cosine regime this
  // synthetic data sits in (θ≈60°); real near-dup thresholds (≥0.8)
  // get both tighter buckets and higher recall from the same layout.
  private val NearDupLshTables = VectorOps.hyperplaneTables(seed = 7L, tables = 8, planes = 4, dim = VecDim)
  // multi-probe runs on HALF the tables: probing replaces index copies
  private val MultiProbeTables = LshTables.take(2)
  private val LshPlanes = 4
  private[queries] val IvfK = 8
  private[queries] val IvfIters = 2
  private val IvfNProbe = 2
  private val IvfTopK = 5
  private val IvfMaxSample = 16384
  // PQ: 2 subspaces × 8 codewords keeps the oracle's per-subspace
  // k-means replay tractable; a production index would run m=16..64,
  // k=256 with the same machinery
  private val PqM = 2
  private val PqK = 8
  private val PqIters = 2
  private val PqTopK = 5
  // one constant feeds BOTH the Scala train call (q_ann_pq) and the
  // oracle replay (pqSubspaceCtes) — a changed bound cannot desync them
  private val PqMaxSample = IvfMaxSample
  // distributed full-collection Lloyd (q_kmeans): k, rounds, and the
  // integer quantization scale — shared verbatim by the oracle replay
  private[queries] val KmK = 8
  private[queries] val KmIters = 3
  private[queries] val KmScale = 1000000L
  private[queries] val RewriteSeg = 5

  // ---- Spark-side queries ------------------------------------------

  def q_doc_stats(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenStats(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id").asc)

  def q_lang_id(spark: SparkSession, dir: String): DataFrame =
    TextOps.langId(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id").asc)

  def q_quality_score(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id").asc)

  def q_fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id").asc)

  /** Per-language tokenizer statistics: whitespace vs BPE-ish
    * pre-tokenization counts, fertility (subword tokens per word),
    * and characters per subword token — the diagnostic a multilingual
    * pipeline reads before committing a tokenizer budget (high
    * fertility on a language means its documents cost more context
    * window per word; the token-budget and mixture ops consume
    * exactly these ratios). Map-side counting + one per-language
    * aggregation; ratios are single double divisions of exact counts. */
  def q_tokenizer_stats(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit(TextOps.bpeishPattern), lit(0)))
          .cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        col("n_chars"),
        round(col("bpe_tokens") / col("ws_tokens"), 6).as("fertility"),
        round(col("n_chars") / col("bpe_tokens"), 6).as("chars_per_token"))
      .orderBy(col("lang").asc)

  def q_dedup_exact(spark: SparkSession, dir: String): DataFrame =
    TextOps.exactDupGroups(Tables.table(spark, dir, "documents"))
      .orderBy(col("content_md5").asc)

  def q_dedup_ngram(spark: SparkSession, dir: String): DataFrame =
    ContractSort(TextOps.ngramJaccardPairs(
      Tables.table(spark, dir, "documents"), ShingleN, JaccardThreshold),
      col("a").asc, col("b").asc)

  /** Exact set-similarity join, prefix-filtered (the lossless scale
    * path for exact Jaccard; same threshold as [[q_dedup_ngram]]'s n²
    * baseline, as the rational 1/2). */
  def q_ssjoin(spark: SparkSession, dir: String): DataFrame =
    // the df-ordered shingle table is the staged per-snapshot index
    // ([[DedupStage.prefixIndex]]); the measured op is the prefix
    // candidate join + positional filter + exact verify at p/q = 1/2.
    ContractSort(TextOps.prefixJaccardPairsFromKeyed(
      DedupStage.prefixIndex(spark, dir), p = 1, q = 2),
      col("a").asc, col("b").asc)

  def q_dedup_minhash(spark: SparkSession, dir: String): DataFrame =
    // the pair table is the staged per-snapshot artifact
    // ([[DedupStage.minhashPairs]] — the same mining pass the
    // components labeling and the curation funnel read)
    DedupStage.minhashPairs(spark, dir)
      .orderBy(col("a").asc, col("b").asc)

  /** The 100 TB daily-crawl shape end-to-end: corpus docs (3/4 of the
    * table) are banded into a persisted-index layout, then the batch
    * (the other 1/4) is shingled map-only and matched via
    * [[TextOps.minhashDupAgainstIndex]] — corpus text is never
    * re-shingled, and with the index bucketed on (band_idx, band_hash)
    * the candidate join is shuffle-free on the index side
    * (asserted in BucketingSpec/PlanPropertiesSpec). */
  def q_dedup_incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val batch = docs.where(col("doc_id") % 4 === 0)
    // the corpus band index is the SAME persisted prior the
    // incremental-CC daily batch reads ([[DedupStage
    // .corpusSliceBandIndex]]) — in production it is a warehouse
    // table, so the measured op is the batch-vs-index probe alone
    TextOps.minhashDupAgainstIndex(
      DedupStage.corpusSliceBandIndex(spark, dir), batch,
      ShingleN, MinhashK, MinhashBands, JaccardThreshold)
      .orderBy(col("a").asc, col("b").asc)
  }

  /** Incremental dedup-CLUSTER maintenance
    * ([[graft.operators.Components.incremental]]): yesterday's corpus
    * (3/4 of the table) carries a components labeling; today's batch
    * (the other 1/4) mines its pairs against the band index + within
    * itself, and the labeling folds the delta in by contracting old
    * components to representatives — components never re-runs over
    * the historical pair set. The labeling lives as a VERSIONED
    * [[graft.etl.TableFormat]] table: yesterday's labeling is
    * committed as v1, the delta folds in through
    * [[graft.operators.Components.foldInto]] — the same maintenance
    * primitive [[graft.streaming.StreamingDedup.clusterMaintenance]]
    * drives per micro-batch — and the output READS the committed v2,
    * so the oracle hash gates the persisted-artifact path end-to-end.
    * Output = the merged labeling plus a `changed` flag (new node or
    * relabeled), i.e. exactly what a daily pipeline writes back to
    * the cluster table. The oracle recomputes BOTH labelings from
    * scratch (full + corpus-only recursive CTEs), so the hash gate
    * proves incremental == full-recompute. */
  /** Opt-in per-step wall attribution (`GRAFT_PROFILE=1`): stderr
    * lines for the eager steps of composite queries, so "which term
    * dominates" is measured, not guessed. */
  private def profiled[A](label: String)(f: => A): A =
    if (!sys.env.contains("GRAFT_PROFILE")) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[profile] $label%-24s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  def q_cc_incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val batch = docs.where(col("doc_id") % 4 === 0)
    // yesterday's corpus state — cluster labels + band index — is the
    // staged prior ([[DedupStage.corpusSliceLabels]] /
    // [[DedupStage.corpusSliceBandIndex]]): in production those are
    // warehouse tables written by yesterday's run, so the measured
    // daily increment is index probe + batch-intra mining + fold, not
    // a from-scratch recompute of the prior corpus.
    val oldLabels = DedupStage.corpusSliceLabels(spark, dir)
    val index = DedupStage.corpusSliceBandIndex(spark, dir)
    // the batch's shingle+minhash band rows feed BOTH the index probe
    // and the batch-intra self-join — compute them once
    val batchBands = profiled("batch-bands") {
      TextOps.lshBandRows(
        batch, ShingleN, MinhashK, MinhashBands).localCheckpoint(true)
    }
    val cross = TextOps.minhashDupAgainstIndexFromBands(
      index, batchBands, JaccardThreshold).select("a", "b")
    val intra = TextOps.minhashDupPairsFromBands(
      batchBands, JaccardThreshold).select("a", "b")
    val clusters = new graft.etl.CommitLogTable(spark)
    profiled("seed-clusters") { clusters.overwrite("clusters", oldLabels) }
    // materialize the mined delta ONCE before the fold: foldInto walks
    // its pairs plan several times (empty-batch guard, contraction,
    // new-node derivation) and would re-run the pair mining each
    // time; the fold is eager (it commits the merged table), so both
    // in-query checkpoints are dead — and freed — once it returns
    val delta = profiled("mine-delta") {
      cross.unionByName(intra).localCheckpoint(true)
    }
    graft.operators.CheckpointBlocks.free(batchBands)
    profiled("fold") {
      graft.operators.Components.foldInto(clusters, "clusters", delta)
    }
    graft.operators.CheckpointBlocks.free(delta)
    val merged = clusters.read("clusters")
    merged
      .join(oldLabels.withColumnRenamed("label", "old_label"), Seq("node"), "left")
      .select(col("node").as("doc_id"), col("label").as("component"),
        (col("old_label").isNull || col("old_label") =!= col("label")).as("changed"))
      .orderBy(col("doc_id").asc)
  }

  def q_dedup_simhash(spark: SparkSession, dir: String): DataFrame =
    ContractSort(TextOps.simhashNearPairs(
      Tables.table(spark, dir, "documents"), SimhashMaxHamming),
      col("a").asc, col("b").asc)

  def q_embed_nn(spark: SparkSession, dir: String): DataFrame =
    VectorOps.allNearestNeighbor(Tables.table(spark, dir, "embeddings"))
      .orderBy(col("query_id").asc)

  def q_embed_near_dup(spark: SparkSession, dir: String): DataFrame =
    VectorOps.nearDupPairs(
      Tables.table(spark, dir, "embeddings"), CosineDupThreshold)
      .orderBy(col("a").asc, col("b").asc)

  /** Scale path for embedding near-dup: LSH buckets → candidates →
    * exact cosine gate (same per-candidate exactness as the n²
    * baseline above; the oracle replays the same algorithm, so this
    * is hash-gated like every other query). */
  def q_embed_near_dup_lsh(spark: SparkSession, dir: String): DataFrame =
    VectorOps.nearDupPairsLsh(
      Tables.table(spark, dir, "embeddings"), NearDupLshTables, CosineDupThreshold)
      .orderBy(col("a").asc, col("b").asc)

  /** Multi-probe LSH ANN: Hamming-1 probes on the query side let TWO
    * tables reach the recall of the four-table single-probe layout —
    * the index-memory/probe-cost trade billion-scale ANN actually
    * runs ([[VectorOps.lshTopKMultiProbe]]). */
  def q_ann_lsh_multiprobe(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.table(spark, dir, "embeddings")
    VectorOps.lshTopKMultiProbe(v, annQueries(v), MultiProbeTables, LshK)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** IVF ANN. Fully oracle-gated: [[graft.vector.IvfIndex.train]] is
    * driver-side, sample-bounded, and fixed-order (seeded from every
    * ⌈n/k⌉-th sample vector, sequential per-dim folds), so the ENTIRE
    * pipeline — 2 Lloyd iterations included — replays in DuckDB SQL
    * with the same float op order (see [[annIvfSql]]); no baked
    * centroid literals, so the oracle tracks any input data. */
  def q_ann_ivf(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.table(spark, dir, "embeddings")
    val centroids = graft.vector.IvfIndex.train(v, k = IvfK, iters = IvfIters)
    graft.vector.IvfIndex.topK(v, annQueries(v), centroids, nProbe = IvfNProbe, k = IvfTopK)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Incremental IVF ANN — the daily INDEX-APPEND path, the ANN
    * family's missing incremental twin (every other persisted index
    * here — BM25, k-means state, phash bands, the dedup band index —
    * already has one): yesterday's corpus (vec_id % 4 ≠ 0) carries a
    * PERSISTED coarse quantizer and posting table
    * ([[VectorStage.ivfPriorCentroids]]/[[VectorStage
    * .ivfPriorPostings]]); today's batch (% 4 = 0) is cell-assigned
    * map-side against the broadcast centroid literals — O(batch × k),
    * zero shuffle, no re-clustering and no touch of the resident
    * postings — and the probe searches the unioned postings. At
    * 100 TB this is the only viable shape: FAISS-style IVF serves
    * appends against a trained quantizer and retrains on a drift
    * cadence, never per batch. Fully oracle-gated like [[q_ann_ivf]]:
    * the SAME Lloyd replay, with training's source restricted to the
    * prior slice ([[annIvfIncrementalSql]]) — a probe that missed
    * batch vectors, re-trained on the full corpus, or re-assigned
    * resident rows hash-mismatches. */
  def q_ann_ivf_incremental(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.table(spark, dir, "embeddings")
    val centroids = VectorStage.ivfPriorCentroidSeq(spark, dir)
    val batch = v.where(col("vec_id") % 4 === 0)
    val postings = VectorStage.ivfPriorPostings(spark, dir)
      .unionByName(graft.vector.IvfIndex.assign(batch, centroids))
    graft.vector.IvfIndex
      .topKOverPostings(postings, annQueries(v), centroids, nProbe = IvfNProbe, k = IvfTopK)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Multimodal plumbing over synthesized binary media (text bytes —
    * ASCII, so the oracle can derive the same bytes from the text
    * side; DuckDB 1.0 can't slice blobs): decode-side metadata plus
    * the REAL [[graft.multimodal.Multimodal.frameSample]] chunk
    * explode, counted per asset. */
  def q_multimodal_meta(spark: SparkSession, dir: String): DataFrame = {
    val withMedia = Tables.table(spark, dir, "documents")
      .select(col("doc_id").as("asset_id"), col("text"),
        encode(col("text"), "UTF-8").as("media"))
    val sampled = graft.multimodal.Multimodal.frameSample(withMedia, 64, 4)
      .groupBy("asset_id").agg(count(lit(1)).as("n_sampled"))
    withMedia
      .select(
        col("asset_id"),
        length(col("media")).cast("bigint").as("byte_len"),
        expr("(length(media) + 63) div 64").as("n_chunks"),
        base64(encode(substring(col("text"), 1, 8), "UTF-8")).as("header_b64"))
      .join(sampled, "asset_id")
      .orderBy(col("asset_id").asc)
  }

  /** Perceptual-hash image dedup over the multimodal column
    * ([[graft.multimodal.Multimodal.phashNearPairs]]): fixed-grid
    * brightness fingerprint per asset, banded-LSH candidate join,
    * exact Hamming verify. The media bytes are the documents' text
    * encoded (the corpus fixture pattern of `q_multimodal_meta`); the
    * oracle replays the integer-exact fingerprint and brute-forces
    * the Hamming predicate — brute force equals the banded join
    * because pigeonhole recall is exact for maxHam < bands. */
  def q_phash_dedup(spark: SparkSession, dir: String): DataFrame = {
    val assets = Tables.table(spark, dir, "documents")
      .select(col("doc_id").as("asset_id"),
        encode(col("text"), "UTF-8").as("media"))
    // MEASURED REJECTION (round-13 receipt in OPTIMIZATION_r13.md):
    // checkpointing the band rows once for both self-join sides plus
    // a pre-sort pair materialization — the shingle-incidence recipe
    // — averaged SLOWER here across two paired min-of-5 A/Bs (1.80 →
    // 2.02 s): the per-asset hash is cheap enough that two lazy
    // evaluations beat two chained eager checkpoints' job overhead,
    // and widening shuffles the media payload itself (§2.3: don't
    // move heavy bytes to parallelize cheap compute). Left lazy.
    graft.multimodal.Multimodal.phashNearPairs(assets)
      .orderBy(col("a").asc, col("b").asc)
  }

  /** Incremental perceptual-hash image dedup — the daily shape of
    * `q_phash_dedup`, mirroring `q_cc_incremental`'s text cadence:
    * yesterday's assets carry a PERSISTED band index
    * ([[DedupStage.phashPriorIndex]]); today's batch (doc_id % 4 = 0)
    * hashes only itself, probes the index for cross pairs, and mines
    * intra-batch pairs from the same band rows — prior-corpus media
    * never re-decodes, re-features, or re-hashes. The oracle
    * recomputes every hash from scratch and brute-forces Hamming ≤ 1
    * over all pairs touching the batch, which equals probe+intra by
    * pigeonhole (maxHam < bands) plus prior/batch disjointness. */
  def q_phash_incremental(spark: SparkSession, dir: String): DataFrame = {
    val batch = Tables.table(spark, dir, "documents")
      .where(col("doc_id") % 4 === 0)
      .select(col("doc_id").as("asset_id"),
        encode(col("text"), "UTF-8").as("media"))
    // the batch's band rows feed BOTH the index probe and the
    // intra-batch join — compute them once
    val batchBands = graft.operators.CheckpointBlocks.local(
      graft.multimodal.Multimodal.phashBandRows(batch))
    val index = DedupStage.phashPriorIndex(spark, dir)
    graft.multimodal.Multimodal.phashNearPairsAgainstIndex(index, batchBands)
      .unionByName(
        graft.multimodal.Multimodal.phashNearPairsFromBands(batchBands))
      .orderBy(col("a").asc, col("b").asc)
  }

  /** Distributed BPE merge training ([[graft.text.Bpe.trainMerges]],
    * staged per snapshot as [[LmStage.bpeMerges]]): the tokenizer-
    * training primitive — vocab-bounded pair counting, argmax with a
    * fixed tie-break, greedy merge. The oracle replays training as an
    * unrolled MATERIALIZED-CTE chain, so the hash gate proves the
    * distributed trainer == the sequential definition. */
  def q_bpe_merges(spark: SparkSession, dir: String): DataFrame =
    LmStage.bpeMerges(spark, dir).orderBy(col("merge_idx").asc)

  /** Tokenize-with-the-shipped-tokenizer: apply the staged merge list
    * to every document ([[graft.text.Bpe.segmentCounts]] — map-only
    * narrow replaces) and count words/tokens per doc. */
  def q_bpe_segment(spark: SparkSession, dir: String): DataFrame = {
    val merges = LmStage.bpeMerges(spark, dir).orderBy(col("merge_idx").asc)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.segmentCounts(Tables.table(spark, dir, "documents"), merges)
      .orderBy(col("doc_id").asc)
  }

  private def annQueries(vecs: DataFrame): DataFrame =
    vecs.where(col("vec_id") % 100 === 0)

  def q_ann_topk(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.table(spark, dir, "embeddings")
    VectorOps.bruteForceTopK(v, annQueries(v), AnnK)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  def q_ann_lsh(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.table(spark, dir, "embeddings")
    VectorOps.lshTopK(v, annQueries(v), LshTables, LshK)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Gopher-style repetition filters over the corpus
    * ([[TextOps.repetitionStats]]). */
  def q_repetition(spark: SparkSession, dir: String): DataFrame =
    ContractSort(TextOps.repetitionStats(Tables.table(spark, dir, "documents")),
      col("doc_id").asc)

  private[queries] val ExactSubstrW = 5

  /** Exact-substring dedup over the corpus
    * ([[TextOps.exactSubstringDedup]]). */
  /** NOTE the asymmetry with [[q_dedup_rewrite]]: staging THIS
    * query's gram stream was MEASURED SLOWER (4.3 vs 2.5 s at sf0.1)
    * — at ~n_tokens rows the checkpoint round-trip costs more than
    * recomputing the fused tokenize+hash per consumer, unlike the
    * 5×-narrower segment stream which stages to a 2× win. Keep the
    * inline form. */
  def q_exact_substring(spark: SparkSession, dir: String): DataFrame =
    ContractSort(TextOps.exactSubstringDedup(
      Tables.table(spark, dir, "documents"), ExactSubstrW),
      col("doc_id").asc)

  /** C4-style keep-first span dedup ([[TextOps.dedupRewrite]]):
    * non-overlapping [[RewriteSeg]]-token spans, every duplicated
    * span keeps only its globally-first occurrence, documents
    * rewritten from the survivors. */
  def q_dedup_rewrite(spark: SparkSession, dir: String): DataFrame =
    TextOps.dedupRewriteFromSegments(
      Tables.table(spark, dir, "documents"),
      DedupStage.segmentHashes(spark, dir), RewriteSeg)
      .orderBy(col("doc_id").asc)

  /** Product-quantization ANN ([[graft.vector.PqIndex]]): per-subspace
    * codebooks from the shared deterministic k-means trainer, the
    * collection compressed to m small ints per vector, ADC search via
    * per-query lookup tables. Fully oracle-gated like [[q_ann_ivf]] —
    * the DuckDB SQL replays training, encoding, and the ADC ranking
    * with the same float op order. */
  def q_ann_pq(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.table(spark, dir, "embeddings")
    val cbs = graft.vector.PqIndex.train(v, m = PqM, k = PqK, iters = PqIters,
      dim = VecDim, maxSample = PqMaxSample)
    val codes = graft.vector.PqIndex.encode(v, cbs, VecDim)
    graft.vector.PqIndex.adcTopK(codes, annQueries(v), cbs, VecDim, PqTopK)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** SemDeDup-style semantic dedup ([[graft.vector.IvfIndex
    * .semanticDedup]]): the IVF coarse quantizer's k-means cells
    * bound the pair search, cosine ≥ threshold drops the higher
    * vec_id. Same driver-side deterministic training as [[q_ann_ivf]],
    * so the oracle replays the whole pipeline in SQL. */
  def q_semantic_dedup(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.table(spark, dir, "embeddings")
    val centroids = graft.vector.IvfIndex.train(v, k = IvfK, iters = IvfIters)
    graft.vector.IvfIndex.semanticDedup(v, centroids, CosineDupThreshold)
      .orderBy(col("vec_id").asc)
  }

  /** Distributed full-collection Lloyd k-means ([[graft.vector
    * .DistributedKMeans]]) — the scale companion to [[q_ann_ivf]]'s
    * sample-bounded driver training: centroids fit on EVERY vector,
    * one map-only-assign + bounded-shuffle-update job per round,
    * integer-exact so any partitioning (and the DuckDB replay)
    * reproduces it bit-for-bit. Output: each vector's final cell and
    * integer squared distance. */
  def q_kmeans(spark: SparkSession, dir: String): DataFrame = {
    val q = VectorStage.quantizedEmbeddings(spark, dir)
    val cents = graft.vector.DistributedKMeans.train(q, KmK, KmIters)
    graft.vector.DistributedKMeans.assignment(q, cents)
      .orderBy(col("vec_id").asc)
  }

  /** ONLINE k-means — the daily-fold twin of [[q_kmeans]]
    * ([[graft.vector.DistributedKMeans.foldBatch]]): Lloyd trains on
    * the first half of the collection only; the second half arrives
    * as a batch, assigns against the state's centroids in ONE job,
    * and merges its per-cell (sum, cnt) partials — history is never
    * rescanned. Assignments are FROZEN at their fold (the
    * incremental-CC contract); distances report against the final
    * merged centroids. Integer-exact throughout, so the DuckDB
    * replay is plain SUM/GROUP BY over the same phases. */
  def q_kmeans_incremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.vector.DistributedKMeans._
    // day-1 training + state are the staged [[VectorStage.kmPriorState]]
    // artifact — yesterday's COMMITTED centroid table, read not
    // retrained — so the query pays only the batch fold + scoring
    val q = VectorStage.quantizedEmbeddings(spark, dir)
    val mid = VectorStage.kmMid(spark, dir)
    val q1 = q.where(col("vec_id") <= mid)
    val q2 = q.where(col("vec_id") > mid)
    val s1 = VectorStage.kmPriorCells(spark, dir)
    val c1 = s1.map(s => QCentroid(s.cell, s.seed))
    val s2 = foldBatch(q2, s1)
    val c2 = centroids(s2)
    val frozen = q1.withColumn("cell", assignCell(col("qv"), c1))
      .unionByName(q2.withColumn("cell", assignCell(col("qv"), centroids(s1))))
    // dist2 vs the final centroid of the frozen cell — a literal CASE
    // chain over k tiny centroids, map-only
    val d2 = c2.foldLeft(lit(null).cast("long")) { (acc, c) =>
      when(col("cell") === c.cell, dist2To(col("qv"), c)).otherwise(acc)
    }
    frozen.select(col("vec_id"), col("cell"), d2.as("dist2"))
      .orderBy(col("vec_id").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmeans" -> (q_kmeans _),
    "q_kmeans_incremental" -> (q_kmeans_incremental _),
    "q_repetition" -> (q_repetition _),
    "q_exact_substring" -> (q_exact_substring _),
    "q_semantic_dedup" -> (q_semantic_dedup _),
    "q_doc_stats" -> (q_doc_stats _),
    "q_lang_id" -> (q_lang_id _),
    "q_quality_score" -> (q_quality_score _),
    "q_fingerprint" -> (q_fingerprint _),
    "q_dedup_exact" -> (q_dedup_exact _),
    "q_dedup_ngram" -> (q_dedup_ngram _),
    "q_ssjoin" -> (q_ssjoin _),
    "q_dedup_minhash" -> (q_dedup_minhash _),
    "q_dedup_incremental" -> (q_dedup_incremental _),
    "q_cc_incremental" -> (q_cc_incremental _),
    "q_tokenizer_stats" -> (q_tokenizer_stats _),
    "q_dedup_simhash" -> (q_dedup_simhash _),
    "q_embed_nn" -> (q_embed_nn _),
    "q_embed_near_dup" -> (q_embed_near_dup _),
    "q_embed_near_dup_lsh" -> (q_embed_near_dup_lsh _),
    "q_ann_topk" -> (q_ann_topk _),
    "q_ann_lsh" -> (q_ann_lsh _),
    "q_ann_lsh_multiprobe" -> (q_ann_lsh_multiprobe _),
    "q_multimodal_meta" -> (q_multimodal_meta _),
    "q_phash_dedup" -> (q_phash_dedup _),
    "q_phash_incremental" -> (q_phash_incremental _),
    "q_bpe_merges" -> (q_bpe_merges _),
    "q_bpe_segment" -> (q_bpe_segment _),
    "q_ann_ivf" -> (q_ann_ivf _),
    "q_ann_ivf_incremental" -> (q_ann_ivf_incremental _),
    "q_ann_pq" -> (q_ann_pq _),
    "q_dedup_rewrite" -> (q_dedup_rewrite _),
    "q_rank_fusion" -> (q_rank_fusion _),
    "q_store_time_travel" -> (q_store_time_travel _),
    "q_store_cdc" -> (q_store_cdc _),
    "q_store_evolve" -> (q_store_evolve _),
  )

  // ---- manifest-store time travel ------------------------------------
  //
  // One store build per (session, snapshot dir), memoized like the
  // staged artifacts but holding a DISK root: the query's subject is
  // the pinned READ path, so bench sweeps re-read a committed store
  // rather than re-building it (sweep 1 pays the build; min-of-reps
  // reports the read).
  private val ttStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** SQL time travel through the manifest store, under the SAME hash
    * gate as every other query (the round-10 storage surface was
    * spec-gated only): the documents table lands in a
    * [[graft.etl.ManifestParquet]] store as two committed batches —
    * day-1 = `doc_id % 10 < 6` (manifest v1), day-2 = the rest
    * (manifest v2) — and the query aggregates the store AS-OF manifest
    * v1 through [[graft.GraftCatalog.registerStore]]'s pinned SQL
    * view. The oracle recomputes the day-1 aggregate directly from the
    * base parquet, so a pin that leaked day-2 rows, dropped day-1
    * files, or resolved `currentVersion` instead of the recorded pin
    * hash-mismatches. */
  /** Build (once per session × snapshot dir) the three-commit store
    * the time-travel AND cdc queries read — "yesterday's committed
    * store", i.e. a PRIOR like the staged indexes, exposed so Bench
    * can resolve it in the staging phase (reported as
    * `staged_ttstore_sec`) instead of letting a min-of-1 run charge
    * the build to the first rep. History: manifest 1 = day-1 docs
    * (`doc_id % 10 < 6`), manifest 2 = day-2 append (the rest),
    * manifest 3 = a right-to-be-forgotten tombstone delete of
    * `doc_id % 7 == 0` (an O(forget-set) deletion-vector commit on
    * the manifest-log backend — no history rewrite), manifest 4 = a
    * SCHEMA-EVOLVING day-3 append (new ids, new `quality_score`
    * column — every earlier dir reads it as NULL through name-based
    * resolution, zero files rewritten), manifest 5 = `compact`
    * (tombstones materialized, dirs folded — dataChange=false, so
    * content is pinned identical and the CDC range (1,3] unaffected). */
  private[graft] def timeTravelStoreRoot(spark: SparkSession, dir: String): String = {
    val key = s"${spark.sparkContext.applicationId}|$dir"
    ttStores.computeIfAbsent(key, _ => {
      val r = java.nio.file.Files.createTempDirectory("graft-ttq-store").toString
      // session-lifetime store: every entry point (Bench, Verify, a
      // spec) builds one per snapshot dir — without the exit hook each
      // run leaks a two-version parquet copy of the documents table
      graft.io.TempDirs.deleteOnExit(r)
      val docs = Tables.table(spark, dir, "documents")
      val fmt = new graft.etl.ManifestParquet(spark, r)
      val store = new graft.etl.ManifestStore(spark, fmt, Seq("docs"))
      val v1 = fmt.tryCommit("docs", docs.where(col("doc_id") % 10 < 6), 0L)
      store.commit(Map("docs" -> v1), base = 0L)
      val v2 = fmt.tryAppend("docs", docs.where(col("doc_id") % 10 >= 6),
        ontoVersion = v1, expectedBase = v1)
      store.commit(Map("docs" -> v2), base = 1L)
      val v3 = fmt.tryDeleteRows("docs",
        docs.where(col("doc_id") % 7 === 0).select("doc_id"),
        ontoVersion = v2, expectedBase = v2)
      store.commit(Map("docs" -> v3), base = 2L)
      val v4 = fmt.tryAppendEvolve("docs",
        docs.where(col("doc_id") % 10 < 2)
          .withColumn("doc_id", col("doc_id") + lit(EvolveIdOffset))
          .withColumn("quality_score", pmod(col("n_chars"), lit(100L))),
        ontoVersion = v3, expectedBase = v3)
      store.commit(Map("docs" -> v4), base = 3L)
      val v5 = fmt.compact("docs")
      store.commit(Map("docs" -> v5), base = 4L)
      r
    })
  }

  /** Day-3 evolve-append ids live far above every base doc_id, so the
    * re-appended rows never collide with (or read as) originals. */
  private val EvolveIdOffset = 1000000000L

  def q_store_time_travel(spark: SparkSession, dir: String): DataFrame = {
    val root = timeTravelStoreRoot(spark, dir)
    graft.GraftCatalog.registerStore(spark, root, Seq("docs"),
      prefix = "ttq", asOfManifest = Some(1L))
    spark.sql(
      """SELECT source, count(*) AS n_docs, sum(n_chars) AS total_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM ttq_docs GROUP BY source ORDER BY source ASC""".stripMargin)
  }

  /** The store's CDC read path under the hash gate (round-11 verdict
    * #4 — it was the last spec-only read surface): read the change
    * feed between manifest 1 (day-1 commit) and manifest 3 (after the
    * day-2 append and a tombstone erasure of `doc_id % 7 == 0`), fold
    * it onto the manifest-1 snapshot — `from.minusKeys(deletedKeys)
    * ++ appended`, the exact consumer contract a downstream shard
    * exporter applies — and aggregate. The oracle recomputes the
    * manifest-3 state directly from base parquet (`doc_id % 7 <> 0`),
    * so the identity `from ∘ changes == to` is hash-gated: a feed
    * that leaked erased appends (in-range tombstones must apply to
    * in-range appends), missed a retraction key, or walked an orphan
    * manifest chain mismatches. Scale: the feed is O(changed days +
    * forget set) — manifest structure only, no corpus diff — and the
    * consumer-side fold is one anti-join + union, batch-proportional
    * at a 100 TB corpus. */
  def q_store_cdc(spark: SparkSession, dir: String): DataFrame = {
    val root = timeTravelStoreRoot(spark, dir)
    val fmt = graft.etl.TableFormat.DefaultBackend(spark, root)
    val store = new graft.etl.ManifestStore(spark, fmt, Seq("docs"))
    val ch = store.changesBetween(1L, 3L)("docs")
    val from = store.readPinned(store.pinned(1L), "docs")
    val deleted = ch.deletedKeys
      .getOrElse("doc_id", from.select("doc_id").limit(0))
    from.join(deleted, Seq("doc_id"), "left_anti")
      .unionByName(ch.appended)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("source").asc)
  }

  /** Additive SCHEMA EVOLUTION + COMPACTION under the hash gate (the
    * two remaining spec-only store read surfaces): the latest store
    * state (manifest 5) is read through the SQL front door — after an
    * evolve-append minted the `quality_score` column (manifest 4) and
    * a compaction folded the five-commit history to one dir
    * (manifest 5, dataChange=false). The oracle recomputes that state
    * from base parquet: the pre-evolution rows (day 1+2 minus the
    * erased `doc_id % 7` set) must read the new column as NULL —
    * `n_scored` counts only day-3 rows — and the compaction must have
    * changed nothing (a compact that dropped a tombstone, resurrected
    * an erased row, or lost the widened schema hash-mismatches). */
  def q_store_evolve(spark: SparkSession, dir: String): DataFrame = {
    val root = timeTravelStoreRoot(spark, dir)
    graft.GraftCatalog.registerStore(spark, root, Seq("docs"), prefix = "evq")
    spark.sql(
      """SELECT source, count(*) AS n_docs, sum(n_chars) AS total_chars,
        |  count(quality_score) AS n_scored,
        |  sum(quality_score) AS total_score
        |FROM evq_docs GROUP BY source ORDER BY source ASC""".stripMargin)
  }

  private val FusionN = 50 // per-arm retrieval depth
  private val FusionK = 20 // fused output size
  private val RrfC = 60 // the standard RRF smoothing constant

  /** Hybrid retrieval via Reciprocal Rank Fusion: the lexical arm
    * ranks documents by BM25 ([[PipelineQueries.bm25Scores]]) and the
    * semantic arm by exact cosine to a fixed query embedding (vec 0);
    * each arm retrieves its top-N with the heap-based
    * [[graft.plans.TopK]] operator (the lexical arm's "global" top-N
    * uses a constant group key — partial heaps still bound the
    * shuffle to k rows per upstream partition, so no global sort and
    * no single-partition window), then fused as
    * `Σ 1/(60 + rank)` over a full-outer join of the two lists — the
    * standard zero-tuning combiner for mixed lexical/vector search.
    * Rank arithmetic is integer; the two-term float sum has a fixed
    * operand order, so `round(…, 6)` is engine-exact. */
  def q_rank_fusion(spark: SparkSession, dir: String): DataFrame = {
    val lex = graft.plans.TopK.perGroup(
      PipelineQueries.bm25Scores(spark, dir).withColumn("arm", lit("lex")),
      Seq("arm"), Seq(("bm25", false), ("doc_id", true)), FusionN)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val v = Tables.table(spark, dir, "embeddings")
    val sem = VectorOps.bruteForceTopK(v, v.where(col("vec_id") === 0), FusionN)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfC) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("sem_rank")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(FusionK)
  }

  // ---- generated DuckDB oracle SQL ---------------------------------

  private val toks = "string_split(text, ' ')"

  /** DuckDB sequential-fold sum over a list expression (mirrors
    * Spark's `aggregate(…, 0, +)` element order exactly). */
  private[queries] def foldSum(listExpr: String, zero: String): String =
    s"list_reduce(list_prepend($zero, $listExpr), (x, y) -> x + y)"

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  private val tokenizerStatsSql: String =
    s"""WITH d AS (SELECT lang,
       |  CAST(len($toks) AS BIGINT) AS ws,
       |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe,
       |  CAST(length(text) AS BIGINT) AS chars
       |FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(chars) AS BIGINT) AS n_chars,
       |  round(SUM(bpe) / SUM(ws), 6) AS fertility,
       |  round(SUM(chars) / SUM(bpe), 6) AS chars_per_token
       |FROM d GROUP BY lang ORDER BY lang ASC""".stripMargin

  private val docStatsSql: String =
    s"""SELECT doc_id,
  len($toks) AS n_tokens,
  len(list_distinct($toks)) AS n_uniq,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
  round(${foldSum(s"list_transform($toks, t -> CAST(len(t) AS BIGINT))", "CAST(0 AS BIGINT)")}
        / len($toks), 6) AS mean_token_len
FROM documents ORDER BY doc_id ASC"""

  private val langIdSql: String = {
    val scores = TextOps.stopwordSets.map { case (l, ws) =>
      s"len(list_filter(toks, t -> t IN ${inList(ws)})) AS s_$l"
    }.mkString(",\n  ")
    val m = TextOps.stopwordSets.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = TextOps.stopwordSets.map { case (l, _) =>
      s"WHEN s_$l = m AND m > 0 THEN '$l'"
    }.mkString("\n       ")
    s"""WITH t AS (SELECT doc_id, lang AS actual, $toks AS toks FROM documents),
s AS (SELECT doc_id, actual,
  $scores
FROM t),
p AS (SELECT *, $m AS m
FROM s),
r AS (SELECT doc_id, actual,
  CASE $cases
       ELSE 'und' END AS predicted
FROM p)
SELECT doc_id, actual, predicted, predicted = actual AS is_match
FROM r ORDER BY doc_id ASC"""
  }

  private val qualitySql: String = {
    val stop = s"len(list_filter(toks, t -> t IN ${inList(TextOps.allStopwords)}))"
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents)
SELECT doc_id,
  round(len(list_distinct(toks)) / len(toks), 6) AS uniq_ratio,
  round($stop / len(toks), 6) AS stopword_ratio,
  round((len(list_distinct(toks)) / len(toks)) * 0.6
        + (1.0 - $stop / len(toks)) * 0.4, 6) AS quality
FROM t ORDER BY doc_id ASC"""
  }

  private val fingerprintSql: String =
    s"""SELECT doc_id, md5(text) AS content_md5,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform($toks, t -> CAST(unicode(substr(md5(t), 1, 1)) AS BIGINT))),
    (a, b) -> (a * 31 + b) % 1000000007) AS rolling_fp
FROM documents ORDER BY doc_id ASC"""

  private val dedupExactSql: String =
    """SELECT md5(text) AS content_md5, MIN(doc_id) AS canonical_doc_id,
  COUNT(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY content_md5 ASC"""

  /** Shared shingle CTEs (exploded relational form). */
  private[queries] def shingleCtes(n: Int): String =
    s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+${n - 1}], ' ') AS shingle
       FROM tok, UNNEST(range(1, len(toks) - ${n - 2})) AS u(i)
       WHERE len(toks) >= $n)"""

  private val dedupNgramSql: String =
    s"""${shingleCtes(ShingleN)},
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
cm AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_common
       FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       GROUP BY 1, 2),
j AS (SELECT a, b,
        round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
      FROM cm JOIN sz sa ON cm.a = sa.doc_id JOIN sz sb ON cm.b = sb.doc_id)
SELECT a, b, jaccard FROM j WHERE jaccard >= $JaccardThreshold
ORDER BY a ASC, b ASC"""

  /** Brute-force exact-Jaccard oracle for the prefix-filtered join:
    * the filter is LOSSLESS, so the oracle needs no prefix replay —
    * just the pairwise integer cross-product test at the same
    * rational threshold 1/2. */
  private val ssjoinSql: String = {
    val n = ShingleN
    s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
shl AS (SELECT doc_id,
  list_distinct(list_transform(range(1, len(toks) - ${n - 2}),
    i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS shingles
FROM tok WHERE len(toks) >= $n),
s AS (SELECT doc_id, shingles, len(shingles) AS ns FROM shl),
pr AS (SELECT x.doc_id AS a, y.doc_id AS b,
         CAST(len(list_intersect(x.shingles, y.shingles)) AS BIGINT) AS n_common,
         CAST(x.ns + y.ns - len(list_intersect(x.shingles, y.shingles)) AS BIGINT) AS n_union
       FROM s x JOIN s y ON x.doc_id < y.doc_id)
SELECT a, b, n_common, n_union FROM pr
WHERE n_common * 2 >= n_union * 1
ORDER BY a ASC, b ASC"""
  }

  /** The minhash pair pipeline WITHOUT the final sort — reused as a
    * subquery by the dedup-clustering oracle in [[AdvancedQueries]]. */
  /** MinHash pipeline body with a parameterized candidate-pair
    * predicate: `x.doc_id < y.doc_id` for symmetric all-pairs dedup,
    * the batch/corpus split predicate for the incremental form. */
  private[queries] def minhashPairsBodyWith(pairPred: String): String = {
    val n = ShingleN
    val sigExprs = (0 until MinhashK).map { i =>
      s"list_min(list_transform(shingles, s -> md5('$i:' || s))) AS mh$i"
    }.mkString(",\n  ")
    val rows = MinhashK / MinhashBands
    val bandSelects = (0 until MinhashBands).map { j =>
      val parts = (0 until rows).map(r => s"mh${j * rows + r}")
      val h = s"md5(${parts.mkString(" || '|' || ")})"
      s"SELECT doc_id, shingles, $j AS band_idx, $h AS band_hash FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
shl AS (SELECT doc_id,
  list_distinct(list_transform(range(1, len(toks) - ${n - 2}),
    i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS shingles
FROM tok WHERE len(toks) >= $n),
mh AS (SELECT doc_id, shingles,
  $sigExprs
FROM shl),
bands AS ($bandSelects),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           x.shingles AS sa, y.shingles AS sb
         FROM bands x JOIN bands y
           ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
          AND $pairPred),
ver AS (SELECT a, b,
  round(len(list_intersect(sa, sb))
        / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
FROM cand)
SELECT a, b, jaccard FROM ver WHERE jaccard >= $JaccardThreshold"""
  }

  private[queries] val minhashPairsBody: String =
    minhashPairsBodyWith("x.doc_id < y.doc_id")

  private val dedupMinhashSql: String =
    minhashPairsBody + "\nORDER BY a ASC, b ASC"

  private val ccIncrementalSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a, b FROM (
       |$minhashPairsBody
       |  ) mh
       |),
       |und AS (SELECT a AS x, b AS y FROM pairs
       |        UNION ALL SELECT b, a FROM pairs),
       |reach(node, lab) AS (
       |  SELECT x, x FROM (SELECT DISTINCT x FROM und) n
       |  UNION
       |  SELECT u.x, r.lab FROM reach r JOIN und u ON u.y = r.node
       |),
       |comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
       |opairs AS (SELECT a, b FROM pairs WHERE a % 4 <> 0 AND b % 4 <> 0),
       |ound AS (SELECT a AS x, b AS y FROM opairs
       |         UNION ALL SELECT b, a FROM opairs),
       |oreach(node, lab) AS (
       |  SELECT x, x FROM (SELECT DISTINCT x FROM ound) n
       |  UNION
       |  SELECT u.x, r.lab FROM oreach r JOIN ound u ON u.y = r.node
       |),
       |ocomp AS (SELECT node, MIN(lab) AS component FROM oreach GROUP BY node)
       |SELECT comp.node AS doc_id, comp.component,
       |       (ocomp.component IS NULL OR ocomp.component <> comp.component)
       |         AS changed
       |FROM comp LEFT JOIN ocomp ON comp.node = ocomp.node
       |ORDER BY doc_id ASC""".stripMargin

  private val dedupIncrementalSql: String =
    minhashPairsBodyWith("x.doc_id % 4 = 0 AND y.doc_id % 4 <> 0") +
      "\nORDER BY a ASC, b ASC"

  private val dedupSimhashSql: String = {
    val n = ShingleN
    // bit b (1-based) of the 64-bit simhash reads BIT `8 >> ((b-1)%4)`
    // of hex digit `(b-1)/4 + 1` — as hex-char set membership, the
    // only per-bit test both engines evaluate identically
    def hexSet(weight: Int): String =
      (0 until 16).filter(v => (v & weight) != 0)
        .map(v => s"'${Integer.toHexString(v)}'").mkString("(", ", ", ")")
    val bit =
      s"""CASE WHEN ${foldSum(
        s"""list_transform(wins, t -> CASE WHEN substr(md5(t), ((b - 1) // 4 + 1)::INTEGER, 1)
            IN ${hexSet(8)} AND (8 >> ((b - 1) % 4)::INTEGER) = 8
            OR substr(md5(t), ((b - 1) // 4 + 1)::INTEGER, 1) IN ${hexSet(4)} AND (8 >> ((b - 1) % 4)::INTEGER) = 4
            OR substr(md5(t), ((b - 1) // 4 + 1)::INTEGER, 1) IN ${hexSet(2)} AND (8 >> ((b - 1) % 4)::INTEGER) = 2
            OR substr(md5(t), ((b - 1) // 4 + 1)::INTEGER, 1) IN ${hexSet(1)} AND (8 >> ((b - 1) % 4)::INTEGER) = 1
            THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)""",
        "CAST(0 AS BIGINT)")} > 0 THEN '1' ELSE '0' END"""
    val bandSelects = (0 until 4).map { j =>
      s"SELECT doc_id, simhash, $j AS band_idx, substr(simhash, ${j * 16 + 1}, 16) AS band_val FROM s"
    }.mkString("\n  UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
win AS (SELECT doc_id,
  list_transform(range(1, len(toks) - ${n - 2}),
    i -> array_to_string(toks[i:i+${n - 1}], ' ')) AS wins
FROM tok WHERE len(toks) >= $n),
s AS (SELECT doc_id,
  array_to_string(list_transform(range(1, 65), b -> $bit), '') AS simhash
FROM win),
bands AS ($bandSelects),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           x.simhash AS sa, y.simhash AS sb
         FROM bands x JOIN bands y
           ON x.band_idx = y.band_idx AND x.band_val = y.band_val
          AND x.doc_id < y.doc_id),
ham AS (SELECT a, b,
  ${foldSum("list_transform(range(1, 65), i -> CASE WHEN substr(sa, i::INTEGER, 1) = substr(sb, i::INTEGER, 1) THEN 0 ELSE 1 END)", "0")} AS hamming
FROM cand)
SELECT a, b, hamming FROM ham WHERE hamming <= $SimhashMaxHamming
ORDER BY a ASC, b ASC"""
  }

  /** DuckDB mirror of [[VectorOps.dot]]: same element order, same
    * double casts, same left fold. */
  private[queries] def dotSql(a: String, b: String): String =
    foldSum(
      s"list_transform(range(1, len($a) + 1), i -> CAST($a[i::INTEGER] AS DOUBLE) * CAST($b[i::INTEGER] AS DOUBLE))",
      "CAST(0.0 AS DOUBLE)")

  private val vecCte: String =
    s"""WITH v AS (SELECT vec_id, embedding,
  sqrt(${dotSql("embedding", "embedding")}) AS nrm
FROM embeddings)"""

  private def pairCosine: String =
    s"round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 10)"

  private val embedNnSql: String =
    s"""$vecCte
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $pairCosine AS cosine
FROM v a JOIN v b ON a.vec_id <> b.vec_id
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
  ORDER BY cosine DESC, neighbor_id ASC) = 1
ORDER BY query_id ASC"""

  private val embedNearDupSql: String =
    s"""$vecCte,
p AS (SELECT a.vec_id AS a, b.vec_id AS b, $pairCosine AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT a, b, cosine FROM p WHERE cosine >= $CosineDupThreshold
ORDER BY a ASC, b ASC"""

  private val annTopkSql: String =
    s"""$vecCte
SELECT a.vec_id AS query_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
    ORDER BY $pairCosine DESC, b.vec_id ASC) AS INTEGER) AS rank,
  b.vec_id AS neighbor_id, $pairCosine AS cosine
FROM v a JOIN v b ON a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id
QUALIFY rank <= $AnnK
ORDER BY query_id ASC, rank ASC"""

  /** Hyperplane-signature column exprs + bucket CTEs shared by the
    * LSH oracles (plane literals printed exactly — both parsers
    * produce the same doubles). */
  private def lshSigExpr(table: Seq[Seq[Double]]): String = table.map { p =>
    val lits = p.map(d => BigDecimal(d).underlying.toPlainString).mkString("[", ", ", "]")
    s"CASE WHEN ${dotSql("embedding", s"($lits::DOUBLE[])")} >= 0 THEN '1' ELSE '0' END"
  }.mkString(" || ")

  private def lshBucketCtes(tables: Seq[Seq[Seq[Double]]]): String = {
    val sigCols = tables.zipWithIndex
      .map { case (t, i) => s"${lshSigExpr(t)} AS sig$i" }.mkString(",\n  ")
    val buckets = tables.indices
      .map(i => s"SELECT vec_id, embedding, nrm, $i AS table_idx, sig$i AS sig FROM v")
      .mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding,
  sqrt(${dotSql("embedding", "embedding")}) AS nrm,
  $sigCols
FROM embeddings),
bk AS ($buckets),"""
  }

  private val annLshSql: String = {
    s"""${lshBucketCtes(LshTables)}
cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid,
           a.embedding AS qe, b.embedding AS ce, a.nrm AS qn, b.nrm AS cn
         FROM bk a JOIN bk b
           ON a.table_idx = b.table_idx AND a.sig = b.sig
          AND a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id)
SELECT qid AS query_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY qid
    ORDER BY round(${dotSql("qe", "ce")} / (qn * cn), 10) DESC, cid ASC)
    AS INTEGER) AS rank,
  cid AS neighbor_id,
  round(${dotSql("qe", "ce")} / (qn * cn), 10) AS cosine
FROM cand
QUALIFY rank <= $LshK
ORDER BY query_id ASC, rank ASC"""
  }

  /** Multi-probe oracle: collection buckets on base signatures; the
    * query side unions the base probe with every single-bit flip
    * (string surgery on the generated signature expressions). */
  private val annLshMultiProbeSql: String = {
    def flipped(sig: String, i: Int, bits: Int): String =
      s"substr($sig, 1, ${i - 1}) || (CASE WHEN substr($sig, $i, 1) = '1' THEN '0' ELSE '1' END) || substr($sig, ${i + 1}, ${bits - i})"
    val probeSelects = MultiProbeTables.indices.flatMap { t =>
      val base = s"SELECT vec_id, embedding, nrm, $t AS table_idx, sig$t AS sig FROM v WHERE vec_id % 100 = 0"
      val flips = (1 to LshPlanes).map { i =>
        s"SELECT vec_id, embedding, nrm, $t AS table_idx, ${flipped(s"sig$t", i, LshPlanes)} AS sig FROM v WHERE vec_id % 100 = 0"
      }
      base +: flips
    }.mkString("\n  UNION ALL ")
    s"""${lshBucketCtes(MultiProbeTables)}
qp AS ($probeSelects),
cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid,
           a.embedding AS qe, b.embedding AS ce, a.nrm AS qn, b.nrm AS cn
         FROM qp a JOIN bk b
           ON a.table_idx = b.table_idx AND a.sig = b.sig
          AND a.vec_id <> b.vec_id)
SELECT qid AS query_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY qid
    ORDER BY round(${dotSql("qe", "ce")} / (qn * cn), 10) DESC, cid ASC)
    AS INTEGER) AS rank,
  cid AS neighbor_id,
  round(${dotSql("qe", "ce")} / (qn * cn), 10) AS cosine
FROM cand
QUALIFY rank <= $LshK
ORDER BY query_id ASC, rank ASC"""
  }

  private val embedNearDupLshSql: String =
    s"""${lshBucketCtes(NearDupLshTables)}
cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
           x.embedding AS ea, y.embedding AS eb, x.nrm AS na, y.nrm AS nb
         FROM bk x JOIN bk y
           ON x.table_idx = y.table_idx AND x.sig = y.sig
          AND x.vec_id < y.vec_id)
SELECT a, b, round(${dotSql("ea", "eb")} / (na * nb), 10) AS cosine
FROM cand
WHERE round(${dotSql("ea", "eb")} / (na * nb), 10) >= $CosineDupThreshold
ORDER BY a ASC, b ASC"""

  /** IVF oracle: replays the WHOLE pipeline — bounded sample, seeded
    * centroids, [[IvfIters]] Lloyd iterations, collection assignment,
    * nProbe probing, exact top-k — in DuckDB with the same float op
    * order as [[graft.vector.IvfIndex]] (sequential per-dim folds,
    * sums over vec_id order, ties to the lower cell id). Data-
    * independent: no trained-centroid literals are baked in, so the
    * same SQL is the oracle at every scale factor. */
  /** Shared Lloyd-replay CTE chain: the deterministic k-means
    * pipeline ([[graft.vector.IvfIndex.train]]) replayed in DuckDB
    * SQL over a contiguous 1-based slice [lo, hi] of the embedding,
    * every CTE name suffixed `sfx` so multiple replays (IVF's full
    * vector, PQ's m subspaces) coexist in one statement. ONE
    * generator, both consumers — a fix to the replay (sample bound,
    * seeding, float op order, tie-breaks) cannot silently miss one.
    * `sampleBound` is threaded from the SAME constant the Scala
    * train call passes, so oracle and engine stay bound-parity by
    * construction. Produces `samp/prm/c0…/cen$sfx` (cen = cell, v,
    * nsq); returns (CTE text, assignment-distance expression —
    * assignCell's |v|² − 2·v·c + |c|² association order — against
    * aliases `e` (embeddings) and `cen`). */
  private def lloydReplayCtes(
      sfx: String, lo: Int, hi: Int, k: Int, iters: Int,
      sampleBound: Int, trainSrc: String = "embeddings"): (String, String) = {
    val sd = hi - lo + 1
    def sub(e: String): String =
      if (lo == 1 && hi == VecDim) e else s"list_slice($e, $lo, $hi)"
    // training distance: Scala's `d += (v_i − c_i)²` loop (IvfIndex
    // .train) as a left fold in the same index order
    def trainDist(v: String, c: String): String =
      foldSum(
        s"list_transform(range(1, $sd + 1), i -> ($v[i::INTEGER] - $c[i::INTEGER]) * ($v[i::INTEGER] - $c[i::INTEGER]))",
        "CAST(0.0 AS DOUBLE)")
    val zeros = s"list_transform(range(1, $sd + 1), i -> CAST(0.0 AS DOUBLE))"
    // one Lloyd iteration: argmin assignment (ties → lower cell, like
    // the strict `<` in the Scala loop), per-cell elementwise sums in
    // vec_id order, mean; empty cells keep the previous centroid
    def lloydIter(prev: String, a: String, u: String, out: String): String =
      s"""$a AS (
         |  SELECT sm.vec_id, sm.v, c.cell
         |  FROM samp$sfx sm CROSS JOIN $prev c
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY sm.vec_id
         |    ORDER BY ${trainDist("sm.v", "c.v")} ASC, c.cell ASC) = 1),
         |$u AS (
         |  SELECT cell, COUNT(*) AS cnt,
         |    list_reduce(list_prepend($zeros, list(v ORDER BY vec_id ASC)),
         |      (acc, e) -> list_transform(range(1, $sd + 1),
         |                    i -> acc[i::INTEGER] + e[i::INTEGER])) AS s
         |  FROM $a GROUP BY cell),
         |$out AS (
         |  SELECT p.cell, COALESCE(list_transform(u.s, x -> x / u.cnt), p.v) AS v
         |  FROM $prev p LEFT JOIN $u u ON p.cell = u.cell)""".stripMargin
    val itersSql = (0 until iters)
      .map(i => lloydIter(s"c$i$sfx", s"a${i + 1}$sfx", s"u${i + 1}$sfx", s"c${i + 1}$sfx"))
      .mkString(",\n")
    val assignDist =
      s"((${dotSql(sub("e.embedding"), sub("e.embedding"))} - 2.0 * ${dotSql(sub("e.embedding"), "cen.v")}) + cen.nsq)"
    val ctes = s"""samp$sfx AS (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS idx,
       |         list_transform(${sub("embedding")}, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $trainSrc QUALIFY idx < $sampleBound),
       |prm$sfx AS (SELECT greatest(COUNT(*) // $k, 1) AS step FROM samp$sfx),
       |c0$sfx AS (
       |  SELECT CAST(idx // step AS INTEGER) AS cell, v
       |  FROM samp$sfx, prm$sfx WHERE idx % step = 0 AND idx // step < $k),
       |$itersSql,
       |cen$sfx AS (
       |  SELECT cell, v,
       |    ${foldSum("list_transform(v, x -> x * x)", "CAST(0.0 AS DOUBLE)")} AS nsq
       |  FROM c$iters$sfx)""".stripMargin
    (ctes, assignDist)
  }

  private def ivfAssignPrefix(trainSrc: String): (String, String) = {
    val (ctes, assignDist) =
      lloydReplayCtes("", 1, VecDim, IvfK, IvfIters, IvfMaxSample, trainSrc)
    val prefix = s"""WITH
       |$ctes,
       |col AS (
       |  SELECT e.vec_id AS c_id, e.embedding AS c_emb,
       |         sqrt(${dotSql("e.embedding", "e.embedding")}) AS c_norm, cen.cell
       |  FROM embeddings e CROSS JOIN cen
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |    ORDER BY $assignDist ASC, cen.cell ASC) = 1)""".stripMargin
    (prefix, assignDist)
  }

  private val (ivfAssignCtes, ivfAssignDist): (String, String) =
    ivfAssignPrefix("embeddings")

  /** PQ oracle building blocks: the IVF Lloyd replay parameterized
    * over a contiguous embedding slice (subspace `s` covers 1-based
    * [lo, hi]) with every CTE name suffixed `_s` — same sample bound,
    * seeding, iteration count, float op order, and tie-breaks as
    * [[graft.vector.PqIndex.train]]/[[graft.vector.IvfIndex.train]]
    * over the sliced vectors. Produces `cen_s` (cell, v, nsq),
    * `codes_s` (vec_id, cell) and the query-side LUT `qd_s`
    * (q_id, cell, d). */
  private def pqSubspaceCtes(s: Int, lo: Int, hi: Int): String = {
    val (ctes, assignDist) =
      lloydReplayCtes(s"_$s", lo, hi, PqK, PqIters, PqMaxSample)
    s"""$ctes,
       |codes_$s AS (
       |  SELECT e.vec_id, cen.cell
       |  FROM embeddings e CROSS JOIN cen_$s cen
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |    ORDER BY $assignDist ASC, cen.cell ASC) = 1),
       |qd_$s AS (
       |  SELECT e.vec_id AS q_id, cen.cell,
       |    round($assignDist, 10) AS d
       |  FROM embeddings e CROSS JOIN cen_$s cen
       |  WHERE e.vec_id % 100 = 0)""".stripMargin
  }

  /** ADC replay: per-subspace code + rounded LUT entry joined on the
    * codeword id; pair distance = left-to-right sum of the rounded
    * entries, rounded again — the exact op order of
    * [[graft.vector.PqIndex.adcTopK]]. */
  private val annPqSql: String = {
    val subDim = VecDim / PqM
    val subs = (0 until PqM)
      .map(s => pqSubspaceCtes(s, s * subDim + 1, (s + 1) * subDim))
      .mkString(",\n")
    val codeJoin = (1 until PqM)
      .map(s => s"JOIN codes_$s c$s USING (vec_id)").mkString(" ")
    val codeCols = (0 until PqM).map(s => s"c$s.cell AS code$s").mkString(", ")
    val lutJoins = (0 until PqM).map { s =>
      val qk = if (s == 0) "" else s" AND q$s.q_id = q0.q_id"
      s"JOIN qd_$s q$s ON q$s.cell = c.code$s$qk"
    }.mkString("\n  ")
    val distSum = (0 until PqM).map(s => s"q$s.d").mkString(" + ")
    s"""WITH
       |$subs,
       |codes AS (SELECT vec_id, $codeCols FROM codes_0 c0 $codeJoin),
       |pair AS (
       |  SELECT q0.q_id, c.vec_id AS c_id, round($distSum, 10) AS adc
       |  FROM codes c
       |  $lutJoins
       |  WHERE q0.q_id <> c.vec_id)
       |SELECT q_id AS query_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY adc ASC, c_id ASC) AS INTEGER) AS rank,
       |  c_id AS neighbor_id, adc AS adc_dist
       |FROM pair
       |QUALIFY rank <= $PqTopK
       |ORDER BY query_id ASC, rank ASC""".stripMargin
  }

  /** Keep-first span-dedup replay: same segmentation (ceil-div span
    * count, truncating tail slice), same md5 grouping, keeper = the
    * (doc_id, pos)-smallest occurrence, rewrite by filtered span
    * index. */
  private val dedupRewriteSql: String =
    s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
       |sg AS (SELECT doc_id,
       |  list_transform(range(0, (len(toks) + ${RewriteSeg - 1}) // $RewriteSeg),
       |    i -> array_to_string(list_slice(toks, i * $RewriteSeg + 1, i * $RewriteSeg + $RewriteSeg), ' ')) AS segs
       |  FROM tk),
       |ex AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, md5(segs[i::INTEGER]) AS h
       |  FROM sg, UNNEST(range(1, len(segs) + 1)) AS u(i)),
       |mk AS (SELECT doc_id, pos,
       |  COUNT(*) OVER (PARTITION BY h) AS cnt,
       |  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id ASC, pos ASC) AS rn
       |  FROM ex),
       |rm AS (SELECT doc_id, list(pos ORDER BY pos ASC) AS removed
       |  FROM mk WHERE cnt > 1 AND rn > 1 GROUP BY doc_id)
       |SELECT s.doc_id,
       |  COALESCE(array_to_string(
       |    list_transform(
       |      list_filter(range(0, len(segs)),
       |        i -> NOT list_contains(COALESCE(rm.removed, []), i)),
       |      i -> segs[(i + 1)::INTEGER]),
       |    ' '), '') AS clean_text,
       |  CAST(len(segs) AS INTEGER) AS n_segments,
       |  CAST(COALESCE(len(rm.removed), 0) AS INTEGER) AS n_removed
       |FROM sg s LEFT JOIN rm ON s.doc_id = rm.doc_id
       |ORDER BY s.doc_id ASC""".stripMargin

  /** The distributed-Lloyd replay: unlike [[lloydReplayCtes]] there
    * is no float op order to reconstruct — quantization, distances,
    * and the truncating integer mean are all order-independent
    * integer math, so plain SUM/GROUP BY replays the cluster's
    * shuffle-order-agnostic aggregation exactly. */
  private def kmIdist(v: String, c: String): String =
    s"CAST(list_sum(list_transform(range(1, ${VecDim + 1}), " +
      s"i -> ($v[i::INTEGER] - $c[i::INTEGER]) * ($v[i::INTEGER] - $c[i::INTEGER]))) AS BIGINT)"

  // one Lloyd round over `src`: argmin assign (ties → lower cell,
  // CTE `$a`), per-cell counts/elementwise integer sums (`${a}n` /
  // `${a}s`), truncating mean with empty cells keeping their previous
  // centroid (`$out`) — shared by the full and incremental replays
  private def kmRound(src: String, prev: String, a: String, out: String): String =
    s"""$a AS (
       |  SELECT q.vec_id, q.v, c.cell
       |  FROM $src q CROSS JOIN $prev c
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY ${kmIdist("q.v", "c.v")} ASC, c.cell ASC) = 1),
       |${a}n AS (SELECT cell, COUNT(*) AS cnt FROM $a GROUP BY cell),
       |${a}s AS (
       |  SELECT cell, i, SUM(v[i::INTEGER]) AS s
       |  FROM $a, UNNEST(range(1, ${VecDim + 1})) AS t(i) GROUP BY cell, i),
       |$out AS (
       |  SELECT p.cell, COALESCE(m.v2, p.v) AS v
       |  FROM $prev p LEFT JOIN (
       |    SELECT s.cell, list(s.s // n.cnt ORDER BY s.i) AS v2
       |    FROM ${a}s s JOIN ${a}n n USING (cell) GROUP BY s.cell) m
       |    ON p.cell = m.cell)""".stripMargin

  private def kmQuantizedCte(from: String): String =
    s"""qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS v
       |  FROM $from)""".stripMargin

  private def kmSeedCte(src: String): String =
    s"""k0 AS (
       |  SELECT CAST(vec_id % $KmK AS INTEGER) AS cell, v FROM $src
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id % $KmK
       |    ORDER BY vec_id ASC) = 1)""".stripMargin

  private val kmeansSql: String = {
    val rounds = (0 until KmIters)
      .map(i => kmRound("qv", s"k$i", s"ka${i + 1}", s"k${i + 1}")).mkString(",\n")
    s"""WITH ${kmQuantizedCte("embeddings")},
       |${kmSeedCte("qv")},
       |$rounds
       |SELECT q.vec_id, c.cell, ${kmIdist("q.v", "c.v")} AS dist2
       |FROM qv q CROSS JOIN k$KmIters c
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |  ORDER BY ${kmIdist("q.v", "c.v")} ASC, c.cell ASC) = 1
       |ORDER BY q.vec_id ASC""".stripMargin
  }

  /** Online-fold replay: Lloyd over the first half only; `s1a`/`cs1`
    * are one more [[kmRound]] whose mean IS the state's implied
    * centroids; the batch assigns against `cs1` and the merge is
    * UNION ALL + SUM over the two phases' partials (order-independent
    * integer math again); frozen assignments score against the merged
    * centroids. */
  private val kmeansIncrementalSql: String = {
    val rounds = (0 until KmIters)
      .map(i => kmRound("qv1", s"k$i", s"ka${i + 1}", s"k${i + 1}")).mkString(",\n")
    val kf = s"k$KmIters"
    s"""WITH ${kmQuantizedCte("embeddings")},
       |prm AS (SELECT MAX(vec_id) // 2 AS mid FROM qv),
       |qv1 AS (SELECT q.vec_id, q.v FROM qv q, prm WHERE q.vec_id <= prm.mid),
       |qv2 AS (SELECT q.vec_id, q.v FROM qv q, prm WHERE q.vec_id > prm.mid),
       |${kmSeedCte("qv1")},
       |$rounds,
       |${kmRound("qv1", kf, "s1a", "cs1")},
       |${kmRound("qv2", "cs1", "a2", "c2x")},
       |mn AS (SELECT cell, SUM(cnt) AS cnt FROM (
       |  SELECT cell, cnt FROM s1an UNION ALL SELECT cell, cnt FROM a2n) GROUP BY cell),
       |ms AS (SELECT cell, i, SUM(s) AS s FROM (
       |  SELECT cell, i, s FROM s1as UNION ALL SELECT cell, i, s FROM a2s) GROUP BY cell, i),
       |c2 AS (
       |  SELECT p.cell, COALESCE(m.v2, p.v) AS v
       |  FROM cs1 p LEFT JOIN (
       |    SELECT ms.cell, list(ms.s // mn.cnt ORDER BY ms.i) AS v2
       |    FROM ms JOIN mn USING (cell) GROUP BY ms.cell) m
       |    ON p.cell = m.cell),
       |al AS (SELECT vec_id, v, cell FROM s1a
       |       UNION ALL SELECT vec_id, v, cell FROM a2)
       |SELECT al.vec_id, al.cell, ${kmIdist("al.v", "c.v")} AS dist2
       |FROM al JOIN c2 c ON al.cell = c.cell
       |ORDER BY al.vec_id ASC""".stripMargin
  }

  private def ivfProbeSql(prefix: String, assignDist: String): String =
    prefix + ",\n" +
      s"""q AS (
       |  SELECT e.vec_id AS q_id, e.embedding AS q_emb,
       |         sqrt(${dotSql("e.embedding", "e.embedding")}) AS q_norm, cen.cell
       |  FROM embeddings e CROSS JOIN cen
       |  WHERE e.vec_id % 100 = 0
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |    ORDER BY $assignDist ASC, cen.cell ASC) <= $IvfNProbe)
       |SELECT q_id AS query_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY round(${dotSql("q_emb", "c_emb")} / (q_norm * c_norm), 10) DESC, c_id ASC)
       |    AS INTEGER) AS rank,
       |  c_id AS neighbor_id,
       |  round(${dotSql("q_emb", "c_emb")} / (q_norm * c_norm), 10) AS cosine
       |FROM q JOIN col ON q.cell = col.cell AND q_id <> c_id
       |QUALIFY rank <= $IvfTopK
       |ORDER BY query_id ASC, rank ASC""".stripMargin

  private val annIvfSql: String = ivfProbeSql(ivfAssignCtes, ivfAssignDist)

  /** [[annIvfSql]] with ONE difference — the Lloyd replay trains on
    * the prior slice only (vec_id % 4 ≠ 0), exactly the quantizer the
    * persisted index carries; assignment and probing still cover the
    * full collection, which is what "append the batch to yesterday's
    * index" must equal. */
  private val annIvfIncrementalSql: String = {
    val (prefix, assignDist) = ivfAssignPrefix(
      "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 0)")
    ivfProbeSql(prefix, assignDist)
  }

  /** Semantic-dedup oracle: the shared IVF training/assignment
    * replay, then exact within-cell pair search — higher vec_id of
    * any pair at ≥ threshold is dropped. */
  private val semanticDedupSql: String = ivfAssignCtes + ",\n" +
    s"""dup AS (
       |  SELECT DISTINCT y.c_id AS b
       |  FROM col x JOIN col y ON x.cell = y.cell AND x.c_id < y.c_id
       |  WHERE round(${dotSql("x.c_emb", "y.c_emb")} / (x.c_norm * y.c_norm), 10)
       |        >= $CosineDupThreshold)
       |SELECT c.c_id AS vec_id, c.cell, (d.b IS NULL) AS kept
       |FROM col c LEFT JOIN dup d ON c.c_id = d.b
       |ORDER BY vec_id ASC""".stripMargin

  /** Repetition-filter oracle: the same token n-gram counts and
    * threshold tests as [[TextOps.repetitionStats]]; integer-over-
    * integer division is double in both engines, and `2.0::DOUBLE`
    * keeps the scaled fractions out of DECIMAL territory. */
  private val repetitionSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, $toks AS toks, len($toks) AS n_tokens
       |  FROM documents),
       |uni AS (
       |  SELECT doc_id, MAX(cnt) AS top1_cnt FROM (
       |    SELECT doc_id, t, COUNT(*) AS cnt
       |    FROM (SELECT doc_id, UNNEST(toks) AS t FROM tok)
       |    GROUP BY doc_id, t) GROUP BY doc_id),
       |bi AS (
       |  SELECT doc_id, MAX(cnt) AS top2_cnt FROM (
       |    SELECT doc_id, g, COUNT(*) AS cnt FROM (
       |      SELECT doc_id,
       |        toks[i::INTEGER] || ' ' || toks[(i + 1)::INTEGER] AS g
       |      FROM tok, UNNEST(range(1, len(toks))) AS u(i)
       |      WHERE len(toks) >= 2)
       |    GROUP BY doc_id, g) GROUP BY doc_id),
       |tri AS (
       |  SELECT doc_id, SUM(cnt) AS dup3_cnt FROM (
       |    SELECT doc_id, g, COUNT(*) AS cnt FROM (
       |      SELECT doc_id,
       |        toks[i::INTEGER] || ' ' || toks[(i + 1)::INTEGER]
       |          || ' ' || toks[(i + 2)::INTEGER] AS g
       |      FROM tok, UNNEST(range(1, len(toks) - 1)) AS u(i)
       |      WHERE len(toks) >= 3)
       |    GROUP BY doc_id, g) WHERE cnt >= 2 GROUP BY doc_id),
       |m AS (
       |  SELECT tok.doc_id, n_tokens,
       |    round(top1_cnt / n_tokens, 6) AS top_unigram_frac,
       |    least(CAST(1.0 AS DOUBLE),
       |      round(2.0::DOUBLE * COALESCE(top2_cnt, 0) / n_tokens, 6))
       |      AS top_bigram_frac,
       |    least(CAST(1.0 AS DOUBLE),
       |      round(3.0::DOUBLE * COALESCE(dup3_cnt, 0) / n_tokens, 6))
       |      AS dup_trigram_frac
       |  FROM tok LEFT JOIN uni USING (doc_id)
       |  LEFT JOIN bi USING (doc_id) LEFT JOIN tri USING (doc_id))
       |SELECT doc_id, n_tokens, top_unigram_frac, top_bigram_frac,
       |  dup_trigram_frac,
       |  (top_unigram_frac <= 0.15 AND top_bigram_frac <= 0.12
       |   AND dup_trigram_frac <= 0.10) AS keep
       |FROM m ORDER BY doc_id ASC""".stripMargin

  /** Exact-substring oracle: same window hashing, duplicated-window
    * detection, span coverage, and strip-and-md5 as
    * [[TextOps.exactSubstringDedup]]; DuckDB list slices are
    * inclusive-inclusive and `range(a, b)` excludes b, hence the
    * offset arithmetic. */
  private val exactSubstringSql: String = {
    val w = ExactSubstrW
    s"""WITH tok AS (
       |  SELECT doc_id, $toks AS toks, len($toks) AS n_tokens
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, i,
       |    md5(array_to_string(toks[i::INTEGER:(i + ${w - 1})::INTEGER], ' ')) AS h
       |  FROM tok, UNNEST(range(1, len(toks) - ${w - 2})) u(i)
       |  WHERE len(toks) >= $w),
       |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
       |cov AS (
       |  SELECT DISTINCT doc_id, j AS p
       |  FROM (SELECT g.* FROM g JOIN dup USING (h)),
       |       UNNEST(range(i, i + $w)) u(j)),
       |tokpos AS (
       |  SELECT doc_id, i AS p, toks[i::INTEGER] AS t
       |  FROM tok, UNNEST(range(1, len(toks) + 1)) u(i)),
       |keep AS (
       |  SELECT tokpos.doc_id, tokpos.p, tokpos.t FROM tokpos
       |  WHERE NOT EXISTS (SELECT 1 FROM cov
       |    WHERE cov.doc_id = tokpos.doc_id AND cov.p = tokpos.p)),
       |clean AS (SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS clean
       |          FROM keep GROUP BY doc_id),
       |per AS (SELECT doc_id, COUNT(*) AS n_dup_tokens FROM cov GROUP BY doc_id)
       |SELECT tok.doc_id, n_tokens,
       |  COALESCE(n_dup_tokens, 0) AS n_dup_tokens,
       |  round(COALESCE(n_dup_tokens, 0) / n_tokens, 6) AS dup_token_frac,
       |  md5(COALESCE(clean, '')) AS clean_md5
       |FROM tok LEFT JOIN per USING (doc_id) LEFT JOIN clean USING (doc_id)
       |ORDER BY doc_id ASC""".stripMargin
  }

  private val rankFusionSql: String =
    s"""WITH bm AS (${PipelineQueries.bm25Sql}),
v AS (SELECT vec_id, embedding,
  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
lex AS (SELECT doc_id, CAST(r AS INTEGER) AS lex_rank FROM (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
  FROM bm) WHERE r <= $FusionN),
sem AS (SELECT doc_id, CAST(r AS INTEGER) AS sem_rank FROM (
  SELECT b.vec_id AS doc_id,
    ROW_NUMBER() OVER (ORDER BY $pairCosine DESC, b.vec_id ASC) AS r
  FROM v a JOIN v b ON a.vec_id = 0 AND b.vec_id <> 0) WHERE r <= $FusionN)
SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
  round(COALESCE(CAST(1 AS DOUBLE) / ($RrfC + l.lex_rank), CAST(0 AS DOUBLE))
    + COALESCE(CAST(1 AS DOUBLE) / ($RrfC + s.sem_rank), CAST(0 AS DOUBLE)), 6)
    AS rrf
FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
ORDER BY rrf DESC, doc_id ASC LIMIT $FusionK"""

  val oracles: Map[String, String] = Map(
    "q_rank_fusion" -> rankFusionSql,
    "q_repetition" -> repetitionSql,
    "q_exact_substring" -> exactSubstringSql,
    "q_semantic_dedup" -> semanticDedupSql,
    "q_doc_stats" -> docStatsSql,
    "q_lang_id" -> langIdSql,
    "q_quality_score" -> qualitySql,
    "q_fingerprint" -> fingerprintSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_dedup_ngram" -> dedupNgramSql,
    "q_ssjoin" -> ssjoinSql,
    "q_dedup_minhash" -> dedupMinhashSql,
    "q_dedup_incremental" -> dedupIncrementalSql,
    "q_cc_incremental" -> ccIncrementalSql,
    "q_tokenizer_stats" -> tokenizerStatsSql,
    "q_dedup_simhash" -> dedupSimhashSql,
    "q_embed_nn" -> embedNnSql,
    "q_embed_near_dup" -> embedNearDupSql,
    "q_embed_near_dup_lsh" -> embedNearDupLshSql,
    "q_ann_topk" -> annTopkSql,
    "q_ann_lsh" -> annLshSql,
    "q_ann_lsh_multiprobe" -> annLshMultiProbeSql,
    "q_ann_ivf" -> annIvfSql,
    "q_ann_ivf_incremental" -> annIvfIncrementalSql,
    "q_kmeans" -> kmeansSql,
    "q_kmeans_incremental" -> kmeansIncrementalSql,
    "q_ann_pq" -> annPqSql,
    "q_dedup_rewrite" -> dedupRewriteSql,
    "q_multimodal_meta" ->
      """WITH m AS (SELECT doc_id AS asset_id, text,
  octet_length(encode(text)) AS byte_len FROM documents),
c AS (SELECT asset_id, byte_len, (byte_len + 63) // 64 AS n_chunks,
  base64(encode(substr(text, 1, 8))) AS header_b64 FROM m)
SELECT asset_id, byte_len, n_chunks, header_b64,
  (n_chunks + 3) // 4 AS n_sampled
FROM c ORDER BY asset_id ASC""",
    // integer-exact pHash replay: per-byte explode → 32-cell grid by
    // pos = chunk·32 div n_chunks → cross-multiplied threshold bit →
    // packed signature; brute-force Hamming ≤ 1 equals the Spark
    // side's banded join (pigeonhole recall is exact for maxHam <
    // bands). documents.text is ASCII (checked per snapshot), so
    // ord(substr(text, i, 1)) IS the media byte the Spark side means.
    "q_phash_dedup" ->
      """WITH m AS (SELECT doc_id AS asset_id, text,
  octet_length(encode(text)) AS blen FROM documents),
byt AS (SELECT asset_id, blen, (i - 1) // 16 AS frame_idx,
  ord(substr(text, CAST(i AS INT), 1)) AS bv
  FROM (SELECT asset_id, blen, text, unnest(range(1, blen + 1)) AS i FROM m)),
ch AS (SELECT asset_id, frame_idx * 32 // ((blen + 15) // 16) AS pos, bv
  FROM byt),
grp AS (SELECT asset_id, pos, sum(bv) AS s_p, count(*) AS c_p
  FROM ch GROUP BY 1, 2),
tot AS (SELECT asset_id, sum(bv) AS s, count(*) AS c FROM ch GROUP BY 1),
ph AS (SELECT g.asset_id,
  sum((CASE WHEN g.s_p * t.c > t.s * g.c_p THEN 1 ELSE 0 END) << (31 - g.pos)) AS phash
  FROM grp g JOIN tot t USING (asset_id) GROUP BY 1)
SELECT x.asset_id AS a, y.asset_id AS b,
  CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
FROM ph x JOIN ph y ON x.asset_id < y.asset_id
WHERE bit_count(xor(x.phash, y.phash)) <= 1
ORDER BY a ASC, b ASC""",
    // incremental image dedup: same hash replay, brute force over all
    // pairs with at least one side in today's batch (doc_id % 4 = 0)
    // — equals index-probe + intra-batch by pigeonhole + disjointness
    "q_phash_incremental" ->
      """WITH m AS (SELECT doc_id AS asset_id, text,
  octet_length(encode(text)) AS blen FROM documents),
byt AS (SELECT asset_id, blen, (i - 1) // 16 AS frame_idx,
  ord(substr(text, CAST(i AS INT), 1)) AS bv
  FROM (SELECT asset_id, blen, text, unnest(range(1, blen + 1)) AS i FROM m)),
ch AS (SELECT asset_id, frame_idx * 32 // ((blen + 15) // 16) AS pos, bv
  FROM byt),
grp AS (SELECT asset_id, pos, sum(bv) AS s_p, count(*) AS c_p
  FROM ch GROUP BY 1, 2),
tot AS (SELECT asset_id, sum(bv) AS s, count(*) AS c FROM ch GROUP BY 1),
ph AS (SELECT g.asset_id,
  sum((CASE WHEN g.s_p * t.c > t.s * g.c_p THEN 1 ELSE 0 END) << (31 - g.pos)) AS phash
  FROM grp g JOIN tot t USING (asset_id) GROUP BY 1)
SELECT x.asset_id AS a, y.asset_id AS b,
  CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
FROM ph x JOIN ph y ON x.asset_id < y.asset_id
WHERE bit_count(xor(x.phash, y.phash)) <= 1
  AND (x.asset_id % 4 = 0 OR y.asset_id % 4 = 0)
ORDER BY a ASC, b ASC""",
    // generated unrolled-CTE replays of BPE training / application
    // (MATERIALIZED is load-bearing — see Bpe.bpeOracleSql)
    "q_bpe_merges" -> graft.text.Bpe.bpeOracleSql(graft.text.Bpe.DefaultRounds),
    "q_bpe_segment" -> graft.text.Bpe.segmentOracleSql(graft.text.Bpe.DefaultRounds),
    // the day-1 state the manifest pin must reproduce, recomputed from
    // the base parquet — day-2 leakage or day-1 loss hash-mismatches
    "q_store_time_travel" ->
      """SELECT source, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents WHERE doc_id % 10 < 6 GROUP BY source ORDER BY source ASC""",
    // the manifest-3 state (day-1 + day-2 appends minus the erased
    // doc_id % 7 set) recomputed from base parquet — the CDC fold's
    // `from ∘ changes == to` identity under the hash gate
    "q_store_cdc" ->
      """SELECT source, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents WHERE doc_id % 7 <> 0 GROUP BY source ORDER BY source ASC""",
    // the manifest-5 state: post-erasure day-1+2 rows carry NULL for
    // the evolved column (n_scored counts only the day-3 append) and
    // the compaction changed nothing
    "q_store_evolve" ->
      """WITH cur AS (
  SELECT source, n_chars, CAST(NULL AS BIGINT) AS q
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT source, n_chars, n_chars % 100 AS q
  FROM documents WHERE doc_id % 10 < 2)
SELECT source, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  count(q) AS n_scored, CAST(sum(q) AS BIGINT) AS total_score
FROM cur GROUP BY source ORDER BY source ASC""",
  )
}
