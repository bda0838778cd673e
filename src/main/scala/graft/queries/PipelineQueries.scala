package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Tables, ZOrder}
import graft.operators.{Components, FuzzyJoin, PageRank}
import graft.text.{TextOps, TrainingMix}
import graft.vector.VectorOps

/** Training-set assembly + data-quality operators: fuzzy
  * (edit-distance) joins, deterministic shuffle/shard/pack, mixture
  * upsampling and negative sampling, random-projection sketching,
  * feature hashing, chunking, table profiling, integer PageRank,
  * BM25 and PMI corpus statistics, labeled-embedding mining
  * (hard negatives, label-noise audit), cluster-canonical retention,
  * incremental aggregate maintenance, and the oracle-gated z-order
  * code. Every query is hash-gated against a DuckDB oracle
  * (brute-force where the Spark side is the clever one — the oracle
  * checks CORRECTNESS, the Spark plan carries the scale).
  */
object PipelineQueries {

  private[queries] val PackBudget = 512
  private[queries] val ProjPlanes = 8
  private[queries] val ProjDim = 64
  private[queries] val ProjSeed = 99L

  /** Fuzzy self-join on customer names (edit distance ≤ 1) via
    * deletion-neighborhood blocking — exact candidates, no n²
    * product; the oracle brute-forces the same predicate. The
    * blocking index is the staged per-snapshot artifact
    * ([[DedupStage.customerNameIndex]]), so the query pays only the
    * candidate join + dedup + levenshtein verify
    * ([[FuzzyJoin.selfJoinDist1FromIndex]]). */
  def q_fuzzy_join(spark: SparkSession, dir: String): DataFrame = {
    val verified = FuzzyJoin.selfJoinDist1FromIndex(
      DedupStage.customerNameIndexPartitioned(spark, dir),
      Tables.table(spark, dir, "customer")
        .select(col("c_custkey").as("bid"), col("c_name").as("bstr")),
      // verify parallelism by ROW count, not bytes (guide §2.5 via
      // §8 "use what you know the optimizer does not"): the
      // levenshtein stage's CPU is per-row, so AQE's bytes-based
      // coalescing starves it; width derives from the staged index's
      // own row count — a computed value, not a config
      verifyPartitions = Some(FuzzyJoin.verifyPartitionsFor(
        spark, DedupStage.customerNameIndexSize(spark, dir))))
    ContractSort(verified, col("a_id").asc, col("b_id").asc)
  }

  private val SnWindow = 5

  /** Sorted-neighborhood blocking ([[graft.operators
    * .SortedNeighborhood]]): candidates = customer names within
    * [[SnWindow]] rank positions under the (c_name, c_custkey) total
    * order, verified at edit distance ≤1 — the skew-proof
    * complement of [[q_fuzzy_join]]'s token blocking (candidate
    * volume is exactly \|R\|·w regardless of value distribution).
    * The rank comes from ExactRank's range-partitioned pass and the
    * window self-join is an equi-join on w-wide rank blocks. */
  def q_sorted_neighborhood(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SortedNeighborhood.candidatePairs(
      Tables.table(spark, dir, "customer").select(col("c_name"), col("c_custkey")),
      Seq(col("c_name"), col("c_custkey")), SnWindow)
      .select(col("a_c_name").as("name_a"), col("b_c_name").as("name_b"),
        // banded threshold verify, as in FuzzyJoin: O(len) per pair,
        // kept dist values equal the unbanded distance
        levenshtein(col("a_c_name"), col("b_c_name"), 1).cast("int").as("dist"))
      .where(col("dist") >= 0)
      .orderBy(col("name_a").asc, col("name_b").asc)

  /** Deterministic shuffle → 16 hash shards → greedy token-budget
    * packing ([[TrainingMix.packSequences]]). */
  def q_pack_sequences(spark: SparkSession, dir: String): DataFrame =
    TrainingMix.packSequences(
      Tables.table(spark, dir, "documents"), PackBudget)
      .orderBy(col("doc_id").asc)

  /** Language-tier mixture upsampling ([[TrainingMix.upsample]]):
    * en ×3, de/fr ×2, rest ×1, copy index carried. */
  def q_upsample(spark: SparkSession, dir: String): DataFrame =
    TrainingMix.upsample(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id").asc, col("copy_idx").asc)

  /** Random-projection sketch of the embedding table onto 8 fixed
    * pseudo-random directions ([[VectorOps.project]]). */
  def q_rand_proj(spark: SparkSession, dir: String): DataFrame =
    VectorOps.project(
      Tables.table(spark, dir, "embeddings"),
      VectorOps.hyperplanes(ProjSeed, ProjPlanes, ProjDim))
      .orderBy(col("vec_id").asc)

  private val ProfileCols =
    Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")

  /** Table profiling (the ANALYZE/data-audit shape): row count,
    * non-null count, exact distinct count, and min/max per column,
    * one output row per column. Planned as a UNION of per-column
    * aggregates rather than one multi-distinct aggregate on purpose:
    * a 4-way DISTINCT forces Catalyst into a 4× Expand whose row
    * blow-up dominates the runtime (measured ~4.5 s vs <1 s on sf0.1
    * for this table), while per-column jobs each scan ONE pruned
    * parquet column — columnar layout means total bytes read are the
    * same as a single 4-column scan — and each gets proper two-phase
    * partial-distinct aggregation. */
  def q_profile(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.table(spark, dir, "lineitem")
    ProfileCols.map { c =>
      l.agg(
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_nonnull"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_val"),
        max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_.unionByName(_))
      .orderBy(col("col_name").asc)
  }

  private[queries] val PrIters = 5
  private[queries] val PrStartMass = 1000000L

  /** Integer-mass PageRank ([[PageRank.integerPageRank]]) over the
    * bipartite part↔supplier co-occurrence graph from lineitem —
    * link-quality scoring with bit-exact integer arithmetic, so the
    * five power iterations replay exactly in the oracle's unrolled
    * CTE chain. */
  def q_pagerank(spark: SparkSession, dir: String): DataFrame = {
    // BOTH per-round loop inputs are staged snapshot artifacts now —
    // the long-encoded bidirectional incidence and its degree table
    // ([[GraphStage.partSupplierEncodedEdges]]/[[GraphStage
    // .partSupplierEncodedDegrees]]; long ids: every shuffle hashes
    // 8 bytes, labels re-attach map-side over the |V|-row result,
    // 3.6 s → 2.7 s at round 4; staging the per-call encode+union+
    // degree checkpoints is the round-8 cut). The caller-owned
    // variant never frees the artifacts' blocks.
    PageRank.integerPageRankOver(
      GraphStage.partSupplierEncodedEdges(spark, dir),
      GraphStage.partSupplierEncodedDegrees(spark, dir),
      PrIters, PrStartMass, edgesCarryDstDegree = true)
      .transform(prLabeled)
  }

  private val PrWarmIters = 2

  /** Re-labels an encoded (node, degree, mass) state to the string
    * ids the oracle uses, in output order. */
  private def prLabeled(state: DataFrame): DataFrame = state
    .select(
      when(pmod(col("node"), lit(2)) === 0,
        concat(lit("p:"), expr("node div 2").cast("string")))
        .otherwise(
          concat(lit("s:"), expr("(node - 1) div 2").cast("string")))
        .as("node"),
      col("degree"), col("mass"))
    .orderBy(col("node").asc)

  /** WARM-START (incremental) PageRank — the daily-fold twin of
    * [[q_pagerank]]: "day 1" is the ~2/3 edge subset with
    * `(src + dst) % 3 ≠ 0` (an arbitrary deterministic crawl-day
    * split; the sum is direction-invariant), ranked with the full
    * [[PrIters]] power rounds; "day 2" adds the remaining edges and
    * runs only [[PrWarmIters]] rounds SEEDED from day-1's final mass
    * (new nodes start uniform). Power iteration converges from any
    * start vector, so the near-fixpoint seed buys the same ordering
    * quality for a fraction of the rounds — the refresh pattern for
    * a growing link graph. Integer mass end to end: both phases
    * replay exactly in the oracle's unrolled CTE chain. Day-1's
    * ranks are the staged [[GraphStage.pagerankPriorRanks]] artifact
    * — yesterday's COMMITTED ranks, read not recomputed — so the
    * query itself pays only the seeded refresh. */
  def q_pagerank_warmstart(spark: SparkSession, dir: String): DataFrame =
    PageRank.integerPageRankOver(
      GraphStage.partSupplierEncodedEdges(spark, dir),
      GraphStage.partSupplierEncodedDegrees(spark, dir),
      PrWarmIters, PrStartMass,
      init = Some(GraphStage.pagerankPriorRanks(spark, dir)
        .select(col("node"), col("mass"))),
      edgesCarryDstDegree = true)
      .transform(prLabeled)

  private val Bm25Terms = Seq("spark", "table", "query")
  private val Bm25K1 = "1.2"
  private val Bm25B075 = "0.75"

  /** BM25 relevance of every document against a fixed query-term set
    * (the retrieval scorer used for quality-ranking and dedup-aware
    * search). One pass computes per-doc term frequencies map-side; a
    * scalar agg (doc count, Σdl, per-term document frequencies)
    * broadcasts back; the final score is pure per-row math. The
    * double expression is written with IDENTICAL operator order on
    * both engines and rounded (1e-6) at the boundary — the same
    * discipline as [[AdvancedQueries.q_tfidf]]. */
  def q_bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir).orderBy(col("doc_id").asc)

  /** The daily-index-maintenance twin of [[q_bm25]]: the corpus
    * arrives as two id-ordered batches, each contributing ONE row of
    * additive sufficient statistics (n_docs, Σdl, per-term df) from a
    * single map+agg pass over its own documents; global stats are the
    * SUM of the partials (disjoint doc sets — df adds exactly), and
    * scoring is the identical per-doc math against the merged row.
    * History's text is tokenized on its own day only; day-30 global
    * stats cost one k-long-row merge. Same oracle SQL as q_bm25. */
  def q_bm25_incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val b1 = bm25Base(docs.where(col("doc_id") <= mid))
    val b2 = bm25Base(docs.where(col("doc_id") > mid))
    val merged = bm25MergeStats(bm25Stats(b1).unionByName(bm25Stats(b2)))
    scoreBm25(b1.unionByName(b2), merged).orderBy(col("doc_id").asc)
  }

  private val WsK = 10
  private val WsMixA = 2654435761L
  private val WsMixB = 987654321L
  private val WsMod = 4294967296L // 2^32

  /** Quality-weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis' A-ES, the standard distributed weighted reservoir):
    * per source, keep the k documents maximizing `ln(u)/w` with
    * weight w = n_chars (longer documents proportionally likelier) —
    * exactly the weighted-without-replacement distribution, chosen in
    * one pass with no retry loop. u is a deterministic integer mixer
    * ((a·id + b) mod 2³², +0.5, /2³² — every step exact in binary
    * doubles on both engines); the single `ln` per row is quantized
    * (`round 12`, ~8 orders of magnitude above ulp noise) before
    * ranking so an engine ulp can never flip a pick. Top-k per source
    * runs on the heap-based [[graft.plans.TopK]] plan — partial heaps
    * before the exchange, no sort, no window. */
  def q_weighted_sample(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("u",
        (pmod(col("doc_id") * lit(WsMixA) + lit(WsMixB), lit(WsMod))
          .cast("double") + lit(0.5)) / lit(WsMod.toDouble))
      .withColumn("es_key",
        round(log(col("u")) / greatest(col("n_chars"), lit(1L)), 12))
      .drop("u")
    graft.plans.TopK.perGroup(scored,
      Seq("source"), Seq(("es_key", false), ("doc_id", true)), WsK, "pick")
      .select(col("source"), col("pick"), col("doc_id"), col("n_chars"),
        col("es_key"))
      .orderBy(col("source").asc, col("pick").asc)
  }

  /** Per-document BM25 scores (no output ordering) — shared by
    * [[q_bm25]] and [[CorpusQueries.q_rank_fusion]]'s lexical arm. */
  /** Per-doc (dl, tf per fixed term) — the map-side pass both the
    * corpus stats and the scoring join read; checkpointed so the
    * tokenize pass runs once. */
  private def bm25Base(docs: DataFrame): DataFrame =
    graft.operators.CheckpointBlocks.local(bm25BaseFrame(docs))

  /** The tokenize → per-doc (dl, tf per term) projection alone —
    * cadence-agnostic (the streaming stats maintainer maps the same
    * expressions over arriving documents). */
  private[graft] def bm25BaseFrame(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs.select(
      col("doc_id") +: size(toks).as("dl") +:
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === lit(t))).as(s"tf$i")
        }: _*)
  }

  /** The ADDITIVE corpus sufficient statistics BM25 needs:
    * (n_docs, Σdl, df per term) — one row; partials from disjoint
    * document sets merge by [[bm25MergeStats]]. */
  private[graft] def bm25Stats(base: DataFrame): DataFrame = {
    val statCols = sum(col("dl")).as("sum_dl") +:
      Bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1).otherwise(0)).as(s"df$i"))
    base.agg(count(lit(1)).as("n_docs"), statCols: _*)
  }

  /** Merge per-day partial stats rows: every column is a sum. */
  private def bm25MergeStats(partials: DataFrame): DataFrame = {
    val cols = sum(col("n_docs")).as("n_docs") +:
      sum(col("sum_dl")).as("sum_dl") +:
      Bm25Terms.indices.map(i => sum(col(s"df$i")).as(s"df$i"))
    partials.agg(cols.head, cols.tail: _*)
  }

  private[queries] def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val base = bm25Base(Tables.table(spark, dir, "documents"))
    scoreBm25(base, bm25Stats(base))
  }

  /** Per-doc BM25 math against ONE broadcast stats row — identical
    * arithmetic whether the stats came from one corpus pass or a
    * merge of daily partials. */
  private def scoreBm25(base: DataFrame, stats: DataFrame): DataFrame = {
    val withAvg = base.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val score = Bm25Terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = log(
        (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))
          + lit(1.0))
      idf * (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    withAvg
      .select(col("doc_id") +: col("dl") +:
        Bm25Terms.indices.map(i => col(s"tf$i")) :+
        round(score, 6).as("bm25"): _*)
  }

  /** Z-order (Morton) code of every lineitem row on
    * (l_partkey, l_suppkey) via [[ZOrder.mortonCode]] — the layout
    * key the z-ordered write path sorts by, here surfaced as a query
    * so the bit interleave itself is oracle-gated (the write path's
    * file-pruning behavior stays covered by ZOrderSpec /
    * PartitionedLayoutSpec). */
  def q_zorder(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(spark, dir, "lineitem")
    val bounds = li.agg(
      min(col("l_partkey")).as("amin"), max(col("l_partkey")).as("amax"),
      min(col("l_suppkey")).as("bmin"), max(col("l_suppkey")).as("bmax"))
    li.crossJoin(broadcast(bounds))
      .select(col("l_orderkey"), col("l_linenumber"),
        ZOrder.mortonCode(
          col("l_partkey"), col("amin"), col("amax"),
          col("l_suppkey"), col("bmin"), col("bmax")).as("zcode"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
      // zcode completes the total order (remaining ties are full-row
      // duplicates, so any order hashes identically)
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
        col("zcode").asc)
  }

  private val HardNegK = 10
  private val NoiseK = 5

  /** Contrastive hard-negative mining ([[VectorOps.hardNegatives]]):
    * top-10 nearest different-label vectors per query vector. */
  def q_hard_negatives(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.table(spark, dir, "embeddings")
    VectorOps.hardNegatives(v, v.where(col("vec_id") % 100 === 0), HardNegK)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** kNN label-noise audit ([[VectorOps.knnLabelNoise]]): flags
    * vectors whose label disagrees with their 5-NN majority. */
  def q_label_noise(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.table(spark, dir, "embeddings")
    VectorOps.knnLabelNoise(v, v.where(col("vec_id") % 10 === 0), NoiseK)
      .orderBy(col("query_id").asc)
  }

  private val PmiMinCount = 5
  private val PmiTopK = 50

  /** PMI collocation mining: the top-50 adjacent-token pairs by
    * pointwise mutual information (count ≥ 5) — the corpus-statistics
    * op behind tokenizer-merge candidates and stop-phrase lists. All
    * counts reduce with map-side partials; the unigram tables and the
    * scalar total broadcast back into the bigram table (vocab-sized,
    * never corpus-sized); integer products are exact and the single
    * double division + ln round at the boundary. Top-50 under a total
    * order → TakeOrderedAndProject, no global sort. */
  def q_collocations(spark: SparkSession, dir: String): DataFrame = {
    // the corpus bigram aggregation is the staged LM-statistics
    // artifact ([[LmStage.bigramCounts]] — one corpus pass per
    // snapshot, shared with the bigram-LM/perplexity scoring);
    // unigram margins and the total derive from the (vocab²-bounded)
    // count table, never from re-reading the corpus
    val cb = LmStage.bigramCounts(spark, dir)
    val c1t = cb.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val c2t = cb.groupBy("w2").agg(sum(col("c12")).as("c2"))
    val n = cb.agg(sum(col("c12")).as("n_bg"))
    cb.where(col("c12") >= PmiMinCount)
      .join(broadcast(c1t), "w1")
      .join(broadcast(c2t), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12") * col("n_bg")) / (col("c1") * col("c2"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(PmiTopK)
  }

  private val NegK = 5
  private val NegDraws = 20

  /** Hash-based negative sampling for implicit-feedback training
    * (user bought part → sample parts they did NOT buy): each user
    * draws 20 deterministic candidates via an integer mixer over the
    * contiguous item-id space, anti-joins the positives, dedups
    * repeat draws (first draw wins), and keeps the first 5 survivors
    * in draw order. Pure integer math end-to-end — no RNG state, so
    * any run (and the oracle) samples the identical negatives.
    *
    * Scale: candidates are |users|×20 map-side rows; the anti-join
    * shuffles on (user, item) like any key join; the keep-k window
    * rewrites to the partial top-k plan. Rejection sampling without
    * the sequential retry loop: over-draw a fixed factor, keep the
    * first k survivors (the distributed-friendly formulation). */
  def q_neg_sample(spark: SparkSession, dir: String): DataFrame = {
    // the positives set — distinct (customer, part) purchase incidence
    // — IS the staged bipartite artifact HITS walks
    // ([[GraphStage.purchaseBipartite]]): one build per snapshot
    // anchors BOTH the candidate user list and the anti-join here,
    // with no per-invocation join+distinct+checkpoint
    val pos = GraphStage.purchaseBipartite(spark, dir)
      .select(col("c").as("user_id"), col("p").as("item_id"))
    val nItems = Tables.table(spark, dir, "part").agg(count(lit(1)).as("n_items"))
    val cand = pos.select("user_id").distinct()
      .crossJoin(broadcast(nItems))
      .select(col("user_id"), col("n_items"),
        explode(sequence(lit(1), lit(NegDraws))).as("draw"))
      .select(col("user_id"), col("draw"),
        // +1: p_partkey is 1-based [1, n_items] — a bare pmod would
        // draw a nonexistent item 0 and never the max partkey
        (pmod(col("user_id") * lit(2654435761L) + col("draw") * lit(40503L),
          col("n_items")) + 1).as("item_id"))
    val neg = cand.join(pos, Seq("user_id", "item_id"), "left_anti")
      .groupBy("user_id", "item_id").agg(min(col("draw")).as("draw"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("draw").asc, col("item_id").asc)
    neg.withColumn("neg_idx", row_number().over(w))
      .where(col("neg_idx") <= NegK)
      .select(col("user_id"), col("neg_idx"), col("draw"), col("item_id"))
      .orderBy(col("user_id").asc, col("neg_idx").asc)
  }

  /** Feature hashing (the hashing trick): tokens map to 256 fixed
    * buckets via a salted md5 nibble pair, with a ±1 sign bit from the
    * next nibble (the collision-debiasing trick from the
    * hashing-vectorizer literature); per-(doc, bucket) signed sums are
    * the sparse feature vector. Map-side explode + one partial-agg'd
    * shuffle; no vocabulary state anywhere — the property that makes
    * the trick work on an unbounded 100 TB token stream. */
  def q_feature_hash(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(lit("fh:"), col("t")))
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"),
        substring(h, 1, 2).as("bucket"),
        when(substring(h, 3, 1) < "8", 1).otherwise(-1).as("sign"))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("sign")).as("weight"), count(lit(1)).as("n_tokens"))
      .orderBy(col("doc_id").asc, col("bucket").asc)
  }

  private val ChunkW = 64
  private val ChunkS = 48

  /** Overlapping token-window chunking (context-window splitting for
    * RAG / training): windows of 64 tokens at stride 48, final
    * partial window kept. Pure map-side explode of a computed start
    * grid — no shuffle at all until the output sort; the chunk text
    * leaves the mapper only as its md5 (the downstream dedup/index
    * key), not as a copied substring. */
  def q_chunk(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val base = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
      .withColumn("n_chunks",
        expr(s"(greatest(n - $ChunkW, 0) + ${ChunkS - 1}) div $ChunkS + 1"))
      .select(col("doc_id"), col("toks"), col("n"),
        // `div` yields BIGINT; an INT sequence bound keeps the grid
        // index INT on both engines (generators can't be cast around)
        explode(sequence(lit(0), (col("n_chunks") - 1).cast("int")))
          .as("chunk_idx"))
    val start = col("chunk_idx") * ChunkS + 1
    val end = least(col("chunk_idx") * ChunkS + ChunkW, col("n"))
    base.select(
      col("doc_id"), col("chunk_idx"),
      start.as("start_tok"), end.as("end_tok"),
      (end - start + 1).as("n_tokens"),
      md5(concat_ws(" ", slice(col("toks"), start, end - start + 1)))
        .as("chunk_md5"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
  }

  /** Incremental aggregate maintenance (materialized-view refresh
    * shape): a prior aggregate STATE (¾ of the fact) merges with a
    * new batch's partial aggregate by summing counts and sums —
    * never re-touching the historical rows. The merged result is
    * bit-equal to the full-table aggregate, which is exactly what the
    * oracle checks. Counts and decimal sums are mergeable; the DOUBLE
    * cast happens once at the output boundary. */
  def q_agg_merge(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(spark, dir, "lineitem")
    def partial(df: DataFrame): DataFrame = df
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(14,2)")).as("sum_qty"))
    val state = partial(li.where(pmod(col("l_orderkey"), lit(4)) =!= 0))
    val batch = partial(li.where(pmod(col("l_orderkey"), lit(4)) === 0))
    state.unionByName(batch)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_qty")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Cluster-canonical selection — the "keep one" stage after near-dup
    * clustering: every MinHash cluster keeps its LONGEST member
    * (n_chars, tie → smallest doc_id) rather than the min-id default,
    * the quality-priority retention real dedup pipelines use. The
    * representative is a `max_by` hash aggregation per cluster
    * (partial map-side), re-joined to flag survivors. */
  def q_cluster_canonical(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val comp = DedupStage.components(spark, dir)
      .select(col("node").as("doc_id"), col("label"))
    val lbl = docs.select(col("doc_id"), col("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("label"), col("doc_id")).as("cluster"))
    val rep = lbl.groupBy("cluster")
      .agg(max_by(col("doc_id"),
        struct(col("n_chars"), (-col("doc_id")).as("inv"))).as("rep_doc_id"))
    lbl.join(rep, "cluster")
      .select(col("doc_id"), col("cluster"), col("rep_doc_id"),
        (col("doc_id") === col("rep_doc_id")).as("kept"))
      .orderBy(col("doc_id").asc)
  }

  /** Quality-score calibration against near-duplicate membership:
    * rank the corpus into quality deciles (ExactRank — no global
    * window) and report each decile's near-dup rate from the staged
    * pair mining. The score-validation read a curation pipeline runs
    * before trusting a quality gate: a well-calibrated score shows
    * dup-rate falling as quality rises; a flat curve means the gate
    * isn't separating anything. "Near-dup" = incident to any MinHash
    * pair at the corpus defaults (the [[DedupStage]] artifact's node
    * set — membership, not clustering, so the oracle needs only the
    * pair CTE).
    *
    * Plan shape: scoring is map-side; the decile is two-phase
    * range-partitioned rank + integer math; the dup flag is one
    * equi-join against the (near-dup-bounded) node list; the output
    * aggregation is 10 groups. */
  def q_quality_calibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        TextOps.qualityExpr(split(col("text"), " ")).as("quality"))
    val (ranked, n) = graft.operators.ExactRank.withGlobalRank(
      scored, Seq(col("quality").asc, col("doc_id").asc), "_gr")
    val dup = DedupStage.components(spark, dir)
      .select(col("node").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    ranked
      .withColumn("decile",
        graft.operators.ExactRank.ntileFromRank("_gr", n, 10))
      .join(dup, Seq("doc_id"), "left")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("decile"), col("n_docs"), col("n_dup"),
        round(col("n_dup") / col("n_docs"), 6).as("dup_rate"))
      .orderBy(col("decile").asc)
  }

  private val ContrastiveDraws = 8
  private val CtrMixA = 2654435761L // anchor weight (Knuth hash)
  private val CtrMixB = 40503L      // positive weight
  private val CtrMixC = 1000003L    // draw weight

  /** Contrastive triplet generation from the staged dedup clusters —
    * training data for embedding / reranker models: every same-cluster
    * document pair is a positive (the near-dups the model should map
    * together); the negative is the first of `ContrastiveDraws`
    * hash-drawn documents that lands OUTSIDE the pair's cluster
    * (cluster-aware negative sampling — drawing uniformly and
    * rejecting in-cluster hits avoids false negatives). Integer mixer
    * + first-survivor selection, the `q_neg_sample` discipline: no RNG
    * state, identical triplets on any run and in the oracle.
    *
    * ASSUMES dense 0-based doc_ids (draws land in [0, n_docs), like
    * `q_neg_sample`'s 1-based item assumption): on a sparse id space,
    * draws hitting holes are silently dropped by the cluster-lookup
    * join and a pair can emit no triplet — densify ids first (e.g.
    * ExactRank) before reusing this on a real corpus.
    *
    * Scale: positives are Σ|cluster|² rows (clusters are near-dup
    * groups — tiny by construction after [[q_cluster_canonical]]-style
    * curation); draws explode ×8 map-side; the cluster lookup for
    * candidates is an equi-join on doc_id against the corpus-sized
    * label table (shuffle join — the label side is NOT broadcast, it
    * scales with the corpus); survivor selection is a `min_by` hash
    * aggregation on the pair key. */
  def q_contrastive(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents").select(col("doc_id"))
    val comp = DedupStage.components(spark, dir)
      .select(col("node").as("doc_id"), col("label"))
    val clustered = docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val pos = clustered.as("x").join(clustered.as("y"),
        col("x.cluster") === col("y.cluster")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("anchor"), col("y.doc_id").as("positive"),
        col("x.cluster").as("cluster"))
    val draws = pos.crossJoin(broadcast(nDocs))
      .select(col("anchor"), col("positive"), col("cluster"), col("n_docs"),
        explode(sequence(lit(1), lit(ContrastiveDraws))).as("d"))
      .select(col("anchor"), col("positive"), col("cluster"), col("d"),
        pmod(col("anchor") * CtrMixA + col("positive") * CtrMixB
          + col("d") * CtrMixC, col("n_docs")).as("cand"))
    draws
      .join(clustered.select(col("doc_id").as("cand"),
        col("cluster").as("cand_cluster")), "cand")
      .where(col("cand_cluster") =!= col("cluster"))
      .groupBy("anchor", "positive")
      .agg(min_by(col("cand"), col("d")).as("negative"))
      .orderBy(col("anchor").asc, col("positive").asc)
  }

  /** Per-source token-distribution Shannon entropy — the corpus
    * diversity metric mixture tuning reads (low entropy ⇒ templated/
    * boilerplate source). Each −p·ln p term is quantized to
    * DECIMAL(20,9) BEFORE the per-source sum (the [[AdvancedQueries
    * .q_bigram_lm]] discipline): a raw double sum would depend on
    * shuffle order and could never hash-match across engines; the
    * quantized decimal sum is exact in any order. */
  def q_entropy(spark: SparkSession, dir: String): DataFrame = {
    // (source, term) counts feed both the totals and the entropy sum —
    // checkpoint the vocabulary-bounded aggregate so the corpus
    // explode+count runs once, not twice
    val cnt = graft.operators.CheckpointBlocks.local(
      Tables.table(spark, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("c")))
    val tot = cnt.groupBy("source")
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("n_types"))
    cnt.join(broadcast(tot), "source")
      .withColumn("p", col("c") / col("tot"))
      .withColumn("term", round(col("p") * log(col("p")), 9)
        .cast("decimal(20,9)"))
      .groupBy(col("source"), col("tot"), col("n_types"))
      .agg(sum(col("term")).as("s"))
      .select(col("source"), col("tot").as("n_tokens"), col("n_types"),
        round(-col("s").cast("double"), 6).as("entropy"))
      .orderBy(col("source").asc)
  }

  private val MixBudget = 100000L

  /** Temperature-sampled mixture allocation (τ = 0.5): a global token
    * budget splits across sources proportional to √(source tokens) —
    * the standard upweight-the-tail mixture rule — with integer
    * quotas via the largest-remainder method. √ is IEEE
    * correctly-rounded (unlike ln/exp) so per-source values are
    * engine-exact; the √ TOTAL is summed as quantized decimal so the
    * denominator is order-exact; floors and the remainder
    * distribution are pure integer/rank logic. */
  def q_token_budget(spark: SparkSession, dir: String): DataFrame = {
    // the per-source token counts re-enter the plan three times
    // (shares, the base-quota total, the remainder rank) — every
    // consumer shares the identical agg subtree, so AQE's stage reuse
    // runs the corpus scan once (an eager checkpoint measured +0.5 s
    // at sf0.1 for zero saved work: redundant)
    val toks = Tables.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " "))).as("n_tokens"))
    val withSqrt = toks.withColumn("sq",
      round(sqrt(col("n_tokens")), 9).cast("decimal(20,9)"))
    val tot = withSqrt.agg(sum(col("sq")).as("sq_tot"))
    val w = withSqrt.crossJoin(broadcast(tot))
      .withColumn("share",
        col("sq").cast("double") / col("sq_tot").cast("double") * MixBudget)
      .withColumn("base", floor(col("share")).cast("bigint"))
      .withColumn("frac", round(col("share") - col("base"), 9))
    // the remainder rank and the leftover total are over the ~#sources
    // aggregated rows, but windows there would still plan single
    // partition: the total is a broadcast cross join, the rank a
    // triangle self-join predecessor count (rk-1 = rows ordering
    // strictly before under (frac DESC, source ASC))
    val leftover = w.agg((lit(MixBudget) - sum(col("base"))).as("leftover"))
    w.as("a")
      .join(broadcast(w.select(col("frac"), col("source")).as("b")),
        col("b.frac") > col("a.frac") ||
          (col("b.frac") === col("a.frac") && col("b.source") < col("a.source")),
        "left")
      .groupBy(col("a.source").as("source"), col("a.n_tokens").as("n_tokens"),
        col("a.base").as("base"))
      .agg(count(col("b.source")).as("n_before"))
      .crossJoin(broadcast(leftover))
      .select(col("source"), col("n_tokens"),
        (col("base") + when(col("n_before") < col("leftover"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy(col("source").asc)
  }

  /** Curriculum interleave: documents bucket into 4 difficulty tiers
    * (length as the difficulty proxy, ntile under a total order), then
    * the training order round-robins across tiers so every batch
    * window sees the full difficulty mix — all integer rank algebra,
    * no RNG. ONE [[graft.operators.ExactRank]] pass (range-partitioned,
    * no single-partition window) yields the global difficulty rank;
    * tier, within-tier position AND the interleaved training rank are
    * all closed-form integer math on it, because the 4 tier sizes are
    * known from n: `training_rank(pos, tier) = Σ_u min(pos-1, s_u) +
    * #{u < tier : s_u ≥ pos} + 1` — bit-identical to the oracle's
    * three stacked windows. */
  def q_curriculum(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ExactRank
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val (ranked, n) = ExactRank.withGlobalRank(
      docs, Seq(col("n_chars").asc, col("doc_id").asc), "_gr")
    val q = n / 4
    val rem = n % 4
    ranked
      .withColumn("tier", ExactRank.ntileFromRank("_gr", n, 4))
      .withColumn("pos",
        (col("_gr") - ExactRank.ntileOffset("tier", n, 4)).cast("int"))
      .withColumn("training_rank", expr(
        s"CAST($rem * least(pos - 1, ${q + 1}) + ${4 - rem} * least(pos - 1, $q)" +
          s" + (CASE WHEN ${q + 1} >= pos THEN least(tier - 1, $rem) ELSE 0 END)" +
          s" + (CASE WHEN $q >= pos THEN greatest(tier - 1 - $rem, 0) ELSE 0 END)" +
          s" + 1 AS INT)"))
      .select(col("doc_id"), col("n_chars"), col("tier"), col("pos"),
        col("training_rank"))
      .orderBy(col("doc_id").asc)
  }

  private val AnomalyTopK = 100

  /** Statistical outlier detection: per-platform z-scores of event
    * values, top-100 by |z| (metric-quality auditing / bad-feed
    * detection). Moments come from EXACT integer-cents sums (value
    * quantizes to cents without half-way cases — a dyadic double can
    * never be an odd multiple of 1/200), so mean/variance are
    * identical doubles on both engines; one partial-agg'd scan plus a
    * broadcast join back. Top-k under a total order →
    * TakeOrderedAndProject. */
  def q_anomaly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "events")
      .select(col("event_id"), col("event_type").as("platform"),
        col("value"),
        round(col("value") * 100, 0).cast("bigint").as("c"))
    // moment sums accumulate in DECIMAL(38,0) — the match for the
    // oracle's HUGEINT. A LongType Σc² (c up to ~33k cents, c² ~1.1e9)
    // would silently wrap beyond ~8e9 events per platform; the decimal
    // stays internal (outputs are double), so the no-decimal-output
    // oracle rule is untouched
    val stats = e.groupBy("platform")
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast("decimal(38,0)")).as("sum_c"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("sumsq_c"))
      .withColumn("mean_c", col("sum_c").cast("double") / col("n"))
      .withColumn("var_c",
        (col("sumsq_c").cast("double")
          - col("sum_c").cast("double") * col("sum_c").cast("double") / col("n"))
          / col("n"))
    e.join(broadcast(stats), "platform")
      .where(col("var_c") > 0)
      .select(col("event_id"), col("platform"), col("value"),
        round((col("c") - col("mean_c")) / sqrt(col("var_c")), 6).as("z"))
      .orderBy(abs(col("z")).desc, col("event_id").asc)
      .limit(AnomalyTopK)
  }

  // = 7/10: q_containment_prefix passes the same threshold as that
  // rational for its integer prefix bound — keep the two in lockstep
  private val ContainmentThreshold = 0.7

  /** Asymmetric shingle containment ([[TextOps.containmentPairs]]):
    * catches subset-duplicates whose Jaccard stays low. */
  def q_containment(spark: SparkSession, dir: String): DataFrame =
    ContractSort(TextOps.containmentPairs(
      Tables.table(spark, dir, "documents"),
      CorpusQueries.ShingleN, ContainmentThreshold),
      col("a").asc, col("b").asc)

  /** The EXACT scale twin of [[q_containment]]: identical answer
    * (same oracle SQL), but candidates from the smaller side's
    * rarest-first prefix against the staged shingle index instead of
    * the n² shingle self-join — the plan that survives 100× where
    * the baseline is the labeled yardstick
    * ([[TextOps.prefixContainmentPairsFromKeyed]]). Threshold 0.7 as
    * the rational 7/10 for the integer prefix bound. */
  def q_containment_prefix(spark: SparkSession, dir: String): DataFrame =
    TextOps.prefixContainmentPairsFromKeyed(
      DedupStage.prefixIndex(spark, dir), p = 7, q = 10)
      .orderBy(col("a").asc, col("b").asc)

  /** Dedup mass report: how much of the corpus is duplicated —
    * clusters-per-size histogram from the MinHash near-dup graph,
    * singletons derived arithmetically (never materialized as
    * clusters). The pipeline-health number every dedup run reports. */
  def q_dedup_stats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val sizes = DedupStage.components(spark, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
    val singletons = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(
        sizes.agg(coalesce(sum(col("cluster_size")), lit(0L)).as("in_clusters"))))
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("in_clusters")).as("n_clusters"))
    singletons.unionByName(hist).orderBy(col("cluster_size").asc)
  }

  /** Winsorization (outlier clipping to the exact P5/P95 order
    * statistics) per platform — the value-cleaning step before
    * aggregate features. Bounds are DISCRETE percentiles computed as
    * integer ranks over cent-quantized values (rank ⌈0.05·n⌉ under a
    * total order), so both engines pick the IDENTICAL data value — no
    * interpolation formula to drift by an ulp — and every clip/count/
    * sum after that is pure integer math. */
  def q_winsorize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "events")
      .select(col("event_id"), col("event_type").as("platform"),
        round(col("value") * 100, 0).cast("bigint").as("c"))
    // COUNTING-PASS exact percentiles: the fact never sorts at all.
    // Values are cent-quantized, so the (platform, c) count table is
    // bounded by the VALUE DOMAIN (~33k cents/platform), not by rows —
    // one partial-agg'd shuffle of that table, a per-platform running
    // sum over it (the window input is domain-bounded, so a ~5-way
    // partition is harmless at any fact size), and the discrete
    // percentile is the smallest c whose cumulative count reaches the
    // target rank — identical, by definition, to the value at that
    // rank under (c, event_id) order
    val cnt = e.groupBy("platform", "c").agg(count(lit(1)).as("cc"))
    val cum = cnt.withColumn("cum",
      sum(col("cc")).over(org.apache.spark.sql.expressions.Window
        .partitionBy("platform").orderBy(col("c").asc)))
    val np = cnt.groupBy("platform").agg(sum(col("cc")).as("n"))
    val bounds = cum.join(broadcast(np), "platform")
      .groupBy("platform").agg(
      min(when(col("cum") >= expr("(n * 5 + 99) div 100"), col("c"))).as("lo_c"),
      min(when(col("cum") >= expr("(n * 95 + 99) div 100"), col("c"))).as("hi_c"))
    e.join(broadcast(bounds), "platform")
      .groupBy(col("platform"), col("lo_c"), col("hi_c"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("c") < col("lo_c"), 1).otherwise(0)).as("n_low"),
        sum(when(col("c") > col("hi_c"), 1).otherwise(0)).as("n_high"),
        sum(least(greatest(col("c"), col("lo_c")), col("hi_c")))
          .as("sum_clipped_c"))
      .select(col("platform"), col("n"), col("lo_c"), col("hi_c"),
        col("n_low"), col("n_high"), col("sum_clipped_c"))
      .orderBy(col("platform").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_winsorize" -> (q_winsorize _),
    "q_weighted_sample" -> (q_weighted_sample _),
    "q_containment" -> (q_containment _),
    "q_containment_prefix" -> (q_containment_prefix _),
    "q_dedup_stats" -> (q_dedup_stats _),
    "q_anomaly" -> (q_anomaly _),
    "q_token_budget" -> (q_token_budget _),
    "q_curriculum" -> (q_curriculum _),
    "q_entropy" -> (q_entropy _),
    "q_cluster_canonical" -> (q_cluster_canonical _),
    "q_contrastive" -> (q_contrastive _),
    "q_quality_calibration" -> (q_quality_calibration _),
    "q_chunk" -> (q_chunk _),
    "q_agg_merge" -> (q_agg_merge _),
    "q_feature_hash" -> (q_feature_hash _),
    "q_neg_sample" -> (q_neg_sample _),
    "q_collocations" -> (q_collocations _),
    "q_hard_negatives" -> (q_hard_negatives _),
    "q_label_noise" -> (q_label_noise _),
    "q_fuzzy_join" -> (q_fuzzy_join _),
    "q_sorted_neighborhood" -> (q_sorted_neighborhood _),
    "q_pack_sequences" -> (q_pack_sequences _),
    "q_upsample" -> (q_upsample _),
    "q_rand_proj" -> (q_rand_proj _),
    "q_profile" -> (q_profile _),
    "q_pagerank" -> (q_pagerank _),
    "q_pagerank_warmstart" -> (q_pagerank_warmstart _),
    "q_bm25" -> (q_bm25 _),
    "q_bm25_incremental" -> (q_bm25_incremental _),
    "q_zorder" -> (q_zorder _),
  )

  // ---- DuckDB oracle SQL -------------------------------------------

  private val fuzzyJoinSql: String =
    """SELECT x.c_custkey AS a_id, y.c_custkey AS b_id,
      |       x.c_name AS a_str, y.c_name AS b_str,
      |       CAST(levenshtein(x.c_name, y.c_name) AS INTEGER) AS dist
      |FROM customer x JOIN customer y ON x.c_custkey < y.c_custkey
      |WHERE levenshtein(x.c_name, y.c_name) <= 1
      |ORDER BY a_id ASC, b_id ASC""".stripMargin

  private val packSequencesSql: String =
    s"""WITH t AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
      |    md5('ord:' || CAST(doc_id AS VARCHAR)) AS okey
      |  FROM documents),
      |b AS (SELECT doc_id, shard, n_tokens, okey,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY okey ASC, doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT doc_id, shard, n_tokens,
      |  CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS bin,
      |  CAST(ROW_NUMBER() OVER (
      |    PARTITION BY shard, (cum - n_tokens) // $PackBudget
      |    ORDER BY okey ASC, doc_id ASC) AS INTEGER) AS pos
      |FROM b ORDER BY doc_id ASC""".stripMargin

  private val upsampleSql: String =
    """WITH d AS (SELECT doc_id, lang,
      |    CASE WHEN lang = 'en' THEN 3
      |         WHEN lang IN ('de', 'fr') THEN 2 ELSE 1 END AS n_copies
      |  FROM documents)
      |SELECT doc_id, lang, n_copies, CAST(u.i AS INTEGER) AS copy_idx
      |FROM d, UNNEST(range(1, n_copies + 1)) AS u(i)
      |ORDER BY doc_id ASC, copy_idx ASC""".stripMargin

  private val randProjSql: String = {
    val planes = VectorOps.hyperplanes(ProjSeed, ProjPlanes, ProjDim)
    val cols = planes.zipWithIndex.map { case (p, i) =>
      val lits = p.map(d => BigDecimal(d).underlying.toPlainString)
        .mkString("[", ", ", "]")
      s"  round(${CorpusQueries.dotSql("embedding", s"($lits::DOUBLE[])")}, 10) AS p$i"
    }.mkString(",\n")
    s"""SELECT vec_id,
       |$cols
       |FROM embeddings ORDER BY vec_id ASC""".stripMargin
  }

  private val profileSql: String =
    ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_val,
         |  CAST(MAX($c) AS VARCHAR) AS max_val
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name ASC")

  /** Unrolled power-iteration CTE chain mirroring
    * [[PageRank.integerPageRank]] — integer ops only, so the chain is
    * bit-exact. DuckDB `//` truncates toward zero on integers —
    * same as Spark `div` and Scala `/` (the three only agree BECAUSE
    * none floors; [[graft.vector.DistributedKMeans]]'s negative-sum
    * case depends on it — `-7 // 2 = -3` in DuckDB, not `-4`);
    * masses here are non-negative so any convention would do. */
  // shared head for the PageRank replays: the part–supplier bipartite
  // edge list (both directions) with `r`, the encoded-id sum mod 3
  // (2·pk + 2·sk + 1 — direction-invariant), which the warm-start
  // replay uses as its crawl-day split; plus full-graph degrees
  private val prHeadSql: String =
    s"""WITH pe AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
       |en AS (SELECT 'p:' || CAST(pk AS VARCHAR) AS p,
       |              's:' || CAST(sk AS VARCHAR) AS s,
       |              (2 * pk + 2 * sk + 1) % 3 AS r FROM pe),
       |e AS (SELECT p AS src, s AS dst, r FROM en
       |      UNION ALL SELECT s, p, r FROM en),
       |d AS (SELECT src AS node, COUNT(*) AS degree FROM e GROUP BY src)""".stripMargin

  // one damped integer power round over edge CTE `eCte` / degree CTE
  // `dCte`: contributions, then teleport + 85% damped update
  private def prRoundSql(eCte: String, dCte: String, prev: String,
      c: String, out: String): String = {
    val teleport = PrStartMass * 15L / 100L
    s""",
       |$c AS (SELECT e.dst AS node, SUM(m.mass // m.degree) AS inc
       |        FROM $eCte e JOIN $prev m ON e.src = m.node GROUP BY e.dst),
       |$out AS (SELECT d.node, d.degree,
       |          $teleport + (85 * COALESCE($c.inc, 0)) // 100 AS mass
       |        FROM $dCte d LEFT JOIN $c ON d.node = $c.node)""".stripMargin
  }

  private def prFinalSql(last: String): String =
    s"\nSELECT node, degree, CAST(mass AS BIGINT) AS mass FROM $last ORDER BY node ASC"

  private val pagerankSql: String =
    prHeadSql +
      s""",
         |m0 AS (SELECT node, degree, CAST($PrStartMass AS BIGINT) AS mass FROM d)""".stripMargin +
      (1 to PrIters).map(i => prRoundSql("e", "d", s"m${i - 1}", s"c$i", s"m$i")).mkString +
      prFinalSql(s"m$PrIters")

  /** The warm-start replay: full rounds over the day-1 subgraph
    * (r ≠ 0), then the day-2 state seeds from day-1 mass (new nodes
    * uniform) and runs the short refresh over the full graph. */
  private val pagerankWarmstartSql: String =
    prHeadSql +
      s""",
         |e1 AS (SELECT src, dst FROM e WHERE r <> 0),
         |d1 AS (SELECT src AS node, COUNT(*) AS degree FROM e1 GROUP BY src),
         |w0 AS (SELECT node, degree, CAST($PrStartMass AS BIGINT) AS mass FROM d1)""".stripMargin +
      (1 to PrIters).map(i => prRoundSql("e1", "d1", s"w${i - 1}", s"wc$i", s"w$i")).mkString +
      s""",
         |m0 AS (SELECT d.node, d.degree,
         |         CAST(COALESCE(w.mass, $PrStartMass) AS BIGINT) AS mass
         |       FROM d LEFT JOIN w$PrIters w ON d.node = w.node)""".stripMargin +
      (1 to PrWarmIters).map(i => prRoundSql("e", "d", s"m${i - 1}", s"c$i", s"m$i")).mkString +
      prFinalSql(s"m$PrWarmIters")

  private[queries] val bm25Sql: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS INTEGER) AS tf$i"
    }.mkString(",\n        ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    // operator order matches the Spark expression token-for-token so
    // both engines produce the same IEEE doubles before the round
    val termExprs = Bm25Terms.indices.map { i =>
      s"ln((n_docs - df$i + 0.5) / (df$i + 0.5) + 1.0) * (tf$i * 2.2)" +
        s" / (tf$i + $Bm25K1 * (0.25 + $Bm25B075 * dl / avgdl))"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |b AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS dl,
       |        $tfCols
       |      FROM t),
       |s AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, $dfCols FROM b),
       |w AS (SELECT b.*, s.*, CAST(s.sum_dl AS DOUBLE) / s.n_docs AS avgdl
       |      FROM b, s)
       |SELECT doc_id, dl, ${Bm25Terms.indices.map(i => s"tf$i").mkString(", ")},
       |  round($termExprs, 6) AS bm25
       |FROM w ORDER BY doc_id ASC""".stripMargin
  }

  /** Mirrors [[ZOrder.mortonCode]]'s grid + magic-mask spread with
    * lateral column aliases; all-integer after the one double
    * normalization, fully parenthesized (engine precedence-proof). */
  private val zorderSql: String = {
    val masks = Seq(
      (16, 281470681808895L), (8, 71777214294589695L),
      (4, 1085102592571150095L), (2, 3689348814741910323L),
      (1, 6148914691236517205L))
    def spreadCols(in: String, p: String): String =
      masks.zipWithIndex.map { case ((sh, m), j) =>
        val prev = if (j == 0) in else s"$p${j}"
        s"(($prev | ($prev << $sh)) & $m) AS $p${j + 1}"
      }.mkString(",\n  ")
    def grid(c: String, lo: String, hi: String): String =
      s"least(CAST(floor((CASE WHEN $hi - $lo > 0 THEN (CAST($c AS DOUBLE) - $lo) / ($hi - $lo) ELSE 0.0 END) * 2097151) AS BIGINT), 2097151)"
    s"""WITH bnd AS (SELECT CAST(MIN(l_partkey) AS DOUBLE) AS amin,
       |    CAST(MAX(l_partkey) AS DOUBLE) AS amax,
       |    CAST(MIN(l_suppkey) AS DOUBLE) AS bmin,
       |    CAST(MAX(l_suppkey) AS DOUBLE) AS bmax FROM lineitem),
       |g AS (SELECT l_orderkey, l_linenumber,
       |  ${grid("l_partkey", "amin", "amax")} AS ga,
       |  ${grid("l_suppkey", "bmin", "bmax")} AS gb
       |  FROM lineitem, bnd),
       |z AS (SELECT l_orderkey, l_linenumber,
       |  ${spreadCols("ga", "va")},
       |  ${spreadCols("gb", "vb")}
       |  FROM g)
       |SELECT l_orderkey, l_linenumber, (va5 | (vb5 << 1)) AS zcode
       |FROM z ORDER BY l_orderkey ASC, l_linenumber ASC, zcode ASC""".stripMargin
  }

  private def dotSql(a: String, b: String) = CorpusQueries.dotSql(a, b)

  private val vecLblCte: String =
    s"""WITH v AS (SELECT vec_id, label, embedding,
       |  sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |FROM embeddings)""".stripMargin

  private def pairCos: String =
    s"round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 10)"

  private val hardNegativesSql: String =
    s"""$vecLblCte
       |SELECT a.vec_id AS query_id, a.label AS query_label,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |    ORDER BY $pairCos DESC, b.vec_id ASC) AS INTEGER) AS rank,
       |  b.vec_id AS neighbor_id, b.label AS neighbor_label,
       |  $pairCos AS cosine
       |FROM v a JOIN v b
       |  ON a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id AND a.label <> b.label
       |QUALIFY rank <= $HardNegK
       |ORDER BY query_id ASC, rank ASC""".stripMargin

  private val labelNoiseSql: String =
    s"""$vecLblCte,
       |knn AS (SELECT a.vec_id AS query_id, a.label AS own_label,
       |          b.label AS neighbor_label
       |        FROM v a JOIN v b
       |          ON a.vec_id % 10 = 0 AND a.vec_id <> b.vec_id
       |        QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |          ORDER BY $pairCos DESC, b.vec_id ASC) <= $NoiseK),
       |votes AS (SELECT query_id, own_label, neighbor_label,
       |            COUNT(*) AS votes
       |          FROM knn GROUP BY 1, 2, 3)
       |SELECT query_id, own_label, neighbor_label AS knn_label, votes,
       |       (own_label <> neighbor_label) AS suspect
       |FROM votes
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |  ORDER BY votes DESC, neighbor_label ASC) = 1
       |ORDER BY query_id ASC""".stripMargin

  private val collocationsSql: String =
    s"""WITH tok AS (SELECT string_split(text, ' ') AS toks FROM documents
       |             WHERE len(string_split(text, ' ')) >= 2),
       |bg AS (SELECT toks[i::INTEGER] AS w1, toks[(i + 1)::INTEGER] AS w2
       |       FROM tok, UNNEST(range(1, len(toks))) AS u(i)),
       |cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
       |c1t AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
       |c2t AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM cb GROUP BY 1),
       |n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_bg FROM cb)
       |SELECT w1, w2, c12,
       |       round(ln((c12 * n_bg) / (c1 * c2)), 6) AS pmi
       |FROM cb JOIN c1t USING (w1) JOIN c2t USING (w2) CROSS JOIN n
       |WHERE c12 >= $PmiMinCount
       |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT $PmiTopK""".stripMargin

  private val negSampleSql: String =
    s"""WITH pos AS (SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
       |             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |n AS (SELECT COUNT(*) AS n_items FROM part),
       |cand AS (SELECT user_id, CAST(u.i AS INTEGER) AS draw,
       |           (user_id * 2654435761 + u.i * 40503) % n_items + 1 AS item_id
       |         FROM (SELECT DISTINCT user_id FROM pos), n,
       |              UNNEST(range(1, ${NegDraws + 1})) AS u(i)),
       |neg AS (SELECT c.user_id, c.item_id, MIN(c.draw) AS draw
       |        FROM cand c
       |        WHERE NOT EXISTS (SELECT 1 FROM pos p
       |          WHERE p.user_id = c.user_id AND p.item_id = c.item_id)
       |        GROUP BY 1, 2)
       |SELECT user_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY draw ASC, item_id ASC) AS INTEGER) AS neg_idx,
       |  draw, item_id
       |FROM neg QUALIFY neg_idx <= $NegK
       |ORDER BY user_id ASC, neg_idx ASC""".stripMargin

  private val featureHashSql: String =
    """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
      |             FROM documents),
      |h AS (SELECT doc_id, md5('fh:' || t) AS hx FROM tok),
      |s AS (SELECT doc_id, substr(hx, 1, 2) AS bucket,
      |        CASE WHEN substr(hx, 3, 1) < '8' THEN 1 ELSE -1 END AS sign
      |      FROM h)
      |SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS weight,
      |       COUNT(*) AS n_tokens
      |FROM s GROUP BY 1, 2 ORDER BY doc_id ASC, bucket ASC""".stripMargin

  private val chunkSql: String = {
    val (w, s) = (ChunkW, ChunkS)
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |             len(string_split(text, ' ')) AS n FROM documents),
       |c AS (SELECT doc_id, toks, n,
       |        (greatest(n - $w, 0) + ${s - 1}) // $s + 1 AS n_chunks FROM t),
       |e AS (SELECT doc_id, toks, n, CAST(u.i AS INTEGER) AS chunk_idx
       |      FROM c, UNNEST(range(0, n_chunks)) AS u(i))
       |SELECT doc_id, chunk_idx,
       |  CAST(chunk_idx * $s + 1 AS INTEGER) AS start_tok,
       |  CAST(least(chunk_idx * $s + $w, n) AS INTEGER) AS end_tok,
       |  CAST(least(chunk_idx * $s + $w, n) - (chunk_idx * $s + 1) + 1
       |       AS INTEGER) AS n_tokens,
       |  md5(array_to_string(
       |    toks[(chunk_idx * $s + 1)::INTEGER
       |         : (least(chunk_idx * $s + $w, n))::INTEGER], ' ')) AS chunk_md5
       |FROM e ORDER BY doc_id ASC, chunk_idx ASC""".stripMargin
  }

  private val aggMergeSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag ASC""".stripMargin

  private val clusterCanonicalSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a, b FROM (
       |${CorpusQueries.minhashPairsBody}
       |  ) mh
       |),
       |und AS (SELECT a AS x, b AS y FROM pairs
       |        UNION ALL SELECT b, a FROM pairs),
       |reach(node, lab) AS (
       |  SELECT x, x FROM (SELECT DISTINCT x FROM und) n
       |  UNION
       |  SELECT u.x, r.lab FROM reach r JOIN und u ON u.y = r.node
       |),
       |comp AS (SELECT node AS doc_id, MIN(lab) AS cluster
       |         FROM reach GROUP BY node),
       |lbl AS (SELECT d.doc_id, d.n_chars,
       |          COALESCE(c.cluster, d.doc_id) AS cluster
       |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
       |rep AS (SELECT cluster, doc_id AS rep_doc_id FROM lbl
       |        QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
       |          ORDER BY n_chars DESC, doc_id ASC) = 1)
       |SELECT l.doc_id, l.cluster, r.rep_doc_id,
       |       (l.doc_id = r.rep_doc_id) AS kept
       |FROM lbl l JOIN rep r ON l.cluster = r.cluster
       |ORDER BY l.doc_id ASC""".stripMargin

  private val qualityCalibrationSql: String = {
    val stop = graft.text.TextOps.allStopwords
      .map(s => s"'$s'").mkString("(", ", ", ")")
    s"""WITH pairs AS (
       |  SELECT a, b FROM (
       |${CorpusQueries.minhashPairsBody}
       |  ) mh
       |),
       |dup AS (SELECT DISTINCT doc_id FROM
       |        (SELECT a AS doc_id FROM pairs UNION ALL SELECT b FROM pairs)),
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id,
       |        round((len(list_distinct(toks)) / len(toks)) * 0.6
       |              + (1.0 - len(list_filter(toks, x -> x IN $stop))
       |                       / len(toks)) * 0.4, 6) AS quality
       |      FROM t),
       |r AS (SELECT doc_id, quality,
       |        CAST(ntile(10) OVER (ORDER BY quality ASC, doc_id ASC)
       |          AS INTEGER) AS decile
       |      FROM s)
       |SELECT decile, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_dup,
       |       round(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |             / COUNT(*), 6) AS dup_rate
       |FROM r LEFT JOIN dup ON r.doc_id = dup.doc_id
       |GROUP BY decile ORDER BY decile ASC""".stripMargin
  }

  private val contrastiveSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a, b FROM (
       |${CorpusQueries.minhashPairsBody}
       |  ) mh
       |),
       |und AS (SELECT a AS x, b AS y FROM pairs
       |        UNION ALL SELECT b, a FROM pairs),
       |reach(node, lab) AS (
       |  SELECT x, x FROM (SELECT DISTINCT x FROM und) n
       |  UNION
       |  SELECT u.x, r.lab FROM reach r JOIN und u ON u.y = r.node
       |),
       |comp AS (SELECT node AS doc_id, MIN(lab) AS cluster
       |         FROM reach GROUP BY node),
       |cl AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
       |       FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
       |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
       |pos AS (SELECT x.doc_id AS anchor, y.doc_id AS positive, x.cluster
       |        FROM cl x JOIN cl y ON x.cluster = y.cluster
       |          AND x.doc_id < y.doc_id),
       |dr AS (SELECT anchor, positive, cluster, u.d,
       |         (anchor * $CtrMixA + positive * $CtrMixB + u.d * $CtrMixC)
       |           % n_docs AS cand
       |       FROM pos, nn, UNNEST(range(1, ${ContrastiveDraws + 1})) AS u(d)),
       |neg AS (SELECT anchor, positive, arg_min(cand, d) AS negative
       |        FROM dr JOIN cl ON dr.cand = cl.doc_id
       |        WHERE cl.cluster <> dr.cluster
       |        GROUP BY anchor, positive)
       |SELECT anchor, positive, negative FROM neg
       |ORDER BY anchor ASC, positive ASC""".stripMargin

  private val entropySql: String =
    """WITH tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS t
      |             FROM documents),
      |cnt AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot,
      |          COUNT(*) AS n_types FROM cnt GROUP BY 1),
      |term AS (SELECT c.source, t.tot, t.n_types,
      |           CAST(round((c.c / t.tot) * ln(c.c / t.tot), 9)
      |                AS DECIMAL(20,9)) AS term
      |         FROM cnt c JOIN tot t ON c.source = t.source)
      |SELECT source, tot AS n_tokens, n_types,
      |       round(-CAST(SUM(term) AS DOUBLE), 6) AS entropy
      |FROM term GROUP BY source, tot, n_types
      |ORDER BY source ASC""".stripMargin

  private val tokenBudgetSql: String =
    s"""WITH t AS (SELECT source,
       |             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
       |               AS n_tokens
       |           FROM documents GROUP BY 1),
       |s AS (SELECT source, n_tokens,
       |        CAST(round(sqrt(n_tokens), 9) AS DECIMAL(20,9)) AS sq FROM t),
       |tot AS (SELECT SUM(sq) AS sq_tot FROM s),
       |w AS (SELECT source, n_tokens,
       |        CAST(sq AS DOUBLE) / CAST(sq_tot AS DOUBLE) * $MixBudget
       |          AS share
       |      FROM s, tot),
       |b AS (SELECT source, n_tokens,
       |        CAST(floor(share) AS BIGINT) AS base,
       |        round(share - CAST(floor(share) AS BIGINT), 9) AS frac FROM w),
       |l AS (SELECT *, $MixBudget - SUM(base) OVER () AS leftover,
       |        ROW_NUMBER() OVER (ORDER BY frac DESC, source ASC) AS rk
       |      FROM b)
       |SELECT source, n_tokens,
       |       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
       |            AS BIGINT) AS quota
       |FROM l ORDER BY source ASC""".stripMargin

  private val curriculumSql: String =
    """WITH t AS (SELECT doc_id, n_chars,
      |             CAST(ntile(4) OVER (ORDER BY n_chars ASC, doc_id ASC)
      |                  AS INTEGER) AS tier
      |           FROM documents),
      |p AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY tier
      |        ORDER BY n_chars ASC, doc_id ASC) AS INTEGER) AS pos FROM t)
      |SELECT doc_id, n_chars, tier, pos,
      |  CAST(ROW_NUMBER() OVER (ORDER BY pos ASC, tier ASC, doc_id ASC)
      |       AS INTEGER) AS training_rank
      |FROM p ORDER BY doc_id ASC""".stripMargin

  private val anomalySql: String =
    s"""WITH e AS (SELECT event_id, event_type AS platform, value,
       |             CAST(round(value * 100, 0) AS BIGINT) AS c
       |           FROM events),
       |s AS (SELECT platform, COUNT(*) AS n,
       |        CAST(SUM(c) AS BIGINT) AS sum_c,
       |        CAST(SUM(c * c) AS BIGINT) AS sumsq_c
       |      FROM e GROUP BY 1),
       |m AS (SELECT platform, n,
       |        CAST(sum_c AS DOUBLE) / n AS mean_c,
       |        (CAST(sumsq_c AS DOUBLE)
       |          - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n) / n
       |          AS var_c
       |      FROM s)
       |SELECT e.event_id, e.platform, e.value,
       |       round((e.c - m.mean_c) / sqrt(m.var_c), 6) AS z
       |FROM e JOIN m ON e.platform = m.platform
       |WHERE m.var_c > 0
       |ORDER BY abs(z) DESC, event_id ASC LIMIT $AnomalyTopK""".stripMargin

  private val containmentSql: String =
    s"""${CorpusQueries.shingleCtes(CorpusQueries.ShingleN)},
       |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |cm AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_common
       |       FROM sh x JOIN sh y
       |         ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |       GROUP BY 1, 2),
       |j AS (SELECT a, b, n_common,
       |        round(n_common / sa.n_sh, 6) AS cont_ab,
       |        round(n_common / sb.n_sh, 6) AS cont_ba
       |      FROM cm JOIN sz sa ON cm.a = sa.doc_id
       |                JOIN sz sb ON cm.b = sb.doc_id)
       |SELECT a, b, n_common, cont_ab, cont_ba FROM j
       |WHERE greatest(cont_ab, cont_ba) >= $ContainmentThreshold
       |ORDER BY a ASC, b ASC""".stripMargin

  private val dedupStatsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a, b FROM (
       |${CorpusQueries.minhashPairsBody}
       |  ) mh
       |),
       |und AS (SELECT a AS x, b AS y FROM pairs
       |        UNION ALL SELECT b, a FROM pairs),
       |reach(node, lab) AS (
       |  SELECT x, x FROM (SELECT DISTINCT x FROM und) n
       |  UNION
       |  SELECT u.x, r.lab FROM reach r JOIN und u ON u.y = r.node
       |),
       |comp AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node),
       |sizes AS (SELECT label, COUNT(*) AS cluster_size FROM comp GROUP BY 1),
       |hist AS (SELECT cluster_size, COUNT(*) AS n_clusters
       |         FROM sizes GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS n_docs FROM documents),
       |incl AS (SELECT COALESCE(CAST(SUM(cluster_size) AS BIGINT), 0)
       |           AS in_clusters FROM sizes)
       |SELECT CAST(1 AS BIGINT) AS cluster_size,
       |       CAST(t.n_docs - i.in_clusters AS BIGINT) AS n_clusters
       |FROM tot t, incl i
       |UNION ALL
       |SELECT cluster_size, n_clusters FROM hist
       |ORDER BY cluster_size ASC""".stripMargin

  private val winsorizeSql: String =
    """WITH e AS (SELECT event_id, event_type AS platform,
      |             CAST(round(value * 100, 0) AS BIGINT) AS c
      |           FROM events),
      |r AS (SELECT *,
      |        ROW_NUMBER() OVER (PARTITION BY platform
      |          ORDER BY c ASC, event_id ASC) AS rk,
      |        COUNT(*) OVER (PARTITION BY platform) AS n
      |      FROM e),
      |b AS (SELECT platform,
      |        MIN(CASE WHEN rk = (n * 5 + 99) // 100 THEN c END) AS lo_c,
      |        MIN(CASE WHEN rk = (n * 95 + 99) // 100 THEN c END) AS hi_c
      |      FROM r GROUP BY 1)
      |SELECT e.platform AS platform, COUNT(*) AS n, b.lo_c, b.hi_c,
      |  CAST(SUM(CASE WHEN e.c < b.lo_c THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low,
      |  CAST(SUM(CASE WHEN e.c > b.hi_c THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_high,
      |  CAST(SUM(least(greatest(e.c, b.lo_c), b.hi_c)) AS BIGINT)
      |    AS sum_clipped_c
      |FROM e JOIN b ON e.platform = b.platform
      |GROUP BY 1, 3, 4 ORDER BY platform ASC""".stripMargin

  private val weightedSampleSql: String =
    s"""WITH s AS (SELECT doc_id, source, n_chars,
       |    (CAST((doc_id * $WsMixA + $WsMixB) % $WsMod AS DOUBLE) + 0.5)
       |      / CAST($WsMod AS DOUBLE) AS u
       |  FROM documents),
       |k AS (SELECT doc_id, source, n_chars,
       |    round(ln(u) / greatest(n_chars, 1), 12) AS es_key FROM s),
       |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY es_key DESC, doc_id ASC) AS INTEGER) AS pick FROM k)
       |SELECT source, pick, doc_id, n_chars, es_key FROM r
       |WHERE pick <= $WsK ORDER BY source ASC, pick ASC""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_weighted_sample" -> weightedSampleSql,
    "q_winsorize" -> winsorizeSql,
    "q_containment" -> containmentSql,
    // the prefix twin computes the SAME function — one oracle, two plans
    "q_containment_prefix" -> containmentSql,
    "q_dedup_stats" -> dedupStatsSql,
    "q_anomaly" -> anomalySql,
    "q_token_budget" -> tokenBudgetSql,
    "q_curriculum" -> curriculumSql,
    "q_entropy" -> entropySql,
    "q_cluster_canonical" -> clusterCanonicalSql,
    "q_contrastive" -> contrastiveSql,
    "q_quality_calibration" -> qualityCalibrationSql,
    "q_chunk" -> chunkSql,
    "q_agg_merge" -> aggMergeSql,
    "q_feature_hash" -> featureHashSql,
    "q_neg_sample" -> negSampleSql,
    "q_collocations" -> collocationsSql,
    "q_hard_negatives" -> hardNegativesSql,
    "q_label_noise" -> labelNoiseSql,
    "q_fuzzy_join" -> fuzzyJoinSql,
    "q_sorted_neighborhood" ->
      s"""WITH r AS (SELECT c_name,
         |  ROW_NUMBER() OVER (ORDER BY c_name ASC, c_custkey ASC) AS rn
         |  FROM customer)
         |SELECT a.c_name AS name_a, b.c_name AS name_b,
         |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + $SnWindow
         |WHERE levenshtein(a.c_name, b.c_name) <= 1
         |ORDER BY name_a ASC, name_b ASC""".stripMargin,
    "q_pack_sequences" -> packSequencesSql,
    "q_upsample" -> upsampleSql,
    "q_rand_proj" -> randProjSql,
    "q_profile" -> profileSql,
    "q_pagerank" -> pagerankSql,
    "q_pagerank_warmstart" -> pagerankWarmstartSql,
    "q_bm25" -> bm25Sql,
    // scoring against merged daily partials computes the same function
    "q_bm25_incremental" -> bm25Sql,
    "q_zorder" -> zorderSql,
  )
}
