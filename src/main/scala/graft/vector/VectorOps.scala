package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Numeric determinism (load-bearing for the DuckDB oracle): every
  * dot product is the SAME sequential left-fold over
  * element-wise double products — `aggregate(zip_with(cast, cast, ·),
  * 0.0, +)` here, `list_reduce(list_prepend(0.0, list_transform(...)),
  * +)` in the oracle — so both engines produce bit-identical IEEE
  * doubles, not merely close ones. Outputs are still rounded (1e-10)
  * at the boundary as a guard.
  *
  * Scale (100 TB of vectors): norms are computed once per vector
  * (map-only) and carried; brute force is O(Q·N) with Q a small
  * broadcast query set; LSH turns the candidate set into same-bucket
  * vectors only (shuffle on the signature), the standard
  * sublinear-recall trade. A real deployment would add IVF
  * (k-means-partitioned) re-using the same kernels.
  */
object VectorOps {

  /** Deterministic pseudo-random hyperplanes from a 64-bit LCG; each
    * coefficient is k/1000 with k ∈ [-1000, 1000], so its decimal
    * literal parses to the exact same double in any engine. */
  def hyperplanes(seed: Long, planes: Int, dim: Int): Seq[Seq[Double]] = {
    var x = seed
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    Seq.fill(planes)(Seq.fill(dim)((math.floorMod(next() >>> 33, 2001L) - 1000L) / 1000.0))
  }

  /** Sequential-fold dot product via the native codegen expression
    * [[graft.functions.DotProductExpr]] — bit-identical to the lambda
    * fold `aggregate(zip_with(cast·mul), 0.0, +)` (same index order,
    * same double casts, same left accumulation) but compiled to a
    * tight loop instead of per-element interpreted lambdas. A dim-
    * unrolled Add tree was also tried and is ~2× slower than even the
    * lambda (codegen method-limit fallback). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Vectors with their norm precomputed once (map-only), renamed for
    * side-specific joins. */
  private def sided(vecs: DataFrame, side: String): DataFrame =
    vecs.select(
      col("vec_id").as(s"${side}_id"),
      col("embedding").as(s"${side}_emb"),
      l2norm(col("embedding")).as(s"${side}_norm"))

  /** Ensure the STREAMED side of an n²-ish join uses every core: a
    * small single-file collection scans as one partition, and a
    * broadcast/nested-loop join inherits the streamed side's
    * partitioning — without this the whole pairwise compute can land
    * on a single task. No-op when the input is already parallel
    * (a 100 TB collection has thousands of partitions; forcing a
    * repartition there would be a pointless full shuffle). */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Brute-force cosine top-k: exact kNN of each query vector over
    * the whole collection (the baseline ANN is judged against).
    * Queries broadcast; candidates stream into the custom partial
    * top-k operator ([[graft.plans.TopK]]) — only k rows per (query,
    * partition) ever reach the exchange, vs the window form sorting
    * every scored pair. */
  def bruteForceTopK(vecs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = sided(queries, "q")
    val c = spread(sided(vecs, "c"))
    val scored = broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .select(
        col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 10)
          .as("cosine"))
    graft.plans.TopK.perGroup(scored, Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Exact nearest neighbor for EVERY vector (n² baseline — the
    * all-pairs form LSH/IVF exists to avoid at scale). Top-1 per
    * query is a `max_by` hash aggregation, not a window: partial
    * aggregation folds the n² pair stream map-side, so the shuffle
    * carries one row per (query, partition) instead of sorting all
    * n² rows by query. The ordering key (cosine, −neighbor_id) is a
    * total order — ties on rounded cosine break to the SMALLEST
    * neighbor id — matching the window/QUALIFY form bit-for-bit. */
  def allNearestNeighbor(vecs: DataFrame): DataFrame = {
    val a = spread(sided(vecs, "q"))
    val b = sided(vecs, "c")
    a.join(b, col("q_id") =!= col("c_id"))
      .select(
        col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 10)
          .as("cosine"))
      .groupBy("query_id")
      .agg(max_by(
        struct(col("neighbor_id"), col("cosine")),
        struct(col("cosine"), (-col("neighbor_id")).as("inv_id"))).as("best"))
      .select(col("query_id"), col("best.neighbor_id"), col("best.cosine"))
  }

  /** Near-duplicate pairs by cosine threshold (a < b once). The
    * streamed side is explicitly spread over the cluster: a small
    * single-file collection reads as ONE partition, and a nested-loop
    * inequality join inherits the streamed side's partitioning — so
    * without the repartition the whole n² compute can land on a
    * single task. */
  def nearDupPairs(vecs: DataFrame, threshold: Double): DataFrame = {
    val a = spread(sided(vecs, "q"))
    val b = sided(vecs, "c")
    a.join(b, col("q_id") < col("c_id"))
      .select(
        col("q_id").as("a"), col("c_id").as("b"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 10)
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** LSH-bucketed near-duplicate pairs: the registered SCALE PATH for
    * [[nearDupPairs]] — candidate pairs share a full random-hyperplane
    * signature in at least one table (bucket equi-join, never the n²
    * cross product), then exact cosine verifies against the
    * threshold. Same exactness-per-candidate as the baseline; recall
    * over pairs ≈ 1−(1−p^planes)^tables for per-bit agreement p, so
    * near-dup thresholds want FEW planes and MANY tables (the
    * opposite corner from top-k ANN). */
  def nearDupPairsLsh(vecs: DataFrame, tables: Seq[Seq[Seq[Double]]], threshold: Double): DataFrame = {
    // candidate generation on (id, table, sig) ONLY — embedding arrays
    // must not ride through the pair join + dedup shuffle (at 64
    // floats a side they dominate the exchange; the ids are 16 bytes)
    val sigs = array(tables.map(t => signature(col("embedding"), t)): _*)
    // materialize the (id, table, sig) rows once: they sit on BOTH
    // sides of the self-join, and the signature expression (tables ×
    // planes hyperplane dots over the embedding array) would
    // otherwise evaluate twice per vector — the dominant CPU of the
    // bucketing pass. Tiny frame (|V| × tables short rows).
    val ids = graft.operators.CheckpointBlocks.local(
      vecs.select(col("vec_id"), posexplode(sigs).as(Seq("table_idx", "sig"))))
    val candIds = ids.as("x")
      .join(ids.as("y"),
        col("x.table_idx") === col("y.table_idx") &&
          col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .dropDuplicates("a", "b")
    // re-attach vectors for the exact verify (AQE broadcasts the
    // vector side when small; at scale it is a key join of bounded
    // candidate pairs, still never the n² cross product)
    candIds
      .join(sided(vecs, "qa").withColumnRenamed("qa_id", "a"), "a")
      .join(sided(vecs, "qb").withColumnRenamed("qb_id", "b"), "b")
      .select(
        col("a"), col("b"),
        round(dot(col("qa_emb"), col("qb_emb")) / (col("qa_norm") * col("qb_norm")), 10)
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Random-projection dimensionality reduction: project each
    * embedding onto `planes` fixed pseudo-random directions
    * (Johnson–Lindenstrauss sketch — the cheap pre-step before
    * clustering/ANN when the source dimension is large). Map-only,
    * one codegen'd fold per output dim; outputs rounded (1e-10) at
    * the boundary like every cosine in this module. */
  def project(vecs: DataFrame, planes: Seq[Seq[Double]]): DataFrame =
    vecs.select(
      col("vec_id") +: planes.zipWithIndex.map { case (p, i) =>
        round(dot(col("embedding"), typedLit(p)), 10).as(s"p$i")
      }: _*)

  private def sidedLabeled(vecs: DataFrame, side: String): DataFrame =
    vecs.select(
      col("vec_id").as(s"${side}_id"),
      col("embedding").as(s"${side}_emb"),
      l2norm(col("embedding")).as(s"${side}_norm"),
      col("label").as(s"${side}_label"))

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar vectors carrying a DIFFERENT
    * label — the pairs that teach a metric-learning model the most.
    * Same shape as [[bruteForceTopK]] (broadcast queries, partial
    * top-k heaps pre-exchange); the label inequality rides the join
    * condition so rejected candidates never reach the heap. */
  def hardNegatives(vecs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = sidedLabeled(queries, "q")
    val c = spread(sidedLabeled(vecs, "c"))
    val scored = broadcast(q)
      .join(c, col("q_id") =!= col("c_id") &&
        col("q_label") =!= col("c_label"))
      .select(
        col("q_id").as("query_id"), col("q_label").as("query_label"),
        col("c_id").as("neighbor_id"), col("c_label").as("neighbor_label"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 10)
          .as("cosine"))
    graft.plans.TopK.perGroup(scored, Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), k)
      .select("query_id", "query_label", "rank",
        "neighbor_id", "neighbor_label", "cosine")
  }

  /** kNN label-noise detection (confident-learning shape): each query
    * vector's label is checked against the majority label of its k
    * exact nearest neighbors; a mismatch flags a suspect annotation.
    * Vote counting is pure integer logic — `max_by` over
    * (votes, −label) breaks ties toward the SMALLEST label — so the
    * result is deterministic under any partitioning, unlike a
    * float-averaged score. */
  def knnLabelNoise(vecs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val knn = {
      val q = sidedLabeled(queries, "q")
      val c = spread(sidedLabeled(vecs, "c"))
      val scored = broadcast(q).join(c, col("q_id") =!= col("c_id"))
        .select(
          col("q_id").as("query_id"), col("q_label").as("own_label"),
          col("c_id").as("neighbor_id"), col("c_label").as("neighbor_label"),
          round(dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 10)
            .as("cosine"))
      graft.plans.TopK.perGroup(scored, Seq("query_id"),
        Seq(("cosine", false), ("neighbor_id", true)), k)
    }
    knn
      .groupBy(col("query_id"), col("own_label"), col("neighbor_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"), col("own_label"))
      .agg(max_by(
        struct(col("neighbor_label"), col("votes")),
        struct(col("votes"), (-col("neighbor_label")).as("inv"))).as("top"))
      .select(
        col("query_id"), col("own_label"),
        col("top.neighbor_label").as("knn_label"),
        col("top.votes").as("votes"),
        (col("own_label") =!= col("top.neighbor_label")).as("suspect"))
  }

  /** Random-hyperplane signature: one bit per plane, '1' iff
    * dot(v, plane) ≥ 0 — cosine-LSH (Charikar). */
  def signature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.map(p =>
      when(dot(vec, typedLit(p)) >= 0, lit("1")).otherwise(lit("0")))
      .reduce(concat(_, _))

  /** L independent hash tables of `planes` hyperplanes each (the
    * standard recall amplifier: candidate iff ANY table's full
    * signature matches). */
  def hyperplaneTables(seed: Long, tables: Int, planes: Int, dim: Int): Seq[Seq[Seq[Double]]] =
    (0 until tables).map(t => hyperplanes(seed + 1000L * t, planes, dim))

  /** All Hamming-1 variants of a bit-string signature: the base plus
    * each single-bit flip — multi-probe LSH's probe sequence. */
  private def withBitFlips(sig: Column, bits: Int): Column = {
    val flips = (1 to bits).map { i =>
      concat(
        substring(sig, 1, i - 1),
        when(substring(sig, i, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(sig, i + 1, bits - i))
    }
    array(sig +: flips: _*)
  }

  /** Multi-table LSH ANN: candidates = vectors sharing a full
    * signature in at least one table; exact cosine ranks the
    * candidate set. Recall ≈ 1−(1−p^b)^L for per-bit agreement p —
    * tune (tables, planes) to the target recall/candidate-size
    * trade; candidates-only, never the n² cross product. */
  def lshTopK(vecs: DataFrame, queries: DataFrame, tables: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    def bucketRows(df: DataFrame, side: String): DataFrame = {
      val sigs = array(tables.map(t => signature(col(s"${side}_emb"), t)): _*)
      df.select(col(s"${side}_id"), col(s"${side}_emb"), col(s"${side}_norm"),
        posexplode(sigs).as(Seq("table_idx", "sig")))
    }
    val q = bucketRows(sided(queries, "q"), "q")
    val c = bucketRows(sided(vecs, "c"), "c")
    val scored = broadcast(q).join(c, Seq("table_idx", "sig"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("q_emb"), col("c_emb"),
        col("q_norm"), col("c_norm"))
      .dropDuplicates("q_id", "c_id")
      .select(
        col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 10)
          .as("cosine"))
    graft.plans.TopK.perGroup(scored, Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Multi-probe LSH ANN (Hamming-1 probing): the QUERY side probes
    * its bucket plus every one-bit-flip bucket per table — per-table
    * hit probability rises from p^b to p^b + b·p^(b-1)(1−p) — so the
    * same recall needs FEWER tables, i.e. a smaller index. The
    * collection index is untouched (base signatures only); the extra
    * cost is b+1 probe rows per query row, which is the multi-probe
    * trade: probes are nearly free, tables cost index memory. */
  def lshTopKMultiProbe(vecs: DataFrame, queries: DataFrame, tables: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    val bits = tables.head.length
    val probeSigs = array(tables.map(t =>
      withBitFlips(signature(col("q_emb"), t), bits)): _*)
    val q = sided(queries, "q")
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        posexplode(probeSigs).as(Seq("table_idx", "probes")))
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("table_idx"),
        explode(col("probes")).as("sig"))
    val sigs = array(tables.map(t => signature(col("c_emb"), t)): _*)
    val c = sided(vecs, "c")
      .select(col("c_id"), col("c_emb"), col("c_norm"),
        posexplode(sigs).as(Seq("table_idx", "sig")))
    val scored = broadcast(q).join(c, Seq("table_idx", "sig"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("q_emb"), col("c_emb"),
        col("q_norm"), col("c_norm"))
      .dropDuplicates("q_id", "c_id")
      .select(
        col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")), 10)
          .as("cosine"))
    graft.plans.TopK.perGroup(scored, Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }
}
