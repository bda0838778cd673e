package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-corpus operators for large-scale training-data pipelines:
  * tokenization, token/quality statistics, language ID, document
  * fingerprinting, and the deduplication family (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash).
  *
  * Everything here is pure `org.apache.spark.sql.functions` —
  * higher-order array functions, no UDFs — so plans stay codegen- and
  * pushdown-friendly and the same computation is expressible as the
  * DuckDB oracle SQL (see [[graft.queries.CorpusQueries]]).
  *
  * Determinism across engines is load-bearing for the oracle gate:
  *  - hashes are md5 hex strings (identical in any engine), and
  *    MinHash takes the lexicographic MIN of salted md5s — no
  *    engine-specific integer hash anywhere;
  *  - ratio outputs are IEEE double ops in a fixed expression shape,
  *    rounded at the output boundary only.
  *
  * Scale (100 TB): token/shingle/signature computation is map-only
  * (one pass, no shuffle). LSH candidate generation shuffles on
  * (band_idx, band_hash) — bounded by bucket sizes, with the band
  * count tuned to the similarity threshold — and exact verification
  * touches candidate pairs only, never the n² cross product. The
  * exact n-gram join ([[ngramJaccardPairs]]) is the small-scale
  * oracle baseline; MinHash is the scale path.
  */
object TextOps {

  /** Default pigeonhole width for the prefix containment join: the
    * measured sweet spot at t = 0.7 (j=2 left 6.2k candidate pairs,
    * j=3 409, j=4 258 against 256 true pairs at sf0.1). */
  val ContainmentPigeonJ = 3

  /** Corpus is single-space tokenized; a general corpus would split
    * on `\s+`. */
  def withTokens(docs: DataFrame): DataFrame =
    docs.withColumn("tokens", split(col("text"), " "))

  /** BPE-ish regex tokenization: letter runs, digit runs, single
    * non-space symbols (a deterministic stand-in for a real
    * subword tokenizer's pre-tokenization). */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  // ---- token & quality statistics ----------------------------------

  /** Token counting + length stats per document (map-only). */
  def tokenStats(docs: DataFrame): DataFrame =
    withTokens(docs).select(
      col("doc_id"),
      // bigint: counter columns match DuckDB len() output type exactly
      size(col("tokens")).cast("bigint").as("n_tokens"),
      size(array_distinct(col("tokens"))).cast("bigint").as("n_uniq"),
      size(regexp_extract_all(col("text"), lit(bpeishPattern), lit(0)))
        .cast("bigint").as("n_bpe"),
      round(
        aggregate(col("tokens"), lit(0L), (acc, t) => acc + length(t))
          / size(col("tokens")), 6).as("mean_token_len"))

  /** Per-(doc, n-gram) occurrence counts: one explode over the token
    * stream, one partial-aggregated shuffle on doc_id — the grams
    * themselves never leave their reducer. */
  private def gramCounts(tok: DataFrame, n: Int): DataFrame =
    tok.where(size(col("tokens")) >= n)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), size(col("tokens")) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(col("tokens"), i + lit(j))): _*)))
          .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))

  /** Gopher-style repetition filters (Rae et al. 2021, arXiv:
    * 2112.11446 table A1), adapted from character to token fractions:
    * most-frequent unigram/bigram coverage and the fraction of tokens
    * inside duplicated (count ≥ 2) trigrams. `keep` applies the
    * thresholds; the metrics stay in the output so downstream curation
    * can re-gate without recomputing. Overlapping-gram coverage can
    * exceed 1, hence the `least(1.0, …)` clamp.
    *
    * Scale: three independent doc_id-partitioned aggregations over one
    * tokenized scan — no cross-document state, partial aggs map-side;
    * the per-doc joins co-partition on doc_id. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val tok = withTokens(docs)
      .select(col("doc_id"), col("tokens"),
        size(col("tokens")).cast("bigint").as("n_tokens"))
    val uni = gramCounts(tok, 1).groupBy("doc_id")
      .agg(max(col("cnt")).as("top1_cnt"))
    val bi = gramCounts(tok, 2).groupBy("doc_id")
      .agg(max(col("cnt")).as("top2_cnt"))
    val tri = gramCounts(tok, 3).groupBy("doc_id")
      .agg(sum(when(col("cnt") >= 2, col("cnt"))).as("dup3_cnt"))
    tok.select(col("doc_id"), col("n_tokens"))
      .join(uni, Seq("doc_id"), "left")
      .join(bi, Seq("doc_id"), "left")
      .join(tri, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("top1_cnt") / col("n_tokens"), 6).as("top_unigram_frac"),
        least(lit(1.0),
          round(lit(2.0) * coalesce(col("top2_cnt"), lit(0L)) / col("n_tokens"), 6))
          .as("top_bigram_frac"),
        least(lit(1.0),
          round(lit(3.0) * coalesce(col("dup3_cnt"), lit(0L)) / col("n_tokens"), 6))
          .as("dup_trigram_frac"))
      .withColumn("keep",
        col("top_unigram_frac") <= 0.15 &&
          col("top_bigram_frac") <= 0.12 &&
          col("dup_trigram_frac") <= 0.10)
  }

  /** Exact-substring duplication (Lee et al. 2021, arXiv:2107.06499,
    * the "ExactSubstr" dedup): any token window of length `w` that
    * occurs in MORE THAN ONE document marks its span duplicated; per
    * document, emit the duplicated-token count/fraction and the md5
    * of the text with duplicated spans stripped (the paper's remove-
    * the-substring policy, hashed so the output stays narrow).
    *
    * The single-machine method is a suffix array; the relational
    * form distributes: window hashes (md5, 32 bytes — the gram text
    * never shuffles) → count-distinct-docs ≥ 2 → explode only the
    * DUPLICATED windows back to positions. Linear in corpus tokens,
    * no pairwise comparison anywhere. */
  /** The (doc_id, i, h) token-window hash stream `exactSubstringDedup`
    * consumes — the distributed stand-in for the suffix array.
    * Deliberately NOT staged: at ~n_tokens rows the checkpoint
    * round-trip was MEASURED SLOWER than recomputing the fused
    * tokenize+hash per consumer subtree (4.3 vs 2.5 s at sf0.1),
    * the opposite result from the 5×-narrower [[segmentHashRows]]
    * stream, which stages to a 2× win. */
  def substrGramRows(docs: DataFrame, w: Int): DataFrame =
    withTokens(docs).where(size(col("tokens")) >= w)
      .select(col("doc_id"), col("tokens"),
        explode(sequence(lit(1), size(col("tokens")) - (w - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        md5(concat_ws(" ", slice(col("tokens"), col("i"), lit(w)))).as("h"))

  def exactSubstringDedup(docs: DataFrame, w: Int): DataFrame =
    exactSubstringDedupFromGrams(docs, substrGramRows(docs, w), w)

  def exactSubstringDedupFromGrams(docs: DataFrame, grams: DataFrame,
      w: Int): DataFrame = {
    val tok = withTokens(docs).select(col("doc_id"), col("tokens"),
      size(col("tokens")).cast("bigint").as("n_tokens"))
    val dup = grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select("h")
    val covered = grams.join(dup, "h")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (w - 1))).as("p"))
      .distinct()
    // per-doc covered positions as ONE aggregated list — the stripped
    // render is then a map-side indexed filter over the token array of
    // the joined row. The previous form posexploded EVERY document's
    // tokens (≈ corpus-token rows), anti-joined the covered positions,
    // and re-assembled each doc with array_sort∘collect_list — two
    // shuffles and a per-doc sort paid by ALL docs, though only docs
    // owning a duplicated window (~14% at sf0.01/0.1) need any
    // stripping: a doc with no covered position renders as its own
    // token join, computed inline. The in-lambda array_contains is
    // O(|dup_ps|) per token, but per-doc, map-side, and bounded by
    // document length — at 100 TB this keeps the render embarrassingly
    // parallel with zero extra shuffle (measured 2.410 → 1.817 s at
    // sf0.1, min-of-5, same-window A/B with matched box canaries —
    // PLANS.md r12).
    val coveredAgg = covered.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_tokens"),
        collect_list(col("p")).as("dup_ps"))
    tok.join(coveredAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        round(coalesce(col("n_dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_token_frac"),
        md5(concat_ws(" ",
          when(col("dup_ps").isNull, col("tokens"))
            .otherwise(filter(col("tokens"),
              (t, i) => !array_contains(col("dup_ps"), i + 1)))))
          .as("clean_md5"))
  }

  /** Language-ID stopword sets, in tie-break order. Tiny on purpose:
    * the operator is the n-gram/stopword voting mechanism, not a
    * linguistic resource. */
  val stopwordSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in", "is", "to"),
    "fr" -> Seq("le", "la", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "los", "de", "y", "es", "un", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "他"),
  )

  private def hits(set: Seq[String]): Column =
    size(filter(col("tokens"), t => t.isInCollection(set)))

  /** Heuristic language ID: stopword-set voting with a fixed
    * tie-break order; no hits at all ⇒ "und". */
  def langId(docs: DataFrame): DataFrame = {
    val scored = withTokens(docs)
      .select(
        col("doc_id") +: col("lang").as("actual") +:
          stopwordSets.map { case (l, s) => hits(s).as(s"s_$l") }: _*)
    val best = stopwordSets.map { case (l, _) => col(s"s_$l") }
      .reduce((a, b) => greatest(a, b))
    val pred = stopwordSets.foldRight(lit("und")) { case ((l, _), alt) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(alt)
    }
    // foldRight builds the when-chain in declaration order, so the
    // FIRST set reaching the max wins — mirror the same CASE order in
    // the oracle SQL
    scored
      .withColumn("predicted", pred)
      .withColumn("is_match", col("predicted") === col("actual"))
      .select("doc_id", "actual", "predicted", "is_match")
  }

  /** The language vote over a token-array column — the prediction
    * half of [[langId]] as one inline expression (same per-set hit
    * counts, same declaration-order tie-break, "und" on zero hits),
    * for streams and gates that carry no `lang` ground-truth column. */
  def langIdExpr(tokens: Column): Column = {
    def hitsIn(set: Seq[String]): Column =
      size(filter(tokens, t => t.isInCollection(set)))
    val scores = stopwordSets.map { case (l, s) => l -> hitsIn(s) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, sc), alt) =>
      when(sc === best && best > 0, lit(l)).otherwise(alt)
    }
  }

  /** All-language stopword union, for quality scoring. */
  val allStopwords: Seq[String] = stopwordSets.flatMap(_._2).distinct

  /** The blended quality score over a token-array column — exposed
    * separately so curation composites ([[qualityScore]], per-source
    * caps) share one formula. */
  def qualityExpr(tokens: Column): Column = {
    val stop = size(filter(tokens, t => t.isInCollection(allStopwords)))
    round(
      (size(array_distinct(tokens)) / size(tokens)) * 0.6
        + (lit(1.0) - stop / size(tokens)) * 0.4,
      6)
  }

  /** Quality scoring: uniqueness + stopword ratios and a blended
    * score — the length/punct/stopword-ratio family used to filter
    * web corpora. */
  def qualityScore(docs: DataFrame): DataFrame =
    withTokens(docs).select(
      col("doc_id"),
      round(size(array_distinct(col("tokens"))) / size(col("tokens")), 6)
        .as("uniq_ratio"),
      round(hits(allStopwords) / size(col("tokens")), 6).as("stopword_ratio"),
      qualityExpr(col("tokens")).as("quality"))

  // ---- fingerprinting & exact dedup --------------------------------

  /** Rolling polynomial fingerprint over the token stream: each token
    * contributes the codepoint of its first md5 hex digit; the fold is
    * `acc·31 + v (mod 1e9+7)` — order-sensitive, so reordered
    * documents fingerprint differently while md5 alone would not
    * (it is content-hash of the raw bytes). */
  def fingerprint(docs: DataFrame): DataFrame =
    withTokens(docs).select(
      col("doc_id"),
      md5(col("text")).as("content_md5"),
      aggregate(
        col("tokens"), lit(0L),
        (acc, t) => (acc * 31 + ascii(substring(md5(t), 1, 1))) % 1000000007L)
        .as("rolling_fp"))

  /** Exact dedup: hash-groupBy on content md5; canonical = min doc_id
    * (one shuffle on the hash — at 100 TB, hash first so the shuffle
    * key is 32 bytes, not the document). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_copies"))

  /** C4-style keep-first span dedup (Raffel et al. 2020, §2.2 of the
    * T5 paper: "we discarded all but one of any three-sentence span
    * occurring more than once"): documents split into NON-overlapping
    * `segTokens`-token spans; every span occurring more than once in
    * the corpus keeps only its globally-first occurrence (smallest
    * (doc_id, pos)); each document is rewritten from its surviving
    * spans in order. The complement of [[exactSubstringDedup]], which
    * removes ALL copies of duplicated sliding windows — keep-first is
    * the published C4 recipe and preserves one canonical copy of
    * boilerplate instead of deleting the text from the corpus
    * entirely.
    *
    * Scale: span text never shuffles. The exploded stream carries
    * (doc_id, pos, md5) — 32-byte keys; the global count/argmin is
    * one partial-aggregated shuffle on the hash; the verdict that
    * joins back to documents is the aggregated REMOVED-position list
    * per doc (duplicates are the rare case, so the verdict side is a
    * small fraction of the corpus and AQE broadcasts it); the rewrite
    * is map-side array surgery on the original text. */
  /** Per-doc non-overlapping `segTokens`-token span texts — the
    * shared precursor of [[dedupRewrite]]'s hash stream and its final
    * rewrite join. */
  def segmentArrays(docs: DataFrame, segTokens: Int): DataFrame = {
    // integer ceil-div: Column./ would widen to double, which
    // sequence() rejects
    val nSegs = expr(s"(size(tokens) + ${segTokens - 1}) div $segTokens")
    // nSegs = 0 must yield NO spans: sequence(0, -1) is the DESCENDING
    // two-element [0, -1] in Spark, which would fabricate two phantom
    // empty spans where the oracle's range(0, 0) is empty. Unreachable
    // while split(text, ' ') guarantees ≥1 token, but the guard keeps
    // the operator correct if tokenization ever changes.
    val segsCol = transform(
      when(nSegs > 0, sequence(lit(0), nSegs - 1))
        .otherwise(array().cast("array<int>")),
      i => array_join(slice(col("tokens"), i * segTokens + 1, lit(segTokens)), " "))
    withTokens(docs).select(col("doc_id"), segsCol.as("segs"))
  }

  /** The (doc_id, pos, h) span-hash stream [[dedupRewrite]] consumes —
    * per-snapshot like [[substrGramRows]], staged as
    * [[graft.queries.DedupStage.segmentHashes]] so the global
    * count/argmin and the removed-position probe share ONE span
    * tokenize+hash pass. */
  def segmentHashRows(docs: DataFrame, segTokens: Int): DataFrame =
    segmentArrays(docs, segTokens)
      .select(col("doc_id"), posexplode(col("segs")).as(Seq("pos", "seg")))
      .select(col("doc_id"), col("pos"), md5(col("seg")).as("h"))

  def dedupRewrite(docs: DataFrame, segTokens: Int): DataFrame =
    dedupRewriteFromSegments(docs, segmentHashRows(docs, segTokens), segTokens)

  def dedupRewriteFromSegments(docs: DataFrame, ex: DataFrame,
      segTokens: Int): DataFrame = {
    val withSegs = segmentArrays(docs, segTokens)
    val agg = ex.groupBy("h").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("pos"))).as("keeper"))
    val removed = ex.join(agg, "h")
      .where(col("cnt") > 1 &&
        !(col("doc_id") === col("keeper.doc_id") && col("pos") === col("keeper.pos")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("removed"))
    withSegs.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(
          filter(col("segs"), (_, i) =>
            !array_contains(coalesce(col("removed"), array()), i)),
          " ").as("clean_text"),
        size(col("segs")).as("n_segments"),
        coalesce(size(col("removed")), lit(0)).as("n_removed"))
  }

  // ---- shingling & the near-dup family -----------------------------

  /** Per-doc DISTINCT n-token shingle set, as an array column
    * (map-only; docs shorter than n tokens can't shingle and are
    * excluded — they have no near-dup candidates at this n).
    * Computed by the native single-pass kernel
    * [[graft.functions.TextKernels.shingles]], bit-identical to
    * `array_distinct(transform(sequence(...), array_join∘slice))`
    * but without the per-window interpreted-lambda dispatch. */
  def withShingles(docs: DataFrame, n: Int): DataFrame =
    withTokens(docs)
      .where(size(col("tokens")) >= n)
      .withColumn("shingles", graft.functions.TextExprs.shingles(col("tokens"), n))

  /** Exploded (doc_id, shingle) bipartite form — the relational shape
    * shared with the DuckDB oracle and the scalable join layout. */
  def shingleRows(docs: DataFrame, n: Int): DataFrame =
    withShingles(docs, n).select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs via the relational
    * explode–join (no LSH): |A∩B| from the shingle join, |A∪B| from
    * per-doc sizes. The baseline the MinHash path approximates.
    *
    * The per-doc size rides ALONG the exploded rows and through the
    * join as extra grouping keys (functionally dependent on the doc
    * ids) — the earlier separate `sizes` aggregation + two re-joins
    * made the planner scan and re-shingle the corpus four times. */
  /** The exploded (doc_id, n_sh, shingle) incidence the two n²
    * exactness baselines self-join on, computed ONCE per call and
    * shared by both join sides — as two lazy plan branches the corpus
    * shingled twice per invocation (broadcast-build side + probe
    * side). WIDENED before the shingling: a single-file snapshot
    * scans at 1 task, and the shingle+explode CPU above the scan
    * serialized there (guide §2.5 — repartition right after a narrow
    * read when real per-row work follows); when the input is already
    * at least core-wide (any real multi-file table), the repartition
    * branch is skipped, so nothing is paid at scale. */
  private def shingleIncidence(docs: DataFrame, n: Int): DataFrame = {
    val wide = graft.io.Scans.widenIfNarrow(docs, col("doc_id"))
    graft.operators.CheckpointBlocks.local(
      withShingles(wide, n)
        .select(col("doc_id"), size(col("shingles")).as("n_sh"),
          explode(col("shingles")).as("shingle")))
  }

  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sh = shingleIncidence(docs, n)
    sh.as("x")
      .join(sh.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.n_sh").as("n_a"), col("y.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 6))
      .where(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Asymmetric shingle-containment pairs: |A∩B| / |A| (and / |B|) —
    * the subset-duplicate detector Jaccard structurally misses (a doc
    * embedded whole inside a much larger one has tiny Jaccard but
    * containment ≈ 1). Same single-shingling equi-join shape as
    * [[ngramJaccardPairs]]; a pair survives if EITHER direction
    * clears the threshold. Exactness baseline — the scale path for
    * containment is [[exactSubstringDedup]]'s window hashing. */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sh = shingleIncidence(docs, n)
    sh.as("x")
      .join(sh.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.n_sh").as("n_a"), col("y.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("cont_ab", round(col("n_common") / col("n_a"), 6))
      .withColumn("cont_ba", round(col("n_common") / col("n_b"), 6))
      .where(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
      .select("a", "b", "n_common", "cont_ab", "cont_ba")
  }

  /** EXACT containment ≥ p/q pairs via PREFIX FILTERING — the
    * lossless scale twin of [[containmentPairs]] (which stays as the
    * n²-candidate exactness baseline), over the same per-snapshot
    * [[prefixOrderedShingles]] index the Jaccard prefix join reads.
    *
    * Key identity: `max(|A∩B|/|A|, |A∩B|/|B|) ≥ t  ⟺  |A∩B| ≥
    * t·min(|A|,|B|)` — containment is overlap similarity against the
    * SMALLER set. So only the smaller side needs a prefix: with both
    * docs' shingles in the same global ascending-(df, shingle) order,
    * a qualifying pair's intersection cannot avoid the smaller doc's
    * first `n − ⌈t·n⌉ + 1` shingles (missing them caps the overlap at
    * ⌈t·n⌉ − 1). The candidate join therefore runs PROBE-side prefix
    * shingles (rare by construction — common shingles sort last and
    * fall out of prefixes) against the full exploded corpus on the
    * other side; exact verification on the candidate set only.
    * Unlike Jaccard there is NO length filter — a tiny doc contained
    * whole in a huge one is exactly the target — which is why the
    * classic PPJoin length bound does not appear here (set-containment
    * join literature: PRETTI/Jampani & Pudi 2005, ProbeCount/
    * Chaudhuri et al. 2006).
    *
    * Scale: the full-side explode is linear in corpus shingles (one
    * map over the staged index); the shuffle carries (shingle, id,
    * size) rows; candidate-pair volume tracks Σ_sh df(sh)·prefix_df(sh)
    * — collapsing the baseline's Σ df² on common shingles, because a
    * common shingle enters a prefix only for docs small enough that
    * everything is prefix. Output provably equals the baseline's
    * (ContainmentPrefixSpec asserts frame equality). */
  def prefixContainmentPairsFromKeyed(keyed: DataFrame, p: Int, q: Int,
      j: Int = ContainmentPigeonJ): DataFrame = {
    // GENERALIZED pigeonhole, j shared tokens instead of 1: a
    // qualifying pair must share ≥ min(j, α) tokens within the probe
    // doc's first min(n, n − α + j) positions, α(n) = ⌈(p/q)·n⌉ —
    // if only j−1 landed there, the tail holds ≤ α − j more, capping
    // the overlap at α − 1. j=1 is the classic prefix; raising j
    // extends the probed window by j−1 rare tokens but demands j
    // matches, and the match count rides the pair aggregation the
    // plan pays anyway. MEASURED at sf0.1 (5k docs, t = 7/10):
    // 245k candidate pairs at j=1 → 409 at j=3, against 256 true
    // pairs — the verify stage's array-carrying joins stop dominating
    // the query. Integer math throughout; slice is 1-based.
    val alpha = expr(s"($p * n_sh + ${q - 1}) DIV $q")
    val windowLen = least(col("n_sh").cast("long"), col("n_sh") - alpha + lit(j))
    val need = least(lit(j.toLong), alpha)
    val probe = keyed.select(col("doc_id"), col("n_sh"), need.as("need"),
      explode(slice(col("toks"), lit(1), windowLen)).as("tok"))
    val full = keyed.select(col("doc_id"), col("n_sh"),
      explode(col("toks")).as("tok"))
    // the probe must be the (size, id)-lexicographic smaller side, so
    // each unordered pair is generated from exactly one direction and
    // equal-size pairs exactly once (`need` is the probe side's, and
    // the probe is unique per pair, so it is constant per group)
    val cand = probe.as("x")
      .join(full.as("y"),
        col("x.tok") === col("y.tok") &&
          (col("x.n_sh") < col("y.n_sh") ||
            (col("x.n_sh") === col("y.n_sh") &&
              col("x.doc_id") < col("y.doc_id"))))
      .groupBy(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        col("x.need").as("need"))
      .agg(count(lit(1)).as("hits"))
      .where(col("hits") >= col("need"))
      .select("a", "b")
    // exact verify — the same arithmetic as the baseline: long/int
    // division, round to 6, EITHER direction clears p/q
    cand
      .join(keyed.select(col("doc_id").as("a"), col("toks").as("ta"),
        col("n_sh").as("n_a")), "a")
      .join(keyed.select(col("doc_id").as("b"), col("toks").as("tb"),
        col("n_sh").as("n_b")), "b")
      .withColumn("n_common",
        graft.functions.TextExprs.intersectSize(col("ta"), col("tb")))
      .withColumn("cont_ab", round(col("n_common") / col("n_a"), 6))
      .withColumn("cont_ba", round(col("n_common") / col("n_b"), 6))
      .where(greatest(col("cont_ab"), col("cont_ba")) >= lit(p.toDouble / q))
      .select("a", "b", "n_common", "cont_ab", "cont_ba")
  }

  /** EXACT Jaccard ≥ p/q set-similarity join via PREFIX FILTERING
    * (SSJoin/PPJoin family — Chaudhuri et al. 2006, Xiao et al.
    * 2008): the lossless scale path for exact similarity, where
    * [[ngramJaccardPairs]] is the labeled n²-candidate baseline and
    * MinHash is the approximate one.
    *
    * Each doc's shingle set is ordered by GLOBAL ascending document
    * frequency (rarest first, ties by shingle); a pair with
    * J ≥ t must share at least one shingle within each side's first
    * `|s| − ⌈t·|s|⌉ + 1` tokens, so the candidate join runs only on
    * exploded PREFIX tokens — rare by construction, so bucket sizes
    * (and the shuffle) track true near-dups, not corpus co-occurrence.
    * Candidates are then exactly verified on the full sets; the
    * threshold is the RATIONAL p/q compared in integer cross-products
    * (`q·|A∩B| ≥ p·|A∪B|`) — no float threshold drift between
    * engines.
    *
    * Scale: df-counting and prefix explode are one aggregation + a
    * map; the candidate equi-join shuffles (prefix-token, doc) pairs
    * only; full shingle arrays travel once, to verify the (small)
    * candidate set. Output = exactly the pairs the brute-force form
    * returns. */
  def prefixJaccardPairs(docs: DataFrame, n: Int, p: Int, q: Int): DataFrame = {
    // one row per doc: shingles ordered by (df, shingle), set size.
    // Three consumers (prefix explode + both verify sides) — the
    // a1b16a3 materialization rule says checkpoint, or the
    // shingle+df pipeline runs three times.
    val keyed = graft.operators.CheckpointBlocks.local(prefixOrderedShingles(docs, n))
    prefixJaccardPairsFromKeyed(keyed, p, q)
  }

  /** The prefix-join's per-snapshot INDEX TABLE: one row per doc with
    * its shingles ordered by global ascending (df, shingle) and the
    * set size — threshold-independent (only `n` parameterizes it), so
    * a pipeline stages it once per corpus snapshot and runs
    * [[prefixJaccardPairsFromKeyed]] at any p/q over the same table
    * (the staged form is [[graft.queries.DedupStage.prefixIndex]]). */
  def prefixOrderedShingles(docs: DataFrame, n: Int): DataFrame = {
    val rows = shingleRows(docs, n)
    val freq = rows.groupBy("shingle").agg(count(lit(1)).as("df"))
    rows.join(freq, "shingle")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ordered"))
      .select(col("doc_id"),
        transform(col("ordered"), x => x("shingle")).as("toks"),
        size(col("ordered")).as("n_sh"))
  }

  /** Candidate pairs per verify task for the prefix join: the exact
    * set-intersection verify walks both docs' full ordered shingle
    * arrays (~1–2k tokens each, ~100 µs/pair), so a task should own
    * hundreds of pairs, not the tens of thousands a bytes-based
    * coalesce would give it. */
  private val VerifyPairsPerTask = 1024L

  /** The candidate+verify half of [[prefixJaccardPairs]], over an
    * already-materialized [[prefixOrderedShingles]] table.
    *
    * NOT lazy: construction runs Spark jobs (the prefix-token and
    * candidate checkpoints, then a count of the candidates to size
    * the verify width), so calling it costs the candidate join even
    * if the returned frame is never executed. */
  def prefixJaccardPairsFromKeyed(keyed: DataFrame, p: Int, q: Int): DataFrame = {
    // L = |s| − ⌈(p/q)·|s|⌉ + 1, in integer math
    val prefixLen = expr(s"n_sh - (($p * n_sh + ${q - 1}) DIV $q) + 1")
    // materialized once: it sits on both sides of the candidate
    // self-join, and the prefix posexplode over the keyed artifact
    // would otherwise run twice per invocation
    val pref = graft.operators.CheckpointBlocks.local(
      keyed.select(col("doc_id"), col("n_sh"),
        posexplode(slice(col("toks"), lit(1), prefixLen)))
        .select(col("doc_id"), col("n_sh"), (col("pos") + 1).as("pos"),
          col("col").as("ptok")))
    // LENGTH filter (PPJoin): J ≥ p/q forces q·min(|A|,|B|) ≥
    // p·max(|A|,|B|) — applied inside the candidate join so size-
    // mismatched docs sharing a prefix token never become a pair
    val joined = pref.as("x")
      .join(pref.as("y"),
        col("x.ptok") === col("y.ptok") && col("x.doc_id") < col("y.doc_id")
          && col("x.n_sh") * q >= col("y.n_sh") * p
          && col("y.n_sh") * q >= col("x.n_sh") * p)
    // POSITIONAL filter (PPJoin): both docs order shingles by the
    // same global (df, shingle) key, so the FIRST shared token sits
    // at min(pos) on both sides of the same incidence; overlap
    // before it is zero, hence |A∩B| ≤ 1 + min(|A|−i, |B|−j). The
    // threshold needs |A∩B| ≥ α = ⌈p(|A|+|B|)/(p+q)⌉ — candidates
    // whose bound can't reach α die before the verify joins ship
    // any shingle array. Lossless, like the prefix itself.
    val filtered = joined
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(min(col("x.pos")).as("ia"), min(col("y.pos")).as("ib"),
        first(col("x.n_sh")).as("sa"), first(col("y.n_sh")).as("sb"))
      .where(lit(1) + least(col("sa") - col("ia"), col("sb") - col("ib"))
        >= expr(s"($p * (sa + sb) + ${p + q - 1}) DIV ${p + q}"))
      .select("a", "b")
    // Verify parallelism by PAIR count, not bytes (round-13, guide
    // §2.5/§8): the intersect-verify costs ~100 µs/pair over the full
    // shingle arrays while the surviving candidate frame is a few
    // hundred KB, so AQE's bytes-based coalescing ran the verify at
    // 5–6 tasks on 32 cores. Materialize the (tiny) candidate pair
    // set once — the candidate join executes exactly once either way;
    // count it, and hash-repartition the pairs to a width derived
    // from that count. Tiny specs stay 1 task; the clamp bounds task
    // mint at cluster scale.
    val cand0 = graft.operators.CheckpointBlocks.local(filtered)
    val nPairs = cand0.count()
    val width = math.max(1L, math.min(
      (nPairs + VerifyPairsPerTask - 1) / VerifyPairsPerTask,
      16L * cand0.sparkSession.sparkContext.defaultParallelism)).toInt
    val cand = cand0.repartition(width, col("a"), col("b"))
    cand
      .join(keyed.select(col("doc_id").as("a"), col("toks").as("ta"),
        col("n_sh").as("na")), "a")
      .join(keyed.select(col("doc_id").as("b"), col("toks").as("tb"),
        col("n_sh").as("nb")), "b")
      .withColumn("n_common",
        graft.functions.TextExprs.intersectSize(col("ta"), col("tb")))
      .withColumn("n_union",
        (col("na") + col("nb")).cast("long") - col("n_common"))
      .where(col("n_common") * q >= col("n_union") * p)
      .select("a", "b", "n_common", "n_union")
  }

  /** MinHash signature columns mh0..mh{k-1}: per hash i, the
    * lexicographic MIN over shingles of md5("i:" ++ shingle) — the
    * salted-md5 family is engine-portable and collision-behaved. */
  def withMinhash(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val sigs = (0 until k).map { i =>
      array_min(transform(col("shingles"), s => md5(concat(lit(s"$i:"), s)))).as(s"mh$i")
    }
    withShingles(docs, n).select(col("doc_id") +: col("shingles") +: sigs: _*)
  }

  /** LSH banding: k signatures → `bands` bands of k/bands rows each;
    * band hash = md5 of the '|'-concatenated rows. Returns exploded
    * (doc_id, band_idx, band_hash). Signature minimization + band
    * hashing run fused in one native pass per document
    * ([[graft.functions.TextKernels.lshBands]]) — same md5-hex values
    * as the column-per-row form in [[withMinhash]], without
    * k × |shingles| interpreted md5 expression evals (and immune to
    * CollapseProject re-inlining the signature per band). */
  def lshBandRows(docs: DataFrame, n: Int, k: Int, bands: Int): DataFrame =
    withShingles(docs, n)
      .select(col("doc_id"), col("shingles"),
        posexplode(graft.functions.TextExprs.lshBands(col("shingles"), k, bands))
          .as(Seq("band_idx", "band_hash")))

  /** MinHash+LSH near-dup pairs: candidates = docs sharing any full
    * band; each candidate pair is then exactly verified with set
    * Jaccard on the shingle arrays. With k=16, bands=8 (2 rows/band),
    * P[candidate | J=0.5] ≈ 0.90 — tune bands to the threshold.
    * Only candidate pairs ever meet, never the n² cross product. */
  def minhashDupPairs(docs: DataFrame, n: Int, k: Int, bands: Int, threshold: Double): DataFrame =
    minhashDupPairsFromBands(lshBandRows(docs, n, k, bands), threshold)

  /** As [[minhashDupPairs]], over an already-computed [[lshBandRows]]
    * table — lets a caller that needs BOTH the self-join and an
    * index probe over the same batch (the incremental daily fold)
    * compute the band rows once. */
  def minhashDupPairsFromBands(br: DataFrame, threshold: Double): DataFrame = {
    val cand = br.as("x")
      .join(br.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.shingles").as("sh_a"), col("y.shingles").as("sh_b"))
      .dropDuplicates("a", "b")
    verifyJaccard(cand, threshold)
  }

  /** Exact Jaccard gate on candidate pairs: |A∩B| via the native
    * single-pass kernel ([[graft.functions.TextKernels.intersectSize]]
    * — `size(array_intersect(...))` materializes the intersection
    * array per pair, interpreted), |A∪B| by inclusion-exclusion. */
  private def verifyJaccard(cand: DataFrame, threshold: Double): DataFrame =
    cand
      .withColumn("n_common",
        graft.functions.TextExprs.intersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        round(col("n_common")
          / (size(col("sh_a")) + size(col("sh_b")) - col("n_common")), 6))
      .where(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")

  /** INCREMENTAL MinHash dedup: match a (daily) batch against an
    * already-indexed corpus WITHOUT touching corpus text again — the
    * shape that makes dedup affordable at 100 TB, where the corpus
    * index is petabytes of history and the batch is a day's crawl.
    *
    * `index` is a persisted [[lshBandRows]] output (doc_id, shingles,
    * band_idx, band_hash) — at scale a bucketed table on
    * (band_idx, band_hash) so this join is co-located and
    * shuffle-free on the index side. Only the batch is shingled and
    * banded here (map-only); candidates verify exactly as in
    * [[minhashDupPairs]]. Emits (batch doc a, corpus doc b, jaccard).
    */
  def minhashDupAgainstIndex(
      index: DataFrame, batch: DataFrame,
      n: Int, k: Int, bands: Int, threshold: Double): DataFrame =
    minhashDupAgainstIndexFromBands(index, lshBandRows(batch, n, k, bands), threshold)

  /** As [[minhashDupAgainstIndex]], over already-computed batch band
    * rows (see [[minhashDupPairsFromBands]]). */
  def minhashDupAgainstIndexFromBands(
      index: DataFrame, br: DataFrame, threshold: Double): DataFrame = {
    val cand = br.as("x")
      .join(index.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.shingles").as("sh_a"), col("y.shingles").as("sh_b"))
      .dropDuplicates("a", "b")
    verifyJaccard(cand, threshold)
  }

  /** 64-bit SimHash as a bit-string: bit b is set when more windows
    * have md5 bit b set than not (ties ⇒ 0). Window multiset, not
    * set — repeated windows weigh more, as in the original
    * algorithm. */
  def withSimhash(docs: DataFrame, n: Int = 3): DataFrame =
    // Features are n-token shingle WINDOWS (multiset, not distinct):
    // token-level simhash over a small vocabulary collapses every doc
    // onto a few fingerprints and the LSH band join blows up; shingles
    // spread the feature space so only truly similar docs collide.
    // One native pass per document (graft.functions.TextKernels
    // .simhash) hashes each window once and accumulates all 32 ±1 bit
    // sums — map-only, no explode/groupBy shuffle. (History: a HOF
    // array fold recomputed md5 32× per feature because CollapseProject
    // inlines any cached-hash alias — ~5× slower — and the previous
    // explode→hash-aggregate form shuffled |docs|·|windows| rows.)
    withTokens(docs)
      .where(size(col("tokens")) >= n)
      .withColumn("simhash", graft.functions.TextExprs.simhash(col("tokens"), n))
      .drop("tokens")

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming,
    * found via 4-band LSH over the 64-bit string (pigeonhole: any
    * pair within Hamming 3 shares at least one of 4 bands — exact
    * recall for maxHamming ≤ 3, candidates-only for larger). The
    * 16-bit bands spread candidates over 65536 buckets per band —
    * the layout that keeps the candidate join bounded at corpus
    * scale (Google's 64-bit/Hamming-3 configuration). */
  def simhashNearPairs(docs: DataFrame, maxHamming: Int = 3, n: Int = 3): DataFrame = {
    // simhash band rows sit on BOTH self-join sides — as two lazy
    // branches the shingle+simhash pass ran twice per invocation, and
    // a single-file snapshot pinned it to 1 scan task (round-13; the
    // shingleIncidence rationale). Computed once, core-wide,
    // checkpointed.
    val s = withSimhash(graft.io.Scans.widenIfNarrow(docs, col("doc_id")), n)
      .select("doc_id", "simhash")
    val bandArr = array((0 until 4).map(j => col("simhash").substr(j * 16 + 1, 16)): _*)
    val br = graft.operators.CheckpointBlocks.local(
      s.select(col("doc_id"), col("simhash"),
        posexplode(bandArr).as(Seq("band_idx", "band_val"))))
    // Hamming over 64-char bit-strings as codegen builtins, in two
    // 32-bit halves (a full 64-char parse could overflow signed
    // conv): parse base-2 → xor → popcount per half. Equal to the
    // per-position substring compare.
    def halfHamming(from: Int) = bit_count(
      conv(col("sa").substr(from, 32), 2, 10).cast("bigint")
        .bitwiseXOR(conv(col("sb").substr(from, 32), 2, 10).cast("bigint")))
    val hamming = (halfHamming(1) + halfHamming(33)).cast("int")
    br.as("x")
      .join(br.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .dropDuplicates("a", "b")
      .withColumn("hamming", hamming)
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }
}
