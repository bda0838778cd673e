package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.operators.{AsofJoin, Components, ExactRank, Sessionize}
import graft.text.TextOps

/** Advanced large-pipeline operators beyond the reference's surface
  * and the first training-data wave: temporal joins (as-of),
  * inequality range joins, gap sessionization, transitive dedup
  * clustering (connected components over near-dup pairs), TF-IDF
  * term scoring, exact interpolated quantiles, and deterministic
  * hash sampling. Each with a DuckDB oracle; the as-of oracle uses
  * DuckDB's NATIVE `ASOF LEFT JOIN`, proving the union+window
  * composition implements the standard operator's semantics.
  */
object AdvancedQueries {

  private val SessionGapUs = 30L * 60 * 1000000 // 30 min

  /** Gap sessionization of the event stream per user. */
  def q_sessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionStats(
      Tables.table(spark, dir, "events").select("user_id", "event_id", "ts"),
      "user_id", "ts", "event_id", SessionGapUs)
      .orderBy(col("user_id").asc, col("session_seq").asc)

  /** Purchase→view attribution: each purchase matched with the same
    * user's latest view at-or-before it (LEFT: purchases with no
    * prior view keep nulls). Views are deduped per (user, instant)
    * first — the as-of contract. */
  def q_asof_join(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "events")
    val views = e.where(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max("event_id").as("view_event_id"))
    val purchases = e.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    AsofJoin.joinAsOf(purchases, views, Seq("user_id"), "ts")
      .orderBy(col("event_id").asc)
  }

  /** View→conversion: each view matched with the same user's NEXT
    * purchase at-or-after it (forward as-of). */
  def q_asof_forward(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "events")
    val purchases = e.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("event_id").as("purchase_event_id"))
    val views = e.where(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    AsofJoin.joinAsOfForward(views, purchases, Seq("user_id"), "ts")
      .orderBy(col("event_id").asc)
  }

  private val priceBands = Seq(
    ("b1_low", 0.0, 100000.0),
    ("b2_mid", 100000.0, 200000.0),
    ("b3_high", 200000.0, 300000.0),
    ("b4_top", 300000.0, 600000.0))

  /** Inequality range join: orders binned into price bands via a
    * broadcast `lo <= x < hi` join (BroadcastNestedLoopJoin — the
    * right physical shape when one side is a handful of ranges). */
  def q_range_join(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = priceBands.toDF("band", "lo", "hi")
    Tables.table(spark, dir, "orders")
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(14,2)"))
          .cast("double").as("total"))
      .orderBy(col("band").asc)
  }

  /** Transitive dedup clustering: MinHash near-dup pairs → connected
    * components → (doc, canonical doc). The step that makes pairwise
    * dedup hits actionable at corpus scale. Reads the shared
    * [[DedupStage]] snapshot artifact (mined once, four consumers). */
  def q_dedup_components(spark: SparkSession, dir: String): DataFrame =
    DedupStage.components(spark, dir)
      .select(col("node").as("doc_id"), col("label").as("component"))
      .orderBy(col("doc_id").asc)

  /** TF-IDF: top-3 terms per document by tf·ln(N/df). Scores are
    * rounded BEFORE ranking so the double `ln` (which can differ in
    * the last ulp across engines) can never flip a rank. */
  def q_tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val tok = TextOps.withTokens(docs)
      .select(col("doc_id"), explode(col("tokens")).as("term"))
    // (doc, term) counts feed both the document frequencies and the
    // scoring join — checkpoint so the explode+count runs once (the
    // materialize-the-TF-table call every TF-IDF pipeline makes)
    val tf = graft.operators.CheckpointBlocks.local(
      tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= 3)
      .select("doc_id", "rank", "term", "score")
      .orderBy(col("doc_id").asc, col("rank").asc)
  }

  /** Exact interpolated quantiles of lineitem quantity/price per
    * return flag (the sort-based exact form; approx_percentile is
    * the sketch alternative, recall-tested in specs since sketches
    * can't hash-match an oracle). */
  def q_quantiles(spark: SparkSession, dir: String): DataFrame = {
    val qty = col("l_quantity").cast("double")
    // percentile is a sort-based aggregate holding full value buffers
    ContractSort(Tables.table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(percentile(qty, lit(0.25)), 6).as("qty_p25"),
        round(percentile(qty, lit(0.5)), 6).as("qty_p50"),
        round(percentile(qty, lit(0.75)), 6).as("qty_p75"),
        round(percentile(qty, lit(0.9)), 6).as("qty_p90"),
        round(percentile(col("l_extendedprice").cast("double"), lit(0.5)), 6)
          .as("price_p50")),
      col("l_returnflag").asc)
  }

  /** Custom whole-operator plan ([[graft.plans.TopKPerGroupPlan]]):
    * top-3 orders per order priority — partial per-partition heaps
    * bound the shuffle to k rows per (group × partition) where the
    * window form shuffles and sorts every row. Result is identical
    * to QUALIFY row_number() <= k (the oracle). */
  def q_topk_per_group(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perGroup(
      Tables.table(spark, dir, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice"),
      Seq("o_orderpriority"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
      .orderBy(col("o_orderpriority").asc, col("rank").asc)

  /** Deterministic hash sampling: keep a doc iff the first hex byte
    * of md5("smpl:" ++ id) falls under the rate threshold — stable
    * across runs/engines/cluster layouts, per-stratum auditable. */
  def q_sample_hash(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .where(substring(md5(concat(lit("smpl:"), col("doc_id").cast("string"))), 1, 2) < "28")
      .select("doc_id", "lang", "source")
      .orderBy(col("doc_id").asc)

  /** CUBE + grouping_id: all four aggregation levels of the pricing
    * matrix in one pass with the level encoded (Postgres-compatible
    * bit order: first cube column = MSB). */
  def q_grouping_cube(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // exact decimal sum, DOUBLE at the output boundary (decimal
        // outputs don't survive the oracle's float64 coercion when
        // values carry trailing zeros)
        sum(col("l_quantity").cast("decimal(14,2)"))
          .cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("sum_qty"), col("n_rows"))
      .orderBy(col("gid").asc, col("returnflag").asc, col("linestatus").asc)

  /** Calendar gap-filling (time-series densification): every platform
    * gets its full min..max date range via `sequence`+explode, missing
    * days land as 0, and the cumulative sum runs over the DENSE
    * series — the step every daily-metrics pipeline needs before
    * window math, done without a driver-side calendar. */
  def q_gap_fill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "events")
    val daily = e.groupBy(
      col("event_type").as("platform"), to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("n_events"))
    val cal = daily.groupBy("platform")
      .agg(min(col("date")).as("d0"), max(col("date")).as("d1"))
      .select(col("platform"), explode(sequence(col("d0"), col("d1"))).as("date"))
    val w = Window.partitionBy("platform").orderBy(col("date").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("platform", "date"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("cum_events", sum(col("n_events")).over(w))
      .orderBy(col("platform").asc, col("date").asc)
  }

  /** True RANGE frame (value-based, not row-count): 7-day trailing sum
    * over possibly-sparse daily counts — ROWS BETWEEN 6 PRECEDING is
    * WRONG on sparse series (it spans whatever 7 rows exist); the
    * RANGE frame on the day number is scale-independent and correct. */
  def q_range_frame(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.table(spark, dir, "events")
      .groupBy(col("event_type").as("platform"), to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("day_num",
        datediff(col("date"), lit("2024-01-01").cast("date")))
    val w = Window.partitionBy("platform").orderBy(col("day_num").asc)
      .rangeBetween(-6, 0)
    daily
      .withColumn("n_7d", sum(col("n_events")).over(w))
      .select("platform", "date", "n_events", "n_7d")
      .orderBy(col("platform").asc, col("date").asc)
  }

  private val Denylist = Seq("customer", "secret", "spark")
  private val DenyPattern = Denylist.mkString("\\b(", "|", ")\\b")

  /** Denylist redaction (content filtering): replace denylisted terms
    * with a marker, count hits, and fingerprint the redacted text —
    * the filter stage every training corpus passes through. The
    * pattern is plain alternation + word boundaries, identical under
    * Java regex and RE2. */
  def q_redact(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(DenyPattern), lit(0)))
          .cast("bigint").as("n_redacted"),
        md5(regexp_replace(col("text"), DenyPattern, "[REDACTED]"))
          .as("redacted_md5"))
      .orderBy(col("doc_id").asc)

  /** Int8 embedding quantization (the memory-side of billion-scale
    * ANN): symmetric max-abs scale to [-127,127], with saturation
    * count and the exact L2 reconstruction error (sequential fold,
    * bit-matched by the oracle). */
  def q_vec_quantize(spark: SparkSession, dir: String): DataFrame = {
    val emb = col("embedding")
    val maxAbs = greatest(
      array_max(transform(emb, x => abs(x.cast("double")))), lit(1e-30))
    val scale = lit(127.0) / maxAbs
    val quant = transform(emb, x => round(x.cast("double") * scale).cast("int"))
    Tables.table(spark, dir, "embeddings")
      .withColumn("q", quant)
      .withColumn("scale", scale)
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        size(filter(col("q"), qi => abs(qi) === 127))
          .cast("bigint").as("n_saturated"),
        round(
          sqrt(aggregate(
            zip_with(emb, col("q"), (x, qi) => {
              // squared via multiplication, not pow(): Math.pow and
              // libm pow may differ in the last ulp; x*x never does
              val d = x.cast("double") - qi.cast("double") / col("scale")
              d * d
            }),
            lit(0.0), (acc, v) => acc + v)),
          6).as("recon_err"))
      .orderBy(col("vec_id").asc)
  }

  /** Bigram language-model scoring: add-1-smoothed corpus bigram
    * probabilities, each document scored by its mean log-probability
    * (perplexity's log domain) — the LM-based quality filter family.
    * The corpus-scale train+score pass lives in [[LmStage]] (staged
    * once per snapshot, shared with [[q_perplexity]]); the
    * decimal-quantized log-sum determinism trick is documented
    * there. */
  def q_bigram_lm(spark: SparkSession, dir: String): DataFrame =
    LmStage.docScores(spark, dir).orderBy(col("doc_id").asc)

  /** CCNet-style perplexity quality gate: each document scored by the
    * corpus bigram LM ([[q_bigram_lm]]'s scorer — the cheap stand-in
    * for a KenLM pass), ppl = exp(−avg_logp), and the worst-decile
    * tail flagged for drop. The percentile threshold comes from
    * [[graft.operators.ExactRank]] over the per-doc frame — at 100 TB
    * the scored frame is still billions of rows, so a
    * `row_number() OVER (ORDER BY ppl)` would single-task it (the
    * engine-wide plan lint bans that shape). `keep` is closed-form
    * integer math on (rank, n) with n free from ExactRank's counting
    * pass. exp() of an identical 6-dp-rounded input is the one
    * transcendental — same libm discipline as tfidf/bm25. */
  def q_perplexity(spark: SparkSession, dir: String): DataFrame = {
    val scored = LmStage.docScores(spark, dir)
    val frame = scored.select(
      col("doc_id"),
      round(exp(-col("avg_logp")), 6).as("ppl"))
    val (ranked, n) = ExactRank.withGlobalRank(
      frame, Seq(col("ppl").asc, col("doc_id").asc), "prank")
    ranked
      .select(
        col("doc_id"), col("ppl"),
        (col("prank") <= lit(n * 9 / 10)).as("keep"))
      .orderBy(col("doc_id").asc)
  }

  /** Deterministic fixed-size stratified sample: per language, the 10
    * docs with the smallest salted-md5 of their id — a uniform-ish
    * fixed-k draw that is stable across runs, engines, and cluster
    * layouts (reservoir sampling without the nondeterminism), and
    * another consumer of the custom top-k operator. */
  def q_sample_stratified(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perGroup(
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5(concat(lit("rs:"), col("doc_id").cast("string"))).as("h")),
      Seq("lang"), Seq(("h", true)), 10)
      .select("lang", "rank", "doc_id")
      .orderBy(col("lang").asc, col("rank").asc)

  /** Benchmark decontamination: training docs sharing ≥1 3-token
    * shingle with the (held-out) eval set, with the overlap count and
    * a contamination flag at ≥5 shared shingles — the eval-leakage
    * scrub every LLM corpus needs. The eval side's distinct shingle
    * set is small by construction, so at scale it BROADCASTS and the
    * training corpus streams through map-side — no shuffle of the
    * big side until the tiny per-doc hit aggregation. */
  def q_decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val isEval = col("doc_id") % 97 === 0 // stand-in eval-set membership
    val evalShingles = TextOps.shingleRows(docs.where(isEval), CorpusQueries.ShingleN)
      .select("shingle").distinct()
    TextOps.shingleRows(docs.where(!isEval), CorpusQueries.ShingleN)
      .join(broadcast(evalShingles), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= 5)
      .orderBy(col("doc_id").asc)
  }

  /** Decontamination at 100 TB: same result as [[q_decontaminate]],
    * but the corpus's exploded shingles are PREFILTERED map-only by a
    * Bloom filter built from the eval set
    * ([[graft.functions.BloomFilterExpr]]), so only ~fpp of the
    * non-matching corpus ever reaches the join — the semi-join-pruning
    * shape that keeps the big side from shuffling wholesale. Exact
    * because Bloom has no false negatives and the join removes false
    * positives; gated by the SAME oracle as the naive plan. */
  def q_decontaminate_bloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val isEval = col("doc_id") % 97 === 0
    // persisted ONLY for the two driver-side build actions (sizing
    // count + sketch aggregation), then released: the broadcast join
    // recomputes the small eval side once at execution instead of
    // pinning cache blocks for the session lifetime
    val evalShingles = TextOps.shingleRows(docs.where(isEval), CorpusQueries.ShingleN)
      .select("shingle").distinct()
      .persist()
    val bloom =
      try graft.functions.BloomFilterExpr.build(evalShingles, "shingle", fpp = 0.01)
      finally evalShingles.unpersist()
    TextOps.shingleRows(docs.where(!isEval), CorpusQueries.ShingleN)
      .where(graft.functions.BloomFilterExpr.mightContain(bloom, col("shingle")))
      .join(broadcast(evalShingles), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= 5)
      .orderBy(col("doc_id").asc)
  }

  /** Leakage-safe train/val/test split: near-dup CLUSTERS assign as
    * units — the split hash keys on the component canonical, not the
    * doc — so a test document can never have a near-duplicate in
    * train (the contamination that silently inflates eval scores).
    * Deterministic md5 bucketing (80/10/10 via hex prefix), stable
    * across runs, engines, and cluster layouts. */
  def q_split_dedup_aware(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val comp = DedupStage.components(spark, dir)
      .select(col("node").as("doc_id"), col("label"))
    val canon = docs.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("canonical"))
    val bucket = substring(
      md5(concat(lit("split:"), col("canonical").cast("string"))), 1, 2)
    canon
      .withColumn("split",
        when(bucket < "cc", lit("train"))       // 204/256 ≈ 80%
          .when(bucket < "e6", lit("val"))      //  26/256 ≈ 10%
          .otherwise(lit("test")))
      .orderBy(col("doc_id").asc)
  }

  /** Hopping event-time windows (7-day windows sliding daily) via
    * Spark's `window()` — every event belongs to 7 overlapping
    * windows, the shape behind "7-day active users, daily" that a
    * trailing ROWS frame ([[ParityQueries.q_rolling_window]]) cannot
    * express when events (not days) are the grain. Same operator the
    * streaming engine uses for watermarked windowed aggs — here in
    * batch, oracle-replayed as an offset-grid join. */
  def q_hopping_window(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "events")
      .groupBy(
        window(col("ts"), "7 days", "1 day").getField("start").cast("date")
          .as("window_start"),
        col("event_type").as("platform"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("window_start").asc, col("platform").asc)

  /** Equi-DEPTH histogram (10 buckets of equal row count) over order
    * totals. Semantics: ntile under a TOTAL order (value, key — ties
    * at bucket boundaries would otherwise land nondeterministically);
    * plan: [[graft.operators.ExactRank]]'s two-phase range-partitioned
    * rank plus map-side integer bucket math — no single-partition
    * window, bit-identical to the `ntile(10) OVER (ORDER BY …)`
    * oracle. (Approximate sketch-bound variant spec-gated in
    * ScaleOpsSpec.) */
  def q_histogram(spark: SparkSession, dir: String): DataFrame = {
    val (ranked, n) = graft.operators.ExactRank.withGlobalRank(
      Tables.table(spark, dir, "orders").select("o_orderkey", "o_totalprice"),
      Seq(col("o_totalprice").asc, col("o_orderkey").asc), "_gr")
    ranked
      .withColumn("bucket", graft.operators.ExactRank.ntileFromRank("_gr", n, 10))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("bucket").asc)
  }

  /** Snapshot reconciliation ([[graft.operators.TableDiff]]): diff
    * the customer table against a synthetic next-day version (every
    * 5th segment rewritten, every 17th row dropped, negated keys
    * added) — digests travel through the join, not rows. */
  def q_table_diff(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.table(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment")
    val after = c
      .where(col("c_custkey") % 17 =!= 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 5 === 0, concat(lit("X-"), col("c_mktsegment")))
          .otherwise(col("c_mktsegment")))
      .unionByName(
        c.where(col("c_custkey") % 19 === 0 && col("c_custkey") =!= 0)
          .select((-col("c_custkey")).as("c_custkey"), col("c_name"),
            col("c_mktsegment")))
    graft.operators.TableDiff.diff(
      c, after, Seq("c_custkey"), Seq("c_name", "c_mktsegment"))
      .orderBy(col("c_custkey").asc)
  }

  /** Exact heavy hitters with a Count-Min prefilter: terms with true
    * count ≥ 200 across the corpus. The CMS (built distributed) never
    * underestimates, so `estimate ≥ T` keeps a candidate SUPERSET
    * map-only — only those rows shuffle into the exact count, which
    * then drops the overestimates. Same result as the naive
    * explode+count+HAVING oracle; at 100 TB the difference is
    * shuffling a handful of hot terms instead of the whole token
    * stream. */
  def q_heavy_hitters(spark: SparkSession, dir: String): DataFrame = {
    val minCount = 200L
    val terms = TextOps.withTokens(Tables.table(spark, dir, "documents"))
      .select(explode(col("tokens")).as("term"))
    val cms = graft.functions.CmsExpr.build(terms, "term", eps = 0.0001, confidence = 0.99)
    terms
      .where(graft.functions.CmsExpr.estimate(cms, col("term")) >= minCount)
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .orderBy(col("term").asc)
  }

  /** Gaps-and-islands: collapse each user's overlapping 10-minute
    * activity windows into maximal spans ([[graft.operators
    * .Intervals]]) — one window pass + one aggregation, never the
    * quadratic NOT-EXISTS self-join. */
  def q_interval_merge(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "events")
      .select(
        col("user_id"), col("ts").as("s"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
    graft.operators.Intervals.mergeOverlapping(e, Seq("user_id"), "s", "e")
      .orderBy(col("user_id").asc, col("island_start").asc)
  }

  /** SCD2 dimension versioning over the customer dim: updates for
    * every 7th key, of which every 14th is a NO-OP (same value) that
    * must not mint a version, plus brand-new keys (negated ids) that
    * must INSERT as open versions, plus RETIRED keys (every 11th is
    * pre-closed at 2024-09-01, AFTER the effective date) whose
    * updates must re-open past the closed validity, not inside it —
    * the full warehouse-merge gate. */
  def q_scd2(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.table(spark, dir, "customer")
    val dim = c.select(
      col("c_custkey"), col("c_mktsegment"),
      lit("2024-01-01").cast("date").as("valid_from"),
      when(col("c_custkey") % 11 === 0, lit("2024-09-01").cast("date"))
        .otherwise(lit(null).cast("date")).as("valid_to"))
    val updates = c.where(col("c_custkey") % 7 === 0)
      .select(
        col("c_custkey"),
        when(col("c_custkey") % 14 === 0, col("c_mktsegment"))
          .otherwise(concat(lit("MOVED-"), col("c_mktsegment"))).as("c_mktsegment"))
      .unionByName(
        // negated ids are guaranteed-absent keys — key 0 would negate
        // to itself and collide, so it is excluded
        c.where(col("c_custkey") % 13 === 0 && col("c_custkey") =!= 0)
          .select(
            (-col("c_custkey")).as("c_custkey"),
            concat(lit("NEW-"), col("c_mktsegment")).as("c_mktsegment")))
    graft.operators.Scd2.merge(
      dim, updates, Seq("c_custkey"), Seq("c_mktsegment"),
      lit("2024-06-01").cast("date"))
      .orderBy(col("c_custkey").asc, col("valid_from").asc)
  }

  /** q_curate's full-funnel replay — shared VERBATIM with
    * q_curate_incremental: the fold provably computes the same
    * function, so one oracle gates both plans. */
  private val curateSql: String = {
      val n = CorpusQueries.ShingleN
      val stop = TextOps.allStopwords.map(w => s"'$w'").mkString("(", ", ", ")")
      val scores = TextOps.stopwordSets.map { case (l, ws) =>
        val in = ws.map(w => s"'$w'").mkString("(", ", ", ")")
        s"len(list_filter(toks, t -> t IN $in)) AS s_$l"
      }.mkString(",\n    ")
      val m = TextOps.stopwordSets.map { case (l, _) => s"s_$l" }
        .mkString("greatest(", ", ", ")")
      val cases = TextOps.stopwordSets.map { case (l, _) =>
        s"WHEN s_$l = m AND m > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |st AS (SELECT doc_id, len(toks) AS n_tokens,
         |  round((len(list_distinct(toks)) / len(toks)) * 0.6
         |        + (1.0 - len(list_filter(toks, t -> t IN $stop)) / len(toks)) * 0.4,
         |        6) AS quality
         |FROM t),
         |ls AS (SELECT doc_id,
         |    $scores
         |  FROM t),
         |lg AS (SELECT doc_id,
         |  CASE $cases ELSE 'und' END AS predicted
         |  FROM (SELECT *, $m AS m FROM ls)),
         |ex AS (SELECT md5(text) AS h, doc_id FROM documents),
         |exg AS (SELECT h, MIN(doc_id) AS canon, COUNT(*) AS c FROM ex GROUP BY h),
         |exl AS (SELECT e.doc_id FROM ex e JOIN exg g USING (h)
         |        WHERE g.c > 1 AND e.doc_id <> g.canon),
         |nl AS (SELECT DISTINCT b AS doc_id FROM (
         |${CorpusQueries.minhashPairsBody}
         |) mp),
         |shd AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+${n - 1}], ' ') AS shingle
         |        FROM t, UNNEST(range(1, len(toks) - ${n - 2})) AS u(i)
         |        WHERE len(toks) >= $n),
         |ev AS (SELECT DISTINCT shingle FROM shd WHERE doc_id % 97 = 0),
         |ct AS (SELECT doc_id FROM shd JOIN ev USING (shingle)
         |       WHERE doc_id % 97 <> 0 GROUP BY doc_id HAVING COUNT(*) >= 5)
         |SELECT *,
         |  (NOT is_eval AND sampled_in AND NOT is_exact_dup AND NOT is_near_dup
         |   AND NOT is_contaminated AND predicted <> 'und'
         |   AND quality >= 0.5 AND n_tokens BETWEEN 5 AND 1000) AS kept
         |FROM (
         |  SELECT d.doc_id, st.n_tokens, st.quality, lg.predicted,
         |    d.doc_id % 97 = 0 AS is_eval,
         |    exl.doc_id IS NOT NULL AS is_exact_dup,
         |    nl.doc_id IS NOT NULL AS is_near_dup,
         |    ct.doc_id IS NOT NULL AS is_contaminated,
         |    substr(md5('smpl:' || CAST(d.doc_id AS VARCHAR)), 1, 1) < 'e' AS sampled_in
         |  FROM documents d
         |  JOIN st USING (doc_id) JOIN lg USING (doc_id)
         |  LEFT JOIN exl ON d.doc_id = exl.doc_id
         |  LEFT JOIN nl ON d.doc_id = nl.doc_id
         |  LEFT JOIN ct ON d.doc_id = ct.doc_id)
         |ORDER BY doc_id ASC""".stripMargin
    }

  private val decontaminateSql: String = {
    val n = CorpusQueries.ShingleN
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+${n - 1}], ' ') AS shingle
       |       FROM tok, UNNEST(range(1, len(toks) - ${n - 2})) AS u(i)
       |       WHERE len(toks) >= $n),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
       |hits AS (SELECT doc_id, COUNT(*) AS n_shared
       |         FROM sh JOIN ev USING (shingle)
       |         WHERE doc_id % 97 <> 0 GROUP BY doc_id)
       |SELECT doc_id, n_shared, n_shared >= 5 AS contaminated
       |FROM hits ORDER BY doc_id ASC""".stripMargin
  }

  /** The end-to-end curation funnel ([[graft.text.Curation]]) with its
    * per-stage audit flags, oracle-checked as one query. The near-dup
    * stage reads the staged per-snapshot pair table
    * ([[DedupStage.minhashPairs]] — the same mining pass the
    * components labeling shares) instead of re-mining the corpus per
    * call; the default inline-mining path stays spec-covered
    * (CorpusEtlSpec's fold-parity check). */
  def q_curate(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.curate(Tables.table(spark, dir, "documents"),
      nearDupPairs = Some(DedupStage.minhashPairs(spark, dir)))

  /** The INCREMENTAL twin of [[q_curate]]: the corpus split into two
    * id-ordered daily batches and folded through [[graft.text.Curation
    * .curateFold]] — per-day work is batch-proportional, history is
    * touched only through its hash/band indexes ([[graft.CorpusEtl]]
    * is the runnable store-backed form). Same oracle SQL as q_curate:
    * first-arrival-wins folding over ascending-id batches emits
    * bit-for-bit the one-shot funnel's flags (one oracle, two plans). */
  def q_curate_incremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Curation
    val docs = Tables.table(spark, dir, "documents")
    // scalar split point (one tiny agg, like Bpe's per-round argmax):
    // ascending-id halves stand in for day-1 / day-2 arrival order
    val mid = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
    val cfg = Curation.Config()
    val state0 = Curation.initState(
      docs.where(col("doc_id") % cfg.evalModulus === 0), cfg)
    // The between-day state stays LAZY by deliberate measurement:
    // day-2's probe re-derives day-1's band rows inside this one plan,
    // and eagerly checkpointing the state between folds (the analog of
    // CorpusEtl's parquet commit) measured SLOWER both ways in a
    // round-11 reversed-order A/B at sf0.1 — min-of-5 2.87 s lazy vs
    // 3.87 s checkpointed — because materializing the shingle-array
    // band rows to blocks costs more than re-running the fused
    // shingle/minhash pass at this scale. At warehouse scale the
    // state IS persisted (by the store commit), which is the
    // `corpus_day_sec` bench path, not this query's.
    val (f1, state1) = Curation.curateFold(
      docs.where(col("doc_id") <= mid), state0, cfg)
    val (f2, _) = Curation.curateFold(
      docs.where(col("doc_id") > mid), state1, cfg)
    f1.unionByName(f2).orderBy(col("doc_id").asc)
  }

  /** Vocabulary building: global term/document frequencies, top-50 by
    * collection frequency — the tokenizer-training precursor. Global
    * top-k over an aggregated (small) term table plans as
    * TakeOrderedAndProject, no full sort. */
  def q_vocab(spark: SparkSession, dir: String): DataFrame = {
    val tok = TextOps.withTokens(Tables.table(spark, dir, "documents"))
      .select(col("doc_id"), explode(col("tokens")).as("term"))
    tok.groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(50)
  }

  // per-source keep-rates as hex thresholds over the first 2 hash
  // chars (src0 heavily downsampled … src3 kept fully; everything
  // else at the default) — the shape of a source-mixture recipe
  private val mixtureRates: Seq[(String, String)] = Seq(
    "src0" -> "20", "src1" -> "40", "src2" -> "80", "src3" -> "ff")
  private val mixtureDefault = "c0"

  /** Data-mixture sampling: per-SOURCE deterministic keep-rates (the
    * "2 epochs of wiki, 0.25 of web" recipe) via per-stratum hash
    * thresholds — reproducible across engines and cluster layouts,
    * and auditable per source. */
  def q_mixture_sample(spark: SparkSession, dir: String): DataFrame = {
    val rate = mixtureRates.foldLeft(lit(mixtureDefault)) { case (acc, (s, r)) =>
      when(col("source") === s, lit(r)).otherwise(acc)
    }
    Tables.table(spark, dir, "documents")
      .where(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 2) < rate)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("source").asc)
  }

  /** Ranking-function family over TIE-HEAVY data (balance bands):
    * rank/dense_rank/percent_rank/cume_dist are tie-deterministic by
    * definition; ntile is NOT (equal keys split across tiles
    * arbitrarily), so its window orders by a TOTAL key — the same
    * discipline as everywhere else in the engine. The PARTITION BY
    * key is low-cardinality (5 segments over a dimension table —
    * bounded here); if a group ever outgrew one reducer, the whole
    * family reduces to one [[graft.operators.ExactRank]] pass + joins
    * over domain-bounded aggregates — proven bit-equal, ties and all,
    * in ExactRankSpec ("window-function family"). */
  def q_window_funcs(spark: SparkSession, dir: String): DataFrame = {
    val band = floor(col("c_acctbal") / 1000).cast("long")
    val tied = Window.partitionBy("c_mktsegment").orderBy(col("band").asc)
    val total = Window.partitionBy("c_mktsegment")
      .orderBy(col("band").asc, col("c_custkey").asc)
    Tables.table(spark, dir, "customer")
      .withColumn("band", band)
      .select(
        col("c_mktsegment"), col("c_custkey"), col("band"),
        rank().over(tied).cast("int").as("rnk"),
        dense_rank().over(tied).cast("int").as("drnk"),
        round(percent_rank().over(tied), 6).as("prank"),
        round(cume_dist().over(tied), 6).as("cdist"),
        ntile(4).over(total).cast("int").as("quartile"))
      .orderBy(col("c_mktsegment").asc, col("c_custkey").asc)
  }

  /** Navigation window-function family — lead / first_value /
    * last_value / nth_value — per-customer order history under a
    * total order (o_orderdate, o_orderkey). Frames are explicit on
    * both engines: last/nth over the FULL partition frame (the
    * default running frame would return the current row for last and
    * null-until-row-2 for nth). Partition key is o_custkey — high
    * cardinality, so the one window shuffle distributes at scale
    * (the navigation twin of q_window_funcs' ranking family). */
  def q_window_nav(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.table(spark, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first_value(col("o_orderkey")).over(full).as("first_order"),
        last_value(col("o_orderkey")).over(full).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_order"))
      .orderBy(col("o_custkey").asc, col("o_orderkey").asc)
  }

  /** Group-level similarity via the mergeable MinHash aggregate
    * ([[graft.functions.MinHashAgg]]): one k-row signature per SOURCE
    * over the union of its docs' shingles (partial-agg map-side, k×16
    * bytes per group on the wire), then pairwise signature agreement
    * — the estimator of Jaccard between source vocabularies. Finds
    * near-duplicate sites/feeds without ever joining documents. */
  def q_source_similarity(spark: SparkSession, dir: String): DataFrame = {
    val k = CorpusQueries.MinhashK
    // the signature table self-joins, but both sides are the IDENTICAL
    // agg subtree — AQE stage reuse runs the corpus shingle pass once
    // (an eager checkpoint measured 0.2 s → 1.0 s at sf0.1: redundant)
    val sigs = TextOps.withShingles(
      Tables.table(spark, dir, "documents"), CorpusQueries.ShingleN)
      .groupBy("source")
      .agg(graft.functions.MinHashAgg.minhashAgg(col("shingles"), k).as("sig"))
    sigs.as("x").join(sigs.as("y"), col("x.source") < col("y.source"))
      .select(
        col("x.source").as("a"), col("y.source").as("b"),
        size(filter(
          zip_with(col("x.sig"), col("y.sig"), (p, q) => p === q),
          m => m)).as("n_agree"))
      .withColumn("est_jaccard", round(col("n_agree") / lit(k.toDouble), 6))
      .orderBy(col("a").asc, col("b").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_similarity" -> (q_source_similarity _),
    "q_window_funcs" -> (q_window_funcs _),
    "q_vocab" -> (q_vocab _),
    "q_mixture_sample" -> (q_mixture_sample _),
    "q_curate" -> (q_curate _),
    "q_curate_incremental" -> (q_curate_incremental _),
    "q_decontaminate" -> (q_decontaminate _),
    "q_decontaminate_bloom" -> (q_decontaminate_bloom _),
    "q_scd2" -> (q_scd2 _),
    "q_interval_merge" -> (q_interval_merge _),
    "q_heavy_hitters" -> (q_heavy_hitters _),
    "q_split_dedup_aware" -> (q_split_dedup_aware _),
    "q_table_diff" -> (q_table_diff _),
    "q_histogram" -> (q_histogram _),
    "q_hopping_window" -> (q_hopping_window _),
    "q_sample_stratified" -> (q_sample_stratified _),
    "q_bigram_lm" -> (q_bigram_lm _),
    "q_perplexity" -> (q_perplexity _),
    "q_window_nav" -> (q_window_nav _),
    "q_redact" -> (q_redact _),
    "q_vec_quantize" -> (q_vec_quantize _),
    "q_grouping_cube" -> (q_grouping_cube _),
    "q_gap_fill" -> (q_gap_fill _),
    "q_range_frame" -> (q_range_frame _),
    "q_sessionize" -> (q_sessionize _),
    "q_asof_join" -> (q_asof_join _),
    "q_asof_forward" -> (q_asof_forward _),
    "q_range_join" -> (q_range_join _),
    "q_dedup_components" -> (q_dedup_components _),
    "q_tfidf" -> (q_tfidf _),
    "q_quantiles" -> (q_quantiles _),
    "q_sample_hash" -> (q_sample_hash _),
    "q_topk_per_group" -> (q_topk_per_group _),
  )

  val oracles: Map[String, String] = Map(
    "q_source_similarity" -> {
      val n = CorpusQueries.ShingleN
      val k = CorpusQueries.MinhashK
      val mins = (0 until k)
        .map(i => s"MIN(md5('$i:' || shingle)) AS mh$i").mkString(",\n    ")
      val agree = (0 until k)
        .map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS toks
         |             FROM documents),
         |sh AS (SELECT DISTINCT source, doc_id,
         |         array_to_string(toks[i:i+${n - 1}], ' ') AS shingle
         |       FROM tok, UNNEST(range(1, len(toks) - ${n - 2})) AS u(i)
         |       WHERE len(toks) >= $n),
         |mh AS (SELECT source,
         |    $mins
         |  FROM sh GROUP BY source)
         |SELECT x.source AS a, y.source AS b,
         |  $agree AS n_agree,
         |  round(($agree) / $k.0, 6) AS est_jaccard
         |FROM mh x JOIN mh y ON x.source < y.source
         |ORDER BY a ASC, b ASC""".stripMargin
    },
    "q_window_funcs" ->
      """WITH c AS (SELECT c_mktsegment, c_custkey,
        |             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
        |           FROM customer)
        |SELECT c_mktsegment, c_custkey, band,
        |  CAST(RANK() OVER wt AS INTEGER) AS rnk,
        |  CAST(DENSE_RANK() OVER wt AS INTEGER) AS drnk,
        |  round(PERCENT_RANK() OVER wt, 6) AS prank,
        |  round(CUME_DIST() OVER wt, 6) AS cdist,
        |  CAST(NTILE(4) OVER wo AS INTEGER) AS quartile
        |FROM c
        |WINDOW wt AS (PARTITION BY c_mktsegment ORDER BY band ASC),
        |       wo AS (PARTITION BY c_mktsegment ORDER BY band ASC, c_custkey ASC)
        |ORDER BY c_mktsegment ASC, c_custkey ASC""".stripMargin,
    "q_vocab" ->
      """SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        |      FROM documents)
        |GROUP BY term ORDER BY tf DESC, term ASC LIMIT 50""".stripMargin,
    "q_mixture_sample" -> {
      val cases = mixtureRates
        .map { case (s, r) => s"WHEN source = '$s' THEN '$r'" }
        .mkString(" ")
      s"""SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_doc_id
         |FROM documents
         |WHERE substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2)
         |      < CASE $cases ELSE '$mixtureDefault' END
         |GROUP BY source ORDER BY source ASC""".stripMargin
    },
    "q_curate" -> curateSql,
    "q_curate_incremental" -> curateSql,
    "q_decontaminate" -> decontaminateSql,
    // the Bloom prefilter never changes the result set (no false
    // negatives; false positives die in the exact join) — the naive
    // SQL is the oracle for the pruned plan too
    "q_decontaminate_bloom" -> decontaminateSql,
    "q_hopping_window" ->
      """SELECT CAST(ts AS DATE) - off::INTEGER AS window_start,
        |       event_type AS platform,
        |       COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM events, UNNEST(range(0, 7)) AS u(off)
        |GROUP BY 1, 2
        |ORDER BY window_start ASC, platform ASC""".stripMargin,
    "q_histogram" ->
      """WITH b AS (SELECT o_totalprice,
        |             ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
        |               AS bucket
        |           FROM orders)
        |SELECT CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n,
        |       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket ASC""".stripMargin,
    "q_table_diff" -> {
      // single line: a newline here would collide with the outer
      // stripMargin (its ' || ' would lose the first pipe)
      def dig(n: String, s: String) =
        s"md5((CASE WHEN $n IS NULL THEN ' null' ELSE $n END) || (CASE WHEN $s IS NULL THEN ' null' ELSE $s END))"
      s"""WITH b AS (SELECT c_custkey, ${dig("c_name", "c_mktsegment")} AS before_digest
         |           FROM customer),
         |aft AS (SELECT c_custkey, c_name,
         |          CASE WHEN c_custkey % 5 = 0 THEN 'X-' || c_mktsegment
         |               ELSE c_mktsegment END AS c_mktsegment
         |        FROM customer WHERE c_custkey % 17 <> 0
         |        UNION ALL
         |        SELECT -c_custkey, c_name, c_mktsegment FROM customer
         |        WHERE c_custkey % 19 = 0 AND c_custkey <> 0),
         |a AS (SELECT c_custkey, ${dig("c_name", "c_mktsegment")} AS after_digest
         |      FROM aft)
         |SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
         |       CASE WHEN b.before_digest IS NULL THEN 'added'
         |            WHEN a.after_digest IS NULL THEN 'removed'
         |            WHEN b.before_digest <> a.after_digest THEN 'changed'
         |       END AS kind,
         |       b.before_digest, a.after_digest
         |FROM b FULL JOIN a ON b.c_custkey = a.c_custkey
         |WHERE CASE WHEN b.before_digest IS NULL THEN 'added'
         |           WHEN a.after_digest IS NULL THEN 'removed'
         |           WHEN b.before_digest <> a.after_digest THEN 'changed'
         |      END IS NOT NULL
         |ORDER BY c_custkey ASC""".stripMargin
    },
    // the CMS prefilter keeps a superset (no underestimates) and the
    // exact count drops overestimates — the naive SQL is the oracle
    "q_heavy_hitters" ->
      """SELECT t AS term, COUNT(*) AS n
        |FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
        |GROUP BY t HAVING COUNT(*) >= 200
        |ORDER BY term ASC""".stripMargin,
    "q_interval_merge" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
        |             CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE AS e
        |           FROM events),
        |m AS (SELECT user_id, s, e,
        |        CASE WHEN MAX(e) OVER w1 IS NULL OR s > MAX(e) OVER w1
        |             THEN 1 ELSE 0 END AS new_i
        |      FROM e
        |      WINDOW w1 AS (PARTITION BY user_id ORDER BY s ASC, e ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |i AS (SELECT user_id, s, e,
        |        SUM(new_i) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
        |          ROWS UNBOUNDED PRECEDING) AS island
        |      FROM m)
        |SELECT user_id, MIN(s) AS island_start, MAX(e) AS island_end,
        |       COUNT(*) AS n_merged
        |FROM i GROUP BY user_id, island
        |ORDER BY user_id ASC, island_start ASC""".stripMargin,
    "q_scd2" ->
      """WITH dim AS (SELECT c_custkey, c_mktsegment,
        |               DATE '2024-01-01' AS valid_from,
        |               CASE WHEN c_custkey % 11 = 0 THEN DATE '2024-09-01'
        |                    ELSE CAST(NULL AS DATE) END AS valid_to
        |             FROM customer),
        |cur AS (SELECT * FROM dim WHERE valid_to IS NULL),
        |hist AS (SELECT * FROM dim WHERE valid_to IS NOT NULL),
        |upd AS (SELECT c_custkey,
        |               CASE WHEN c_custkey % 14 = 0 THEN c_mktsegment
        |                    ELSE 'MOVED-' || c_mktsegment END AS new_seg
        |        FROM customer WHERE c_custkey % 7 = 0
        |        UNION ALL
        |        SELECT -c_custkey, 'NEW-' || c_mktsegment
        |        FROM customer WHERE c_custkey % 13 = 0 AND c_custkey <> 0),
        |j AS (SELECT d.c_custkey, d.c_mktsegment, d.valid_from, d.valid_to,
        |             u.new_seg,
        |             u.c_custkey IS NOT NULL
        |               AND d.c_mktsegment IS DISTINCT FROM u.new_seg AS changed
        |      FROM cur d LEFT JOIN upd u USING (c_custkey))
        |SELECT c_custkey, c_mktsegment, valid_from, valid_to,
        |       valid_to IS NULL AS is_current
        |FROM (
        |  SELECT c_custkey, c_mktsegment, valid_from, valid_to FROM hist
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, valid_from,
        |         DATE '2024-06-01' AS valid_to
        |  FROM j WHERE changed
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, valid_from, valid_to
        |  FROM j WHERE NOT changed
        |  UNION ALL
        |  SELECT c_custkey, new_seg, DATE '2024-06-01', CAST(NULL AS DATE)
        |  FROM j WHERE changed
        |  UNION ALL
        |  SELECT u.c_custkey, u.new_seg,
        |         GREATEST(DATE '2024-06-01',
        |           COALESCE((SELECT MAX(h.valid_to) FROM hist h
        |                     WHERE h.c_custkey = u.c_custkey),
        |                    DATE '2024-06-01')),
        |         CAST(NULL AS DATE)
        |  FROM upd u WHERE NOT EXISTS
        |    (SELECT 1 FROM cur d WHERE d.c_custkey = u.c_custkey))
        |ORDER BY c_custkey ASC, valid_from ASC""".stripMargin,
    "q_sample_stratified" ->
      """WITH h AS (SELECT doc_id, lang,
        |             md5('rs:' || CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents)
        |SELECT lang,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h ASC)
        |         AS INTEGER) AS rank,
        |       doc_id
        |FROM h QUALIFY rank <= 10
        |ORDER BY lang ASC, rank ASC""".stripMargin,
    "q_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
        |             FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, toks[i::INTEGER] AS w1, toks[(i + 1)::INTEGER] AS w2
        |       FROM tok, UNNEST(range(1, len(toks))) AS u(i)),
        |cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
        |cu AS (SELECT w1, SUM(c12) AS c1 FROM cb GROUP BY w1),
        |vocab AS (SELECT COUNT(DISTINCT t) AS v
        |          FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(round(ln((c12 + 1.0) / (c1 + v)), 9) AS DECIMAL(20,9)) AS logp
        |  FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN vocab)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |       round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        |FROM scored GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin,
    "q_window_nav" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  first_value(o_orderkey) OVER wf AS first_order,
        |  last_value(o_orderkey) OVER wf AS last_order,
        |  nth_value(o_orderkey, 2) OVER wf AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC),
        |  wf AS (PARTITION BY o_custkey
        |         ORDER BY o_orderdate ASC, o_orderkey ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey ASC, o_orderkey ASC""".stripMargin,
    "q_perplexity" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
        |             FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, toks[i::INTEGER] AS w1, toks[(i + 1)::INTEGER] AS w2
        |       FROM tok, UNNEST(range(1, len(toks))) AS u(i)),
        |cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
        |cu AS (SELECT w1, SUM(c12) AS c1 FROM cb GROUP BY w1),
        |vocab AS (SELECT COUNT(DISTINCT t) AS v
        |          FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(round(ln((c12 + 1.0) / (c1 + v)), 9) AS DECIMAL(20,9)) AS logp
        |  FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN vocab),
        |doc AS (
        |  SELECT doc_id,
        |    round(exp(-round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6)), 6) AS ppl
        |  FROM scored GROUP BY doc_id),
        |rk AS (SELECT doc_id, ppl,
        |         ROW_NUMBER() OVER (ORDER BY ppl ASC, doc_id ASC) AS prank,
        |         COUNT(*) OVER () AS n
        |       FROM doc)
        |SELECT doc_id, ppl, (prank <= (n * 9) // 10) AS keep
        |FROM rk ORDER BY doc_id ASC""".stripMargin,
    "q_redact" -> {
      val p = DenyPattern
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$p')) AS n_redacted,
         |  md5(regexp_replace(text, '$p', '[REDACTED]', 'g')) AS redacted_md5
         |FROM documents ORDER BY doc_id ASC""".stripMargin
    },
    "q_vec_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    127.0 / greatest(
        |      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |      1e-30) AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, embedding, scale,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INTEGER)) AS qv
        |  FROM v)
        |SELECT vec_id, round(scale, 6) AS scale_r,
        |  len(list_filter(qv, qi -> abs(qi) = 127)) AS n_saturated,
        |  round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(range(1, len(embedding) + 1),
        |      i -> (CAST(embedding[i::INTEGER] AS DOUBLE)
        |              - CAST(qv[i::INTEGER] AS DOUBLE) / scale)
        |           * (CAST(embedding[i::INTEGER] AS DOUBLE)
        |              - CAST(qv[i::INTEGER] AS DOUBLE) / scale))),
        |    (a, b) -> a + b)), 6) AS recon_err
        |FROM q ORDER BY vec_id ASC""".stripMargin,
    "q_grouping_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)))
        |            AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid ASC, returnflag ASC, linestatus ASC""".stripMargin,
    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type AS platform, CAST(ts AS DATE) AS date,
        |         COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |cal AS (
        |  SELECT platform, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM (SELECT platform, MIN(date) AS d0, MAX(date) AS d1
        |        FROM daily GROUP BY platform))
        |SELECT cal.platform, cal.date,
        |       COALESCE(daily.n_events, 0) AS n_events,
        |       CAST(SUM(COALESCE(daily.n_events, 0)) OVER (
        |         PARTITION BY cal.platform ORDER BY cal.date ASC
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events
        |FROM cal LEFT JOIN daily
        |  ON cal.platform = daily.platform AND cal.date = daily.date
        |ORDER BY cal.platform ASC, cal.date ASC""".stripMargin,
    "q_range_frame" ->
      """WITH daily AS (
        |  SELECT event_type AS platform, CAST(ts AS DATE) AS date,
        |         COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT platform, date, n_events,
        |       CAST(SUM(n_events) OVER (PARTITION BY platform
        |         ORDER BY date - DATE '2024-01-01'
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
        |FROM daily ORDER BY platform ASC, date ASC""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT user_id, event_id, ts,
        |        CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
        |               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (SELECT user_id, ts,
        |        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |             ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
        |      FROM g)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end,
        |       (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS duration_sec
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id ASC, session_seq ASC""".stripMargin,
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |v AS (SELECT user_id, ts, MAX(event_id) AS view_event_id
        |      FROM e WHERE event_type = 'view' GROUP BY user_id, ts),
        |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, v.view_event_id, v.ts AS asof_ts
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id ASC""".stripMargin,
    "q_asof_forward" ->
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |p AS (SELECT user_id, ts, MAX(event_id) AS purchase_event_id
        |      FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |v AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'view')
        |SELECT v.event_id, v.user_id, v.ts, p.purchase_event_id, p.ts AS asof_ts
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts
        |ORDER BY v.event_id ASC""".stripMargin,
    "q_range_join" -> {
      val values = priceBands
        .map { case (b, lo, hi) => s"('$b', ${lo.toInt}, ${hi.toInt})" }
        .mkString(", ")
      s"""SELECT b.band, COUNT(*) AS n_orders,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
         |            AS DOUBLE) AS total
         |FROM orders o
         |JOIN (VALUES $values) AS b(band, lo, hi)
         |  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
         |GROUP BY b.band ORDER BY b.band ASC""".stripMargin
    },
    "q_split_dedup_aware" -> {
      val bucket = "substr(md5('split:' || CAST(COALESCE(c.canonical, d.doc_id) AS VARCHAR)), 1, 2)"
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
         |comp AS (SELECT node AS doc_id, MIN(lab) AS canonical
         |         FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |       COALESCE(c.canonical, d.doc_id) AS canonical,
         |       CASE WHEN $bucket < 'cc' THEN 'train'
         |            WHEN $bucket < 'e6' THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id ASC""".stripMargin
    },
    "q_dedup_components" ->
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
         |)
         |SELECT node AS doc_id, MIN(lab) AS component
         |FROM reach GROUP BY node ORDER BY doc_id ASC""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, round(tf * ln(n_docs / df), 6) AS score
        |      FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |         ORDER BY score DESC, term ASC) AS INTEGER) AS rank,
        |       term, score
        |FROM s QUALIFY rank <= 3
        |ORDER BY doc_id ASC, rank ASC""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 6) AS qty_p25,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS qty_p50,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 6) AS qty_p75,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 6) AS qty_p90,
        |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6) AS price_p50
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 2) < '28'
        |ORDER BY doc_id ASC""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_orderpriority,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |         ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank,
        |       o_orderkey, o_totalprice
        |FROM orders
        |QUALIFY rank <= 3
        |ORDER BY o_orderpriority ASC, rank ASC""".stripMargin,
  )
}
