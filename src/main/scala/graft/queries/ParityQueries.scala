package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Load
import graft.io.{MusicCsv, Tables}

/** SURVEY.md §2 operator inventory re-expressed over the driver's
  * synthetic testdata, one registered query per operator family, each
  * with a DuckDB oracle in [[graft.SparkEntry.oracleSql]].
  *
  * These are not toy demos: where the operator lives in library code
  * ([[Load.upsert]], [[Load.updateColumn]], [[MusicCsv.keepBestRow]])
  * the query drives that code, so the oracle gate covers the same
  * implementation the music pipeline uses.
  *
  * Scale discipline (100 TB): every query is a declarative plan —
  * filters and prunes reach the parquet scan, small sides broadcast,
  * aggregations are partially applied map-side, and all output is
  * deterministic (exact decimal arithmetic or untouched input doubles,
  * total-order sorts).
  */
object ParityQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(spark, dir, name)

  /** S9/J7: `INSERT … ON CONFLICT DO NOTHING RETURNING` via the real
    * [[Load.upsert]] anti-join chain. Existing = every 3rd customer,
    * batch = every 2nd; RETURNING = batch minus key conflicts. */
  def q_upsert_returning(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    val existing = c.where(col("c_custkey") % 3 === 0)
    val batch = c.where(col("c_custkey") % 2 === 0)
    val (inserted, _) =
      Load.upsert(existing, batch, Seq(Seq("c_custkey")), Seq(col("c_name").asc))
    inserted.orderBy(col("c_custkey").asc)
  }

  /** S14/O5: keep-best-row dedup through [[MusicCsv.keepBestRow]] —
    * first order per customer under an explicit total order (the
    * set-based form of the reference's insert-priority trick). */
  def q_keep_best_row(spark: SparkSession, dir: String): DataFrame =
    MusicCsv.keepBestRow(
      t(spark, dir, "orders"),
      Seq("o_custkey"),
      Seq(col("o_orderdate").asc, col("o_orderkey").asc))
      .select(
        col("o_custkey"),
        col("o_orderkey").as("first_orderkey"),
        to_date(col("o_orderdate")).as("first_date"))
      .orderBy(col("o_custkey").asc)

  /** S10: set-based fill-if-NULL column update via [[Load.updateColumn]].
    * Segment is nulled for custkey%5==0; updates target custkey%2==0 —
    * only the NULL rows among them actually change. */
  def q_join_update(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val base = c.select(
      col("c_custkey"), col("c_name"),
      when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_mktsegment"))
        .as("c_mktsegment"))
    val updates = c.where(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), concat(lit("FILLED-"), col("c_name")).as("c_mktsegment"))
    val (_, updated) = Load.updateColumn(base, updates, "c_custkey", "c_mktsegment")
    updated.orderBy(col("c_custkey").asc)
  }

  /** J6/U2: dict-union-with-right-priority = full outer join +
    * coalesce (the reference's `spotify | apple` merge). */
  def q_full_outer_merge(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val left = c.where(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), concat(lit("L-"), col("c_name")).as("l_val"))
    val right = c.where(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), concat(lit("R-"), col("c_name")).as("r_val"))
    left.join(right, Seq("c_custkey"), "full_outer")
      .select(
        col("c_custkey"),
        coalesce(col("r_val"), col("l_val")).as("merged"))
      .orderBy(col("c_custkey").asc)
  }

  /** J4/U3: orphan GC — customers that no order references
    * (`NOT EXISTS`, the trigger X3/X4 keep-set logic) as a left anti
    * join. */
  def q_orphan_gc(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
    c.join(o.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy(col("c_custkey").asc)
  }

  /** J5/A3: existence keep-set — parts referenced by at least one
    * lineitem (left semi), aggregated per brand. */
  def q_semi_join(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    val l = t(spark, dir, "lineitem")
    p.join(l.select(col("l_partkey").as("p_partkey")), Seq("p_partkey"), "left_semi")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("p_brand").asc)
  }

  /** X5 retention: event-time-relative TTL — keep rows newer than
    * (global max date − 15 days), computed with a broadcast scalar,
    * never a driver collect. At scale with a date-partitioned fact
    * this is a partition drop. */
  def q_retention(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events").withColumn("date", to_date(col("ts")))
    val maxd = e.agg(max(col("date")).as("maxd"))
    e.crossJoin(broadcast(maxd))
      .where(col("date") > date_sub(col("maxd"), 15))
      .groupBy(col("event_type").as("platform"))
      .agg(
        count(lit(1)).as("n_kept"),
        min(col("date")).as("min_date"),
        max(col("date")).as("max_date"))
      .orderBy(col("platform").asc)
  }

  /** P2/P4/P6: point-date filter + IN-list + null test — the predicate
    * stack that must all reach the scan (pushdown-verified in
    * PLANS.md). */
  def q_point_filter(spark: SparkSession, dir: String): DataFrame =
    // date predicate via the raw-nanos range reader so it reaches the
    // scan (see Tables.eventsBetween); IN-list and null test push as-is
    Tables.eventsBetween(spark, dir, "2024-01-15T00:00:00Z", "2024-01-16T00:00:00Z")
      .where(
        col("user_id").isin((1L to 50L): _*) &&
        col("props").isNotNull)
      .select(
        col("event_id"), col("user_id"),
        col("event_type").as("platform"),
        // raw DOUBLE passthrough: untouched input bytes are identical in
        // both engines; a double→decimal cast would re-round per engine
        col("value"))
      .orderBy(col("event_id").asc)

  /** O1/O2: global top-k under a total order (TakeOrderedAndProject —
    * no full sort at scale). */
  def q_topk(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_totalprice")
      .limit(10)

  /** U1: order-preserving tagged union — position is an explicit
    * column (row_number per source), never implicit row order. Both
    * branches rank in ONE fused
    * [[graft.operators.ExactRank.withGroupedRank]] pass over
    * (source, name, c_custkey): a single range shuffle + counting job
    * instead of one rank pass per branch (and instead of the naive
    * `PARTITION BY source` window, which constant-folds the literal
    * tag away and funnels the whole branch through one task);
    * c_custkey tiebreaks make the rank a total order. */
  def q_union_tagged(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    def branch(segment: String, source: String) =
      c.where(col("c_mktsegment") === segment)
        .select(lit(source).as("source"), col("c_name").as("name"),
          col("c_custkey"))
    val tagged = branch("BUILDING", "Spotify")
      .unionByName(branch("MACHINERY", "Apple Music"))
    graft.operators.ExactRank
      .withGroupedRank(tagged, "source",
        Seq(col("name").asc, col("c_custkey").asc), "_gr")
      .select(col("source"), col("name"), col("_gr").cast("int").as("position"))
      .orderBy(col("source").asc, col("position").asc)
  }

  /** Beyond-parity: ROLLUP hierarchy aggregation (engine completeness;
    * the reference has no grouping sets, a real warehouse does). */
  def q_rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // sum in exact decimal, emit as DOUBLE: the oracle harness
        // coerces decimal results through float64, where trailing-zero
        // decimals ("505.00" vs "505.0") render differently per path —
        // a double output is byte-identical through every path
        sum(col("l_quantity").cast("decimal(14,2)"))
          .cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag").asc, col("linestatus").asc)

  /** A-family headline (TPC-H Q1 shape): multi-aggregate pricing
    * summary with exact decimal arithmetic and a pushed-down date
    * filter. Bench headline — one scan, partial aggs map-side. */
  def q_pricing_summary(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val price = col("l_extendedprice").cast("decimal(14,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    val tax = col("l_tax").cast("decimal(4,2)")
    l.where(to_date(col("l_shipdate")) <= lit("2024-06-30"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // exact decimal sums, DOUBLE at the output boundary (see
        // q_rollup — decimal outputs don't survive the oracle's
        // float64 coercion when values carry trailing zeros)
        sum(col("l_quantity").cast("decimal(14,2)"))
          .cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (lit(1) - disc)).cast("double").as("sum_disc_price"),
        sum(price * (lit(1) - disc) * (lit(1) + tax))
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
  }

  /** F1-F7 scalar-function bundle: split/element_at, search-query
    * build, base64, Markdown escaping, embed-URL rewrite — all
    * codegen'd builtins, no UDFs. */
  def q_scalar_funcs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(
        col("c_custkey"),
        element_at(split(col("c_name"), "#"), -1).as("id_suffix"),
        concat_ws(" ",
          concat(lit("segment:"), col("c_mktsegment")),
          concat(lit("track:"), col("c_name"))).as("search_q"),
        base64(encode(col("c_name"), "UTF-8")).as("b64"),
        regexp_replace(col("c_name"), "([`_*~{}\\[\\]()#+\\-.!|$])", "\\\\$1")
          .as("escaped"),
        concat(
          regexp_replace(
            concat(lit("https://open.spotify.com/track/"), col("c_custkey")),
            "/track/", "/embed/track/"),
          lit("?theme=0")).as("embed_url"))
      .orderBy(col("c_custkey").asc)

  /** F8-F10 + interval arithmetic: ISO + human date formats, day/year
    * offsets (the view and render date logic). */
  def q_date_funcs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("date"))
      .distinct()
      .select(
        col("date"),
        date_format(col("date"), "EEEE, MMMM d, yyyy").as("human"),
        date_format(col("date"), "yyyy-MM-dd").as("iso"),
        date_add(col("date"), 1).as("next_day"),
        add_months(col("date"), -12).as("year_ago"))
      .orderBy(col("date").asc)

  /** F11 + S15: the delta-glyph render pipeline in-engine — glyphs
    * (NULL→"new", +n, n, 0→"—") and a Markdown row per ranking for the
    * final chart date. */
  def q_delta_glyph(spark: SparkSession, dir: String): DataFrame = {
    val delta = ChartQueries.rankingsWithDelta(t(spark, dir, "events"))
      .where(col("date") === lit("2024-01-30"))
    val glyph = when(col("delta").isNull, lit("new"))
      .when(col("delta") > 0, concat(lit("+"), col("delta")))
      .when(col("delta") < 0, col("delta").cast("string"))
      .otherwise(lit("—"))
    delta
      .withColumn("glyph", glyph)
      .withColumn("line",
        concat_ws(" | ", col("glyph"), col("rank"), col("entity_id")))
      .select("platform", "rank", "entity_id", "glyph", "line")
      .orderBy(col("platform").asc, col("rank").asc)
  }

  /** Beyond-parity window coverage: rolling 7-day event volume per
    * platform (frame-based window; the reference only uses LAG). */
  def q_rolling_window(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("date"), col("event_type").as("platform"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("platform").orderBy(col("date").asc)
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("rolling_7d", sum(col("n_events")).over(w))
      .orderBy(col("date").asc, col("platform").asc)
  }

  /** A1 general form: STRING_AGG ordered by a key OTHER than the
    * aggregated value — sort_array over (key, value) structs, then
    * project the value out (negated balance ⇒ descending order). */
  def q_ordered_agg_struct(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(
              (-col("c_acctbal")).as("neg_bal"), col("c_name").as("name")))),
            x => x.getField("name")),
          ", ").as("by_balance_desc"))
      .orderBy(col("nation").asc)
  }

  /** W2 positional ranking, oracle-gated: [[graft.etl.Normalize.rankings]]
    * (rank = 1-based position within each source partition, stamped
    * with the injected load date — reference `etl_pipeline.py:839-850`)
    * driven by an orders-derived doc set. position := o_orderkey
    * (globally unique, so the window's total order is deterministic),
    * source := o_orderpriority.
    *
    * Scale: ONE partitioned window (partition count = the source set,
    * exactly the reference's two-platform shape) — no global window,
    * no extra exchange beyond the partition hash. */
  def q_positional_rank(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "orders").select(
      col("o_orderkey").as("isrc"),
      col("o_orderkey").as("position"),
      col("o_orderpriority").as("source"))
    graft.etl.Normalize.rankings(docs, java.sql.Date.valueOf("2024-06-01"))
      .orderBy(col("ranking_source").asc, col("rank").asc)
  }

  /** F13 explode-normalize, oracle-gated: [[graft.etl.Normalize.artists]]
    * (explode the nested artist array, dedup across docs sharing an
    * artist — reference `etl_pipeline.py` nested-artists handling)
    * over a lineitem-derived nest. The dedup keeps each id's least
    * name (the load's priority); here artist_name is a pure function
    * of artist_id, so every choice agrees with the oracle's DISTINCT.
    *
    * Scale: the nest build is one partial-agg'd groupBy; explode is
    * map-side; the dedup is a hash aggregate on the exploded key. */
  def q_explode_normalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("isrc"))
      .agg(collect_list(struct(
        col("l_partkey").as("artist_id"),
        concat(lit("part_"), col("l_partkey")).as("artist_name"))).as("artists"))
    ContractSort(graft.etl.Normalize.artists(docs), col("artist_id").asc)
  }

  /** P3 + A4 exactly-k guard, oracle-gated: the reference refuses to
    * load a chart that doesn't carry exactly 10 entries
    * (`etl_pipeline.py` pre-load assertion). In-engine: count the
    * ranked top-k rows per (date, platform) and emit the guard
    * verdict per group — a loader keeps the `ok` groups and routes
    * the rest to quarantine.
    *
    * Scale: rides the shared (date, platform) exchange of the
    * ranking pipeline; the guard itself is one partial-agg'd count
    * over already-tiny top-k groups. */
  def q_count_guard(spark: SparkSession, dir: String): DataFrame =
    ChartQueries.rankings(t(spark, dir, "events"))
      .groupBy("date", "platform")
      .agg(count(lit(1)).as("n"))
      .withColumn("ok", col("n") === 10)
      .orderBy(col("date").asc, col("platform").asc)

  /** A2 scalar lookup aggregate, oracle-gated: attach a
    * whole-table scalar (the global mean balance) to every row and
    * compare — the reference's scalar-subquery lookup shape. The
    * comparison is EXACT integer math (`bal_c · n > Σ bal_c` instead
    * of a float division), so both engines agree bit-for-bit.
    *
    * Scale: one partial-agg'd scalar aggregation, broadcast back via
    * the attach-a-scalar crossJoin(broadcast(·)) pattern — the fact
    * never shuffles. */
  def q_scalar_lookup(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_custkey"),
      round(col("c_acctbal") * 100).cast("long").as("bal_c"))
    val g = c.agg(sum(col("bal_c")).as("s"), count(lit(1)).as("n"))
    c.crossJoin(broadcast(g))
      .select(col("c_custkey"), col("bal_c"),
        (col("bal_c") * col("n") > col("s")).as("above_avg"))
      .orderBy(col("c_custkey").asc)
  }

  /** P5 view projection/rename, oracle-gated: the reference's view
    * layer is projection + rename + a fixed ordering over the ranking
    * fact (`all_rankings_view`, `create_schema_behavior.sql:96-108`) —
    * here over the testdata ranking pipeline with the reference's
    * column names. Scale: a view adds NO physical operators (Catalyst
    * collapses the projection into the child plan); the one shuffle
    * is the ranking pipeline's own. */
  def q_view_projection(spark: SparkSession, dir: String): DataFrame =
    ChartQueries.rankings(t(spark, dir, "events"))
      .select(col("date").as("ranking_date"),
        col("platform").as("ranking_source"),
        col("entity_id").as("isrc"), col("rank"))
      .orderBy(col("ranking_date").desc, col("ranking_source").asc,
        col("rank").asc)

  /** P7 positional split + P4 membership predicate, oracle-gated: the
    * reference splits formatted strings positionally (renderer's
    * "artist - song" split) and gates loads on IN-list membership.
    * Here: split c_name on '#' into head/tail/last, membership on the
    * segment dimension. Scale: all map-side; the predicate prunes at
    * the scan. */
  def q_positional_split(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .where(col("c_mktsegment").isin("FURNITURE", "AUTOMOBILE")
        && col("c_name").isNotNull)
      .select(col("c_custkey"),
        split(col("c_name"), "#").getItem(0).as("prefix"),
        split(col("c_name"), "#").getItem(1).as("id_digits"),
        element_at(split(col("c_name"), "#"), -1).as("last_part"))
      .orderBy(col("c_custkey").asc)

  /** P1 nested-JSON projection, oracle-gated: parse the `props` JSON
    * payload carried by the events fact and project a typed field out
    * (the reference's API-response → columns step,
    * `etl_pipeline.py` JSON handling). The 1/97 key slice keeps the
    * dump bounded without losing the parse-then-project shape.
    *
    * Scale: from_json is a codegen'd map-side expression; the slice
    * predicate prunes before the parse; no shuffle at all until the
    * output sort. */
  def q_nested_projection(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .where(pmod(col("event_id"), lit(97)) === 0)
      .select(
        col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))
          .getField("k").as("k"),
        col("event_type"))
      .orderBy(col("event_id").asc)
}
