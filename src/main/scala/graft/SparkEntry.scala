package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AdvancedQueries, BehaviorQueries, ChartQueries, CorpusQueries, ParityQueries, PipelineQueries, ScaleQueries, InsightQueries, ReleaseQueries, SelectionQueries, StructureQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers here as a
  * (name → query over an sf-dir) pair, with equivalent ANSI SQL for the
  * driver's DuckDB oracle. Column names and row order are aligned
  * between the two on purpose: the oracle hash-compares values after
  * sorting columns by name, and every query ends in a total-order sort
  * so float-free deterministic output is guaranteed on both engines.
  */
object SparkEntry {

  /** The local-mode session the mains and specs run on: `cpus` worker
    * threads and as many shuffle partitions, UTC, no UI. */
  def localSession(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Flagship (SURVEY.md §7.5): LAG-gated day-over-day rank delta of the
    * daily top-10 entities per platform — the reference's
    * all_rankings_with_delta_view (W1+W2+O2) over the events fact. */
  def entry(spark: SparkSession): DataFrame =
    ChartQueries.q_rank_delta(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4/§2.5/§2.11 analytics surface
    "q_rank_delta" -> (ChartQueries.q_rank_delta _),
    "q_rank_delta_between" -> (ChartQueries.q_rank_delta_between _),
    "q_string_agg" -> (ChartQueries.q_string_agg _),
    // §2.1 sources/sinks semantics
    "q_upsert_returning" -> (ParityQueries.q_upsert_returning _),
    "q_keep_best_row" -> (ParityQueries.q_keep_best_row _),
    "q_join_update" -> (ParityQueries.q_join_update _),
    // §2.3 joins
    "q_full_outer_merge" -> (ParityQueries.q_full_outer_merge _),
    "q_orphan_gc" -> (ParityQueries.q_orphan_gc _),
    "q_semi_join" -> (ParityQueries.q_semi_join _),
    // §2.9-shaped retention + §2.2 predicates
    "q_retention" -> (ParityQueries.q_retention _),
    "q_point_filter" -> (ParityQueries.q_point_filter _),
    // §2.6 sorts/limits, §2.7 set ops
    "q_topk" -> (ParityQueries.q_topk _),
    "q_union_tagged" -> (ParityQueries.q_union_tagged _),
    // aggregations (incl. beyond-parity rollup)
    "q_rollup" -> (ParityQueries.q_rollup _),
    "q_pricing_summary" -> (ParityQueries.q_pricing_summary _),
    "q_ordered_agg_struct" -> (ParityQueries.q_ordered_agg_struct _),
    // §2.8 scalar functions, §2.5 windows, report pipeline
    "q_scalar_funcs" -> (ParityQueries.q_scalar_funcs _),
    "q_date_funcs" -> (ParityQueries.q_date_funcs _),
    "q_delta_glyph" -> (ParityQueries.q_delta_glyph _),
    "q_rolling_window" -> (ParityQueries.q_rolling_window _),
    // §2.5 W2 / §2.8 F13 / §2.2 P1 — the normalization operators,
    // oracle-gated over testdata-derived docs (round 6)
    "q_positional_rank" -> (ParityQueries.q_positional_rank _),
    "q_explode_normalize" -> (ParityQueries.q_explode_normalize _),
    "q_nested_projection" -> (ParityQueries.q_nested_projection _),
    "q_count_guard" -> (ParityQueries.q_count_guard _),
    "q_scalar_lookup" -> (ParityQueries.q_scalar_lookup _),
    "q_view_projection" -> (ParityQueries.q_view_projection _),
    "q_positional_split" -> (ParityQueries.q_positional_split _),
  ) ++ CorpusQueries.queries ++ ScaleQueries.queries ++ AdvancedQueries.queries ++ PipelineQueries.queries ++ BehaviorQueries.queries ++ SelectionQueries.queries ++ StructureQueries.queries ++ InsightQueries.queries ++ ReleaseQueries.queries
  // ^ training-data pipeline ops (dedup family, text analysis,
  //   similarity search) + scale techniques (skew salting, exact
  //   distinct, star rollup) + advanced ops (as-of/range joins,
  //   sessionization, dedup clustering, TF-IDF, quantiles, hash
  //   sampling) — SURVEY.md §7.3 north-star extensions

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_rank_delta" ->
      """WITH scores AS (
        |  SELECT CAST(ts AS DATE) AS date, event_type AS platform,
        |         user_id AS entity_id,
        |         SUM(CAST(value AS DECIMAL(14,2))) AS score
        |  FROM events GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT date, platform, entity_id,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY date, platform
        |           ORDER BY score DESC, entity_id ASC) AS INTEGER) AS rank
        |  FROM scores
        |), top AS (SELECT * FROM ranked WHERE rank <= 10)
        |SELECT date, platform, entity_id, rank,
        |       CASE WHEN LAG(date) OVER w = date - 1
        |            THEN LAG(rank) OVER w - rank END AS delta
        |FROM top
        |WINDOW w AS (PARTITION BY platform, entity_id ORDER BY date ASC)
        |ORDER BY date DESC, platform ASC, rank ASC""".stripMargin,
    "q_rank_delta_between" ->
      """WITH scores AS (
        |  SELECT CAST(ts AS DATE) AS date, event_type AS platform,
        |         user_id AS entity_id,
        |         SUM(CAST(value AS DECIMAL(14,2))) AS score
        |  FROM events GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT date, platform, entity_id,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY date, platform
        |           ORDER BY score DESC, entity_id ASC) AS INTEGER) AS rank
        |  FROM scores WHERE TRUE
        |), top AS (SELECT * FROM ranked WHERE rank <= 10)
        |SELECT t1.platform AS platform, t1.entity_id AS entity_id,
        |       t1.rank - t2.rank AS delta
        |FROM top t1 JOIN top t2
        |  ON t1.platform = t2.platform AND t1.entity_id = t2.entity_id
        |WHERE t1.date = DATE '2024-01-10' AND t2.date = DATE '2024-01-11'
        |ORDER BY platform ASC, delta DESC, entity_id ASC""".stripMargin,
    "q_string_agg" ->
      """SELECT n_name AS nation,
        |       n_name || ' - ' || STRING_AGG(c_name, ', ' ORDER BY c_name)
        |         AS formatted,
        |       COUNT(*) AS n_members
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY nation ASC""".stripMargin,
    "q_upsert_returning" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey % 2 = 0 AND c_custkey % 3 <> 0
        |ORDER BY c_custkey ASC""".stripMargin,
    "q_keep_best_row" ->
      """SELECT o_custkey, o_orderkey AS first_orderkey,
        |       CAST(o_orderdate AS DATE) AS first_date
        |FROM orders
        |QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC) = 1
        |ORDER BY o_custkey ASC""".stripMargin,
    "q_join_update" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 5 = 0 AND c_custkey % 2 = 0
        |         THEN 'FILLED-' || c_name
        |       WHEN c_custkey % 5 = 0 THEN NULL
        |       ELSE c_mktsegment END AS c_mktsegment
        |FROM customer ORDER BY c_custkey ASC""".stripMargin,
    "q_full_outer_merge" ->
      """WITH l AS (SELECT c_custkey, 'L-' || c_name AS l_val
        |           FROM customer WHERE c_custkey % 2 = 0),
        |     r AS (SELECT c_custkey, 'R-' || c_name AS r_val
        |           FROM customer WHERE c_custkey % 3 = 0)
        |SELECT COALESCE(l.c_custkey, r.c_custkey) AS c_custkey,
        |       COALESCE(r_val, l_val) AS merged
        |FROM l FULL JOIN r ON l.c_custkey = r.c_custkey
        |ORDER BY c_custkey ASC""".stripMargin,
    "q_orphan_gc" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey ASC""".stripMargin,
    "q_semi_join" ->
      """SELECT p_brand, COUNT(*) AS n_parts FROM part p
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        |GROUP BY p_brand ORDER BY p_brand ASC""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS date, event_type FROM events),
        |     m AS (SELECT MAX(date) AS maxd FROM e)
        |SELECT event_type AS platform, COUNT(*) AS n_kept,
        |       MIN(date) AS min_date, MAX(date) AS max_date
        |FROM e, m WHERE date > maxd - INTERVAL 15 DAY
        |GROUP BY event_type ORDER BY platform ASC""".stripMargin,
    "q_point_filter" ->
      """SELECT event_id, user_id, event_type AS platform, value
        |FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |  AND user_id BETWEEN 1 AND 50 AND props IS NOT NULL
        |ORDER BY event_id ASC""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_union_tagged" ->
      """SELECT * FROM (
        |  SELECT 'Spotify' AS source, c_name AS name,
        |         CAST(ROW_NUMBER() OVER (ORDER BY c_name ASC) AS INTEGER) AS position
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT 'Apple Music', c_name,
        |         CAST(ROW_NUMBER() OVER (ORDER BY c_name ASC) AS INTEGER)
        |  FROM customer WHERE c_mktsegment = 'MACHINERY')
        |ORDER BY source ASC, position ASC""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)))
        |            AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag ASC, linestatus ASC""".stripMargin,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)))
        |       AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)))
        |       AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2))))
        |       AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |      * (1 + CAST(l_tax AS DECIMAL(4,2))))
        |       AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '2024-06-30'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin,
    "q_scalar_funcs" ->
      ("""SELECT c_custkey,
        |  string_split(c_name, '#')[-1] AS id_suffix,
        |  'segment:' || c_mktsegment || ' track:' || c_name AS search_q,
        |  base64(encode(c_name)) AS b64,
        |  regexp_replace(c_name, '([`_*~{}""".stripMargin +
        "\\[\\]()#+\\-.!|$])', '\\\\\\1', 'g') AS escaped,\n" +
        """  replace('https://open.spotify.com/track/' || CAST(c_custkey AS VARCHAR),
        |          '/track/', '/embed/track/') || '?theme=0' AS embed_url
        |FROM customer ORDER BY c_custkey ASC""".stripMargin),
    "q_date_funcs" ->
      """SELECT date,
        |  strftime(date, '%A, %B %-d, %Y') AS human,
        |  strftime(date, '%Y-%m-%d') AS iso,
        |  date + 1 AS next_day,
        |  CAST(date - INTERVAL 1 YEAR AS DATE) AS year_ago
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders)
        |ORDER BY date ASC""".stripMargin,
    "q_delta_glyph" ->
      """WITH scores AS (
        |  SELECT CAST(ts AS DATE) AS date, event_type AS platform,
        |         user_id AS entity_id,
        |         SUM(CAST(value AS DECIMAL(14,2))) AS score
        |  FROM events GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT date, platform, entity_id,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY date, platform
        |           ORDER BY score DESC, entity_id ASC) AS INTEGER) AS rank
        |  FROM scores
        |), top AS (SELECT * FROM ranked WHERE rank <= 10),
        |d AS (
        |  SELECT date, platform, entity_id, rank,
        |         CASE WHEN LAG(date) OVER w = date - 1
        |              THEN LAG(rank) OVER w - rank END AS delta
        |  FROM top
        |  WINDOW w AS (PARTITION BY platform, entity_id ORDER BY date ASC)
        |), g AS (
        |  SELECT platform, rank, entity_id,
        |         CASE WHEN delta IS NULL THEN 'new'
        |              WHEN delta > 0 THEN '+' || CAST(delta AS VARCHAR)
        |              WHEN delta < 0 THEN CAST(delta AS VARCHAR)
        |              ELSE '—' END AS glyph
        |  FROM d WHERE date = DATE '2024-01-30')
        |SELECT platform, rank, entity_id, glyph,
        |       concat_ws(' | ', glyph, rank, entity_id) AS line
        |FROM g ORDER BY platform ASC, rank ASC""".stripMargin,
    "q_rolling_window" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS date, event_type AS platform,
        |         COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT date, platform, n_events,
        |  CAST(SUM(n_events) OVER (PARTITION BY platform ORDER BY date ASC
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_7d
        |FROM daily ORDER BY date ASC, platform ASC""".stripMargin,
    "q_ordered_agg_struct" ->
      """SELECT n_name AS nation,
        |  STRING_AGG(c_name, ', ' ORDER BY c_acctbal DESC, c_name ASC)
        |    AS by_balance_desc
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation ASC""".stripMargin,
    "q_positional_rank" ->
      """SELECT o_orderkey AS isrc, DATE '2024-06-01' AS ranking_date,
        |       CAST(ROW_NUMBER() OVER (
        |         PARTITION BY o_orderpriority
        |         ORDER BY o_orderkey ASC) AS INTEGER) AS rank,
        |       o_orderpriority AS ranking_source
        |FROM orders
        |ORDER BY ranking_source ASC, rank ASC""".stripMargin,
    "q_explode_normalize" ->
      """SELECT DISTINCT l_partkey AS artist_id,
        |       'part_' || l_partkey AS artist_name
        |FROM lineitem
        |ORDER BY artist_id ASC""".stripMargin,
    "q_nested_projection" ->
      """SELECT event_id,
        |       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |       event_type
        |FROM events WHERE event_id % 97 = 0
        |ORDER BY event_id ASC""".stripMargin,
    "q_count_guard" ->
      """WITH scores AS (
        |  SELECT CAST(ts AS DATE) AS date, event_type AS platform,
        |         user_id AS entity_id,
        |         SUM(CAST(value AS DECIMAL(14,2))) AS score
        |  FROM events GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT date, platform,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY date, platform
        |           ORDER BY score DESC, entity_id ASC) AS INTEGER) AS rank
        |  FROM scores
        |), top AS (SELECT * FROM ranked WHERE rank <= 10)
        |SELECT date, platform, COUNT(*) AS n, COUNT(*) = 10 AS ok
        |FROM top GROUP BY 1, 2
        |ORDER BY date ASC, platform ASC""".stripMargin,
    "q_scalar_lookup" ->
      """WITH c AS (SELECT c_custkey,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |           FROM customer),
        |g AS (SELECT CAST(SUM(bal_c) AS BIGINT) AS s, COUNT(*) AS n FROM c)
        |SELECT c_custkey, bal_c, bal_c * n > s AS above_avg
        |FROM c, g
        |ORDER BY c_custkey ASC""".stripMargin,
    "q_view_projection" ->
      """WITH scores AS (
        |  SELECT CAST(ts AS DATE) AS date, event_type AS platform,
        |         user_id AS entity_id,
        |         SUM(CAST(value AS DECIMAL(14,2))) AS score
        |  FROM events GROUP BY 1, 2, 3
        |), ranked AS (
        |  SELECT date, platform, entity_id,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY date, platform
        |           ORDER BY score DESC, entity_id ASC) AS INTEGER) AS rank
        |  FROM scores
        |)
        |SELECT date AS ranking_date, platform AS ranking_source,
        |       entity_id AS isrc, rank
        |FROM ranked WHERE rank <= 10
        |ORDER BY ranking_date DESC, ranking_source ASC, rank ASC""".stripMargin,
    "q_positional_split" ->
      """SELECT c_custkey,
        |       string_split(c_name, '#')[1] AS prefix,
        |       string_split(c_name, '#')[2] AS id_digits,
        |       string_split(c_name, '#')[-1] AS last_part
        |FROM customer
        |WHERE c_mktsegment IN ('FURNITURE', 'AUTOMOBILE')
        |  AND c_name IS NOT NULL
        |ORDER BY c_custkey ASC""".stripMargin,
  ) ++ CorpusQueries.oracles ++ ScaleQueries.oracles ++ AdvancedQueries.oracles ++ PipelineQueries.oracles ++ BehaviorQueries.oracles ++ SelectionQueries.oracles ++ StructureQueries.oracles ++ InsightQueries.oracles ++ ReleaseQueries.oracles
}
