package graft.streaming

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.ChartQueries

/** Structured Streaming form of the chart pipeline (SURVEY.md §2.9):
  * the reference is a daily batch, but its semantics — append-only
  * fact, keyed dedup across batches, event-time retention — are
  * exactly watermarked streaming semantics, so the engine exposes
  * them as a streaming path too.
  *
  * Design: event-time watermark bounds state; per-event dedup uses
  * `dropDuplicatesWithinWatermark`; daily scores are a windowed
  * aggregation; cross-entity ranking (needs a per-day total order,
  * which no per-key streaming state can see) runs in `foreachBatch`
  * on the completed days the watermark releases — the streaming
  * version of the reference's FK-ordered daily load stages.
  *
  * Scale: state is keyed by (day, platform, entity) and evicted by
  * the watermark; shuffle partitioning follows the same keys as the
  * batch path, so a backfill (batch) and live tail (stream) produce
  * identical tables.
  */
object StreamingCharts {

  /** At-least-once sources → exactly-once facts: drop duplicate
    * event_ids, with state bounded by the watermark horizon
    * (`ON CONFLICT DO NOTHING` across micro-batches). */
  def dedupedEvents(events: DataFrame, watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Daily per-entity score: 1-day event-time windows, emitted once
    * the watermark closes the day (append mode). The streaming twin
    * of [[ChartQueries]]' dailyScores. */
  def dailyScores(events: DataFrame, watermark: String = "2 days"): DataFrame =
    dedupedEvents(events, watermark)
      .groupBy(
        window(col("ts"), "1 day").as("day"),
        col("event_type").as("platform"),
        col("user_id").as("entity_id"))
      .agg(sum(col("value").cast("decimal(14,2)")).as("score"))
      .select(
        to_date(col("day.start")).as("date"),
        col("platform"), col("entity_id"), col("score"))

  /** Streaming gap sessionization — the streaming twin of
    * [[graft.operators.Sessionize]]: `session_window` grows/merges
    * event-time windows separated by less than `gap`, and the
    * watermark closes and emits a session once no more events can
    * join it. Session end here is last-event + gap (the windowing
    * definition); the batch operator reports last-event itself —
    * both carried so the two paths reconcile. */
  def sessionStats(events: DataFrame, gap: String = "30 minutes", watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("first_event"),
        max(col("ts")).as("last_event"))
      .select(
        col("user_id"),
        col("session.start").as("session_start"),
        col("session.end").as("session_end"),
        col("first_event"), col("last_event"), col("n_events"))

  /** Watermarked stream-stream interval join: each purchase joined to
    * the same user's views from the preceding hour — the streaming
    * attribution join. Both sides carry watermarks and the join
    * condition bounds event-time distance, so state for either side
    * is dropped once the watermark passes the interval (unbounded
    * state otherwise). The batch twin is [[graft.operators.AsofJoin]]
    * (latest-one semantics); the interval join keeps ALL views in
    * the window — streaming can't know "latest" until the watermark
    * closes, which is why the operator family differs. */
  def purchaseViewJoin(
      purchases: DataFrame,
      views: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    p.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"),
      "leftOuter")
      .select("purchase_id", "user_id", "p_ts", "view_id", "v_ts")
  }

  /** Chart-streak tracking with explicit keyed state: consecutive
    * charted days per (platform, entity). A `flatMapGroupsWithState`
    * op — the kind of custom sessionization no built-in aggregate
    * expresses. Input rows are (platform, entity_id, date) chart
    * appearances in event-time order per key. */
  final case class Appearance(platform: String, entity_id: Long, date: Date)
  final case class StreakState(lastDate: Date, length: Int)
  final case class Streak(platform: String, entity_id: Long, date: Date, streak: Int)

  /** The ONE streak fold both state APIs share (parity between
    * [[trackStreaks]] and [[trackStreaksV2]] is spec-enforced, so the
    * logic must not fork): sort the micro-batch's rows by event time,
    * extend on consecutive days, re-emit on the same day, reset on a
    * gap — and DROP any appearance strictly before the stored
    * lastDate. Without that guard a LATE row arriving in a later
    * micro-batch (nothing upstream is required to watermark this
    * stream) would regress the state and permanently corrupt every
    * following streak; dropping it keeps the documented
    * "event-time order per key" contract enforced, not assumed. */
  /** Dropped-late-row observability (the documented no-watermark
    * tradeoff): dropping a late appearance protects streak state from
    * corruption, but it means the streaming result can diverge from a
    * batch recompute that WOULD count a legitimate backfill — so the
    * drops must be countable, not silent. One Spark accumulator per
    * application (registered driver-side, captured by the state
    * closures, so executor increments aggregate cluster-wide). */
  private val lateAccs = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.util.LongAccumulator]()
  private def lateAcc(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    lateAccs.computeIfAbsent(spark.sparkContext.applicationId, _ =>
      spark.sparkContext.longAccumulator("graft.streaming.droppedLateRows"))
  /** Total appearances dropped as late by streak tracking in this
    * application — monitoring reads this to tell "no backfills" from
    * "backfills being discarded". */
  def droppedLateRows(spark: SparkSession): Long = lateAcc(spark).value

  private def foldStreak(
      platform: String, entity: Long,
      prior: Option[StreakState],
      rows: Seq[Appearance],
      dropped: org.apache.spark.util.LongAccumulator): (Option[StreakState], Seq[Streak]) = {
    val sorted = rows.sortBy(_.date.toLocalDate.toEpochDay)
    val out = scala.collection.mutable.ArrayBuffer.empty[Streak]
    var cur = prior
    sorted.foreach { a =>
      val late = cur.exists(s => a.date.toLocalDate.isBefore(s.lastDate.toLocalDate))
      if (late) dropped.add(1)
      if (!late) {
        val len = cur match {
          case Some(StreakState(last, n))
              if last.toLocalDate.plusDays(1) == a.date.toLocalDate => n + 1
          case Some(StreakState(last, n)) if last == a.date => n
          case _ => 1
        }
        cur = Some(StreakState(a.date, len))
        out += Streak(platform, entity, a.date, len)
      }
    }
    (cur, out.toSeq)
  }

  def trackStreaks(appearances: Dataset[Appearance]): Dataset[Streak] = {
    import appearances.sparkSession.implicits._
    // registered driver-side, captured by the closure below
    val dropped = lateAcc(appearances.sparkSession)
    appearances
      .groupByKey(a => (a.platform, a.entity_id))
      .flatMapGroupsWithState[StreakState, Streak](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((platform, entity), rows, state: GroupState[StreakState]) =>
          val (cur, out) = foldStreak(platform, entity, state.getOption, rows.toSeq, dropped)
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** [[trackStreaks]] on Spark 4's arbitrary-state API
    * (`transformWithState` + `StatefulProcessor` + typed
    * `ValueState`): same streak semantics, but state is a declared,
    * schema-evolvable store the engine can TTL/timer against, and
    * the runtime requires the RocksDB state store (changelog
    * checkpointing, bounded memory) — the API new stateful pipelines
    * should target. Parity with the flatMapGroupsWithState form is
    * spec-enforced. */
  class StreakProcessor(dropped: org.apache.spark.util.LongAccumulator)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(String, Long), Appearance, Streak] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var state: ValueState[StreakState] = _

    override def init(
        outputMode: OutputMode,
        timeMode: TimeMode): Unit =
      state = getHandle.getValueState[StreakState](
        "streak", Encoders.product[StreakState], TTLConfig.NONE)

    override def handleInputRows(
        key: (String, Long),
        rows: Iterator[Appearance],
        timerValues: TimerValues): Iterator[Streak] = {
      val (cur, out) = foldStreak(key._1, key._2, Option(state.get()), rows.toSeq, dropped)
      cur.foreach(state.update)
      out.iterator
    }
  }

  def trackStreaksV2(appearances: Dataset[Appearance]): Dataset[Streak] = {
    import appearances.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    appearances
      .groupByKey(a => (a.platform, a.entity_id))
      .transformWithState(new StreakProcessor(lateAcc(appearances.sparkSession)),
        TimeMode.None(), OutputMode.Append())
  }

  /** End-to-end micro-batch sink: rank the completed days of each
    * micro-batch with the SAME batch operators (W2 ranking + W1
    * delta run on the store afterwards), append idempotently.
    * `foreachBatch` is where cross-entity total orders belong in a
    * streaming job. Returns rankings appended per batch. */
  def rankingSink(scores: DataFrame, store: RankingSink): org.apache.spark.sql.streaming.StreamingQuery =
    scores.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch is AT-LEAST-ONCE: a crash between the sink
        // write and the checkpoint commit replays the batch on
        // restart. Idempotence keys on batchId — the standard
        // transactional-sink recipe — so a replay is a no-op instead
        // of a duplicate day of rankings.
        store.appendOnce(batchId, rankBatch(batch))
        ()
      }
      .queryName("graft_ranking_sink")
      .start()
  // caller drains with processAllAvailable() between feeds — the
  // watermark only advances across micro-batches of one live query

  /** Top-10 ranking of a (date, platform, entity, score) batch —
    * identical total order to the batch path. */
  def rankBatch(scored: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = Window
      .partitionBy("date", "platform")
      .orderBy(col("score").desc, col("entity_id").asc)
    scored
      .withColumn("rank", row_number().over(byScore))
      .where(col("rank") <= k)
      .select("date", "platform", "entity_id", "rank")
  }

  /** The transactional-ish sink seam [[rankingSink]] writes through:
    * batch-id-keyed append, where a replayed micro-batch
    * (at-least-once foreachBatch) must commit nothing. */
  trait RankingSink {
    def appendOnce(batchId: Long, df: DataFrame): Unit
    def snapshot(): DataFrame
  }

  private val rankingSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("date", DateType), StructField("platform", StringType),
      StructField("entity_id", LongType), StructField("rank", IntegerType)))
  }

  /** Minimal append store for tests/demos: accumulates ranked days in
    * memory; the durable form is [[DurableRankingStore]]. */
  final class RankingStore(spark: SparkSession) extends RankingSink {
    import org.apache.spark.sql.Row
    private val schema = rankingSchema
    @volatile private var rows: Seq[Row] = Seq.empty
    private val committed = scala.collection.mutable.Set.empty[Long]
    def append(df: DataFrame): Unit = synchronized {
      rows = rows ++ df.collect().toSeq
    }
    /** Batch-id-keyed append: a replayed micro-batch (at-least-once
      * foreachBatch) commits nothing — models the txn-ish sink a
      * deployment implements with a (batchId → committed) ledger.
      * NB this in-memory Set only deduplicates SAME-JVM replays: a
      * crash between sink write and checkpoint commit followed by a
      * driver restart loses the ledger and duplicates anyway. A real
      * deployment must persist (batchId → committed) transactionally
      * WITH the data (one parquet commit, one DB txn) — this class is
      * a test double for the shape, not that guarantee. */
    def appendOnce(batchId: Long, df: DataFrame): Unit = synchronized {
      if (committed.add(batchId)) rows = rows ++ df.collect().toSeq
    }
    def snapshot(): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows), schema)
  }

  /** Durable ranking sink through [[graft.etl.ManifestParquet]]: the
    * (batchId → committed) ledger rides ON the rows (`batch_id`
    * column), so ledger and data land in the SAME atomic manifest
    * commit — the guarantee the in-memory [[RankingStore]] documents
    * itself as lacking. A driver restart (new store instance, same
    * root) rehydrates exactly the committed ledger from the table, so
    * a micro-batch replayed across the crash commits nothing
    * (crash-replay spec'd in StreamingSpec). Each micro-batch commits
    * an O(batch) append: its own data dir plus one manifest line. */
  final class DurableRankingStore(spark: SparkSession, root: String) extends RankingSink {
    private val fmt = new graft.etl.ManifestParquet(spark, root)
    private val table = "rankings"

    private def current(): Option[DataFrame] =
      if (fmt.currentVersion(table) > 0) Some(fmt.read(table)) else None

    /** The rehydrated ledger — exactly the batches whose data is
      * committed, by construction. */
    def committedBatchIds(): Set[Long] = current() match {
      case None => Set.empty
      case Some(cur) =>
        cur.select("batch_id").distinct()
          .collect().map(_.getLong(0)).toSet
    }

    def appendOnce(batchId: Long, df: DataFrame): Unit = synchronized {
      // an EMPTY micro-batch must still enter the row-borne ledger:
      // otherwise every at-least-once replay of it fails the check
      // below and commits yet another version (unbounded churn), and
      // committedBatchIds() never learns of it. Empty batches commit
      // one all-NULL sentinel row — rankBatch output never carries a
      // NULL rank, so snapshot() filters them out without ambiguity.
      val stamped0 = df.withColumn("batch_id", lit(batchId))
      val stamped =
        if (!df.isEmpty) stamped0
        else {
          val sentinelSchema = org.apache.spark.sql.types.StructType(
            stamped0.schema.map(f => f.copy(nullable = f.name != "batch_id")))
          spark.createDataFrame(
            java.util.Collections.singletonList(
              org.apache.spark.sql.Row.fromSeq(
                Seq.fill(df.schema.length)(null) :+ Long.box(batchId))),
            sentinelSchema)
        }
      val v = fmt.currentVersion(table)
      // the ledger check reads the SAME committed version the append
      // extends and arbitrates on — no window where data commits
      // without its ledger entry
      if (v == 0 ||
          fmt.readVersion(table, v).where(col("batch_id") === batchId).isEmpty)
        fmt.tryAppend(table, stamped, v, v): Unit
    }

    /** Committed-version probe (observability + the churn spec). */
    private[graft] def storeVersion: Long = fmt.currentVersion(table)

    def snapshot(): DataFrame = current() match {
      case Some(cur) => cur.where(col("rank").isNotNull).drop("batch_id")
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rankingSchema)
    }
  }
}
