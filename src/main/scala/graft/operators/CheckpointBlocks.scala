package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Frees the storage blocks behind a `localCheckpoint(eager = true)`
  * Dataset. `Dataset.unpersist` routes through the CacheManager,
  * which has NO entry for a checkpoint's persisted RDD — calling it
  * on a checkpointed frame is a silent no-op, and iterative
  * algorithms (PageRank, connected components) would accumulate one
  * |V|-sized block set per round until ContextCleaner GC happens to
  * run. The persisted RDD is reachable from the frame's physical
  * scan, so walk the (one-node-deep, post-checkpoint) RDD lineage and
  * unpersist anything holding storage.
  *
  * Only call on frames whose blocks nothing will read again: a local
  * checkpoint's blocks ARE its data — they cannot be recomputed.
  * Spark logs a WARN ("lineage has been truncated and cannot be
  * recomputed") per freed checkpoint; that is the expected contract
  * here, not a defect. */
private[graft] object CheckpointBlocks {

  def free(df: DataFrame): Unit = {
    def walk(r: RDD[_]): Unit = {
      if (r.getStorageLevel != StorageLevel.NONE) r.unpersist(blocking = false)
      r.dependencies.foreach(d => walk(d.rdd))
    }
    walk(df.queryExecution.toRdd)
  }

  def free(dfs: Iterable[DataFrame]): Unit = dfs.foreach(free)

  private final case class Registration(threadId: Long, df: DataFrame)

  private val lastPerSite =
    scala.collection.concurrent.TrieMap.empty[String, Registration]

  /** For checkpoints embedded in a RETURNED lazy plan: the blocks must
    * outlive the query function (the caller hasn't executed yet), so
    * they can't be freed in-line like a loop's superseded rounds.
    * Registering under a stable `site` key frees the PREVIOUS
    * registrant's blocks instead — a long-lived session (Bench's reps,
    * a notebook) holds at most one live set per call site rather than
    * accumulating one per invocation.
    *
    * Contract: by the time a site is invoked again, its prior result
    * has been consumed — SERIAL re-invocation per site. Concurrent
    * executions of the same site (two threads/sessions racing the same
    * query) are DETECTED AND DEGRADED, not corrupted: freeing a
    * concurrent caller's still-live blocks would fail it
    * unrecoverably (a local checkpoint's lineage is truncated — no
    * recompute path), so a re-registration from a DIFFERENT thread
    * than the previous registrant's skips the free and leaves those
    * blocks to ContextCleaner GC — a bounded leak instead of a
    * wrong-answer/crash. Same-thread re-registration (Bench's serial
    * reps, Verify's loop, a notebook) frees eagerly as before. Sites
    * are additionally scoped by applicationId so a different
    * SparkContext can never free this one's blocks; the
    * staged-artifact prewarm fans out across DIFFERENT artifacts,
    * never the same retire site, so it always takes the eager path. */
  def retire(site: String, df: DataFrame): DataFrame = {
    val key = s"${df.sparkSession.sparkContext.applicationId}|$site"
    val me = Thread.currentThread().getId
    lastPerSite.put(key, Registration(me, df)).foreach { prev =>
      if (prev.threadId == me) free(prev.df)
      else concurrentSkips.incrementAndGet()
    }
    df
  }

  /** A site-key component naming the dataset an operator-level
    * checkpoint was built from (the query-level sites scope by their
    * `|$dir` instead): two inputs through one operator must not share
    * a site, or building the second frees the first's live blocks.
    * Stable across re-reads of the same snapshot, so serial reruns
    * still free their predecessor. */
  def fingerprint(df: DataFrame): String =
    Integer.toHexString(df.queryExecution.analyzed.semanticHash())

  /** Cross-thread re-registrations that skipped the eager free
    * (observability for the degraded path — a growing count means a
    * caller is racing one site and leaning on ContextCleaner). */
  private[graft] val concurrentSkips = new java.util.concurrent.atomic.AtomicLong(0)
}
