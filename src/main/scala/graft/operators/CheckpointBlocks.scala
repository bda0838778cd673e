package graft.operators

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifetimes of the storage blocks behind `localCheckpoint(eager = true)`
  * frames. A local checkpoint's blocks ARE its data — its lineage is
  * truncated, so a freed checkpoint cannot be recomputed and any plan
  * still reading it fails. Two rules follow:
  *
  *  - An iterative loop frees its superseded rounds in line with
  *    [[free]] (PageRank, connected components, the peels): nothing
  *    reads a spent round again.
  *  - A checkpoint embedded in a RETURNED lazy plan must outlive the
  *    function that built it, because the caller has not executed the
  *    plan yet. Such sites call [[local]], which registers the
  *    checkpoint with the innermost [[scoped]] block open on the
  *    current thread; closing that block frees it. The code that runs
  *    plans owns the scope (a Bench rep, a Verify query, a spec test),
  *    so every plan built inside a scope stays readable until the
  *    scope ends, however many plans are built before any runs. A
  *    [[Wave]] worker runs inside its caller's open scopes, so what it
  *    registers is freed with the caller's scope.
  *
  * With no scope open, [[local]] does not track the checkpoint and
  * Spark's ContextCleaner reclaims it once nothing references it.
  * Session-wide artifacts (StageCache) never go through [[local]]: the
  * first query's scope would free them.
  *
  * `Dataset.unpersist` routes through the CacheManager, which has NO
  * entry for a checkpoint's persisted RDD, so it is a silent no-op on
  * a checkpointed frame. The persisted RDD is reachable from the
  * frame's physical scan, so [[free]] walks the (one-node-deep,
  * post-checkpoint) RDD lineage and unpersists anything holding
  * storage. Spark logs a WARN ("lineage has been truncated and cannot
  * be recomputed") per freed checkpoint; that is the expected contract
  * here, not a defect. */
private[graft] object CheckpointBlocks {

  /** Unpersists every RDD in `df`'s lineage that holds storage and
    * returns how many it unpersisted. */
  def free(df: DataFrame): Int = {
    def walk(r: RDD[_]): Int = {
      val own =
        if (r.getStorageLevel == StorageLevel.NONE) 0
        else { r.unpersist(blocking = false); 1 }
      own + r.dependencies.map(d => walk(d.rdd)).sum
    }
    walk(df.queryExecution.toRdd)
  }

  def free(dfs: Iterable[DataFrame]): Unit = dfs.foreach(free)

  /** Open scopes on this thread, innermost first. */
  private val open =
    ThreadLocal.withInitial[List[ArrayBuffer[DataFrame]]](() => Nil)

  /** RDDs freed by closed scopes, process-wide. */
  private[graft] val scopeFreed = new AtomicLong(0)

  /** Runs `body` in a new scope on the current thread; when it returns
    * or throws, frees every checkpoint [[local]] registered in it. */
  def scoped[T](body: => T): T = {
    val outer = open.get
    val mine = ArrayBuffer.empty[DataFrame]
    open.set(mine :: outer)
    try body
    finally {
      open.set(outer)
      mine.synchronized(mine.toList).foreach(cp => scopeFreed.addAndGet(free(cp)))
    }
  }

  /** An eager local checkpoint of `df`, freed when the innermost open
    * scope closes (untracked when none is open). Registration is
    * thread-safe: [[Wave]] workers share their caller's scopes. */
  def local(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    open.get.headOption.foreach(s => s.synchronized(s += cp))
    cp
  }

  /** This thread's open scopes, for [[withScopes]] on another thread. */
  private[operators] def openScopes: List[ArrayBuffer[DataFrame]] = open.get

  /** Runs `body` on this thread inside `scopes` (another thread's
    * [[openScopes]]), then puts this thread's own scopes back. */
  private[operators] def withScopes[T](scopes: List[ArrayBuffer[DataFrame]])(body: => T): T = {
    val own = open.get
    open.set(scopes)
    try body
    finally open.set(own)
  }
}
