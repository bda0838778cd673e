package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.{CheckpointBlocks, Wave}
import graft.vector.VectorOps

/** Checkpoint lifetimes: a plan built inside a scope stays readable
  * until the scope closes, however many plans are built before any
  * runs; closing the scope frees exactly what it registered. The
  * storage checks read the registered RDDs' own storage levels, not
  * the context-wide persisted count, so other suites sharing the
  * SparkContext cannot disturb them. */
class CheckpointScopeSpec extends SparkSpec {
  import spark.implicits._

  /** The RDDs in `df`'s lineage that currently hold storage. */
  private def persistedIn(df: DataFrame): Seq[RDD[_]] = {
    def walk(r: RDD[_]): Seq[RDD[_]] =
      (if (r.getStorageLevel != StorageLevel.NONE) Seq(r) else Nil) ++
        r.dependencies.flatMap(d => walk(d.rdd))
    walk(df.queryExecution.toRdd).distinct
  }

  private def freed(rdds: Seq[RDD[_]]): Boolean =
    rdds.forall(_.getStorageLevel == StorageLevel.NONE)

  /** Four vectors whose only near-duplicate pair is (offset, offset + 1). */
  private def vectors(offset: Long): DataFrame = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.99f, 0.1f, 0.0f, 0.0f)),
    (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
    (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),
  ).map { case (id, e) => (id + offset, e) }.toDF("vec_id", "embedding")

  private val tables = VectorOps.hyperplaneTables(7L, 8, 4, 4)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("a", "b").as[(Long, Long)].collect().toSet

  test("nearDupPairsLsh over two vector frames: both built plans execute") {
    val a = VectorOps.nearDupPairsLsh(vectors(0L), tables, 0.9)
    val b = VectorOps.nearDupPairsLsh(vectors(10L), tables, 0.9)
    assert(pairs(a) == Set((0L, 1L)))
    assert(pairs(b) == Set((10L, 11L)))
  }

  test("a closed scope leaves none of its registered RDDs persisted") {
    val freedBefore = CheckpointBlocks.scopeFreed.get
    val registered = CheckpointBlocks.scoped {
      val q = VectorOps.nearDupPairsLsh(vectors(0L), tables, 0.9)
      val cp = CheckpointBlocks.local(spark.range(1000).toDF("v"))
      assert(pairs(q) == Set((0L, 1L)) && cp.count() == 1000)
      val rdds = persistedIn(q) ++ persistedIn(cp)
      assert(rdds.size >= 2)
      rdds
    }
    assert(freed(registered))
    assert(CheckpointBlocks.scopeFreed.get - freedBefore >= registered.size)
  }

  test("a scope closing on another thread does not free this thread's checkpoint") {
    CheckpointBlocks.scoped {
      val mine = CheckpointBlocks.local(spark.range(100).toDF("v"))
      val mineRdds = persistedIn(mine)
      @volatile var theirs = Seq.empty[RDD[_]]
      val t = new Thread(() => CheckpointBlocks.scoped {
        val cp = CheckpointBlocks.local(spark.range(10).toDF("w"))
        theirs = persistedIn(cp)
      })
      t.start(); t.join()
      assert(theirs.nonEmpty && freed(theirs))
      assert(mineRdds.nonEmpty && !mineRdds.exists(_.getStorageLevel == StorageLevel.NONE))
      assert(mine.count() == 100)
    }
  }

  test("a scope that throws still frees its checkpoints") {
    var registered = Seq.empty[RDD[_]]
    val e = intercept[IllegalStateException] {
      CheckpointBlocks.scoped {
        registered = persistedIn(CheckpointBlocks.local(spark.range(100).toDF("v")))
        throw new IllegalStateException("query failed")
      }
    }
    assert(e.getMessage == "query failed")
    assert(registered.nonEmpty && freed(registered))
  }

  test("a checkpoint taken inside a wave is freed when the caller's scope closes") {
    val (registered, counts) = CheckpointBlocks.scoped {
      val cps = Wave.run(spark)(Seq(
        () => CheckpointBlocks.local(spark.range(100).toDF("v")),
        () => CheckpointBlocks.local(spark.range(10).toDF("w"))))
      val rdds = cps.flatMap(persistedIn)
      // the workers' scopes were the caller's: nothing freed yet
      assert(rdds.size >= 2 && !freed(rdds))
      (rdds, cps.map(_.count()))
    }
    assert(counts == Seq(100L, 10L))
    assert(freed(registered))
  }

  test("a wave member that throws: the wave waits for the others, then rethrows the first failure") {
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    def member(ms: Long)(body: => Long): () => Long = () => {
      threads.add(Thread.currentThread())
      Thread.sleep(ms)
      val v = body
      finished.incrementAndGet()
      v
    }
    val e = intercept[IllegalStateException] {
      Wave.run(spark)(Seq(
        member(400)(spark.range(1000).count()),
        () => throw new IllegalStateException("first member failed"),
        member(0)(throw new IllegalArgumentException("second member failed")),
        member(800)(spark.range(10).count())))
    }
    assert(e.getMessage == "first member failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second member failed"))
    // both slow members finished before run threw, and their threads exited
    assert(finished.get == 2)
    assert(threads.size == 3 && threads.toArray(Array.empty[Thread]).forall(!_.isAlive))
  }
}
