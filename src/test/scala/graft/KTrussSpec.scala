package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.KTruss

/** Hand-built graphs for the delta-peel invariants the oracle can't
  * isolate (it replays full recomputes, so a decrement bug that
  * happens to cancel would only surface as a hash mismatch at some
  * scale factor — these pin the mechanism directly). */
class KTrussSpec extends SparkSpec {
  import spark.implicits._

  /** (u, v, support, min_sup) state from an undirected edge list:
    * support computed naively (fine at test size). */
  private def stateOf(edges: Seq[(Long, Long)], minSup: Int): DataFrame = {
    val norm = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    require(norm.distinct.size == norm.size)
    val nbrs = (norm.map(e => (e._1, e._2)) ++ norm.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    norm.map { case (u, v) =>
      (u, v, (nbrs(u) & nbrs(v)).size, minSup)
    }.toDF("u", "v", "support", "min_sup")
  }

  private def survivors(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("u", "v", "support").as[(Long, Long, Int)].collect().toSet

  test("a triangle with two dying edges decrements its survivor once") {
    // K4 on {1,2,3,4} (every edge support 2) plus a pendant triangle
    // {3,4,5}: edge (3,4) has support 3; (3,5) and (4,5) support 1.
    // min_sup=2 removes (3,5),(4,5) in one round — BOTH edges of the
    // dying triangle {3,4,5}. Its surviving edge (3,4) must lose
    // exactly ONE triangle (3→2, K4 intact); double-counting would
    // drop it to 1 and wrongly cascade the whole K4 away.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val (fin, done) = KTruss.peel(
      stateOf(k4 ++ Seq((3L, 5L), (4L, 5L)), minSup = 2),
      maxRounds = 8)
    assert(done)
    assert(survivors(fin) === k4.map { case (u, v) => (u, v, 2) }.toSet)
  }

  test("cascade: peeling outer triangles starves the shared edge") {
    // two triangles sharing edge (2,3): {1,2,3} and {2,3,4}. Edge
    // (2,3) has support 2; the four outer edges support 1.
    // min_sup=2: round 1 removes the four support-1 edges; (2,3)
    // loses both triangles (2→0) and dies in round 2 — empty truss.
    val (fin, done) = KTruss.peel(
      stateOf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)), minSup = 2),
      maxRounds = 8)
    assert(done)
    assert(fin.isEmpty)
  }

  test("mixed removal round: support-0 edges peel without enumeration, survivors stay exact") {
    // the round-12 optimization skips candidate enumeration for
    // removed edges with support 0 (they sit in zero pre-round
    // triangles by the peel's own induction). Pin a MIXED round:
    // K4 {1,2,3,4} (support 2 each) + pendant triangle {3,4,5}
    // ((3,5),(4,5) support 1; (3,4) support 3) + an isolated edge
    // (6,7) with support 0. min_sup=2 removes (3,5),(4,5),(6,7) in
    // one round — two enumerable edges AND a support-0 edge. The
    // dying triangle {3,4,5} must still decrement (3,4) exactly once
    // (3→2), the isolated edge must vanish without contributing
    // candidates, and the K4 survives intact.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val (fin, done) = KTruss.peel(
      stateOf(k4 ++ Seq((3L, 5L), (4L, 5L), (6L, 7L)), minSup = 2),
      maxRounds = 8)
    assert(done)
    assert(survivors(fin) === k4.map { case (u, v) => (u, v, 2) }.toSet)
  }

  test("a stable truss converges immediately and keeps exact supports") {
    // K5: every edge sits in 3 triangles; min_sup=3 removes nothing
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val (fin, done) = KTruss.peel(stateOf(k5.toSeq, minSup = 3),
      maxRounds = 8)
    assert(done)
    assert(survivors(fin) === k5.map { case (u, v) => (u, v, 3) }.toSet)
  }

  test("peel never frees the caller's staged-artifact blocks") {
    // q_ktruss hands peel a LAZY overlay on the staged support
    // artifact (a localCheckpoint — unrecomputable once unpersisted).
    // The peel's spent-list free and its scope's free must only ever
    // touch checkpoints the loop itself produced: freeing the overlay
    // would walk its lineage into the artifact and destroy it
    // session-wide.
    val artifact = stateOf(
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)), minSup = 2)
      .localCheckpoint(true)
    def overlay = artifact.select(col("u"), col("v"), col("support"), col("min_sup"))
    val (_, done1) = KTruss.peel(overlay, 8)
    assert(done1)
    // a second invocation, closed by its own scope, frees its rounds
    // and final state
    val (_, done2) = graft.operators.CheckpointBlocks.scoped(KTruss.peel(overlay, 8))
    assert(done2)
    assert(artifact.count() === 5) // artifact blocks intact, still readable
  }

  test("round cap: an unconverged peel reports done = false") {
    // the cascade graph needs TWO removal rounds; capping at one
    // leaves the starved shared edge (support 0) in the state, and
    // the peel must report non-convergence instead of returning it
    // as if it survived
    val (fin, done) = KTruss.peel(
      stateOf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)), minSup = 2),
      maxRounds = 1)
    assert(!done)
    assert(fin.where(col("support") < col("min_sup")).count() > 0)
  }

  test("no-broadcast trickle layout is bit-equal (the scale fallback is a code path)") {
    // broadcastTrickle = false is the guarded fallback for graphs
    // whose removal cascade outgrows a broadcast (round-12 verdict's
    // scale-safety item). Under withoutAutoBroadcast the fallback
    // CANNOT contain a BroadcastExchange (no hints, no auto
    // threshold), so equality here proves the shuffled shapes reach
    // the identical fixpoint — supports, survivors, convergence.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (3L, 5L), (4L, 5L), (6L, 7L))
    val viaBroadcast = {
      val (fin, done) = KTruss.peel(stateOf(edges, minSup = 2), maxRounds = 8)
      assert(done)
      survivors(fin)
    }
    withoutAutoBroadcast {
      val (fin, done) = KTruss.peel(stateOf(edges, minSup = 2),
        maxRounds = 8, broadcastTrickle = false)
      assert(done)
      assert(survivors(fin) === viaBroadcast)
    }
  }
}
