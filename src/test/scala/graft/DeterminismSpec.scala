package graft

/** Engine-wide determinism: every registered query must produce
  * IDENTICAL rows under different shuffle fan-outs. Partition count
  * changes reorder float accumulation, hash-table iteration, and
  * partial-aggregate merges — if any query leaked that order into
  * its results (an unquantized double SUM, a missing tie-break), it
  * could pass one oracle run and fail the next at another scale.
  * This is the local stand-in for "same answer on a 1000-executor
  * cluster". */
class DeterminismSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("all registered queries are invariant to shuffle partitioning (3 vs 7)") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def runAll(): Map[String, Seq[String]] = {
      // re-mine the staged artifacts under THIS partitioning —
      // otherwise the memos would carry run A's results into run B and
      // the mining/scoring stages would escape the invariance check
      graft.queries.DedupStage.clearForTesting()
      graft.queries.LmStage.clearForTesting()
      graft.queries.GraphStage.clearForTesting()
      SparkEntry.queries.map { case (name, fn) =>
        name -> graft.operators.CheckpointBlocks.scoped(
          fn(spark, dir).collect().toSeq.map(_.toString))
      }
    }
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val a = runAll()
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = runAll()
      val diff = a.keys.filter(k => a(k) != b(k)).toSeq.sorted
      assert(diff.isEmpty, s"order-dependent queries: ${diff.mkString(", ")}")
      assert(a.size == SparkEntry.queries.size && a.values.forall(_.nonEmpty))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
