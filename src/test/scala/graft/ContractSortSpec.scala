package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[graft.queries.ContractSort]]'s premise and promise, counted with
  * a Scala UDF in the pre-sort segment: a plain global `orderBy` runs
  * that segment more than once (its range sampler re-executes it),
  * while the helper runs it exactly once per row. The segment is
  * estimated under the broadcast threshold, so the premise runs with
  * auto-broadcast off: that closes [[graft.plans.SmallSortRule]]'s gate
  * and keeps the plain sort on the range path it documents. */
class ContractSortSpec extends SparkSpec {
  private val rows = 20000L

  /** Sorts a UDF-projected range through `sort`; returns UDF calls. */
  private def udfCalls(sort: DataFrame => DataFrame): Long = {
    val n = rows
    val calls = spark.sparkContext.longAccumulator("contract-sort-udf")
    val key = udf { (v: Long) => calls.add(1); v * 7919 % n }
    val segment = spark.range(0, n, 1, 4).select(key(col("id")).as("k"), col("id"))
    val out = sort(segment).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == n)
    assert(out.toSeq == out.toSeq.sorted, "output not in contract order")
    calls.value
  }

  test("a plain orderBy runs its pre-sort segment more than once per row") {
    val calls = withoutAutoBroadcast(udfCalls(_.orderBy(col("k").asc, col("id").asc)))
    assert(calls > rows, s"$calls UDF calls for $rows rows")
  }

  test("ContractSort runs the pre-sort segment exactly once per row") {
    val calls = udfCalls(df =>
      graft.queries.ContractSort(df, col("k").asc, col("id").asc))
    assert(calls == rows, s"$calls UDF calls for $rows rows")
  }
}
