package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

/** [[graft.plans.SmallSortRule]]: a global sort whose input is
  * estimated under the broadcast threshold runs in one task with no
  * exchange; a large one keeps its range exchange; contract sorts and
  * sorts under a limit are left to their own plans. */
class SmallSortRuleSpec extends SparkSpec {
  private val rows = 20000L

  private def withThreshold[T](bytes: Long)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, bytes.toString)
      f
    } finally spark.conf.set(key, old)
  }

  /** Executes `df` (so AQE finalizes) and returns its final plan. */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
  }

  private def coalescedToOne(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: Repartition if r.numPartitions == 1 && !r.shuffle => r
    }.nonEmpty

  test("a sort whose child is estimated over the threshold keeps its range exchange") {
    withThreshold(1024) {
      val df = spark.range(0, rows, 1, 4).toDF().orderBy(col("id").desc)
      val p = executedPlan(df)
      assert(p.contains("rangepartitioning"), p)
      assert(!coalescedToOne(df), df.queryExecution.optimizedPlan)
    }
  }

  test("a small sort has no exchange and runs its segment once per row") {
    val n = rows
    val calls = spark.sparkContext.longAccumulator("small-sort-udf")
    val key = udf { (v: Long) => calls.add(1); v * 7919 % n }
    val df = spark.range(0, n, 1, 4).select(key(col("id")).as("k"), col("id"))
      .orderBy(col("k").asc, col("id").asc)
    val out = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out.length == n)
    assert(out == out.sorted, "output not in sort order")
    assert(calls.value == n, s"${calls.value} UDF calls for $n rows")
    assert(coalescedToOne(df), df.queryExecution.optimizedPlan)
    assert(countShuffles(df.queryExecution.executedPlan) == 0, df.queryExecution.executedPlan)
  }

  test("a ContractSort sort keeps its own exchange") {
    val df = graft.queries.ContractSort(spark.range(0, rows, 1, 4).toDF(), col("id").desc)
    val p = executedPlan(df)
    assert(p.contains("rangepartitioning"), p)
    assert(!coalescedToOne(df), df.queryExecution.optimizedPlan)
  }

  test("a sort under a limit still plans as TakeOrderedAndProject") {
    val df = spark.range(0, rows, 1, 4).orderBy(col("id").desc).select((col("id") * 2).as("x")).limit(5)
    val p = executedPlan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!coalescedToOne(df), df.queryExecution.optimizedPlan)
    assert(df.collect().map(_.getLong(0)).toSeq == (1 to 5).map(i => (rows - i) * 2))
  }
}
