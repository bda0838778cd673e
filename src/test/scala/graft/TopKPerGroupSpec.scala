package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{TopK, TopKPerGroupExec}

/** Custom whole-operator plan: result equality with the
  * window+filter form, plan shape (partial before the exchange,
  * final after), and edge cases (k larger than group, ties). */
class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders =
    graft.io.Tables.table(spark, "/root/testdata/sf0.001", "orders")

  test("equals the row_number window form on real data") {
    val got = TopK.perGroup(
      orders.select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      .orderBy("o_custkey", "rank")
      .select("o_custkey", "rank", "o_orderkey")
      .collect().toSeq
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val want = orders.select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= 3)
      .orderBy("o_custkey", "rank")
      .select("o_custkey", "rank", "o_orderkey")
      .collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("plan: partial top-k before the exchange, final after; no full sort") {
    val df = TopK.perGroup(
      orders.select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString()
    val nExec = "TopKPerGroup".r.findAllIn(plan).size
    assert(nExec >= 2, s"expected partial+final TopKPerGroupExec:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("WindowExec"), plan)
    assert(!plan.toLowerCase.contains("sortexec"), s"no full sort expected:\n$plan")
  }

  test("k >= group size keeps whole group; ranks are 1..n in sort order") {
    val df = Seq((1, 10, 5.0), (1, 11, 7.0), (2, 20, 1.0))
      .toDF("g", "id", "v")
    val got = TopK.perGroup(df, Seq("g"), Seq(("v", false), ("id", true)), 5)
      .orderBy("g", "rank").select("g", "rank", "id")
      .as[(Int, Int, Int)].collect().toSeq
    assert(got == Seq((1, 1, 11), (1, 2, 10), (2, 1, 20)))
  }

  test("rewrite rule: window row_number filter plans as TopKPerGroupExec") {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val df = orders.select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TopKPerGroup"), plan)
    assert(!plan.contains("Window"), plan)
    // rank values survive the rewrite (same attribute id)
    val ranks = df.select("rank").distinct().as[Int].collect().toSet
    assert(ranks == Set(1, 2))
  }

  test("rewrite rule leaves global (unpartitioned) and non-row_number windows alone") {
    val global = orders.withColumn("rn",
      row_number().over(Window.orderBy(col("o_orderkey").asc)))
      .where(col("rn") <= 5)
    global.collect()
    assert(global.queryExecution.executedPlan.toString().contains("Window"))
    val rank = orders.withColumn("rk",
      dense_rank().over(Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)))
      .where(col("rk") <= 2)
    rank.collect()
    assert(rank.queryExecution.executedPlan.toString().contains("Window"))
  }

  test("multiple groups per partition and duplicate sort values behave like row_number") {
    val df = (1 to 100).map(i => (i % 7, i, (i % 3).toDouble)).toDF("g", "id", "v")
      .repartition(5)
    val got = TopK.perGroup(df, Seq("g"), Seq(("v", true), ("id", true)), 4)
      .orderBy("g", "rank").select("g", "rank", "id").collect().toSeq
    val w = Window.partitionBy("g").orderBy(col("v").asc, col("id").asc)
    val want = df.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= 4)
      .orderBy("g", "rank").select("g", "rank", "id").collect().toSeq
    assert(got == want)
  }
}
