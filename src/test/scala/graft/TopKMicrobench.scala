package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Micro-benchmark: custom heap top-k vs the window row_number form on
  * a synthetic many-rows-per-group dataset.
  *
  *   sbt "Test/runMain graft.TopKMicrobench [nRows] [nGroups]"
  *
  * The rewrite rule is deliberately NOT installed on the window path
  * (fresh session, no Tables.table), so the window numbers measure
  * Spark's own InferWindowGroupLimit plan.
  */
object TopKMicrobench {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val nGroups = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val spark = SparkEntry.localSession(Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")

    val df = spark.range(nRows)
      .select(
        (col("id") % nGroups).as("g"),
        col("id"),
        (col("id") * 2654435761L % 1000003L).as("v"))
    df.count() // warm

    def time(label: String)(f: => Long): Unit = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); val n = f; (System.nanoTime() - t0) / 1e9 -> n
      }
      println(f"$label%-12s min=${runs.map(_._1).min}%.2fs rows=${runs.head._2}")
    }

    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
    time("window") {
      df.withColumn("rank", row_number().over(w)).where(col("rank") <= 10).count()
    }
    time("custom") {
      graft.plans.TopK.perGroup(df, Seq("g"), Seq(("v", false), ("id", true)), 10).count()
    }
    spark.stop()
  }
}
