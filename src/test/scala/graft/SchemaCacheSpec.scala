package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** `Tables` infers a table's schema once per file listing: a repeat
  * open runs no Spark job, and a table rewritten in place is inferred
  * again. */
class SchemaCacheSpec extends SparkSpec {

  private val base = Files.createTempDirectory("graft-schema-cache").toString

  /** Spark jobs started while `f` runs. A marker job after `f` bounds
    * the count: the listener bus delivers events in order, so once the
    * marker's start is seen, every earlier job start has been too. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.job.description") == "marker")
          markerSeen = true
        else if (!markerSeen) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a second open of the same table runs no Spark job") {
    val dir = s"$base/repeat"
    spark.range(0, 100).select(col("id").as("r_regionkey"), (col("id") % 7).as("v"))
      .write.parquet(s"$dir/region.parquet")
    val first = jobsDuring(Tables.table(spark, dir, "region").schema)
    assert(first >= 1, "the first open should infer the schema")
    var reopened: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { reopened = Tables.table(spark, dir, "region") } == 0)
    assert(reopened.schema == spark.read.parquet(s"$dir/region.parquet").schema)
    assert(reopened.where(col("v") === 3).count() == 14)
  }

  test("events.parquet rewritten from micros to nanos encoding is inferred again") {
    import spark.implicits._
    val dir = s"$base/rewrite"
    val instants = Seq("2024-03-01T00:00:00Z", "2024-03-01T12:30:00Z", "2024-03-02T06:00:00Z")
    val df = instants.zipWithIndex.map { case (iso, i) => (i.toLong, java.time.Instant.parse(iso)) }
      .toDF("event_id", "ts")
    def tsRows: Seq[(Long, String)] = Tables.table(spark, dir, "events")
      .select(col("event_id"), col("ts").cast("string"))
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

    df.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val fromMicros = tsRows
    df.withColumn("ts", unix_micros(col("ts")) * 1000)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val fromNanos = tsRows
    assert(fromMicros == Seq((0L, "2024-03-01 00:00:00"), (1L, "2024-03-01 12:30:00"),
      (2L, "2024-03-02 06:00:00")), fromMicros)
    assert(fromNanos == fromMicros, fromNanos)
  }
}
