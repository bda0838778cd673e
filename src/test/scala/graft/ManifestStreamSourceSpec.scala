package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.text.Curation

/** The store as a STREAMING SOURCE (`format("graft-store")`): initial
  * snapshot, then one micro-batch per manifest commit; maintenance
  * invisible; erasure loud; restart resumes from the checkpoint
  * without re-emitting consumed days. */
class ManifestStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  private val docs =
    graft.io.Tables.table(spark, "/root/testdata/sf0.001", "documents")

  private def keptIds(root: String): Seq[Long] =
    graft.etl.TableFormat.DefaultBackend(spark, root).read("corpus_kept")
      .select("doc_id").orderBy("doc_id").as[Long].collect().toSeq

  private def sinkIds(name: String): Seq[Long] =
    spark.table(name).select("doc_id").orderBy("doc_id").as[Long].collect().toSeq

  test("subscribe to corpus_kept: initial snapshot, then a micro-batch per day; compaction is silent") {
    val dir = Files.createTempDirectory("graft_src_stream")
    val root = s"$dir/store"
    val cfg = Curation.Config()
    val mid = docs.agg(max($"doc_id")).head().getLong(0) / 2
    CorpusEtl.init(spark, root, docs.where($"doc_id" % cfg.evalModulus === 0), cfg)
    CorpusEtl.runBatch(spark, root, docs.where($"doc_id" <= mid), 1L, cfg)

    val stream = spark.readStream.format("graft-store")
      .option("path", root).option("table", "corpus_kept").load()
    assert(stream.isStreaming)
    val q = stream.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .format("memory").queryName("kept_stream_t").start()
    try {
      q.processAllAvailable()
      assert(sinkIds("kept_stream_t") == keptIds(root),
        "the initial batch must be the current pinned snapshot")

      // day 2 commits → exactly its kept docs arrive
      CorpusEtl.runBatch(spark, root, docs.where($"doc_id" > mid), 2L, cfg)
      q.processAllAvailable()
      assert(sinkIds("kept_stream_t") == keptIds(root))

      // maintenance mints manifests but feeds nothing
      CorpusEtl.compactStore(spark, root)
      q.processAllAvailable()
      assert(sinkIds("kept_stream_t") == keptIds(root))
    } finally q.stop()
  }

  test("restart resumes from the checkpoint: consumed days never re-emit") {
    val dir = Files.createTempDirectory("graft_src_restart")
    val root = s"$dir/store"
    val cfg = Curation.Config()
    val mid = docs.agg(max($"doc_id")).head().getLong(0) / 2
    CorpusEtl.init(spark, root, docs.where($"doc_id" % cfg.evalModulus === 0), cfg)
    CorpusEtl.runBatch(spark, root, docs.where($"doc_id" <= mid), 1L, cfg)

    // a recoverable sink (parquet) — a re-emitted day would land as
    // duplicate rows in the output dir
    def start() = spark.readStream.format("graft-store")
      .option("path", root).option("table", "corpus_kept").load()
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .format("parquet").option("path", s"$dir/out").start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    val day1 = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(day1.nonEmpty && day1 == keptIds(root))

    // a day committed while no query runs is picked up on restart —
    // exactly once (duplicates in the file sink would betray a
    // re-emitted snapshot or day-1 batch)
    CorpusEtl.runBatch(spark, root, docs.where($"doc_id" > mid), 2L, cfg)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val all = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(all == keptIds(root),
        "a restarted query must emit exactly the unconsumed days, once")
    } finally q2.stop()
  }

  test("erasure fails the stream loudly; ignoreDeletes acknowledges out-of-band handling") {
    val dir = Files.createTempDirectory("graft_src_forget")
    val root = s"$dir/store"
    val cfg = Curation.Config()
    CorpusEtl.init(spark, root, docs.limit(0), cfg)
    CorpusEtl.runBatch(spark, root, docs.where($"doc_id" <= 100), 1L, cfg)

    def start(sink: String, ignoreDeletes: Boolean) = spark.readStream
      .format("graft-store")
      .option("path", root).option("table", "corpus_kept")
      .option("ignoreDeletes", ignoreDeletes.toString).load()
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt_$sink")
      .format("memory").queryName(sink).start()

    val q = start("kept_forget_t", ignoreDeletes = false)
    try {
      q.processAllAvailable()
      val goner = keptIds(root).head
      CorpusEtl.forget(spark, root, Seq(goner).toDF("doc_id"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      assert(ex.getMessage.contains("cannot retract") ||
        Option(ex.getCause).exists(_.getMessage.contains("cannot retract")))
    } finally q.stop()

    // acknowledged: a fresh subscriber proceeds past the erasure and
    // its snapshot simply lacks the forgotten doc
    val q2 = start("kept_forget_ack_t", ignoreDeletes = true)
    try {
      q2.processAllAvailable()
      assert(sinkIds("kept_forget_ack_t") == keptIds(root))
    } finally q2.stop()
  }
}
