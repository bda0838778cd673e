package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.etl.TableFormat
import graft.operators.Components
import graft.text.TextOps

/** Streaming front door of INCREMENTAL near-dup dedup: documents
  * arrive as a stream, the corpus band index
  * ([[TextOps.lshBandRows]], persisted/bucketed at scale) is STATIC,
  * and each micro-batch is shingled+banded map-only and probed
  * against the index — the continuous form of the daily-crawl batch
  * shape ([[TextOps.minhashDupAgainstIndex]]).
  *
  * Structure: the band transform and index join are stateless
  * stream-static operations, so there is no watermark state to size —
  * all heavy state lives in the static index. The candidate-pair
  * dedup + exact Jaccard verify run per micro-batch inside
  * `foreachBatch` (cross-band duplicate candidates only ever co-occur
  * within the batch that produced them, so per-batch dedup is exact —
  * and the sink callback gets one clean result frame per batch, the
  * standard exactly-once sink pattern).
  */
object StreamingDedup {

  /** Stateless streaming transform: (doc_id, text) stream →
    * (doc_id, shingles, band_idx, band_hash) stream via the same
    * native single-pass kernels as batch. */
  def bandStream(docs: DataFrame, n: Int, k: Int, bands: Int): DataFrame =
    TextOps.lshBandRows(docs, n, k, bands)

  /** Full pipeline: per micro-batch, match arriving docs against the
    * static index and hand (a = arriving doc, b = corpus doc,
    * jaccard) to the sink callback. */
  def dupsAgainstIndex(
      docs: DataFrame,
      index: DataFrame,
      n: Int, k: Int, bands: Int, threshold: Double)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(TextOps.minhashDupAgainstIndex(index, batch, n, k, bands, threshold), id)
      }

  /** Streaming IMAGE dedup — the multimodal twin of
    * [[dupsAgainstIndex]]: assets arrive as an (asset_id, media)
    * stream, the prior corpus's perceptual-hash band index
    * ([[graft.multimodal.Multimodal.phashBandRows]], staged per
    * snapshot as `DedupStage.phashPriorIndex`) is STATIC, and each
    * micro-batch fingerprints only itself (map-side features →
    * integer grid bits) and probes the index on equal (band, bkey)
    * with a popcount verify. Stateless stream-static ops — all heavy
    * state is the index, so batch splits cannot change results;
    * intra-batch mining belongs to the daily job
    * (`q_phash_incremental`), and the emitted pairs compose into
    * [[clusterMaintenance]] exactly like text pairs. */
  def phashDupsAgainstIndex(
      assets: DataFrame,
      index: DataFrame,
      chunkSize: Int = 16, bits: Int = 32, bands: Int = 2, maxHam: Int = 1)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    assets.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.multimodal.Multimodal.phashNearPairsAgainstIndex(
          index,
          graft.multimodal.Multimodal.phashBandRows(batch, chunkSize, bits, bands),
          maxHam), id)
      }

  /** LIVE dedup-cluster table: a stream of near-dup pairs folds into
    * a components labeling maintained through the [[TableFormat]]
    * seam — each micro-batch reads the current labeling, applies
    * [[Components.incremental]] (CC over the delta graph only, the
    * history never re-clusters), and commits the merged labeling as
    * the table's next version. The composition a production pipeline
    * runs: pair mining upstream (e.g. [[dupsAgainstIndex]]), this
    * sink keeping the cluster table current, pinned readers keeping
    * their snapshot. StreamingSpec asserts the final version is
    * bit-equal to a from-scratch components run over every pair seen,
    * under arbitrary batch splits. */
  def clusterMaintenance(
      pairs: DataFrame,
      fmt: TableFormat,
      table: String): DataStreamWriter[Row] =
    pairs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the daily batch job (q_cc_incremental) folds with the same
        // Components.incremental; foldInto adds the commit — empty
        // triggers mint no version, first batch bootstraps, later
        // batches fold the delta graph only
        Components.foldInto(fmt, table, batch)
        ()
      }
}
