package graft.queries

import org.apache.spark.sql.{Column, DataFrame}

/** The contract `orderBy` over an expensive pre-sort segment.
  *
  * A global sort range-partitions its input: it first SAMPLES the
  * child to pick bounds, then shuffles it, so without a stage boundary
  * underneath, the whole segment before the sort executes twice per
  * query. A round-robin `repartition()` at the session's shuffle width
  * puts that boundary there: the segment runs once into shuffle files,
  * and both the sample and the sort read them. Unlike an eager
  * `localCheckpoint`, the plan stays lazy (no job at construction, no
  * `ExistingRDD` under the `Sort`) and owns no blocks to free.
  *
  * Only for segments whose recompute costs more than one extra
  * exchange; a cheap segment sorts with a plain `orderBy`. */
private[graft] object ContractSort {
  def apply(df: DataFrame, keys: Column*): DataFrame =
    df.repartition().orderBy(keys: _*)
}
