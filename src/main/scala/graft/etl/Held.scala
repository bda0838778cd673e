package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Frames the bounded daily load holds on the driver. [[apply]]
  * executes a frame once, collects its rows and rebuilds it with
  * `createDataFrame(rows, schema)`, which plans as a `LocalRelation`.
  * A held frame is plain driver memory: it needs no storage block, no
  * scope and no cleaner, so it stays readable for as long as it is
  * reachable. Catalyst folds filters, projections and limits over it
  * into a new `LocalRelation` at plan time, and collecting it or asking
  * whether it is empty runs no Spark job.
  *
  * Only frames a bound keeps small belong here: the daily batch, what
  * it derives, and the four tables X5 retention keeps at about a year
  * of charts (see [[graft.DailyEtl.run]]). */
private[graft] object Held {

  /** `df` executed once and held. */
  def apply(df: DataFrame): DataFrame = of(df, df.collect())

  /** `a ∪ b` (UNION ALL, `b`'s columns matched to `a`'s by name) of
    * two held frames, held, with `unionByName`'s schema. Both collects
    * read held rows, so this runs no job. */
  def union(a: DataFrame, b: DataFrame): DataFrame =
    of(a.unionByName(b), a.collect() ++ b.select(a.columns.map(col).toSeq: _*).collect())

  private def of(like: DataFrame, rows: Array[Row]): DataFrame =
    like.sparkSession.createDataFrame(rows.toSeq.asJava, like.schema)
}
