package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * Spark session startup dominates test time otherwise). The engine's
  * planner strategy and optimizer rules are installed when it is
  * built, so a suite's plans do not depend on whether an earlier suite
  * opened a table through `Tables`. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkEntry.localSession(4)
    s.sparkContext.setLogLevel("WARN")
    graft.plans.TopK.install(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Each test is one checkpoint scope: the query checkpoints it
    * builds are freed when it ends. */
  override def withFixture(test: NoArgTest): Outcome =
    graft.operators.CheckpointBlocks.scoped(super.withFixture(test))
  import scala.jdk.CollectionConverters._

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i => r.get(i)))

  def assertSameRows(got: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val g = rowsOf(got)
    assert(g == expected, s"\ngot:      $g\nexpected: $expected")
  }

  /** Count REAL shuffle nodes in an executed tree, unwrapping the AQE
    * wrappers (a cached relation's internal exchange is reprinted in
    * the plan STRING under every InMemoryTableScan, but is not in the
    * executed tree this walks). */
  def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self + kids.map(countShuffles).sum
  }

  /** Runs `f`, then puts each of `keys` back as it was on the shared
    * session: its previous value, or unset if it was unset. Later
    * suites in the JVM then see the session as this one found it. */
  def restoringConfs[T](keys: String*)(f: => T): T = {
    val saved = keys.map(k => k -> spark.conf.getAll.get(k))
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `f` with auto-broadcast disabled, so only an explicit
    * broadcast() hint can put a BroadcastExchange in a plan. */
  def withoutAutoBroadcast[T](f: => T): T = {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      f
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
