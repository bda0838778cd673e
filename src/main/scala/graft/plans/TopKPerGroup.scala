package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, Descending, EqualTo, Expression, GenericInternalRow, GreaterThanOrEqual, JoinedRow, LessThan, LessThanOrEqual, Literal, RowNumber, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.GraftPlanBridge
import org.apache.spark.sql.types.IntegerType

/** Whole-operator custom plan — the (c) rung of the custom-operator
  * ladder: logical node + planner strategy + physical operator.
  *
  * `TopKPerGroup` computes the top k rows of every group under a sort
  * order, emitting a 1-based `rank` — the `row_number() OVER
  * (PARTITION BY g ORDER BY s) <= k` pattern, executed the way a
  * 100 TB job needs it executed:
  *
  *   - **partial phase** (before any exchange): every input partition
  *     keeps at most k rows per group in a bounded heap — the
  *     top-k analogue of a partial aggregate;
  *   - **exchange**: only those survivors shuffle, hashed on the
  *     group — k × partitions rows per group instead of ALL rows;
  *   - **final phase**: per-group heaps again, then each group's k
  *     rows emitted in sort order with their rank.
  *
  * Versus the window form: WindowExec sorts every surviving row and,
  * without group-limit inference, shuffles the entire input; Spark's
  * InferWindowGroupLimit (3.5+) bounds the shuffle for the
  * rank-filter pattern but still runs sort-based WindowGroupLimit +
  * a sorted WindowExec. This operator replaces both phases with
  * bounded heaps (O(n log k), no sort operator anywhere) and
  * materializes the rank during emission. Same result set as the
  * window+filter form whenever the sort order is total within groups
  * (ties otherwise fall arbitrarily, exactly like row_number).
  */
case class TopKPerGroupPlan(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"k must be >= 1, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

/** Plans the logical node as partial + final physical operators; the
  * required ClusteredDistribution between them makes EnsureRequirements
  * insert the (survivors-only) hash exchange. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(g, s, k, rankAttr, child) =>
      TopKPerGroupExec(g, s, k, Some(rankAttr),
        TopKPerGroupExec(g, s, k, None, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap per-group top-k. `rankAttr = None` → partial phase
  * (any distribution, no rank emitted); `Some(attr)` → final phase
  * (requires co-located groups, emits rank in sort order). */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)
  override def requiredChildDistribution: Seq[Distribution] =
    if (rankAttr.isEmpty) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  // row-preserving per partition: an upstream hash partitioning on the
  // group keys still holds afterwards — without this (the SparkPlan
  // default is UnknownPartitioning) EnsureRequirements re-shuffles
  // input that is ALREADY clustered, e.g. top-k directly over a
  // groupBy on the same keys
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val (g, so, kk, emitRank, outAttrs) = (groupExprs, sortOrder, k, rankAttr.isDefined, output)
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(g, childOutput)
      val ordering = GenerateOrdering.generate(so, childOutput)
      val heaps = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      // Adaptive partial skip (partial phase only — the final phase
      // must see every group whole): with many distinct groups per
      // partition the heaps prune nothing and their build cost +
      // memory is pure loss (measured ~2× slower than the window at
      // rows/group ≈ k, vs ~5× faster at rows/group ≫ k). After
      // `sampleRows`, if the heaps still hold ~every row seen, stop
      // heaping and pass the remainder through untouched — rows
      // already discarded stay discarded (a partition-local non-top-k
      // row can never be in the global top-k), and the kept superset
      // is exactly what a partial phase is allowed to emit. The group
      // cap bounds memory regardless of when the check fires.
      val sampleRows = 1 << 16
      val maxGroups = 1 << 20
      var seen = 0L
      var passThrough = false
      while (iter.hasNext && !passThrough) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          // head of the queue = WORST kept row (reversed ordering)
          heap = new java.util.PriorityQueue[InternalRow](kk + 1, ordering.reversed())
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < kk) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
        seen += 1
        if (!emitRank &&
            ((seen >= sampleRows && heaps.size().toLong * kk >= seen) ||
              heaps.size() >= maxGroups)) {
          passThrough = true
        }
      }
      val groups = heaps.values().iterator()
      if (!emitRank) {
        val heaped = new Iterator[InternalRow] {
          private var cur: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
          def hasNext: Boolean = { while (!cur.hasNext && groups.hasNext) cur = groups.next().iterator(); cur.hasNext }
          def next(): InternalRow = cur.next()
        }
        if (passThrough) heaped ++ iter else heaped
      } else {
        val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        new Iterator[InternalRow] {
          private var cur: Array[InternalRow] = Array.empty
          private var i = 0
          def hasNext: Boolean = {
            while (i >= cur.length && groups.hasNext) {
              cur = groups.next().toArray(Array.empty[InternalRow])
              java.util.Arrays.sort(cur, ordering)
              i = 0
            }
            i < cur.length
          }
          def next(): InternalRow = {
            val rank = new GenericInternalRow(Array[Any](i + 1))
            val r = toUnsafe(joined(cur(i), rank))
            i += 1
            r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Optimizer rule: rewrites the `Filter(row_number <= k)` over a
  * single-function ranking Window into [[TopKPerGroupPlan]] — every
  * windowed top-k in the engine gets the heap-based sort-free plan
  * without code changes. (Spark's own InferWindowGroupLimit already
  * bounds the SHUFFLE for this pattern; this rewrite additionally
  * removes the WindowExec sort entirely — heaps, not sorts — and
  * materializes the rank during emission.) Strictly guarded: exactly
  * one window expression, it is row_number, the partition spec is
  * non-empty (a global top-k is TakeOrderedAndProject's job), and
  * the filter is a plain `rn <= k` / `rn < k` / `rn = 1` on the rank
  * output. Ties behave like row_number: arbitrary unless the order
  * is total — identical caveat, so the rewrite never changes a
  * deterministic result. */
object TopKThroughWindowRule extends Rule[LogicalPlan] {
  private def kFrom(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rn) => Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(k)
    case EqualTo(a: Attribute, Literal(1, IntegerType)) if a.semanticEquals(rn) => Some(1)
    case EqualTo(Literal(1, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, w: Window) =>
      w.windowExpressions match {
        case Seq(al @ Alias(WindowExpression(_: RowNumber, spec), _))
            if w.partitionSpec.nonEmpty && spec.orderSpec.nonEmpty =>
          kFrom(cond, al.toAttribute) match {
            case Some(k) if k >= 1 =>
              // InferWindowGroupLimit may have already slid a
              // WindowGroupLimit under the Window for this same
              // rank filter — our operator subsumes it, so strip it
              // or its sort+exchange would run redundantly below us
              val child = w.child match {
                case wgl: WindowGroupLimit
                    if wgl.partitionSpec == w.partitionSpec &&
                      wgl.orderSpec == spec.orderSpec => wgl.child
                case c => c
              }
              TopKPerGroupPlan(
                w.partitionSpec, spec.orderSpec, k,
                al.toAttribute.asInstanceOf[AttributeReference], child)
            case _ => f
          }
        case _ => f
      }
  }
}

/** DataFrame API. Group/order columns are named child columns;
  * `order` pairs are (column, ascending?). The sort should be total
  * within groups for deterministic results (same caveat as
  * row_number). */
object TopK {
  /** The engine's optimizer rules, read by both registration paths
    * ([[install]] and [[graft.functions.GraftExtensions]]). */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(TopKThroughWindowRule, SmallSortRule)

  /** Idempotently installs the strategy + optimizer rules on a session
    * built without [[graft.functions.GraftExtensions]]. */
  // synchronized: check-then-append on the experimental lists is a
  // race under concurrent staged-artifact builds (Bench's prewarm
  // fan-out) — two threads could both miss `contains` and register
  // the strategy twice
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(GraftStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ GraftStrategy
    val missing = optimizerRules.filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++ missing
  }

  def perGroup(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rank"): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column '$n' in ${child.output.map(_.name).mkString(",")}"))
    val so = order.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    val rankAttr = AttributeReference(rankName, IntegerType, nullable = false)()
    GraftPlanBridge.ofRows(spark,
      TopKPerGroupPlan(groupCols.map(attr), so, k, rankAttr, child))
  }
}
