package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias,
  Ascending,
  Attribute,
  BoundReference,
  CurrentRow,
  Expression,
  JoinedRow,
  MutableProjection,
  NamedExpression,
  RowFrame,
  SortOrder,
  SpecificInternalRow,
  SpecifiedWindowFrame,
  UnboundedPreceding,
  UnsafeProjection,
  UnsafeRow,
  WindowExpression,
  WindowFunctionType,
  WindowSpecDefinition
}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression,
  Complete,
  DeclarativeAggregate
}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{
  AllTuples,
  ClusteredDistribution,
  Distribution,
  Partitioning
}
import org.apache.spark.sql.catalyst.planning.PhysicalWindow
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.window.WindowExec

/** Running (expanding) aggregates per group key (O8) as one physical
  * operator: a window whose every expression is a declarative aggregate
  * (`sum`, `count`, `min`, `max`, `avg`, `last`, ...) over
  * `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW`, as
  * [[Windows.expandingAgg]] declares it. pandarallel deals whole groups
  * to workers and runs pandas' `expanding` there
  * (expanding_groupby.py:63-67); here the hash exchange deals the
  * groups, and each task keeps one aggregation buffer per key, so its
  * rows need sorting by the order alone ([[KeyedPlan.ordering]]).
  *
  * Each key's buffer goes through the function's own `initialValues`,
  * `updateExpressions` and `evaluateExpression`, as `WindowExec`'s
  * running frame does: each key sees the same updates in the same
  * order, so the cells are the same bit for bit. The buffer outlives
  * the row that updated it, so only aggregates whose buffer fields are
  * all fixed-width values (numbers, booleans, dates, decimals) qualify:
  * those are held by value, while a string, binary or nested buffer
  * value (`max` or `last` over a string) may point into the input
  * row's memory, which the next row overwrites. Any other window (such aggregates, RANGE frames,
  * a `FOLLOWING` bound, offset and ranking functions, imperative
  * aggregates such as `collect_list`, `DISTINCT` or `FILTER`) keeps
  * `WindowExec`.
  *
  * Memory: (distinct keys in a partition) × (one buffer per key); one
  * buffer when the input already arrives sorted by keys ++ order. Like
  * pandarallel's per-worker chunk, this state is not spillable.
  */
object RunningWindow {

  /** Whether `e` is a running declarative aggregate with a fixed-width
    * buffer.
    */
  private def running(e: NamedExpression): Boolean = e match {
    case Alias(
          WindowExpression(
            AggregateExpression(f: DeclarativeAggregate, Complete, false, None, _),
            WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
          _) =>
      f.aggBufferAttributes.forall(a => UnsafeRow.isMutable(a.dataType))
    case _ => false
  }

  /** Whether `w` runs as [[RunningWindowExec]]. */
  private def runs(w: logical.Window): Boolean = w.hint.isEmpty && w.windowExpressions.forall(running)

  /** Whether Spark plans `w` as a `WindowExec` (no Python function). */
  private def sql(w: logical.Window): Boolean = PhysicalWindow.unapply(w).exists(_._1 == WindowFunctionType.SQL)

  /** Plans a window of running declarative aggregates as
    * [[RunningWindowExec]]; leaves every other window to Spark.
    *
    * One exception keeps the sort count no higher than `WindowExec`'s:
    * when a window sits above a running one (through projections and
    * filters) and would be served by the running one's keys ++ order
    * sort (q136: a whole-group total over a running total on the same
    * keys), both stay `WindowExec` and share that one sort. The planner
    * meets the upper window first; this strategy then plans the upper
    * window and the chain down to the running one in one step
    * ([[sharing]]), so the choice rests on the plan being planned alone.
    */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case w: logical.Window if runs(w) =>
        RunningWindowExec(w.windowExpressions, w.partitionSpec, w.orderSpec, planLater(w.child)) :: Nil
      case w: logical.Window if sql(w) =>
        sharing(w.child, w).map(WindowExec(w.windowExpressions, w.partitionSpec, w.orderSpec, _)).toList
      case _ => Nil
    }

    /** `p` planned as Spark plans it, with `WindowExec` for the running
      * window under it (through projections, filters and other windows
      * the sort serves) that `upper`'s sort would share; None when there
      * is none.
      */
    private def sharing(p: LogicalPlan, upper: logical.Window): Option[SparkPlan] = p match {
      case l: logical.Window if sql(l) && sortServes(l, upper) =>
        val below = sharing(l.child, l)
        if (runs(l) || below.nonEmpty)
          Some(WindowExec(l.windowExpressions, l.partitionSpec, l.orderSpec, below.getOrElse(planLater(l.child))))
        else None
      case logical.Project(list, c) => sharing(c, upper).map(ProjectExec(list, _))
      case logical.Filter(cond, c)  => sharing(c, upper).map(FilterExec(cond, _))
      case _                        => None
    }
  }

  /** Whether `lower`'s keys ++ order sort meets `upper`'s. */
  private def sortServes(lower: logical.Window, upper: logical.Window): Boolean = {
    def full(w: logical.Window) = w.partitionSpec.map(SortOrder(_, Ascending)) ++ w.orderSpec
    SortOrder.orderingSatisfies(full(lower), full(upper))
  }

  /** Registers [[Strategy]] on `spark` (once). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    KeyedPlan.register(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], Strategy)
}

/** Physical side of [[RunningWindow]]: `ClusteredDistribution(keys)`
  * (`AllTuples` without keys), each partition sorted by the order alone
  * or, when the child is already so, by keys ++ order. Each row updates
  * its key's buffer, found by a hash lookup on the key, and leaves at
  * once with the evaluated aggregates, so rows leave in the order they
  * arrive. Over keys ++ order the map keeps only the current key's
  * buffer.
  */
final case class RunningWindowExec(
    windowExpression: Seq[NamedExpression],
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ windowExpression.map(_.toAttribute)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionSpec.isEmpty) AllTuples :: Nil else ClusteredDistribution(partitionSpec) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(KeyedPlan.ordering(partitionSpec, orderSpec, child))

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val windows = windowExpression.flatMap(_.collect { case w: WindowExpression => w }).distinct
    val fns = windows.map(_.windowFunction.asInstanceOf[AggregateExpression].aggregateFunction
      .asInstanceOf[DeclarativeAggregate])
    val buffer = fns.flatMap(_.aggBufferAttributes)
    val types = buffer.map(_.dataType)
    // WindowExec's result layout: the input row, then one cell per
    // window function, projected through the named expressions
    val cells = windows.zipWithIndex.map { case (w, i) =>
      w -> BoundReference(in.size + i, w.dataType, w.nullable)
    }.toMap[Expression, Expression]
    val outExprs = in ++ windowExpression.map(_.transform(cells))
    val keys = partitionSpec
    val contiguous = KeyedPlan.contiguous(partitionSpec, orderSpec, child)
    child.execute().mapPartitions { rows =>
      val init = MutableProjection.create(fns.flatMap(_.initialValues), Nil)
      val update = MutableProjection.create(fns.flatMap(_.updateExpressions), buffer ++ in)
      val evaluate = MutableProjection.create(fns.map(_.evaluateExpression), buffer)
      val result = new SpecificInternalRow(fns.map(_.dataType))
      evaluate.target(result)
      val out = UnsafeProjection.create(outExprs, in)
      val keyOf = if (keys.isEmpty) null else UnsafeProjection.create(keys, in)
      val buffers = new java.util.HashMap[UnsafeRow, InternalRow]()
      var only: InternalRow = null
      def fresh(): InternalRow = {
        val b = new SpecificInternalRow(types)
        init.target(b)(InternalRow.empty)
        b
      }
      val joined = new JoinedRow
      val withResult = new JoinedRow
      rows.map { r =>
        val b =
          if (keyOf == null) {
            if (only == null) only = fresh()
            only
          } else {
            val k = keyOf(r)
            var b = buffers.get(k)
            if (b == null) {
              // a key new to the map ends the one before it when keys
              // arrive one after another
              if (contiguous) buffers.clear()
              b = fresh()
              buffers.put(k.copy(), b)
            }
            b
          }
        update.target(b)(joined(b, r))
        evaluate(b)
        out(withResult(r, result))
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): RunningWindowExec =
    copy(child = c)
}
