package graft.ops

import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Planning shared by the operators that keep one state per group key
  * ([[RollingApplyExec]], [[RunningWindowExec]]).
  */
private[ops] object KeyedPlan {

  /** Adds `strategy` to the session's extra strategies once, so sessions
    * built without [[graft.GraftExtensions]] plan the operator too.
    */
  def register(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val extra = spark.experimental
    extra.synchronized {
      if (!extra.extraStrategies.contains(strategy))
        extra.extraStrategies = extra.extraStrategies :+ strategy
    }
  }

  /** The sort a keyed operator asks of `child`: the order alone, since
    * the state is per key and the keys may interleave. When `child`
    * already holds its rows clustered by the keys and sorted by keys ++
    * order (a window over the same spec below), keys ++ order as it is,
    * so a chained window adds no sort.
    */
  def ordering(keys: Seq[Expression], order: Seq[SortOrder], child: SparkPlan): Seq[SortOrder] =
    if (contiguous(keys, order, child)) keys.map(SortOrder(_, Ascending)) ++ order else order

  /** Whether `child` is clustered by the non-empty `keys` and sorted by
    * keys ++ order, so each key's rows arrive one after another and a
    * key's state can go once the next key begins.
    */
  def contiguous(keys: Seq[Expression], order: Seq[SortOrder], child: SparkPlan): Boolean =
    keys.nonEmpty &&
      child.outputPartitioning.satisfies(ClusteredDistribution(keys)) &&
      SortOrder.orderingSatisfies(child.outputOrdering, keys.map(SortOrder(_, Ascending)) ++ order)
}
