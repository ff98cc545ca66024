package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{collect_list, size, udf, when}

import graft.ops.Windows
import graft.progress.Progress

/** The composable form of [[graft.ops.Windows.rollingCollect]], kept as
  * the parity oracle of [[graft.ops.RollingApply]]: `collect_list` over
  * [[graft.ops.Windows.rollingFrame]] builds each row's frame array, a
  * Scala UDF applies `f`, and `when(size >= minPeriods)` gives the
  * warm-up nulls. Same signature as the operator's entry point.
  */
object RollingReference {

  def rollingCollect(
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      window: Int,
      outName: String,
      minPeriods: Option[Int] = None,
      center: Boolean = false,
      closed: String = "right",
      counter: Option[Progress.RowCounter] = None)(
      f: Seq[Double] => Double): DataFrame = {
    val frame = Windows.rollingFrame(orderBy, partitionBy, window, center, closed)
    val mp = minPeriods.getOrElse(window)
    val g = counter match {
      case None    => f
      case Some(c) => (xs: Seq[Double]) => { c.tick(); f(xs) }
    }
    val fUdf = udf(g)
    val arr = collect_list(valueCol).over(frame)
    df.withColumn(outName, when(size(arr) >= mp, fUdf(arr)))
  }
}
