package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.ops.{RunningWindow, RunningWindowExec, Windows}

/** Differential spec of [[RunningWindowExec]] (O8) against `WindowExec`,
  * which plans the same windows in a session without
  * [[RunningWindow.Strategy]]: every cell must be the same, doubles as
  * raw bits. Functions `sum`, `count`, `min`, `max`, `avg` and
  * `last(ignoreNulls)` over doubles (with null, NaN and -0.0), longs
  * and decimals; null keys; ties on (key, order); the `minPeriods`
  * guard of [[Windows.withMinPeriods]]; one and three input partitions.
  */
class RunningWindowSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = TestSpark.spark
  // a session without the strategy: its windows stay on WindowExec
  private lazy val plain: SparkSession = spark.newSession()

  /** Seeded rows: 12 keys plus null, interleaved; with `ties`, about a
    * third of the (key, order) pairs repeat.
    */
  private def rows(ties: Boolean): Seq[Row] = {
    val rng = new Random(if (ties) 11L else 12L)
    (0 until 400).map { i =>
      val k: Integer = if (rng.nextInt(13) == 12) null else Integer.valueOf(rng.nextInt(12))
      val t = if (ties) rng.nextInt(140).toLong else i.toLong
      val u = rng.nextDouble()
      val d: java.lang.Double =
        if (u < 0.10) null
        else if (u < 0.15) -0.0
        else if (u < 0.18) Double.NaN
        else rng.nextDouble() * 100 - 50
      val l: java.lang.Long = if (rng.nextInt(9) == 0) null else java.lang.Long.valueOf(rng.nextLong() >> 20)
      val m: java.math.BigDecimal =
        if (rng.nextInt(9) == 0) null
        else java.math.BigDecimal.valueOf(rng.nextLong() % 1000000000L, 3)
      Row(k, t, d, l, m)
    }
  }

  private val schema = "k int, t long, d double, l long, m decimal(18,3)"

  private def frame(s: SparkSession, ties: Boolean, parts: Int): DataFrame = {
    val df = s.createDataFrame(
      s.sparkContext.parallelize(rows(ties), 1),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    if (parts == 1) df else df.repartition(parts)
  }

  private val w = Window.partitionBy("k").orderBy("t")
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The running aggregates under test, each under its own name. */
  private def running(df: DataFrame): DataFrame = {
    val aggs: Seq[(String, Column)] = Seq("d", "l", "m").flatMap { c =>
      Seq(
        s"sum_$c" -> sum(c), s"count_$c" -> count(c), s"min_$c" -> min(c),
        s"max_$c" -> max(c), s"avg_$c" -> avg(c), s"last_$c" -> last(col(c), ignoreNulls = true))
    } :+ ("mp3_d" -> Windows.withMinPeriods(sum("d").over(w), col("d"), w, 3))
    df.select(col("k") +: col("t") +: col("d") +: aggs.map { case (n, a) =>
      (if (n.startsWith("mp")) a else a.over(w)).as(n)
    }: _*)
  }

  /** Cells by row, doubles as raw bits; rows in a canonical order. */
  private def cells(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case x: Double => java.lang.Double.doubleToRawLongBits(x)
      case x         => x
    }).sortBy(_.mkString("|"))

  for (ties <- Seq(false, true); parts <- Seq(1, 3) if !(ties && parts > 1)) {
    test(s"bit-identical to WindowExec (ties=$ties, $parts partitions)") {
      RunningWindow.register(spark)
      val got = running(frame(spark, ties, parts))
      val want = running(frame(plain, ties, parts))
      val plan = got.queryExecution.executedPlan
      assert(collect(plan) { case r: RunningWindowExec => r }.size === 1, plan)
      assert(collect(plan) { case x: WindowExec => x }.isEmpty, plan)
      val sorts = collect(plan) { case s: SortExec => s.sortOrder.map(_.child.sql) }
      assert(sorts === Seq(Seq("t")), plan)
      assert(collect(want.queryExecution.executedPlan) { case x: WindowExec => x }.size === 1)
      val (g, x) = (cells(got), cells(want))
      assert(g.size === x.size)
      g.zip(x).foreach { case (a, b) => assert(a === b) }
    }
  }

  test("expandingAgg with minPeriods runs on the running operator, equal to WindowExec") {
    val df = frame(spark, ties = false, parts = 3)
    val got = Windows.expandingAgg(df, col("d"), Seq(col("t")), Seq(col("k")), "e", 4)(sum)
    assert(collect(got.queryExecution.executedPlan) { case r: RunningWindowExec => r }.size === 1)
    val want = frame(plain, ties = false, parts = 3)
      .withColumn("e", Windows.withMinPeriods(sum("d").over(w), col("d"), w, 4))
    assert(cells(got) === cells(want))
  }

  test("an ungrouped running sum gathers one partition and equals WindowExec") {
    RunningWindow.register(spark)
    val all = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q(s: SparkSession) = frame(s, ties = false, parts = 3).select(col("t"), sum("d").over(all).as("s"))
    val got = q(spark)
    assert(collect(got.queryExecution.executedPlan) { case r: RunningWindowExec => r }.size === 1)
    assert(cells(got) === cells(q(plain)))
  }

  test("other windows keep WindowExec: RANGE, FOLLOWING, lag, collect_list") {
    RunningWindow.register(spark)
    val df = frame(spark, ties = false, parts = 3)
    val byT = Window.partitionBy("k").orderBy("t")
    val windows: Seq[(String, Column)] = Seq(
      "range" -> sum("d").over(byT.rangeBetween(Window.unboundedPreceding, Window.currentRow)),
      "following" -> sum("d").over(byT.rowsBetween(Window.unboundedPreceding, 1)),
      "lag" -> lag("d", 1).over(byT),
      "collect_list" -> collect_list("d").over(w))
    windows.foreach { case (name, c) =>
      val plan = df.select(col("k"), c.as("x")).queryExecution.executedPlan
      assert(collect(plan) { case r: RunningWindowExec => r }.isEmpty, s"$name:\n$plan")
      assert(collect(plan) { case x: WindowExec => x }.nonEmpty, s"$name:\n$plan")
    }
  }

  test("max and last over a string, fed by a lag WindowExec on (k, t), keep WindowExec and equal it") {
    // a string buffer value would point into the lag's reused output
    // row, which the next row overwrites: such aggregates are refused
    RunningWindow.register(spark)
    val byKT = Window.partitionBy("k").orderBy("t")
    def q(s: SparkSession) = frame(s, ties = false, parts = 3)
      .withColumn("p", lag(format_string("v%s-%s", col("d"), col("l")), 1).over(byKT))
      .select(col("k"), col("t"), col("p"),
        max("p").over(w).as("mx"), last(col("p"), ignoreNulls = true).over(w).as("ls"))
    val got = q(spark)
    val plan = got.queryExecution.executedPlan
    assert(collect(plan) { case r: RunningWindowExec => r }.isEmpty, plan)
    assert(collect(plan) { case x: WindowExec => x }.size === 2, plan)
    assert(cells(got) === cells(q(plain)))
    // numeric buffers still take the running operator
    val numeric = frame(spark, ties = false, parts = 3).select(col("k"), max("d").over(w), last(col("m"), ignoreNulls = true).over(w))
    assert(collect(numeric.queryExecution.executedPlan) { case r: RunningWindowExec => r }.size === 1)
  }

  test("a DISTINCT or FILTER running aggregate is left to Spark") {
    // the DataFrame API rejects both over a window; the strategy must
    // not take such a Window should one reach it
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = frame(spark, ties = false, parts = 1).select(col("k"), sum("d").over(w).as("s"))
    val window = df.queryExecution.optimizedPlan.collectFirst { case x: LWindow => x }.get
    assert(RunningWindow.Strategy(window).nonEmpty)
    val changed = Seq[AggregateExpression => AggregateExpression](
      _.copy(isDistinct = true),
      _.copy(filter = Some(Literal(true))))
    changed.foreach { f =>
      val x = window.transformExpressions { case a: AggregateExpression => f(a) }
      assert(RunningWindow.Strategy(x).isEmpty, x)
    }
  }
}
