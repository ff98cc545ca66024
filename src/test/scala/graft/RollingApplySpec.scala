package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.{
  AllTuples,
  OrderedDistribution,
  RangePartitioning,
  SinglePartition
}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, lit, pmod, rand, sin, udf, when}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.ops.{RollingApplyExec, Windows}
import graft.progress.Progress

/** Differential spec of the streaming rolling-apply operator against
  * [[RollingReference]] (`collect_list` + UDF): every cell must be
  * bit-identical, over windows 1–8, `center` on and off, all four
  * `closed` values, `minPeriods` None / 0 / 1 / w, grouped and
  * ungrouped, null values and null keys, groups shorter than the
  * window, and input partition counts 1, 3 and 7. Order keys are
  * unique and `f` is order-sensitive (an index-weighted mean), so a
  * frame out of order or shifted by one row shows.
  *
  * Configurations are batched into wide frames (one output column per
  * configuration) so the sweep costs dozens of jobs, not hundreds.
  *
  * Ungrouped frames that are already range-partitioned and sorted by
  * the order take the chunk-plus-margin plan (no exchange, no sort);
  * their sweeps also check that the rows come out in global order.
  */
class RollingApplySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // index-weighted mean; defined on the empty frame (minPeriods 0)
  private val wmean: Seq[Double] => Double = xs => {
    var s = 0.0
    var w = 0.0
    xs.zipWithIndex.foreach { case (v, i) => s += v * (i + 1); w += i + 1 }
    if (w == 0) 0.0 else s / w
  }

  /** Seeded frame: unique shuffled ids, group sizes 1..30 (many below
    * the window), ~5% null keys, ~10% null values, some -0.0 and NaN.
    */
  private lazy val data: DataFrame = {
    val rng = new Random(20261017L)
    val sizes = Seq(1, 2, 3, 5, 8, 13, 30)
    val keys = (0 until 24).flatMap { g =>
      val k: Option[Int] = if (g % 8 == 7) None else Some(g)
      Seq.fill(sizes(rng.nextInt(sizes.size)))(k)
    }
    val ids = rng.shuffle(keys.indices.map(i => 3L + 7L * i))
    keys.zip(ids).map { case (k, id) =>
      val u = rng.nextDouble()
      val v: Option[Double] =
        if (u < 0.10) None
        else if (u < 0.13) Some(-0.0)
        else if (u < 0.15) Some(Double.NaN)
        else Some(rng.nextDouble() * 100 - 50)
      (id, k, v)
    }.toDF("id", "k", "v")
  }

  private val closedValues = Seq("right", "both", "left", "neither")

  /** (window, center, closed, minPeriods) — every combination; w = 1
    * with "neither" has no rows in its frame.
    */
  private val configs: Seq[(Int, Boolean, String, Option[Int])] = for {
    w <- 1 to 8
    center <- Seq(false, true)
    closed <- closedValues
    mp <- Seq(None, Some(0), Some(1), Some(w))
  } yield (w, center, closed, mp)

  private type Rolling = (
      DataFrame, Seq[org.apache.spark.sql.Column], Int, String, Option[Int],
      Boolean, String, Option[Progress.RowCounter]) => DataFrame

  private val viaOperator: Rolling = (df, keys, w, out, mp, center, closed, c) =>
    Windows.rollingCollect(
      df, col("v"), Seq(col("id")), keys, w, out, mp, center, closed, c)(wmean)

  private val viaReference: Rolling = (df, keys, w, out, mp, center, closed, c) =>
    RollingReference.rollingCollect(
      df, col("v"), Seq(col("id")), keys, w, out, mp, center, closed, c)(wmean)

  /** One wide frame: a column per configuration; cells as raw bits
    * (None = null), rows keyed by id. Also returns the tick count.
    */
  private def run(
      rolling: Rolling,
      batch: Seq[(Int, Boolean, String, Option[Int])],
      input: DataFrame,
      grouped: Boolean,
      name: String): (Map[Long, Seq[Option[Long]]], Long) = {
    val counter = Progress.rowCounter(spark, name)
    val keys = if (grouped) Seq(col("k")) else Nil
    val out = batch.zipWithIndex.foldLeft(input) {
      case (df, ((w, center, closed, mp), i)) =>
        rolling(df, keys, w, s"c$i", mp, center, closed, Some(counter))
    }
    val rows = out
      .select(col("id") +: batch.indices.map(i => col(s"c$i")): _*)
      .collect()
      .map { r =>
        r.getLong(0) -> (1 to batch.size).map(j =>
          if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(j))))
      }
    (rows.toMap, counter.value)
  }

  private val batches = configs.grouped(32).toSeq

  /** The reference's cells and ticks over one set of input rows, per
    * batch, computed once: the rows, not their partitioning, fix the
    * answer, so every partition count compares against the same one.
    */
  private val references =
    scala.collection.mutable.Map.empty[(String, Int), (Map[Long, Seq[Option[Long]]], Long)]
  private def reference(rows: String, input: => DataFrame, grouped: Boolean, b: Int) =
    references.getOrElseUpdate(
      (s"$rows grouped=$grouped", b),
      run(viaReference, batches(b), input, grouped, s"ref-$rows-grouped=$grouped-batch=$b"))

  for {
    grouped <- Seq(false, true)
    parts <- Seq(1, 3, 7)
  } test(s"bit-identical to collect_list + UDF (grouped=$grouped, $parts partitions)") {
    batches.zipWithIndex.foreach { case (batch, b) =>
      val tag = s"grouped=$grouped parts=$parts batch=$b"
      val (got, ticks) = run(viaOperator, batch, data.repartition(parts), grouped, s"op-$tag")
      val (want, refTicks) = reference("data", data, grouped, b)
      assertSame(tag, batch, got, ticks, want, refTicks)
    }
  }

  test("grouped, every key unique: one row per key state, bit-identical") {
    val unique = data.withColumn("k", col("id"))
    batches.zipWithIndex.foreach { case (batch, b) =>
      val tag = s"unique keys batch=$b"
      val (got, ticks) = run(viaOperator, batch, unique.repartition(3), grouped = true, s"op-$tag")
      val (want, refTicks) = reference("unique keys", unique, grouped = true, b)
      assertSame(tag, batch, got, ticks, want, refTicks)
    }
  }

  private def assertSame(
      tag: String,
      batch: Seq[(Int, Boolean, String, Option[Int])],
      got: Map[Long, Seq[Option[Long]]],
      ticks: Long,
      want: Map[Long, Seq[Option[Long]]],
      refTicks: Long): Unit = {
    assert(got.size === want.size, tag)
    want.foreach { case (id, cells) =>
      cells.indices.foreach { j =>
        assert(
          got(id)(j) === cells(j),
          s"$tag id=$id config=${batch(j)}: ${got(id)(j)} vs ${cells(j)}")
      }
    }
    // one tick per f call = one per non-null cell, on both sides
    val calls = want.valuesIterator.map(_.count(_.isDefined)).sum.toLong
    assert(ticks === calls, s"$tag: operator ticks")
    assert(refTicks === calls, s"$tag: reference ticks")
  }

  /** Ids 0..47 with two holes, so that at 7 partitions some are
    * empty and some hold fewer rows than the window; ~10% null values,
    * one -0.0 and one NaN.
    */
  private val kept: Column =
    col("id") < 3 || (col("id") >= 9 && col("id") < 11) || col("id") >= 27
  private def withValues(df: DataFrame): DataFrame =
    df.select(
      col("id"),
      when(pmod(col("id") * 7, lit(10)) === 3, lit(null).cast("double"))
        .when(col("id") === 28, lit(-0.0))
        .when(col("id") === 35, lit(Double.NaN))
        .otherwise(sin(col("id").cast("double")) * 50)
        .as("v"))

  /** Range-ordered inputs, built two ways, cached before the holes are
    * cut (a filter below a range exchange would move the range bounds).
    */
  private def rangeOrdered(way: String, parts: Int): DataFrame = way match {
    case "range" => withValues(spark.range(0, 48, 1, parts).toDF())
    case "repartitionByRange" =>
      withValues(
        (47L to 0L by -1L).toDF("id")
          .repartitionByRange(parts, col("id"))
          .sortWithinPartitions("id"))
  }

  /** Each configuration on its own over `input` (so each takes the
    * range-ordered plan), unioned into one job. Cells by id as in
    * [[run]], the tick count, and each configuration's ids in the order
    * the partitions hand them over.
    */
  private def runEach(
      input: DataFrame,
      batch: Seq[(Int, Boolean, String, Option[Int])],
      name: String): (Map[Long, Seq[Option[Long]]], Long, Seq[Seq[Long]]) = {
    val counter = Progress.rowCounter(spark, name)
    val out = batch.zipWithIndex
      .map { case ((w, center, closed, mp), i) =>
        viaOperator(input, Nil, w, "r", mp, center, closed, Some(counter))
          .select(lit(i).as("c"), col("id"), col("r"))
      }
      .reduce(_ union _)
    val ops = collect(out.queryExecution.executedPlan) { case r: RollingApplyExec => r }
    assert(ops.size === batch.size, name)
    ops.foreach { r =>
      val moved = collect(r.child) { case e: Exchange => e; case s: SortExec => s }
      assert(moved.isEmpty, s"$name: range-ordered input re-sorted in\n${out.queryExecution.executedPlan}")
    }
    val rows = out.collect()
    val cells = rows.groupBy(_.getLong(1)).map { case (id, rs) =>
      val byConfig = rs.map(r => r.getInt(0) -> r).toMap
      id -> batch.indices.map { j =>
        val r = byConfig(j)
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
      }
    }
    val order = batch.indices.map(j => rows.filter(_.getInt(0) == j).map(_.getLong(1)).toSeq)
    (cells, counter.value, order)
  }

  for {
    way <- Seq("range", "repartitionByRange")
    parts <- Seq(1, 3, 7)
  } test(s"range-ordered input ($way, $parts partitions): bit-identical, in global order, no exchange") {
    val cached = rangeOrdered(way, parts).cache()
    try {
      val input = cached.where(kept)
      val sizes = input.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
      if (parts == 7) {
        assert(sizes.contains(0), s"no empty partition: $sizes")
        assert(sizes.exists(s => s > 0 && s < 8), s"no partition shorter than the window: $sizes")
      }
      val ids = input.select("id").collect().map(_.getLong(0)).toSeq.sorted
      batches.zipWithIndex.foreach { case (batch, b) =>
        val tag = s"$way parts=$parts batch=$b"
        val (got, ticks, order) = runEach(input, batch, s"op-$tag")
        // both ways hold the same rows
        val (want, refTicks) = reference("range-ordered", withValues(spark.range(0, 48).toDF()).where(kept), grouped = false, b)
        assertSame(tag, batch, got, ticks, want, refTicks)
        order.zip(batch).foreach { case (o, config) =>
          assert(o === ids, s"$tag config=$config: rows out of global order")
        }
      }
    } finally cached.unpersist(blocking = true)
  }

  test("a nondeterministic child falls back to one sorted partition") {
    val df = spark.range(0, 40, 1, 3).withColumn("v", rand(7))
    val out = viaOperator(df, Nil, 3, "r", None, false, "right", None)
    val ops = collect(out.queryExecution.executedPlan) { case r: RollingApplyExec => r }
    assert(ops.size === 1)
    assert(ops.head.requiredChildDistribution === Seq(AllTuples))
    val funnel = collect(ops.head) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    assert(funnel.size === 1, out.queryExecution.executedPlan.toString)
    val want = viaReference(df, Nil, 3, "r", None, false, "right", None)
    assert(out.orderBy("id").collect().toSeq === want.orderBy("id").collect().toSeq)
  }

  /** Ids 0..19, each on 0 to 4 rows; values from a handful (null and
    * NaN included), so some rows repeat in full and most tie groups
    * mix values.
    */
  private lazy val tied: DataFrame = {
    val rng = new Random(7L)
    val vals = Seq(None, Some(1.5), Some(-2.0), Some(4.25), Some(Double.NaN))
    (0L until 20L).flatMap { id =>
      Seq.fill(rng.nextInt(5))((id, vals(rng.nextInt(vals.size))))
    }.toDF("id", "v")
  }

  private type Cell = (Long, Option[Long], Option[Long]) // id, v and result bits
  private def cell(id: Long, v: Any, r: Any): Cell = {
    def bits(x: Any) = Option(x).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
    (id, bits(v), bits(r))
  }

  /** Each configuration of `batch` on its own over `input`, unioned:
    * (configuration, id, v, result) rows.
    */
  private def each(
      input: DataFrame,
      batch: Seq[(Int, Boolean, String, Option[Int])])(
      rolling: (DataFrame, (Int, Boolean, String, Option[Int])) => DataFrame): DataFrame =
    batch.zipWithIndex
      .map { case (config, i) => rolling(input, config).select(lit(i).as("c"), col("id"), col("v"), col("r")) }
      .reduce(_ union _)

  /** Cells per configuration, as (id, v, result) bits. */
  private def tiedCells(df: DataFrame): Map[Int, Seq[Cell]] =
    df.collect().toSeq.groupBy(_.getInt(0)).map { case (c, rs) =>
      c -> rs.map(r => cell(r.getLong(1), r.get(2), r.get(3)))
    }

  /** The reference over `input` with ties broken by value, per batch,
    * computed once per set of rows: cells and ticks.
    */
  private val tiedReferences = scala.collection.mutable.Map.empty[(String, Int), (Map[Int, Seq[Cell]], Long)]
  private def tiedReference(rows: String, input: DataFrame, keys: Seq[Column], b: Int) =
    tiedReferences.getOrElseUpdate((rows, b), {
      val counter = Progress.rowCounter(spark, s"ref-$rows-batch=$b")
      val cells = tiedCells(each(input, batches(b)) { case (df, (w, center, closed, mp)) =>
        RollingReference.rollingCollect(
          df, col("v"), Seq(col("id"), col("v")), keys, w, "r", mp, center, closed, Some(counter))(wmean)
      })
      (cells, counter.value)
    })

  for (parts <- Seq(3, 7)) test(
    s"duplicate keys under a sort over every column ($parts ranges): each row once, same frames") {
    // a sort over a shuffle: the range plan rests on tied rows being equal
    val input = tied.repartitionByRange(parts, col("id")).sortWithinPartitions("id", "v")
    val byKey: Ordering[Cell] = Ordering.by[Cell, (Long, Option[Double])](
      c => (c._1, c._2.map(java.lang.Double.longBitsToDouble)))(
      Ordering.Tuple2(Ordering.Long, Ordering.Option(Ordering.Double.TotalOrdering)))
    batches.zipWithIndex.foreach { case (batch, b) =>
      val tag = s"tied parts=$parts batch=$b"
      val counter = Progress.rowCounter(spark, s"op-$tag")
      val out = each(input, batch) { case (df, (w, center, closed, mp)) =>
        viaOperator(df, Nil, w, "r", mp, center, closed, Some(counter))
      }
      val ops = collect(out.queryExecution.executedPlan) { case r: RollingApplyExec => r }
      assert(ops.size === batch.size, tag)
      ops.foreach { r =>
        assert(r.requiredChildDistribution.head.isInstanceOf[OrderedDistribution], tag)
        val exchanges = collect(r.child) { case e: ShuffleExchangeExec => e.outputPartitioning }
        assert(exchanges.forall(_.isInstanceOf[RangePartitioning]), s"$tag:\n${out.queryExecution.executedPlan}")
      }
      val got = tiedCells(out)
      val (want, refTicks) = tiedReference("tied", tied, Nil, b)
      batch.indices.foreach { i =>
        val config = batch(i)
        assert(got(i).sorted === want(i).sorted, s"$tag config=$config")
        assert(got(i) === got(i).sorted(byKey), s"$tag config=$config: rows out of global order")
      }
      val calls = want.valuesIterator.flatten.count(_._3.isDefined).toLong
      assert(counter.value === calls, s"$tag: operator ticks")
      assert(refTicks === calls, s"$tag: reference ticks")
    }
  }

  /** [[tied]] rows spread over four keys and null, so that keys
    * interleave and rows tie on (key, id).
    */
  private lazy val tiedKeyed: DataFrame =
    tied.withColumn("k", when(pmod(col("id"), lit(5)) < 4, pmod(col("id") * 7, lit(4))))

  for (parts <- Seq(1, 3)) test(
    s"grouped, ties inside a group, input already sorted by keys ++ order ($parts partitions): no exchange, no sort") {
    val input = tiedKeyed.repartition(parts, col("k")).sortWithinPartitions("k", "id", "v")
    batches.zipWithIndex.foreach { case (batch, b) =>
      val tag = s"tied keyed parts=$parts batch=$b"
      val counter = Progress.rowCounter(spark, s"op-$tag")
      val out = each(input, batch) { case (df, (w, center, closed, mp)) =>
        viaOperator(df, Seq(col("k")), w, "r", mp, center, closed, Some(counter))
      }
      val ops = collect(out.queryExecution.executedPlan) { case r: RollingApplyExec => r }
      assert(ops.size === batch.size, tag)
      ops.foreach { r =>
        val sorts = collect(r.child) { case x: SortExec => x.sortOrder.map(_.child.sql) }
        assert(sorts === Seq(Seq("k", "id", "v")),
          s"$tag: the input's own sort only:\n${out.queryExecution.executedPlan}")
      }
      val got = tiedCells(out)
      val (want, refTicks) = tiedReference("tied keyed", tiedKeyed, Seq(col("k")), b)
      batch.indices.foreach { i =>
        assert(got(i).sorted === want(i).sorted, s"$tag config=${batch(i)}")
      }
      val calls = want.valuesIterator.flatten.count(_._3.isDefined).toLong
      assert(counter.value === calls, s"$tag: operator ticks")
      assert(refTicks === calls, s"$tag: reference ticks")
    }
  }

  test("a centered grouped rolling over an order-only sort claims no order") {
    // the centered frame holds each key's last row back to the end of
    // the partition, so rows leave out of `id` order; a sort on `id`
    // above must stay
    val first = viaOperator(data.repartition(3, col("k")), Seq(col("k")), 3, "a", Some(1), true, "right", None)
    val out = first.sortWithinPartitions("id")
    val plan = out.queryExecution.executedPlan
    val op = collect(plan) { case r: RollingApplyExec => r }
    assert(op.size === 1 && op.head.outputOrdering.isEmpty, plan)
    assert(collect(op.head) { case x: SortExec => x.sortOrder.map(_.child.sql) } === Seq(Seq("id")), plan)
    assert(collect(plan) { case x: SortExec => x }.size === 2, plan)
    val parts = out.select("id").rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    parts.foreach(ids => assert(ids === ids.sorted, plan))
    assert(parts.flatten.sorted.toSeq === data.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("a centered grouped rolling over keys ++ order keeps it: the grouped rolling after it adds no sort") {
    // each key's rows leave before the next key's first row, so the
    // (k, id) order the input arrives in still holds; a window trusting
    // it would split keys if rows were held to the end of the partition
    val input = data.repartition(3, col("k")).sortWithinPartitions("k", "id")
    def chain(first: Rolling) = Windows
      .rollingAgg(first(input, Seq(col("k")), 3, "a", Some(1), true, "right", None),
        col("a"), Seq(col("id")), Seq(col("k")), 2, Some(1))(org.apache.spark.sql.functions.sum)
      .select(col("id"), col("a"), col("__rolling__").as("b"))
    val out = chain(viaOperator)
    val plan = out.queryExecution.executedPlan
    val op = collect(plan) { case r: RollingApplyExec => r }
    assert(op.size === 1 && op.head.outputOrdering.map(_.child.sql) === Seq("k", "id"), plan)
    // the input's own sort serves both
    assert(collect(plan) { case x: SortExec => x }.size === 1, plan)
    def cellsOf(df: DataFrame) = df.collect().map { r =>
      r.getLong(0) -> Seq(1, 2).map(j => Option(r.get(j)).map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double])))
    }.toMap
    assert(cellsOf(out) === cellsOf(chain(viaReference)))
  }

  test("duplicate keys under a sort that leaves a column out: one sorted partition, unless cached") {
    val sorted = tied.withColumn("u", col("id") * 2).repartitionByRange(3, col("id")).sortWithinPartitions("id")
    def check(df: DataFrame, ranged: Boolean): Unit = {
      val out = viaOperator(df, Nil, 3, "r", None, false, "right", None)
      val plan = out.queryExecution.executedPlan
      val ops = collect(plan) { case r: RollingApplyExec => r }
      assert(ops.size === 1)
      assert(ops.head.requiredChildDistribution.head.isInstanceOf[OrderedDistribution] === ranged, plan)
      val funnel = collect(ops.head) {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(funnel.size === (if (ranged) 0 else 1), plan)
      // each input row exactly once, in global order
      val rows = out.select("id", "v", "u").collect().toSeq
      val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), Option(r.get(1)).map(_.toString), r.getLong(2))
      assert(rows.map(key).sorted === df.select("id", "v", "u").collect().toSeq.map(key).sorted)
      assert(rows.map(_.getLong(0)) === rows.map(_.getLong(0)).sorted)
    }
    check(sorted, ranged = false)
    val cached = sorted.cache()
    // a cache reports its plan's partitioning once it is materialized
    try { cached.count(); check(cached, ranged = true) }
    finally cached.unpersist(blocking = true)
  }

  test("a task whose range is empty reads nothing ahead") {
    val computed = spark.sparkContext.longAccumulator("rows computed")
    val seen = udf { (x: Long) => computed.add(1); x }
    // only range 0 keeps rows; ranges 1..6 are computed and left empty
    val df = spark.range(0, 700, 1, 7).where(seen(col("id")) < 50).withColumn("v", col("id") * 0.5)
    val out = Windows.rollingCollect(df, col("v"), Seq(col("id")), Nil, 3, "r")(_.sum)
    val ops = collect(out.queryExecution.executedPlan) { case r: RollingApplyExec => r }
    assert(ops.size === 1 && collect(ops.head) { case e: Exchange => e }.isEmpty)
    val got = out.select("id", "r").as[(Long, Option[Double])].collect().toSeq
    assert(got.map(_._1) === (0L until 50L))
    assert(got.last._2 === Some(0.5 * (47 + 48 + 49)))
    // every range by its own task, and ranges 1..6 once more by task 0,
    // which looks for the two rows after its own; the tasks of the
    // empty ranges read nothing after theirs
    assert(computed.value === 700L + 600L)
  }

  test("f sees a fresh frame per row and a frame shorter than minPeriods yields null") {
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 4.0), (4L, 8.0)).toDF("id", "v")
    val got = Windows
      .rollingCollect(df, col("v"), Seq(col("id")), Nil, 2, "r", minPeriods = Some(2))(
        xs => xs.toList.reverse.head * 10 + xs.head)
      .orderBy("id")
      .select("r")
      .as[Option[Double]]
      .collect()
      .toSeq
    assert(got === Seq(None, Some(21.0), Some(42.0), Some(84.0)))
  }

  test("a rolled frame joins with itself") {
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 4.0)).toDF("id", "v")
    val r = Windows.rollingCollect(df, col("v"), Seq(col("id")), Nil, 2, "r")(_.sum)
    val got = r.as("a").join(r.as("b"), col("a.id") === col("b.id") + 1)
      .select(col("a.id"), col("a.r"), col("b.r"))
      .as[(Long, Option[Double], Option[Double])]
      .collect()
      .sortBy(_._1)
      .toSeq
    assert(got === Seq((2L, Some(3.0), None), (3L, Some(6.0), Some(3.0))))
  }

  test("outName replaces an existing column in place, as withColumn does") {
    val df = Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 4.0, "c")).toDF("id", "v", "s")
    val got = Windows.rollingCollect(df, col("v"), Seq(col("id")), Nil, 2, "v")(_.sum)
    val want = RollingReference.rollingCollect(df, col("v"), Seq(col("id")), Nil, 2, "v")(_.sum)
    assert(got.columns.toSeq === Seq("id", "v", "s"))
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(got.orderBy("id").collect().toSeq === want.orderBy("id").collect().toSeq)
  }

  test("window 0: each frame is rejected by both forms or gives the same cells") {
    // Spark's analysis rejects a ROWS frame whose non-zero bounds are
    // out of order ([1, -1]) and accepts the rest ([1, 0], [0, 0],
    // [0, -1]: empty or current-row frames); the operator must agree
    for (center <- Seq(false, true); closed <- closedValues) {
      val batch = Seq((0, center, closed, Option.empty[Int]))
      val input = data.repartition(3)
      val got = scala.util.Try(run(viaOperator, batch, input, grouped = true, s"op-w0-$closed"))
      val want = scala.util.Try(run(viaReference, batch, input, grouped = true, s"ref-w0-$closed"))
      assert(got.isSuccess === want.isSuccess, s"center=$center closed=$closed: $got vs $want")
      if (want.isSuccess) assert(got.get === want.get, s"center=$center closed=$closed")
    }
  }
}
