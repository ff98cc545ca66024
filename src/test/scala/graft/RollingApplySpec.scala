package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.ops.Windows
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
  */
class RollingApplySpec extends AnyFunSuite {
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
      grouped: Boolean,
      parts: Int,
      name: String): (Map[Long, Seq[Option[Long]]], Long) = {
    val counter = Progress.rowCounter(spark, name)
    val keys = if (grouped) Seq(col("k")) else Nil
    val out = batch.zipWithIndex.foldLeft(data.repartition(parts)) {
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

  for {
    grouped <- Seq(false, true)
    parts <- Seq(1, 3, 7)
  } test(s"bit-identical to collect_list + UDF (grouped=$grouped, $parts partitions)") {
    configs.grouped(32).zipWithIndex.foreach { case (batch, b) =>
      val tag = s"grouped=$grouped parts=$parts batch=$b"
      val (got, ticks) = run(viaOperator, batch, grouped, parts, s"op-$tag")
      val (want, refTicks) = run(viaReference, batch, grouped, parts, s"ref-$tag")
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
      val got = scala.util.Try(run(viaOperator, batch, grouped = true, 3, s"op-w0-$closed"))
      val want = scala.util.Try(run(viaReference, batch, grouped = true, 3, s"ref-w0-$closed"))
      assert(got.isSuccess === want.isSuccess, s"center=$center closed=$closed: $got vs $want")
      if (want.isSuccess) assert(got.get === want.get, s"center=$center closed=$closed")
    }
  }
}
