package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Differential tests mirroring the reference suite's stance
  * (tests/test_pandarallel.py): parallel result ≡ sequential result.
  * Here: partition count must never change a result (the Spark analog of
  * "nb_workers doesn't change the answer"), plus the black-box typed
  * paths that the declared queries don't exercise.
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def li = Tables.lineitem(spark, TestSpark.sf)

  test("partition count never changes a result (repartition invariance)") {
    val base = SparkEntry
      .queries("q06_group_scalar")(spark, TestSpark.sf)
      .collect()
      .map(_.toSeq)
      .toSet
    val one = GroupApply
      .agg(li.repartition(1), Seq("l_returnflag"))(
        avg(log10(sqrt(exp(col("l_discount") * col("l_discount"))))).as("v"))
      .collect()
      .map(_.toSeq)
      .toSet
    val many = GroupApply
      .agg(li.repartition(16), Seq("l_returnflag"))(
        avg(log10(sqrt(exp(col("l_discount") * col("l_discount"))))).as("v"))
      .collect()
      .map(_.toSeq)
      .toSet
    assert(one.map(r => (r.head, math.round(r(1).asInstanceOf[Double] * 1e9)))
      === many.map(r => (r.head, math.round(r(1).asInstanceOf[Double] * 1e9))))
    assert(base.nonEmpty)
  }

  test("O1 black-box row UDF (Dataset.map) matches expression path") {
    val viaExpr = SparkEntry
      .queries("q01_row_apply")(spark, TestSpark.sf)
      .as[(Long, Int, Double)]
      .collect()
      .sortBy(r => (r._1, r._2))
    val viaMap = RowApply(li) { r =>
      val q = r.getAs[Double]("l_quantity")
      val d = r.getAs[Double]("l_discount")
      (
        r.getAs[Long]("l_orderkey"),
        r.getAs[Int]("l_linenumber"),
        math.sin(q * q) + math.sin(d * d))
    }.collect().sortBy(r => (r._1, r._2))
    assert(viaExpr.length === viaMap.length)
    viaExpr.zip(viaMap).foreach { case (a, b) =>
      assert(a._1 == b._1 && a._2 == b._2 && math.abs(a._3 - b._3) < 1e-12)
    }
  }

  test("O5 flatMapGroups: DataFrame-returning group UDF") {
    val out = GroupApply
      .flatMapGroups[String, (String, Double)](
        li.select("l_returnflag", "l_quantity"), Seq("l_returnflag"))(
        _.getAs[String]("l_returnflag")) { (k, it) =>
        val qs = it.map(_.getAs[Double]("l_quantity")).toArray
        Iterator.single((k, qs.max - qs.min))
      }
      .collect()
      .toMap
    val oracle = li
      .groupBy("l_returnflag")
      .agg((max("l_quantity") - min("l_quantity")).as("r"))
      .as[(String, Double)]
      .collect()
      .toMap
    assert(out === oracle)
  }

  test("O3 typed series map") {
    val ds = li.select("l_discount").as[Double].limit(100)
    val got = SeriesOps.mapTyped(ds)(x => math.log10(math.sqrt(math.exp(x * x))))
    val exp = ds.collect().map(x => math.log10(math.sqrt(math.exp(x * x))))
    assert(got.collect().sorted.zip(exp.sorted).forall { case (a, b) =>
      math.abs(a - b) < 1e-15
    })
  }

  test("empty input flows through every operator shape") {
    val empty = li.where(lit(false))
    assert(RowApply.exprApply(empty)("v" -> col("l_quantity")).count() === 0)
    assert(ColApply.applymap(empty, c => c * 2).count() === 0)
    assert(
      GroupApply.agg(empty, Seq("l_returnflag"))(sum("l_quantity").as("s"))
        .count() === 0)
    assert(
      Windows
        .rollingCollect(
          empty,
          col("l_quantity"),
          Seq(col("l_orderkey")),
          Nil,
          4,
          "v")(xs => xs.sum)
        .count() === 0)
  }

  test("min_periods NaN warm-up: first w-1 rows per group are null") {
    val ev = Tables.events(spark, TestSpark.sf)
    val out = SparkEntry
      .queries("q10_grouped_rolling")(spark, TestSpark.sf)
      .where(col("v").isNull)
      .count()
    val groups = ev.select("user_id").distinct().count()
    // each group with >=3 rows contributes exactly 3 nulls; smaller
    // groups contribute their size
    val expected = ev
      .groupBy("user_id")
      .count()
      .select(sum(least(col("count"), lit(3L))))
      .as[Long]
      .head()
    assert(out === expected)
    assert(groups > 0)
  }

  test("cogroup apply sees one-sided keys with the other iterator empty") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    val left = Seq((1L, "a"), (2L, "b")).toDF("k", "lv")
    val right = Seq((2L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "rv")
    val counter = graft.progress.Progress.rowCounter(spark2, "cogroup")
    val out = GroupApply
      .cogroupApply[Long, (Long, String, Long, Double)](
        left, right, Some(counter))(_.getLong(0), _.getLong(0)) {
        (k, ls, rs) =>
          val l = ls.toSeq
          val r = rs.toSeq
          // every key from EITHER side reaches the UDF — join can't do this
          Iterator.single(
            (k, l.headOption.map(_.getString(1)).getOrElse("-"),
              r.size.toLong, r.map(_.getDouble(1)).sum))
      }
      .collect()
      .sortBy(_._1)
    assert(out === Array(
      (1L, "a", 0L, 0.0),   // left-only key, right iterator empty
      (2L, "b", 2L, 30.0),  // both sides
      (3L, "-", 1L, 30.0))) // right-only key, left iterator empty
    assert(counter.value === 3L) // per-group accounting
  }

  test("filterGroups keeps whole groups by predicate, any partitioning") {
    // pandas groupby().filter(): member rows of qualifying groups only
    val df = Seq(
      (1L, 10.0), (1L, 20.0), // sum 30 → kept
      (2L, 5.0), (2L, 4.0), // sum 9 → dropped
      (3L, 31.0)) // sum 31 → kept
      .toDF("k", "v")
    for (parts <- Seq(1, 6)) {
      val got = GroupApply
        .filterGroups(df.repartition(parts), Seq("k"))(sum(col("v")), _ > 10.0)
        .as[(Long, Double)]
        .collect()
        .toSet
      assert(got === Set((1L, 10.0), (1L, 20.0), (3L, 31.0)), s"parts=$parts")
    }
    // a predicate nothing satisfies: empty result, not an error
    val none = GroupApply
      .filterGroups(df, Seq("k"))(sum(col("v")), _ > 1e9)
      .count()
    assert(none === 0L)
  }

  test("user exception class survives Spark wrapping") {
    import graft.errors.Propagation
    final class BoomException(msg: String) extends RuntimeException(msg)
    val ds = li.limit(10)
    val caught = intercept[Throwable] {
      Propagation.rethrowUser {
        RowApply(ds) { _ => throw new BoomException("boom"); 1 }.collect()
      }
    }
    assert(Propagation.userCause(caught).getMessage.contains("boom"))
  }
}
