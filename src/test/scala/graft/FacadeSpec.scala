package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Pandarallel._

/** Exercises every reference-shaped facade verb (the eight pandarallel
  * entry points, core.py:522-556) end-to-end against oracle values.
  */
class FacadeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def li = Tables.lineitem(spark, TestSpark.sf)
  private def ev = Tables.events(spark, TestSpark.sf)

  test("O1 axis=1: parallelApply / parallelApplyExpr agree") {
    val a = li
      .parallelApplyExpr("v" -> (col("l_quantity") * 2))
      .as[Double].collect().sorted
    val b = li
      .parallelApply(r => r.getAs[Double]("l_quantity") * 2)
      .collect().sorted
    assert(a.toSeq === b.toSeq)
  }

  test("O1 axis=0: transform and reduce shapes") {
    val t = li.parallelApplyColumns(Seq("l_quantity"))(c => c + 1)
    assert(t.columns.toSeq === Seq("l_quantity"))
    assert(t.count() === li.count())
    val r = li.parallelApplyColumnsReduce(Seq("l_quantity", "l_tax"))(c =>
      max(c) - min(c))
    assert(r.count() === 1)
  }

  test("O2: parallelApplymap hits all numeric columns") {
    val out = li.select("l_quantity", "l_tax").parallelApplymap(c => c * 0 + 1)
    val row = out.head()
    assert(row.getDouble(0) === 1.0 && row.getDouble(1) === 1.0)
  }

  test("O3/O4: typed series map and apply-with-args") {
    val s = li.select("l_discount").as[Double]
    val m = s.parallelMap(x => x * 10).collect().sorted
    val a = s.parallelApplyWith((10.0, 0.0)) { case (x, (k, b)) => x * k + b }
      .collect().sorted
    assert(m.toSeq === a.toSeq)
  }

  test("O5: grouped aggregate and black-box group function") {
    val viaAgg = li
      .parallelGroupBy("l_returnflag")
      .apply(sum("l_quantity").as("s"))
      .as[(String, Double)].collect().toMap
    val viaGroups = li
      .select("l_returnflag", "l_quantity")
      .parallelGroupBy("l_returnflag")
      .applyGroups(_.getString(0)) { (k, it) =>
        Iterator.single((k, it.map(_.getDouble(1)).sum))
      }
      .collect().toMap
    viaAgg.foreach { case (k, v) =>
      assert(math.abs(v - viaGroups(k)) < 1e-6)
    }
  }

  test("O6/O7: rolling black-box UDF matches built-in agg") {
    val viaUdf = ev
      .parallelGroupBy("user_id")
      .rolling(3, col("event_id"))
      .parallelApply(col("value"), "v")(xs => xs.sum)
      .select("event_id", "v")
      .as[(Long, Option[Double])].collect().toMap
    val viaAgg = ev
      .parallelGroupBy("user_id")
      .rolling(3, col("event_id"))
      .parallelAgg(col("value"))(sum)
      .select(col("event_id"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap
    assert(viaUdf.size === viaAgg.size)
    viaUdf.foreach { case (k, v) =>
      (v, viaAgg(k)) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9)
        case (None, None) => ()
        case other => fail(s"mismatch at $k: $other")
      }
    }
  }

  test("O5 result-index shaping: keys-as-index vs original-index branches") {
    // "new object" branch: group keys ride along as the leading column
    val keyed = li
      .select("l_returnflag", "l_quantity")
      .parallelGroupBy("l_returnflag")
      .applyKeyed(_.getString(0)) { (_, it) =>
        Iterator.single(it.map(_.getDouble(1)).sum)
      }
      .collect().toMap
    val oracle = li.groupBy("l_returnflag").agg(sum("l_quantity"))
      .as[(String, Double)].collect().toMap
    assert(keyed.keySet === oracle.keySet)
    oracle.foreach { case (k, v) => assert(math.abs(keyed(k) - v) < 1e-6) }

    // "mutation" branch with an ORDER-SENSITIVE UDF (per-group running
    // sum, the canonical pandas transform): the UDF must see each
    // group's rows in SOURCE order even though the group shuffle's
    // arrival order is arbitrary (the 5-row toDF spreads one row per
    // input partition, so the group assembles from 3 separate map
    // outputs), and outputs return in source-row order
    val src = Seq(("a", 1.0), ("b", 10.0), ("a", 3.0), ("b", 20.0), ("a", 5.0))
      .toDF("k", "x")
    val cumsum = graft.ops.GroupApply
      .transformGroups(src, Seq("k"))(_.getString(0)) { (_, rows) =>
        rows.map(_.getDouble(1)).scanLeft(0.0)(_ + _).tail
      }
      .collect().toSeq
    // a: 1,3,5 → 1,4,9; b: 10,20 → 10,30; interleaved in source order
    assert(cumsum === Seq(1.0, 10.0, 4.0, 30.0, 9.0))

    // transformGroupsLocal: same values (per-group still in source
    // order), but no global order restoration — one exchange fewer
    val local = graft.ops.GroupApply
      .transformGroupsLocal(src, Seq("k"))(_.getString(0)) { (_, rows) =>
        rows.map(_.getDouble(1)).scanLeft(0.0)(_ + _).tail
      }
      .collect().toSeq
    assert(local.sorted === cumsum.sorted)
    // each group's outputs are contiguous and in source order
    assert(local.indexOfSlice(Seq(1.0, 4.0, 9.0)) >= 0)
    assert(local.indexOfSlice(Seq(10.0, 30.0)) >= 0)
  }

  test("O5 black-box forms group by the named columns; keyFn names the groups") {
    val df = (0 until 400).map(i => (i % 40, i % 7, i.toDouble)).toDF("k", "j", "x")
    val gb = df.parallelGroupBy("k")
    val sums = gb.applyGroups(_.getInt(0)) { (k, it) => Iterator((k, it.map(_.getDouble(2)).sum)) }
    assert(!sums.queryExecution.executedPlan.toString.contains("AppendColumns"))
    val want = (0 until 400).groupBy(_ % 40).map { case (k, is) => k -> is.map(_.toDouble).sum }
    assert(sums.collect().toMap === want)
    assert(gb.applyKeyed(_.getInt(0))((_, it) => Iterator(it.size)).collect().toMap ===
      want.map { case (k, _) => k -> 10 })
    // the mutation shapes: per-group running sums, back in source order
    // (transform) or grouped (transformLocal)
    val cum = (k: Int, rows: Seq[org.apache.spark.sql.Row]) =>
      rows.map(_.getDouble(2)).scanLeft(k * 1000.0)(_ + _).tail
    val viaColumns = gb.transform(_.getInt(0))(cum).collect().toSeq
    assert(viaColumns === (0 until 400).map(i => (i % 40 to i by 40).foldLeft(i % 40 * 1000.0)(_ + _)))
    assert(gb.transformLocal(_.getInt(0))(cum).collect().sorted.toSeq === viaColumns.sorted)
  }

  test("O5: a keyFn finer or coarser than the named columns fails the call") {
    val df = (0 until 400).map(i => (i % 40, i % 7, i.toDouble)).toDF("k", "j", "x")
    val gb = df.parallelGroupBy("k")
    def failure(run: => Any): String = {
      val e = intercept[Exception](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    }
    // finer: rows of one k give several keys; f reads only the first
    // row, and the rows it leaves unread are checked too
    val finer = failure(gb.applyGroups(r => (r.getInt(0), r.getInt(1))) { (k, it) =>
      Iterator((k._1, it.next().getDouble(2)))
    }.collect())
    assert(finer.contains("finer than the columns"), finer)
    assert(failure(gb.transformLocal(r => r.getInt(1))((_, rows) => rows.map(_ => 0)).collect())
      .contains("finer than the columns"))
    // coarser: 40 groups named by 4 keys over at most 4 tasks, so two
    // groups with one key meet in a task
    val coarser = failure(gb.applyGroups(_.getInt(0) / 10)((k, it) => Iterator((k, it.size))).collect())
    assert(coarser.contains("coarser than the columns"), coarser)
    assert(failure(gb.applyKeyed(_.getInt(0) % 4)((_, it) => Iterator(it.size)).collect())
      .contains("coarser than the columns"))
  }

  test("rolling attribute replay: center/closed frames, min_periods warm-up") {
    // pandas fixed-window bounds on a known sequence: values 1..6, w=3
    val df = (1 to 6).map(i => (i.toLong, i.toDouble)).toDF("i", "x")

    // center=True, w=3 → frame [-1, +1]; min_periods=3 → edges null
    val centered = df.rolling(3, col("i"), center = true)
      .parallelAgg(col("x"))(sum)
      .select(col("i"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap
    assert(centered(1L).isEmpty && centered(6L).isEmpty)
    assert(centered(2L).contains(1.0 + 2 + 3))
    assert(centered(5L).contains(4.0 + 5 + 6))

    // closed="left", w=3 → frame [-3, -1], current row excluded
    val left = df.rolling(3, col("i"), closed = "left")
      .parallelAgg(col("x"))(sum)
      .select(col("i"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap
    assert(left(3L).isEmpty) // only 2 rows before row 3
    assert(left(4L).contains(1.0 + 2 + 3))
    assert(left(6L).contains(3.0 + 4 + 5))

    // closed="both", w=3 → frame [-3, 0]: 4 rows once warm
    val both = df.rolling(3, col("i"), closed = "both")
      .parallelAgg(col("x"), minPeriods = Some(4))(sum)
      .select(col("i"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap
    assert(both(3L).isEmpty)
    assert(both(4L).contains(1.0 + 2 + 3 + 4))

    // min_periods=1: black-box UDF sees short frames at the edges
    val mp1 = df.rolling(3, col("i"))
      .parallelApply(col("x"), "v", minPeriods = Some(1))(xs => xs.sum)
      .select(col("i"), col("v"))
      .as[(Long, Option[Double])].collect().toMap
    assert(mp1(1L).contains(1.0))
    assert(mp1(2L).contains(3.0))
    assert(mp1(3L).contains(6.0))
  }

  test("win_type weight corpus matches scipy.signal.windows") {
    import graft.ops.Windows
    def close(a: Seq[Double], b: Seq[Double]) =
      a.size == b.size && a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-12 }
    // scipy.signal.windows.hamming(4) / .gaussian(5, std=1.5), sym=True
    assert(close(
      Windows.windowWeights("hamming", 4),
      Seq(0.08000000000000002, 0.7699999999999999, 0.7700000000000002,
        0.08000000000000002)))
    assert(Windows.windowWeights("hamming", 1) === Seq(1.0))
    assert(close(
      Windows.windowWeights("gaussian", 5, Map("std" -> 1.5)),
      Seq(0.41111229050718745, 0.8007374029168081, 1.0, 0.8007374029168081,
        0.41111229050718745)))
    // gaussian without its std param (pandas .mean(std=...)) is loud
    intercept[IllegalArgumentException] {
      Windows.windowWeights("gaussian", 5)
    }
    // a gaussian weighted mean of a constant series is that constant
    val const = (1 to 8).map(i => (i.toLong, 7.5)).toDF("i", "x")
    val g = const.rolling(5, col("i"))
      .parallelWeightedMean(
        col("x"), "v", winType = "gaussian", winTypeParams = Map("std" -> 1.5))
      .select(col("i"), col("v"))
      .as[(Long, Option[Double])].collect().toMap
    assert(g(4L).isEmpty)
    (5 to 8).foreach(i => assert(math.abs(g(i.toLong).get - 7.5) < 1e-12))
  }

  test("win_type weighted rolling mean (triang weights)") {
    import graft.ops.Windows
    // scipy parity: triang(3) = [0.5, 1, 0.5]; triang(4) = [.25,.75,.75,.25]
    assert(Windows.windowWeights("triang", 3) === Seq(0.5, 1.0, 0.5))
    assert(Windows.windowWeights("triang", 4) === Seq(0.25, 0.75, 0.75, 0.25))
    val df = (1 to 5).map(i => (i.toLong, i.toDouble)).toDF("i", "x")
    val out = df.rolling(3, col("i"))
      .parallelWeightedMean(col("x"), "v", winType = "triang")
      .select(col("i"), col("v"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L).contains(2.0)) // (0.5*1 + 1*2 + 0.5*3) / 2
    assert(out(5L).contains(4.0)) // (0.5*3 + 1*4 + 0.5*5) / 2

    // center=true shifts the weighted frame to [-1, +1]
    val centered = df.rolling(3, col("i"), center = true)
      .parallelWeightedMean(col("x"), "v", winType = "triang")
      .select(col("i"), col("v"))
      .as[(Long, Option[Double])].collect().toMap
    assert(centered(1L).isEmpty && centered(5L).isEmpty)
    assert(centered(2L).contains(2.0)) // (0.5*1 + 1*2 + 0.5*3) / 2
    assert(centered(4L).contains(4.0))
    // closed="left" shifts the weighted frame one row back (excludes the
    // current row) — same shift as the unweighted rollingFrame
    val left = df.rolling(3, col("i"), closed = "left")
      .parallelWeightedMean(col("x"), "v")
      .select(col("i"), col("v"))
      .as[(Long, Option[Double])].collect().toMap
    assert(left(3L).isEmpty) // only {1,2} before row 3: under 3 obs
    assert(left(4L).contains(2.0)) // (0.5*1 + 1*2 + 0.5*3) / 2
    assert(left(5L).contains(3.0)) // (0.5*2 + 1*3 + 0.5*4) / 2
    // the length-changing closed modes stay loud errors (w weights
    // cannot cover w+1 / w-1 observations)
    intercept[IllegalArgumentException] {
      df.rolling(3, col("i"), closed = "both")
        .parallelWeightedMean(col("x"), "v")
    }
  }

  test("rolling corr/cov: exact on a hand-computed frame, pair min_periods") {
    // x = 1..4, y = x^2: corr/cov of the full 3-row frames are
    // hand-computable (sample covariance, n-1 denominator)
    val df = Seq(
      (1L, 1.0, 1.0), (2L, 2.0, 4.0), (3L, 3.0, 9.0), (4L, 4.0, 16.0))
      .toDF("i", "x", "y")
    val cov = df.rolling(3, col("i"))
      .parallelCov(col("x"), col("y"))
      .select(col("i"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap
    assert(cov(1L).isEmpty && cov(2L).isEmpty) // warm-up: under 3 pairs
    assert(math.abs(cov(3L).get - 4.0) < 1e-12) // cov({1,2,3},{1,4,9})
    assert(math.abs(cov(4L).get - 6.0) < 1e-12) // cov({2,3,4},{4,9,16})
    val c = df.rolling(3, col("i"))
      .parallelCorr(col("x"), col("y"))
      .select(col("i"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap
    // corr({1,2,3},{1,4,9}) = 4 / sqrt(1 * 16.33...)
    assert(math.abs(c(3L).get - 4.0 / math.sqrt(49.0 / 3.0)) < 1e-12)

    // a null on either side breaks the PAIR, not just one column: the
    // 3-row frame around the null never reaches 3 complete pairs
    val withNull = Seq(
      (1L, 1.0, Some(1.0)), (2L, 2.0, None), (3L, 3.0, Some(9.0)),
      (4L, 4.0, Some(16.0)), (5L, 5.0, Some(25.0)))
      .toDF("i", "x", "y")
    val cn = withNull.rolling(3, col("i"))
      .parallelCov(col("x"), col("y"))
      .select(col("i"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap
    assert(cn(3L).isEmpty && cn(4L).isEmpty) // frames contain the null row
    assert(cn(5L).isDefined) // {3,4,5} all complete
  }

  test("win_type corpus: bartlett / blackman / exponential weights") {
    import graft.ops.Windows
    // scipy parity (closed-form values)
    assert(Windows.windowWeights("bartlett", 5) === Seq(0.0, 0.5, 1.0, 0.5, 0.0))
    assert(Windows.windowWeights("bartlett", 1) === Seq(1.0))
    val bk = Windows.windowWeights("blackman", 5)
    val bkExp = (0 until 5).map(k =>
      0.42 - 0.5 * math.cos(2 * math.Pi * k / 4) +
        0.08 * math.cos(4 * math.Pi * k / 4))
    assert(bk === bkExp)
    assert(math.abs(bk(2) - 1.0) < 1e-12) // blackman peaks at 1 mid-window
    val ex = Windows.windowWeights("exponential", 5, Map("tau" -> 2.0))
    assert(ex === (0 until 5).map(k => math.exp(-math.abs(k - 2.0) / 2.0)))
    intercept[IllegalArgumentException] {
      Windows.windowWeights("exponential", 5) // tau is required
    }
    // a weighted mean of a constant series is that constant, any window
    val const = (1 to 8).map(i => (i.toLong, 3.25)).toDF("i", "x")
    Seq(
      ("bartlett", Map.empty[String, Double]),
      ("blackman", Map.empty[String, Double]),
      ("exponential", Map("tau" -> 1.5))).foreach { case (wt, p) =>
      val out = const.rolling(4, col("i"))
        .parallelWeightedMean(col("x"), "v", winType = wt, winTypeParams = p)
        .select(col("i"), col("v"))
        .as[(Long, Option[Double])].collect().toMap
      (4 to 8).foreach(i =>
        assert(math.abs(out(i.toLong).get - 3.25) < 1e-12, s"$wt at $i"))
    }
  }

  test("expanding min_periods warm-up") {
    val df = (1 to 5).map(i => (i.toLong, i.toDouble)).toDF("i", "x")
    val out = df.parallelGroupBy().expanding(col("i"))
      .parallelAgg(col("x"), "cum", minPeriods = 3)(sum)
      .select(col("i"), col("cum"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L).contains(6.0))
    assert(out(5L).contains(15.0))
  }

  test("time-offset rolling: rollingRange matches a hand-built frame") {
    // ts in "nanos": rows at 0s, 10s, 25s, 40s, 100s → a 30s right-closed
    // window (t-30s, t] at each row
    val ns = Seq(0L, 10L, 25L, 40L, 100L).map(_ * 1000000000L)
    val df = ns.zipWithIndex
      .map { case (t, i) => (1L, t, (i + 1).toDouble) }
      .toDF("g", "ts", "x")
    val out = df.parallelGroupBy("g").rollingRange("30s", col("ts"))
      .parallelAgg(col("x"))(sum)
      .select(col("ts"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(ns(0)).contains(1.0)) //   [1]
    assert(out(ns(1)).contains(3.0)) //   [1,2]
    assert(out(ns(2)).contains(6.0)) //   [1,2,3]  (0s is exactly t-25s, in)
    assert(out(ns(3)).contains(7.0)) //   [3,4]  (10s is exactly t-30s —
    //   pandas closed="right" EXCLUDES the left edge)
    assert(out(ns(4)).contains(5.0)) //   [5]
    // the full pandas closed matrix at t=40s, 30s window:
    // both [10,40] / left [10,40) / neither (10,40)
    def sumAt(closed: String): Option[Double] = df
      .parallelGroupBy("g").rollingRange("30s", col("ts"), closed = closed)
      .parallelAgg(col("x"))(sum)
      .select(col("ts"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap.apply(ns(3))
    assert(sumAt("both").contains(9.0))    // {10,25,40} → 2+3+4
    assert(sumAt("left").contains(5.0))    // {10,25}    → 2+3
    assert(sumAt("neither").contains(3.0)) // {25}       → 3
    // row-frame closed="neither", w=3 → frame [-2,-1]
    val rows = (1 to 4).map(i => (i.toLong, i.toDouble)).toDF("i", "x")
    val neither = rows.rolling(3, col("i"), closed = "neither")
      .parallelAgg(col("x"), minPeriods = Some(2))(sum)
      .select(col("i"), col("__rolling__"))
      .as[(Long, Option[Double])].collect().toMap
    assert(neither(2L).isEmpty)        // only {1} in frame, under min_periods
    assert(neither(3L).contains(3.0))  // {1,2}
    assert(neither(4L).contains(5.0))  // {2,3}
    // black-box apply over the same offset frame agrees with the
    // algebraic form
    val applied = df.parallelGroupBy("g").rollingRange("30s", col("ts"))
      .parallelApply(col("x"), "v")(_.sum)
      .select(col("ts"), col("v"))
      .as[(Long, Option[Double])].collect().toMap
    ns.foreach(t => assert(applied(t) === out(t)))
    // pandas grammar errors are loud
    intercept[IllegalArgumentException] {
      df.parallelGroupBy("g").rollingRange("30 parsecs", col("ts"))
    }
  }

  test("O8: expanding cumulative aggregate") {
    val out = ev
      .parallelGroupBy("user_id")
      .expanding(col("event_id"))
      .parallelAgg(col("value"), "cum")(sum)
    // last cumulative value per user == that user's total
    val last = out
      .groupBy("user_id")
      .agg(max(struct(col("event_id"), col("cum"))).as("m"))
      .select(col("user_id"), col("m.cum"))
      .as[(Long, Double)].collect().toMap
    val totals = ev.groupBy("user_id").agg(sum("value"))
      .as[(Long, Double)].collect().toMap
    totals.foreach { case (u, t) => assert(math.abs(last(u) - t) < 1e-6) }
  }

  test("ewm: per-key recursion, state resets between keys") {
    val df = Seq(("a", 1L, 2.0), ("a", 2L, 4.0), ("a", 3L, 8.0),
      ("b", 1L, 10.0), ("b", 2L, 0.0))
      .toDF("k", "i", "x")
    val out = df.parallelGroupBy("k").ewm(0.5, col("i"))
      .parallelMean("x", "y")
      .select(col("k"), col("i"), col("y"))
      .as[(String, Long, Double)].collect()
      .map { case (k, i, y) => (k, i) -> y }.toMap
    assert(out(("a", 1L)) === 2.0)
    assert(out(("a", 2L)) === 3.0) // 0.5*2 + 0.5*4
    assert(out(("a", 3L)) === 5.5) // 0.5*3 + 0.5*8
    assert(out(("b", 1L)) === 10.0) // state resets on key change
    assert(out(("b", 2L)) === 5.0)
    // a constant series is a fixpoint of the recursion (up to the
    // (1-α)+α != 1 ulp), any alpha
    val const = (1 to 6).map(i => ("g", i.toLong, 3.5)).toDF("k", "i", "x")
    const.parallelGroupBy("k").ewm(0.2, col("i")).parallelMean("x", "y")
      .select("y").as[Double].collect()
      .foreach(y => assert(math.abs(y - 3.5) < 1e-12))
    intercept[IllegalArgumentException] {
      df.parallelGroupBy("k").ewm(0.0, col("i")).parallelMean("x", "y")
    }
  }

  test("ewm var/std: hand-computed recursion values, per-key reset") {
    // alpha=0.5 on x=[1,2,3]: weights at t3 = [.25,.25,.5] →
    // biased var .6875, Σw² = .375, unbiased = .6875/.625 = 1.1
    val df = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("b", 1L, 10.0), ("b", 2L, 12.0))
      .toDF("k", "i", "x")
    val out = df.parallelGroupBy("k").ewm(0.5, col("i"))
      .parallelVar("x", "ev")
      .select(col("k"), col("i"), col("ev"), col("ev_std"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out(("a", 1L))._1.isEmpty) // first obs per key: NULL (pandas NaN)
    assert(math.abs(out(("a", 2L))._1.get - 0.5) < 1e-12)
    assert(math.abs(out(("a", 3L))._1.get - 1.1) < 1e-12)
    assert(math.abs(out(("a", 3L))._2.get - math.sqrt(1.1)) < 1e-12)
    // key b restarts the recursion: var of [10,12] = (10-12)²/2 · ¼·2 = 2
    assert(out(("b", 1L))._1.isEmpty)
    assert(math.abs(out(("b", 2L))._1.get - 2.0) < 1e-12)
  }

  test("rolling table apply: whole-frame matrix reaches the UDF, column-major") {
    // w=2 over (x, y): f = Σ xᵢ·yᵢ across the frame — cross-column,
    // not per-column decomposable. Hand values:
    //   i=2: 1·10 + 2·20 = 50;  i=3: 2·20 + 3·30 = 130
    val df = Seq(
      ("a", 1L, 1.0, 10.0), ("a", 2L, 2.0, 20.0), ("a", 3L, 3.0, 30.0),
      ("b", 1L, 5.0, 1.0), ("b", 2L, 6.0, 2.0))
      .toDF("k", "i", "x", "y")
    val out = df.parallelGroupBy("k").rolling(2, col("i"))
      .parallelApplyTable(Seq(col("x"), col("y")), "dot") { m =>
        Some(m(0).zip(m(1)).map { case (a, b) => a * b }.sum)
      }
      .select(col("k"), col("i"), col("dot"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2)))
      .toMap
    assert(out(("a", 1L)).isEmpty) // below min_periods (= window)
    assert(out(("a", 2L)) === Some(50.0))
    assert(out(("a", 3L)) === Some(130.0))
    assert(out(("b", 2L)) === Some(17.0)) // per-key frames don't leak
  }

  test("ewm cov/corr: hand-computed weight-definition values, per-key reset") {
    // alpha=0.5 on x=[1,2,3], y=[2,1,4] — computed from the WEIGHT
    // definition (w at t3 = [.25,.25,.5]), independent of the delta
    // recursion the implementation runs:
    //   t2: cov_b=-.25, Σw²=.5  → cov=-0.5;  corr=-.25/.25 = -1
    //   t3: μx=2.25, μy=2.75, cov_b=.8125, Σw²=.375 → cov=1.3;
    //       var_bx=.6875, var_by=1.6875 → corr=.8125/√1.16015625
    val df = Seq(
      ("a", 1L, 1.0, 2.0), ("a", 2L, 2.0, 1.0), ("a", 3L, 3.0, 4.0),
      ("b", 1L, 5.0, 5.0), ("b", 2L, 7.0, 9.0))
      .toDF("k", "i", "x", "y")
    val out = df.parallelGroupBy("k").ewm(0.5, col("i"))
      .parallelCov("x", "y", "ec")
      .select(col("k"), col("i"), col("ec"), col("ec_corr"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out(("a", 1L))._1.isEmpty && out(("a", 1L))._2.isEmpty)
    assert(math.abs(out(("a", 2L))._1.get - -0.5) < 1e-12)
    assert(math.abs(out(("a", 2L))._2.get - -1.0) < 1e-12)
    assert(math.abs(out(("a", 3L))._1.get - 1.3) < 1e-12)
    assert(math.abs(
      out(("a", 3L))._2.get - 0.8125 / math.sqrt(1.16015625)) < 1e-12)
    // key b restarts: two co-moving points → cov of [5,7]x[5,9] = 4, corr +1
    assert(out(("b", 1L))._1.isEmpty)
    assert(math.abs(out(("b", 2L))._1.get - 4.0) < 1e-12)
    assert(math.abs(out(("b", 2L))._2.get - 1.0) < 1e-12)
  }

  test("interpolate: linear blend, leading nulls stay, trailing ffill") {
    val df = Seq(
      ("a", 1L, None), ("a", 2L, Some(1.0)), ("a", 3L, None),
      ("a", 4L, None), ("a", 5L, Some(4.0)), ("a", 6L, None))
      .toDF("k", "i", "x")
    val out = df.parallelGroupBy("k")
      .interpolate(col("x"), col("i"), "y")
      .select(col("i"), col("y"), col("y_ffill"), col("y_bfill"))
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))))
      .toMap
    assert(out(1L)._1.isEmpty) // leading null: no left anchor
    assert(out(3L)._1 === Some(2.0)) // 1 + (4-1)*(1/3)
    assert(out(4L)._1 === Some(3.0)) // 1 + (4-1)*(2/3)
    assert(out(6L)._1 === Some(4.0)) // trailing: forward-filled
    assert(out(1L)._2.isEmpty && out(1L)._3 === Some(1.0)) // ffill/bfill
    assert(out(6L)._2 === Some(4.0) && out(6L)._3.isEmpty)
  }

  test("shift family: lag, diff, pct_change, negative shift leads") {
    val df = Seq(("a", 1L, 2.0), ("a", 2L, 3.0), ("a", 3L, 6.0),
      ("b", 1L, 5.0), ("c", 1L, 0.0), ("c", 2L, 4.0))
      .toDF("k", "i", "x")
    val out = df.parallelGroupBy("k")
      .parallelShift(col("x"), col("i"), "s")
      .select(col("k"), col("i"), col("s"), col("s_diff"), col("s_pct"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))))
      .toMap
    assert(out(("a", 1L)) === ((None, None, None))) // no predecessor
    assert(out(("a", 2L)) === ((Some(2.0), Some(1.0), Some(0.5))))
    assert(out(("a", 3L)) === ((Some(3.0), Some(3.0), Some(1.0))))
    assert(out(("b", 1L)) === ((None, None, None))) // group boundary
    // zero base: shift/diff defined, pct_change NULL (pandas inf; ANSI-
    // safe cross-engine choice)
    assert(out(("c", 2L)) === ((Some(0.0), Some(4.0), None)))
    // negative periods = pandas shift(-1): forward-looking
    val fwd = df.parallelGroupBy("k")
      .parallelShift(col("x"), col("i"), "s", periods = -1)
      .select(col("k"), col("i"), col("s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    assert(fwd(("a", 1L)) === Some(3.0))
    assert(fwd(("a", 3L)).isEmpty)
  }

  test("nunique and value_counts facade verbs") {
    val df = Seq(("a", 1), ("a", 1), ("a", 2), ("b", 9)).toDF("k", "v")
    val nu = df.parallelGroupBy("k").nunique("v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nu === Map("a" -> 2L, "b" -> 1L))
    val vc = df.parallelGroupBy("k").valueCounts("v")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(vc.head === (("a", 1, 2L))) // most frequent first
    assert(vc.toSet === Set(("a", 1, 2L), ("a", 2, 1L), ("b", 9, 1L)))
  }

  test("rank methods: the five pandas tie methods on a planted tie") {
    import graft.ops.Windows
    val df = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 20.0),
      ("a", 4L, 30.0))
      .toDF("k", "i", "x")
    val out = Windows
      .rankMethods(df, col("x"), Seq(col("i")), Seq(col("k")))
      .select(col("i"), col("r_first"), col("r_min"), col("r_max"),
        col("r_dense"), col("r_avg"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4),
          r.getDouble(5))))
      .toMap
    assert(out(1L) === ((1, 1, 1L, 1, 1.0)))
    assert(out(2L) === ((2, 2, 3L, 2, 2.5))) // tie: min 2, max 3, avg 2.5
    assert(out(3L) === ((3, 2, 3L, 2, 2.5)))
    assert(out(4L) === ((4, 4, 4L, 3, 4.0))) // dense collapses the tie
  }

  test("rank methods: nulls get NULL ranks and do not shift the others") {
    import graft.ops.Windows
    // pandas rank(na_option='keep'): NaN rows unranked, everyone
    // else's rank as if the NaN rows weren't there
    val df = Seq(
      ("a", 1L, Some(5.0)), ("a", 2L, None), ("a", 3L, Some(7.0)),
      ("a", 4L, None))
      .toDF("k", "i", "x")
    val out = Windows
      .rankMethods(df, col("x"), Seq(col("i")), Seq(col("k")))
      .collect()
      .map(r => r.getAs[Long]("i") ->
        ((Option(r.get(r.fieldIndex("r_first"))),
          Option(r.get(r.fieldIndex("r_min"))),
          Option(r.get(r.fieldIndex("r_avg"))))))
      .toMap
    assert(out(1L)._1 === Some(1) && out(1L)._2 === Some(1))
    assert(out(3L)._1 === Some(2) && out(3L)._2 === Some(2))
    assert(out(2L) === ((None, None, None)))
    assert(out(4L) === ((None, None, None)))
  }

  test("rolling table apply: null cells stay row-aligned (as NaN)") {
    import graft.ops.Windows
    // window of 3 rows with one null y-cell: the UDF must see matching
    // x/y columns (misaligned per-column collect_lists would pair
    // y=40 with x=2). f picks the y where x is largest.
    val df = Seq(
      ("a", 1L, 1.0, Some(10.0)), ("a", 2L, 2.0, None),
      ("a", 3L, 3.0, Some(30.0)))
      .toDF("k", "i", "x", "y")
    val out = Windows
      .rollingTableApply(
        df, Seq(col("x"), col("y")), Seq(col("i")), Seq(col("k")),
        window = 3, outName = "v") { m =>
        val xs = m.head
        val ys = m(1)
        assert(xs.length == ys.length) // alignment contract
        val iMax = xs.indices.maxBy(xs)
        Some(ys(iMax))
      }
      .where(col("i") === 3)
      .select("v").as[Option[Double]].head()
    assert(out === Some(30.0))
    // and the null cell itself arrives as NaN in its own slot
    val sawNaN = Windows
      .rollingTableApply(
        df, Seq(col("y")), Seq(col("i")), Seq(col("k")),
        window = 3, outName = "v") { m =>
        Some(if (m.head.exists(_.isNaN)) 1.0 else 0.0)
      }
      .where(col("i") === 3)
      .select("v").as[Option[Double]].head()
    assert(sawNaN === Some(1.0))
  }

  test("rolling skew/kurt below the moment minimum emit null, not Infinity") {
    import graft.ops.Windows
    val df = Seq(("g", 1L, 1.0), ("g", 2L, 2.0), ("g", 3L, 5.0))
      .toDF("k", "i", "x")
    // window=3: n=3 is enough for skew but kurt's (n-3) factor is 0 —
    // pandas rolling(3).kurt() is NaN where a raw division gives ±Inf
    val row = Windows
      .rollingSkewKurt(df, col("x"), Seq(col("i")), Seq(col("k")), 3, "v")
      .where(col("i") === 3)
      .select("v_skew", "v_kurt")
      .as[(Option[Double], Option[Double])].head()
    assert(row._1.isDefined && !row._1.get.isInfinite)
    assert(row._2.isEmpty)
    // window=2: skew's (n-2) factor is 0 too
    val row2 = Windows
      .rollingSkewKurt(
        df, col("x"), Seq(col("i")), Seq(col("k")), 2, "v")
      .where(col("i") === 2)
      .select("v_skew").as[Option[Double]].head()
    assert(row2.isEmpty)
  }

  test("describe: eight summary stats match a hand computation") {
    import graft.ops.ColApply
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0))
      .toDF("k", "x")
    val r = ColApply.describeBy(df, "x", Seq("k")).collect().head
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Double]("mean") === 2.5)
    // sample std of 1..4 = sqrt(5/3)
    assert(math.abs(r.getAs[Double]("std") - math.sqrt(5.0 / 3.0)) < 1e-12)
    assert(r.getAs[Double]("min") === 1.0 && r.getAs[Double]("max") === 4.0)
    assert(r.getAs[Double]("p25") === 1.75) // 1 + 0.75*(2-1)
    assert(r.getAs[Double]("p50") === 2.5)
    assert(r.getAs[Double]("p75") === 3.25)
  }

  test("rolling skew/kurt match two-pass centered bias-corrected moments") {
    import graft.ops.Windows
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 10.0)
    val df = xs.zipWithIndex
      .map { case (v, i) => ("g", (i + 1).toLong, v) }
      .toDF("k", "i", "x")
    val row = Windows
      .rollingSkewKurt(df, col("x"), Seq(col("i")), Seq(col("k")), 5, "v")
      .where(col("i") === 5)
      .select("v_skew", "v_kurt")
      .as[(Option[Double], Option[Double])].head()
    // independent two-pass computation (centered moments, not the
    // operator's raw-moment expansion)
    val n = xs.size.toDouble
    val mean = xs.sum / n
    def cm(p: Int) = xs.map(v => math.pow(v - mean, p)).sum / n
    val (m2, m3, m4) = (cm(2), cm(3), cm(4))
    val g1 = math.sqrt(n * (n - 1)) / (n - 2) * m3 / math.pow(m2, 1.5)
    val sv = n * m2 / (n - 1)
    val g2 = n * (n + 1) / ((n - 1) * (n - 2) * (n - 3)) * (n * m4) /
      (sv * sv) - 3 * (n - 1) * (n - 1) / ((n - 2) * (n - 3))
    assert(math.abs(row._1.get - g1) < 1e-9)
    assert(math.abs(row._2.get - g2) < 1e-9)
    // warm-up below min_periods
    val warm = Windows
      .rollingSkewKurt(df, col("x"), Seq(col("i")), Seq(col("k")), 5, "v")
      .where(col("i") === 4).select("v_skew").as[Option[Double]].head()
    assert(warm.isEmpty)
  }

  test("O8: black-box expanding apply agrees with the algebraic form") {
    // differential on a sum-shaped UDF: expandingCollect(f=_.sum) must
    // reproduce expandingAgg(sum) exactly, including the min_periods
    // warm-up nulls (the reference's own oracle stance:
    // parallel_apply ≡ sequential apply, tests/test_pandarallel.py:131-141)
    val gb = ev.parallelGroupBy("user_id").expanding(col("event_id"))
    val viaAgg = gb
      .parallelAgg(col("value"), "cum", minPeriods = 3)(sum)
      .select(col("user_id"), col("event_id"), round(col("cum"), 6).as("cum"))
      .as[(Long, Long, Option[Double])].collect().toSet
    val viaUdf = gb
      .parallelApply(col("value"), "cum", minPeriods = 3)(_.sum)
      .select(col("user_id"), col("event_id"), round(col("cum"), 6).as("cum"))
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(viaUdf === viaAgg)
    // a genuinely non-algebraic function: median of the prefix
    val med = ev
      .parallelGroupBy("user_id")
      .expanding(col("event_id"))
      .parallelApply(col("value"), "med") { xs =>
        val s = xs.sorted
        if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      }
    assert(med.where(col("med").isNotNull).count() === ev.count())
  }

  test("cumulative: running sum/max/min match a driver-side scan") {
    val got = ev
      .parallelGroupBy("user_id")
      .cumulative(col("value"), col("event_id"), "cum")
      .select("user_id", "event_id", "cum_sum", "cum_max", "cum_min")
      .as[(Long, Long, Double, Double, Double)]
      .collect()
      .groupBy(_._1)
    val src = ev
      .select("user_id", "event_id", "value")
      .as[(Long, Long, Double)]
      .collect()
      .groupBy(_._1)
    got.foreach { case (u, rows) =>
      val ordered = src(u).sortBy(_._2).map(_._3)
      val byId = rows.map(r => r._2 -> r).toMap
      val ids = src(u).map(_._2).sorted
      ids.zipWithIndex.foreach { case (id, i) =>
        val prefix = ordered.take(i + 1)
        val (_, _, s, mx, mn) = byId(id)
        assert(math.abs(s - prefix.sum) < 1e-9)
        assert(mx === prefix.max && mn === prefix.min)
      }
    }
  }

  test("idxExtrema: first-occurrence tiebreak on planted ties") {
    val df = Seq(
      (1L, 10L, 5.0), (1L, 11L, 9.0), (1L, 12L, 9.0), (1L, 13L, 1.0),
      (2L, 20L, 3.0), (2L, 21L, 3.0)
    ).toDF("g", "id", "v")
    val got = df
      .parallelGroupBy("g")
      .idxExtrema(col("v"), col("id"))
      .as[(Long, Long, Long)]
      .collect()
      .map(r => r._1 -> (r._2, r._3))
      .toMap
    assert(got(1L) === ((11L, 13L))) // max 9.0 first at id=11
    assert(got(2L) === ((20L, 20L))) // all-tied: both extremes at id=20
  }

  test("nth: pandas 0-based n, null when the group is short") {
    val got = ev
      .parallelGroupBy("user_id")
      .nth(col("value"), col("event_id"), 2)
      .select("user_id", "first_val", "last_val", "nth_val")
      .as[(Long, Double, Double, Option[Double])]
      .collect()
      .map(r => r._1 -> r)
      .toMap
    val src = ev
      .select("user_id", "event_id", "value")
      .as[(Long, Long, Double)]
      .collect()
      .groupBy(_._1)
      .view
      .mapValues(_.sortBy(_._2).map(_._3))
    src.foreach { case (u, vs) =>
      val (_, f, l, n3) = got(u)
      assert(f === vs.head && l === vs.last)
      assert(n3 === (if (vs.length > 2) Some(vs(2)) else None))
    }
  }

  test("autocorr: hand-computed lag-1 correlation on a small series") {
    val df = Seq(
      (1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 4.0), (1L, 4L, 3.0),
      (1L, 5L, 5.0)
    ).toDF("g", "id", "v")
    val got = df
      .parallelGroupBy("g")
      .autocorr(col("v"), col("id"))
      .as[(Long, Double)]
      .head()
      ._2
    // pairs: (1,2)(2,4)(4,3)(3,5) -> pearson by hand
    val xs = Seq(1.0, 2.0, 4.0, 3.0)
    val ys = Seq(2.0, 4.0, 3.0, 5.0)
    val mx = xs.sum / 4
    val my = ys.sum / 4
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum)
    val sy = math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
    assert(math.abs(got - cov / (sx * sy)) < 1e-12)
  }

  test("fillnaMean repairs nulls from the group mean, leaves others") {
    val df = Seq(
      (1L, 1.0), (1L, 3.0), (1L, Double.NaN), (2L, 7.0)
    ).toDF("g", "raw")
      .select(
        col("g"),
        when(isnan(col("raw")), lit(null)).otherwise(col("raw")).as("v"))
    val got = df
      .parallelGroupBy("g")
      .fillnaMean(col("v"), "filled")
      .select("g", "filled")
      .as[(Long, Double)]
      .collect()
      .toSeq
      .sorted
    assert(got === Seq((1L, 1.0), (1L, 2.0), (1L, 3.0), (2L, 7.0)).sorted)
  }

  test("parallelResample buckets on the exact nanos grid (no double detour)") {
    val got = ev
      .parallelResample(
        col("ts"),
        "1h",
        Seq(col("event_type")),
        count(lit(1)).as("n"))
    val expect = ev
      .groupBy(expr("ts div 3600000000000").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(
      got.as[(Long, String, Long)].collect().toSet ===
        expect.as[(Long, String, Long)].collect().toSet)
  }
}
