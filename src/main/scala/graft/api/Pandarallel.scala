package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions.{avg, call_function, coalesce, col, corr, count, countDistinct, covar_samp, lag, lit, max, max_by, min, min_by, row_number, sum, when}

import graft.ops._

/** The reference-shaped facade: every `parallel_*` verb pandarallel
  * monkey-patches onto pandas (reference core.py:522-556) exists here as
  * an extension method, so a pandarallel user can switch call-site by
  * call-site. Each verb delegates to the corresponding ops module — the
  * facade adds no execution logic of its own.
  *
  * pandarallel                              | here
  * ---------------------------------------- | --------------------------
  * df.parallel_apply(f, axis=1)   (O1)      | df.parallelApply(f) / parallelApplyExpr
  * df.parallel_apply(f, axis=0)   (O1)      | df.parallelApplyColumns / ...Reduce
  * df.parallel_applymap(f)        (O2)      | df.parallelApplymap(f)
  * s.parallel_map(f)              (O3)      | ds.parallelMap(f) / df.parallelMapColumn
  * s.parallel_apply(f, args)      (O4)      | ds.parallelApplyWith(args)(f)
  * gb.parallel_apply(f)           (O5)      | df.parallelGroupBy(k).apply / applyGroups
  * s.rolling(w).parallel_apply    (O6)      | df.rolling(w, order).parallelApply
  * gb.rolling(w).parallel_apply   (O7)      | df.parallelGroupBy(k).rolling(w, order).parallelApply
  * gb.expanding().parallel_apply  (O8)      | df.parallelGroupBy(k).expanding(order).parallelAgg
  *
  * Semantics note (SURVEY §3.3/§7.4): the reference is eager per call;
  * these stay lazy like every Spark transformation — call an action to
  * execute. The correctness contract (result values) is unaffected.
  */
object Pandarallel {

  implicit final class ParallelDataFrame(private val df: DataFrame)
      extends AnyVal {

    /** O1 axis=1, black-box row function (core.py:523-525). */
    def parallelApply[T: Encoder](f: Row => T): Dataset[T] = RowApply(df)(f)

    /** O1 axis=1, declarative (codegen'd) row expressions. */
    def parallelApplyExpr(outputs: (String, Column)*): DataFrame =
      RowApply.exprApply(df)(outputs: _*)

    /** O1 axis=0 column transform (dataframe.py:50-51 transform shape). */
    def parallelApplyColumns(cols: Seq[String])(f: Column => Column): DataFrame =
      ColApply.transform(df, cols)(f)

    /** O1 axis=0 column reduce (dataframe.py:50-51 reduce shape). */
    def parallelApplyColumnsReduce(cols: Seq[String])(
        f: Column => Column): DataFrame =
      ColApply.reduce(df, cols)(f)

    /** O2 element-wise applymap (core.py:526-530). */
    def parallelApplymap(f: Column => Column): DataFrame =
      ColApply.applymap(df, f)

    /** O3 over a named column, keys carried through. */
    def parallelMapColumn(
        valueCol: String,
        keys: Seq[String],
        outName: String)(f: Column => Column): DataFrame =
      SeriesOps.mapExpr(df, valueCol, keys, outName)(f)

    /** O5 entry (core.py:533-535). */
    def parallelGroupBy(keys: String*): ParallelGroupBy =
      new ParallelGroupBy(df, keys)

    /** pandas `df.resample(every).agg(...)` over an integer-nanos event
      * time (q84 shape): bucket = tsNanos div offset — a hash agg keyed
      * on the bucket (plus optional extra keys), never a global
      * time sort. Offset grammar matches `rolling("24h")`
      * ([[Windows.offsetNanos]]).
      */
    def parallelResample(
        tsNanos: Column,
        every: String,
        extraKeys: Seq[Column],
        agg: Column,
        aggs: Column*): DataFrame = {
      val step = Windows.offsetNanos(every)
      // exact integer FLOOR division: `/` loses exactness on 1e18-scale
      // nano timestamps through the double detour, and `div` truncates
      // toward zero — a pre-epoch timestamp would land in bucket 0
      // together with post-epoch rows (pandas resample floors: −1 ns is
      // bin −1, and bin 0 must not be twice as wide as every other)
      val q = call_function("div", tsNanos, lit(step)).cast("long")
      val bucket =
        (q - when(tsNanos % lit(step) < 0, lit(1)).otherwise(lit(0)))
          .as("bucket")
      // (agg, aggs*) mirrors Dataset.agg: zero aggregates is a compile
      // error, not a runtime NoSuchElementException
      df.groupBy((bucket +: extraKeys): _*).agg(agg, aggs: _*)
    }

    /** O6 entry (core.py:554-556). `center`/`closed`/`minPeriods` replay
      * pandas' rolling attributes (series_rolling.py:22-28).
      */
    def rolling(
        window: Int,
        orderBy: Column,
        center: Boolean = false,
        closed: String = "right"): ParallelRolling =
      new ParallelRolling(df, window, Seq(orderBy), Nil, center, closed)

    /** pandas `rolling("24h")` — time-offset window over a numeric
      * (epoch-nanos) order column (series_rolling.py:22-28 attribute
      * replay, VariableWindowIndexer semantics).
      */
    def rollingRange(
        offset: String,
        orderBy: Column,
        closed: String = "right"): ParallelRollingRange =
      new ParallelRollingRange(
        df, Windows.offsetNanos(offset), orderBy, Nil, closed)
  }

  implicit final class ParallelSeries[T](private val ds: Dataset[T])
      extends AnyVal {

    /** O3 `Series.parallel_map` (core.py:551). */
    def parallelMap[O: Encoder](f: T => O)(implicit e: Encoder[T]): Dataset[O] =
      SeriesOps.mapTyped(ds)(f)

    /** O4 `Series.parallel_apply(func, args)` (core.py:548-550) — extra
      * args are closed over, the compiler enforcing serializability where
      * the reference needs dill (core.py:265).
      */
    def parallelApplyWith[A, O: Encoder](args: A)(f: (T, A) => O)(implicit
        e: Encoder[T]): Dataset[O] =
      SeriesOps.mapTyped(ds)(x => f(x, args))
  }

  final class ParallelGroupBy(df: DataFrame, keys: Seq[String]) {

    /** O5, aggregate-expression shape — partial+final hash aggregate. */
    def apply(aggs: Column*): DataFrame = GroupApply.agg(df, keys)(aggs: _*)

    /** pandas `groupby(keys).filter(pred)` — member rows of groups whose
      * aggregate satisfies the predicate ([[GroupApply.filterGroups]]).
      */
    def filter(agg: Column)(pred: Column => Column): DataFrame =
      GroupApply.filterGroups(df, keys)(agg, pred)

    /** O5, black-box group function, many rows out per group
      * (dataframe_groupby.py:24-40 generalized). The rows are grouped
      * by the named columns — the exchange and sort read them as they
      * are — and `keyFn` names each group: `K` is `keyFn` of the
      * group's first row.
      *
      * `keyFn` contract (all four black-box forms): every row of a
      * group, including rows `f` leaves unread, must give the same `K`,
      * and two groups must not give the same `K` — `keyFn` names the
      * groups the columns make, no finer and no coarser. A `keyFn` that
      * disagrees fails the call (a coarser one whenever two of the
      * groups it merges meet in one task).
      */
    def applyGroups[K: Encoder, T: Encoder](keyFn: Row => K)(
        f: (K, Iterator[Row]) => IterableOnce[T]): Dataset[T] =
      GroupApply.flatMapGroups(df, keys)(keyFn)(f)

    /** O5, "new object" result shape: pandas puts group keys in the
      * result index (dataframe_groupby.py:49-81) — here they become the
      * leading column of every output row. Grouped by the named columns,
      * under [[applyGroups]]' `keyFn` contract.
      */
    def applyKeyed[K: Encoder, T: Encoder](keyFn: Row => K)(
        f: (K, Iterator[Row]) => IterableOnce[T]): Dataset[(K, T)] =
      GroupApply.applyGroupsKeyed(df, keys)(keyFn)(f)

    /** O5, "mutation" result shape: pandas keeps the original row index
      * (utils.py:61-85 sniff) — here outputs return in source-row order.
      * Grouped by the named columns, under [[applyGroups]]' `keyFn`
      * contract.
      */
    def transform[K: Encoder, T: Encoder](keyFn: Row => K)(
        f: (K, Seq[Row]) => Seq[T]): Dataset[T] =
      GroupApply.transformGroups(df, keys)(keyFn)(f)

    /** [[transform]] minus the global order restoration (one shuffle
      * instead of two — [[GroupApply.transformGroupsLocal]]): same
      * values, per-group source order, group order arbitrary. Use when
      * the result is consumed grouped (re-aggregated, joined, written
      * partitioned) rather than read top-to-bottom. Grouped by the
      * named columns, under [[applyGroups]]' `keyFn` contract.
      */
    def transformLocal[K: Encoder, T: Encoder](keyFn: Row => K)(
        f: (K, Seq[Row]) => Seq[T]): Dataset[T] =
      GroupApply.transformGroupsLocal(df, keys)(keyFn)(f)

    /** O7 entry (core.py:543-545) with rolling-attribute replay
      * (rolling_groupby.py:35-40).
      */
    def rolling(
        window: Int,
        orderBy: Column,
        center: Boolean = false,
        closed: String = "right"): ParallelRolling =
      new ParallelRolling(df, window, Seq(orderBy), keys.map(col), center, closed)

    /** O8 entry (core.py:538-540). */
    def expanding(orderBy: Column): ParallelExpanding =
      new ParallelExpanding(df, Seq(orderBy), keys.map(col))

    /** pandas `gb.ewm(alpha=..., adjust=False)` — per-key exponentially
      * weighted windows ([[Windows.ewmMean]]: one exchange, streaming
      * per-key recursion).
      */
    def ewm(alpha: Double, orderBy: Column): ParallelEwm =
      new ParallelEwm(df, alpha, Seq(orderBy), keys)

    /** pandas `gb[col].nunique()` — distinct values per group (exact;
      * the HLL twin for 100-TB cardinalities is
      * [[graft.operators.Sketches.hllDistinct]]).
      */
    def nunique(valueCol: String): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(countDistinct(col(valueCol)).as("nunique"))

    /** pandas `gb[col].value_counts()` — per-group value frequencies,
      * most frequent first (ties by value ascending, deterministic).
      */
    def valueCounts(valueCol: String): DataFrame =
      df.groupBy((keys :+ valueCol).map(col): _*)
        .agg(count(lit(1)).as("n"))
        .orderBy(
          keys.map(col) ++ Seq(col("n").desc, col(valueCol).asc): _*)

    /** pandas `gb[col].rank(method=...)` — all five tie methods in one
      * pass ([[Windows.rankMethods]]): emits r_first, r_min, r_max,
      * r_dense, r_avg.
      */
    def parallelRank(valueCol: Column, tiebreak: Column): DataFrame =
      Windows.rankMethods(df, valueCol, Seq(tiebreak), keys.map(col))

    /** pandas `gb[col].describe()` — eight summary stats per group in
      * one aggregation pass ([[graft.ops.ColApply.describeBy]]).
      */
    def parallelDescribe(valueCol: String): DataFrame =
      graft.ops.ColApply.describeBy(df, valueCol, keys)

    /** pandas `gb[col].shift(n)` / `diff(n)` / `pct_change(n)` — emits
      * `outName`, `outName_diff`, `outName_pct` in ONE window pass
      * ([[Windows.shiftOps]]). Negative `periods` looks forward.
      */
    def parallelShift(
        valueCol: Column,
        orderBy: Column,
        outName: String,
        periods: Int = 1): DataFrame =
      Windows.shiftOps(
        df, valueCol, Seq(orderBy), keys.map(col), periods, outName)

    /** pandas `gb[col].interpolate()` + `ffill()`/`bfill()` — per-group
      * missing-value repair ([[Windows.interpolateLinear]]: one
      * exchange, two mirrored running-anchor frames). Emits `outName`,
      * `outName_ffill`, `outName_bfill`.
      */
    def interpolate(
        valueCol: Column,
        orderBy: Column,
        outName: String): DataFrame =
      Windows.interpolateLinear(
        df, valueCol, Seq(orderBy), keys.map(col), outName)

    /** Group-wise two-table merge ([[GroupApply.cogroupApply]]): align
      * each group of this frame with the matching group of `other`.
      */
    def cogroup[K: Encoder, T: Encoder](other: DataFrame)(
        keyL: Row => K,
        keyR: Row => K)(
        f: (K, Iterator[Row], Iterator[Row]) => IterableOnce[T]): Dataset[T] =
      GroupApply.cogroupApply[K, T](df, other)(keyL, keyR)(f)

    /** Per-group cap ([[graft.operators.Sampling.capPerGroup]]): top-n
      * rows per group under a deterministic order.
      */
    def cap(orderBy: Seq[Column], n: Int): DataFrame =
      graft.operators.Sampling.capPerGroup(df, keys.map(col), orderBy, n)

    /** pandas `gb[col].cumsum()/cummax()/cummin()` — expanding frames
      * over the group, one exchange (q83 shape). Emits
      * `<prefix>_sum/_max/_min` next to the input columns.
      */
    def cumulative(
        valueCol: Column,
        orderBy: Column,
        outPrefix: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(orderBy)
        .rowsBetween(Long.MinValue, 0)
      df.withColumn(s"${outPrefix}_sum", sum(valueCol).over(w))
        .withColumn(s"${outPrefix}_max", max(valueCol).over(w))
        .withColumn(s"${outPrefix}_min", min(valueCol).over(w))
    }

    /** pandas `gb[col].idxmax()/idxmin()` — the `idCol` at each group's
      * extreme `valueCol`, first occurrence (lowest id) on ties (q85
      * shape: group-extreme window + conditional-min agg, one shared
      * exchange).
      */
    def idxExtrema(valueCol: Column, idCol: Column): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
      // NaN is excluded like pandas idxmax/idxmin skipna: Spark's
      // max() ranks NaN above every number (and NaN === NaN is true),
      // so without the guard a single NaN row would claim idx_max
      val v = when(!valueCol.isNaN, valueCol)
      df.withColumn("__vmax", max(v).over(w))
        .withColumn("__vmin", min(v).over(w))
        .groupBy(keys.map(col): _*)
        .agg(
          min(when(v === col("__vmax"), idCol)).as("idx_max"),
          min(when(v === col("__vmin"), idCol)).as("idx_min"))
    }

    /** pandas `gb.first()/last()/nth(n)` — n is 0-based like pandas
      * (q90 shape: arg-extrema on the unique order key + one
      * row_number window for nth).
      */
    def nth(valueCol: Column, orderBy: Column, n: Int): DataFrame = {
      require(
        n >= 0,
        s"nth: n must be >= 0 (pandas' negative-n form is not supported " +
          s"here — use last_val), got $n")
      val wo = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(orderBy)
      df.withColumn("__rn", row_number().over(wo))
        .groupBy(keys.map(col): _*)
        .agg(
          min_by(valueCol, orderBy).as("first_val"),
          max_by(valueCol, orderBy).as("last_val"),
          max(when(col("__rn") === n + 1, valueCol)).as("nth_val"),
          max(col("__rn")).as("__size"))
        // pandas gb.nth(n) DROPS groups with fewer than n+1 rows — a
        // null nth_val row would make group-too-small and
        // genuine-null-at-position-n indistinguishable
        .where(col("__size") >= n + 1)
        .drop("__size")
    }

    /** pandas `Series.autocorr(lag)` per group — lag window + Pearson
      * corr on the same partitioning (q89 shape).
      */
    def autocorr(
        valueCol: Column,
        orderBy: Column,
        lagN: Int = 1): DataFrame = {
      val wo = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(orderBy)
      df.withColumn("__lv", lag(valueCol, lagN).over(wo))
        .groupBy(keys.map(col): _*)
        .agg(corr(valueCol, col("__lv")).as("autocorr"))
    }

    /** pandas `gb[col].transform(lambda s: s.fillna(s.mean()))` — repair
      * nulls from the group mean without collapsing the frame (q92
      * shape: unordered window avg, null-ignoring).
      */
    def fillnaMean(valueCol: Column, outName: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
      df.withColumn(outName, coalesce(valueCol, avg(valueCol).over(w)))
    }

    /** Grouped time-offset rolling (`gb.rolling("24h")`) — one hash
      * exchange on the group keys, frames evaluated inside WindowExec.
      */
    def rollingRange(
        offset: String,
        orderBy: Column,
        closed: String = "right"): ParallelRollingRange =
      new ParallelRollingRange(
        df, Windows.offsetNanos(offset), orderBy, keys.map(col), closed)
  }

  final class ParallelRollingRange(
      df: DataFrame,
      rangeNanos: Long,
      orderBy: Column,
      partitionBy: Seq[Column],
      closed: String = "right") {

    /** Algebraic aggregate over the offset frame (min_periods defaults
      * to 1, pandas' offset-window default).
      */
    def parallelAgg(
        valueCol: Column,
        minPeriods: Int = 1)(agg: Column => Column): DataFrame =
      Windows.rollingRangeAgg(
        df, valueCol, orderBy, partitionBy, rangeNanos, minPeriods, closed)(agg)

    /** Black-box window UDF (pandas `rolling("24h").apply(f)`). */
    def parallelApply(
        valueCol: Column,
        outName: String,
        minPeriods: Int = 1)(f: Seq[Double] => Double): DataFrame =
      Windows.rollingRangeCollect(
        df, valueCol, orderBy, partitionBy, rangeNanos, outName,
        minPeriods, closed)(f)
  }

  final class ParallelRolling(
      df: DataFrame,
      window: Int,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      center: Boolean = false,
      closed: String = "right") {

    /** Black-box window function over the materialized frame. */
    def parallelApply(
        valueCol: Column,
        outName: String,
        minPeriods: Option[Int] = None)(
        f: Seq[Double] => Double): DataFrame =
      Windows.rollingCollect(
        df, valueCol, orderBy, partitionBy, window, outName,
        minPeriods, center, closed)(f)

    /** Algebraic aggregate over the frame (preferred at scale). */
    def parallelAgg(
        valueCol: Column,
        minPeriods: Option[Int] = None)(agg: Column => Column): DataFrame =
      Windows.rollingAgg(
        df, valueCol, orderBy, partitionBy, window,
        minPeriods, center, closed)(agg)

    /** pandas `rolling(w, method="table").apply(f)` — black-box UDF
      * over the whole w×k frame matrix (column-major; see
      * [[Windows.rollingTableApply]]).
      */
    def parallelApplyTable(
        cols: Seq[Column],
        outName: String,
        minPeriods: Option[Int] = None)(
        f: Seq[Seq[Double]] => Option[Double]): DataFrame =
      Windows.rollingTableApply(
        df, cols, orderBy, partitionBy, window, outName,
        minPeriods, center, closed)(f)

    /** pandas `rolling(w).corr(other)` — rolling Pearson correlation of
      * two series ([[Windows.rollingAgg2]] for pair-counting min_periods
      * semantics).
      */
    def parallelCorr(
        x: Column,
        y: Column,
        minPeriods: Option[Int] = None): DataFrame =
      Windows.rollingAgg2(
        df, x, y, orderBy, partitionBy, window,
        minPeriods, center, closed)(corr(_, _))

    /** pandas `rolling(w).cov(other)` — rolling sample covariance. */
    def parallelCov(
        x: Column,
        y: Column,
        minPeriods: Option[Int] = None): DataFrame =
      Windows.rollingAgg2(
        df, x, y, orderBy, partitionBy, window,
        minPeriods, center, closed)(covar_samp(_, _))

    /** pandas `rolling(w, win_type=...).mean()` — weighted window mean
      * (win_type is the last replayed rolling attribute,
      * series_rolling.py:22-28). Replays `center` and `closed`
      * (right/left — the frame shifts; the length-changing
      * both/neither are rejected loudly by
      * [[Windows.rollingWeightedMean]] rather than silently
      * mis-weighted).
      */
    def parallelWeightedMean(
        valueCol: Column,
        outName: String,
        winType: String = "triang",
        winTypeParams: Map[String, Double] = Map.empty): DataFrame =
      Windows.rollingWeightedMean(
        df, valueCol, orderBy, partitionBy,
        Windows.windowWeights(winType, window, winTypeParams), outName,
        center, closed)
  }

  final class ParallelEwm(
      df: DataFrame,
      alpha: Double,
      orderBy: Seq[Column],
      keys: Seq[String]) {

    /** pandas `.ewm(alpha, adjust=False).mean()` — see
      * [[Windows.ewmMean]] for the recursion and its scale shape.
      */
    def parallelMean(valueCol: String, outName: String): DataFrame =
      Windows.ewmMean(df, valueCol, orderBy, keys, alpha, outName)

    /** pandas `.ewm(alpha, adjust=False).var()` (bias=False) — emits
      * `outName` (unbiased var) and `outName_std`; see [[Windows.ewmVar]]
      * for the delta-form recursions.
      */
    def parallelVar(valueCol: String, outName: String): DataFrame =
      Windows.ewmVar(df, valueCol, orderBy, keys, alpha, outName)

    /** pandas `.ewm(alpha, adjust=False).cov(other)` / `.corr(other)`
      * (bias=False cov; corr from the biased ratio, exactly as pandas
      * computes it) — emits `outName` and `outName_corr`; see
      * [[Windows.ewmCov]] for the polarization-extended recursions.
      */
    def parallelCov(xCol: String, yCol: String, outName: String): DataFrame =
      Windows.ewmCov(df, xCol, yCol, orderBy, keys, alpha, outName)
  }

  final class ParallelExpanding(
      df: DataFrame,
      orderBy: Seq[Column],
      partitionBy: Seq[Column]) {

    /** Algebraic cumulative aggregate (expanding_groupby.py semantics —
      * always prefer the algebraic rewrite; a collect-based expanding
      * frame is O(n) state per row and does not survive scale).
      * `minPeriods` replays pandas `expanding(min_periods=n)` (default 1).
      */
    def parallelAgg(
        valueCol: Column,
        outName: String,
        minPeriods: Int = 1)(
        agg: Column => Column): DataFrame =
      Windows.expandingAgg(df, valueCol, orderBy, partitionBy, outName, minPeriods)(agg)

    /** Expanding fold for functions DECLARED mergeable — the scale form
      * of [[parallelApply]]: O(1) state and O(n) work per group via a
      * Spark `Aggregator` run incrementally by WindowExec (see
      * [[Windows.expandingAggregator]] for the merge contract).
      */
    def parallelFold[B](
        valueCol: Column,
        outName: String,
        minPeriods: Int = 1)(
        agg: org.apache.spark.sql.expressions.Aggregator[Double, B, Double])
        : DataFrame =
      Windows.expandingAggregator(
        df, valueCol, orderBy, partitionBy, outName, minPeriods)(agg)

    /** Black-box expanding UDF — pandas
      * `expanding(min_periods=n).parallel_apply(f)` with an ARBITRARY
      * function (expanding_groupby.py:63-67; the reference test's
      * non-algebraic weighted form, tests/test_pandarallel.py:131-141).
      * The UDF at row i sees the group's first i+1 values in order.
      * O(n)-per-row memory / O(n²)-per-group work — prefer
      * [[parallelAgg]] whenever the function is algebraic, and
      * [[parallelFold]] whenever the fold can state its merge (see
      * [[Windows.expandingCollect]] for the full trade).
      */
    def parallelApply(
        valueCol: Column,
        outName: String,
        minPeriods: Int = 1)(f: Seq[Double] => Double): DataFrame =
      Windows.expandingCollect(
        df, valueCol, orderBy, partitionBy, outName, minPeriods)(f)
  }
}
