package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** O6 / O7 / O8 — rolling and expanding window apply.
  * Reference: pandarallel/core.py:538-556, data_types/series_rolling.py,
  * rolling_groupby.py, expanding_groupby.py.
  *
  * The reference ships `window` extra rows per chunk and trims the
  * warm-up region after computing (series_rolling.py:16,47) — a manual
  * overlap protocol. Spark's `WindowExec` makes that protocol obsolete:
  * after one range/hash exchange, frame boundaries are handled inside the
  * operator (SURVEY §4.2). We therefore declare frames:
  *
  *  - rolling(w):   `rowsBetween(-(w-1), 0)`
  *  - expanding():  `rowsBetween(unboundedPreceding, 0)`
  *  - min_periods:  `when(count(col) over frame >= minPeriods, expr)`
  *    — reproduces pandas' NaN warm-up (first minPeriods-1 outputs null,
  *    tests/test_pandarallel.py:263-269).
  *
  * Scale posture: the *grouped* variants (O7/O8 — partitionBy(groupKeys))
  * scale horizontally: one hash exchange, then each group's window is
  * evaluated locally. The *ungrouped* Series variant (O6) implies a total
  * order. A declared window plans it as a single-partition window —
  * correct but a scale bottleneck, exactly like pandas' single global
  * sequence. [[rollingCollect]] avoids the funnel when its input is
  * already range-partitioned and sorted by the order and reads the same
  * twice (`spark.range`, a cache of an `orderBy` or `repartitionByRange`
  * + `sortWithinPartitions` frame, or such a sort over every column): it
  * then runs the reference's chunk-plus-margin protocol, one task per
  * range; [[rollingGlobalScalable]] range-partitions any input first.
  * For algebraic aggregates at 100 TB, express sequence locality with a
  * partition key (as O7 does) or with [[rollingAgg]] over a bucketed
  * time key.
  *
  * Arbitrary (non-algebraic) window UDFs: [[rollingCollect]] runs the
  * reference's black-box `rolling.apply(func)` as one operator,
  * [[RollingApply]]: with keys, a hash exchange on the keys and a sort
  * on the order alone (one ring per key); without keys, no exchange
  * and no sort on a range-ordered input (each task reads the first
  * rows of the ranges after its own for its last frames) and one
  * sorted partition otherwise. Then one streaming pass per partition
  * keeps a ring of the last w values per key and hands `func` a view
  * of the frame (O(w) memory per key, nothing materialized per row).
  * Running aggregates ([[expandingAgg]]) run the same way, as
  * [[RunningWindow]]: one aggregation buffer per key. The other
  * black-box forms —
  * [[rollingRangeCollect]], [[expandingCollect]], [[rollingTableApply]]
  * — still materialize each frame with `collect_list` and apply a Scala
  * UDF. Prefer algebraic rewrite whenever the function is recognizable
  * (SURVEY §7.4): for expanding windows especially, collect-based
  * frames are O(n) per row and an algebraic `sum/avg/...` over the
  * frame is the only shape that survives scale.
  */
object Windows {

  /** pandas fixed-window frame with full attribute replay (the reference
    * captures and re-applies `window/min_periods/center/closed` —
    * series_rolling.py:22-28, rolling_groupby.py:35-40). Frame bounds
    * follow pandas' FixedWindowIndexer exactly:
    *   - base frame ending at the current row: [-(w-1), 0]
    *   - center=true shifts both bounds forward by (w-1)/2
    *   - closed: "right" (default) keeps w rows; "both" extends the start
    *     one earlier (w+1 rows); "left" shifts the whole frame one back
    *     (w rows, excluding the current row); "neither" drops the current
    *     row (w-1 rows)
    */
  def rollingFrame(
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      window: Int,
      center: Boolean = false,
      closed: String = "right"): WindowSpec = {
    val base =
      if (partitionBy.isEmpty) Window.orderBy(orderBy: _*)
      else Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    val (lo, hi) = rowBounds(window, center, closed)
    base.rowsBetween(lo, hi)
  }

  /** Row offsets [lo, hi] of [[rollingFrame]]'s frame, relative to the
    * current row.
    */
  def rowBounds(window: Int, center: Boolean, closed: String): (Int, Int) = {
    val offset = if (center) (window - 1) / 2 else 0
    closed match {
      case "right"   => (offset - window + 1, offset)
      case "both"    => (offset - window, offset)
      case "left"    => (offset - window, offset - 1)
      case "neither" => (offset - window + 1, offset - 1)
      case other =>
        throw new IllegalArgumentException(
          s"closed must be right|both|left|neither, got '$other'")
    }
  }

  /** pandas duration string → nanoseconds (the offset grammar of
    * `rolling("30min")` / `rolling("24h")`, pandas Timedelta units).
    */
  def offsetNanos(offset: String): Long = {
    val m = "^\\s*(\\d+)\\s*(ns|us|ms|s|min|h|d)\\s*$".r
      .findFirstMatchIn(offset)
      .getOrElse(throw new IllegalArgumentException(
        s"unparseable window offset '$offset' (expected e.g. 30min, 24h, 10s)"))
    val n = m.group(1).toLong
    val unit = m.group(2) match {
      case "ns"  => 1L
      case "us"  => 1000L
      case "ms"  => 1000L * 1000
      case "s"   => 1000L * 1000 * 1000
      case "min" => 60L * 1000 * 1000 * 1000
      case "h"   => 3600L * 1000 * 1000 * 1000
      case "d"   => 24L * 3600 * 1000 * 1000 * 1000
    }
    Math.multiplyExact(n, unit)
  }

  /** pandas TIME-OFFSET rolling frame — `rolling("24h")` on a time index
    * (VariableWindowIndexer; the same `_attributes` replay machinery as
    * the fixed frame, series_rolling.py:22-28). Declared as a
    * `rangeBetween` over a NUMERIC order column (e.g. epoch-nanos ts),
    * so Spark's WindowExec evaluates it after one hash exchange — no
    * per-chunk overlap shipping.
    *
    * `closed` follows pandas' offset-window semantics (default "right"
    * EXCLUDES the left edge): right = (t-w, t], both = [t-w, t],
    * left = [t-w, t), neither = (t-w, t). Range bounds are value-based,
    * so rows tied with the current row's order value are peers: "left"/
    * "neither" exclude all of them, in both Spark and standard SQL RANGE
    * semantics.
    *
    * Scale posture: identical to any grouped window — one exchange on the
    * partition keys; ungrouped use collapses to one partition (same
    * caveat as [[rollingFrame]]). Unlike fixed-row frames it has no
    * range-ordered path: a duration frame's row margin is unbounded.
    */
  def rollingRangeFrame(
      orderBy: Column,
      partitionBy: Seq[Column],
      rangeSize: Long,
      closed: String = "right"): WindowSpec = {
    require(rangeSize > 0, s"window offset must be positive, got $rangeSize")
    val base =
      if (partitionBy.isEmpty) Window.orderBy(orderBy)
      else Window.partitionBy(partitionBy: _*).orderBy(orderBy)
    val (lo, hi) = closed match {
      case "right"   => (-(rangeSize - 1), 0L)
      case "both"    => (-rangeSize, 0L)
      case "left"    => (-rangeSize, -1L)
      case "neither" => (-(rangeSize - 1), -1L)
      case other =>
        throw new IllegalArgumentException(
          s"closed must be right|both|left|neither, got '$other'")
    }
    base.rangeBetween(lo, hi)
  }

  /** Algebraic aggregate over a time-offset frame with pandas attribute
    * replay (`min_periods` defaults to 1 for offset windows — every row
    * has at least itself in a right-closed frame).
    */
  def rollingRangeAgg(
      df: DataFrame,
      valueCol: Column,
      orderBy: Column,
      partitionBy: Seq[Column],
      rangeSize: Long,
      minPeriods: Int = 1,
      closed: String = "right")(agg: Column => Column): DataFrame = {
    val frame = rollingRangeFrame(orderBy, partitionBy, rangeSize, closed)
    df.withColumn(
      "__rolling__",
      withMinPeriods(agg(valueCol).over(frame), valueCol, frame, minPeriods))
  }

  /** Black-box UDF over a time-offset frame — pandas
    * `rolling("24h").apply(f)`. Unlike [[rollingCollect]], this form
    * still materializes each frame as an array (`collect_list` + a
    * Scala UDF), and a duration window is bounded by the data rate
    * within the offset, not a fixed row count — size the offset so the
    * densest key's window fits (or switch to an algebraic
    * [[rollingRangeAgg]]).
    */
  def rollingRangeCollect(
      df: DataFrame,
      valueCol: Column,
      orderBy: Column,
      partitionBy: Seq[Column],
      rangeSize: Long,
      outName: String,
      minPeriods: Int = 1,
      closed: String = "right",
      counter: Option[graft.progress.Progress.RowCounter] = None)(
      f: Seq[Double] => Double): DataFrame = {
    val frame = rollingRangeFrame(orderBy, partitionBy, rangeSize, closed)
    val g = counter match {
      case None    => f
      case Some(c) => (xs: Seq[Double]) => { c.tick(); f(xs) }
    }
    val fUdf = udf(g)
    val arr = collect_list(valueCol).over(frame)
    df.withColumn(outName, when(size(arr) >= minPeriods, fUdf(arr)))
  }

  def expandingFrame(
      orderBy: Seq[Column],
      partitionBy: Seq[Column]): WindowSpec = {
    val base =
      if (partitionBy.isEmpty) Window.orderBy(orderBy: _*)
      else Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
  }

  /** pandas min_periods guard: null until the frame holds >= minPeriods
    * non-null values.
    */
  def withMinPeriods(
      value: Column,
      countedCol: Column,
      frame: WindowSpec,
      minPeriods: Int): Column =
    when(count(countedCol).over(frame) >= minPeriods, value)

  /** Bivariate rolling aggregate — pandas `rolling(w).corr(other)` /
    * `.cov(other)`, the two-series window surface. Same frame and
    * attribute replay as [[rollingAgg]]; `min_periods` counts complete
    * (x, y) PAIRS, matching pandas' pairwise semantics (a row where
    * either side is null does not advance the warm-up — and Spark's
    * `corr`/`covar_samp` likewise skip incomplete pairs inside the
    * frame). Stays a declarative window aggregate: one hash exchange on
    * `partitionBy`, then WindowExec computes the co-moments per frame —
    * no collect, scales like every other grouped rolling op here.
    */
  def rollingAgg2(
      df: DataFrame,
      x: Column,
      y: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      window: Int,
      minPeriods: Option[Int] = None,
      center: Boolean = false,
      closed: String = "right")(agg: (Column, Column) => Column): DataFrame = {
    val frame = rollingFrame(orderBy, partitionBy, window, center, closed)
    val mp = minPeriods.getOrElse(window)
    val pair = when(x.isNotNull && y.isNotNull, lit(1))
    df.withColumn(
      "__rolling__",
      when(count(pair).over(frame) >= mp, agg(x, y).over(frame)))
  }

  /** Algebraic rolling aggregate over a fixed window of `window` rows,
    * with pandas attribute replay (center / closed / min_periods).
    */
  def rollingAgg(
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      window: Int,
      minPeriods: Option[Int] = None,
      center: Boolean = false,
      closed: String = "right")(agg: Column => Column): DataFrame = {
    val frame = rollingFrame(orderBy, partitionBy, window, center, closed)
    val mp = minPeriods.getOrElse(window)
    df.withColumn(
      "__rolling__",
      withMinPeriods(agg(valueCol).over(frame), valueCol, frame, mp))
  }

  /** Black-box rolling UDF — pandas `rolling(w).apply(f)` — as one
    * [[RollingApply]] operator: one streaming pass per partition with a
    * ring of the frame's values per key, handing `f` a view of the
    * frame (null values are left out of it and of the `minPeriods`
    * count). With `partitionBy` keys the rows first go through a hash
    * exchange on the keys and a sort on `orderBy` alone; each task keeps
    * one ring per key (memory: distinct keys in a partition × the ring
    * plus up to `hi` rows read ahead, not spillable; one key's at a time
    * when the input already arrives sorted by keys ++ order). Without
    * keys, an
    * input already range-partitioned and sorted by `orderBy`,
    * deterministic, and sure to hand over tied rows in the same order
    * when read twice (a cached or `spark.range` frame, or a sort over
    * every column; the tie rule of [[RollingApplyExec]]) is read as it
    * is, one task per partition, each taking at most `window` rows from
    * the partitions after its own for its last frames (pandarallel's
    * chunk-plus-margin protocol); any other ungrouped input is gathered
    * into one sorted partition. `f` runs outside codegen (same trade
    * the reference makes for arbitrary Python) and must not keep the
    * `Seq` it is given. With `minPeriods < window` `f` sees shorter
    * frames near edges — exactly pandas' rolling.apply contract.
    * Progress ticks once per `f` call (valid windows only) — the
    * operator's work unit is the row; the reference's per-group unit
    * (rolling_groupby.py:71-74) corresponds to the hash-exchange groups
    * the task listener already tracks.
    */
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
      counter: Option[graft.progress.Progress.RowCounter] = None)(
      f: Seq[Double] => Double): DataFrame = {
    val (lo, hi) = rowBounds(window, center, closed)
    RollingApply(
      df, valueCol, orderBy, partitionBy,
      RollingApply.Frame(lo, hi, minPeriods.getOrElse(window), f, counter),
      outName)
  }

  /** Algebraic expanding (cumulative) aggregate per group. pandas
    * `expanding(min_periods=n)` (default 1) is replayed as a null
    * warm-up: output is null until the frame holds >= n observations
    * (the reference replays this attribute — expanding_groupby.py:35-40).
    *
    * Registers [[RunningWindow.Strategy]] on the session: when `agg` is
    * a declarative aggregate with a fixed-width buffer (`sum`, `count`,
    * `avg`, and `min`, `max`, `last` over numbers, dates or booleans),
    * the window runs as [[RunningWindowExec]] — after the hash exchange
    * on the keys, each partition is sorted by the order alone and each
    * task keeps one aggregation buffer per key (memory: distinct keys in
    * a partition × one buffer, not spillable). Any other aggregate
    * (`min`/`max`/`last` over strings, `collect_list`, ...) keeps
    * `WindowExec`.
    */
  def expandingAgg(
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      outName: String,
      minPeriods: Int = 1)(agg: Column => Column): DataFrame = {
    RunningWindow.register(df.sparkSession)
    val frame = expandingFrame(orderBy, partitionBy)
    val out =
      if (minPeriods > 1)
        withMinPeriods(agg(valueCol).over(frame), valueCol, frame, minPeriods)
      else agg(valueCol).over(frame)
    df.withColumn(outName, out)
  }

  /** Black-box EXPANDING UDF — pandas `expanding(min_periods=n).apply(f)`
    * with an arbitrary function (the reference runs any Python callable
    * per expanding window — expanding_groupby.py:63-67,
    * tests/test_pandarallel.py:131-141). The frame materializes as an
    * array via `collect_list`, so the UDF at row i sees the first i+1
    * values in order — which means O(n) memory PER ROW and O(n²) total
    * work per group. That is the honest cost of an arbitrary cumulative
    * function (the reference pays the same inside each worker); whenever
    * the function is recognizable as an algebraic aggregate, use
    * [[expandingAgg]] instead — O(1) state per row, the only shape that
    * survives unbounded group sizes. Size groups (the partition keys)
    * so the largest group's full history fits in a task when using this.
    * (It keeps the `collect_list` plan; [[rollingCollect]]'s streaming
    * operator covers fixed-row frames only.)
    */
  def expandingCollect(
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      outName: String,
      minPeriods: Int = 1,
      counter: Option[graft.progress.Progress.RowCounter] = None)(
      f: Seq[Double] => Double): DataFrame = {
    val frame = expandingFrame(orderBy, partitionBy)
    val g = counter match {
      case None    => f
      case Some(c) => (xs: Seq[Double]) => { c.tick(); f(xs) }
    }
    val fUdf = udf(g)
    val arr = collect_list(valueCol).over(frame)
    df.withColumn(outName, when(size(arr) >= minPeriods, fUdf(arr)))
  }

  /** Aggregator-based expanding apply — the SCALE form of
    * [[expandingCollect]] for folds DECLARED mergeable. The user hands
    * a Spark `Aggregator[Double, B, Double]` (zero / reduce / merge /
    * finish); WindowExec's unbounded-preceding frame feeds it
    * incrementally — one `reduce` per arriving row, one `finish` per
    * output row — so the per-group cost is O(n) with O(1) state,
    * versus [[expandingCollect]]'s O(n²) work and O(n)-per-row frame
    * arrays. This is the shape that survives an unbounded hot key.
    *
    * The declaration is a real contract, not a hint: `merge` must be
    * associative with `zero` as identity (Spark is free to combine
    * partial buffers), and `reduce` order-sensitive state is fine —
    * rows arrive in frame order within a group. Anything that can't
    * state its merge stays on [[expandingCollect]]; that fallback IS
    * the honest cost of an arbitrary function (see its scaladoc).
    *
    * Position-dependent folds are still expressible: carry the extra
    * moments in the buffer (e.g. Σ(i+1)·xᵢ merges via
    * (wA + wB + nA·sB) — the q55-twin query's buffer).
    */
  def expandingAggregator[B](
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      outName: String,
      minPeriods: Int = 1)(
      agg: org.apache.spark.sql.expressions.Aggregator[Double, B, Double])
      : DataFrame = {
    val frame = expandingFrame(orderBy, partitionBy)
    val u = udaf(agg)
    df.withColumn(
      outName,
      withMinPeriods(
        u(valueCol.cast("double")).over(frame),
        valueCol,
        frame,
        minPeriods))
  }

  /** pandas `rolling(w, method="table").apply(f)` — black-box UDF over
    * the WHOLE w×k frame MATRIX (all columns at once, not one series),
    * the multi-column sibling of [[rollingCollect]]. Every column's
    * frame slice materializes via `collect_list` over ONE shared window
    * spec, so Catalyst collapses the k aggregates into a single
    * `WindowExec` — one exchange + one sort regardless of k. The UDF
    * receives the matrix COLUMN-major (`cols(j)(i)` = column j, row i
    * of the frame, frame rows in window order) — the natural Spark
    * shape; transpose inside `f` if row-major is wanted. Unlike
    * [[rollingCollect]], this form keeps the `collect_list` plan: O(w·k)
    * memory per row — the honest price of an arbitrary multi-column
    * function; if `f` is recognizable as per-column algebra or a pair
    * aggregate, use [[rollingAgg]] / [[rollingAgg2]] instead.
    */
  def rollingTableApply(
      df: DataFrame,
      cols: Seq[Column],
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      window: Int,
      outName: String,
      minPeriods: Option[Int] = None,
      center: Boolean = false,
      closed: String = "right")(f: Seq[Seq[Double]] => Option[Double]): DataFrame = {
    require(cols.nonEmpty, "rollingTableApply needs at least one column")
    val frame = rollingFrame(orderBy, partitionBy, window, center, closed)
    val fUdf = udf(f)
    // ONE collect_list of the row STRUCT, not one list per column:
    // collect_list drops null elements, so per-column lists silently
    // row-misalign whenever any cell in the frame is null (a struct
    // with a null field is itself non-null and survives). Null cells
    // reach the UDF as NaN with alignment intact — pandas
    // method="table" hands the matrix over NaNs the same way. Still
    // one WindowExec: the single aggregate is referenced k times.
    val rowStruct = struct(
      cols.zipWithIndex.map { case (c, j) => c.cast("double").as(s"_c$j") }: _*)
    val frameRows = collect_list(rowStruct).over(frame)
    val colArrays = cols.indices.map(j =>
      transform(
        frameRows,
        r => coalesce(r.getField(s"_c$j"), lit(Double.NaN))))
    val mp = minPeriods.getOrElse(window)
    df.withColumn(
      outName,
      when(size(frameRows) >= mp, fUdf(array(colArrays: _*))))
  }

  /** pandas `win_type` weighted-window weights (scipy.signal.windows
    * formulas, symmetric form — what pandas hands to the rolling mean):
    *  - `triang(M)`: even M → (2k+1)/M mirrored, odd M → 2(k+1)/(M+1)
    *    mirrored
    *  - `boxcar(M)`: all ones
    *  - `hamming(M)`: 0.54 - 0.46·cos(2πk/(M-1))
    *  - `gaussian(M, std)`: exp(-½((k-(M-1)/2)/std)²) — pandas passes
    *    `std` through `.mean(std=...)`; here via `params("std")`
    */
  def windowWeights(
      winType: String,
      window: Int,
      params: Map[String, Double] = Map.empty): Seq[Double] = winType match {
    case "triang" =>
      val half =
        if (window % 2 == 0)
          (0 until window / 2).map(k => (2.0 * k + 1) / window)
        else
          (0 until (window + 1) / 2).map(k => 2.0 * (k + 1) / (window + 1))
      half ++ half.reverse.drop(window % 2)
    case "boxcar" => Seq.fill(window)(1.0)
    case "hamming" =>
      if (window == 1) Seq(1.0)
      else (0 until window).map(k =>
        0.54 - 0.46 * math.cos(2 * math.Pi * k / (window - 1)))
    case "gaussian" =>
      val std = params.getOrElse(
        "std",
        throw new IllegalArgumentException(
          "win_type 'gaussian' requires params(\"std\") (pandas .mean(std=...))"))
      require(std > 0, s"gaussian std must be positive, got $std")
      val c = (window - 1) / 2.0
      (0 until window).map(k => math.exp(-0.5 * math.pow((k - c) / std, 2)))
    case "bartlett" =>
      // scipy.signal.windows.bartlett: 1 - |2k/(M-1) - 1|
      if (window == 1) Seq(1.0)
      else (0 until window).map(k =>
        1.0 - math.abs(2.0 * k / (window - 1) - 1.0))
    case "blackman" =>
      // scipy.signal.windows.blackman:
      //   0.42 - 0.5·cos(2πk/(M-1)) + 0.08·cos(4πk/(M-1))
      if (window == 1) Seq(1.0)
      else (0 until window).map { k =>
        0.42 - 0.5 * math.cos(2 * math.Pi * k / (window - 1)) +
          0.08 * math.cos(4 * math.Pi * k / (window - 1))
      }
    case "exponential" =>
      // scipy.signal.windows.exponential, symmetric form (what pandas
      // hands the weighted mean): exp(-|k - (M-1)/2| / tau); pandas
      // passes tau through `.mean(tau=...)` — here via params("tau")
      val tau = params.getOrElse(
        "tau",
        throw new IllegalArgumentException(
          "win_type 'exponential' requires params(\"tau\") (pandas .mean(tau=...))"))
      require(tau > 0, s"exponential tau must be positive, got $tau")
      val c = (window - 1) / 2.0
      (0 until window).map(k => math.exp(-math.abs(k - c) / tau))
    case other =>
      throw new IllegalArgumentException(s"unsupported win_type '$other'")
  }

  /** pandas `rolling(w, win_type=..., center=..., closed=...).mean()` —
    * weighted window mean Σwᵢxᵢ / Σwᵢ, null under `window` rows (pandas
    * requires a full window for weighted means). `center` shifts the
    * frame forward by (w-1)/2, same as [[rollingFrame]]; negative
    * lag = lead. `closed` replays the same frame SHIFTS as
    * [[rollingFrame]]: "right" (default) ends at the current row,
    * "left" shifts the whole frame one row back (excludes the current
    * row). "both"/"neither" CHANGE the observation count (w+1 / w-1
    * rows) — incompatible with a fixed-length weight vector, so they
    * are rejected loudly rather than silently mis-weighted.
    * Declared as a sum of `lag` expressions: fully codegen'd, no array
    * materialization, scales like any window aggregate.
    */
  def rollingWeightedMean(
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      weights: Seq[Double],
      outName: String,
      center: Boolean = false,
      closed: String = "right"): DataFrame = {
    val w = weights.length
    val offset = if (center) (w - 1) / 2 else 0
    val shift = closed match {
      case "right" => 0
      case "left"  => 1
      case "both" | "neither" =>
        throw new IllegalArgumentException(
          s"win_type windows are fixed-length ($w weights); closed " +
            s"\"$closed\" would change the row count — use right|left")
      case other =>
        throw new IllegalArgumentException(
          s"closed must be right|left for win_type windows, got '$other'")
    }
    val base =
      if (partitionBy.isEmpty) Window.orderBy(orderBy: _*)
      else Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    // weights index i = oldest..newest → lag distance (w-1-i) - offset,
    // plus one more row back when the frame excludes the current row
    val weighted = weights.zipWithIndex
      .map { case (wt, i) =>
        lag(valueCol, w - 1 - i - offset + shift).over(base) * lit(wt)
      }
      .reduce(_ + _)
    val frame = base.rowsBetween(offset - w + 1 - shift, offset - shift)
    df.withColumn(
      outName,
      when(count(valueCol).over(frame) >= w, weighted / lit(weights.sum)))
  }

  /** pandas `ewm(alpha=..., adjust=False).mean()` — exponentially
    * weighted mean, the one pandas window family whose definition is a
    * RECURSION (y₁ = x₁; yₜ = (1−α)·yₜ₋₁ + α·xₜ) and therefore cannot
    * be a Spark window aggregate: no frame expresses "my own previous
    * output". (The closed form Σ(1−α)⁻ⁱxᵢ·(1−α)ᵗ overflows doubles past
    * a few thousand rows — not an option.)
    *
    * Shape: key-partition + in-partition sort, then ONE streaming scan
    * with O(1) state per key (`mapPartitions`, state resets on key
    * change — every key's rows are contiguous after the sort). This is
    * exactly how a cluster computes any per-key recursion: one
    * exchange, then sequential within the key, all keys in parallel —
    * the same cost profile as a grouped window. Ungrouped use collapses
    * to a single partition (same caveat and same reason as
    * [[rollingFrame]]'s O6 note).
    *
    * The scan is a UDF-shaped row mapper (outside codegen) — inherent,
    * since the recursion is user-visible state; the per-row work is two
    * multiplies. `valueCol` must be a non-null DoubleType column (cast
    * upstream); pandas' `ignore_na` refinements are out of scope and
    * rejected by the type check rather than half-replayed.
    */
  /** pandas `ewm(alpha, adjust=False).var()` / `.std()` (bias=False, the
    * pandas default) — same per-key streaming scan as [[ewmMean]], with
    * three coupled recursions carried per key (normalized weights,
    * Σw = 1), in the cancellation-free DELTA form:
    *   δ   = xₜ − μₜ₋₁
    *   μₜ  = μₜ₋₁ + α·δ
    *   vₜ  = (1−α)·(vₜ₋₁ + α·δ²)          (biased var — never negative,
    *                                       unlike the m2 − μ² form, so
    *                                       sqrt is always defined)
    *   uₜ  = (1−α)²·uₜ₋₁ + α²             (Σ wᵢ², u₁ = 1)
    * The bias=False correction is Σw²/(Σw² − Σ(w²)) = 1/(1−u), undefined
    * at t=1 (u=1) — the first row per key is NULL, matching pandas' NaN.
    * Emitted columns: `⟨outName⟩` (unbiased var = v/(1−u)) and
    * `⟨outName⟩_std` (its sqrt). O(1) state per key; one exchange on
    * `keyCols` — identical scale posture to [[ewmMean]].
    */
  def ewmVar(
      df: DataFrame,
      valueCol: String,
      orderBy: Seq[Column],
      keyCols: Seq[String],
      alpha: Double,
      outName: String): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.DoubleType
    val base =
      if (keyCols.isEmpty) df.coalesce(1)
      else df.repartition(keyCols.map(col): _*)
    val sorted = base.sortWithinPartitions(keyCols.map(col) ++ orderBy: _*)
    val schema = sorted.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val vIdx = schema.fieldIndex(valueCol)
    require(
      schema(vIdx).dataType == DoubleType,
      s"ewmVar needs a double $valueCol, got ${schema(vIdx).dataType}")
    val outSchema =
      schema.add(outName, DoubleType).add(outName + "_std", DoubleType)
    sorted.mapPartitions { it =>
      var curKey: Seq[Any] = null
      var started = false
      var mu = 0.0
      var v = 0.0
      var u = 0.0
      it.map { r =>
        val key = keyIdx.map(r.get)
        if (key != curKey) { curKey = key; started = false }
        val x = r.getDouble(vIdx)
        val out: Seq[Any] =
          if (!started) {
            started = true; mu = x; v = 0.0; u = 1.0
            Seq(null, null)
          } else {
            val delta = x - mu
            mu = mu + alpha * delta
            v = (1 - alpha) * (v + alpha * delta * delta)
            u = (1 - alpha) * (1 - alpha) * u + alpha * alpha
            val unbiased = v / (1 - u)
            Seq(unbiased, math.sqrt(unbiased))
          }
        Row.fromSeq(r.toSeq ++ out)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** pandas `ewm(alpha, adjust=False).cov(other)` / `.corr(other)` —
    * [[ewmVar]]'s delta-form recursions extended to the CROSS moment by
    * polarization (both deltas use the PREVIOUS means):
    *   δx  = xₜ − μx,ₜ₋₁         δy  = yₜ − μy,ₜ₋₁
    *   μx,ₜ = μx,ₜ₋₁ + α·δx      μy,ₜ = μy,ₜ₋₁ + α·δy
    *   cₜ  = (1−α)·(cₜ₋₁ + α·δx·δy)     (biased cov)
    *   vx/vy as in [[ewmVar]];  uₜ = (1−α)²·uₜ₋₁ + α²  (Σw²)
    * Emits `⟨outName⟩` = unbiased cov c/(1−u) (pandas bias=False,
    * NULL at t=1 where 1−u=0) and `⟨outName⟩_corr` = c/√(vx·vy) (the
    * bias corrections cancel in the ratio — pandas computes corr from
    * the biased moments; NULL at t=1 and whenever either variance is 0,
    * matching pandas NaN). Same shape as [[ewmVar]]: one exchange on
    * `keyCols`, O(1) state per key, streaming in-partition scan.
    */
  def ewmCov(
      df: DataFrame,
      xCol: String,
      yCol: String,
      orderBy: Seq[Column],
      keyCols: Seq[String],
      alpha: Double,
      outName: String): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.DoubleType
    val base =
      if (keyCols.isEmpty) df.coalesce(1)
      else df.repartition(keyCols.map(col): _*)
    val sorted = base.sortWithinPartitions(keyCols.map(col) ++ orderBy: _*)
    val schema = sorted.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val xIdx = schema.fieldIndex(xCol)
    val yIdx = schema.fieldIndex(yCol)
    Seq(xIdx, yIdx).foreach(i =>
      require(
        schema(i).dataType == DoubleType,
        s"ewmCov needs double columns, got ${schema(i).dataType} " +
          s"for ${schema(i).name}"))
    val outSchema =
      schema.add(outName, DoubleType).add(outName + "_corr", DoubleType)
    sorted.mapPartitions { it =>
      var curKey: Seq[Any] = null
      var started = false
      var mux = 0.0
      var muy = 0.0
      var c = 0.0
      var vx = 0.0
      var vy = 0.0
      var u = 0.0
      it.map { r =>
        val key = keyIdx.map(r.get)
        if (key != curKey) { curKey = key; started = false }
        val x = r.getDouble(xIdx)
        val y = r.getDouble(yIdx)
        val out: Seq[Any] =
          if (!started) {
            started = true
            mux = x; muy = y; c = 0.0; vx = 0.0; vy = 0.0; u = 1.0
            Seq(null, null)
          } else {
            val dx = x - mux
            val dy = y - muy
            mux = mux + alpha * dx
            muy = muy + alpha * dy
            c = (1 - alpha) * (c + alpha * dx * dy)
            vx = (1 - alpha) * (vx + alpha * dx * dx)
            vy = (1 - alpha) * (vy + alpha * dy * dy)
            u = (1 - alpha) * (1 - alpha) * u + alpha * alpha
            val cov = c / (1 - u)
            val corr: Any =
              if (vx * vy > 0) c / math.sqrt(vx * vy) else null
            Seq(cov, corr)
          }
        Row.fromSeq(r.toSeq ++ out)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** pandas `rolling(w).skew()` / `.kurt()` — bias-corrected sample
    * skewness (adjusted Fisher-Pearson G1) and excess kurtosis (G2),
    * the scipy `bias=False` forms pandas matches:
    *   G1 = √(n(n−1))/(n−2) · m3/m2^1.5
    *   G2 = n(n+1)/((n−1)(n−2)(n−3)) · n·m4/s⁴ − 3(n−1)²/((n−2)(n−3))
    * with population central moments m2..m4 from raw power sums over the
    * frame (s1..s4) and s² = n·m2/(n−1). Declarative window aggregates —
    * four sums + count per frame, one exchange, codegen-friendly. The
    * raw-moment expansion trades the textbook two-pass centering for a
    * ~1e-8 absolute cancellation floor on m3/m4 (value⁴ ≈ 1e10 at
    * |x| ≤ 500) — round displayed results to ≤5 decimals, and spell the
    * oracle with the IDENTICAL expression tree.
    * Emits `⟨outName⟩_skew` and `⟨outName⟩_kurt`, null under
    * `minPeriods` (default = window, pandas-style warm-up).
    */
  def rollingSkewKurt(
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      window: Int,
      outName: String,
      minPeriods: Option[Int] = None): DataFrame = {
    val frame = rollingFrame(orderBy, partitionBy, window)
    val mp = minPeriods.getOrElse(window)
    val x = valueCol
    val n = count(x).over(frame).cast("double")
    val s1 = sum(x).over(frame)
    val s2 = sum(x * x).over(frame)
    val s3 = sum(x * x * x).over(frame)
    val s4 = sum(x * x * x * x).over(frame)
    val m = s1 / n
    val m2 = s2 / n - m * m
    val m3 = s3 / n - lit(3) * m * (s2 / n) + lit(2) * m * m * m
    val m4 = s4 / n - lit(4) * m * (s3 / n) +
      lit(6) * m * m * (s2 / n) - lit(3) * m * m * m * m
    val skew = sqrt(n * (n - 1)) / (n - 2) * m3 / pow(m2, 1.5)
    val sVar = n * m2 / (n - 1) // sample variance (ddof=1)
    val kurt = n * (n + 1) / ((n - 1) * (n - 2) * (n - 3)) *
      (n * m4) / (sVar * sVar) -
      lit(3) * (n - 1) * (n - 1) / ((n - 2) * (n - 3))
    // constant window (m2 == 0) → NULL like pandas' NaN — also keeps
    // ANSI mode from throwing DIVIDE_BY_ZERO on the m2^1.5 / sv² bases.
    // The moment formulas additionally need n ≥ 3 (skew, n−2 factor)
    // and n ≥ 4 (kurt, n−3 factor) — below that pandas emits NaN, while
    // the raw expression would emit ±Infinity from the zero denominator
    val nObs = count(x).over(frame)
    val gate = nObs >= mp && m2 > 0
    df.withColumn(outName + "_skew", when(gate && nObs >= 3, skew))
      .withColumn(outName + "_kurt", when(gate && nObs >= 4, kurt))
  }

  /** pandas `rank()` with all five tie methods per group, over the sort
    * key `valueCol` (ascending, 1-based, like pandas):
    *   - first:   ties broken by `tiebreak` order (row_number)
    *   - min:     SQL rank()
    *   - max:     rank + (ties in this value) − 1
    *   - dense:   SQL dense_rank()
    *   - average: rank + (ties − 1)/2
    * Emits `r_first, r_min, r_max, r_dense, r_avg`. All six window
    * expressions share the per-group sort, so Catalyst plans one
    * exchange; the ties count adds a second WindowExec over the
    * (group, value) partitioning — no extra shuffle beyond its hash
    * re-key. pandas emits float ranks — r_avg is double, the others
    * stay integral.
    */
  def rankMethods(
      df: DataFrame,
      valueCol: Column,
      tiebreak: Seq[Column],
      partitionBy: Seq[Column]): DataFrame = {
    // pandas rank() with na_option='keep': null values get NULL in
    // every method and do NOT shift other rows' ranks. Nulls sort LAST
    // (so non-null ranks are unaffected by their presence) and every
    // output is gated on non-null — Spark's default ascending ordering
    // would instead rank nulls FIRST and off-by-count everything.
    val ordered = valueCol.asc_nulls_last
    val byValue =
      if (partitionBy.isEmpty) Window.orderBy(ordered)
      else Window.partitionBy(partitionBy: _*).orderBy(ordered)
    val byValueTb =
      if (partitionBy.isEmpty) Window.orderBy(ordered +: tiebreak: _*)
      else
        Window.partitionBy(partitionBy: _*).orderBy(ordered +: tiebreak: _*)
    val ties = Window.partitionBy(partitionBy :+ valueCol: _*)
    val keep = valueCol.isNotNull
    df.withColumn("r_first", when(keep, row_number().over(byValueTb)))
      .withColumn("r_min", when(keep, rank().over(byValue)))
      .withColumn("__ties", count(lit(1)).over(ties))
      .withColumn("r_max", col("r_min") + col("__ties") - 1)
      .withColumn("r_dense", when(keep, dense_rank().over(byValue)))
      .withColumn("r_avg", col("r_min") + (col("__ties") - 1) / 2.0)
      .drop("__ties")
  }

  /** pandas `shift(n)` / `diff(n)` / `pct_change(n)` per group — the
    * lag-expression family. `periods` may be negative (pandas shift(-n)
    * looks forward; Spark's unified lag accepts negative offsets).
    * Emits `outName` (shifted), `outName_diff`, `outName_pct`: all three
    * share one window, so Catalyst plans a single exchange + WindowExec.
    */
  def shiftOps(
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      periods: Int,
      outName: String): DataFrame = {
    val base =
      if (partitionBy.isEmpty) Window.orderBy(orderBy: _*)
      else Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    val shifted = lag(valueCol, periods).over(base)
    df.withColumn(outName, shifted)
      .withColumn(outName + "_diff", valueCol - col(outName))
      // zero base → NULL (pandas emits ±inf; NULL is the cross-engine-
      // stable choice, and Spark's ANSI mode would otherwise throw
      // DIVIDE_BY_ZERO on the first zero in the data)
      .withColumn(
        outName + "_pct",
        when(col(outName) =!= 0, valueCol / col(outName) - 1))
  }

  /** pandas `Series.interpolate(method='linear')` / `ffill()` / `bfill()`
    * per group — the missing-value repair pass of feature pipelines.
    * Declarative shape: a row_number plus two mirrored running lookups
    * (`last(x, ignoreNulls)` over the unbounded-preceding frame,
    * `first(x, ignoreNulls)` over the unbounded-following frame) give the
    * previous/next anchor value AND its position; a null row is then
    *   - left as null with no left anchor (pandas: leading NaNs stay),
    *   - forward-filled with no right anchor (pandas default
    *     limit_direction: trailing NaNs take the last valid value),
    *   - otherwise linearly blended by row distance between anchors.
    * Emits `outName` (interpolated), `outName_ffill`, `outName_bfill`.
    * One hash exchange on `partitionBy`, then WindowExec streams both
    * frames — no state beyond the running anchors; scales like every
    * grouped window here. Empty `partitionBy` = one global series =
    * single-partition window (the O6 caveat at the top of this file).
    */
  def interpolateLinear(
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      outName: String): DataFrame = {
    val base =
      if (partitionBy.isEmpty) Window.orderBy(orderBy: _*)
      else Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    val wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val x = valueCol
    // row_number materialized first: a window expression can't nest
    // inside another window aggregate's argument
    df.withColumn("__rn", row_number().over(base))
      .withColumn("__pv", last(x, ignoreNulls = true).over(wb))
      .withColumn(
        "__pp",
        last(when(x.isNotNull, col("__rn")), ignoreNulls = true).over(wb))
      .withColumn("__nv", first(x, ignoreNulls = true).over(wf))
      .withColumn(
        "__np",
        first(when(x.isNotNull, col("__rn")), ignoreNulls = true).over(wf))
      .withColumn(
        outName,
        when(x.isNotNull, x)
          .when(col("__pv").isNull, lit(null))
          .when(col("__nv").isNull, col("__pv"))
          .otherwise(
            col("__pv") +
              (col("__nv") - col("__pv")) * (col("__rn") - col("__pp")) /
              (col("__np") - col("__pp"))))
      .withColumn(outName + "_ffill", coalesce(x, col("__pv")))
      .withColumn(outName + "_bfill", coalesce(x, col("__nv")))
      .drop("__rn", "__pv", "__pp", "__nv", "__np")
  }

  def ewmMean(
      df: DataFrame,
      valueCol: String,
      orderBy: Seq[Column],
      keyCols: Seq[String],
      alpha: Double,
      outName: String): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.DoubleType
    val base =
      if (keyCols.isEmpty) df.coalesce(1)
      else df.repartition(keyCols.map(col): _*)
    val sorted = base.sortWithinPartitions(keyCols.map(col) ++ orderBy: _*)
    val schema = sorted.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val vIdx = schema.fieldIndex(valueCol)
    require(
      schema(vIdx).dataType == DoubleType,
      s"ewmMean needs a double $valueCol, got ${schema(vIdx).dataType}")
    val outSchema = schema.add(outName, DoubleType)
    sorted.mapPartitions { it =>
      var curKey: Seq[Any] = null
      var started = false
      var y = 0.0
      it.map { r =>
        val key = keyIdx.map(r.get)
        if (key != curKey) { curKey = key; started = false }
        val x = r.getDouble(vIdx)
        y = if (!started) { started = true; x } else (1 - alpha) * y + alpha * x
        Row.fromSeq(r.toSeq :+ y)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** SCALABLE total-order rolling window — pandas' ungrouped
    * `rolling(w).apply(f)` without the single-partition funnel an
    * ungrouped `Window.orderBy` plans. The frame is range-partitioned
    * and sorted by the order key (the one exchange any global sort
    * pays), then [[rollingCollect]] runs on it: its operator sees a
    * range-ordered input and applies the reference's chunk-plus-margin
    * protocol (utils.py:9-58 `start_offset`, series_rolling.py:16,47)
    * — each task streams its own range and reads the first rows of the
    * ranges after it for its last frames, with no second exchange, no
    * driver collect and no broadcast. The read-ahead sorts each range
    * a second time, in the task before it (in parallel; it stops after
    * the first rows). Each range is sorted by (order, value), so rows
    * tied on the order key come out in the same order from either sort
    * (a tie group crossing the read-ahead margin is then neither
    * emitted twice nor dropped) and ties are broken by value. With a
    * unique order key the output matches the single-partition window
    * exactly, null values included (left out of the frame, as in
    * [[rollingCollect]]).
    *
    * @param orderCol  total-order key (must be globally sortable)
    */
  def rollingGlobalScalable(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      window: Int,
      outName: String,
      numPartitions: Int = 0)(f: Seq[Double] => Double): DataFrame = {
    val n =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    val sorted = df
      .select(Seq(orderCol, valueCol).distinct.map(col): _*)
      .repartitionByRange(n, col(orderCol))
      .sortWithinPartitions(orderCol, valueCol)
    rollingCollect(sorted, col(valueCol), Seq(col(orderCol)), Nil, window, outName)(f)
      .select(orderCol, outName)
  }

  /** SCALABLE ungrouped prefix sum — a carry protocol for the
    * UNBOUNDED frame, which has no finite margin for
    * [[rollingGlobalScalable]]'s read-ahead (pandas ungrouped
    * `.cumsum()` / SQL `sum() OVER (ORDER BY … ROWS UNBOUNDED
    * PRECEDING)`), which Spark's `WindowExec` would otherwise collapse
    * to a single partition. The classic two-phase parallel scan, on
    * Spark primitives:
    *   1. range-partition + in-partition sort on the order key (the one
    *      exchange any global ordering pays), materialized once;
    *   2. per-partition TOTALS — #partitions longs — collected and
    *      scanLeft'd into per-partition OFFSETS on the driver (the
    *      [[graft.ops.GlobalRank]] bounded-collect argument: the
    *      driver holds one value per partition, never data);
    *   3. one streaming pass per partition: running sum + broadcast
    *      offset. Output matches the single-partition window exactly.
    * LONG arithmetic — exact prefix sums, association-order-free (sum
    * money in cents, not doubles; a double prefix sum would drift vs
    * any sequential oracle by summation order). Null values count as 0
    * (pre-filter upstream if null must poison).
    */
  def prefixSumScalable(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outName: String,
      numPartitions: Int = 0): DataFrame =
    prefixScanScalable(df, orderCol, valueCol, outName, "sum", numPartitions)

  /** [[prefixSumScalable]] generalized to any associative-with-identity
    * reduction over longs — `op` ∈ sum | max | min (cumsum / cummax /
    * cummin). The two-phase scan is monoid-generic: per-partition
    * totals fold with `op`, the driver scanLeft's them into offsets,
    * and the streaming pass folds the offset into each row — the same
    * protocol, identical cost, any monoid.
    */
  def prefixScanScalable(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outName: String,
      op: String,
      numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val (zero: Long, fold: ((Long, Long) => Long)) = op match {
      case "sum" => (0L, (a: Long, b: Long) => a + b)
      case "max" => (Long.MinValue, (a: Long, b: Long) => math.max(a, b))
      case "min" => (Long.MaxValue, (a: Long, b: Long) => math.min(a, b))
      case other =>
        throw new IllegalArgumentException(
          s"prefixScanScalable op must be sum|max|min, got '$other'")
    }
    val spark = df.sparkSession
    val n =
      if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val sorted = df
      .repartitionByRange(n, col(orderCol))
      .sortWithinPartitions(orderCol)
      .select(
        col(orderCol).cast("long").as("__ord"),
        coalesce(col(valueCol).cast("long"), lit(zero)).as("__v"))
      .transform(Stage.materializeOnce) // sort runs once; both passes reuse
    val totals: Array[(Int, Long)] = sorted.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var s = zero
        it.foreach(r => s = fold(s, r.getLong(1)))
        Iterator.single(i -> s)
      }
      .collect()
    // offsets(i) = fold of everything before partition i (bounded:
    // one long per partition on the driver)
    val offsets = totals.sortBy(_._1).map(_._2).scanLeft(zero)(fold)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val outRows = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var s = bOffsets.value(i)
      it.map { r =>
        s = fold(s, r.getLong(1))
        Row(r.getLong(0), s)
      }
    }
    spark.createDataFrame(
      outRows,
      StructType(
        Seq(
          StructField("__ord", LongType),
          StructField(outName, LongType))))
      .withColumnRenamed("__ord", orderCol)
  }
}
