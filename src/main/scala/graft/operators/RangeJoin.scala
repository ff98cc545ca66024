package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucketized range join (extension set — beyond the reference surface;
  * pandas users reach for `pd.IntervalIndex`/`merge_asof`-adjacent
  * logic, Spark has no native interval join).
  *
  * Spark plans a plain non-equi join (`l.lo <= r.x AND r.x < l.hi`) as a
  * BroadcastNestedLoopJoin — O(|L|·|R|) comparisons, the classic 100-TB
  * scale-killer. The standard fix is bucketization:
  *   1. points get bucket = floor(x / width) — one row each;
  *   2. intervals EXPLODE to one row per bucket they overlap
  *      (`sequence(floor(lo/w), floor(hi/w))`) — cost |R| × avg
  *      span/width, bounded by choosing width ≈ typical interval length;
  *   3. equi-join on the bucket (hash join — shuffles, AQE-skew-aware),
  *      then the exact range predicate filters within the bucket.
  * Each (point, interval) pair meets in EXACTLY one bucket (the point's),
  * so no dedup pass is needed. Half-open semantics: lo <= x < hi.
  *
  * @param bucketWidth bucket size in the units of x/lo/hi. Pick ≈ the
  *   typical interval width: too small multiplies the interval explode,
  *   too large packs many intervals per bucket (filter does more work).
  */
object RangeJoin {

  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      xCol: String,
      loCol: String,
      hiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val pb = points.withColumn(
      "__b",
      floor(col(xCol) / bucketWidth).cast("long"))
    val ib = intervals
      // an inverted interval (lo > hi) matches nothing under the range
      // predicate anyway, but Spark's sequence() would run BACKWARD
      // (default step −1) and explode one corrupt row into a gigantic
      // descending bucket list — drop them before the explode
      .where(col(loCol) <= col(hiCol))
      .withColumn(
        "__b",
        explode(
          sequence(
            floor(col(loCol) / bucketWidth).cast("long"),
            floor(col(hiCol) / bucketWidth).cast("long"))))
    pb.join(ib, Seq("__b"))
      .where(col(xCol) >= col(loCol) && col(xCol) < col(hiCol))
      .drop("__b")
  }
}
