package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.col

/** O5 — `DataFrameGroupBy.parallel_apply(func)`.
  * Reference: pandarallel/core.py:533-535, data_types/dataframe_groupby.py.
  *
  * The reference deals whole groups to workers (a group is never split,
  * dataframe_groupby.py:14-21) and re-assembles with pandas'
  * `_wrap_applied_output`, which shapes the result according to what the
  * UDF returned (scalar / Series / DataFrame — dataframe_groupby.py:49-81).
  * Spark's hash exchange on the group keys gives the identical
  * "whole group on one task" guarantee.
  *
  * The result-shape polymorphism becomes three explicit entry points
  * (SURVEY §7.4 — Scala makes the sum type explicit where pandas sniffs):
  *  - [[agg]]            — scalar-per-group UDFs expressible as aggregate
  *    expressions. THE preferred path: Catalyst plans a partial (map-side
  *    combine) + final hash aggregate, so the shuffle carries one partial
  *    row per (partition, key), not the group's rows. At 100 TB this is
  *    the difference between shuffling kilobytes and shuffling the table.
  *  - [[flatMapGroups]]  — DataFrame-returning group UDFs (UDTF-shaped:
  *    one group → many rows; tests/test_pandarallel.py:296-305). Shuffles
  *    the full table on the keys — unavoidable for a black-box group
  *    function, same cost profile as the reference.
  *  - [[mapGroups]]      — one-row-per-group black-box UDFs.
  *
  * Skew: a giant group is one slow task in both engines (SURVEY §7.4);
  * prefer [[agg]] (AQE-skew-aware, partials bound memory) wherever the
  * function is algebraic.
  *
  * The black-box forms that take `keys` group by those named columns
  * ([[byColumns]]): the exchange and sort read the columns as they are,
  * with no per-row key column appended before the exchange, and
  * `keyFn` only names each group.
  */
object GroupApply {

  /** Expression aggregates per group — partial+final hash aggregation. */
  def agg(df: DataFrame, keys: Seq[String])(aggs: Column*): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** pandas `groupby(keys).filter(pred)` — keep the MEMBER ROWS of every
    * group whose aggregate satisfies `pred` (reference-adjacent O5
    * surface: the group-level predicate that pandas evaluates with a
    * per-group lambda). Shape: one partial+final aggregation reduces the
    * data to per-group rows, the predicate filters THAT tiny frame, and
    * a semi-join carries the verdict back — the qualifying-key relation
    * is group-cardinality-sized, so AQE broadcasts it and the data side
    * is filtered in place, never shuffled.
    */
  def filterGroups(
      df: DataFrame,
      keys: Seq[String])(agg: Column, pred: Column => Column): DataFrame = {
    val keep = df
      .groupBy(keys.map(col): _*)
      .agg(agg.as("__agg"))
      .where(pred(col("__agg")))
      .select(keys.map(col): _*)
    // null-SAFE semi join: groupBy retains the null-key group and the
    // predicate just ran on it, but a usingColumns semi join would
    // still drop its member rows (null = null is never true) — pandas
    // groupby(dropna=False).filter keeps them
    df.join(
      keep,
      keys.map(k => df(k) <=> keep(k)).reduce(_ && _),
      "leftsemi")
  }

  /** Black-box group UDF, one output row per group. Counter ticks once
    * per GROUP — the reference's per-group accounting for grouped
    * operators (rolling_groupby.py:71-74: progress unit = dealt group).
    */
  def mapGroups[K: Encoder, T: Encoder](
      df: DataFrame,
      counter: Option[graft.progress.Progress.RowCounter] = None)(
      keyFn: Row => K)(
      f: (K, Iterator[Row]) => T): Dataset[T] = {
    val g = counter match {
      case None    => f
      case Some(c) => (k: K, it: Iterator[Row]) => { c.tick(); f(k, it) }
    }
    df.groupByKey(keyFn)(implicitly[Encoder[K]]).mapGroups(g)
  }

  /** pandas result-index shaping, "new object" branch: when a group UDF
    * returns a fresh object, pandas moves the group keys into the result
    * index (dataframe_groupby.py:49-81 via the utils.py:61-85 mutation
    * sniff). Spark has no index, so the keys become leading columns —
    * every output row carries its group key automatically.
    */
  def applyGroupsKeyed[K: Encoder, T: Encoder](df: DataFrame, keys: Seq[String])(keyFn: Row => K)(
      f: (K, Iterator[Row]) => IterableOnce[T]): Dataset[(K, T)] = {
    implicit val enc: Encoder[(K, T)] =
      Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[T]])
    byColumns(df, keys)(keyFn)((k: K, it: Iterator[Row]) => f(k, it).iterator.map(k -> _))
  }

  /** pandas result-index shaping, "mutation" branch: when the UDF
    * transforms the group in place, pandas keeps the ORIGINAL row index
    * (utils.py:61-85). Ported via the __index__ discipline: each group's
    * rows are presented to the UDF in SOURCE order (sorted by the
    * attached index — shuffle arrival order is arbitrary, and pandas
    * transforms are order-sensitive), outputs are zipped back to the
    * rows' source positions, and the result is emitted in source order.
    * The per-group function must return one output per input row
    * (enforced by the zip); the attached `Index.col` is visible.
    *
    * COST NOTE: restoring GLOBAL source order is a full `orderBy` on the
    * index — a range exchange + sort on top of the group shuffle. That
    * second exchange is the honest price of the pandas contract (the
    * mutation branch returns rows in the frame's original order), but
    * many callers only consume the result grouped — feed it to another
    * groupBy, join it on a key, write it partitioned — and for them the
    * global order is wasted work: use [[transformGroupsLocal]], which
    * stops after the per-group ordering and skips the exchange.
    */
  def transformGroups[K, T: Encoder](df: DataFrame, keys: Seq[String])(keyFn: Row => K)(
      f: (K, Seq[Row]) => Seq[T]): Dataset[T] = {
    implicit val pairEnc: Encoder[(Long, T)] =
      Encoders.tuple(Encoders.scalaLong, implicitly[Encoder[T]])
    transformGroupsIndexed(df, keys)(keyFn)(f)
      .orderBy(col("_1"))
      .map(_._2)(implicitly[Encoder[T]])
  }

  /** [[transformGroups]] minus the global order restoration: the UDF
    * still sees each group in SOURCE order and outputs still map 1:1 to
    * source rows, but results are emitted grouped (each group's outputs
    * contiguous and in source order, group order arbitrary) — one
    * shuffle total. Same-values-different-order vs [[transformGroups]].
    */
  def transformGroupsLocal[K, T: Encoder](df: DataFrame, keys: Seq[String])(keyFn: Row => K)(
      f: (K, Seq[Row]) => Seq[T]): Dataset[T] = {
    implicit val pairEnc: Encoder[(Long, T)] =
      Encoders.tuple(Encoders.scalaLong, implicitly[Encoder[T]])
    transformGroupsIndexed(df, keys)(keyFn)(f).map(_._2)(implicitly[Encoder[T]])
  }

  /** Shared mutation-branch core: (source index, output) pairs, grouped,
    * per-group in source order.
    */
  private def transformGroupsIndexed[K, T: Encoder](df: DataFrame, keys: Seq[String])(
      keyFn: Row => K)(
      f: (K, Seq[Row]) => Seq[T])(implicit
      pairEnc: Encoder[(Long, T)]): Dataset[(Long, T)] =
    byColumns(graft.Index.attach(df), keys)(keyFn) { (k: K, it: Iterator[Row]) =>
      val rows = it.toSeq.sortBy(_.getAs[Long](graft.Index.col))
      val out = f(k, rows)
      require(
        out.length == rows.length,
        s"transformGroups UDF returned ${out.length} rows for a " +
          s"${rows.length}-row group — the mutation branch is same-length")
      rows.map(_.getAs[Long](graft.Index.col)).iterator.zip(out.iterator)
    }

  /** Black-box group UDF, many output rows per group (UDTF-like).
    * Counter ticks once per group, as above.
    */
  def flatMapGroups[K, T: Encoder](
      df: DataFrame,
      keys: Seq[String],
      counter: Option[graft.progress.Progress.RowCounter] = None)(
      keyFn: Row => K)(
      f: (K, Iterator[Row]) => IterableOnce[T]): Dataset[T] = {
    val g = counter match {
      case None    => f
      case Some(c) => (k: K, it: Iterator[Row]) => { c.tick(); f(k, it) }
    }
    byColumns(df, keys)(keyFn)(g)
  }

  /** `df` grouped by the named `keys` columns: the hash exchange and the
    * sort read the columns as they are (no per-row key column appended
    * before the exchange), and each group reaches `f` with `K` =
    * `keyFn` of its first row.
    *
    * `keyFn` contract: it must name the same groups as the columns.
    * Every row of a group, including the rows `f` leaves unread (they
    * are read after `f`'s output), must give the group's `K` — a finer
    * `keyFn` fails there; and no two groups met by one task may give
    * the same `K` — a coarser `keyFn` fails there (two groups merged by
    * it always meet in one task when the groups outnumber the tasks).
    * Keys compare with `==` or `equals` (NaN equals NaN). A failure
    * fails the task, and so the job. Memory: one entry per group a task
    * meets.
    */
  private def byColumns[K, T: Encoder](df: DataFrame, keys: Seq[String])(keyFn: Row => K)(
      f: (K, Iterator[Row]) => IterableOnce[T]): Dataset[T] = {
    val cols = keys.map(col)
    val named = new GroupNames[K](keys)
    df.groupBy(cols: _*)
      .as(Encoders.row(df.select(cols: _*).schema), Encoders.row(df.schema))
      .flatMapGroups { (g: Row, it: Iterator[Row]) =>
        val first = it.next()
        val k = named.claim(keyFn(first), g)
        val rows = Iterator.single(first) ++ it.map { r => named.check(keyFn(r), k, g); r }
        f(k, rows).iterator ++ { rows.foreach(_ => ()); Iterator.empty }
      }
  }

  /** The `K` each group of a task was named by ([[byColumns]]). The
    * instance ships with each task; the map starts over per task.
    */
  private final class GroupNames[K](keys: Seq[String]) extends Serializable {
    @transient private var task: TaskContext = null
    @transient private var named: java.util.HashMap[Any, Row] = null

    private def same(a: Any, b: Any): Boolean =
      a == b || java.util.Objects.equals(a.asInstanceOf[AnyRef], b.asInstanceOf[AnyRef])

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"keyFn does not match the group columns ${keys.mkString("(", ", ", ")")}: $msg")

    /** `k`, after checking that no other group of this task has it. */
    def claim(k: K, group: Row): K = {
      val t = TaskContext.get()
      if (named == null || (task ne t)) { task = t; named = new java.util.HashMap[Any, Row]() }
      val other = named.putIfAbsent(k, group)
      if (other != null)
        fail(s"groups $other and $group both give key $k (keyFn is coarser than the columns)")
      k
    }

    def check(k: K, want: K, group: Row): Unit =
      if (!same(k, want))
        fail(s"rows of group $group give keys $want and $k (keyFn is finer than the columns)")
  }

  /** Group-wise MERGE of two tables — the training-pipeline shape "align
    * each document with all its annotations" without materializing the
    * wide row-level join. Each side shuffles ONCE on its key, then the
    * UDF sees both groups zipped (`Dataset.cogroup` / CoGroupExec): a key
    * present in only one side still reaches the UDF with the other
    * iterator empty, which a plain inner join cannot express, and a hot
    * key costs one task rather than an |A|×|B| pair explosion.
    */
  def cogroupApply[K: Encoder, T: Encoder](
      left: DataFrame,
      right: DataFrame,
      counter: Option[graft.progress.Progress.RowCounter] = None)(
      keyL: Row => K,
      keyR: Row => K)(
      f: (K, Iterator[Row], Iterator[Row]) => IterableOnce[T]): Dataset[T] = {
    val g = counter match {
      case None => f
      case Some(c) =>
        (k: K, a: Iterator[Row], b: Iterator[Row]) => { c.tick(); f(k, a, b) }
    }
    left
      .groupByKey(keyL)(implicitly[Encoder[K]])
      .cogroup(right.groupByKey(keyR)(implicitly[Encoder[K]]))(
        (k: K, a: Iterator[Row], b: Iterator[Row]) => g(k, a, b).iterator)
  }
}
