package graft.ops

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending,
  Attribute,
  AttributeReference,
  AttributeSet,
  Cast,
  Expression,
  ExpressionSet,
  JoinedRow,
  SortOrder,
  SpecificInternalRow,
  UnsafeProjection,
  UnsafeRow
}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  AllTuples,
  ClusteredDistribution,
  Distribution,
  OrderedDistribution,
  Partitioning,
  UnknownPartitioning
}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.DoubleType

import graft.progress.Progress.RowCounter

import scala.jdk.CollectionConverters._

/** Black-box fixed-row rolling apply (O6 / O7) as one physical operator:
  * pandas `rolling(w, center, closed, min_periods).apply(f)`, where
  * pandas hands `f` a view of each window and copies nothing per row.
  *
  * With keys the operator asks for rows clustered by the keys — the
  * hash exchange deals whole groups to tasks, as pandarallel deals
  * groups to workers — and each partition sorted by the order alone:
  * it keeps one state per key, so the keys may interleave (a child
  * already sorted by keys ++ order is taken as it is). Without keys it
  * takes the input as it is when the input is already range-partitioned
  * and sorted by the order, deterministic, and sure to hand over the
  * same rows in the same order when read twice: one task per input
  * partition, each reading a few rows ahead into the partitions after
  * its own — the reference's chunk-plus-margin protocol
  * ([[RollingApplyExec]]). Any other ungrouped input is gathered into
  * one sorted partition (`Exchange SinglePartition` + Sort). Each task
  * then streams its rows ONCE: per key, a ring of primitive doubles
  * (with null flags) covering the frame; one reusable
  * `IndexedSeq[Double]` view handed to `f`, and one `UnsafeProjection`
  * writing the input row with the result in its slot column. No
  * per-row frame array, no boxed `Seq`, no frame re-aggregation.
  *
  * Memory: (distinct keys in a partition) × (the ring of
  * `hi - lo + 1` values, plus up to `hi` rows read ahead of the row to
  * emit, copied). Over an order-only sort a key's state lives to the
  * end of the partition, so with `hi > 0` and about one key per row the
  * partition's rows end up copied on the heap; over input already
  * sorted by keys ++ order a key's state goes once the next key begins,
  * so one key's state is held at a time. Like pandarallel's per-worker
  * chunk, this state is not spillable.
  *
  * Output equals the `collect_list` + UDF form bit for bit (the test
  * suite keeps that form as its oracle): null values are left out of
  * the frame and out of the `minPeriods` count, `f` is called on an
  * empty frame when `minPeriods` is 0, the output is null below
  * `minPeriods`, and the progress counter ticks once per `f` call.
  * `f` must not keep the `Seq` it is given: the view is refilled for
  * the next row.
  */
object RollingApply {

  /** `f` over the non-null values at row offsets [lo, hi] of the
    * current row within its group (no rows when lo > hi); null below
    * `minPeriods` values.
    */
  final case class Frame(
      lo: Int,
      hi: Int,
      minPeriods: Int,
      f: Seq[Double] => Double,
      counter: Option[RowCounter]) {
    // the check Spark's window analysis makes on a ROWS frame (a bound
    // of 0 is CURRENT ROW, which it does not compare)
    require(
      lo == 0 || hi == 0 || lo <= hi,
      s"The lower bound of a window frame must be less than or equal to the upper bound: [$lo, $hi]")

    /** Rows before the current one that the frame reaches. */
    def behind: Int = math.max(0, -lo)

    def apply(xs: Seq[Double]): Double = {
      counter.foreach(_.tick())
      f(xs)
    }

    override def toString: String = {
      def bound(b: Int) =
        if (b == 0) "CURRENT ROW"
        else if (b < 0) s"${-b} PRECEDING"
        else s"$b FOLLOWING"
      s"Window(ROWS BETWEEN ${bound(lo)} AND ${bound(hi)}, minPeriods $minPeriods)"
    }
  }

  /** Logical node: `child`'s rows with the `slot` column (a null
    * placeholder the child projects) filled with the results. Filling a
    * column rather than producing one keeps every output attribute
    * owned by a standard node, so self-joins deduplicate as usual.
    */
  final case class Node(
      value: Expression,
      partitionSpec: Seq[Expression],
      orderSpec: Seq[SortOrder],
      frame: Frame,
      slot: Attribute,
      child: LogicalPlan)
      extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override def nodeName: String = "RollingApply"
    // the child's constraints hold here, except those on `slot`: the
    // child holds it null, this node fills it
    override protected lazy val validConstraints: ExpressionSet =
      child.constraints.filterNot(_.references.contains(slot))
    override protected def withNewChildInternal(c: LogicalPlan): Node =
      copy(child = c)
  }

  private val Slot = "__rolling_apply__"

  /** Plans [[Node]] as [[RollingApplyExec]]. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case n: Node =>
        RollingApplyExec(
          n.value, n.partitionSpec, n.orderSpec, n.frame, n.slot,
          planLater(n.child)) :: Nil
      case _ => Nil
    }
  }

  /** `df` plus column `outName` = `frame` applied per row, rows ordered
    * by `orderBy` within each `partitionBy` group. Registers
    * [[Strategy]] on the session, so sessions built without
    * [[graft.GraftExtensions]] plan the operator too.
    */
  def apply(
      df: DataFrame,
      valueCol: Column,
      orderBy: Seq[Column],
      partitionBy: Seq[Column],
      frame: Frame,
      outName: String): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    KeyedPlan.register(spark, Strategy)
    val order = orderBy.map(spark.expression).map {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    }
    // the slot is column `outName` when that name is new; otherwise a
    // scratch column (the frame columns resolve against df plus the
    // slot, so an existing `outName` must stay visible to them) that
    // then replaces `outName` in place, as withColumn would
    val fresh = !df.columns.exists(_.equalsIgnoreCase(outName))
    val slotName = if (fresh) outName else Slot
    val child = SessionBridge.logicalPlan(df.withColumn(slotName, lit(null).cast(DoubleType)))
    val node = Node(
      Cast(spark.expression(valueCol), DoubleType),
      partitionBy.map(spark.expression),
      order,
      frame,
      child.output.last,
      child)
    val out = SessionBridge.ofRows(df, node)
    if (fresh) out else out.withColumn(outName, col(Slot)).drop(Slot)
  }
}

/** Physical side of [[RollingApply]], in one of three plans:
  *  - keys: `ClusteredDistribution(keys)`, each partition sorted by the
  *    order alone ([[KeyedPlan.ordering]]: keys ++ order when the child
  *    is already sorted so). One state per key, found by a hash lookup
  *    on the key. With `hi > 0` a key's row leaves once the row `hi`
  *    after it has been read, and each key's last rows once the key
  *    ends: at the end of the partition, so rows leave out of arrival
  *    order and the operator claims no output ordering; or, over keys
  *    ++ order, when the next key begins, so rows leave in arrival
  *    order and the child's ordering holds;
  *  - no keys, and the child already range-partitioned and sorted by
  *    the order, with no nondeterministic expression in its tree: the
  *    child as it is (no exchange, no sort). Task `i` streams its own
  *    partition, then reads ahead into the partitions after it (lazily,
  *    across short and empty ones) until its last frame is complete.
  *    With `L = max(0, -lo)` and `s_i` the global position of partition
  *    `i`'s first row, it emits the rows at global positions
  *    `[s_i + L, s_{i+1} + L)`: its first `L` rows only warm the ring,
  *    since the task before it emits them (task 0 emits from 0, the
  *    last task to the end; a task whose range is empty reads nothing
  *    ahead). Reading ahead takes at most `L + max(0, hi)` rows from the
  *    next partitions, but computes every partition it crosses in full:
  *    one more sort of the next partition over a Sort, and a whole scan
  *    of each partition a selective filter leaves empty (a partition is
  *    computed by at most `L + max(0, hi) + 1` tasks).
  *
  *    Tie rule: task `i` and task `i + 1` must see partition `i + 1`'s
  *    rows in the same order. Otherwise, when a group of rows tied on
  *    the order straddles row `L`, one of them can be emitted by both
  *    tasks and another by neither, and frames follow no single order.
  *    A sort keeps tied rows in arrival order, which a shuffle read or
  *    a spill merge changes from one read to the next. So this plan is
  *    taken only when either rows the child's ordering ties on are
  *    equal in every column but the slot, or the child's tree holds no
  *    sort and no shuffle read outside its caches
  *    ([[RollingApplyExec.replays]]). "Equal" is as the sort compares:
  *    two rows that differ only in the sign of a zero (or the payload
  *    of a NaN) may trade places across a boundary. Rows cross
  *    partition boundaries, so the output partitioning is unknown when
  *    there is more than one partition;
  *  - no keys otherwise: `AllTuples`, one sorted partition.
  *
  * Ungrouped, the same kernel runs with a single state.
  */
final case class RollingApplyExec(
    value: Expression,
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    frame: RollingApply.Frame,
    slot: Attribute,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** Ungrouped, and the child is already in the order the frames
    * need and gives the same rows in the same order when a partition is
    * read twice (each task re-reads the start of the partitions after
    * its own): see the tie rule above.
    */
  private lazy val rangeOrdered: Boolean =
    partitionSpec.isEmpty &&
      child.outputPartitioning.satisfies(OrderedDistribution(orderSpec)) &&
      SortOrder.orderingSatisfies(child.outputOrdering, orderSpec) &&
      child.find(_.expressions.exists(!_.deterministic)).isEmpty &&
      (tiesEqual || RollingApplyExec.replays(child))

  /** Rows the child's ordering ties on are equal in every column but
    * the slot, so any order of them is the same sequence of rows.
    */
  private def tiesEqual: Boolean = {
    val sorted = AttributeSet(
      child.outputOrdering.flatMap(o => o.child +: o.sameOrderExpressions).collect {
        case a: Attribute => a
      })
    child.output.forall(a => a.exprId == slot.exprId || sorted.contains(a))
  }

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionSpec.nonEmpty) ClusteredDistribution(partitionSpec) :: Nil
    else if (rangeOrdered) OrderedDistribution(orderSpec) :: Nil
    else AllTuples :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(KeyedPlan.ordering(partitionSpec, orderSpec, child))

  /** Keyed, and each key's rows arrive one after another. */
  private lazy val contiguous: Boolean = KeyedPlan.contiguous(partitionSpec, orderSpec, child)

  // rows leave each task in the order they arrive, unless keyed rows
  // wait for rows after them to the end of the partition
  override def outputOrdering: Seq[SortOrder] =
    if (partitionSpec.nonEmpty && frame.hi > 0 && !contiguous) Nil else child.outputOrdering
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p if rangeOrdered && p.numPartitions > 1 => UnknownPartitioning(p.numPartitions)
    case p => p
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val result = AttributeReference("result", DoubleType)()
    val filled = in.map(a => if (a.exprId == slot.exprId) result else a)
    val (v, keys, fr, contig) = (value, partitionSpec, frame, contiguous)
    val rows = (own: Iterator[InternalRow], ahead: Iterator[InternalRow], skip: Int) =>
      new RollingApplyExec.Rows(
        own,
        ahead,
        skip,
        UnsafeProjection.create(Seq(v), in),
        if (keys.isEmpty) null else UnsafeProjection.create(keys, in),
        UnsafeProjection.create(filled, in :+ result),
        fr,
        contig)
    if (rangeOrdered)
      new RollingApplyExec.LookAheadRDD(
        child.execute(),
        (i, own, ahead) => rows(own, ahead, if (i == 0) 0 else fr.behind))
    else child.execute().mapPartitions(rows(_, Iterator.empty, 0))
  }

  override protected def withNewChildInternal(c: SparkPlan): RollingApplyExec =
    copy(child = c)
}

object RollingApplyExec {

  /** Whether computing a partition of `p` again gives the same rows in
    * the same order. Not so through a sort (tied rows keep their
    * arrival order; the merge after a spill does not keep them in
    * order) or a shuffle read (blocks arrive in any order). A cached
    * scan replays its stored blocks when they cannot be dropped and
    * recomputed (a storage level with disk).
    */
  private def replays(p: SparkPlan): Boolean = p match {
    case _: SortExec | _: ShuffleExchangeLike => false
    case s: QueryStageExec => replays(s.plan)
    case r: ReusedExchangeExec => replays(r.child)
    case s: InMemoryTableScanExec => s.relation.cacheBuilder.storageLevel.useDisk
    case _ => p.children.forall(replays)
  }

  /** The frame as `f` sees it: the first `length` values of `buf`. */
  private final class View(val buf: Array[Double])
      extends scala.collection.immutable.IndexedSeq[Double] {
    var length: Int = 0
    def apply(i: Int): Double =
      if (i >= 0 && i < length) buf(i)
      else throw new IndexOutOfBoundsException(
        s"$i is out of bounds (min 0, max ${length - 1})")
  }

  /** Partition `i` of `prev`, handed to `f` with a lazy iterator over
    * the partitions after it. A narrow dependency on all of them: no
    * shuffle and no side job; a partition after `i` is computed only if
    * `f` reads into it.
    */
  private final class LookAheadRDD(
      prev: RDD[InternalRow],
      f: (Int, Iterator[InternalRow], Iterator[InternalRow]) => Iterator[InternalRow])
      extends RDD[InternalRow](prev.context, new LookAhead(prev) :: Nil) {
    // kept with the RDD, which ships to the executors: they cannot
    // compute the parent's partitions themselves
    private val parts = prev.partitions
    override protected def getPartitions: Array[Partition] = parts
    override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
      val parent = firstParent[InternalRow]
      val ahead = Iterator
        .range(split.index + 1, parts.length)
        .flatMap(j => parent.iterator(parts(j), ctx))
      f(split.index, parent.iterator(split, ctx), ahead)
    }
  }

  private final class LookAhead(rdd: RDD[InternalRow]) extends NarrowDependency(rdd) {
    override def getParents(i: Int): Seq[Int] = i until rdd.partitions.length
  }

  /** One pass over a stream sorted by the order: `own` (a partition),
    * then `ahead` (the partitions after it; empty with keys), with one
    * [[Key]] state per key (a single one when ungrouped). Row `i` of a
    * key leaves once row `i + hi` of that key has been read, or, for
    * the last rows of each key, once the key ends: when the stream is
    * done, or, when the keys are `contiguous` (sorted by keys ++ order),
    * when the next key's first row is read, and the ended key's state
    * is dropped. Rows read ahead of the row to emit wait, copied, in
    * `pending`. Ungrouped, the stream's first
    * `skip` rows only fill the ring, and emission stops `frame.behind`
    * rows past the end of `own`, so `ahead` is read only as far as the
    * last emitted frame needs.
    */
  private final class Rows(
      own: Iterator[InternalRow],
      ahead: Iterator[InternalRow],
      skip: Int,
      valueOf: UnsafeProjection,
      keyOf: UnsafeProjection, // null when ungrouped
      emit: UnsafeProjection,
      frame: RollingApply.Frame,
      contiguous: Boolean)
      extends Iterator[InternalRow] {
    private val lo = frame.lo
    private val hi = frame.hi
    // ring of values at key positions [min(i, i + lo), max(i, i + hi)]
    private val cap = math.max(hi, 0) - math.min(lo, 0) + 1
    private val view = new View(new Array[Double](cap))
    private val result = new SpecificInternalRow(Seq(DoubleType))
    private val joined = new JoinedRow

    /** One key's rows: the ring, the rows read (`n`), emitted or skipped
      * (`emitted`), and with `hi > 0` those read but not yet emitted.
      */
    private final class Key {
      val vals = new Array[Double](cap)
      val valid = new Array[Boolean](cap)
      val pending = if (hi > 0) new java.util.ArrayDeque[InternalRow]() else null
      var n = 0
      var emitted = 0
      var ended = false // contiguous: the next key has begun
    }

    private val keys = if (keyOf == null) null else new java.util.HashMap[UnsafeRow, Key]()
    private val only = if (keyOf == null) new Key else null
    private var ready: Key = null // the key that took the last row, then each key in turn
    private var finished: Key = null // contiguous: the key the last row read ended, if any
    private var current: InternalRow = null // the row to emit when hi <= 0
    private var rest: java.util.Iterator[Key] = null // keys left once the stream is done
    private var src = own
    private var stop = Int.MaxValue // ungrouped: no row from here on is emitted

    /** Whether the stream has another row. Leaving `own` fixes `stop`:
      * the first `frame.behind` rows after `own` are this task's to
      * emit. A task with nothing left to emit (an own partition of at
      * most `skip` rows) never touches `ahead`.
      */
    private def more: Boolean =
      src.hasNext || (src eq own) && {
        if (only != null) stop = only.n + frame.behind
        src = ahead
        (only == null || math.max(only.emitted, skip) < stop) && src.hasNext
      }

    private def keyFor(r: InternalRow): Key =
      if (keys == null) only
      else {
        val k = keyOf(r)
        var s = keys.get(k)
        if (s == null) {
          if (contiguous && !keys.isEmpty) {
            finished = keys.values.iterator.next()
            finished.ended = true
            keys.clear()
          }
          s = new Key
          keys.put(k.copy(), s)
        }
        s
      }

    private def append(k: Key, r: InternalRow): Unit = {
      val x = valueOf(r)
      val s = k.n % cap
      k.valid(s) = !x.isNullAt(0)
      if (k.valid(s)) k.vals(s) = x.getDouble(0)
      if (hi > 0) k.pending.addLast(r.copy()) else current = r
      k.n += 1
    }

    /** Whether `k`'s next row can leave: its frame is complete. */
    private def due(k: Key): Boolean =
      k.emitted < k.n && k.emitted < stop && (rest != null || k.ended || k.emitted + hi < k.n)

    override def hasNext: Boolean = {
      while (only == null || math.max(only.emitted, skip) < stop) {
        if (ready != null && due(ready)) {
          if (ready.emitted >= skip) return true
          if (hi > 0) ready.pending.removeFirst()
          ready.emitted += 1
        } else if (rest == null) {
          if (more) {
            val r = src.next()
            ready = keyFor(r)
            append(ready, r)
            // with hi > 0 a key's first row is not due yet: the rows
            // of the key it ended leave first
            if (hi > 0 && finished != null) ready = finished
            finished = null
          } else {
            rest = if (keys == null) Iterator.single(only).asJava else keys.values.iterator
            ready = null
          }
        } else if (rest.hasNext) ready = rest.next()
        else return false
      }
      false
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val key = ready
      val i = key.emitted
      val row = if (hi > 0) key.pending.removeFirst() else current
      var k = 0
      var j = math.max(0, i + lo)
      var s = j % cap
      val end = math.min(key.n - 1, i + hi)
      while (j <= end) {
        if (key.valid(s)) { view.buf(k) = key.vals(s); k += 1 }
        j += 1
        s = if (s + 1 == cap) 0 else s + 1
      }
      if (k >= frame.minPeriods) {
        view.length = k
        result.setDouble(0, frame(view))
      } else result.setNullAt(0)
      key.emitted += 1
      emit(joined(row, result))
    }
  }
}
