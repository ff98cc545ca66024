package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending,
  Attribute,
  AttributeReference,
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
  Partitioning
}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.DoubleType

import graft.progress.Progress.RowCounter

/** Black-box fixed-row rolling apply (O6 / O7) as one physical operator:
  * pandas `rolling(w, center, closed, min_periods).apply(f)`, where
  * pandas hands `f` a view of each window and copies nothing per row.
  *
  * The operator asks for what `WindowExec` asks for — all rows in one
  * partition when there are no keys, clustered by the keys otherwise,
  * each partition sorted by keys ++ order — so `EnsureRequirements`
  * plans the same Exchange + Sort (AQE coalescing included). It then
  * streams each sorted partition ONCE: per group, a ring of primitive
  * doubles (with null flags) covering the frame, one reusable
  * `IndexedSeq[Double]` view handed to `f`, and one `UnsafeProjection`
  * writing the input row with the result in its slot column. No per-row frame array, no boxed `Seq`, no
  * frame re-aggregation.
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
    val extra = spark.experimental
    extra.synchronized {
      if (!extra.extraStrategies.contains(Strategy))
        extra.extraStrategies = extra.extraStrategies :+ Strategy
    }
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

/** Physical side of [[RollingApply]]. */
final case class RollingApplyExec(
    value: Expression,
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    frame: RollingApply.Frame,
    slot: Attribute,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionSpec.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionSpec) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(partitionSpec.map(SortOrder(_, Ascending)) ++ orderSpec)

  // rows leave in the order they arrive
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val result = AttributeReference("result", DoubleType)()
    val filled = in.map(a => if (a.exprId == slot.exprId) result else a)
    val (v, keys, fr) = (value, partitionSpec, frame)
    child.execute().mapPartitions { rows =>
      new RollingApplyExec.Rows(
        rows,
        UnsafeProjection.create(Seq(v), in),
        if (keys.isEmpty) null else UnsafeProjection.create(keys, in),
        UnsafeProjection.create(filled, in :+ result),
        fr)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): RollingApplyExec =
    copy(child = c)
}

object RollingApplyExec {

  /** The frame as `f` sees it: the first `length` values of `buf`. */
  private final class View(val buf: Array[Double])
      extends scala.collection.immutable.IndexedSeq[Double] {
    var length: Int = 0
    def apply(i: Int): Double =
      if (i >= 0 && i < length) buf(i)
      else throw new IndexOutOfBoundsException(
        s"$i is out of bounds (min 0, max ${length - 1})")
  }

  /** One pass over a partition sorted by keys ++ order. Row `i` of a
    * group leaves once row `i + hi` has been read (or the group has
    * ended); rows read ahead of it wait, copied, in `pending`.
    */
  private final class Rows(
      rows: Iterator[InternalRow],
      valueOf: UnsafeProjection,
      keyOf: UnsafeProjection, // null when ungrouped
      emit: UnsafeProjection,
      frame: RollingApply.Frame)
      extends Iterator[InternalRow] {
    private val lo = frame.lo
    private val hi = frame.hi
    // ring of values at group positions [min(i, i + lo), max(i, i + hi)]
    private val cap = math.max(hi, 0) - math.min(lo, 0) + 1
    private val vals = new Array[Double](cap)
    private val valid = new Array[Boolean](cap)
    private val view = new View(new Array[Double](cap))
    private val pending = new java.util.ArrayDeque[InternalRow]()
    private var current: InternalRow = null // the row to emit when hi <= 0
    private val result = new SpecificInternalRow(Seq(DoubleType))
    private val joined = new JoinedRow
    private var key: UnsafeRow = null
    private var carry: InternalRow = null // first row of the next group
    private var n = 0 // rows of the current group read
    private var emitted = 0 // rows of the current group emitted
    private var ended = true // no more rows in the current group

    private def append(r: InternalRow): Unit = {
      val x = valueOf(r)
      val s = n % cap
      valid(s) = !x.isNullAt(0)
      if (valid(s)) vals(s) = x.getDouble(0)
      if (hi > 0) pending.addLast(r.copy()) else current = r
      n += 1
    }

    override def hasNext: Boolean = {
      while (!(emitted < n && (ended || emitted + hi < n))) {
        if (ended) {
          if (carry == null) {
            if (!rows.hasNext) return false
            carry = rows.next()
          }
          n = 0; emitted = 0; ended = false
          if (keyOf != null) key = keyOf(carry).copy()
          append(carry)
          carry = null
        } else if (!rows.hasNext) ended = true
        else {
          val r = rows.next()
          if (keyOf != null && keyOf(r) != key) { ended = true; carry = r }
          else append(r)
        }
      }
      true
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val i = emitted
      val row = if (hi > 0) pending.removeFirst() else current
      var k = 0
      var j = math.max(0, i + lo)
      var s = j % cap
      val end = math.min(n - 1, i + hi)
      while (j <= end) {
        if (valid(s)) { view.buf(k) = vals(s); k += 1 }
        j += 1
        s = if (s + 1 == cap) 0 else s + 1
      }
      if (k >= frame.minPeriods) {
        view.length = k
        result.setDouble(0, frame(view))
      } else result.setNullAt(0)
      emitted += 1
      emit(joined(row, result))
    }
  }
}
