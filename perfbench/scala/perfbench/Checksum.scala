package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Output checksum of a keyed result (`key`, values...).
  *
  * A summary folds rows left to right; summaries of consecutive runs of
  * rows combine with [[Summary.++]], so Spark partitions can be summed
  * in parallel and combined in partition order into exactly the summary
  * a sequential pass over the same rows gives. `sum` is order-free (a
  * wrapping sum of per-row hashes); `sorted` records whether keys rise
  * strictly through the whole sequence, which is the order check for
  * verbs that must keep input order.
  */
final case class Summary(count: Long, sum: Long, firstKey: Long, lastKey: Long, sorted: Boolean) {

  def ++(o: Summary): Summary =
    if (count == 0) o
    else if (o.count == 0) this
    else
      Summary(
        count + o.count,
        sum + o.sum,
        firstKey,
        o.lastKey,
        sorted && o.sorted && lastKey < o.firstKey)
}

object Summary {
  val empty: Summary = Summary(0, 0, 0, 0, sorted = true)

  /** Null values hash as NaN; every NaN hashes alike. */
  def rowHash(key: Long, values: Array[Double]): Long =
    values.foldLeft(XXH64.hashLong(key, 7L)) { (h, v) =>
      XXH64.hashLong(java.lang.Double.doubleToLongBits(v), h)
    }

  def of(rows: IterableOnce[(Long, Array[Double])]): Summary = {
    val b = new Builder
    rows.iterator.foreach { case (k, v) => b.add(k, v) }
    b.result
  }

  /** [[Summary.add]] without an allocation per row. */
  final class Builder {
    private var count, sum, first, last = 0L
    private var sorted = true
    def add(key: Long, values: Array[Double]): Unit = {
      if (count == 0) first = key else if (key <= last) sorted = false
      last = key
      count += 1
      sum += rowHash(key, values)
    }
    def result: Summary = if (count == 0) empty else Summary(count, sum, first, last, sorted)
  }

  /** A keyed row as the check sees it: column 0 is the key, the rest are
    * numeric values.
    */
  def keyed(r: Row): (Long, Array[Double]) = {
    def num(i: Int): Double =
      if (r.isNullAt(i)) Double.NaN
      else
        r.get(i) match {
          case d: Double => d
          case l: Long   => l.toDouble
          case n: Int    => n.toDouble
          case other     => throw new IllegalArgumentException(s"non-numeric value $other")
        }
    (num(0).toLong, Array.tabulate(r.length - 1)(i => num(i + 1)))
  }

  /** The summary of `df` in its own row order, one task per partition.
    * Reads Spark's internal rows directly: the columns are numeric, and
    * skipping the conversion to `Row` keeps a check of millions of rows cheap.
    */
  def ofFrame(df: DataFrame): Summary = {
    val read: Array[(InternalRow, Int) => Double] = df.schema.fields.map(_.dataType match {
      case DoubleType  => (r: InternalRow, i: Int) => r.getDouble(i)
      case LongType    => (r: InternalRow, i: Int) => r.getLong(i).toDouble
      case IntegerType => (r: InternalRow, i: Int) => r.getInt(i).toDouble
      case t           => throw new IllegalArgumentException(s"non-numeric column type $t")
    })
    df.queryExecution.toRdd
      .mapPartitionsWithIndex { (p, rows) =>
        val b = new Builder
        val values = new Array[Double](read.length - 1)
        def num(r: InternalRow, i: Int) = if (r.isNullAt(i)) Double.NaN else read(i)(r, i)
        rows.foreach { r =>
          for (i <- values.indices) values(i) = num(r, i + 1)
          b.add(num(r, 0).toLong, values)
        }
        Iterator(p -> b.result)
      }
      .collect()
      .sortBy(_._1)
      .foldLeft(empty)(_ ++ _._2)
  }
}
