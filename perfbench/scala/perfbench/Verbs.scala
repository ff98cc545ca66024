package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{abs, col, count, lit, max, min, sqrt, sum}

import graft.api.Pandarallel._
import graft.ops.RowApply
import graft.progress.Progress

/** The verb mix: the eight `parallel_*` shapes (O1–O8) over a frame made
  * by [[Gen.frame]], each paired with a sequential plain-Scala reference
  * over the same inputs ([[Gen.FrameCols]]).
  *
  * `call` is the user's verb call; `keyed` projects its output to
  * (key, values...) for the checks. `ordered` verbs must return rows in
  * input order; the others are compared by key.
  */
final case class Verb(
    name: String,
    ordered: Boolean,
    call: DataFrame => DataFrame,
    keyed: DataFrame => DataFrame,
    reference: Gen.FrameCols => Iterator[(Long, Array[Double])])

object Verbs {

  private val I = graft.Index.col

  /** `counter` is ticked once per row by the `row_apply_progress` verb. */
  def mix(spark: SparkSession, counter: Progress.RowCounter): Seq[Verb] = {
    import spark.implicits._
    def typed(df: DataFrame) = df.as[(Long, Int, Double, Double)]
    def asIs(df: DataFrame) = df
    def rows(f: (Int, Gen.FrameCols) => Array[Double])(g: Gen.FrameCols) =
      Iterator.tabulate(g.n)(i => (i.toLong, f(i, g)))
    def byKey(g: Gen.FrameCols)(f: Array[Int] => Array[Double]) =
      g.groups.iterator.zipWithIndex.collect {
        case (m, k) if m.nonEmpty => (k.toLong, f(m))
      }
    /** Window reference: per group (or the whole frame), in index order. */
    def windowed(g: Gen.FrameCols, grouped: Boolean)(f: Array[Int] => Array[Double]) = {
      val out = new Array[Double](g.n)
      for (m <- if (grouped) g.groups.iterator else Iterator(Array.range(0, g.n))) {
        val vs = f(m)
        m.indices.foreach(j => out(m(j)) = vs(j))
      }
      Iterator.tabulate(g.n)(i => (i.toLong, Array(out(i))))
    }
    def rolling4(ix: Array[Int], v: Array[Double], f: Seq[Double] => Double) =
      Array.tabulate(ix.length)(j =>
        if (j < 3) Double.NaN else f((j - 3 to j).map(t => v(ix(t)))))
    val keepIndex = (out: String) => (df: DataFrame) => df.select(col(I), col(out))

    Seq(
      Verb("apply_row", ordered = true,
        df => df.parallelApply(r => (r.getLong(0), r.getDouble(2) * 2.0 + r.getDouble(3))).toDF(),
        asIs, rows((i, g) => Array(g.x(i) * 2.0 + g.y(i)))),
      Verb("apply_expr", ordered = true,
        df => df.parallelApplyExpr(
          I -> col(I), "v" -> (col("x") * col("y") + sqrt(abs(col("y"))))),
        asIs, rows((i, g) => Array(g.x(i) * g.y(i) + math.sqrt(math.abs(g.y(i)))))),
      Verb("apply_columns_reduce", ordered = true,
        df => df.parallelApplyColumnsReduce(Seq("x", "y"))(c => max(c) - min(c)),
        df => df.select(lit(0L), col("x"), col("y")),
        g => Iterator((0L, Array(g.x.max - g.x.min, g.y.max - g.y.min)))),
      Verb("applymap", ordered = true,
        df => df.parallelApplymap(c => c * 2),
        asIs, g => rows((i, g) => Array(g.k(i) * 2.0, g.x(i) * 2, g.y(i) * 2))(g)
          .map { case (i, v) => (i * 2, v) }),
      Verb("map_typed", ordered = true,
        df => typed(df).parallelMap { case (i, _, x, y) => (i, x - y) }.toDF(),
        asIs, rows((i, g) => Array(g.x(i) - g.y(i)))),
      Verb("apply_with_args", ordered = true,
        df => typed(df).parallelApplyWith(3.0) { (p: (Long, Int, Double, Double), a: Double) =>
          (p._1, p._3 * a + p._4)
        }.toDF(),
        asIs, rows((i, g) => Array(g.x(i) * 3.0 + g.y(i)))),
      Verb("groupby_apply", ordered = false,
        df => df.parallelGroupBy("k").apply(
          sum("x").as("sx"), max("y").as("my"), count(lit(1)).as("n")),
        asIs, g => byKey(g)(m => Array(m.map(g.x(_)).sum, m.map(g.y(_)).max, m.length.toDouble))),
      Verb("groupby_apply_groups", ordered = false,
        df => df.parallelGroupBy("k")
          .applyGroups(_.getInt(1)) { (k: Int, it: Iterator[Row]) =>
            var s, n = 0.0
            it.foreach { r => s += r.getDouble(3); n += 1 }
            Iterator((k.toLong, s, n))
          }.toDF(),
        asIs, g => byKey(g)(m => Array(m.map(g.y(_)).sum, m.length.toDouble))),
      Verb("rolling_apply", ordered = false,
        df => df.rolling(4, col(I)).parallelApply(col("x"), "r")(xs => xs.sum / xs.size),
        keepIndex("r"), g => windowed(g, grouped = false)(ix => rolling4(ix, g.x, xs => xs.sum / xs.size))),
      Verb("grouped_rolling_apply", ordered = false,
        df => df.parallelGroupBy("k").rolling(4, col(I))
          .parallelApply(col("y"), "r")(xs => xs.max - xs.min),
        keepIndex("r"), g => windowed(g, grouped = true)(ix => rolling4(ix, g.y, xs => xs.max - xs.min))),
      Verb("grouped_expanding_agg", ordered = false,
        df => df.parallelGroupBy("k").expanding(col(I)).parallelAgg(col("x"), "e")(c => sum(c)),
        keepIndex("e"), g => windowed(g, grouped = true)(ix => ix.map(g.x(_)).scanLeft(0.0)(_ + _).tail)),
      Verb("row_apply_progress", ordered = true,
        df => RowApply(df, Some(counter))(r => (r.getLong(0), r.getDouble(2) + 1.0)).toDF(),
        asIs, rows((i, g) => Array(g.x(i) + 1.0)))
    )
  }

  val Counted = "row_apply_progress"

  /** Compare a verb's output with its reference, row for row: in order
    * for ordered verbs, by key otherwise. Returns a failure message.
    */
  def checkExact(v: Verb, out: DataFrame, g: Gen.FrameCols): Option[String] = {
    val got = v.keyed(out).collect().map(Summary.keyed)
    val want = v.reference(g).toArray
    val (a, b) =
      if (v.ordered) (got, want) else (got.sortBy(_._1), want.sortBy(_._1))
    if (a.length != b.length) return Some(s"${v.name}: ${a.length} rows, want ${b.length}")
    a.indices.find(i => a(i)._1 != b(i)._1 || !sameBits(a(i)._2, b(i)._2)).map { i =>
      s"${v.name}: row $i is (${a(i)._1}, ${a(i)._2.mkString(",")}), " +
        s"want (${b(i)._1}, ${b(i)._2.mkString(",")})"
    }
  }

  /** Large-frame check: row count, key order (ordered verbs) and an
    * order-free checksum against a sequential pass.
    */
  def checkSummary(v: Verb, out: DataFrame, g: Gen.FrameCols): Option[String] = {
    val got = Summary.ofFrame(v.keyed(out))
    val want = Summary.of(v.reference(g))
    if (got.count != want.count) Some(s"${v.name}: ${got.count} rows, want ${want.count}")
    else if (v.ordered && !got.sorted) Some(s"${v.name}: output rows out of input order")
    else if (got.sum != want.sum) Some(s"${v.name}: checksum ${got.sum}, want ${want.sum}")
    else None
  }

  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToLongBits(a(i)) == java.lang.Double.doubleToLongBits(b(i)))
}
