package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.progress.Progress

/** `verbs_small` and `verbs_large`: the verb mix over cached seeded
  * frames, each call materialized with a `noop` write.
  *
  * @param sizes  frame sizes in rows; a pass calls every verb on every frame
  * @param exact  compare every output row with the reference (small
  *               frames) rather than row count, key order and checksum
  */
final class VerbsWorkload(
    sizes: Seq[Long],
    groups: Int,
    exact: Boolean,
    seed: Long,
    parts: Int)
    extends Workload {
  import VerbsWorkload._

  private var frames: Seq[(String, DataFrame, Long, Long)] = Nil // label, frame, rows, seed
  private var verbs: Seq[Verb] = Nil
  private var counter: Progress.RowCounter = _

  private def frameSeed(i: Int) = seed * 31 + i

  def setup(spark: SparkSession): Unit = {
    counter = Progress.rowCounter(spark, "perfbench")
    verbs = Verbs.mix(spark, counter)
    frames = sizes.zipWithIndex.map { case (n, i) =>
      val df = Gen.frame(spark, n, groups, frameSeed(i), parts).cache()
      df.count()
      (s"${n}r", df, n, frameSeed(i))
    }
    // warm-up over frames of the same schema: the mix once at a size
    // that runs every task path, then repeated on a tiny frame so the
    // driver code of each verb is compiled by the JIT before timing
    for ((rows, passes) <- Seq(WarmRows -> 1, TinyRows -> TinyPasses)) {
      val f = Gen.frame(spark, rows, groups, frameSeed(-1), parts).cache()
      f.count()
      for (_ <- 1 to passes; v <- verbs) noop(v.call(f))
      f.unpersist(blocking = true)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def pass(r: Runner): Unit = {
    val t = r.tracer
    for ((label, df, n, _) <- frames; v <- verbs) {
      val ticks0 = counter.value
      var phases = Map.empty[String, Double]
      val rec = r.op(s"${v.name}/$label", v.name, label, n) {
        val out = t.span("ops.build")(v.call(df))
        if (t.on) {
          t.span("plan")(out.queryExecution.executedPlan)
          phases = out.queryExecution.tracker.phases.map { case (k, p) =>
            s"plan.${k}_ms" -> p.durationMs.toDouble
          }
        }
        t.span("execute")(noop(out))
      }
      rec.values ++= phases
      if (v.name == Verbs.Counted && rec.error.isEmpty) {
        val ticks = counter.value - ticks0
        rec.values("progress.ticks") = ticks.toDouble
        if (ticks != n) rec.wrong = Some(s"progress ticked $ticks times for $n rows")
      }
    }
  }

  def check(spark: SparkSession, r: Runner): Seq[(String, Option[String])] =
    frames.flatMap { case (label, df, n, s) =>
      val g = new Gen.FrameCols(n.toInt, groups, s)
      val inputs = Summary.ofFrame(df) == Summary.of(
        Iterator.tabulate(g.n)(i => (i.toLong, Array(g.k(i).toDouble, g.x(i), g.y(i)))))
      val gen = s"$label/generator_parity" ->
        Option.when(!inputs)("Spark frame differs from its driver-side twin")
      gen +: verbs.map { v =>
        val failure =
          try {
            val out = v.call(df)
            if (exact) Verbs.checkExact(v, out, g) else Verbs.checkSummary(v, out, g)
          } catch { case e: Exception => Some(s"${v.name}: ${e.getMessage}") }
        failure.foreach { f =>
          r.ops.filter(o => o.name == v.name && o.group == label && o.wrong.isEmpty)
            .foreach(_.wrong = Some(f))
        }
        s"$label/${v.name}" -> failure
      }
    }

  override def teardown(spark: SparkSession): Unit =
    frames.foreach(_._2.unpersist(blocking = true))
}

object VerbsWorkload {
  private val WarmRows = 200000L
  private val TinyRows = 2000L
  private val TinyPasses = 3
}
