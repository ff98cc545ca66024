package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `kind` names what it does (ops of one kind
  * repeat the same work), `group` the input it ran on; `start`/`end`
  * are [[Clock]] nanoseconds; `refMs` is the [[Reference]] job's time
  * right after it.
  */
final case class OpRec(
    id: Int,
    kind: String,
    name: String,
    group: String,
    rows: Long,
    traced: Boolean,
    start: Long,
    end: Long,
    error: Option[String],
    refMs: Double,
    var wrong: Option[String] = None,
    values: scala.collection.mutable.Map[String, Double] = scala.collection.mutable.Map.empty)

/** Closed loop, one caller thread: each op starts when the previous one
  * has returned. Every job an op runs carries the op's id in its job
  * description. A throwing op is recorded as failed and the loop goes on.
  */
final class Runner(spark: SparkSession, val tracer: Tracer) {
  val ops = ArrayBuffer.empty[OpRec]

  def op(kind: String, name: String, group: String, rows: Long)(body: => Unit): OpRec = {
    val id = ops.size
    val traced = tracer.on
    val before = if (traced) Counters.snapshot() else Map.empty[String, Double]
    val sc = spark.sparkContext
    sc.setJobDescription(OpListener.Tag + id)
    val start = Clock.now()
    val error =
      try { tracer.root(id, "op")(body); None }
      catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val end = Clock.now()
    sc.setJobDescription(null)
    val rec = OpRec(id, kind, name, group, rows, traced, start, end, error, Reference.timeMs())
    if (traced) rec.values ++= Counters.delta(before, Counters.snapshot())
    ops += rec
    rec
  }
}

/** A workload: inputs made in `setup`, a fixed op mix per `pass`, and
  * output checks that mark wrong ops.
  */
trait Workload {
  /** Makes the inputs and runs an untimed warm-up. */
  def setup(spark: SparkSession): Unit
  def pass(r: Runner): Unit
  /** Passes a timed loop runs even when its time is up. */
  def minPasses: Int = 1
  /** Named checks, each with its failure message if it failed. */
  def check(spark: SparkSession, r: Runner): Seq[(String, Option[String])]
  /** Workload-level values for the record (counts, ratios, sizes). */
  def extras(r: Runner): Map[String, Double] = Map.empty
  def teardown(spark: SparkSession): Unit = ()
}
