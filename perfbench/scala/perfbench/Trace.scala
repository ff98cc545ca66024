package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One clock for spans and listener events: epoch nanoseconds, advanced
  * by `nanoTime` (listener stage times are epoch milliseconds).
  */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset
}

final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

/** In-memory span recorder. Spans nest by call structure; an op's root
  * span has parent -1. Off, it records nothing and costs one branch.
  */
final class Tracer {
  var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  def root[T](opId: Int, name: String)(body: => T): T = {
    op = opId
    try span(name)(body) finally op = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val start = Clock.now()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, op, name, start, Clock.now())
      }
    }
}

/** Process-wide counters a layer keeps without a listener: codegen
  * (Janino) compiles, file discovery and Hadoop local-FS statistics.
  */
object Counters {
  private def fsStats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")

  def snapshot(): Map[String, Double] = Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "storage.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    // the local file system counts bytes but not read or write calls
    "storage.bytes_read" -> fsStats.map(_.getBytesRead).sum.toDouble,
    "storage.bytes_written" -> fsStats.map(_.getBytesWritten).sum.toDouble)

  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before(k)) }

  /** Old-generation heap in use after the last collection, in MB (call
    * right after a full collection for the live heap).
    */
  def oldGenAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
      .filter(_.getName.toLowerCase.contains("old"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum / 1048576.0
}

/** Tags every job of an op through its job description and collects job,
  * stage and task events for the traced run. Events are attributed to
  * ops after [[org.apache.spark.PerfbenchInternals.drain]] at the end of the
  * run, so nothing here runs on the op's critical path but the queueing.
  */
final class OpListener extends SparkListener {
  import OpListener._

  private val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
  private val jobEnds = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)

  /** Jobs, stages and summed task metrics per op id. */
  def collect(sc: SparkContext): Report = {
    org.apache.spark.PerfbenchInternals.drain(sc)
    val opOfJob = jobs.asScala.flatMap { j =>
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .collect { case d if d.startsWith(Tag) => j.jobId -> d.stripPrefix(Tag).toInt }
    }.toMap[Int, Int]
    val opOfStage = jobs.asScala
      .filter(j => opOfJob.contains(j.jobId))
      .flatMap(j => j.stageIds.map(_ -> opOfJob(j.jobId)))
      .toMap
    val jobEnd = jobEnds.asScala.map(e => e.jobId -> e.time).toMap
    val jobRecs = jobs.asScala.filter(j => opOfJob.contains(j.jobId)).map { j =>
      JobRec(opOfJob(j.jobId), j.jobId, j.time, jobEnd.getOrElse(j.jobId, j.time))
    }.toSeq
    val stageRecs = stages.asScala.filter(s => opOfStage.contains(s.stageId)).map { s =>
      val jobId = jobs.asScala.find(_.stageIds.contains(s.stageId)).map(_.jobId).getOrElse(-1)
      StageRec(opOfStage(s.stageId), jobId, s.stageId, s.numTasks,
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
    }.toSeq
    val taskSums = tasks.asScala
      .filter(t => opOfStage.contains(t.stageId) && t.taskMetrics != null)
      .groupBy(t => opOfStage(t.stageId))
      .map { case (op, ts) => op -> taskSum(ts) }
    Report(jobRecs, stageRecs, taskSums)
  }
}

object OpListener {
  val Tag = "perfbench-op-"

  final case class JobRec(op: Int, jobId: Int, start: Long, end: Long)
  final case class StageRec(op: Int, jobId: Int, stageId: Int, tasks: Int, start: Long, end: Long)
  final case class Report(
      jobs: Seq[JobRec],
      stages: Seq[StageRec],
      tasks: Map[Int, Map[String, Double]])

  private def taskSum(ts: Iterable[SparkListenerTaskEnd]): Map[String, Double] = {
    def s(f: SparkListenerTaskEnd => Double) = ts.iterator.map(f).sum
    Map(
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_run_ms" -> s(_.taskMetrics.executorRunTime.toDouble),
      "exec.task_cpu_ms" -> s(_.taskMetrics.executorCpuTime / 1e6),
      "exec.task_deser_ms" -> s(_.taskMetrics.executorDeserializeTime.toDouble),
      "exec.gc_ms" -> s(_.taskMetrics.jvmGCTime.toDouble),
      // the Spark UI's scheduler delay: task duration not spent running,
      // deserializing, serializing its result or fetching it
      "exec.sched_delay_ms" -> s { t =>
        val m = t.taskMetrics
        val i = t.taskInfo
        val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetch).toDouble
      },
      "exec.shuffle_read_bytes" -> s(_.taskMetrics.shuffleReadMetrics.totalBytesRead.toDouble),
      "exec.shuffle_write_bytes" -> s(_.taskMetrics.shuffleWriteMetrics.bytesWritten.toDouble),
      "exec.spill_bytes" -> s(t => (t.taskMetrics.memoryBytesSpilled + t.taskMetrics.diskBytesSpilled).toDouble),
      "exec.peak_exec_mem_bytes" -> ts.iterator.map(_.taskMetrics.peakExecutionMemory.toDouble).max)
  }
}
