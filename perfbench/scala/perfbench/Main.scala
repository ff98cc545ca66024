package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its raw record (op timings,
  * set-up times, checks and, when traced, spans and listener events) as
  * JSON. `perfbench/run.py` builds, launches and summarizes it.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --slots K --out FILE --work DIR --param key=value ...
  */
object Main {

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val kv = args.grouped(2).toSeq.collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
    val opt = kv.filter(_._1 != "param").toMap
    val p = kv.filter(_._1 == "param").map { case (_, s) => val Array(a, b) = s.split("=", 2); a -> b }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val slots = opt("slots").toInt
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(Clock.now() - jvmStart) / 1e9}%.2f s: $what")

    def session(): SparkSession = {
      // temporary files go to SPARK_LOCAL_DIRS, which run.py points into the work dir
      val s = graft.Session.builder(slots)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def make(): Workload = workload match {
      case "verbs_small" | "verbs_large" =>
        new VerbsWorkload(
          p("sizes").split(',').map(_.toLong).toSeq, p("groups").toInt,
          exact = p("check") == "exact", seed, slots)
      case "ingest_probe" => new IngestWorkload(p, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, several times: session start, input generation, warm-up
    // and index build. The first one also carries JVM start and class
    // loading; each later one starts a new session and, with Spark's
    // generated-class cache emptied, compiles its generated code again.
    val setupS, setupRefMs, sessionMs = ArrayBuffer.empty[Double]
    val setupCounters = ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var w: Workload = null
    for (i <- 0 until p("setups").toInt) {
      if (w != null) {
        w.teardown(spark)
        spark.stop()
        org.apache.spark.PerfbenchInternals.clearCodegenCache()
      }
      val t0 = if (i == 0) jvmStart else Clock.now()
      val c0 = Counters.snapshot()
      val s0 = Clock.now()
      spark = session()
      sessionMs += (Clock.now() - s0) / 1e6
      w = make()
      w.setup(spark)
      setupS += (Clock.now() - t0) / 1e9
      setupCounters += Counters.delta(c0, Counters.snapshot())
      setupRefMs += Reference.medianMs(11)
      phase(s"setup ${i + 1} done")
    }

    // timed closed loop: whole passes until `seconds` have gone and the
    // workload's minimum has run; traced runs alternate untraced and
    // traced passes (at least one of each)
    val tracer = new Tracer
    val runner = new Runner(spark, tracer)
    val listener = new OpListener
    val sc = spark.sparkContext
    val t0 = Clock.now()
    var passes = 0
    val minPasses = math.max(if (trace) 2 else 1, w.minPasses)
    while (passes < minPasses || Clock.now() - t0 < seconds * 1e9) {
      tracer.on = trace && passes % 2 == 1
      if (tracer.on) sc.addSparkListener(listener)
      w.pass(runner)
      if (tracer.on) {
        org.apache.spark.PerfbenchInternals.drain(sc)
        sc.removeSparkListener(listener)
        tracer.on = false
      }
      passes += 1
    }
    val timedS = (Clock.now() - t0) / 1e9
    phase(s"timed loop done: $passes passes")
    System.gc()
    val liveHeapMb = Counters.oldGenAfterGcMb()

    val checks = w.check(spark, runner)
    val report = if (trace) Some(listener.collect(sc)) else None
    phase("checks done")
    val record = Map(
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> trace,
      "stamp" -> Map(
        "nproc" -> nproc,
        "slots" -> slots,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "setup_s" -> setupS,
      "setup_ref_ms" -> setupRefMs,
      "session_start_ms" -> sessionMs,
      "setup_counters" -> setupCounters,
      "timed_s" -> timedS,
      "passes" -> passes,
      "live_heap_mb" -> liveHeapMb,
      "ops" -> runner.ops.map(o => Map(
        "id" -> o.id, "kind" -> o.kind, "name" -> o.name, "group" -> o.group, "rows" -> o.rows,
        "traced" -> o.traced, "start" -> o.start, "end" -> o.end, "ref_ms" -> o.refMs,
        "error" -> o.error, "wrong" -> o.wrong, "values" -> o.values)),
      "checks" -> checks.map { case (n, f) => Map("name" -> n, "ok" -> f.isEmpty, "detail" -> f) },
      "extras" -> w.extras(runner),
      "spans" -> tracer.spans,
      "jobs" -> report.map(_.jobs).getOrElse(Nil),
      "stages" -> report.map(_.stages).getOrElse(Nil),
      "tasks" -> report.map(_.tasks.map { case (k, v) => k.toString -> v }).getOrElse(Map.empty))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opt("out")), record)
    phase("record written")
    // The record is on disk and run.py deletes the work directory, so
    // stopping Spark (about 2 s, and library thread pools that keep the
    // JVM alive) would only lengthen every run.
    Runtime.getRuntime.halt(0)
  }
}
