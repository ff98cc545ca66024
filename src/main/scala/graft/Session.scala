package graft

import org.apache.spark.sql.SparkSession

/** Engine session facade — the analog of `pandarallel.initialize()`
  * (reference: pandarallel/core.py:451-556).
  *
  * The reference's knobs map onto Spark session config:
  *  - `nb_workers` (core.py:36, default = physical cores) → `local[n]`
  *    master threads + `spark.sql.shuffle.partitions`;
  *  - `use_memory_fs` / `shm_size_mb` transport (core.py:462-475) →
  *    obsolete: Spark owns transport (Tungsten UnsafeRow + Netty shuffle);
  *  - `progress_bar` → [[graft.progress.Progress]] accumulators.
  *
  * Every main builds its session here, so the plans Verify checks are
  * the plans Bench times; a main adds only the overrides it names at
  * the call.
  *
  * Scale notes (cluster posture, tested on local[n]):
  *  - AQE on: runtime shuffle-partition coalescing, skew-join splitting.
  *  - shuffle.partitions defaults to the local core count here; on a real
  *    cluster set it ~2-3x total executor cores (or rely on AQE).
  */
object Session {

  /** The §6 row-group target every engine session writes parquet with
    * (see the builder comment). A named constant so IndexLayoutSpec
    * can assert THIS value is inside the guide's 128 MB–1 GB range —
    * the spec's written-file checks run on the bare test session,
    * which would not catch a typo here (round-17 review fix).
    */
  val IndexRowGroupBytes: Long = 128L * 1024 * 1024

  /** Default worker count = PHYSICAL cores, not logical — the
    * reference's default (`core.py:36`,
    * `psutil.cpu_count(logical=False)`; rationale in its
    * docs/docs/troubleshooting.md:28-45: hyperthread oversubscription
    * slows CPU-bound UDFs). The JVM only exposes logical processors, so
    * on Linux read the (physical id, core id) pairs from /proc/cpuinfo;
    * anywhere that fails, fall back to logical count (the pre-r8
    * behavior, and psutil's own fallback).
    */
  def physicalCores(): Int = {
    val logical = Runtime.getRuntime.availableProcessors()
    try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try {
        var phys, core = ""
        val pairs = scala.collection.mutable.Set.empty[(String, String)]
        for (line <- src.getLines()) {
          val kv = line.split(":", 2)
          if (kv.length == 2) kv(0).trim match {
            case "physical id" => phys = kv(1).trim
            case "core id" =>
              core = kv(1).trim
              pairs += ((phys, core))
            case _ => ()
          }
        }
        if (pairs.nonEmpty) math.min(pairs.size, logical) else logical
      } finally src.close()
    } catch { case _: Throwable => logical }
  }

  /** The worker count every main builds its session with:
    * `SPARK_GRAFT_CPUS` when set, else [[physicalCores]] (the
    * reference's `nb_workers` default).
    */
  def workers(): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(physicalCores())

  def builder(nbWorkers: Int = physicalCores()): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$nbWorkers]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", nbWorkers.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // dims/signature tables up to 64 MB go broadcast instead of SMJ —
      // with 100+ GB executors this trades trivial memory for removing
      // fact-side shuffles (AQE still decides per-join at runtime)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Stage.materializeOnce takes the reliable-checkpoint path on a
      // cluster with a checkpoint dir; those files are never deleted
      // unless the cleaner tracks them — without this the checkpoint
      // store grows by every staged frame for the app's lifetime
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // Output-layout contract (opt guide §6, round 17): every index /
      // leg / fold writer targets 128 MiB parquet row groups —
      // EXPLICIT, not inherited, so a library-default change can't
      // silently fragment (or bloat) the index layout. 128 MiB is the
      // LOW edge of the guide's 128 MB–1 GB range on purpose: the
      // probe paths prune with row-group min/max statistics (SQ/PQ
      // rescore under a pushed `id IN (…)`, BM25's term-sorted
      // postings under `term IN (…)`), and larger groups would weaken
      // exactly that skipping; sequential-scan-heavy deployments can
      // raise it here. IndexLayoutSpec pins the written-file shape.
      .config(
        "spark.hadoop.parquet.block.size",
        Session.IndexRowGroupBytes.toString)
      .config("spark.ui.enabled", "false")

  /** Build (or reuse) the engine session. */
  def initialize(nbWorkers: Int = physicalCores()): SparkSession = {
    val spark = builder(nbWorkers).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
