package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session tuning for the micro-batch ingest hot loops.
  *
  * AQE is pure overhead at micro-batch scale: every per-batch job
  * re-plans stage by stage (a driver round trip per exchange) to make
  * size-based decisions the ingest pipelines have already made
  * explicitly — parallelism is pinned by user repartitions (AQE-exempt
  * anyway), small sides are broadcast by hand, and the frames are
  * KB-sized so there is nothing for skew/coalesce logic to win.
  * Measured on the steady-state near-dup batch: ~17% of wall clock.
  * Batch (non-streaming) queries keep AQE — this wrapper
  * saves/restores the session value around one batch only, so a
  * foreachBatch session clone or a shared test session leaves the loop
  * exactly as it entered it.
  */
object IngestTuning {
  /** Conf key marking a session as carrying the full [[Tuned]] set —
    * the contract downstream fast paths check (the session-clone skip
    * in `Dedup.resolveComponentsAuto`). Only this object sets it;
    * declared BEFORE [[Tuned]] (object vals initialize in order).
    */
  val TunedMarker = "spark.graft.ingest.tuned"

  /** (key, batch-scoped value). shuffle.partitions drops to 8: a
    * micro-batch's shuffles carry KBs, and 32 default partitions mean
    * 32 scheduled tasks of ~1 ms work each per exchange (measured:
    * ~35 ms run inside ~155 ms wall — pure scheduling). The pinned
    * repartitions in the dedup pipelines are unaffected (explicit
    * counts), and batch-query sessions are restored on exit.
    */
  private val Tuned: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "8",
    // The probe plans union the cached index base with one re-rooted
    // leg per recent segment, and each leg's whole-stage-codegen
    // source embeds its codegenStageId in the GENERATED CLASS NAME —
    // structurally identical legs therefore produce distinct sources,
    // every one a fresh ~200-300 ms in-task Janino compile, and the
    // count grows with the segment list (measured: 12-20 compiles per
    // steady-state batch ≈ the whole probe-stage CPU). Dropping the id
    // from the class name (it survives in a comment for debugging)
    // makes the legs' sources byte-identical, so the codegen cache
    // actually hits across legs AND across batches.
    "spark.sql.codegen.useIdInClassName" -> "false",
    // one-wave CollectLimit for the capped components collect
    // (Dedup.resolveComponentsAuto): with the conf already on the
    // batch session, the per-batch SESSION CLONE (whose re-analysis of
    // the pair pipeline cost ~0.3-0.5 s/batch) is skipped. Affects
    // only limit queries, of which the ingest loop has exactly that
    // one.
    "spark.sql.limit.initialNumPartitions" -> "4096",
    // constraint propagation walks every operator's constraint set
    // during optimization — pure driver fixed cost per batch on plans
    // whose joins are already hand-broadcast and whose filters are
    // explicit; batch queries keep the default
    "spark.sql.constraintPropagation.enabled" -> "false",
    // explicit "this session is ingest-tuned" marker — downstream
    // fast paths (Dedup.resolveComponentsAuto's session-clone skip)
    // key on THIS, not on any general Spark knob a user session might
    // coincidentally set; restored off with the rest of the set
    TunedMarker -> "true")

  /** One monitor per SparkSession: conf set/restore around a batch is
    * a read-modify-write on SESSION-GLOBAL state, and two tuned bodies
    * interleaving on one session could re-enable AQE mid-batch or leak
    * partitions=8 to concurrent batch queries. Real streams never
    * contend here — Structured Streaming hands foreachBatch a frame
    * bound to the query's own cloned session (per-query isolated
    * conf) — so this serializes only direct same-session callers
    * (tests, benches driving ingestBatch by hand). Weak keys: a
    * retired session's monitor must not pin the session.
    */
  private val locks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Object]())

  /** The session's conf-mutation monitor — any code that set/restores
    * session-global SQL conf around an action (this wrapper) must hold
    * it, or two scoped overrides on one session can interleave their
    * set/restore and leak a temporary value past the finally. Code
    * that only needs a conf override VISIBLE TO ONE ACTION should
    * prefer a session clone (SessionBridge.withConfScopedClone — no
    * shared mutation, no lock) over joining this monitor; the monitor
    * remains for the batch-tuning wrapper whose body deliberately runs
    * many actions on the shared session.
    */
  private[graft] def sessionLock(spark: SparkSession): Object =
    locks.synchronized {
      var m = locks.get(spark)
      if (m == null) { m = new Object; locks.put(spark, m) }
      m
    }

  /** Write a segment frame to `path`: driver-held frames (the fused
    * ingest's [[graft.operators.Dedup]] driver segment frames) write
    * as one parquet file on the driver — no Spark job, no committer
    * (~85–100 ms of pure per-batch fixed cost each) — via
    * [[org.apache.spark.sql.graftbridge.DriverParquet]]; everything
    * else (the distributed fallback's frames) takes the normal
    * `df.write` path unchanged.
    */
  def writeSegment(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    graft.operators.Dedup.localSegmentRows(df) match {
      case Some((rows, schema)) =>
        org.apache.spark.sql.graftbridge.DriverParquet
          .write(df.sparkSession, rows, schema, path)
      case None => df.write.mode("overwrite").parquet(path)
    }

  /** Run two independent write actions concurrently and wait for both
    * (micro-batch staging writes: each is ~0.1 s of mostly fixed cost,
    * and the scheduler interleaves their tiny task sets). Runs on
    * dedicated threads so a busy common pool can't serialize them;
    * failures propagate to the caller before any publish happens.
    */
  def parallelWrites(a: () => Unit, b: () => Unit): Unit = {
    val fa = new java.util.concurrent.FutureTask[Unit](() => a())
    val ta = new Thread(fa, "graft-ingest-stage-a")
    ta.setDaemon(true)
    ta.start()
    b()
    try fa.get()
    catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  def withBatchTuning[T](spark: SparkSession)(body: => T): T = {
    sessionLock(spark).synchronized {
      val prev = Tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
      Tuned.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
