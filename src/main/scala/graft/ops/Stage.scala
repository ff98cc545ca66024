package graft.ops

import org.apache.spark.sql.DataFrame

/** Eager one-time materialization of an intermediate frame that feeds
  * multiple downstream jobs (signature indexes, self-join prep, two-pass
  * window protocols). Without it the whole upstream pipeline re-executes
  * once per consumer.
  *
  * Mechanism by deployment:
  *  - reliable `checkpoint()` when the context has a checkpoint dir and
  *    is NOT local: blocks live in the checkpoint store (HDFS/object
  *    store), so losing an executor loses nothing — the posture for a
  *    real cluster, where `localCheckpoint`'s truncated lineage makes a
  *    lost executor's blocks unrecoverable and fails the job.
  *  - `localCheckpoint()` otherwise: eager, MEMORY_AND_DISK on the
  *    executors, and blocks are freed by the ContextCleaner when the
  *    frame is GC'd. (A plain `persist` would pin the frame in the
  *    CacheManager until an explicit unpersist that no caller can issue
  *    — the returned frame still reads the persisted blocks lazily.)
  *    In `local[*]` there are no executors to lose, so the reliability
  *    trade is free. On a cluster WITHOUT a checkpoint dir this keeps
  *    the localCheckpoint behavior: fast, but an executor loss aborts
  *    the job — set `spark.sparkContext.setCheckpointDir(...)` to buy
  *    fault tolerance for long pipelines.
  */
object Stage {

  /** TEST-ONLY seam (PlanAuditSpec): when set, every frame staged
    * through [[materializeOnce]] / [[materializeLazy]] reports its
    * PRE-reroot executed plan here. Re-rooting at a LogicalRDD
    * otherwise HIDES these subtrees from executed-plan
    * audits (round-17 advice: as more call sites stage multi-consumer
    * frames, the audit's coverage silently shrinks). Never set on a
    * production path; the cost when unset is one null check.
    */
  @volatile private[graft] var stagedPlanProbe: Option[String => Unit] = None

  private def probe(df: DataFrame): Unit =
    stagedPlanProbe.foreach(f =>
      f(df.queryExecution.executedPlan.toString))

  /** Scale-ADAPTIVE fan-out for a CPU-heavy narrow stage: repartition by
    * `key` only when the input's scan yields fewer partitions than the
    * session can run in parallel. A one-row-group parquet fixture gives
    * the scan a single effective split, so everything up to the first
    * exchange (regex batteries, edit distances, n-gram explosion)
    * serializes on one core — the guide's unsplittable-input remedy is
    * to repartition right after the read (opt guide §2.5). Done
    * UNCONDITIONALLY that repartition is strictly worse at corpus
    * scale: a real table carries ≥ parallelism splits and the extra
    * exchange would shuffle the whole corpus for nothing (q46's
    * long-standing rationale). The partition-count guard keeps both
    * postures: no-op whenever the scan already fans out, deterministic
    * key-hash shuffle (retry-safe, no round-robin pre-sort) over an
    * explicit partition count (AQE's BYTE-based coalescing would fold
    * a tiny-bytes / heavy-CPU shuffle back to one partition) when it
    * does not.
    *
    * Never place this before an order/index-assigning op
    * (`__index__` discipline): repartition changes physical row order.
    *
    * EVALUATION CONTRACT (round-17 advice): the partition probe reads
    * `df.rdd.getNumPartitions`, which under AQE EAGERLY materializes
    * any query stages below an Exchange — handed a derived frame whose
    * plan contains exchanges, this helper would silently run jobs at
    * plan-construction time and plan the query twice. Pass only a raw
    * table scan or a NARROW projection/filter/per-row-map over one
    * (every current call site does); anything with an exchange should
    * fan out at its own shuffle instead.
    */
  def fanOutIfNarrow(
      df: DataFrame,
      key: org.apache.spark.sql.Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p, key) else df
  }

  /** LAZY compute-once: the frame is lazily local-checkpointed —
    * nothing executes now; the FIRST consumer materializes the blocks
    * (MEMORY_AND_DISK) inside its own job and every later consumer
    * reads them. Same multiple-consumer economics as
    * [[materializeOnce]] without the dedicated eager job, which on a
    * micro-batch is a full scheduler round trip for a few hundred
    * rows. Blocks are freed by the ContextCleaner once the frame is
    * unreachable.
    *
    * `localCheckpoint(eager = false)`, NOT `createDataFrame(df.rdd,
    * schema)`: both re-root the plan at a LogicalRDD (so downstream
    * codegen stays batch-invariant), but `Dataset.rdd` DESERIALIZES
    * every InternalRow to a Scala Row and the re-wrap converts each
    * row back, boxing every array element BOTH ways on EVERY read of
    * the persisted frame — measured ~0.3-0.5 ms of CPU per
    * signature-bearing row, which dominated the fused micro-batch
    * ingest (8 tasks x 0.5 s on a 1250-row batch). The lazy local
    * checkpoint persists the INTERNAL (Unsafe) rows: zero conversion,
    * zero boxing.
    *
    * Prefer [[materializeOnce]] when the first consumer must not bear
    * the compute (a time-sensitive first probe) or on a cluster with a
    * checkpoint dir (reliability trade — see class doc); this is the
    * micro-batch ingest shape.
    */
  def materializeLazy(df: DataFrame): DataFrame = {
    probe(df)
    df.localCheckpoint(eager = false)
  }

  def materializeOnce(df: DataFrame): DataFrame = {
    probe(df)
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isDefined && !sc.isLocal) {
      // NOTE: reliable checkpoints are NOT auto-deleted by default —
      // without `spark.cleaner.referenceTracking.cleanCheckpoints=true`
      // (a context-CREATION-time setting; Session.builder sets it)
      // every materializeOnce call leaves a full frame copy in the
      // checkpoint store for the application's lifetime. Sessions built
      // elsewhere must set that flag themselves or own the cleanup.
      // persist BEFORE the eager checkpoint: Dataset.checkpoint runs a
      // count job and then the ReliableCheckpointRDD write job — without
      // a cache the upstream pipeline (the global sort / signature prep
      // this helper exists to run ONCE) would execute twice. The write
      // reads the cached blocks; afterwards the checkpointed frame is
      // backed by the checkpoint store, so the cache can be dropped.
      val cached = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try cached.checkpoint()
      finally cached.unpersist(blocking = false)
    } else df.localCheckpoint()
  }
}
