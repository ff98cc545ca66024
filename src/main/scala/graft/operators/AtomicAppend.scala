package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.streaming.SnapshotCommit

/** Crash-atomic append protocol for the monolithic parquet indexes
  * (SQ / LSH / IVF corpora, BM25 postings) — the batch-index twin of
  * the streaming trees' marker-published segments
  * ([[graft.streaming.SegmentCompaction]]) and [[SnapshotCommit]]'s
  * staged-rename snapshots, closing the one durability gap the
  * index-evolution family had: a bare `.mode("append").parquet(path)`
  * that dies mid-write leaves orphan part files that every later read
  * silently includes (or chokes on), with no rebuild protocol.
  *
  * Layout: the BUILD's files stay exactly where they were (`dataRoot`
  * root files, or its partition directories) — zero migration, and a
  * pre-protocol index is simply an index with no segments. Each APPEND
  * becomes one `dataRoot/_seg-<n>` directory, written first into
  * `dataRoot/_staging-<n>` and then published by rename + zero-byte
  * marker ([[SnapshotCommit.publish]] — rename alone is not atomic on
  * object stores). The underscore prefix makes both staging and
  * segment directories INVISIBLE to a plain parquet read of
  * `dataRoot` (Spark's file index skips `_`/`.`-prefixed paths — the
  * same convention that already hides every index's `_meta`), so no
  * reader, including one that predates this protocol, can ever
  * observe a half-written batch. Committed readers use [[read]]:
  * base ∪ marked segments, each leg its own scan root so partition
  * discovery and pruning work per leg unchanged.
  *
  * Crash windows, all closed: mid-write leaves `_staging-<n>`
  * (hidden; deleted and rewritten by the next append, which computes
  * the same next id); mid-rename on a copy+delete store leaves a
  * partial UNMARKED `_seg-<n>` (hidden from [[read]]; replaced by the
  * next publish); between rename and marker likewise. Committed ids
  * are a contiguous 1..k (single-writer, same contract as every
  * append path), so `next = committedMax + 1` both repairs and never
  * collides with a committed segment.
  *
  * Compaction = rebuild: `writeIndex(read(...), path)` folds the
  * segments back into the base — appends are incremental maintenance,
  * not a log that must grow forever.
  */
object AtomicAppend {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Numeric id of a `_seg-<n>` directory name. */
  private def segId(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("_seg-") && n.length > 5 && n.drop(5).forall(_.isDigit))
      Some(n.drop(5).toLong)
    else None
  }

  /** Numeric id of a `_seg-c<n>` compacted-fold directory name. */
  private def foldSegId(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("_seg-c") && n.length > 6 && n.drop(6).forall(_.isDigit))
      Some(n.drop(6).toLong)
    else None
  }

  /** The LARGEST committed compacted fold under `dataRoot`, if any —
    * the fold that structurally supersedes the base build and every
    * plain segment with id <= its own ([[compact]]).
    */
  private def committedFold(
      spark: SparkSession,
      dataRoot: String): Option[(Long, Path)] = {
    val root = new Path(dataRoot)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) None
    else
      fs.listStatus(root)
        .iterator
        .filter(s =>
          s.isDirectory && foldSegId(s.getPath).isDefined &&
            SnapshotCommit.isCommitted(fs, s.getPath))
        .map(s => (foldSegId(s.getPath).get, s.getPath))
        .toSeq
        .sortBy(_._1)
        .lastOption
  }

  /** Committed (marker-bearing) segment directories under `dataRoot`,
    * in id order.
    */
  def committedSegs(spark: SparkSession, dataRoot: String): Seq[Path] = {
    val root = new Path(dataRoot)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) Nil
    else
      fs.listStatus(root)
        .iterator
        .filter(s =>
          s.isDirectory && segId(s.getPath).isDefined &&
            SnapshotCommit.isCommitted(fs, s.getPath))
        .map(_.getPath)
        .toSeq
        .sortBy(p => segId(p).get)
  }

  /** Relative path (components) of the FIRST data file under `dir`: a
    * non-hidden file with no hidden path component below `dir` (a
    * segment's own `_meta` or the commit marker are not data). Guards
    * [[read]] against schema inference over marker-only directories,
    * lets [[publish]] turn an empty batch into a no-op, and tells
    * [[read]] whether the leg is PARTITIONED (a `k=v` directory
    * component — the layout is uniform within a leg, one writer) in
    * the same single listing.
    */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[Array[String]] = {
    val rootStr = dir.toUri.getPath
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(rootStr).stripPrefix("/")
      if (rel.nonEmpty) {
        val comps = rel.split('/')
        if (comps.forall(c => !c.startsWith("_") && !c.startsWith(".")))
          return Some(comps)
      }
    }
    None
  }

  private def hasData(fs: FileSystem, dir: Path): Boolean =
    firstDataFile(fs, dir).isDefined

  /** Run `write` against a staging directory, then publish it as the
    * next committed segment of `dataRoot`. `write` receives the
    * staging path and must leave a complete parquet dataset there
    * (mode `overwrite`; any partitioning). An empty batch (no data
    * files staged) is a no-op — nothing is published — unless
    * `keepIfMetaOnly` and the stage carries hidden metadata (BM25's
    * zero-token docs stage no posting rows but still move the corpus
    * doc count, which lives in the segment's `_meta`).
    */
  def publish(
      spark: SparkSession,
      dataRoot: String,
      keepIfMetaOnly: Boolean = false)(write: String => Unit): Unit = {
    val root = new Path(dataRoot)
    val fs = fsFor(spark, root)
    // a compacted fold `_seg-c<m>` covers (and may have deleted) plain
    // ids <= m, so the next id must clear BOTH the surviving plain
    // segments and the fold's coverage — otherwise a post-compaction
    // append could collide with a folded id
    val next = (committedSegs(spark, dataRoot).flatMap(segId) ++
      committedFold(spark, dataRoot).map(_._1)).maxOption.getOrElse(0L) + 1
    val staging = new Path(root, s"_staging-$next")
    if (fs.exists(staging)) fs.delete(staging, true) // crashed prior attempt
    write(staging.toString)
    if (hasData(fs, staging) ||
        (keepIfMetaOnly && fs.listFiles(staging, true).hasNext))
      SnapshotCommit.publish(fs, staging, new Path(root, s"_seg-$next"))
    else fs.delete(staging, true)
  }

  /** The (base leg, surviving segment legs) of the committed view: a
    * committed fold `_seg-c<m>` replaces the base AND every plain
    * segment with id <= m STRUCTURALLY (no dedup — the legs a fold
    * covers are simply not read, so a crash mid-cleanup can never
    * double-count), else the base build's own files are the base leg.
    */
  private def viewLegs(
      spark: SparkSession,
      dataRoot: String): (String, Seq[Path]) = {
    val (base, segs) = viewLegsInfo(spark, dataRoot)
    (base, segs.map(_._1))
  }

  /** [[viewLegs]] plus each surviving segment's partitioned-ness,
    * detected during the same hasData listing (no extra FS calls).
    */
  private def viewLegsInfo(
      spark: SparkSession,
      dataRoot: String): (String, Seq[(Path, Boolean)]) = {
    val root = new Path(dataRoot)
    val fs = fsFor(spark, root)
    val segs = committedSegs(spark, dataRoot).flatMap { p =>
      firstDataFile(fs, p).map(comps =>
        (p, comps.dropRight(1).exists(_.contains('='))))
    }
    committedFold(spark, dataRoot) match {
      case Some((m, fp)) =>
        (fp.toString, segs.filter { case (p, _) => segId(p).exists(_ > m) })
      case None => (dataRoot, segs)
    }
  }

  /** The committed view of an appendable index: the base build's files
    * plus every marked segment, read as ONE multi-path parquet scan. A
    * never-appended index is exactly the base read; a COMPACTED index
    * reads its latest fold as the base leg plus any segments appended
    * after the fold ([[compact]]).
    *
    * O(1) driver schema reads, not one per leg (round-17, opt guide
    * §1.2/§6): every bare `spark.read.parquet(leg)` call pays a
    * serialized DRIVER-side footer/schema inference (~30 ms), so the
    * unioned view cost ~30 ms × legs per probe — the dominant residual
    * latency of the append-probe family (q219–q230) and of
    * [[compact]]'s micro-bench. Two mechanisms, chosen per leg layout
    * (detected during the committed-segment listing, no extra FS
    * calls):
    *
    *  - FLAT segments (SQ / LSH / embedding / sig64 — files directly
    *    under `_seg-<n>`) collapse into ONE multi-path read: one
    *    listing, one schema inference, one scan node in the plan
    *    (plan analysis cost stops growing with leg count). The base
    *    leg cannot join that read — Spark's partition inference
    *    rejects a root nested under another root
    *    (CONFLICTING_DIRECTORY_STRUCTURES), and the segments live
    *    under the base dataRoot.
    *  - PARTITIONED segments (IVF/IVF-PQ `cluster=`, BM25 postings)
    *    cannot share one multi-path read (per-seg partition parsing
    *    stops at differing `_seg-<n>` bases — the same
    *    CONFLICTING_DIRECTORY_STRUCTURES check, verified against
    *    Spark 4.1), and cannot borrow the base leg's schema either: a
    *    retrain fold stores `v` as float while later appends store
    *    double, and `unionByName`'s type COERCION of that divergence
    *    is pinned behavior (RetrainSpec fails loudly on a forced
    *    schema). They keep one inferred scan per leg, but the
    *    per-leg `spark.read.parquet` calls — independent driver-side
    *    listing + footer reads — run CONCURRENTLY on a small pool
    *    (§2.6 job-overlap applied to driver latency), so the view
    *    resolves in ~1 leg's latency instead of legs × latency. Union
    *    order stays the committed id order (deterministic).
    *
    * Parquet resolves columns BY NAME per file — the same name-based
    * resolution `unionByName` applied per leg (every leg is written by
    * the same family writer and carries the same column set).
    */
  def read(spark: SparkSession, dataRoot: String): DataFrame = {
    val (base, segs) = viewLegsInfo(spark, dataRoot)
    val b = spark.read.parquet(base)
    if (segs.isEmpty) b
    else {
      val (parted, flat) = segs.partition(_._2)
      val flatDf =
        if (flat.isEmpty) Nil
        else Seq(spark.read.parquet(flat.map(_._1.toString): _*))
      val partedDfs =
        concurrently(parted)(p => spark.read.parquet(p._1.toString))
      (flatDf ++ partedDfs).foldLeft(b)(_ unionByName _)
    }
  }

  /** Resolve independent per-leg reads concurrently (driver-side
    * listing + footer inference are independent blocking calls; the
    * pool bounds the burst). Results keep input order; failures
    * propagate. Daemon threads — never blocks JVM exit.
    */
  private lazy val legReadPool =
    java.util.concurrent.Executors.newFixedThreadPool(
      8,
      r => {
        val t = new Thread(r, "graft-atomicappend-leg-read")
        t.setDaemon(true)
        t
      })

  private def concurrently[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else
      xs.map(x =>
          legReadPool.submit(new java.util.concurrent.Callable[B] {
            override def call(): B = f(x)
          }))
        .map { fut =>
          // rethrow the ORIGINAL failure, not Future.get's
          // ExecutionException wrapper — callers match on the read
          // path's own exception types, and a single-leg view (which
          // skips the pool) throws them unwrapped (round-17 review fix)
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException
                if e.getCause != null =>
              throw e.getCause
          }
        }

  /** [[read]] with provenance: a `__seg` column labels each row 0 for
    * the base leg (the build, or the latest fold once compacted) and
    * the segment id for every committed append after it — the
    * per-segment view that drift metrics (quantization distortion,
    * cluster-occupancy skew) aggregate over to decide when the
    * documented retrain-=-rebuild is due. Same legs as [[read]], so
    * partition discovery/pruning per leg is unchanged; the label is a
    * plan literal per leg, not a computed column.
    */
  def readWithSeg(spark: SparkSession, dataRoot: String): DataFrame = {
    import org.apache.spark.sql.functions.{input_file_name, lit}
    val (base, segs) = viewLegsInfo(spark, dataRoot)
    val baseDf = spark.read.parquet(base)
    val b = baseDf.withColumn("__seg", lit(0L))
    if (segs.isEmpty) b
    else {
      // same leg batching as [[read]]. For the flat multi-path scan
      // the per-segment label is derived from the file path instead of
      // a per-leg plan literal ([[segOfFile]]). The flat label is no
      // longer a constant-foldable literal, so a `__seg` filter can't
      // prune individual flat segments at plan time — no current
      // consumer filters the scan on `__seg` (both drift metrics
      // aggregate over every segment); a future leg-pruning consumer
      // should read legs directly. Partitioned legs keep their literal
      // labels.
      val (parted, flat) = segs.partition(_._2)
      val flatDf =
        if (flat.isEmpty) Nil
        else
          Seq(
            spark.read
              .parquet(flat.map(_._1.toString): _*)
              .withColumn("__seg", segOfFile(input_file_name(), dataRoot)))
      val partedDfs = concurrently(parted) { case (p, _) =>
        spark.read
          .parquet(p.toString)
          .withColumn("__seg", lit(segId(p).get))
      }
      (flatDf ++ partedDfs).foldLeft(b)(_ unionByName _)
    }
  }

  /** The segment id of a flat-leg data file: `n` of the `_seg-<n>`
    * directory that holds it. Anchored to the file's IMMEDIATE parent
    * directory: flat legs hold their part files directly under
    * `_seg-<n>`, so this can never match a like-named ANCESTOR of the
    * dataRoot (round-17 review fix — the unanchored first-match form
    * would have mislabeled every segment of an index nested under some
    * other `_seg-<k>` directory). A file with no such parent has no
    * segment, so the read fails naming the file rather than calling it
    * the base (segment 0).
    */
  private[graft] def segOfFile(file: Column, dataRoot: String): Column = {
    import org.apache.spark.sql.functions.{concat, length, lit, raise_error, regexp_extract, when}
    val segStr = regexp_extract(file, "/_seg-([0-9]+)/[^/]+$", 1)
    when(length(segStr) > 0, segStr.cast("long"))
      .otherwise(raise_error(concat(lit(s"file outside a _seg-<n> directory of $dataRoot: "), file)))
  }

  /** Number of scan legs the committed view currently unions — the
    * quantity that grows by one per append and that [[compact]] folds
    * back to one (probe planning cost is linear in it).
    */
  def viewLegCount(spark: SparkSession, dataRoot: String): Int = {
    val (_, segs) = viewLegs(spark, dataRoot)
    1 + segs.size
  }

  /** Fold the committed view back into ONE base leg — the compaction
    * the segment protocol documents ("compaction = rebuild") but
    * nothing triggered until round 14. The fold is itself published
    * under the marker protocol, so every crash window is closed:
    *
    *  1. the current committed view ([[read]]) is rewritten by the
    *     caller's `write` (which must reproduce the family's layout —
    *     partitioning included) into hidden `_staging-c<m>`, where
    *     m = the largest id the fold covers;
    *  2. per-append metadata that must survive the fold (BM25's merged
    *     stats `_meta`) is copied from the LATEST covered segment into
    *     the staging dir, so [[latestSegFile]] keeps resolving after
    *     the covered segments are deleted;
    *  3. the staging publishes as `_seg-c<m>` (rename + marker);
    *     from this instant [[read]] serves fold ∪ segments > m and
    *     IGNORES the base and covered segments structurally;
    *  4. [[vacuum]] deletes the now-unreachable base data files,
    *     covered plain segments, and superseded older folds — but
    *     only once the fold's marker is older than a GRACE PERIOD
    *     (`graft.atomicappend.vacuum.grace.ms`, default
    *     [[DefaultVacuumGraceMs]]). A reader that planned its scan
    *     just before the fold (a cached/lazy DataFrame held across an
    *     append, a probe racing an append on another thread) still
    *     resolves the covered files it planned against for the whole
    *     grace window; only a reader that parks a pre-fold plan for
    *     LONGER than the grace and then executes can observe a
    *     FileNotFoundException — re-plan (re-call the probe/read
    *     entrypoint) to pick up the fold. `compact` itself only
    *     invokes the vacuum (which no-ops inside the grace); every
    *     `maybeCompact` call-site — i.e. every append — vacuums
    *     opportunistically, so covered legs disappear on the first
    *     append after the grace expires, or immediately via
    *     `vacuum(force = true)`.
    *
    * Crash mid-write leaves hidden staging (deleted on retry); crash
    * between rename and marker leaves an unmarked fold (invisible;
    * replaced on retry); crash mid-vacuum leaves covered legs on
    * disk that no reader honors (any later [[vacuum]] — including the
    * one every append issues — finishes the delete). Single-writer,
    * same contract as [[publish]]. No-op when the view is already a
    * single leg.
    */
  def compact(
      spark: SparkSession,
      dataRoot: String,
      carryMeta: Seq[String] = Seq("_meta"))(
      write: (DataFrame, String) => Unit): Unit = {
    val root = new Path(dataRoot)
    val fs = fsFor(spark, root)
    val plainIds = committedSegs(spark, dataRoot).flatMap(segId)
    val priorFold = committedFold(spark, dataRoot)
    val m = (plainIds ++ priorFold.map(_._1)).maxOption.getOrElse(return)
    if (priorFold.exists(_._1 == m) && plainIds.forall(_ <= m)) {
      // already folded to m (or a crash died mid-vacuum): nothing to
      // fold; vacuum the covered legs if their grace has passed
      vacuum(spark, dataRoot)
      return
    }
    val staging = new Path(root, s"_staging-c$m")
    if (fs.exists(staging)) fs.delete(staging, true) // crashed attempt
    write(read(spark, dataRoot), staging.toString)
    carryMeta.foreach { name =>
      latestSegFile(spark, dataRoot, name).foreach { src =>
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new Path(src), fs, new Path(staging, name),
          false, spark.sparkContext.hadoopConfiguration)
      }
    }
    SnapshotCommit.publish(fs, staging, new Path(root, s"_seg-c$m"))
    vacuum(spark, dataRoot)
  }

  /** Delete the legs the committed fold superseded, IF the fold's
    * marker is older than the vacuum grace period (or `force`):
    * committed readers already ignore them structurally, and the
    * grace keeps the files resolvable for any reader that PLANNED its
    * scan just before the fold and is still executing (see
    * [[compact]]'s contract note). Callable explicitly; also issued
    * by [[compact]] and by every [[maybeCompact]] (i.e. every
    * append), so deferred deletes land on the first append after the
    * grace expires. No-op when no committed fold exists.
    */
  def vacuum(
      spark: SparkSession,
      dataRoot: String,
      force: Boolean = false): Unit = {
    val root = new Path(dataRoot)
    val fs = fsFor(spark, root)
    committedFold(spark, dataRoot).foreach { case (m, foldPath) =>
      val grace = sys.props
        .get("graft.atomicappend.vacuum.grace.ms")
        .flatMap(_.toLongOption)
        .getOrElse(DefaultVacuumGraceMs)
      // marker mtime comes from the STORE's clock; the driver's clock
      // measures "now". A store clock ahead of the driver yields a
      // negative age — clamp to 0 (defer, never delete early). The
      // opposite skew (driver ahead) shortens the effective grace by
      // the skew amount; the default grace is chosen orders of
      // magnitude above NTP-class skew, and deployments on
      // known-skewed stores should raise it.
      val markerAge = math.max(
        0L,
        System.currentTimeMillis() -
          fs.getFileStatus(new Path(foldPath, SnapshotCommit.Marker))
            .getModificationTime)
      if (force || markerAge >= grace) cleanupCovered(spark, fs, root, m)
    }
  }

  /** How long [[vacuum]] leaves a fold's covered legs on disk after
    * the fold commits — long enough that any reader still executing a
    * pre-fold plan (probes race appends; appends were purely additive
    * before compaction existed) finishes against the files it
    * planned. Overridable via `graft.atomicappend.vacuum.grace.ms`.
    */
  val DefaultVacuumGraceMs = 300000L

  /** Delete every leg a committed fold `_seg-c<m>` superseded: base
    * data files/dirs at the root (non-hidden entries only — `_meta`,
    * segments, and staging all hide behind the underscore), plain
    * segments with id <= m, and older folds. Committed readers ignore
    * all of it structurally; in-flight pre-fold plans are protected
    * by [[vacuum]]'s grace, which is why this stays private.
    */
  private def cleanupCovered(
      spark: SparkSession,
      fs: FileSystem,
      root: Path,
      m: Long): Unit = {
    fs.listStatus(root).foreach { s =>
      val n = s.getPath.getName
      val covered =
        if (!n.startsWith("_") && !n.startsWith(".")) true // base data
        else if (segId(s.getPath).exists(_ <= m)) true // folded segment
        else if (foldSegId(s.getPath).exists(_ < m)) true // older fold
        else n == s"_staging-c$m" // stale staging of this fold
      if (covered) fs.delete(s.getPath, true)
    }
    // A fold that carries its own `_meta` (a retrain fold's fresh
    // bounds, or carryMeta's copy of a segment-carried `_meta`) makes
    // the build-time ROOT `_meta` unreachable via [[latestSegFile]] —
    // but the stale root copy would otherwise sit on disk forever,
    // silently mis-informing anything that reads `$root/_meta`
    // directly instead of through the resolver. Delete it under the
    // same grace gate as the covered legs. When no committed leg
    // carries `_meta` (a never-folded-with-meta index), the root copy
    // IS the authority and stays.
    val rootMeta = new Path(root, "_meta")
    if (fs.exists(new Path(new Path(root, s"_seg-c$m"), "_meta")) &&
      fs.exists(rootMeta))
      fs.delete(rootMeta, true)
  }

  /** [[compact]] when the committed view has grown past `threshold`
    * scan legs — the auto-trigger every `*AppendIndex` calls after its
    * publish, bounding probe planning cost at O(threshold) legs
    * forever instead of one leg per append for the index's lifetime.
    * The threshold is overridable for tests via the
    * `graft.atomicappend.compact.threshold` JVM property.
    */
  def maybeCompact(
      spark: SparkSession,
      dataRoot: String,
      carryMeta: Seq[String] = Seq("_meta"))(
      write: (DataFrame, String) => Unit): Unit = {
    val threshold = sys.props
      .get("graft.atomicappend.compact.threshold")
      .flatMap(_.toIntOption)
      .getOrElse(DefaultCompactThreshold)
    if (viewLegCount(spark, dataRoot) > threshold)
      compact(spark, dataRoot, carryMeta)(write)
    else
      // opportunistic deferred delete: a prior fold's covered legs go
      // once their vacuum grace has expired (one listStatus when no
      // fold exists — cheap against a local FS or an object store)
      vacuum(spark, dataRoot)
  }

  /** Scan legs an appendable index may accumulate before the next
    * append folds it ([[maybeCompact]]): high enough that steady
    * appending amortizes the rebuild over many batches, low enough
    * that probe planning never walks hundreds of legs.
    */
  val DefaultCompactThreshold = 16

  /** Path of `name` inside the LATEST committed segment that carries
    * it, else `None` — for per-append metadata that must commit
    * atomically WITH its data (BM25's merged corpus stats ride inside
    * the segment; the latest segment's copy is the current truth).
    */
  def latestSegFile(
      spark: SparkSession,
      dataRoot: String,
      name: String): Option[String] = {
    val root = new Path(dataRoot)
    val fs = fsFor(spark, root)
    // plain segments newest-first, then the fold — a fold carries the
    // metadata of the newest segment it covered ([[compact]] step 2),
    // so any surviving plain segment (id > fold id by construction)
    // is strictly newer than the fold's copy
    (committedSegs(spark, dataRoot).reverseIterator ++
      committedFold(spark, dataRoot).map(_._2).iterator)
      .map(p => new Path(p, name))
      .find(fs.exists)
      .map(_.toString)
  }
}
