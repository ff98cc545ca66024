package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming NEAR-DUP ingestion — the MinHash analog of [[IngestDedup]]
  * (which dedupes on exact normalized fingerprints): each micro-batch
  * is near-dup-deduped WITHIN itself (pairs → connected components →
  * one survivor per component, [[Dedup.resolveComponents]]), then
  * AGAINST the already-ingested corpus via the persisted MinHash index
  * ([[Dedup.dedupIncoming]] — the index is only ever scanned, the
  * batch broadcasts), and the survivors' signatures + buckets are
  * committed as the batch's index segment. The index IS the corpus
  * registry: ids present in `sig/` are exactly the docs that survived
  * ingestion.
  *
  * COMMIT PROTOCOL: per batch, `sig/batch=<id>` and
  * `buckets/batch=<id>` publish via [[SnapshotCommit]] (staged write →
  * rename → marker). A batch is committed iff BOTH markers exist;
  * replay of a committed id is a no-op, a partial publish (crash
  * between the two) is deleted and rebuilt — each batch's rows land in
  * the index exactly once under any crash + replay interleaving. The
  * `batch=<id>` layout is hive-partitioned, so "corpus as of batch N"
  * is a partition filter, and segments compact like [[IngestDedup]]'s.
  *
  * Semantics, stated honestly: WHICH member of a near-dup cluster
  * survives depends on arrival order (earlier batches win; within a
  * batch, the component's min id) — the no-near-dup-of-an-earlier-doc
  * invariant is batching-independent, the survivor CHOICE is not.
  * That is the semantics every streaming dedup has; a batch rerun of
  * [[graft.SparkEntry]] q166 over the final corpus is the
  * order-independent check.
  */
object NearDupIngest {

  /** One micro-batch step (also usable directly for batch backfill).
    * Idempotent per (indexPath, batchId).
    */
  def ingestBatch(
      batch: DataFrame,
      indexPath: String,
      textCol: String,
      idCol: String,
      batchId: Long,
      shingleLen: Int = 4,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.4,
      maxBucketSize: Int = 256,
      sourceTag: String = ""): Unit = {
    val spark = batch.sparkSession
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Dedup.minHashEnsureMeta(
      spark, indexPath, shingleLen, numHashes, bands, sourceTag)
    val sigTarget = new Path(root, s"sig/batch=$batchId")
    val bucketsTarget = new Path(root, s"buckets/batch=$batchId")
    if (SnapshotCommit.isCommitted(fs, sigTarget) &&
      SnapshotCommit.isCommitted(fs, bucketsTarget)) return
    // crash between the two publishes, then compact() before the
    // replay: the committed sig segment was folded into batch=c<maxId>
    // and tombstoned. The replay must treat that as "already ingested" —
    // deleting the tombstone would erase the marker that encodes
    // 'folded', and re-ingesting could commit hot-bucket rows
    // (bn > maxBucketSize escapes the self-flag probe) a second time.
    // Drop only the stale uncommitted buckets leftover and no-op.
    if (SnapshotCommit.isCommitted(fs, sigTarget) &&
      SegmentCompaction.foldedCovering(fs, root, batchId)) {
      fs.delete(bucketsTarget, true)
      return
    }
    // a partial publish (one target, or unmarked targets) is a crashed
    // attempt. Delete it BEFORE step 2's probe, not just before the
    // re-publish: the probe reads the segment tree by path, and a
    // half-committed segment of THIS batch would make the retry flag
    // the batch's own docs as near-dups of themselves and drop them.
    fs.delete(sigTarget, true)
    fs.delete(bucketsTarget, true)

    // intra-batch survivors → against-corpus probe → segment frames,
    // all over ONE signing pass ([[Dedup.mhIngestSegmentFrames]] — the
    // naive minHashNearDup → dedupIncoming → minHashSegmentFrames
    // composition shingles and signs the batch three times); AQE off
    // for the batch ([[IngestTuning.withBatchTuning]])
    IngestTuning.withBatchTuning(spark) {
      val (sig, buckets) = Dedup.mhIngestSegmentFrames(
        batch,
        textCol,
        idCol,
        indexPath,
        threshold,
        maxBucketSize,
        probeCorpus =
          SegmentCompaction.hasSegments(spark, s"$indexPath/buckets"),
        sourceTag = sourceTag)
      val sigStaging = new Path(root, s"_staging/sig-$batchId")
      val bucketsStaging = new Path(root, s"_staging/buckets-$batchId")
      fs.delete(sigStaging, true)
      fs.delete(bucketsStaging, true)
      // stage the two independent writes CONCURRENTLY (both consume
      // the materialized survivors frame); publishes stay ordered
      // after both land, so the crash protocol is unchanged
      IngestTuning.parallelWrites(
        () => IngestTuning.writeSegment(sig, sigStaging.toString),
        () =>
          IngestTuning.writeSegment(buckets, bucketsStaging.toString))
      SnapshotCommit.publish(fs, sigStaging, sigTarget)
      SnapshotCommit.publish(fs, bucketsStaging, bucketsTarget)
      // roll the probe's versioned frame cache forward with the frames
      // just committed (already RAM-materialized) — the next batch's
      // probe then reads NO delta segments from disk
      Dedup.extendIndexCache(spark, s"$indexPath/sig", s"batch=$batchId", sig)
      Dedup.extendIndexCache(
        spark, s"$indexPath/buckets", s"batch=$batchId", buckets)
    }
  }

  /** The ingested (surviving) doc ids, or None before the first commit. */
  def ingestedIds(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] =
    if (!SegmentCompaction.hasSegments(spark, s"$indexPath/sig")) None
    else Some(spark.read.parquet(s"$indexPath/sig").select("id"))

  /** Consolidate committed `batch=<id>` segments into one `batch=c<maxId>`
    * segment per tree, recomputing CORPUS-GLOBAL bucket sizes from the
    * stored signatures ([[Dedup.minHashRebucket]] — no text, no
    * re-shingling). Fold mechanics, crash protocol, and the exact-`bn`
    * payoff: [[SegmentCompaction.compact]].
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit =
    SegmentCompaction.compact(
      spark, indexPath, Dedup.minHashRebucket(_, indexPath))

  /** Run the ingestion loop over a document stream — checkpointed batch
    * ids + marker commits = exactly-once index state under replay.
    */
  def start(
      stream: DataFrame,
      indexPath: String,
      checkpointDir: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleLen: Int = 4,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.4,
      maxBucketSize: Int = 256,
      sourceTag: String = ""): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(
          batch, indexPath, textCol, idCol, batchId, shingleLen,
          numHashes, bands, threshold, maxBucketSize, sourceTag)
      }
      .start()
}
