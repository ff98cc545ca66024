package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming SEMANTIC (embedding) near-dup ingestion — completes the
  * ingest-dedup triad: [[IngestDedup]] (exact fingerprints),
  * [[NearDupIngest]] (lexical MinHash), and this (embedding cosine,
  * banded hyperplane LSH). Each micro-batch of (id, vector) rows is
  * deduped WITHIN itself ([[Dedup.embeddingNearDupBanded]] pairs →
  * connected components → one survivor per component), then AGAINST
  * the already-ingested corpus via the persisted embedding index
  * ([[Dedup.embDedupIncoming]] — index scanned, batch broadcast), and
  * the survivors' signatures + buckets commit as the batch's index
  * segment. The index IS the corpus registry; `sig/` keeps the vector
  * alongside the signature because probes confirm candidates with
  * exact cosine.
  *
  * Commit protocol, idempotence, and survivor-choice semantics are
  * IDENTICAL to [[NearDupIngest]] (marker-published `batch=` segments,
  * partial publishes deleted before the probe so a retry never flags
  * its own half-committed rows, earlier batches win). A batch rerun of
  * `q174`-style exact semantic dedup over the final corpus is the
  * order-independent check.
  */
object EmbedIngest {

  /** One micro-batch step (also usable directly for batch backfill).
    * Idempotent per (indexPath, batchId).
    */
  def ingestBatch(
      batch: DataFrame,
      indexPath: String,
      vecCol: String,
      idCol: String,
      batchId: Long,
      nBits: Int = 16,
      bands: Int = 4,
      seed: Int = 42,
      threshold: Double = 0.9,
      maxBucketSize: Int = 1024,
      sourceTag: String = ""): Unit = {
    val spark = batch.sparkSession
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Dedup.embEnsureMeta(spark, indexPath, nBits, bands, seed, sourceTag)
    val sigTarget = new Path(root, s"sig/batch=$batchId")
    val bucketsTarget = new Path(root, s"buckets/batch=$batchId")
    if (SnapshotCommit.isCommitted(fs, sigTarget) &&
      SnapshotCommit.isCommitted(fs, bucketsTarget)) return
    // crash between the two publishes + compact() before the replay:
    // the committed sig was folded and tombstoned — treat as already
    // ingested (see NearDupIngest.ingestBatch; deleting the tombstone
    // marker would let hot-bucket rows commit twice)
    if (SnapshotCommit.isCommitted(fs, sigTarget) &&
      SegmentCompaction.foldedCovering(fs, root, batchId)) {
      fs.delete(bucketsTarget, true)
      return
    }
    // a partial publish is a crashed attempt — delete BEFORE the probe
    // (the NearDupIngest self-flag hazard: a half-committed segment of
    // THIS batch would make the retry drop the batch's own rows)
    fs.delete(sigTarget, true)
    fs.delete(bucketsTarget, true)

    // intra-batch survivors → against-corpus probe → segment frames,
    // all over ONE signing pass ([[Dedup.embIngestSegmentFrames]]);
    // AQE off for the batch ([[IngestTuning.withBatchTuning]])
    IngestTuning.withBatchTuning(spark) {
      val (sig, buckets) = Dedup.embIngestSegmentFrames(
        batch,
        vecCol,
        idCol,
        indexPath,
        threshold,
        maxBucketSize,
        probeCorpus =
          SegmentCompaction.hasSegments(spark, s"$indexPath/buckets"),
        sourceTag)
      val sigStaging = new Path(root, s"_staging/sig-$batchId")
      val bucketsStaging = new Path(root, s"_staging/buckets-$batchId")
      fs.delete(sigStaging, true)
      fs.delete(bucketsStaging, true)
      // concurrent staging writes — see NearDupIngest.ingestBatch
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

  /** The ingested (surviving) ids, or None before the first commit. */
  def ingestedIds(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] =
    if (!SegmentCompaction.hasSegments(spark, s"$indexPath/sig")) None
    else Some(spark.read.parquet(s"$indexPath/sig").select("id"))

  /** Consolidate committed segments; bucket sizes become corpus-global
    * ([[Dedup.embRebucket]] over the stored signature column — vectors
    * are never re-signed). Mechanics: [[SegmentCompaction.compact]].
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit =
    SegmentCompaction.compact(
      spark, indexPath, Dedup.embRebucket(_, indexPath))

  /** Run the ingestion loop over an embedding stream — checkpointed
    * batch ids + marker commits = exactly-once index state under
    * replay.
    */
  def start(
      stream: DataFrame,
      indexPath: String,
      checkpointDir: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      nBits: Int = 16,
      bands: Int = 4,
      seed: Int = 42,
      threshold: Double = 0.9,
      maxBucketSize: Int = 1024,
      sourceTag: String = ""): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(
          batch, indexPath, vecCol, idCol, batchId, nBits, bands, seed,
          threshold, maxBucketSize, sourceTag)
      }
      .start()
}
