package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SignatureExpressions, TextFunctions, VectorExpressions, VectorFunctions}

/** Deduplication operators for training-data pipelines (extension set —
  * the reference has none; `drop_duplicates` is plain pandas outside
  * pandarallel's surface).
  *
  * Scale design notes (the point of each variant):
  *  - [[exact]]: hash-groupBy on a digest of the content — one shuffle of
  *    (digest, id) pairs, never the full text. Partial aggregation means
  *    the exchange carries one row per distinct digest per partition.
  *  - [[minHashNearDup]]: shingles → k minhashes → bands; candidate pairs
  *    come from a self-join on (band, band-signature) buckets, which is a
  *    hash-partition equi-join — the O(n²) cross product never happens.
  *    Verification (exact Jaccard) runs only on bucket collisions.
  *  - [[simHashNearDup]]: 64-bit SimHash over token hashes; near-dups =
  *    equal signatures (or banded sub-signatures for Hamming-distance>0).
  *  - [[ngramJaccardPairs]]: exact n-gram Jaccard, blocked by a cheap key
  *    to bound the pair space (blocking is the only thing that makes
  *    exact pairwise feasible at scale).
  *  - [[embeddingNearDup]]: cosine near-dup via hyperplane-LSH buckets.
  *
  * All signatures are deterministic expressions (seeded hashes, no RNG),
  * so results are reproducible run-to-run and cluster-size-independent.
  */
object Dedup {

  /** Exact dedup: group by content digest; keep the smallest id as the
    * canonical representative. Returns (h, keep_id, n).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** INCREMENTAL exact dedup — the daily-batch form: keep rows of `df`
    * whose normalization fingerprint is NOT in `seen` (a one-column `fp`
    * frame, e.g. yesterday's persisted fingerprint index). LEFT ANTI
    * join on the fingerprint: the seen side can be the full corpus
    * history on disk while each increment shuffles only its own
    * fingerprints (AQE broadcasts the smaller side when it fits).
    */
  def incrementalNew(
      df: DataFrame,
      seen: DataFrame,
      textCol: String,
      idCol: String): DataFrame =
    df.select(
        col(idCol),
        graft.functions.TextFunctions.normFingerprint(col(textCol)).as("fp"))
      // no distinct on the seen side: LEFT ANTI ignores duplicate right
      // keys anyway, and a distinct would force a full aggregation pass
      // over the (arbitrarily large) history
      .join(seen.select(col("fp")), Seq("fp"), "left_anti")
      .select(idCol)

  /** Benchmark DECONTAMINATION — flag training documents sharing at
    * least `minShared` distinct character n-gram shingles with ANY part
    * of a benchmark/eval corpus (the overlap check every pretraining
    * pipeline runs before training). Shape: explode both sides to
    * 64-bit shingle hashes (same Jaccard-modulo-2^-64 trade as
    * [[ngramJaccardPairs]]), inner-join on the hash, count per training
    * doc. The benchmark side is distinct'd and small by nature (eval
    * sets), so AQE broadcasts it — the training side never shuffles,
    * which is what lets this run over a 100-TB corpus.
    */
  def contamination(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minShared: Int = 10): DataFrame = {
    SignatureExpressions.register(train.sparkSession)
    val benchSet = shingled(bench, textCol, idCol, n).select("sh").distinct()
    shingled(train, textCol, idCol, n)
      .join(benchSet, Seq("sh"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** (id, sh) rows: one exploded 64-bit hash per distinct n-gram shingle
    * of the normalized text. Shared by [[contamination]] and
    * [[contaminationBloom]] — both sides of the overlap check must
    * shingle identically.
    */
  private def shingled(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = df
    .select(
      col(idCol).as("id"),
      TextFunctions.normalized(col(textCol)).as("__norm"))
    .select(
      col("id"),
      explode(SignatureExpressions.shingleHashesFast(col("__norm"), n))
        .as("sh"))

  /** Bloom-prefiltered DECONTAMINATION — exactly [[contamination]]'s
    * results with a different scale posture. [[contamination]] broadcasts
    * the distinct'd benchmark shingles as a join hash relation; the cost
    * that remains at 100 TB is probing EVERY exploded training shingle
    * into it. Here the benchmark shingles are first compacted into a
    * Bloom filter (`Dataset.stat.bloomFilter` — a mergeable sketch built
    * by one tree-aggregation over the small side; ~1.2 MB per million
    * distinct shingles at 1% fpp, vs the tens of MB a broadcast hash
    * relation of the same keys costs), broadcast once, and used to drop
    * the overwhelming share of training shingles BEFORE the confirming
    * equi-join. Bloom false positives pass the prefilter and are then
    * removed by the exact join, so the output is bit-identical to
    * [[contamination]] — the driver oracle is the same SQL. This is the
    * runtime-filter shape Spark's own BloomFilterMightContain applies to
    * shuffle joins, made explicit so it also covers the broadcast case.
    *
    * The probe is a long⇒boolean Scala UDF (Spark exposes no public
    * might_contain function; the internal expression only backs AQE
    * runtime filters). It costs two hash probes per shingle between two
    * codegen stages — noise next to the explode it gates — and its
    * selectivity (~fpp for non-contaminated corpora) is what shrinks the
    * join probe side by ~99%.
    */
  def contaminationBloom(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minShared: Int = 10,
      fpp: Double = 0.01): DataFrame = {
    SignatureExpressions.register(train.sparkSession)
    // benchSet feeds three consumers (count for sizing, the bloom
    // aggregation, the confirming join) — materialize it once
    val benchSet = graft.ops.Stage.materializeOnce(
      shingled(bench, textCol, idCol, n).select("sh").distinct())
    val nDistinct = benchSet.count() // bounded: eval corpus
    // empty benchmark side: nothing can be contaminated — return the
    // empty flag frame rather than hit stat.bloomFilter's empty-input
    // NPE (same guard as BloomJoin)
    if (nDistinct == 0)
      return train
        .select(col(idCol))
        .limit(0)
        .withColumn("n_shared", lit(0L))
    val bloom = benchSet.stat.bloomFilter("sh", nDistinct, fpp)
    val bloomBc = train.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomBc.value.mightContainLong(h))
    shingled(train, textCol, idCol, n)
      .where(mightContain(col("sh")))
      .join(benchSet, Seq("sh"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** The decontaminated CORPUS — the table a training run actually
    * consumes, one step past [[contamination]]/[[contaminationBloom]]'s
    * flag list (the exact analog of [[dedupByComponents]] closing
    * [[resolveComponents]]): every training row whose id is NOT in the
    * contaminated set. LEFT ANTI on the flag list, which is small by
    * nature (docs overlapping an eval set), so AQE broadcasts it — the
    * corpus side never shuffles. Uses the bloom-prefiltered flag pass
    * ([[contaminationBloom]]) because that is the 100-TB posture;
    * results are bit-identical to the exact pass by construction.
    */
  def decontaminate(
      train: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minShared: Int = 10,
      fpp: Double = 0.01): DataFrame =
    train.join(
      contaminationBloom(train, bench, textCol, idCol, n, minShared, fpp)
        .select(idCol),
      Seq(idCol),
      "left_anti")

  /** SEMANTIC benchmark decontamination, exact form — the
    * embedding-level twin of [[decontaminate]] (which matches verbatim
    * shingles): a training row is contaminated when its embedding is
    * cosine-≥-threshold close to ANY benchmark row, catching eval
    * leakage that survives paraphrase (where no shingle matches).
    * Benchmark sets are query-sized, so the eval side broadcasts and
    * the train side is ONE scan with a broadcast nested-loop LEFT SEMI
    * (each train row short-circuits on its first match) — no shuffle
    * anywhere, but O(|train|·|bench|) cosines: this is the
    * oracle-fidelity baseline (the [[embeddingNearDupExact]] stance);
    * [[semanticContaminationBanded]] is the 100-TB path.
    */
  def semanticContamination(
      train: DataFrame,
      bench: DataFrame,
      vecCol: String,
      threshold: Double): DataFrame =
    semanticNeighborJoin(train, bench, vecCol, threshold, "left_semi")

  /** The decontaminated TRAINING corpus under [[semanticContamination]]
    * — train rows with NO cosine-≥-threshold benchmark neighbor (the
    * table a run consumes; [[decontaminate]]'s contract at the
    * embedding level).
    */
  def decontaminateSemantic(
      train: DataFrame,
      bench: DataFrame,
      vecCol: String,
      threshold: Double): DataFrame =
    semanticNeighborJoin(train, bench, vecCol, threshold, "left_anti")

  private def semanticNeighborJoin(
      train: DataFrame,
      bench: DataFrame,
      vecCol: String,
      threshold: Double,
      joinType: String): DataFrame = {
    VectorExpressions.register(train.sparkSession)
    train.join(
      broadcast(bench.select(col(vecCol).as("__bench_v"))),
      VectorExpressions.cosineFast(col(vecCol), col("__bench_v"))
        >= threshold,
      joinType)
  }

  /** Banded-LSH semantic contamination — the scale path: hyperplane-
    * sign both sides ([[embSignatures]]), candidate (train, bench)
    * pairs from any shared band bucket (train side explodes only
    * (id, bucket) keys — the vectors never ride the explode), then an
    * exact-cosine confirm of the candidate-bounded pair set. The train
    * table NEVER shuffles: both passes are scans against broadcast
    * frames (bench buckets, then candidates + bench vectors), the
    * [[contaminationBloom]] two-pass shape. Recall is the banding
    * bound 1−(1−p^rows)^bands with p = 1−θ/π (Charikar): at the 60/15
    * default geometry (hyperplane signatures cap at 63 bits — the
    * sign bit of the stored long stays clear) and threshold 0.9 a
    * true contaminant is missed with probability ~1e-5; identical
    * vectors are ALWAYS caught
    * (identical signatures collide in every band). Returns the flagged
    * train ids.
    */
  def semanticContaminationBanded(
      train: DataFrame,
      bench: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      nBits: Int = 60,
      bands: Int = 15,
      seed: Int = 42): DataFrame = {
    require(nBits % bands == 0, s"bands=$bands must divide nBits=$nBits")
    val rows = nBits / bands
    val tSig = embSignatures(train, vecCol, idCol, nBits, seed)
    val bSig = embSignatures(bench, vecCol, idCol, nBits, seed)
      .transform(graft.ops.Stage.materializeOnce)
    val tKeys = tSig.select(
      col("id"),
      explode(embBucketArray(bands, rows)).as("bucket"))
    val bKeys = bSig.select(
      col("id").as("__bid"),
      explode(embBucketArray(bands, rows)).as("bucket"))
    val cand = tKeys
      .join(broadcast(bKeys), Seq("bucket"))
      .select(col("id"), col("__bid"))
      .distinct()
    tSig
      .select(col("id"), col("v"))
      .join(broadcast(cand), Seq("id"))
      .join(
        broadcast(bSig.select(col("id").as("__bid"), col("v").as("__bv"))),
        Seq("__bid"))
      .where(
        VectorExpressions.cosineFast(col("v"), col("__bv")) >= threshold)
      .select(col("id"))
      .distinct()
  }

  /** Decontaminated corpus under [[semanticContaminationBanded]]: train
    * LEFT ANTI the (contamination-bounded, broadcastable) flagged-id
    * frame. Survivors ⊇ the exact path's survivors by construction
    * (banding can only MISS contamination, never invent it).
    */
  def decontaminateSemanticBanded(
      train: DataFrame,
      bench: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      nBits: Int = 60,
      bands: Int = 15,
      seed: Int = 42): DataFrame =
    train.join(
      semanticContaminationBanded(
        train, bench, vecCol, idCol, threshold, nBits, bands, seed)
        .withColumnRenamed("id", idCol),
      Seq(idCol),
      "left_anti")

  /** SEGMENT-level dedup (the "remove duplicated lines/paragraphs
    * everywhere" pass of web-corpus pipelines — within-document AND
    * cross-document): split each document into fixed non-overlapping
    * `segTokens`-token segments, count each distinct segment's
    * occurrences across the whole corpus, drop every occurrence of any
    * segment appearing more than `maxOccurrences` times, and reassemble
    * the survivors in document order. Returns one row per input document:
    * (idCol, clean_text, n_kept, n_dropped) — documents whose text is
    * empty or entirely boilerplate come back with clean_text = ''.
    *
    * Scale shape: explode to (id, idx, seg) once; aggregate occurrence
    * counts on a 64-bit hash of the segment (the count exchange carries
    * (hash, partial-count), never segment text); join the verdict back on
    * the hash (hash-partitioned equi-join — over-represented segments are
    * usually few, so AQE turns this into a broadcast of the hot set when
    * it fits); then one groupBy(id) reassembles with an array_sort over
    * (idx, seg) structs, O(doc length) memory per group. Dropping by a
    * 64-bit hash rather than the string trades a ~2⁻⁶⁴ per-pair collision
    * (a uniquely-occurring segment miscounted as hot) for never shuffling
    * segment text into the count — the q14/q54 trade.
    */
  def segmentDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      segTokens: Int = 8,
      maxOccurrences: Long = 1): DataFrame = {
    val segs = df
      .select(
        col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__tk"))
      .select(
        col("id"),
        explode_outer(TextFunctions.chunksOf(col("__tk"), segTokens, 0))
          .as("c"))
      .select(
        col("id"),
        col("c.idx").as("idx"),
        col("c.chunk").as("seg"),
        // xxhash64(null) returns the seed hash, not null — the empty-doc
        // placeholder row from explode_outer must NOT join the counts
        when(col("c.chunk").isNotNull, xxhash64(col("c.chunk"))).as("segh"))
    val counts = segs
      .groupBy("segh")
      .agg(count(lit(1)).as("__n"))
    segs
      .join(counts, Seq("segh"), "left")
      .groupBy(col("id").as(idCol))
      .agg(
        concat_ws(
          " ",
          transform(
            array_sort(
              collect_list(
                when(
                  col("__n") <= maxOccurrences,
                  struct(col("idx"), col("seg"))))),
            s => s("seg"))).as("clean_text"),
        count(when(col("__n") <= maxOccurrences, lit(1))).as("n_kept"),
        count(when(col("__n") > maxOccurrences, lit(1))).as("n_dropped"))
  }

  /** pandas `duplicated(keep='first')` — FLAG duplicates instead of
    * dropping them (audit/lineage pipelines keep the rows and mark
    * them). A row is a duplicate iff an earlier row (lower id) has the
    * same normalized-content fingerprint. One hash exchange on the
    * digest (same as [[exact]]); the flag is a row_number over each
    * fingerprint's id order.
    */
  def duplicatedFlags(
      df: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp"))
      .orderBy(col(idCol))
    df.withColumn("__fp", md5(TextFunctions.normalized(col(textCol))))
      .withColumn("is_dup", row_number().over(w) > 1)
      .drop("__fp")
  }

  /** Base 64-bit hash per shingle — hash each *string* exactly once;
    * the k minhash functions are cheap affine/xor re-mixes of this array
    * (one string hash + k integer ops per shingle, instead of k string
    * hashes — the classic minhash trick, 32x fewer hash evaluations).
    */
  def shingleBaseHashes(shinglesAttr: Column): Column =
    transform(shinglesAttr, s => xxhash64(s))

  /** MinHash signature over an already-materialized base-hash array:
    * h_i(x) = xxhash64(i, x) — hashing an 8-byte long is ~free compared
    * to re-hashing the shingle string, and stays inside ANSI-safe
    * integer ops (no wrapping multiply, which ANSI mode rejects).
    * `baseHashAttr` must be an attribute reference — it is folded k
    * times, and an inlined expression would re-evaluate k times per row.
    *
    * COMPOSABLE REFERENCE FORM (k interpreted HOF passes): hot paths use
    * the bit-identical native one-pass
    * [[graft.functions.MinHashSignatureExpr]] instead — see
    * SignatureExpressions for why (k× traversal + codegen-size cost).
    */
  def minHashFromBaseHashes(baseHashAttr: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(baseHashAttr, h => xxhash64(lit(i), h)))
    }: _*)

  /** Convenience staged form from a shingle-array attribute. */
  def minHashFromShingles(shinglesAttr: Column, k: Int): Column =
    minHashFromBaseHashes(shingleBaseHashes(shinglesAttr), k)

  /** (id, bh, mh) signature pipeline shared by [[minHashNearDup]] and
    * the persisted-index family ([[minHashWriteIndex]] /
    * [[minHashProbeIndex]]) — both sides of any probe must sign with
    * the IDENTICAL expressions or buckets silently never match.
    */
  private def mhSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleLen: Int,
      numHashes: Int): DataFrame =
    df.select(
        col(idCol).as("id"),
        TextFunctions.normalized(col(textCol)).as("__norm"))
      .select(
        col("id"),
        SignatureExpressions
          .shingleHashesFast(col("__norm"), shingleLen)
          .as("bh"))
      .select(
        col("id"),
        col("bh"),
        SignatureExpressions.minHashFast(col("bh"), numHashes).as("mh"))

  /** (id, bucket) banding of a signature frame — bucket = hash of the
    * band index and the band's signature slice (the band index inside
    * the hash keeps cross-band collisions apart without a band column).
    *
    * Zero-shingle docs (normalized text shorter than shingleLen) are
    * EXCLUDED from banding: their signature is all-null, `hash()` skips
    * nulls, so every such doc would land in the same bucket in every
    * band — one useless mega-bucket whose b² candidate pairs all
    * NaN-fail verification (their Jaccard is 0/0). They stay in `sig/`
    * (the ingest registry keeps them as corpus members); they simply
    * cannot near-dup by shingle definition — dedupe them with [[exact]].
    */
  /** The per-band bucket keys of a `mh` signature as ONE array column —
    * the un-exploded form [[mhBanded]] explodes, shared with the fused
    * ingest gather (which collects the array per doc instead of one
    * row per band).
    */
  private def mhBucketArray(bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      hash(lit(b), slice(col("mh"), b * rows + 1, rows)).as(s"b$b")
    }: _*)

  private def mhBanded(sig: DataFrame, bands: Int, rows: Int): DataFrame =
    sig
      .where(col("mh").getItem(0).isNotNull)
      .select(col("id"), explode(mhBucketArray(bands, rows)).as("bucket"))

  /** MinHash + LSH banding near-dup candidate pairs with exact-Jaccard
    * verification.
    *
    * @param numHashes  k minhash functions (signature length)
    * @param bands      LSH bands; rows-per-band = k/bands. Collision in
    *                   any band → candidate pair.
    * @param threshold  exact shingle-Jaccard cutoff for verified pairs
    * @param maxBucketSize skew guard: buckets larger than this are
    *                   dropped before pair expansion. A bucket of b docs
    *                   expands to b² candidate pairs *in one task* (the
    *                   bucket is one join key) — on boilerplate-heavy
    *                   corpora a single mega-bucket otherwise dominates
    *                   the whole job. Dropped buckets = "everything here
    *                   is near-identical boilerplate"; handle them with
    *                   [[exact]]-style digest dedup instead of pairwise.
    * @return (id_a, id_b, jaccard) with id_a < id_b, distinct pairs
    */
  def minHashNearDup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleLen: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketSize: Int = 256): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // staged projections: normalize once, shingle once, then hash the
    // materialized shingle array k times — each stage references the
    // previous stage's attribute, never re-evaluating it per element
    // The signature frame feeds five consumers (band self-join twice,
    // bucket-size counts, and both shingle join-backs); without
    // materialization the whole normalize→shingle→k-minhash pipeline
    // re-executes per consumer. Persisting signatures is what production
    // minhash pipelines do at any scale (they are the index).
    // Stage.materializeOnce: localCheckpoint on local masters (blocks
    // freed by the ContextCleaner when the frame is GC'd — a plain
    // persist is pinned in the CacheManager forever, and sequential
    // many-query runs accumulate dead signature caches), reliable
    // checkpoint on a cluster with a checkpoint dir (executor loss
    // would otherwise be unrecoverable past the truncated lineage).
    // The shingle *strings* never leave this pipeline: dedup verification
    // runs on the 64-bit base hashes (same Jaccard modulo ~2^-64 hash
    // collisions), which shuffle 3x smaller and compare as longs.
    SignatureExpressions.register(df.sparkSession)
    val sig = mhSignatures(df, textCol, idCol, shingleLen, numHashes)
      .transform(graft.ops.Stage.materializeOnce)
    mhPairsSigned(sig, bands, rows, threshold, maxBucketSize)
  }

  /** Banded pairs + exact-Jaccard verify over an ALREADY-SIGNED frame
    * (id, bh, mh) — shared by [[minHashNearDup]] and the single-signing
    * ingest path [[mhIngestSegmentFrames]].
    */
  private def mhPairsSigned(
      sig: DataFrame,
      bands: Int,
      rows: Int,
      threshold: Double,
      maxBucketSize: Int,
      lean: Boolean = false): DataFrame = {
    // band key = hash of the band's slice of the signature. The band join
    // carries ONLY (bucket, id) — shingle arrays would multiply the
    // shuffle by numHashes/bands; they are joined back just for the
    // surviving candidate pairs.
    val banded = mhBanded(sig, bands, rows)

    val cand = pairsFromBuckets(banded, maxBucketSize, lean)

    // verify candidates with exact Jaccard over shingle sets.
    // Two scale guards learned the hard way (skewed-bucket grind):
    //  1. size-ratio prefilter — J(A,B) <= min/max of the set sizes, so
    //     pairs whose sizes already bound Jaccard below the threshold are
    //     dropped BEFORE any set is built;
    //  2. |A∪B| = |A|+|B|-|A∩B| (arrays are distinct) — one hash set
    //     instead of two per pair.
    val shA0 = sig.select(col("id").as("id_a"), col("bh").as("sh_a"))
    val shB0 = sig.select(col("id").as("id_b"), col("bh").as("sh_b"))
    // lean: the sig frame is batch-bounded — broadcasting both sides
    // keeps the verify in the SAME stage as the pair explosion (no
    // id_a/id_b shuffles for AQE to coalesce down to one core)
    val shA = if (lean) broadcast(shA0) else shA0
    val shB = if (lean) broadcast(shB0) else shB0
    val nA = size(col("sh_a")).cast("double")
    val nB = size(col("sh_b")).cast("double")
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    cand
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b"))
      .where(least(nA, nB) / greatest(nA, nB) >= threshold)
      .select(
        col("id_a"),
        col("id_b"),
        (inter / (nA + nB - inter)).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Persist a MinHash index of the corpus — the INCREMENTAL near-dup
    * ingest path ([[graft.streaming.IngestDedup]] is the exact-hash
    * analog): today's crawl batch dedupes against the existing corpus
    * WITHOUT re-signing or rescanning it. Layout:
    *
    *  - `buckets/` — (bucket, id, bn): the banded table with each
    *    bucket's size precomputed at build time, so probes skip
    *    oversized buckets (the [[minHashNearDup]] `maxBucketSize`
    *    guard) as a column filter, not a counting pass. `bn` is
    *    per-index-segment: [[minHashAppendIndex]] writes its own
    *    batch's counts (a recompaction recomputes globals — honest
    *    append semantics, same trade as every LSM-ish index);
    *  - `sig/` — (id, bh, mh): base shingle hashes for exact-Jaccard
    *    verification, minhash signatures so appends can extend the
    *    banding;
    *  - `_meta` — (shingle_len, num_hashes, bands, source): probe-time
    *    validated; mismatched signing parameters are an ERROR, never
    *    silently-empty matches.
    */
  /** Sized-bucket table of a signature frame — the shared band+count
    * body of the whole index family (write/append/segment/rebucket):
    * one partial+final agg join, no windowing.
    */
  private def mhSizedBuckets(
      sig: DataFrame,
      bands: Int,
      rows: Int): DataFrame = {
    // count-over-window, not agg+join-back: one keyed exchange instead
    // of two (the bucket cardinality ~= rows×bands, so the join side
    // would reshuffle nearly the full banded table)
    val banded = mhBanded(sig, bands, rows)
    banded.withColumn(
      "bn",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
  }

  /** The `_meta` writer shared by [[minHashWriteIndex]] and
    * [[minHashEnsureMeta]] — one definition, or the layouts silently
    * diverge.
    */
  private def mhWriteMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      shingleLen: Int,
      numHashes: Int,
      bands: Int,
      sourceTag: String): Unit = {
    spark
      .range(1)
      .select(
        lit(shingleLen).as("shingle_len"),
        lit(numHashes).as("num_hashes"),
        lit(bands).as("bands"),
        lit(sourceTag).as("source"))
      .write
      .mode("overwrite")
      .parquet(s"$path/_meta")
    metaCache.put(s"mh:$path", (shingleLen, numHashes, bands, sourceTag))
  }

  def minHashWriteIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      shingleLen: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      sourceTag: String = ""): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    SignatureExpressions.register(df.sparkSession)
    val sig = mhSignatures(df, textCol, idCol, shingleLen, numHashes)
      .transform(graft.ops.Stage.materializeOnce)
    sig.write.mode("overwrite").parquet(s"$path/sig")
    mhSizedBuckets(sig, bands, numHashes / bands)
      .write
      .mode("overwrite")
      .parquet(s"$path/buckets")
    mhWriteMeta(
      df.sparkSession, path, shingleLen, numHashes, bands, sourceTag)
  }

  /** Driver-side memo of index signing parameters, keyed by index path.
    * `_meta` is write-once per index (ensureMeta validates, never
    * rewrites), so re-reading it per micro-batch charges every ingest
    * batch a parquet-footer read + a collect job — measured at ~0.3 s of
    * the ~1 s/batch fixed overhead in the streaming ingest hot loop
    * (and each batch read it TWICE: ensureMeta + the segment-frames
    * signing). Entries are invalidated when the index directory
    * disappears (ensureMeta re-checks existence) and by
    * [[clearMetaCache]] for tests that rebuild an index at a reused
    * path with different parameters.
    */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Int, String)]()

  /** Drop all memoized `_meta` entries (tests / external index rebuilds).
    * Clears every per-path memo TOGETHER — meta params, schemas, AND
    * base frames: a schema cache cleared alone would leave the delta
    * path a surviving frame entry with no schema to read its delta
    * against, and a rebuilt index whose unit names/sizes happened to
    * coincide could serve a stale snapshot.
    */
  def clearMetaCache(): Unit = {
    metaCache.clear()
    indexSchemaCache.clear()
    indexFrameCache.clear()
    unitFpMemo.clear()
    overCapCache.clear()
  }

  /** Memoized-schema parquet read for the probe hot loop: an index
    * table's schema is fixed by its layout, but a plain
    * `spark.read.parquet` re-infers it from footers on EVERY
    * micro-batch (two index tables per probe). The first read caches
    * the schema; later reads pass it explicitly and skip inference.
    * The `batch` partition column is pinned to STRING in the cached
    * schema — partition values are numeric (`batch=3`) before
    * compaction but `batch=c3` after, and a cached numeric type would
    * fail to parse post-compaction segment dirs.
    */
  private val indexSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

  private def readIndexParquet(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    Option(indexSchemaCache.get(path)) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        import org.apache.spark.sql.types.{StringType, StructType}
        val inferred = spark.read.parquet(path).schema
        val safe = StructType(inferred.map(f =>
          if (f.name == "batch") f.copy(dataType = StringType) else f))
        indexSchemaCache.put(path, safe)
        spark.read.schema(safe).parquet(path)
    }

  /** Versioned index-frame cache for the STREAMING probe paths: a
    * micro-batch ingest probes the whole persisted index every batch,
    * and re-listing + re-decoding an N-segment parquet tree per batch
    * makes probe cost O(corpus) each time. Instead: hold a PERSISTED
    * base frame of the segments seen at rebase time, and serve probes
    * as base ∪ delta-read of only the segments committed since — the
    * per-batch scan cost is then O(new segments), and a full re-read
    * happens only every `MaxDeltaSegments` commits (amortized
    * O(corpus / MaxDeltaSegments)) or when the tree is REWRITTEN
    * (compaction folds/tombstones → a base unit disappears →
    * fingerprint mismatch → rebase; correctness never depends on the
    * cache being warm).
    *
    * Versioning is structural, not hooked: each call fingerprints the
    * tree's first-level units (hive `batch=` dirs, or loose part-files
    * for flat trees) by name + file count + total length, so ANY
    * writer — marker-committed streaming segments, plain `mode
    * (append)` batch appends, compaction — is caught. Mixed
    * hive+loose layouts rebase unconditionally (delta reads need one
    * consistent partition-discovery shape).
    *
    * Only the lean (ingest) probes use this: a one-shot batch query
    * has no second probe to amortize the persist into.
    */
  /** @param chunks RAM-checkpointed union pieces: the rebase snapshot
    *               plus one folded chunk per [[MaxDeltaSegments]]
    *               extensions ([[extendIndexCache]]) — each an
    *               independent LocalCheckpointRDD, so folding NEW
    *               rows never re-materializes old ones
    * @param legs   lazy per-batch extensions since the last fold;
    *               bounded by [[MaxDeltaSegments]] so neither the
    *               plan nor the per-probe recompute grows without
    *               bound
    */
  private final case class IndexCacheEntry(
      units: Map[String, String],
      chunks: Seq[DataFrame],
      legs: Seq[DataFrame] = Nil) {
    // lazy val, not def: entries are immutable (replaced on update),
    // and the probe HOT LOOP reads base on every batch — a def would
    // re-pay the up-to-16-child union construction per probe
    lazy val base: DataFrame = (chunks ++ legs).reduceLeft(_.unionByName(_))
  }

  private val indexFrameCache =
    new java.util.concurrent.ConcurrentHashMap[String, IndexCacheEntry]()

  private val MaxDeltaSegments = 8

  /** Checkpointed chunks a cache entry may accumulate before the
    * whole entry re-flattens into one snapshot. The two-level fold
    * keeps steady-state cache maintenance O(batch): every
    * [[MaxDeltaSegments]] extensions fold ONLY the new legs (a few
    * thousand rows), and the O(corpus) full re-checkpoint happens
    * once per MaxDeltaSegments·MaxCacheChunks batches instead of once
    * per MaxDeltaSegments — at 100 TB the full flatten is the only
    * corpus-sized job in the cache path, so its frequency is the
    * scalability constant here.
    */
  private val MaxCacheChunks = 8

  /** Deep fingerprints memoized by the unit dir's own mtime: the
    * per-probe [[listUnits]] walks INTO every unit directory (one
    * listStatus per unit, so the walk grows with segment count —
    * measured as a visible slice of steady-state probe setup). Every
    * supported write path creates/renames/deletes entries inside the
    * unit dir (staged writes, markers, compaction tombstones), which
    * bumps the dir's mtime, so an unchanged (path, mtime) pair can
    * reuse the stored deep fingerprint; whenever mtime moved, the
    * deep listing stays the authority. Guard: an mtime within the
    * last few ms is never trusted (same-millisecond double-write
    * aliasing). Cleared with the other per-path memos
    * ([[clearMetaCache]]); wholesale-evicted past a size cap (bench
    * and test suites churn many short-lived index paths).
    */
  private val unitFpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  /** A dir mtime younger than this is never trusted for memo purposes —
    * neither for REUSE nor for STORE. The margin sits well above
    * worst-case local-filesystem mtime granularity (some local mounts
    * tick at 1–2 s), so two writes landing inside one timestamp tick
    * can neither serve nor poison the memo: a fingerprint computed
    * between two same-tick writes would otherwise be stored with that
    * mtime and served as "unchanged" at every later probe (the mtime
    * never moves again). The memo still pays off — its targets are
    * dirs untouched for many batches.
    */
  private val UnitFpFreshnessMs = 2000L

  /** Fingerprint of ONE first-level unit. Names + lengths + mtimes of
    * every (non-hidden) child, not just count+total-length: a same-size
    * in-place rewrite (compaction rewriting a segment, a test
    * rebuilding an index with equal bytes) must still read as a
    * different tree and force a rebase.
    */
  private def unitFingerprint(
      fs: org.apache.hadoop.fs.FileSystem,
      s: org.apache.hadoop.fs.FileStatus): String =
    if (!s.isDirectory) s"f:${s.getLen}:${s.getModificationTime}"
    else {
      val key = s.getPath.toString
      val dirMtime = s.getModificationTime
      val memo = unitFpMemo.get(key)
      // memo reuse is gated on a LOCAL filesystem: only there does a
      // directory's own mtime reliably move on child create/rename/
      // delete (every graft write path stages + renames new uuid
      // files, so in-place child overwrites never occur). An object
      // store's synthetic dir mtime (often constant) would make the
      // memo permanently "unchanged" and serve stale fingerprints —
      // there, every call deep-lists as before.
      if (memo != null && memo._1 == dirMtime &&
        dirMtime < System.currentTimeMillis() - UnitFpFreshnessMs &&
        "file".equalsIgnoreCase(s.getPath.toUri.getScheme)) memo._2
      else {
        val kids = fs.listStatus(s.getPath)
          .filterNot(k => k.getPath.getName.startsWith("_") ||
            k.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
        val kidFp = kids.iterator
          .map(k =>
            s"${k.getPath.getName}:${k.getLen}:${k.getModificationTime}")
          .mkString(",")
        val fp = s"d:${kids.length}:$kidFp"
        if (unitFpMemo.size > 8192) unitFpMemo.clear()
        // STORE is gated like reuse: a fingerprint computed while the
        // dir mtime is still inside the freshness window may race a
        // second same-tick write — memoizing it would serve a stale
        // "unchanged" frame at every later probe (mtime never moves
        // again). Skip the put; the next quiet-window call memoizes.
        if (dirMtime < System.currentTimeMillis() - UnitFpFreshnessMs)
          unitFpMemo.put(key, (dirMtime, fp))
        fp
      }
    }

  private def listUnits(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Map[String, String] =
    fs.listStatus(root)
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName -> unitFingerprint(fs, s))
      .toMap

  /** Driver-held skew-guard state of one buckets tree: the set of
    * bucket keys whose occupancy has exceeded `cap` in ANY written
    * granule (a segment's own count, or the corpus-global count of a
    * compacted fold). The lean (ingest) embedding probes filter
    * against this SET instead of the per-row `bn` column so the probe
    * can scan the `sig/` frame alone — banding is a pure function of
    * the persisted `sig` column, so re-deriving bucket keys in-plan
    * turns the probe's former two-frame join (buckets hits build +
    * sig verify: two jobs per micro-batch) into ONE scan with zero
    * build jobs. Granularity note: the per-row `bn` filter dropped an
    * over-cap bucket's rows only within the granule that exceeded the
    * cap; the set drops the bucket corpus-wide. The two rules agree
    * except when a bucket is over-cap in one segment and under in
    * another — an already-heavily-duplicated region where the guard's
    * recall sacrifice is deliberate. Both lean shapes (fused and
    * forced-distributed) use the set rule, so fused == unfused parity
    * holds structurally; QUERY-path probes (lean=false, one-shot)
    * keep the per-row `bn` filter and its exact granularity.
    *
    * Scale bound: |set| <= total bucket rows / cap by construction
    * (each member needed > cap rows somewhere), so the driver footprint
    * stays a vanishing fraction of the corpus at any scale.
    */
  private final case class OverCapEntry(
      cap: Int,
      units: Map[String, String],
      set: Set[Int])

  private val overCapCache =
    new java.util.concurrent.ConcurrentHashMap[String, OverCapEntry]()

  /** The over-cap bucket set of `bucketsPath` at `cap`, served from
    * [[overCapCache]] when the tree's unit fingerprints are unchanged
    * (zero jobs — the steady-state ingest loop, where
    * [[extendIndexCache]] rolls the entry forward at each publish) and
    * recomputed with ONE column-pruned aggregation over the buckets
    * tree otherwise (cold start, external writer, compaction, vacuum).
    */
  /** Wholesale-evict past a size cap (the [[unitFpMemo]] rationale:
    * bench and test suites churn many short-lived index paths in one
    * JVM, and a dead entry's unit-fingerprint map grows with segment
    * count). Callers hold no lock; the cache is a concurrent map.
    */
  private def overCapPut(path: String, e: OverCapEntry): Unit = {
    if (overCapCache.size > 1024) overCapCache.clear()
    overCapCache.put(path, e)
  }

  private def leanOverCapSet(
      spark: org.apache.spark.sql.SparkSession,
      bucketsPath: String,
      cap: Int): Set[Int] = {
    // deliberately NOT under the Dedup monitor: the recompute below is
    // a corpus-sized collect, and holding the global lock across it
    // would stall every other pipeline's readIndexCached/extend in
    // the JVM (multi-stream ingest serializing on one scan). A racing
    // writer only makes the stored listing stale, which the next
    // probe's fingerprint comparison detects — recompute, self-heal.
    val root = new org.apache.hadoop.fs.Path(bucketsPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) {
      // fresh index: seed an empty entry so the first publish's
      // extension (not a recompute) carries the state forward
      overCapPut(bucketsPath, OverCapEntry(cap, Map.empty, Set.empty))
      return Set.empty
    }
    val units = listUnits(fs, root)
    Option(overCapCache.get(bucketsPath)) match {
      case Some(e) if e.cap == cap && e.units == units => e.set
      case _ =>
        val set = readIndexParquet(spark, bucketsPath)
          .where(col("bn") > cap)
          .select("bucket")
          .distinct()
          .collect()
          .map(_.getInt(0))
          .toSet
        overCapPut(bucketsPath, OverCapEntry(cap, units, set))
        set
    }
  }

  /** Roll the versioned frame cache FORWARD after a caller commits a
    * new index segment whose rows came from `frame` (an already-RAM-
    * materialized survivors/buckets frame): the cached base becomes
    * base ∪ frame with the published unit's on-disk fingerprint, so
    * the next probe's delta is EMPTY and nothing is re-read from disk.
    * Without this, every micro-batch re-reads all segments committed
    * since the last rebase as per-batch parquet delta scans (up to
    * MaxDeltaSegments single-task FileScan stages per probe — measured
    * as one of the largest slices of steady-state ingest latency).
    *
    * The union is LAZY (no job); every MaxDeltaSegments extensions the
    * accumulated legs fold into ONE checkpointed chunk (a job over
    * just the new rows — O(batch), not O(corpus)), and only once per
    * MaxDeltaSegments·MaxCacheChunks extensions does the whole entry
    * re-flatten corpus-sized (round 15: the per-8-batches O(corpus)
    * re-checkpoint was the largest steady-state `extend` spike and
    * grew with the corpus). No-ops when
    * no cache entry exists (the next probe rebases from disk) or the
    * tree layout isn't the hive `batch=` shape. Correctness never
    * depends on this: a mismatching fingerprint at the next probe
    * (concurrent writer, compaction) forces a disk rebase as before.
    */
  private[graft] def extendIndexCache(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      unitName: String,
      frame: DataFrame): Unit = {
    if (!unitName.contains("=")) return
    // over-cap extension first and OUTSIDE the monitor: its unfused
    // branch runs a batch-sized collect, and the cap state has its own
    // CAS discipline — only the frame-cache mutation below needs the
    // Dedup lock
    extendOverCap(spark, path, unitName, frame)
    extendFrameCache(spark, path, unitName, frame)
  }

  private def extendFrameCache(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      unitName: String,
      frame: DataFrame): Unit = synchronized {
    val cur = Option(indexFrameCache.get(path))
    val schema = indexSchemaCache.get(path)
    if (cur.isEmpty) return
    if (schema == null) { indexFrameCache.remove(path); return }
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val unitPath = new org.apache.hadoop.fs.Path(root, unitName)
    if (!fs.exists(unitPath)) return
    val e = cur.get
    if (e.units.contains(unitName)) { indexFrameCache.remove(path); return }
    val fp = unitFingerprint(fs, fs.getFileStatus(unitPath))
    val partValue = unitName.substring(unitName.indexOf('=') + 1)
    // align to the cached read schema: add the hive partition column
    // (pinned STRING, matching readIndexParquet), order by name via
    // unionByName
    // re-root the extension child at a LogicalRDD: the hive partition
    // value is a per-batch LITERAL, and a literal-bearing union child
    // makes every pushed-down pipeline a NEW codegen source each batch
    // (measured: ~40 Janino compiles per steady-state batch). Behind
    // the RDD boundary all children are shape-identical leaves — the
    // codegen cache hits and the union plans as k opaque scans.
    // coalesce(4): the frame inherits the batch's 32-way partitioning,
    // and every probe over the union would otherwise schedule 32 near-
    // empty tasks PER CHILD — a segment frame is a few hundred rows.
    // Not 1 either: a single-partition child was the measured probe-
    // stage STRAGGLER (every other leg's task finishes in a third of
    // its wall), so a handful of slices keeps both the task count and
    // the critical path short.
    val aligned = graft.ops.Stage.materializeLazy(
      frame.withColumn(unitName.takeWhile(_ != '='), lit(partValue))
        .coalesce(4))
    val units2 = e.units + (unitName -> fp)
    val legs2 = e.legs :+ aligned
    if (legs2.size >= MaxDeltaSegments) {
      // fold ONLY the accumulated legs into one RAM chunk — a job
      // over the rows appended since the last fold (a few thousand
      // driver-local rows), NOT over the corpus; the prior chunks
      // keep their checkpointed RDDs untouched
      val folded = legs2
        .reduceLeft(_.unionByName(_))
        .coalesce(4)
        .localCheckpoint(true)
      val chunks2 = e.chunks :+ folded
      if (chunks2.size > MaxCacheChunks) {
        // the rare corpus-sized re-flatten: bounds probe-side union
        // fan-in (and task count) at MaxCacheChunks + MaxDeltaSegments
        val flat = chunks2
          .reduceLeft(_.unionByName(_))
          .repartition(math.min(spark.sparkContext.defaultParallelism, 8))
          .localCheckpoint(true)
        indexFrameCache.put(path, IndexCacheEntry(units2, Seq(flat)))
      } else {
        indexFrameCache.put(path, IndexCacheEntry(units2, chunks2))
      }
    } else {
      indexFrameCache.put(path, IndexCacheEntry(units2, e.chunks, legs2))
    }
  }

  /** Roll an [[overCapCache]] entry forward after a publish on its
    * buckets tree: fold the new segment's own over-cap buckets into
    * the set (driver rows when the frame is a fused local segment;
    * one batch-sized aggregation otherwise) and record the published
    * unit's fingerprint, so the next probe's [[leanOverCapSet]] is a
    * pure map hit. No-ops for paths no lean probe has touched; any
    * anomaly (replayed unit, missing dir) drops the entry and the
    * next probe recomputes from disk — correctness never depends on
    * the extension.
    */
  private def extendOverCap(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      unitName: String,
      frame: DataFrame): Unit = {
    val oce = overCapCache.get(path)
    if (oce == null) return
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val unitPath = new org.apache.hadoop.fs.Path(root, unitName)
    if (!fs.exists(unitPath) || oce.units.contains(unitName)) {
      overCapCache.remove(path)
      return
    }
    val fp = unitFingerprint(fs, fs.getFileStatus(unitPath))
    // outside any lock — the distributed branch is a collect (one
    // batch-sized job per unfused publish: it re-runs the segment's
    // banding+window aggregation, accepted as amortized against the
    // fallback's already-distributed pipeline; the fused branch is
    // pure driver rows)
    val extra: Set[Int] = localSegmentRows(frame) match {
      case Some((rows, schema)) =>
        val bIdx = schema.fieldIndex("bucket")
        val nIdx = schema.fieldIndex("bn")
        rows.iterator
          .filter(r => !r.isNullAt(nIdx) && r.getLong(nIdx) > oce.cap)
          .map(_.getInt(bIdx))
          .toSet
      case None =>
        frame
          .where(col("bn") > oce.cap)
          .select("bucket")
          .distinct()
          .collect()
          .map(_.getInt(0))
          .toSet
    }
    // CAS publish-or-drop: if the entry moved while we computed
    // (another stream's probe recomputed, a concurrent publish
    // extended), a blind put could resurrect a stale base — drop
    // instead and let the next probe's fingerprint comparison
    // recompute
    val updated =
      OverCapEntry(oce.cap, oce.units + (unitName -> fp), oce.set ++ extra)
    if (!overCapCache.replace(path, oce, updated))
      overCapCache.remove(path)
  }

  private def readIndexCached(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = synchronized {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val units = listUnits(fs, root)
    val dirUnits = units.keysIterator.count(_.contains("="))
    val mixed = dirUnits > 0 && dirUnits < units.size
    val cur = Option(indexFrameCache.get(path))
    // A missing schema memo (cleared independently, or a frame entry
    // that outlived a partial cache clear) means the delta read has
    // nothing sound to parse against — treat it as a rebase trigger,
    // never dereference a null schema.
    val reusable = !mixed && indexSchemaCache.containsKey(path) &&
      cur.exists { e =>
        e.units.forall { case (u, fp) => units.get(u).contains(fp) } &&
          (units.size - e.units.size) <= MaxDeltaSegments
      }
    if (reusable) {
      val e = cur.get
      val delta = units.keySet -- e.units.keySet
      if (delta.isEmpty) e.base
      else {
        val schema = indexSchemaCache.get(path)
        e.base.unionByName(
          spark.read
            .schema(schema)
            .option("basePath", path)
            .parquet(delta.toSeq.sorted.map(u => s"$path/$u"): _*))
      }
    } else {
      // localCheckpoint, NOT persist: a persisted parquet-read plan
      // registers in the shared CacheManager, which then SUBSTITUTES
      // the stale snapshot into ANY other query over the same path
      // (compaction's fold, ingestedIds, batch probes) — silent data
      // loss the moment the tree grows. A localCheckpoint is an
      // RDD-backed LogicalRDD: invisible to plan matching, an
      // explicit snapshot only this cache serves. The eager job is
      // the amortized rebase cost; superseded snapshots are released
      // by the ContextCleaner once dereferenced (bounded by one
      // rebase every MaxDeltaSegments commits).
      // repartition BEFORE snapshotting: a small index tree reads as
      // 1-2 parquet splits, and every per-batch probe verify inherits
      // that (non-)parallelism. Paying one exchange per REBASE spreads
      // the snapshot across the executors once; every probe until the
      // next rebase then verifies in parallel from block-manager-local
      // partitions.
      val base = readIndexParquet(spark, path)
        .repartition(math.min(spark.sparkContext.defaultParallelism, 8))
        .localCheckpoint(true)
      // Re-list AFTER the snapshot job: a writer committing a unit
      // between the pre-listing and the read would leave the snapshot
      // holding a segment absent from the stored listing, and the next
      // probe would union that segment TWICE. If the tree moved while
      // we read, the stored listing (and hence any delta math) is
      // unsound — don't cache; serve this probe from the snapshot and
      // let the next call rebase against a quiet tree.
      val post = listUnits(fs, root)
      if (post == units)
        indexFrameCache.put(path, IndexCacheEntry(units, Seq(base)))
      else indexFrameCache.remove(path)
      base
    }
  }

  private def mhMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      sourceTag: String): (Int, Int, Int) = {
    val key = s"mh:$indexPath"
    val (sl, nh, b, src) = Option(metaCache.get(key)).getOrElse {
      val m = spark.read.parquet(s"$indexPath/_meta").collect()(0)
      val t = (
        m.getAs[Int]("shingle_len"),
        m.getAs[Int]("num_hashes"),
        m.getAs[Int]("bands"),
        m.getAs[String]("source"))
      metaCache.put(key, t)
      t
    }
    require(
      sourceTag.isEmpty || src == sourceTag,
      s"minhash index at $indexPath was built from " +
        s"'$src', not '$sourceTag' — refusing to " +
        "probe/append a different corpus")
    (sl, nh, b)
  }

  /** Validate-or-create the index `_meta` — the bootstrap step of the
    * streaming ingest loop ([[graft.streaming.NearDupIngest]]): the
    * first batch writes the signing parameters, every later batch must
    * present the SAME ones (a parameter drift would make old and new
    * signatures incomparable — silently, which is why it's an error).
    */
  def minHashEnsureMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      shingleLen: Int,
      numHashes: Int,
      bands: Int,
      sourceTag: String = ""): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexPath/_meta")
    val fs =
      metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(metaPath)) {
      var (sl, nh, b) = mhMeta(spark, indexPath, sourceTag)
      if (sl != shingleLen || nh != numHashes || b != bands) {
        // apparent mismatch could be a STALE memo (index rebuilt at the
        // same path outside ensureMeta) — re-read disk once before failing
        metaCache.remove(s"mh:$indexPath")
        val fresh = mhMeta(spark, indexPath, sourceTag)
        sl = fresh._1; nh = fresh._2; b = fresh._3
      }
      require(
        sl == shingleLen && nh == numHashes && b == bands,
        s"minhash index at $indexPath was built with " +
          s"(shingleLen=$sl, numHashes=$nh, bands=$b); refusing " +
          s"($shingleLen, $numHashes, $bands) — signatures would be " +
          "incomparable")
    } else {
      // dir missing on disk: any memoized entry is from a deleted/rebuilt
      // index at the same path — drop it; mhWriteMeta repopulates
      metaCache.remove(s"mh:$indexPath")
      mhWriteMeta(spark, indexPath, shingleLen, numHashes, bands, sourceTag)
    }
  }

  /** Sign `df` with the index's OWN parameters and return its
    * (signatures, sized buckets) segment frames — the building block
    * [[graft.streaming.NearDupIngest]] stages and commits per batch.
    */
  def minHashSegmentFrames(
      df: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      sourceTag: String = ""): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    SignatureExpressions.register(spark)
    val (shingleLen, numHashes, bands) = mhMeta(spark, indexPath, sourceTag)
    val sig = mhSignatures(df, textCol, idCol, shingleLen, numHashes)
      .transform(graft.ops.Stage.materializeOnce)
    (sig, mhSizedBuckets(sig, bands, numHashes / bands))
  }

  /** Recompute sized buckets from STORED signatures (id, mh) — no text
    * and no re-shingling needed, which is what makes index compaction
    * a metadata-sized job: banding is a pure function of the persisted
    * `mh` column and the index's own band count.
    */
  def minHashRebucket(
      sig: DataFrame,
      indexPath: String,
      sourceTag: String = ""): DataFrame = {
    val (_, numHashes, bands) = mhMeta(sig.sparkSession, indexPath, sourceTag)
    mhSizedBuckets(sig, bands, numHashes / bands)
  }

  /** Probe a persisted [[minHashWriteIndex]] with a NEW batch: sign the
    * batch with the index's own parameters, band-join against the
    * persisted buckets, verify candidates with exact Jaccard. The cost
    * shape is what makes this the 100-TB ingest path: the batch side
    * (small) is BROADCAST into both the bucket match and the
    * verification, so the index is only ever SCANNED — column-pruned
    * (bucket, id, bn) for candidates, (id, bh) for verification — and
    * never shuffled; candidate volume is bounded by batch size ×
    * bucket caps.
    *
    * @return (probe_id, corpus_id, jaccard) — one row per verified
    *         near-dup of a batch doc against the indexed corpus
    */
  def minHashProbeIndex(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      threshold: Double = 0.5,
      maxBucketSize: Int = 256,
      sourceTag: String = ""): DataFrame = {
    val spark = batch.sparkSession
    SignatureExpressions.register(spark)
    val (shingleLen, numHashes, bands) = mhMeta(spark, indexPath, sourceTag)
    val bSig = mhSignatures(batch, textCol, idCol, shingleLen, numHashes)
      .transform(graft.ops.Stage.materializeOnce)
    mhProbeSigned(
      bSig, indexPath, bands, numHashes / bands, threshold, maxBucketSize)
  }

  /** The probe over an ALREADY-SIGNED batch frame (id, bh, mh) — the
    * scan/broadcast shape of [[minHashProbeIndex]], shared with the
    * single-signing ingest path.
    */
  private def mhProbeSigned(
      bSig: DataFrame,
      indexPath: String,
      bands: Int,
      rows: Int,
      threshold: Double,
      maxBucketSize: Int,
      lean: Boolean = false): DataFrame = {
    val spark = bSig.sparkSession
    val bBanded = mhBanded(bSig, bands, rows)
      .select(col("bucket"), col("id").as("probe_id"))
    // lean (ingest) skips the candidate dedup shuffle: the consumer
    // reduces to a distinct probe_id set anyway, and double-verifying
    // the few cross-band collisions is cheaper than an exchange.
    // lean also reads the index through the versioned frame cache —
    // a per-micro-batch probe amortizes the persisted base, a one-shot
    // batch query does not ([[readIndexCached]]).
    val readIdx: String => DataFrame =
      if (lean) readIndexCached(spark, _) else readIndexParquet(spark, _)
    val cand0 = readIdx(s"$indexPath/buckets")
      .where(col("bn") <= maxBucketSize)
      .join(broadcast(bBanded), Seq("bucket"))
      .select(col("probe_id"), col("id").as("corpus_id"))
    // candidate dedup is NOT optional at probe scale: a pair colliding
    // in k of the bands is otherwise verified k times, and the verify
    // (array_intersect over shingle sets) is the probe's CPU budget
    // (measured: ~20 task-seconds per micro-batch without the dedup).
    // lean pins the dedup's exchange explicitly — repartition on the
    // pair key at a small user-specified count, then an in-partition
    // dropDuplicates that REUSES that partitioning (one shuffle of
    // bare key pairs total, AQE-coalescing-exempt, verify inherits
    // the parallelism).
    val pLean =
      math.min(spark.sparkContext.defaultParallelism, 16)
    val cand =
      if (lean)
        cand0
          .repartition(pLean, col("probe_id"), col("corpus_id"))
          .dropDuplicates("probe_id", "corpus_id")
      else cand0.distinct()
    // broadcast shape matters more than row count here: joining the
    // probe SIGNATURES onto the candidates BEFORE the broadcast would
    // duplicate each probe doc's shingle array per candidate — a
    // multi-MB broadcast whose per-task hash build was the probe's
    // real cost (measured ~0.7 s/task across every core). Broadcast
    // the bare id-pair list and the batch-sized signature frame
    // SEPARATELY; each is small, and the corpus scan joins both
    // map-side.
    val nP = size(col("sh_p")).cast("double")
    val nC = size(col("sh_c")).cast("double")
    val inter = size(array_intersect(col("sh_p"), col("sh_c"))).cast("double")
    readIdx(s"$indexPath/sig")
      .select(col("id").as("corpus_id"), col("bh").as("sh_c"))
      .join(broadcast(cand), Seq("corpus_id"))
      .join(
        broadcast(bSig.select(col("id").as("probe_id"), col("bh").as("sh_p"))),
        Seq("probe_id"))
      .where(least(nP, nC) / greatest(nP, nC) >= threshold)
      .select(
        col("probe_id"),
        col("corpus_id"),
        (inter / (nP + nC - inter)).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Max rows the fused ingest's single candidate collect may carry
    * before falling back to the unfused (distributed-components)
    * shape — verified pairs + probe flags, NOT batch rows; ~3 MB of
    * id pairs on the driver at the cap.
    */
  private val FusedIngestCap = 200000

  /** Driver-byte budget for the fused gather when Spark's own guard is
    * disabled (`spark.driver.maxResultSize=0`, a common production
    * setting) — the pre-bound aggregate below enforces it BEFORE the
    * collect, since with the guard off nothing else bounds a batch of
    * wide signature arrays / embedding vectors.
    */
  private val FusedIngestMaxBytes = 256L * 1024 * 1024

  /** A conservative per-row byte-size expression over a frame's
    * columns, for the pre-bound aggregate: element-width × length for
    * numeric array payloads, summed octet lengths for string arrays,
    * JSON octet length for nested arrays/structs/maps, octet length
    * for strings, a fixed 16 for scalars. Over-estimation is fine — it
    * only makes the fallback trigger earlier; UNDER-estimation is the
    * failure mode this guards against (a 256 MB budget admitting a
    * multi-GB gather when `spark.driver.maxResultSize=0`).
    */
  private def approxRowBytes(
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    schema.fields
      .map { f =>
        f.dataType match {
          case ArrayType(StringType, _) =>
            // element count × 4 would badly UNDER-estimate string
            // payloads (defeating the budget) — sum the actual octet
            // lengths plus a small per-element overhead
            coalesce(
              aggregate(
                col(f.name),
                lit(0L),
                (acc, s) => acc + coalesce(octet_length(s).cast("long"), lit(0L)) + 16L),
              lit(0L))
          case ArrayType(_: ArrayType, _) | ArrayType(_: StructType, _) |
              ArrayType(_: MapType, _) =>
            // nested payloads have no cheap exact size — charge the
            // serialized JSON octet length, which upper-bounds the
            // numeric content and scales with the real payload (vs the
            // old flat size·4, which read ONE element per nested array)
            coalesce(octet_length(to_json(col(f.name))).cast("long"), lit(0L))
          case ArrayType(et, _) =>
            val w = et match {
              case LongType | DoubleType => 8
              case _ => 4
            }
            coalesce(size(col(f.name)).cast("long") * w, lit(0L))
          case StringType => coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
          case _ => lit(16L)
        }
      }
      .reduce(_ + _)
  }

  /** One gather collect with a graceful out-of-budget fallback: the
    * payload rows carry whole signature arrays/vectors, so the ROW cap
    * alone no longer bounds driver bytes. Rather than pre-counting the
    * batch (an extra action in the loop this path exists to shrink),
    * an over-budget collect is caught at Spark's own driver guard
    * (`spark.driver.maxResultSize`) and surfaces as None — the caller
    * falls back to the distributed shape, which is also the 100-TB
    * path. Only the result-size error is swallowed (matched on the
    * SparkThrowable condition, with the message substring as a
    * cross-version backstop); anything else (a corrupt input, a
    * codegen bug) rethrows, because the unfused path would just hit it
    * again. When the deployment DISABLES the driver guard
    * (`maxResultSize=0`), there is no backstop to catch, so the gather
    * is pre-bounded with one cheap aggregate (row count capped at the
    * fused cap + an [[approxRowBytes]] total against
    * [[FusedIngestMaxBytes]]) before any collect — one extra action,
    * paid only under that configuration.
    */
  /** Test/bench hook: when the JVM property is set, every fused gather
    * reports over-budget, forcing the DISTRIBUTED ingest shape — the
    * 100-TB path — so the throughput suite can measure it and the
    * specs can assert fused/unfused equivalence without crafting a
    * 200k-row batch. Checked before any job runs; production never
    * sets it.
    */
  private[graft] val ForceUnfusedProp = "graft.ingest.forceUnfused"

  private def gatherCapped(
      gathered: DataFrame): Option[Array[org.apache.spark.sql.Row]] = {
    if (sys.props.contains(ForceUnfusedProp)) return None
    val guardBytes = gathered.sparkSession.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (guardBytes <= 0L) {
      val bound = gathered
        .select(approxRowBytes(gathered.schema).as("__b"))
        .agg(count(lit(1)).as("__n"), sum(col("__b")).as("__bytes"))
        .collect()(0)
      if (bound.getLong(0) > FusedIngestCap ||
        (!bound.isNullAt(1) && bound.getLong(1) > FusedIngestMaxBytes))
        return None
    }
    try {
      val rows = gathered.collect()
      if (rows.length > FusedIngestCap) None else Some(rows)
    } catch {
      case e: org.apache.spark.SparkException if isResultSizeError(e) => None
    }
  }

  private def isResultSizeError(e: org.apache.spark.SparkException): Boolean =
    Option(e.getCondition).exists(_.contains("RESULT_SIZE")) ||
      Option(e.getMessage).exists(_.contains("maxResultSize"))

  /** True iff two payload rows (t == 0) of a fused gather share an id —
    * the duplicate-id guard of [[mhIngestSegmentFrames]] /
    * [[embIngestSegmentFrames]], whose driver signature maps are
    * put-overwrite keyed by id.
    */
  private def hasDuplicatePayloadIds(
      rows: Array[org.apache.spark.sql.Row]): Boolean = {
    val seen = new java.util.HashSet[Any]()
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.getInt(0) == 0 && !seen.add(r.get(1))) return true
      i += 1
    }
    false
  }

  /** Spark's ordering for an id value as collected to the driver:
    * numeric for integral ids, UTF-8 BYTE order for strings (what
    * `min("component")` computes distributed — Java String ordering
    * diverges on supplementary code points). Callers gate on
    * [[fusableIdType]], so no other shapes reach this.
    */
  private def idLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) =>
      x.longValue < y.longValue
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(xb.length, yb.length)
      var i = 0
      while (i < n) {
        val c = (xb(i) & 0xff) - (yb(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      xb.length < yb.length
    case _ =>
      throw new IllegalStateException(
        s"fused ingest id ordering on unexpected types: $a / $b")
  }

  private def fusableIdType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType | StringType => true
      case _ => false
    }
  }

  /** The union-find itself, over in-memory edges + flags (shared with
    * the sig64 fused path, whose pairs never leave the driver).
    */
  private def resolveDrop(
      pairs: Iterable[(Any, Any)],
      flagged: Iterable[Any]): Seq[Any] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(v: Any): Any = {
      var r = v
      while (parent.get(r) != r) r = parent.get(r)
      var c = v
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (idLess(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val drop = scala.collection.mutable.LinkedHashSet.empty[Any]
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val v = it.next()
      if (find(v) != v) drop += v
    }
    drop ++= flagged
    drop.toSeq
  }

  /** SINGLE-SIGNING micro-batch ingest — [[embIngestSegmentFrames]]'s
    * shape for the MinHash path, the hot loop of
    * [[graft.streaming.NearDupIngest]]: sign the batch once (ONE eager
    * materialization — the raw batch is re-rooted LAZILY,
    * [[graft.ops.Stage.materializeLazy]], so signing fuses with the batch
    * read while downstream codegen stays batch-invariant), verify the
    * corpus probe IN-PLAN and gather banding + the signature payload +
    * the verified corpus flags in ONE collect, then run the quadratic
    * intra-batch pair verify and union-find drop resolution entirely
    * on the DRIVER (the [[sig64IngestSegmentFrames]] template), and
    * return the survivors' (signatures, sized buckets) segment frames
    * ready to commit. The original shape paid ~25 driver actions per
    * micro-batch (two checkpoints, a components collect, three
    * broadcast rounds, a probe distinct); a first fusion paid ~8 but
    * ran a SECOND collect whose intra piece joined every candidate
    * pair to two batch-sized broadcast payloads — pair count grows
    * quadratically inside near-dup buckets and a 1.33x batch-size
    * increase measured a 5x verify-job blowup. This shape pays ~3
    * (gather + two parallel segment writes). Non-integral/non-string
    * id types or an over-cap gather fall back to
    * [[mhIngestSegmentFramesUnfused]] — the distributed shape is
    * unchanged and remains the 100-TB path.
    */
  def mhIngestSegmentFrames(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      threshold: Double,
      maxBucketSize: Int = 256,
      probeCorpus: Boolean = true,
      sourceTag: String = ""): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    SignatureExpressions.register(spark)
    val (shingleLen, numHashes, bands) = mhMeta(spark, indexPath, sourceTag)
    val rows = numHashes / bands
    val idType = batch.schema
      .find(_.name.equalsIgnoreCase(idCol))
      .map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"column $idCol not found in batch"))
    if (!fusableIdType(idType))
      return mhIngestSegmentFramesUnfused(
        batch, textCol, idCol, indexPath, threshold, maxBucketSize,
        probeCorpus, sourceTag)
    // Spread the batch BEFORE signing: a micro-batch often arrives as
    // 1-2 source splits (one cached table split, a small stream
    // segment), and signing + the survivor anti-join + both segment
    // writes all inherit that (non-)parallelism — measured: 0.8 s of a
    // steady-state batch was ONE task computing every signature, and
    // another 0.5 s one task parquet-encoding every bh array. One
    // small exchange of the raw rows parallelizes all of it; skipped
    // when the source is already spread.
    val stable = graft.ops.Stage.materializeLazy(
      spreadLean(batch.select(col(idCol), col(textCol))))
    // no checkpoint: the gather collect is the signing pipeline's ONLY
    // consumer now — the batch signs inside the gather's own job, and
    // the corpus probe's batch side is rebuilt from the collected rows
    // as LOCAL tables (the embIngestSegmentFrames two-job shape)
    val sig0 = mhSignatures(stable, textCol, idCol, shingleLen, numHashes)
    val bhType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
    // ONE action gathers ONE row per batch doc (signature payload +
    // the un-exploded bucket-key array) — fusedCandidates rationale:
    // plain collect, not CollectLimit's incremental waves. An earlier
    // shape exploded the banding (bands rows/doc) into its own union
    // leg — 9x the collected rows and a visibly larger per-batch
    // optimizer tree for data the driver can just unpack from an
    // array; a later one unioned the verified corpus flags in as a
    // second leg, which made every batch pay a checkpoint
    // materialization job plus one plan-side broadcast-build job per
    // batch leg (the per-trigger fixed cost the r12 verdict flagged).
    val gathered = sig0.select(
      lit(0).as("t"),
      col("id").as("x"),
      col("bh").as("p"),
      col("mh").as("m"),
      // zero-shingle docs are excluded from banding (all-null mh —
      // the mhBanded contract): null bucket array, payload row kept
      when(col("mh").getItem(0).isNotNull, mhBucketArray(bands, rows))
        .as("bks"))
    val rows0 = gatherCapped(gathered) match {
      case Some(rs) => rs
      case None =>
        return mhIngestSegmentFramesUnfused(
          batch, textCol, idCol, indexPath, threshold, maxBucketSize,
          probeCorpus, sourceTag)
    }
    // duplicate ids within one batch: bhMap below is keyed by id with
    // put-overwrite, so the fused verify would test every pair against
    // the LAST duplicate's signature, whereas the distributed path's
    // broadcast join verifies each duplicate's own signature (an edge
    // exists if ANY combination passes) — fused and unfused results
    // could diverge. A well-formed batch has unique ids, so this is a
    // rare-path guard: detect during the gather scan and take the
    // distributed shape, which handles duplicates by construction.
    if (hasDuplicatePayloadIds(rows0))
      return mhIngestSegmentFramesUnfused(
        batch, textCol, idCol, indexPath, threshold, maxBucketSize,
        probeCorpus, sourceTag)
    val bucketsMap =
      new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Any]]()
    val bhMap = new java.util.HashMap[Any, Array[Long]]()
    // (id, [id, bh, mh] row values, bucket keys) in collect order — a
    // LIST, not a map, so duplicate ids write through like the cluster
    // path (the embIngestSegmentFrames convention)
    val payload = scala.collection.mutable
      .ArrayBuffer.empty[(Any, Seq[Any], scala.collection.Seq[Int])]
    rows0.foreach { r =>
      if (r.getInt(0) == 0) {
        val id = r.get(1)
        // a null-text row has a null signature: no payload, no banding
        // — it stays a survivor unless the corpus probe flags it
        val bhSeq = r.getAs[scala.collection.Seq[Long]](2)
        if (bhSeq != null) bhMap.put(id, bhSeq.toArray)
        val bks = r.getAs[scala.collection.Seq[Int]](4)
        payload += ((id, Seq(id, bhSeq, r.get(3)), bks))
        if (bks != null) bks.foreach { bk =>
          val b = bk.toLong
          var arr = bucketsMap.get(b)
          if (arr == null) {
            arr = scala.collection.mutable.ArrayBuffer.empty[Any]
            bucketsMap.put(b, arr)
          }
          arr += id
        }
      }
    }
    // Corpus probe verified IN-PLAN (the sig64 template): candidate
    // (probe, corpus) hits from the RAM bucket-index join, exact
    // Jaccard against the corpus signatures from the RAM sig index in
    // the SAME action — only already-verified probe flags reach the
    // driver. The intra-batch quadratic pair verify stays on the
    // DRIVER (a plan-side pair verify measured a 5x blowup on a 1.33x
    // batch-size increase — pairs x two bh arrays of row width). The
    // batch side rides in as LOCAL single-slice tables built from the
    // rows already collected: broadcasting a LocalTableScan costs one
    // trivial task instead of a distributed scan job, and the signing
    // pipeline needs no checkpoint because nothing re-reads it. A row
    // can only be hit if it was banded, so rows without signatures
    // stay out of both locals by construction (same result, smaller
    // broadcast).
    val flagged = scala.collection.mutable.LinkedHashSet.empty[Any]
    if (probeCorpus && payload.nonEmpty) {
      import org.apache.spark.sql.types.{ArrayType, IntegerType}
      // batch side as DRIVER-BUILT hash-table lookups
      // ([[graft.functions.LocalLookup]] — the embIngestSegmentFrames
      // rationale): each former broadcast LocalTableScan cost one
      // single-task build job per batch; the lookups keep the hash
      // join's O(1) probe with no build job, so the probe pays two
      // jobs (hits broadcast build + verify collect) instead of four.
      val bandedBuf = scala.collection.mutable.LinkedHashMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[Any]]
      val payBuf = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
      payload.foreach { case (id, vals, bks) =>
        if (vals(1) != null) payBuf += ((id, vals(1)))
        if (bks != null) bks.foreach { bk =>
          bandedBuf.getOrElseUpdate(
            bk, scala.collection.mutable.ArrayBuffer.empty[Any]) += id
        }
      }
      // .distinct() on the candidate hits: a (probe, corpus) pair
      // colliding in k bands would otherwise be Jaccard-verified k
      // times (up to bands x waste — the exact dup the old driver-
      // side candidate set removed with a LinkedHashSet). One tiny
      // aggregation inside the broadcast build pays for itself many
      // times over in the verify scan.
      val hits = readIndexCached(spark, s"$indexPath/buckets")
        .where(col("bn") <= maxBucketSize)
        .select(
          explode(
            graft.functions.LocalLookup(
              col("bucket"), IntegerType, ArrayType(idType),
              bandedBuf.iterator.map { case (bk, ids) => (bk, ids.toSeq) }))
            .as("probe_id"),
          col("id").as("corpus_id"))
        .distinct()
      // The verify math sits ABOVE a nondeterministic barrier
      // projection: written as plain `.where`s on the join output,
      // PushPredicateThroughJoin folds both into the join CONDITION,
      // where `array_intersect` appears twice and is evaluated twice
      // per candidate pair (no subexpression elimination in join
      // conditions — measured as the dominant per-corpus-row CPU of
      // the gather stage). Being nondeterministic, the
      // monotonically_increasing_id column pins the projection below
      // the filters, so the intersect is computed exactly once per
      // pair; the first filter also REFERENCES it (`__barrier >= 0`,
      // vacuously true for a nonneg id) so column pruning can never
      // decide the column is unused and drop it — which would make
      // the projection deterministic again and silently re-enable
      // the double-eval. Same comparisons, same doubles — only the
      // evaluation count changes.
      val shA =
        graft.functions.LocalLookup(col("probe_id"), idType, bhType, payBuf)
      val paired = readIndexCached(spark, s"$indexPath/sig")
        .select(col("id").as("corpus_id"), col("bh").as("sh_b"))
        .join(broadcast(hits), Seq("corpus_id"))
        .withColumn("sh_a", shA)
        .select(
          col("probe_id"),
          size(col("sh_a")).cast("double").as("na"),
          size(col("sh_b")).cast("double").as("nb"),
          size(array_intersect(col("sh_a"), col("sh_b")))
            .cast("double").as("inter"),
          monotonically_increasing_id().as("__barrier"))
      paired
        .where(col("__barrier") >= 0 &&
          least(col("na"), col("nb")) /
          greatest(col("na"), col("nb")) >= threshold)
        .where(col("inter") /
          (col("na") + col("nb") - col("inter")) >= threshold)
        .select(col("probe_id"))
        .collect()
        .foreach(r => flagged += r.get(0))
    }
    // sorted copies make per-pair intersection a linear merge; bh is
    // DISTINCT by construction (ShingleHashesExpr), so the merge count
    // is exactly what size(array_intersect(...)) computes
    val sortedBh = new java.util.HashMap[Any, Array[Long]]()
    def sorted(id: Any): Array[Long] = {
      var s = sortedBh.get(id)
      if (s == null) {
        s = bhMap.get(id).clone()
        java.util.Arrays.sort(s)
        sortedBh.put(id, s)
      }
      s
    }
    // same double math as the in-plan form: size-ratio prefilter, then
    // exact Jaccard, both compared with >= against the same threshold
    def jaccardOk(a: Any, b: Any): Boolean = {
      val xRaw = bhMap.get(a)
      val yRaw = bhMap.get(b)
      if (xRaw == null || yRaw == null) return false
      val na = xRaw.length.toDouble
      val nb = yRaw.length.toDouble
      if (!(math.min(na, nb) / math.max(na, nb) >= threshold)) return false
      val x = sorted(a)
      val y = sorted(b)
      var i = 0
      var j = 0
      var common = 0
      while (i < x.length && j < y.length) {
        if (x(i) == y(j)) { common += 1; i += 1; j += 1 }
        else if (x(i) < y(j)) i += 1
        else j += 1
      }
      common.toDouble / (na + nb - common) >= threshold
    }
    val seen = scala.collection.mutable.HashSet.empty[(Any, Any)]
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
    bucketsMap.values.forEach { members =>
      // the distributed contract: buckets over maxBucketSize are
      // skew-guard DROPPED, pairs expand i<j over the id-sorted list
      if (members.length >= 2 && members.length <= maxBucketSize) {
        val ids = members.distinct.sortWith(idLess)
        var i = 0
        while (i < ids.length) {
          var j = i + 1
          while (j < ids.length) {
            val p = (ids(i), ids(j))
            if (seen.add(p) && jaccardOk(p._1, p._2)) edges += p
            j += 1
          }
          i += 1
        }
      }
    }
    val drop = resolveDrop(edges, flagged).toSet
    driverSegmentFrames(
      spark,
      sig0.schema,
      idType,
      payload.filterNot(t => drop.contains(t._1)).toSeq)
  }

  /** Repartition a small frame to the lean parallelism pin unless the
    * source is already at least that spread — a micro-batch arriving
    * as 1-2 splits would otherwise run its whole pipeline on 1-2
    * tasks, while an already-parallel source skips the exchange.
    */
  private def spreadLean(df: DataFrame): DataFrame = {
    val pLean =
      math.min(df.sparkSession.sparkContext.defaultParallelism, 8)
    if (df.rdd.getNumPartitions >= pLean) df else df.repartition(pLean)
  }

  /** The distributed (unfused) ingest shape — [[mhIngestSegmentFrames]]
    * falls back here for exotic id types or a pair graph past
    * [[FusedIngestCap]]; every step is exchange-bounded and none
    * collects data-sized frames, so this is the shape a 1000-executor
    * ingest of a huge batch runs.
    */
  private def mhIngestSegmentFramesUnfused(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      threshold: Double,
      maxBucketSize: Int,
      probeCorpus: Boolean,
      sourceTag: String): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    SignatureExpressions.register(spark)
    val (shingleLen, numHashes, bands) = mhMeta(spark, indexPath, sourceTag)
    val rows = numHashes / bands
    // cut the INCOMING batch's lineage before anything else: the
    // caller's plan typically embeds per-batch literals (an offset
    // range, a modulo filter, a timestamp bound), and any codegen
    // stage fused with a changing literal produces a NEW generated
    // source every batch — measured ~20 Janino compiles (≈0.5 s each,
    // serialized behind the compile KeyLock) per steady-state
    // micro-batch. Re-rooting at a LogicalRDD makes every downstream
    // stage's source identical batch over batch, so the codegen cache
    // actually caches.
    // spread BEFORE the checkpoint (the fused path's win, round 14):
    // a micro-batch arrives as 1-2 source splits, and without the
    // spread the signing, every broadcast-build collect of the sig
    // frame, the survivor checkpoint, and both segment writes all run
    // 1-2 tasks wide (measured: the single-task block scans were the
    // largest fixed cost of the fallback batch). materializeLazy, not an
    // eager checkpoint: sig0's materialization is the only consumer,
    // so the spread batch computes inside sig0's own job — one fewer
    // scheduler round trip per batch.
    val stableBatch = graft.ops.Stage.materializeLazy(
      spreadLean(batch.select(col(idCol), col(textCol))))
    val sig0 =
      mhSignatures(stableBatch, textCol, idCol, shingleLen, numHashes)
        .transform(graft.ops.Stage.materializeOnce)
    // corpus probe kicked off CONCURRENTLY with the pairs collect
    // (round 14): the probe flags depend only on sig0 — flagging a
    // doc the intra dedup also drops is harmless (survivors subtract
    // the union), so the probe needs neither the components nor the
    // intra survivors, and its jobs overlap the pairs collect + the
    // driver union-find on the other thread. Flags are batch-bounded
    // ids (≤ one per batch doc after the in-plan distinct) — the same
    // boundedness class as the batch-sig broadcasts this path already
    // rides.
    val flagged = asyncFlagLocal(spark, batch.schema, idCol, probeCorpus)(
      mhProbeSigned(
        sig0, indexPath, bands, rows, threshold, maxBucketSize,
        lean = true)
        .select(col("probe_id"))
        .distinct()
        .collect()
        .map(_.get(0)))
    withFlagsCancelOnFailure(flagged) {
      val intraDrop = resolveComponentsAuto(
        mhPairsSigned(sig0, bands, rows, threshold, maxBucketSize, lean = true))
        .where(col("id") =!= col("component"))
        .select("id")
      val intraSurvivors =
        sig0.join(broadcast(intraDrop), Seq("id"), "left_anti")
      val survivors = (flagged() match {
        case None => intraSurvivors
        case Some(f) => intraSurvivors.join(broadcast(f), Seq("id"), "left_anti")
        // materialize: BOTH segment writes (sig + buckets) consume this
        // frame — without a checkpoint the intra anti-join re-executes
        // per write, doubling the per-batch cost
      }).transform(graft.ops.Stage.materializeOnce)
      (survivors, mhSizedBuckets(survivors, bands, rows))
    }
  }

  /** Handle on a concurrently-running corpus-probe flag collect
    * ([[asyncFlagLocal]]). `apply()` waits (bounded by
    * `graft.ingest.probe.timeout.ms`, default 10 min — a hung probe
    * job must not wedge the batch forever) and builds the local flags
    * frame; `cancel()` interrupts the probe thread AND cancels its
    * Spark jobs by tag, so a batch that fails before consuming the
    * flags does not leave an orphaned probe job running to
    * completion. Both are idempotent and safe after completion.
    */
  private sealed trait AsyncFlags {
    def apply(): Option[DataFrame]
    def cancel(): Unit
  }

  private object NoAsyncFlags extends AsyncFlags {
    def apply(): Option[DataFrame] = None
    def cancel(): Unit = ()
  }

  /** Start a corpus-probe FLAG collect on a daemon thread and hand
    * back a join-ready local frame builder — the shared concurrency
    * seam of the three unfused ingest shapes (round 14): the flags
    * depend only on the signed batch, so their jobs overlap the pairs
    * collect + driver union-find. The probe's jobs carry their own
    * job tag (interrupt-on-cancel) on top of the caller's inherited
    * job description and group; [[AsyncFlags.apply]] waits
    * with a generous timeout, unwraps failures, and builds a
    * single-slice local (id) frame (one trivial task per broadcast
    * build — the fused-path trick); [[NoAsyncFlags]] when there is no
    * corpus to probe. Callers wrap the region between start and
    * consumption in a catch-all that calls `cancel()`, so a batch
    * failing mid-flight aborts the probe instead of orphaning it.
    */
  private def asyncFlagLocal(
      spark: org.apache.spark.sql.SparkSession,
      batchSchema: org.apache.spark.sql.types.StructType,
      idCol: String,
      probeCorpus: Boolean)(
      flags: => Array[Any]): AsyncFlags = {
    if (!probeCorpus) return NoAsyncFlags
    val sc = spark.sparkContext
    val tag = s"graft-ingest-probe-${java.util.UUID.randomUUID()}"
    val t = new java.util.concurrent.FutureTask[Array[Any]](() => {
      // tag set on the PROBE thread, which dies with the task: every
      // job the flag collect submits carries it, so cancel() reaches
      // them. A tag, not a job group — setJobGroup would overwrite the
      // job description the thread inherited from the caller
      sc.addJobTag(tag)
      sc.setInterruptOnCancel(true)
      flags
    })
    val th = new Thread(t, "graft-ingest-fb-probe")
    th.setDaemon(true)
    th.start()
    new AsyncFlags {
      def cancel(): Unit = {
        t.cancel(true)
        sc.cancelJobsWithTag(tag)
      }
      def apply(): Option[DataFrame] = {
        val timeoutMs = sys.props
          .get("graft.ingest.probe.timeout.ms")
          .flatMap(_.toLongOption)
          .getOrElse(600000L)
        val ids =
          try t.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
            case e: java.util.concurrent.TimeoutException =>
              cancel()
              throw new java.util.concurrent.TimeoutException(
                s"ingest corpus probe exceeded $timeoutMs ms " +
                  "(graft.ingest.probe.timeout.ms); probe jobs cancelled")
          }
        val idField = batchSchema
          .find(_.name.equalsIgnoreCase(idCol))
          .get // the caller resolved idCol already
          .copy(name = "id")
        val schema = org.apache.spark.sql.types.StructType(Seq(idField))
        val rowsList =
          new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
        ids.foreach(v => rowsList.add(org.apache.spark.sql.Row(v)))
        Some(spark.createDataFrame(rowsList, schema).coalesce(1))
      }
    }
  }

  /** Run `body` (the region between an [[asyncFlagLocal]] start and
    * the consumption of its flags) with the probe cancelled on ANY
    * failure — without this, a batch that throws in the intra-dedup
    * stage leaves the orphaned probe job running to completion.
    */
  private def withFlagsCancelOnFailure[T](flagged: AsyncFlags)(
      body: => T): T =
    try body
    catch { case e: Throwable => flagged.cancel(); throw e }

  /** Extend a persisted index with an (already deduped) batch — sign
    * with the index's own parameters and APPEND; the corpus is never
    * re-signed (the [[graft.operators.Similarity]] `ivfAppendIndex`
    * frozen-quantizer argument applied to signatures).
    */
  def minHashAppendIndex(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      sourceTag: String = ""): Unit = {
    val (sig, buckets) =
      minHashSegmentFrames(batch, textCol, idCol, indexPath, sourceTag)
    sig.write.mode("append").parquet(s"$indexPath/sig")
    buckets.write.mode("append").parquet(s"$indexPath/buckets")
  }

  /** The INGEST DECISION over a probe: keep only batch rows with no
    * verified near-dup in the indexed corpus (LEFT ANTI on the flagged
    * ids — the batch never shuffles more than its keys). Compose with
    * [[minHashAppendIndex]] on the survivors to roll the corpus
    * forward batch by batch.
    */
  def dedupIncoming(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      threshold: Double = 0.5,
      maxBucketSize: Int = 256,
      sourceTag: String = ""): DataFrame =
    batch.join(
      // the flag list is bounded by the batch itself — broadcast it
      // explicitly rather than leaving the anti-join to a sort-merge
      broadcast(
        minHashProbeIndex(
          batch, textCol, idCol, indexPath, threshold, maxBucketSize,
          sourceTag)
          .select(col("probe_id").as(idCol))
          .distinct()),
      Seq(idCol),
      "left_anti")

  /** Shared LSH step: (id, bucket) rows → distinct candidate (id_a, id_b)
    * pairs with id_a < id_b. One hash aggregation collects each bucket's
    * ids (bounded above by maxBucketSize, so collect_list memory is
    * capped), then pairs are generated in-place from the sorted array —
    * no self-join, no separate bucket-size pass. The sorted order makes
    * id_a < id_b by construction; distinct() removes pairs colliding in
    * several buckets.
    * CPU-vs-bytes note: these post-shuffle stages are compute-heavy on
    * few bytes (pair explosion; array intersections downstream), so AQE's
    * size-based coalescing would funnel them onto 1-2 cores. Explicit
    * repartition pins the parallelism; the extra exchange moves only
    * megabytes of (bucket|pair) keys.
    */
  private def pairsFromBuckets(
      banded: DataFrame,
      maxBucketSize: Int,
      lean: Boolean = false): DataFrame = {
    val p = banded.sparkSession.sparkContext.defaultParallelism
    // lean mode (micro-batch ingest): the EXTRA pin-the-parallelism
    // exchanges and the cross-band pair dedup are pure overhead on a
    // bounded batch. But parallelism still needs A pin — AQE coalesces
    // the bucket agg's tiny output to ONE partition and the pair
    // explosion + verify (compute-heavy on few bytes) serialize on a
    // single core (measured: the 1-task 1.1 s stage dominating ingest
    // latency). The trick that costs nothing: pin the agg's OWN
    // exchange by pre-partitioning on the group key — the groupBy
    // reuses the user-specified HashPartitioning (no second shuffle),
    // and user repartitions are AQE-coalescing-exempt, so everything
    // downstream inherits real parallelism. Small count: a batch's
    // bucket table is KBs, 8 tasks amortize scheduling.
    // Consumers of the lean form must tolerate duplicate pairs
    // (union-find does; a few double-verified candidates cost less
    // than a shuffle). The full-corpus path keeps the explicit
    // repartitions and the distinct (the public pair API promises
    // distinct pairs).
    val pre =
      if (lean) banded.repartition(math.min(p, 8), col("bucket")) else banded
    val bucketed = pre
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")).between(2, maxBucketSize))
    val spread = if (lean) bucketed else bucketed.repartition(p)
    val pairs0 = spread
      .select(
        explode(
          flatten(
            transform(
              col("ids"),
              (x, i) =>
                transform(
                  slice(
                    col("ids"),
                    i + lit(2),
                    greatest(size(col("ids")) - i - 1, lit(0))),
                  y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    // lean still dedups — a k-band duplicate pair would be verified k
    // times downstream (the probe-path rationale) — but with ONE
    // pinned exchange (repartition on the pair key + in-partition
    // dropDuplicates) instead of distinct + repartition.
    if (lean)
      pairs0
        .repartition(math.min(p, 8), col("id_a"), col("id_b"))
        .dropDuplicates("id_a", "id_b")
    else pairs0.distinct().repartition(p)
  }

  /** 64-bit SimHash from an already-materialized token-hash array: bit j
    * of the result is the sign of sum over tokens of (bit j set ? +1 :
    * -1). The attribute is folded 64 times — cheap over a materialized
    * long array, quadratic-regex disaster if a tokenization expression
    * were inlined here (see TextFunctions.shinglesOf contract).
    *
    * COMPOSABLE REFERENCE FORM (64 interpreted `aggregate` passes): hot
    * paths use the bit-identical native one-pass
    * [[graft.functions.SimHash64Expr]] instead.
    */
  def simHashFromTokenHashes(tokenHashesAttr: Column): Column = {
    val bits = (0 until 64).map { j =>
      val votes = aggregate(
        tokenHashesAttr,
        lit(0L),
        (acc, h) =>
          acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L))
      when(votes > 0, lit(BigInt(1).<<(j).toLong)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Token-hash array for [[simHashFromTokenHashes]]. */
  def tokenHashes(text: Column): Column =
    transform(TextFunctions.tokens(text), t => xxhash64(t))

  /** Convenience one-shot SimHash — tests/tiny inputs only; hot paths
    * project [[tokenHashes]] first.
    */
  def simHash(text: Column): Column = {
    // evaluated via a nested projection-free expression: acceptable only
    // because callers on hot paths use the staged form
    simHashFromTokenHashes(tokenHashes(text))
  }

  /** SimHash near-dup groups: docs sharing an identical 64-bit simhash.
    * For Hamming distance > 0 use [[simHashBandPairs]] /
    * [[simHashNearDupPairs]] (banded, pigeonhole-complete).
    */
  def simHashNearDup(
      df: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    SignatureExpressions.register(df.sparkSession)
    df.select(col(idCol).as("id"), tokenHashes(col(textCol)).as("__th"))
      .select(col("id"), SignatureExpressions.simHashFast(col("__th")).as("sig"))
      .groupBy("sig")
      .agg(min("id").as("keep_id"), count(lit(1)).as("n"))
      .where(col("n") > 1)
  }

  /** Banded SimHash near-dup pairs over a precomputed (id, sig) frame:
    * finds pairs within `maxHamming` bit flips of each other, not just
    * exact-equal signatures. Pigeonhole guarantee: d flips can break at
    * most d of the `bands` band keys, so any pair with d < bands still
    * shares >= 1 exact band and becomes a candidate — 100% recall at
    * d <= maxHamming when maxHamming < bands. Candidates verify with an
    * exact popcount on the XOR (one integer op). Same banded equi-join
    * shape as MinHash — never all-pairs, bucket-size capped.
    */
  def simHashBandPairs(
      sigDf: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 256): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    require(maxHamming < bands,
      "pigeonhole guarantee needs maxHamming < bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // The signature RIDES THE BANDING SHUFFLE as the pair payload
    // instead of joining back in: the former shape generated bare
    // (id_a, id_b) candidates and attached sig_a/sig_b via two joins
    // against the full signature table — broadcasts at toy scale, but
    // at corpus scale the signature table is not broadcastable and
    // each verify join is a full shuffle of it. Carrying 8 extra bytes
    // per banded row deletes both joins at EVERY scale, and lets the
    // Hamming verify run inline in the pair explosion, so the
    // dedup shuffle below only carries pairs that already passed.
    val banded = sigDf.select(
      struct(col("id"), col("sig")).as("v"),
      explode(
        array((0 until bands).map { b =>
          struct(
            lit(b).as("band"),
            hash(
              lit(b),
              shiftright(col("sig"), b * width).bitwiseAND(lit(mask)))
              .as("bucket"))
        }: _*)).as("bk"))
      .select(col("v"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val p = sigDf.sparkSession.sparkContext.defaultParallelism
    // grouped by (band, bucket) — same groups as the bucket hash alone
    // (the hash folds the band in), but the band ordinal survives to
    // the pair stage for the exactly-once emission rule below
    val bucketed = banded
      .groupBy("band", "bucket")
      // sort_array on struct<id,sig> orders by id (sig is functional
      // on id) — preserves the i<j no-self-no-swap pair discipline
      .agg(sort_array(collect_list(col("v"))).as("vs"))
      .where(size(col("vs")).between(2, maxBucketSize))
      // spread the pair explosion (compute-heavy on few, fat rows)
      .repartition(p)
    // EXACTLY-ONCE pair emission, no dedup exchange: a near-identical
    // pair collides in MOST of its bands (a hamming-d pair matches in
    // >= bands-d of them), so the former emit-everywhere-then-
    // .distinct() shape shuffled each surviving pair up to `bands`
    // times — measured as the largest slice of the perceptual-dedup
    // pair stage (~8x the surviving-pair rows through the exchange on
    // the planted corpora). Instead each pair is emitted only in its
    // FIRST slice-matching band, a condition both members can check
    // inline from the signatures they already carry: slices at band j
    // are pure bit-slices of the two longs, so "first matching band ==
    // this band" costs `bands` shift-compares per candidate and makes
    // emission globally unique by construction. Pigeonhole guarantees
    // every verified pair HAS a first matching band (d <= maxHamming <
    // bands leaves >= 1 band untouched). Semantics vs the old shape
    // differ only under the skew guard: a pair whose first matching
    // band sits in an over-cap (dropped) bucket is now dropped even if
    // a LATER band's bucket survived — the skew drop was already a
    // declared recall boundary, and this makes it deterministic per
    // pair instead of dependent on which duplicates survived.
    val sliceEq = (b: Int, sa: Column, sb: Column) =>
      shiftright(sa, b * width).bitwiseAND(lit(mask)) ===
        shiftright(sb, b * width).bitwiseAND(lit(mask))
    val firstMatchBand = (sa: Column, sb: Column) =>
      (0 until bands).foldRight(lit(bands): Column)((b, acc) =>
        when(sliceEq(b, sa, sb), lit(b)).otherwise(acc))
    bucketed
      .select(
        col("band"),
        explode(
          flatten(
            transform(
              col("vs"),
              (x, i) =>
                transform(
                  slice(
                    col("vs"),
                    i + lit(2),
                    greatest(size(col("vs")) - i - 1, lit(0))),
                  y =>
                    struct(
                      x.getField("id").as("id_a"),
                      y.getField("id").as("id_b"),
                      bit_count(x.getField("sig")
                        .bitwiseXOR(y.getField("sig"))).as("hamming"),
                      firstMatchBand(x.getField("sig"), y.getField("sig"))
                        .as("fm"))))))
          .as("pr"))
      .where(col("pr.hamming") <= maxHamming && col("pr.fm") === col("band"))
      .select(col("pr.id_a"), col("pr.id_b"), col("pr.hamming"))
  }

  /** Banded SimHash near-dup pairs from raw text (staged token-hash →
    * signature projection, then [[simHashBandPairs]]).
    */
  def simHashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 256): DataFrame = {
    SignatureExpressions.register(df.sparkSession)
    simHashBandPairs(
      df.select(col(idCol).as("id"), tokenHashes(col(textCol)).as("__th"))
        .select(
          col("id"),
          SignatureExpressions.simHashFast(col("__th")).as("sig"))
        // simHashBandPairs consumes the frame three times (banding +
        // both verify sides) — without this the tokenize→simhash
        // pipeline re-executes per consumer (minHashNearDup contract)
        .transform(graft.ops.Stage.materializeOnce),
      maxHamming,
      bands,
      maxBucketSize)
  }

  // ------------------------------------------------------------------
  // 64-BIT SIGNATURE INDEX — the persisted banded-Hamming streaming
  // index family over ANY 64-bit perceptual signature (image dHash,
  // audio spectral fingerprint, text SimHash): the [[minHashWriteIndex]]
  // segment/commit machinery with Hamming verification. A signature is
  // ONE long, so the buckets tree CARRIES it (8 bytes/row) and every
  // probe verifies inline in the bucket equi-join — unlike the MinHash
  // and embedding families there is no separate verification join at
  // ANY scale. Used by [[graft.streaming.Sig64Ingest]] (and its
  // [[graft.streaming.ImageIngest]] / audio wrappers).
  // ------------------------------------------------------------------

  private def sig64Meta(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      sourceTag: String): (Int, Int) = {
    val key = s"s64:$indexPath"
    val (b, mh, _, src) = Option(metaCache.get(key)).getOrElse {
      val m = spark.read.parquet(s"$indexPath/_meta").collect()(0)
      val t = (
        m.getAs[Int]("bands"),
        m.getAs[Int]("max_hamming"),
        0,
        m.getAs[String]("source"))
      metaCache.put(key, t)
      t
    }
    require(
      sourceTag.isEmpty || src == sourceTag,
      s"sig64 index at $indexPath was built from '$src', not " +
        s"'$sourceTag' — refusing to probe/append a different corpus")
    (b, mh)
  }

  /** Validate-or-create the sig64 index `_meta` (the
    * [[minHashEnsureMeta]] contract: the first batch fixes the banding
    * AND the Hamming budget — the budget is part of index semantics,
    * since which docs survived earlier batches depended on it).
    */
  def sig64EnsureMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      bands: Int,
      maxHamming: Int,
      sourceTag: String = ""): Unit = {
    require(64 % bands == 0, "bands must divide 64")
    require(maxHamming < bands,
      "pigeonhole guarantee needs maxHamming < bands")
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexPath/_meta")
    val fs =
      metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(metaPath)) {
      var (b, mh) = sig64Meta(spark, indexPath, sourceTag)
      if (b != bands || mh != maxHamming) {
        // stale-memo self-heal, same as [[minHashEnsureMeta]]
        metaCache.remove(s"s64:$indexPath")
        val fresh = sig64Meta(spark, indexPath, sourceTag)
        b = fresh._1; mh = fresh._2
      }
      require(
        b == bands && mh == maxHamming,
        s"sig64 index at $indexPath was built with (bands=$b, " +
          s"maxHamming=$mh); refusing ($bands, $maxHamming) — " +
          "survivor semantics would drift")
    } else {
      metaCache.remove(s"s64:$indexPath")
      spark
        .range(1)
        .select(
          lit(bands).as("bands"),
          lit(maxHamming).as("max_hamming"),
          lit(sourceTag).as("source"))
        .write
        .mode("overwrite")
        .parquet(metaPath.toString)
      metaCache.put(s"s64:$indexPath", (bands, maxHamming, 0, sourceTag))
    }
  }

  /** Banded (id, sig, bucket) rows — [[simHashBandPairs]]' band-key
    * construction (band ordinal salted into the hash so the same bits
    * in different band positions never collide), sig carried.
    */
  /** Un-exploded per-band bucket keys (the [[mhBucketArray]] analog). */
  private def sig64BucketArray(bands: Int): Column = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    array((0 until bands).map { b =>
      hash(lit(b), shiftright(col("sig"), b * width).bitwiseAND(lit(mask)))
    }: _*)
  }

  private def sig64Banded(sig: DataFrame, bands: Int): DataFrame =
    sig.select(
      col("id"),
      col("sig"),
      explode(sig64BucketArray(bands)).as("bucket"))

  /** Sized buckets from (id, sig) — the [[mhSizedBuckets]] shape (one
    * keyed exchange, count-over-window).
    */
  private def sig64SizedBuckets(sig: DataFrame, bands: Int): DataFrame =
    sig64Banded(sig, bands).withColumn(
      "bn",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket")))

  /** Recompute sized buckets from STORED signatures (id, sig) — the
    * [[minHashRebucket]] analog, used by segment compaction. Banding is
    * a pure function of the persisted long.
    */
  def sig64Rebucket(
      sig: DataFrame,
      indexPath: String,
      sourceTag: String = ""): DataFrame = {
    val (bands, _) = sig64Meta(sig.sparkSession, indexPath, sourceTag)
    sig64SizedBuckets(sig.select(col("id"), col("sig")), bands)
  }

  /** Probe a persisted sig64 index with a new signed batch (id, sig):
    * band-join the broadcast batch against the persisted buckets and
    * verify the Hamming distance INLINE in the join (the buckets tree
    * carries the corpus signature). The index is only ever scanned —
    * never shuffled, never joined twice.
    *
    * @return (probe_id, corpus_id, hamming), hamming ≤ the index's
    *         own budget
    */
  def sig64ProbeIndex(
      batchSig: DataFrame,
      indexPath: String,
      maxBucketSize: Int = 256,
      sourceTag: String = ""): DataFrame = {
    val spark = batchSig.sparkSession
    val (bands, maxHamming) = sig64Meta(spark, indexPath, sourceTag)
    sig64ProbeSigned(
      batchSig, indexPath, bands, maxHamming, maxBucketSize, lean = false)
  }

  private def sig64ProbeSigned(
      batchSig: DataFrame,
      indexPath: String,
      bands: Int,
      maxHamming: Int,
      maxBucketSize: Int,
      lean: Boolean): DataFrame = {
    val spark = batchSig.sparkSession
    val readIdx: String => DataFrame =
      if (lean) readIndexCached(spark, _) else readIndexParquet(spark, _)
    val bBanded = sig64Banded(batchSig, bands)
      .select(
        col("bucket"),
        col("id").as("probe_id"),
        col("sig").as("probe_sig"))
    readIdx(s"$indexPath/buckets")
      .where(col("bn") <= maxBucketSize)
      .join(broadcast(bBanded), Seq("bucket"))
      .select(
        col("probe_id"),
        col("id").as("corpus_id"),
        bit_count(col("sig").bitwiseXOR(col("probe_sig"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      // cross-band collisions of the same verified pair: deduped on
      // the QUERY path (pair semantics — q215-style consumers); the
      // lean (ingest) consumer distincts probe_id downstream anyway,
      // so the exchange + aggregation here was pure per-batch fixed
      // cost on the fallback's critical path
      .transform(d =>
        if (lean) d else d.dropDuplicates("probe_id", "corpus_id"))
  }

  /** SINGLE-PASS micro-batch ingest over a signed batch (id, sig) —
    * the [[mhIngestSegmentFrames]] shape for 64-bit signatures, the
    * hot loop of [[graft.streaming.Sig64Ingest]]: materialize the
    * signatures once (the signing pipeline — e.g. an image decode
    * UDF — fuses into the first consumer's job), then ONE action
    * collects the banded rows AND the inline-Hamming-verified corpus
    * flags together; pair expansion, Hamming verification (a single
    * `Long.bitCount` per candidate — why sig64 needs no verify
    * round-trip), and union-find drop resolution all run on the
    * driver. Non-fusable id types or an over-cap banded set fall back
    * to [[sig64IngestSegmentFramesUnfused]] — the exchange-bounded
    * distributed shape, which is also the 100-TB path.
    */
  def sig64IngestSegmentFrames(
      batchSig: DataFrame,
      indexPath: String,
      maxBucketSize: Int = 256,
      probeCorpus: Boolean = true,
      sourceTag: String = ""): (DataFrame, DataFrame) = {
    val spark = batchSig.sparkSession
    val (bands, maxHamming) = sig64Meta(spark, indexPath, sourceTag)
    val idType = batchSig.schema
      .find(_.name.equalsIgnoreCase("id"))
      .map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        "batch signature frame must carry an 'id' column"))
    // no checkpoint on the fused path: the gather is the signing
    // pipeline's ONLY consumer (the decode UDF fuses into its job) and
    // the probe's batch side is rebuilt from the collected rows as a
    // LOCAL table (the embIngestSegmentFrames two-job shape). The
    // unfused fallback DOES re-consume the signed frame several times,
    // so it gets its own lazy checkpoint at the handoff.
    val sig0 = batchSig.select(col("id"), col("sig"))
    // spread before the checkpoint (the round-14 unfused win): the
    // decode/sign output often arrives 1-2 splits wide, and the
    // fallback's banding, probe broadcast-builds, anti-joins, and
    // segment writes would all inherit that (non-)parallelism
    def unfused() = sig64IngestSegmentFramesUnfused(
      graft.ops.Stage.materializeLazy(spreadLean(sig0)),
      indexPath, bands, maxHamming, maxBucketSize, probeCorpus)
    if (!fusableIdType(idType)) return unfused()
    // one row per batch signature (sig + un-exploded bucket keys) —
    // the mh/emb gather shape; banding, Hamming verify, drop
    // resolution, and BOTH segment frames run on the driver
    val gathered = sig0.select(
      lit(0).as("t"),
      col("id").as("x"),
      col("sig").as("s"),
      sig64BucketArray(bands).as("bks"))
    // plain collect, not limit(cap).collect() — CollectLimit's
    // incremental waves are multiple jobs
    val rows = gatherCapped(gathered) match {
      case Some(rs) => rs
      case None => return unfused()
    }
    val buckets = new java.util.HashMap[
      Long, scala.collection.mutable.ArrayBuffer[(Any, Long)]]()
    val payload = scala.collection.mutable
      .ArrayBuffer.empty[(Any, Seq[Any], scala.collection.Seq[Int])]
    rows.foreach { r =>
      if (r.getInt(0) == 0) {
        val id = r.get(1)
        val s = r.get(2)
        val bks = r.getAs[scala.collection.Seq[Int]](3)
        payload += ((id, Seq(id, s), bks))
        if (s != null && bks != null) bks.foreach { bk =>
          val b = bk.toLong
          var arr = buckets.get(b)
          if (arr == null) {
            arr = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
            buckets.put(b, arr)
          }
          arr += ((id, s.asInstanceOf[Long]))
        }
      }
    }
    // corpus probe over the RAM bucket index, Hamming verified inline
    // in the SAME scan (the signature rides the buckets tree — no
    // separate verify join at any scale); the batch side rides in as
    // a DRIVER-BUILT hash-table lookup ([[graft.functions
    // .LocalLookup]] — the former broadcast LocalTableScan cost one
    // single-task build job per batch; the lookup keeps the hash
    // join's O(1) probe with NO job, so this probe is ONE job). The
    // explode reproduces the inner join's multiplicity exactly. Null
    // signatures never band on the driver and could never verify
    // (bit_count(null ^ sig) is null), so leaving them out of the
    // table is behavior-identical.
    val flagged = scala.collection.mutable.LinkedHashSet.empty[Any]
    if (probeCorpus && payload.nonEmpty) {
      import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}
      val bandedBuf = scala.collection.mutable.LinkedHashMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]]
      payload.foreach { case (id, vals, bks) =>
        val s = vals(1)
        if (s != null && bks != null)
          bks.foreach { bk =>
            bandedBuf.getOrElseUpdate(
              bk,
              scala.collection.mutable.ArrayBuffer
                .empty[org.apache.spark.sql.Row]) +=
              org.apache.spark.sql.Row(id, s)
          }
      }
      val pairType = StructType(Seq(
        StructField("probe_id", idType),
        StructField("probe_sig", LongType)))
      readIndexCached(spark, s"$indexPath/buckets")
        .where(col("bn") <= maxBucketSize)
        .select(
          col("id").as("corpus_id"),
          col("sig"),
          explode(
            graft.functions.LocalLookup(
              col("bucket"), IntegerType, ArrayType(pairType),
              bandedBuf.iterator.map { case (bk, rs) => (bk, rs.toSeq) }))
            .as("p"))
        .select(
          col("p.probe_id").as("probe_id"),
          col("corpus_id"),
          bit_count(col("sig").bitwiseXOR(col("p.probe_sig")))
            .as("hamming"))
        .where(col("hamming") <= maxHamming)
        // NO pair dedup: cross-band collisions of the same verified
        // pair land as duplicate probe_id rows that the driver SET
        // below absorbs — the dropDuplicates here cost an exchange +
        // aggregation inside the probe's one job every batch for a
        // ≤ bands× bounded duplicate factor
        .select(col("probe_id"))
        .collect()
        .foreach(r => flagged += r.get(0))
    }
    val pairs = scala.collection.mutable.LinkedHashSet.empty[(Any, Any)]
    buckets.values.forEach { members =>
      // the distributed contract ([[simHashBandPairs]]): over-cap
      // buckets are skew-guard dropped, pairs expand i<j id-sorted,
      // Hamming verifies inline
      if (members.length >= 2 && members.length <= maxBucketSize) {
        val ms = members.distinct.sortWith((p, q) => idLess(p._1, q._1))
        var i = 0
        while (i < ms.length) {
          var j = i + 1
          while (j < ms.length) {
            if (java.lang.Long.bitCount(ms(i)._2 ^ ms(j)._2) <= maxHamming)
              pairs += ((ms(i)._1, ms(j)._1))
            j += 1
          }
          i += 1
        }
      }
    }
    val drop = resolveDrop(pairs, flagged).toSet
    driverSegmentFrames(
      spark,
      sig0.schema,
      idType,
      payload.filterNot(t => drop.contains(t._1)).toSeq,
      bucketRowVals = (vals, bk, n) => Seq(vals.head, vals(1), bk, n),
      bucketsSchemaExtra = Seq(
        org.apache.spark.sql.types.StructField(
          "sig", org.apache.spark.sql.types.LongType)))
  }

  /** The distributed (unfused) sig64 ingest — every step is exchange-
    * bounded ([[simHashBandPairs]] for intra pairs, the inline-verify
    * probe for corpus flags, anti-joins for survivors); nothing
    * collects data-sized frames.
    */
  private def sig64IngestSegmentFramesUnfused(
      sig0: DataFrame,
      indexPath: String,
      bands: Int,
      maxHamming: Int,
      maxBucketSize: Int,
      probeCorpus: Boolean): (DataFrame, DataFrame) = {
    // concurrent corpus probe + broadcast anti-joins (round 14 — the
    // mhIngestSegmentFramesUnfused restructure): flags depend only on
    // sig0, overlap the pairs collect + union-find, and land as a
    // batch-bounded local; the former dropped.distinct() union +
    // un-hinted anti-join cost an extra exchange per batch
    val flagged = asyncFlagLocal(
      sig0.sparkSession, sig0.schema, "id", probeCorpus)(
      sig64ProbeSigned(
        sig0, indexPath, bands, maxHamming, maxBucketSize, lean = true)
        .select(col("probe_id"))
        .distinct()
        .collect()
        .map(_.get(0)))
    withFlagsCancelOnFailure(flagged) {
      val intraPairs =
        simHashBandPairs(sig0, maxHamming, bands, maxBucketSize)
      val dropIntra = resolveComponentsAuto(intraPairs, "id_a", "id_b")
        .where(col("component") =!= col("id"))
        .select("id")
      val intraSurvivors =
        sig0.join(broadcast(dropIntra), Seq("id"), "left_anti")
      val survivors = (flagged() match {
        case None => intraSurvivors
        case Some(f) =>
          intraSurvivors.join(broadcast(f), Seq("id"), "left_anti")
      }).transform(graft.ops.Stage.materializeOnce)
      (survivors, sig64SizedBuckets(survivors, bands))
    }
  }

  /** Exact n-gram Jaccard over candidate pairs produced by equi-joining
    * on a blocking key (default: identical token count). Exact and
    * shuffle-bounded: pair space = sum over blocks of |block|².
    *
    * @param maxBlockSize skew guard (same idea as [[minHashNearDup]]'s
    *                 maxBucketSize): a block is ONE equi-join key, so a
    *                 block of b docs is b² pairs in one task — one hot
    *                 blocking key (boilerplate-heavy corpora) melts a
    *                 task without this cap. Oversized blocks are dropped;
    *                 dedup them by digest ([[exact]]) instead of pairwise.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      blockKey: Option[Column] = None,
      threshold: Double = 0.0,
      maxBlockSize: Int = 256): DataFrame = {
    SignatureExpressions.register(df.sparkSession)
    val blk = blockKey.getOrElse(TextFunctions.tokenCount(col(textCol)))
    // block sizes come from a cheap scan of (blk) alone — never the
    // shingle pipeline; the keep-list is one row per small block and
    // joins back as a broadcast semi-join under AQE
    val keepBlocks = df
      .select(blk.as("blk"))
      .groupBy("blk")
      .agg(count(lit(1)).as("__bn"))
      .where(col("__bn").between(2, maxBlockSize))
      .select("blk")
    // materializeOnce: prep feeds BOTH sides of the self-join — without
    // materialization the normalize→shingle pipeline executes twice
    val prep = df
      .select(
        col(idCol).as("id"),
        blk.as("blk"),
        TextFunctions.normalized(col(textCol)).as("__norm"))
      .join(keepBlocks, Seq("blk"), "left_semi")
      // shingle sets as 64-bit hashes (ShingleHashesExpr): intersections
      // compare longs instead of strings, identical Jaccard modulo ~2^-64
      .select(
        col("id"),
        col("blk"),
        SignatureExpressions.shingleHashesFast(col("__norm"), n).as("sh"))
      .transform(graft.ops.Stage.materializeOnce)
    val l = prep.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val r = prep.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    // |A∪B| = |A|+|B|-|A∩B| — one hash set per pair, not two
    val nA = size(col("sh_a")).cast("double")
    val nB = size(col("sh_b")).cast("double")
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    l.join(r, Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        (inter / (nA + nB - inter)).as("jaccard"))
      .where(col("jaccard") > threshold)
  }

  /** Near-dup RESOLUTION: verified pairs → connected components — the
    * step that turns pair emission ([[minHashNearDup]] /
    * [[simHashNearDupPairs]] / [[ngramJaccardPairs]]) into an actual
    * dedup decision. Transitive groups are why naive per-pair dropping
    * goes wrong: with A~B and B~C (but A≁C), dropping "the second of
    * every pair" can drop B twice and keep both A and C, or worse lose
    * all three; the correct decision is one survivor per CONNECTED
    * COMPONENT.
    *
    * Algorithm: iterative min-label propagation WITH pointer jumping —
    * every vertex starts labeled with itself; each round every vertex
    * takes the min of its own label and its neighbors' labels
    * (propagation), then replaces its label with its label's label
    * (path compression — labels are vertex ids, so the label table is
    * its own lookup table). Fixpoint = every vertex holds the min id of
    * its component. Compression makes label chains collapse
    * exponentially: O(log diameter) rounds instead of O(diameter) —
    * the shape every BSP connected-components implementation uses
    * (large-star/small-star is this same idea with fancier stars).
    * Each round shuffles (id, component) pairs over the PAIR GRAPH
    * ONLY (near-dup vertices, not the corpus — at 100 TB the pair
    * graph is orders of magnitude smaller than the input). Every
    * round's frame is materialized
    * ([[graft.ops.Stage.materializeOnce]]) so lineage stays flat and no
    * round re-executes its predecessors; hitting the round cap is a
    * loud error, never a wrong answer.
    *
    * SKEW GUARD: a giant near-dup component concentrates its min-label
    * on one join key — after a round or two, every vertex of a
    * d-vertex component probes the jump table with the SAME `component`
    * value, so one task receives d rows no matter how the rest of the
    * graph distributes (pair-generation bucket caps bound vertex
    * DEGREE, not component SIZE, so this is the one hot spot those caps
    * can't prevent). The jump join is therefore SALTED: the probe side
    * spreads each label over `saltBuckets` sub-keys by vertex-id hash
    * and the (unique-keyed) jump table replicates each row
    * `saltBuckets` times — per-task rows drop to d/saltBuckets at the
    * cost of a saltBuckets× larger jump-table shuffle, which is
    * (16·saltBuckets) bytes/vertex/round — small next to the edge-list
    * shuffle the propagation step already pays every round
    * (|E| ≥ |V| − #components on any pair graph).
    *
    * @param saltBuckets jump-join salt factor (1 = unsalted)
    * @return one row per vertex of the pair graph: (id, component) with
    *         component = min id of the vertex's connected component —
    *         id == component marks the canonical survivor
    */
  def resolveComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 25,
      saltBuckets: Int = 8): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    // symmetric edge list: propagation must flow both ways
    val edges = pairs
      .select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .transform(graft.ops.Stage.materializeOnce)
    var labels = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id"))
      .transform(graft.ops.Stage.materializeOnce)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // the labels rows are tagged so the SAME aggregation that takes
      // the neighborhood min also carries each vertex's PREVIOUS label
      // through the round — the convergence check then filters the
      // already-materialized result instead of paying a join back to
      // `labels` (one fewer shuffle per round)
      val prop = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("component"), lit(false).as("__own"))
      val propagated = labels
        .select(col("id"), col("component"), lit(true).as("__own"))
        .union(prop)
        .groupBy("id")
        .agg(
          min("component").as("component"),
          min(when(col("__own"), col("component"))).as("__prev"))
      // pointer jump: component values are vertex ids, so `propagated`
      // doubles as its own lookup table — label(x) := label(label(x)).
      // Monotone (labels only decrease), collapses chains exponentially.
      // Salted (see scaladoc): probe spreads a hot label over
      // saltBuckets sub-keys, the unique-keyed jump table replicates.
      val jumpTable = propagated
        .select(col("id").as("component"), col("component").as("__jump"))
        .withColumn(
          "__salt",
          explode(array((0 until saltBuckets).map(lit): _*)))
      val next = propagated
        .withColumn("__salt", pmod(xxhash64(col("id")), lit(saltBuckets)).cast("int"))
        .join(jumpTable, Seq("component", "__salt"))
        .select(col("id"), col("__jump").as("component"), col("__prev"))
        .transform(graft.ops.Stage.materializeOnce)
      // converged when no vertex improved its label this round (min-label
      // is monotone decreasing, so "changed" == "decreased"); a filter
      // scan of the materialized round, not a join — isEmpty short-
      // circuits at the FIRST changed row, so non-final rounds pay a
      // take(1) instead of a full count
      converged = next.where(col("component") =!= col("__prev")).isEmpty
      labels = next.select("id", "component")
      iter += 1
    }
    require(
      converged,
      s"resolveComponents did not converge in $maxIters rounds — the pair " +
        "graph has a component of diameter > maxIters (raise maxIters, or " +
        "inspect the pairs: components that deep usually mean the pair " +
        "threshold is too loose)")
    labels
  }

  /** [[resolveComponents]] with a driver fast path for small pair
    * graphs. Micro-batch ingest graphs are usually tiny (dozens of
    * edges), where the distributed loop's fixed per-round cost — a
    * propagate join, an aggregation, a jump join, an eager
    * materialization, and a convergence scan, times O(log diameter)
    * rounds — dominates ingest latency (measured: the single largest
    * slice of the ~1 s/batch streaming-ingest overhead). Up to
    * `driverCap` edges are collected and resolved with union-find in
    * milliseconds; a graph over the cap, or with non-integral id
    * types, falls back to the distributed pointer-jumping loop
    * unchanged — the 100-TB path is exactly [[resolveComponents]].
    * The default cap is 1M edges (~16 MB of longs, ~90 MB transient as
    * collected rows — a bounded one-shot, not a per-batch cost): a
    * planted-dup corpus of 200-member families produces ~500k verified
    * pairs at only 5k docs, and the former 200k cap silently pushed
    * exactly the perceptual-dedup queries it was built for onto the
    * iterative loop, whose fixed per-round cost (5 stages × O(log
    * diameter) rounds, plus a second evaluation of the pair pipeline)
    * was the single largest slice of q207/q211 wall time.
    *
    * Contract identical to [[resolveComponents]] (one row per vertex,
    * component = min id of the component) with one exception: the
    * driver path has no iteration bound, so `maxIters` only applies to
    * the fallback. The collect is explicitly capped — this is a
    * bounded-frame collect (like centroid/meta reads), not a
    * data-sized one.
    */
  def resolveComponentsAuto(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 25,
      saltBuckets: Int = 8,
      driverCap: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = pairs.sparkSession
    val integral = Seq(idA, idB).forall(c =>
      pairs.schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      })
    if (!integral || driverCap <= 0)
      return resolveComponents(pairs, idA, idB, maxIters, saltBuckets)
    // limit() short-circuits pair generation once cap+1 rows exist, so
    // an over-cap graph pays one partial scan before falling back.
    // ONE WAVE, not CollectLimit's incremental ones: the default
    // initialNumPartitions=1 makes the limit probe 1 partition, then
    // 4x more, then 4x more — and each wave RE-RUNS the post-shuffle
    // pair-explosion + verify result stage (the pipeline's
    // compute-heavy part; only the map-side shuffle files are reused).
    // Measured on q211's 5k-doc pair graph: the waves made the
    // components phase ~3x the cost of the pair scan itself. Scoping
    // the conf to this collect makes the first wave scan every
    // partition in parallel — identical rows, identical cap semantics,
    // one job. The override lives on a throwaway SESSION CLONE
    // (SessionBridge — same SparkContext, copied session state), not
    // on the shared session: a conf is read when CollectLimitExec
    // executes, so a shared-session set/restore had to hold the
    // per-session conf monitor across this whole (potentially
    // driverCap-sized) collect, wedging every concurrent
    // IngestTuning.withBatchTuning caller for the duration. The clone
    // makes the override invisible to everyone else by construction —
    // no shared mutation, no lock, nothing to leak past a finally.
    // the clone's re-analysis/re-optimization of the whole pair
    // pipeline costs ~0.3-0.5 s per call (measured round 14) — when
    // the BOUND session already carries a one-wave limit conf (the
    // ingest loops set it via IngestTuning), collect directly and
    // skip the clone; the clone stays for one-shot batch queries,
    // where it amortizes
    val capped = pairs.select(col(idA).cast("long"), col(idB).cast("long"))
    // keyed on the EXPLICIT IngestTuning marker, not on the limit knob
    // itself: a user session that happens to set initialNumPartitions
    // for unrelated reasons must not be silently routed onto the
    // direct-collect path
    val head =
      if (pairs.sparkSession.conf
          .getOption(graft.streaming.IngestTuning.TunedMarker)
          .contains("true"))
        capped.limit(driverCap + 1).collect()
      else
        org.apache.spark.sql.graftbridge.SessionBridge
          .withConfScopedClone(
            capped,
            Map("spark.sql.limit.initialNumPartitions" -> "4096"))(
            _.limit(driverCap + 1).collect())
    if (head.length > driverCap)
      return resolveComponents(pairs, idA, idB, maxIters, saltBuckets)
    // union-find, merging by smaller root: the root of a component is
    // always its min id, so component = find(id) with no extra pass
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    head.foreach { row =>
      val a = row.getLong(0)
      val b = row.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val out = parent.keysIterator.map(v => (v, find(v))).toSeq
    spark.createDataFrame(out).toDF("id", "component")
  }

  /** Apply the dedup decision from [[resolveComponents]]: keep every row
    * whose id is NOT a non-canonical member of a component (rows absent
    * from the pair graph are untouched). LEFT ANTI on the drop-list —
    * the corpus side never shuffles more than its join keys, and the
    * drop-list is small (near-dup vertices only), so AQE broadcasts it.
    */
  /** Quality-scored SURVIVOR SELECTION over a resolved component frame
    * — the survivor policy production curation actually wants: within
    * each duplicate component keep the BEST copy (highest quality
    * score, most trusted source, longest text), not the arbitrary
    * min-id member [[dedupByComponents]] keeps. `comps` is the
    * (id, component) frame from [[resolveComponents]] /
    * [[resolveComponentsAuto]]; rows absent from the pair graph are
    * singleton survivors of their own component. `preference` orders
    * each component's members BEST FIRST; id breaks residual ties so
    * selection is deterministic (the engine-portability discipline).
    *
    * Output: the surviving row per component — all of `df`'s columns
    * plus `component` and `n_members`. Plan shape: one left join to
    * attach components (the comps side is near-dup vertices only —
    * small, AQE broadcasts it) and ONE exchange on the component key
    * shared by the rank and count windows; no all-pairs anything.
    */
  def bestSurvivors(
      df: DataFrame,
      idCol: String,
      comps: DataFrame,
      preference: org.apache.spark.sql.Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byComp = Window.partitionBy(col("component"))
    val ranked = df
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn(
        "__rk",
        row_number().over(
          byComp.orderBy(preference :+ col(idCol).asc: _*)))
      .withColumn("n_members", count(lit(1)).over(byComp))
    ranked.where(col("__rk") === 1).drop("__rk")
  }

  def dedupByComponents(
      df: DataFrame,
      idCol: String,
      components: DataFrame): DataFrame =
    df.join(
      components
        .where(col("id") =!= col("component"))
        .select(col("id").as(idCol)),
      Seq(idCol),
      "left_anti")

  /** Embedding cosine near-dup via hyperplane-LSH bucketing: vectors in
    * the same signature bucket are verified with exact cosine.
    * Recall is tunable via nBits (fewer bits → bigger buckets).
    *
    * @param maxBucketSize skew guard, same as [[minHashNearDup]]: a hot
    *                 signature bucket (zero vectors, exact-duplicate
    *                 embeddings) is one join key = b² pairs in one task.
    *                 Oversized buckets are dropped — their contents are
    *                 near-identical by construction; dedup them by exact
    *                 signature instead of pairwise cosine.
    */
  def embeddingNearDup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nBits: Int = 12,
      threshold: Double = 0.95,
      maxBucketSize: Int = 1024): DataFrame = {
    val sig = df
      .select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        VectorFunctions.hyperplaneSignature(col(vecCol), nBits).as("sig"))
      // three consumers (bucketing + both verify sides): materialize or
      // the upstream pipeline + nBits-projection runs three times
      .transform(graft.ops.Stage.materializeOnce)
    val cand =
      pairsFromBuckets(sig.select(col("id"), col("sig").as("bucket")), maxBucketSize)
    val va = sig.select(col("id").as("id_a"), col("v").as("v_a"))
    val vb = sig.select(col("id").as("id_b"), col("v").as("v_b"))
    VectorExpressions.register(df.sparkSession)
    cand
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        VectorExpressions.cosineFast(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** EXACT embedding cosine near-dup pairs — every (id_a < id_b) pair
    * with cosine ≥ threshold, via a broadcast nested-loop self-join.
    * O(n²) by definition: this is the oracle-fidelity baseline of the
    * semantic-dedup family (the q17 brute-force-scores precedent
    * applied to pairs), kept for exact answers and as the recall
    * denominator of the approximate forms. At corpus scale use
    * [[semanticDedup]] (cluster-blocked) or [[embeddingNearDup]]
    * (hyperplane LSH), which bound the comparison set and trade recall
    * for the quadratic scan.
    *
    * `df` should be a raw scan or a narrow map over one — the adaptive
    * fan-out probes partition counts eagerly
    * ([[graft.ops.Stage.fanOutIfNarrow]]'s evaluation contract).
    */
  def embeddingNearDupExact(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double): DataFrame = {
    VectorExpressions.register(df.sparkSession)
    // adaptive fan-out of the STREAM side (round 17, opt guide §2.5):
    // the fixture's one-row-group parquet scans as a single partition,
    // so the broadcast nested-loop join — n²/2 cosines, the entire
    // cost of this operator — ran as ONE task (profiled: q174's 1.2 s
    // single-task stage ≈ its whole steady-state wall). Per-pair
    // cosine is row-local arithmetic, so partitioning changes no
    // result bit; no-op when the scan already fans out.
    val a = graft.ops.Stage
      .fanOutIfNarrow(df, col(idCol))
      .select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        VectorExpressions.cosineFast(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic dedup survivors (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means-cluster the embedding
    * space ([[Similarity.kmeansAssign]] — deterministic hash-seeded
    * Lloyd, per-round driver state = k centroids), generate candidate
    * pairs only WITHIN a cluster (the [[pairsFromBuckets]] cap guards
    * a degenerate mega-cluster), verify candidates with exact cosine,
    * resolve transitive chains to connected components, keep one doc
    * per component (min id). Cluster blocking bounds the pairwise work
    * to Σ cluster_size² instead of n² — the published method's scale
    * argument; recall vs [[embeddingNearDupExact]] is the price, paid
    * mostly by threshold-straddling pairs split across a cluster
    * boundary (near-exact dups co-assign to the same nearest centroid
    * by construction).
    *
    * `df` should be a raw scan or a narrow map over one — the adaptive
    * fan-out probes partition counts eagerly
    * ([[graft.ops.Stage.fanOutIfNarrow]]'s evaluation contract).
    */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      threshold: Double,
      iters: Int = 3,
      maxClusterSize: Int = 4096): DataFrame = {
    VectorExpressions.register(df.sparkSession)
    // adaptive fan-out AFTER the k-means loop (round 17, §2.5): the
    // fixture scan is one partition, so the assignment UDF + the
    // whole within-cluster pair/verify pipeline below serialized on
    // one core. Fanning out the ASSIGNED frame parallelizes staging,
    // pair expansion and cosine verification while leaving the k-means
    // ITERATIONS' centroid aggregations on the un-repartitioned input
    // — their double partial sums keep the exact partition grouping,
    // so centroids (and therefore clusters, pairs, survivors) stay
    // bit-identical to the un-fanned form. The final assignment is a
    // pure per-row map over FIXED centroids — partitioning-invariant.
    val assigned = Similarity
      .kmeansAssign(df, vecCol, idCol, k, iters)
      .transform(graft.ops.Stage.fanOutIfNarrow(_, col(idCol)))
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("cluster"))
      .transform(graft.ops.Stage.materializeOnce)
    val cand = pairsFromBuckets(
      assigned.select(col("id"), col("cluster").as("bucket")),
      maxClusterSize)
    val pairs = cand
      .join(assigned.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(assigned.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        VectorExpressions.cosineFast(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= threshold)
    dedupByComponents(df, idCol, resolveComponentsAuto(pairs))
  }

  // ------------------------------------------------------------------
  // Persisted EMBEDDING near-dup index — the [[minHashWriteIndex]]
  // family transplanted to BANDED hyperplane-LSH signatures: an
  // incoming batch of embeddings dedupes against the already-ingested
  // corpus without ever re-signing or shuffling it (index scanned,
  // batch broadcast — identical cost shape to the MinHash path).
  // Banding a single nBits signature into `bands` sub-signatures
  // raises recall exactly like MinHash banding: a pair collides if ANY
  // band's bits agree, so P(candidate) = 1-(1-p^rows)^bands with
  // p = 1 - angle/π per bit (Charikar 2002 SimHash/hyperplane LSH).
  // ------------------------------------------------------------------

  private def embSignatures(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nBits: Int,
      seed: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      VectorFunctions
        .hyperplaneSignature(col(vecCol), nBits, seed)
        .as("sig"))

  /** (id, bucket) banding of a signature frame: band b's bucket hashes
    * the band index with the band's bit-slice of the signature (the
    * [[mhBanded]] construction on bit ranges instead of array slices).
    */
  /** Un-exploded per-band bucket keys (the [[mhBucketArray]] analog). */
  private def embBucketArray(bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      hash(
        lit(b),
        shiftrightunsigned(col("sig"), b * rows)
          .bitwiseAND(lit((1L << rows) - 1))).as(s"b$b")
    }: _*)

  private def embBanded(sig: DataFrame, bands: Int, rows: Int): DataFrame =
    sig.select(
      col("id"),
      explode(embBucketArray(bands, rows)).as("bucket"))

  /** Banded-LSH embedding near-dup pairs over ONE frame — the higher-
    * recall sibling of [[embeddingNearDup]] (any-band collision instead
    * of the full signature) and the intra-batch step of
    * [[graft.streaming.EmbedIngest]]. Same capped-bucket pair
    * expansion and exact-cosine verification.
    */
  def embeddingNearDupBanded(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nBits: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.9,
      maxBucketSize: Int = 1024,
      seed: Int = 42): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    require(
      nBits / bands < 64,
      "rows-per-band must be < 64: the band mask (1L << rows) - 1 wraps " +
        "at 64 and every signature would hash into one mega-bucket")
    VectorExpressions.register(df.sparkSession)
    val sig = embSignatures(df, vecCol, idCol, nBits, seed)
      .transform(graft.ops.Stage.materializeOnce)
    embPairsSigned(sig, bands, nBits / bands, threshold, maxBucketSize)
  }

  /** Banded pairs + exact-cosine verify over an ALREADY-SIGNED frame
    * (id, v, sig) — shared by [[embeddingNearDupBanded]] and the
    * single-signing ingest path [[embIngestSegmentFrames]].
    */
  private def embPairsSigned(
      sig: DataFrame,
      bands: Int,
      rows: Int,
      threshold: Double,
      maxBucketSize: Int,
      lean: Boolean = false): DataFrame = {
    val cand = pairsFromBuckets(embBanded(sig, bands, rows), maxBucketSize, lean)
    val vA0 = sig.select(col("id").as("id_a"), col("v").as("v_a"))
    val vB0 = sig.select(col("id").as("id_b"), col("v").as("v_b"))
    // lean: batch-bounded sides broadcast (the mhPairsSigned rationale)
    val vA = if (lean) broadcast(vA0) else vA0
    val vB = if (lean) broadcast(vB0) else vB0
    cand
      .join(vA, Seq("id_a"))
      .join(vB, Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        VectorExpressions.cosineFast(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** [[mhMeta]]'s memoized read for the embedding index family. */
  private def embMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      sourceTag: String): (Int, Int, Int) = {
    val key = s"emb:$indexPath"
    val (nb, b, sd, src) = Option(metaCache.get(key)).getOrElse {
      val m = spark.read.parquet(s"$indexPath/_meta").collect()(0)
      val t = (
        m.getAs[Int]("n_bits"),
        m.getAs[Int]("bands"),
        m.getAs[Int]("seed"),
        m.getAs[String]("source"))
      metaCache.put(key, t)
      t
    }
    require(
      sourceTag.isEmpty || src == sourceTag,
      s"embedding index at $indexPath was built from " +
        s"'$src', not '$sourceTag' — refusing to " +
        "probe/append a different corpus")
    (nb, b, sd)
  }

  /** Validate-or-create the embedding index `_meta` (the
    * [[minHashEnsureMeta]] contract: first writer fixes the signing
    * parameters, every later batch must present the same ones).
    */
  def embEnsureMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      nBits: Int,
      bands: Int,
      seed: Int,
      sourceTag: String = ""): Unit = {
    require(nBits % bands == 0, "bands must divide nBits")
    require(
      nBits / bands < 64,
      "rows-per-band must be < 64: the band mask (1L << rows) - 1 wraps " +
        "at 64 and every signature would hash into one mega-bucket")
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexPath/_meta")
    val fs =
      metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(metaPath)) {
      var (nb, b, sd) = embMeta(spark, indexPath, sourceTag)
      if (nb != nBits || b != bands || sd != seed) {
        // stale-memo self-heal, same as [[minHashEnsureMeta]]
        metaCache.remove(s"emb:$indexPath")
        val fresh = embMeta(spark, indexPath, sourceTag)
        nb = fresh._1; b = fresh._2; sd = fresh._3
      }
      require(
        nb == nBits && b == bands && sd == seed,
        s"embedding index at $indexPath was built with (nBits=$nb, " +
          s"bands=$b, seed=$sd); refusing ($nBits, $bands, $seed) — " +
          "signatures would be incomparable")
    } else {
      metaCache.remove(s"emb:$indexPath")
      spark
        .range(1)
        .select(
          lit(nBits).as("n_bits"),
          lit(bands).as("bands"),
          lit(seed).as("seed"),
          lit(sourceTag).as("source"))
        .write
        .mode("overwrite")
        .parquet(metaPath.toString)
      metaCache.put(s"emb:$indexPath", (nBits, bands, seed, sourceTag))
    }
  }

  /** Sign `df` with the index's OWN parameters → (signatures, sized
    * buckets) segment frames, the per-batch commit unit of
    * [[graft.streaming.EmbedIngest]]. Signatures keep the vector —
    * probes need it for the exact-cosine confirm.
    */
  def embSegmentFrames(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      indexPath: String,
      sourceTag: String = ""): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val (nBits, bands, seed) = embMeta(spark, indexPath, sourceTag)
    val sig = embSignatures(df, vecCol, idCol, nBits, seed)
      .transform(graft.ops.Stage.materializeOnce)
    val banded = embBanded(sig, bands, nBits / bands)
    (
      sig,
      banded.withColumn(
        "bn",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("bucket"))))
  }

  /** Recompute sized buckets from STORED embedding signatures — the
    * [[minHashRebucket]] analog (banding is a pure function of the
    * persisted `sig` column), used by segment compaction.
    */
  def embRebucket(
      sig: DataFrame,
      indexPath: String,
      sourceTag: String = ""): DataFrame = {
    val (nBits, bands, _) =
      embMeta(sig.sparkSession, indexPath, sourceTag)
    val banded = embBanded(sig, bands, nBits / bands)
    val sizes = banded.groupBy("bucket").agg(count(lit(1)).as("bn"))
    banded.join(sizes, Seq("bucket"))
  }

  /** Probe a persisted embedding index with a NEW batch: sign the batch
    * with the index's own parameters, band-join against the persisted
    * buckets, confirm candidates with exact cosine. The batch side is
    * BROADCAST into both joins; the index is only ever column-pruned
    * scanned — (bucket, id, bn) for candidates, (id, v) for the
    * confirm — and never shuffled.
    *
    * @return (probe_id, corpus_id, cos) — one row per verified
    *         embedding near-dup of a batch row against the corpus
    */
  def embProbeIndex(
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      indexPath: String,
      threshold: Double = 0.9,
      maxBucketSize: Int = 1024,
      sourceTag: String = ""): DataFrame = {
    val spark = batch.sparkSession
    VectorExpressions.register(spark)
    val (nBits, bands, seed) = embMeta(spark, indexPath, sourceTag)
    val bSig = embSignatures(batch, vecCol, idCol, nBits, seed)
      .transform(graft.ops.Stage.materializeOnce)
    embProbeSigned(
      bSig, indexPath, bands, nBits / bands, threshold, maxBucketSize)
  }

  /** The probe over an ALREADY-SIGNED batch frame (id, v, sig) — the
    * scan/broadcast shape of [[embProbeIndex]], shared with the
    * single-signing ingest path.
    */
  private def embProbeSigned(
      bSig: DataFrame,
      indexPath: String,
      bands: Int,
      rows: Int,
      threshold: Double,
      maxBucketSize: Int,
      lean: Boolean = false): DataFrame = {
    val spark = bSig.sparkSession
    val bBanded = embBanded(bSig, bands, rows)
      .select(col("bucket"), col("id").as("probe_id"))
    // lean (ingest): ONE corpus scan — the sig frame alone, bucket
    // keys re-derived in-plan from the persisted `sig` column (the
    // embRebucket identity) and the skew guard as the driver-held
    // over-cap set ([[leanOverCapSet]], the fused probe's rule — the
    // two ingest shapes must share one cap granularity or fused ==
    // unfused parity breaks in the over-cap corner). This replaces a
    // buckets-tree scan + a candidate-pair broadcast build with zero
    // extra reads: the vectors the verify needs arrive in the same
    // scan. Candidate dedup stays dropped on lean (a k-band duplicate
    // hit costs one redundant cosine; the consumer distincts probe_id
    // downstream). The index reads go through the versioned frame
    // cache — a per-micro-batch probe amortizes the persisted base.
    if (lean) {
      val overCap = leanOverCapSet(spark, s"$indexPath/buckets", maxBucketSize)
      val scan0 = readIndexCached(spark, s"$indexPath/sig")
        .select(
          col("id").as("corpus_id"),
          col("v").as("v_c"),
          explode(embBucketArray(bands, rows)).as("bucket"))
      // isInCollection → InSet hash-set membership (the fused probe's
      // rationale); `bucket` is never null so not-in is total
      val scan =
        if (overCap.isEmpty) scan0
        else scan0.where(!col("bucket").isInCollection(overCap))
      scan
        .join(broadcast(bBanded), Seq("bucket"))
        .join(
          broadcast(
            bSig.select(col("id").as("probe_id"), col("v").as("v_p"))),
          Seq("probe_id"))
        .select(
          col("probe_id"),
          col("corpus_id"),
          VectorExpressions.cosineFast(col("v_c"), col("v_p")).as("cos"))
        .where(col("cos") >= threshold)
    } else {
      // query path: one-shot probes keep the buckets tree's per-row
      // `bn` filter (exact per-granule skew semantics) and plain
      // parquet reads — nothing amortizes here
      val cand = readIndexParquet(spark, s"$indexPath/buckets")
        .where(col("bn") <= maxBucketSize)
        .join(broadcast(bBanded), Seq("bucket"))
        .select(col("probe_id"), col("id").as("corpus_id"))
        .distinct()
      // two small broadcasts (bare pairs + batch vectors), never the
      // fat pairs×vectors product — the mhProbeSigned rationale
      readIndexParquet(spark, s"$indexPath/sig")
        .select(col("id").as("corpus_id"), col("v").as("v_c"))
        .join(broadcast(cand), Seq("corpus_id"))
        .join(
          broadcast(
            bSig.select(col("id").as("probe_id"), col("v").as("v_p"))),
          Seq("probe_id"))
        .select(
          col("probe_id"),
          col("corpus_id"),
          VectorExpressions.cosineFast(col("v_c"), col("v_p")).as("cos"))
        .where(col("cos") >= threshold)
    }
  }

  /** SINGLE-SIGNING micro-batch ingest (the hot path of
    * [[graft.streaming.EmbedIngest]]): sign the batch once, intra-dedup
    * on the signed frame (banded pairs → components → min-id
    * survivors), probe the persisted corpus with the SAME signatures,
    * and return the survivors' (signatures, sized buckets) segment
    * frames ready to commit. The naive composition
    * (embeddingNearDupBanded → embDedupIncoming → embSegmentFrames)
    * hyperplane-signs the batch three times with three checkpoint
    * materializations; survivor signatures are a subset of the batch's,
    * so one signing pass suffices.
    */
  def embIngestSegmentFrames(
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      indexPath: String,
      threshold: Double,
      maxBucketSize: Int = 1024,
      probeCorpus: Boolean = true,
      sourceTag: String = ""): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    VectorExpressions.register(spark)
    val (nBits, bands, seed) = embMeta(spark, indexPath, sourceTag)
    val rows = nBits / bands
    def sizedBuckets(survivors: DataFrame): DataFrame =
      embBanded(survivors, bands, rows).withColumn(
        "bn",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
    val idType = batch.schema
      .find(_.name.equalsIgnoreCase(idCol))
      .map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"column $idCol not found in batch"))
    if (!fusableIdType(idType))
      return embIngestSegmentFramesUnfused(
        batch, vecCol, idCol, indexPath, threshold, maxBucketSize,
        probeCorpus, sourceTag, nBits, bands, seed, sizedBuckets)
    // the fused shape of [[mhIngestSegmentFrames]]: one signing pass
    // gathered in ONE job (lazy re-root, lean-spread batch), then the
    // corpus probe as a SECOND job whose batch-side inputs are the
    // already-collected rows re-wrapped as LOCAL tables — broadcasting
    // a LocalTableScan builds on the driver with no job, so the fused
    // batch pays two jobs where the former union-plan shape paid four
    // (the signing checkpoint materialization + one plan-side
    // broadcast build per batch leg + the gather). Measured as the
    // largest slice of the per-trigger fixed cost (the r12 verdict's
    // trigger-interval lever). ALL verification + drop resolution +
    // segment-frame building stays on the driver (measured: skipping
    // the spreadLean exchange LOWERED throughput ~25% — the collect's
    // payload deserialization rides the batch's partitioning).
    val stable = graft.ops.Stage.materializeLazy(
      spreadLean(batch.select(col(idCol), col(vecCol))))
    // no checkpoint: the signing pipeline now has exactly ONE consumer
    // (the gather) — a lazy persist would add a materialization job to
    // save recomputation that no longer happens
    val sig0 = embSignatures(stable, vecCol, idCol, nBits, seed)
    val vType = sig0.schema("v").dataType
    val vIsFloat = vType match {
      case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, _) => true
      case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, _) => false
      case other =>
        // cosineFast itself only accepts float/double arrays — surface
        // the same contract here rather than a driver ClassCastException
        throw new IllegalArgumentException(
          s"embedding ingest expects array<float|double>, got $other")
    }
    // one row per batch vector (vector + 64-bit signature + un-exploded
    // bucket keys) — from here on the batch lives on the DRIVER: the
    // corpus probe's batch side, intra verification, drop resolution,
    // and BOTH segment frames (the cluster-side survivor anti-join and
    // the bn window were two more jobs and a shuffle per batch for
    // data already sitting in this collect). The `t` discriminator
    // column survives the probe-leg removal so the shared gather
    // helpers (hasDuplicatePayloadIds) keep one row contract across
    // the mh/emb/sig64 fused paths.
    val gathered = sig0.select(
      lit(0).as("t"),
      col("id").as("x"),
      col("v").as("p"),
      col("sig").as("s"),
      embBucketArray(bands, rows).as("bks"))
    val rows0 = gatherCapped(gathered) match {
      case Some(rs) => rs
      case None =>
        return embIngestSegmentFramesUnfused(
          batch, vecCol, idCol, indexPath, threshold, maxBucketSize,
          probeCorpus, sourceTag, nBits, bands, seed, sizedBuckets)
    }
    // duplicate-id batches diverge under vMap's put-overwrite (the
    // mhIngestSegmentFrames guard, same rationale) — distributed shape
    if (hasDuplicatePayloadIds(rows0))
      return embIngestSegmentFramesUnfused(
        batch, vecCol, idCol, indexPath, threshold, maxBucketSize,
        probeCorpus, sourceTag, nBits, bands, seed, sizedBuckets)
    // vectors promote to doubles for the verify math — cosineFast
    // promotes each float element before accumulating and float→double
    // promotion is exact, so these doubles reproduce its math
    // bit-for-bit; the RAW collected value is kept for the segment
    // write so the persisted rows are byte-identical to a cluster-side
    // write. A vector containing a NULL element promotes to null (NOT
    // 0.0 — unboxing would silently zero it): cosineFast returns NULL
    // on null elements, null >= threshold is false, so the pair must
    // be unverifiable here too or the fused and distributed paths
    // would diverge on null-bearing arrays.
    def promote(vSeq: scala.collection.Seq[_]): Array[Double] = {
      val out = new Array[Double](vSeq.length)
      var i = 0
      val it = vSeq.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e == null) return null
        out(i) = if (vIsFloat) e.asInstanceOf[Float].toDouble
                 else e.asInstanceOf[Double]
        i += 1
      }
      out
    }
    val bucketsMap =
      new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Any]]()
    val vMap = new java.util.HashMap[Any, Array[Double]]()
    // (id, raw v, sig, bucket keys) per batch row, in collect order —
    // a LIST, not a map, so duplicate ids write through like the
    // cluster path
    val payload = scala.collection.mutable
      .ArrayBuffer.empty[(Any, AnyRef, Any, scala.collection.Seq[Int])]
    rows0.foreach { r =>
      if (r.getInt(0) == 0) {
        val id = r.get(1)
        val vSeq = r.getAs[scala.collection.Seq[_]](2)
        if (vSeq != null) vMap.put(id, promote(vSeq))
        val bks = r.getAs[scala.collection.Seq[Int]](4)
        payload += ((id, vSeq, r.get(3), bks))
        if (bks != null) bks.foreach { bk =>
          val b = bk.toLong
          var arr = bucketsMap.get(b)
          if (arr == null) {
            arr = scala.collection.mutable.ArrayBuffer.empty[Any]
            bucketsMap.put(b, arr)
          }
          arr += id
        }
      }
    }
    // Corpus probe verified IN-PLAN — embedding LSH geometry is coarse
    // (bands of a few bits → many candidate collisions per probe), so
    // raw hits are CANDIDATE-volume rows; fetching their vectors to
    // the driver once measurably blew past the collect cap at steady
    // state. Only verified FLAGS reach the driver, in ONE job: the
    // corpus side is a single scan of the sig frame (bucket keys
    // re-derived in-plan from the persisted `sig`, vectors arriving in
    // the same scan), the batch side rides in as DRIVER-BUILT
    // hash-table lookups ([[graft.functions.LocalLookup]] — a
    // broadcast LocalTableScan build costs one single-task job per
    // batch; no executeCollectIterator override in Spark 4.1.2).
    // `explode` of the bucket lookup reproduces the former inner
    // join's multiplicity exactly (missing bucket → null array → row
    // dropped); the pay lookup feeds cosineFast, whose null on a
    // missing id fails the threshold the way an inner pay join dropped
    // the row. The cosine is the same CosineSimilarityExpr over the
    // same raw values (the lookup table catalyst-converts the
    // collected rows exactly as a local table did), so the flag set is
    // bit-identical up to the skew-cap granularity note on
    // [[leanOverCapSet]].
    val flagged = scala.collection.mutable.LinkedHashSet.empty[Any]
    if (probeCorpus && payload.nonEmpty) {
      import org.apache.spark.sql.types.{ArrayType, IntegerType}
      val bandedBuf = scala.collection.mutable.LinkedHashMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[Any]]
      val payBuf = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
      payload.foreach { case (id, vSeq, _, bks) =>
        // null-vector rows are never banded so they can never join a
        // hit — keep them out of the pay table (matches the mh path's
        // vals(1) != null guard, keeps the "rows without signatures
        // stay out of both locals" invariant literal)
        if (vSeq != null) payBuf += ((id, vSeq))
        if (bks != null) bks.foreach { bk =>
          bandedBuf.getOrElseUpdate(
            bk, scala.collection.mutable.ArrayBuffer.empty[Any]) += id
        }
      }
      // NO distinct on the hits: k-band duplicate hits cost one
      // redundant in-plan cosine each, while the dedup aggregate added
      // an exchange + agg to the critical path (fixed latency per
      // batch). ONE-JOB probe (round 16): the corpus side scans the
      // sig frame ALONE — bucket keys re-derive in-plan from the
      // persisted `sig` column (embBucketArray is exactly what every
      // write path evaluated to produce the buckets tree, the
      // embRebucket identity), the batch side rides as driver-built
      // lookups, and the skew guard filters against the driver-held
      // over-cap SET ([[leanOverCapSet]] — usually empty: a fused
      // segment is gather-cap bounded, so no bucket of its own can
      // exceed the cap) instead of the per-row `bn` column. The former
      // shape's buckets-scan broadcast build was one more
      // single-task job every micro-batch.
      val overCap =
        leanOverCapSet(spark, s"$indexPath/buckets", maxBucketSize)
      val scan0 = readIndexCached(spark, s"$indexPath/sig")
        .select(
          col("v").as("v_b"),
          explode(embBucketArray(bands, rows)).as("bucket"))
      // membership via isInCollection — past the optimizer's In→InSet
      // threshold this is a hash-set probe; `bucket` is a hash()
      // output and never null, so not-in semantics are total
      val scan =
        if (overCap.isEmpty) scan0
        else scan0.where(!col("bucket").isInCollection(overCap))
      val probeDf = scan
        .select(
          explode(
            graft.functions.LocalLookup(
              col("bucket"), IntegerType, ArrayType(idType),
              bandedBuf.iterator.map { case (bk, ids) => (bk, ids.toSeq) }))
            .as("probe_id"),
          col("v_b"))
        .where(
          VectorExpressions.cosineFast(
            graft.functions.LocalLookup(
              col("probe_id"), idType, vType, payBuf),
            col("v_b")) >= threshold)
        .select(col("probe_id"))
      probeDf.collect().foreach(r => flagged += r.get(0))
    }
    // the EXACT cosineFast recursion ([[VectorExpressions
    // .CosineSimilarityExpr.nullSafeEval]]): in-order dot/norm
    // accumulation, dot/(√na·√nb) — bit-identical to the in-plan
    // verify the unfused path runs
    def cosineOkArr(x: Array[Double], y: Array[Double]): Boolean = {
      if (x == null || y == null || x.length != y.length) return false
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < x.length) {
        val xv = x(i)
        val yv = y(i)
        dot += xv * yv
        na += xv * xv
        nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb)) >= threshold
    }
    val seen = scala.collection.mutable.HashSet.empty[(Any, Any)]
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
    bucketsMap.values.forEach { members =>
      if (members.length >= 2 && members.length <= maxBucketSize) {
        val ids = members.distinct.sortWith(idLess)
        var i = 0
        while (i < ids.length) {
          var j = i + 1
          while (j < ids.length) {
            val p = (ids(i), ids(j))
            if (seen.add(p) && cosineOkArr(vMap.get(p._1), vMap.get(p._2)))
              edges += p
            j += 1
          }
          i += 1
        }
      }
    }
    val drop = resolveDrop(edges, flagged).toSet
    val survivors = payload.filterNot(t => drop.contains(t._1))
    driverSegmentFrames(
      spark,
      sig0.schema,
      idType,
      survivors.map(t => (t._1, Seq[Any](t._1, t._2, t._3), t._4)).toSeq)
  }

  /** Build the (sig, buckets) segment frames of a fused micro-batch
    * DRIVER-SIDE from the already-collected survivor payloads: the
    * cluster-side alternative re-reads the signed frame for a survivor
    * anti-join plus a count-over-window shuffle — two more jobs and an
    * exchange per batch for a few hundred rows this process is already
    * holding.
    *
    * INVARIANT — `bn` is SEGMENT-LOCAL, never corpus-global: it counts
    * this batch's survivors per bucket, exactly what the unfused
    * windowed form computes over its own segment frame. Per-row probe
    * readers (the mh/sig64 probes, emb QUERY-path probes) filter
    * `bn <= maxBucketSize` per segment row, so the skew guard composes
    * across segments without a global count; COMPACTION is the only
    * place a corpus-global `bn` is computed (it re-buckets the union
    * of stored signatures). Do not "fix" this to a corpus count — that
    * would double-apply the guard after compaction and change which
    * buckets probe. The emb LEAN probes consume `bn` indirectly, as
    * the derived over-cap bucket SET ([[leanOverCapSet]] — any granule
    * whose own `bn` exceeds the cap contributes its bucket), trading
    * the per-granule drop granularity for a one-scan probe; the
    * rationale and the corner where the rules differ are documented
    * there.
    */
  /** (rows, schema) of the segment frames [[driverSegmentFrames]]
    * built from driver-held survivor payloads — identity-keyed so the
    * ingest wrappers can write the frame WITHOUT a Spark write job
    * ([[org.apache.spark.sql.graftbridge.DriverParquet]]; a
    * `df.write.parquet` of a few hundred local rows costs a full
    * task-launch + committer round per tree per batch). Weak keys: a
    * retired frame must not pin its rows.
    */
  private val localSegmentRowsMap = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      DataFrame,
      (Seq[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType)]())

  private[graft] def localSegmentRows(df: DataFrame): Option[
    (Seq[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)] =
    Option(localSegmentRowsMap.get(df))

  private def driverSegmentFrames(
      spark: org.apache.spark.sql.SparkSession,
      sigSchema: org.apache.spark.sql.types.StructType,
      idType: org.apache.spark.sql.types.DataType,
      survivors: Seq[(Any, Seq[Any], scala.collection.Seq[Int])],
      // bucket-row values from (payload values, bucket, bn) — the
      // sig64 tree carries the signature beside the bucket key
      // (inline-Hamming probes), mh/emb trees don't
      bucketRowVals: (Seq[Any], Int, Long) => Seq[Any] =
        (vals, bk, n) => Seq(vals.head, bk, n),
      bucketsSchemaExtra: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val slices = math.max(1, math.min(4, survivors.size))
    val sigRows = survivors.map(t => org.apache.spark.sql.Row(t._2: _*))
    val sigFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(sigRows, slices), sigSchema)
    val bn = scala.collection.mutable.HashMap.empty[Int, Long]
    survivors.foreach { case (_, _, bks) =>
      if (bks != null) bks.foreach(bk => bn.update(bk, bn.getOrElse(bk, 0L) + 1))
    }
    val bktRows = survivors.flatMap { case (_, vals, bks) =>
      if (bks == null) Nil
      else bks.map(bk =>
        org.apache.spark.sql.Row(bucketRowVals(vals, bk, bn(bk)): _*))
    }
    val bktSchema = StructType(
      Seq(StructField("id", idType)) ++ bucketsSchemaExtra ++ Seq(
        StructField("bucket", IntegerType),
        StructField("bn", LongType)))
    val bucketsFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(bktRows, slices), bktSchema)
    localSegmentRowsMap.put(sigFrame, (sigRows, sigSchema))
    localSegmentRowsMap.put(bucketsFrame, (bktRows, bktSchema))
    (sigFrame, bucketsFrame)
  }

  /** Distributed (unfused) embedding ingest shape — the
    * [[mhIngestSegmentFramesUnfused]] rationale.
    */
  private def embIngestSegmentFramesUnfused(
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      indexPath: String,
      threshold: Double,
      maxBucketSize: Int,
      probeCorpus: Boolean,
      sourceTag: String,
      nBits: Int,
      bands: Int,
      seed: Int,
      sizedBuckets: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val rows = nBits / bands
    // spread + LAZY re-root at a LogicalRDD (the round-14 restructure
    // of [[mhIngestSegmentFramesUnfused]] — codegen-cache stability,
    // real parallelism for signing/broadcast-collects/writes, one
    // fewer eager job)
    val stableBatch = graft.ops.Stage.materializeLazy(
      spreadLean(batch.select(col(idCol), col(vecCol))))
    val sig0 = embSignatures(stableBatch, vecCol, idCol, nBits, seed)
      .transform(graft.ops.Stage.materializeOnce)
    // concurrent corpus probe over sig0 (flags of intra-dropped docs
    // are harmless — survivors subtract the union)
    val flagged = asyncFlagLocal(
      batch.sparkSession, batch.schema, idCol, probeCorpus)(
      embProbeSigned(
        sig0, indexPath, bands, rows, threshold, maxBucketSize,
        lean = true)
        .select(col("probe_id"))
        .distinct()
        .collect()
        .map(_.get(0)))
    withFlagsCancelOnFailure(flagged) {
      val intraDrop = resolveComponentsAuto(
        embPairsSigned(
          sig0, bands, rows, threshold, maxBucketSize, lean = true))
        .where(col("id") =!= col("component"))
        .select("id")
      val intraSig = sig0.join(broadcast(intraDrop), Seq("id"), "left_anti")
      val survivors = (flagged() match {
        case None => intraSig
        case Some(f) => intraSig.join(broadcast(f), Seq("id"), "left_anti")
        // both segment writes consume this — checkpoint or the probe
        // re-executes per write (see mhIngestSegmentFramesUnfused)
      }).transform(graft.ops.Stage.materializeOnce)
      (survivors, sizedBuckets(survivors))
    }
  }

  /** The ingest decision over an embedding probe — keep batch rows with
    * no verified embedding near-dup in the corpus ([[dedupIncoming]]'s
    * broadcast LEFT ANTI shape).
    */
  def embDedupIncoming(
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      indexPath: String,
      threshold: Double = 0.9,
      maxBucketSize: Int = 1024,
      sourceTag: String = ""): DataFrame =
    batch.join(
      broadcast(
        embProbeIndex(
          batch, vecCol, idCol, indexPath, threshold, maxBucketSize,
          sourceTag)
          .select(col("probe_id").as(idCol))
          .distinct()),
      Seq(idCol),
      "left_anti")

  /** Gopher-style duplicated-n-gram fraction per document: the share of
    * each doc's DISTINCT word n-grams that also occur in at least one
    * OTHER document (Rae et al., "Scaling Language Models: ... Gopher",
    * arXiv:2112.11446 §A1.1 uses duplicate-n-gram fractions as quality
    * filters). Returns (id, n_grams, n_dup, dup_frac); docs with fewer
    * than n tokens have no n-grams and are absent.
    *
    * Scale shape: grams are reduced to 64-bit xxhash64 values BEFORE any
    * exchange, so every shuffle carries (id, 16-byte hash) rows instead
    * of gram strings (the same 2^-64 collision trade as
    * [[minHashNearDup]]'s shingle hashes). Three exchanges total:
    * distinct (doc, gram) pairs, the per-gram document-frequency partial
    * aggregation, and the per-doc roll-up; the df side is aggregated
    * (partial+final), not windowed, so a boilerplate gram present in
    * millions of docs streams through the join instead of buffering one
    * giant window group.
    */
  def duplicatedNgramFraction(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 1, s"n-gram length must be >= 1, got $n")
    // one 64-bit hash per DISTINCT word n-gram, fused into a single
    // native pass ([[graft.functions.WordGramHashesExpr]] — round 17):
    // the composable form below ([[distinctGramHashesComposable]], kept
    // as the parity-spec reference) evaluated an interpreted lambda per
    // gram (slice + concat_ws + xxhash64, each materializing
    // intermediates) — the dominant CPU of q149's scan stage
    val grams = graft.functions.WordGramHashesExpr.ofColumn(col(textCol), n)
    // within-doc dedup ("a gram repeated WITHIN a doc counts once") is
    // built into the fused expression — no distinct exchange. The
    // cross-doc frequency is a partial+final aggregation joined back,
    // NOT count-over-window: WindowExec buffers a gram's ENTIRE group
    // in one task, so a boilerplate gram present in millions of docs
    // would become a single hot, spill-bound partition. The agg's
    // map-side combine collapses that gram to one row per input
    // partition before the exchange, and the join back streams the
    // probe rows against a one-row-per-key build side — skew-safe at
    // any gram frequency. The two gh-exchanges share one shuffle:
    // `docGram` is an identical subplan on both sides, so
    // ReuseExchange dedups it.
    val docGram = docs
      .select(col(idCol), explode(grams).as("gh"))
    val gramDf = docGram.groupBy("gh").agg(count(lit(1)).as("ndocs"))
    docGram
      .join(gramDf, "gh")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup"))
      // ratio of two exact integers: one correctly-rounded IEEE division,
      // identical in any engine
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_grams"))
  }

  /** SUBSTRING-level dedup, phase 1: the duplicated SPANS of each
    * document — maximal token ranges covered by n-token windows whose
    * content also appears in at least `minDocFreq` distinct documents
    * (the windowed, distributed form of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * their suffix-array pass finds exact duplicate substrings; a
    * sliding n-token window catches every duplicate of length >= n
    * tokens at 1/n the index size and no global suffix sort). Output:
    * (id, span_start, span_end), 1-based inclusive token indices,
    * overlapping/adjacent windows merged per doc (so spans are disjoint
    * and non-adjacent).
    *
    * Scale shape: windows reduce to (id, pos, 64-bit xxhash64) in the
    * scan projection — no window string survives past the map side.
    * Exchanges: distinct (id, hash) pairs, the per-hash doc-frequency
    * aggregation (partial+final — a boilerplate window in millions of
    * docs streams through), the hash-join back, and one per-doc window
    * pass whose groups are bounded by tokens-per-doc. The gaps-and-
    * islands merge is two window functions, not a per-doc UDF.
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minDocFreq: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"window length must be >= 1, got $n")
    require(
      minDocFreq >= 2,
      s"minDocFreq must be >= 2 (got $minDocFreq): below that every " +
        "window is a duplicated span and the output is the whole corpus")
    // Window hashing in ONE fused native pass (round 17 —
    // [[graft.functions.TokenWindowHashesExpr]], the WordGramHashesExpr
    // recipe): the previous two-pass composable form (kept as the
    // parity-spec reference, `TokenWindowHashesExpr.composableFrame`)
    // still paid an interpreted lambda PER TOKEN (the hash transform)
    // and PER WINDOW (the variadic element_at battery); the fused
    // expression hashes token bytes in place and folds each window
    // with the identical XxHash64 field fold, so the emitted hash
    // values are bit-equal (CurationSpec differences them). Any
    // deterministic order-sensitive combination preserves the
    // window-equality classes the oracle computes on gram STRINGS,
    // modulo the same 2^-64 collision trade as
    // [[duplicatedNgramFraction]]. posexplode reproduces the 1-based
    // window position as index + 1 (cast keeps pos at bigint — the
    // declared span columns' type).
    val docWin = docs
      .select(
        col(idCol),
        posexplode(
          graft.functions.TokenWindowHashesExpr.ofColumn(col(textCol), n)))
      .select(
        col(idCol),
        (col("pos").cast("long") + 1L).as("pos"),
        col("col").as("gh"))
    val docFreq = docWin
      .select(col(idCol), col("gh"))
      .distinct() // a window repeated WITHIN a doc counts one doc
      .groupBy("gh")
      .agg(count(lit(1)).as("ndocs"))
      .where(col("ndocs") >= minDocFreq)
    val dupPos = docWin.join(docFreq, "gh").select(col(idCol), col("pos"))
    val before = Window
      .partitionBy(idCol)
      .orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = Window
      .partitionBy(idCol)
      .orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    dupPos
      // island break iff this window starts past the previous furthest
      // end + 1 (end = pos + n - 1, and max(pos) is max(end) for fixed
      // n); the coalesce makes the first row compare against itself
      .withColumn(
        "__brk",
        when(col("pos") > coalesce(max(col("pos")).over(before) + n, col("pos")), 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(run))
      .groupBy(col(idCol), col("__island"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** SUBSTRING-level dedup, phase 2: remove each doc's duplicated spans
    * ([[duplicateSpans]]) from its text. Output per input doc: id,
    * n_removed (tokens deleted), clean_text (remaining tokens joined by
    * single spaces — whitespace is normalized, which is what tokenizing
    * pipelines consume anyway). Docs that are one big duplicated span
    * come back with clean_text = "" rather than disappearing: dropping
    * a row is a corpus-level policy ([[exact]] etc.), not this
    * operator's.
    *
    * Scale shape: spans collapse to one small array per affected doc
    * (disjoint merged ranges, bounded by tokens/n), joined back on id;
    * the removal itself is a per-row codegen'd higher-order `filter`
    * over the token array — no explode of the corpus into one row per
    * token, no UDF.
    */
  def removeDuplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minDocFreq: Int = 2): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, n, minDocFreq)
      .groupBy(idCol)
      .agg(
        collect_list(struct(col("span_start"), col("span_end")))
          .as("__spans"),
        sum(col("span_end") - col("span_start") + 1).as("__removed"))
    docs
      .join(spans, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__removed"), lit(0L)).as("n_removed"),
        concat_ws(
          " ",
          filter(
            TextFunctions.tokens(col(textCol)),
            (tok, i) =>
              not(coalesce(
                exists(
                  col("__spans"),
                  sp =>
                    (i + 1) >= sp("span_start") && (i + 1) <= sp("span_end")),
                lit(false))))).as("clean_text"))
  }
}
