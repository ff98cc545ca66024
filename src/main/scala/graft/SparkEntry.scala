package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §2.3 + §7.
  *
  * Each `queries` entry exercises one operator-inventory row (SURVEY §2);
  * each has a DuckDB-equivalent oracle in [[oracleSql]] with identical
  * column names (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query (Q12 composition) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q12Composition(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- Q1
  /** O1 axis=1 row UDF: sin(q^2)+sin(d^2) per lineitem row
    * (UDF from reference tests/test_pandarallel.py:41-45).
    */
  private def q01(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    RowApply.exprApply(li)(
      "l_orderkey" -> col("l_orderkey"),
      "l_linenumber" -> col("l_linenumber"),
      "v" -> (sin(col("l_quantity") * col("l_quantity")) +
        sin(col("l_discount") * col("l_discount"))))
  }

  // ---------------------------------------------------------------- Q2
  /** O1 axis=0 column-reduce UDF: max(x)-min(x) per numeric column
    * (reference tests/test_pandarallel.py:31-35).
    */
  private val q2Cols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private def q02(s: SparkSession, d: String): DataFrame =
    ColApply.reduce(Tables.lineitem(s, d), q2Cols)(
      c => max(c) - min(c),
      n => s"range_$n")

  // ---------------------------------------------------------------- Q3
  /** O2 applymap cell UDF: sin(x^2)-cos(x^2) on every numeric cell of
    * part (reference tests/test_pandarallel.py:49-55).
    */
  private def q03(s: SparkSession, d: String): DataFrame =
    ColApply.applymap(
      Tables.part(s, d),
      c => sin(c * c) - cos(c * c),
      cols = Seq("p_size", "p_retailprice"),
      keep = Seq("p_partkey"),
      outName = n => s"m_$n")

  // ---------------------------------------------------------------- Q4
  /** O3 series map UDF: log10(sqrt(exp(x^2))) over l_discount
    * (reference tests/test_pandarallel.py:59-65).
    */
  private def q04(s: SparkSession, d: String): DataFrame =
    SeriesOps.mapExpr(
      Tables.lineitem(s, d),
      "l_discount",
      Seq("l_orderkey", "l_linenumber"),
      "v")(x => log10(sqrt(exp(x * x))))

  // ---------------------------------------------------------------- Q5
  /** O4 series apply with extra args power=2, bias=3
    * (reference tests/test_pandarallel.py:69-77,248-253).
    */
  private def q05(s: SparkSession, d: String): DataFrame =
    SeriesOps.applyExpr(
      Tables.lineitem(s, d),
      "l_discount",
      Seq("l_orderkey", "l_linenumber"),
      "v",
      (2.0, 3.0)) { case (x, (power, bias)) =>
      log10(sqrt(exp(pow(x, power)))) + bias
    }

  // ---------------------------------------------------------------- Q6
  /** O5 scalar group UDF: per-l_returnflag avg(log10(sqrt(exp(d^2))))
    * (reference tests/test_pandarallel.py:95-103). Partial+final hash agg.
    */
  private def q06(s: SparkSession, d: String): DataFrame =
    GroupApply.agg(Tables.lineitem(s, d), Seq("l_returnflag"))(
      avg(log10(sqrt(exp(col("l_discount") * col("l_discount"))))).as("v"))

  // ---------------------------------------------------------------- Q7
  /** O5 DataFrame-returning group UDF: per-priority price stats
    * (reference tests/test_pandarallel.py:107-114).
    */
  private def q07(s: SparkSession, d: String): DataFrame =
    GroupApply.agg(Tables.orders(s, d), Seq("o_orderpriority"))(
      avg(col("o_totalprice")).as("avg_price"),
      min(col("o_totalprice")).as("min_price"),
      max(col("o_totalprice")).as("max_price"))

  // ---------------------------------------------------------------- Q8
  /** O5 multi-key grouping (reference tests/test_pandarallel.py:291-293). */
  private def q08(s: SparkSession, d: String): DataFrame =
    GroupApply.agg(
      Tables.lineitem(s, d),
      Seq("l_returnflag", "l_linestatus"))(
      avg(log10(sqrt(exp(col("l_discount") * col("l_discount"))))).as("v"))

  // ---------------------------------------------------------------- Q9
  /** O6 series rolling apply, window 4, black-box polynomial UDF
    * x0 + x1^2 + x2^3 + x3^4 (reference tests/test_pandarallel.py:81-91).
    * Exercises the arbitrary-window-UDF path: one streaming
    * [[graft.ops.RollingApply]] operator over the sorted rows, `f` called
    * on a view of each frame. Ungrouped total order = single-partition
    * exchange (see Windows scaladoc).
    */
  private def q09(s: SparkSession, d: String): DataFrame =
    Windows
      .rollingCollect(
        Tables.events(s, d),
        col("value"),
        orderBy = Seq(col("event_id")),
        partitionBy = Nil,
        window = 4,
        outName = "v") { xs =>
        xs(0) + math.pow(xs(1), 2) + math.pow(xs(2), 3) + math.pow(xs(3), 4)
      }
      .select("event_id", "v")

  // ---------------------------------------------------------------- Q10
  /** O7 grouped rolling apply (reference tests/test_pandarallel.py:308-325):
    * Q9's polynomial partitioned by user_id — scales horizontally (hash
    * exchange on user_id and a sort on event_id alone, then the same
    * streaming [[graft.ops.RollingApply]] operator evaluates each
    * user's frames from a ring per user).
    */
  private def q10(s: SparkSession, d: String): DataFrame =
    Windows
      .rollingCollect(
        Tables.events(s, d),
        col("value"),
        orderBy = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")),
        window = 4,
        outName = "v") { xs =>
        xs(0) + math.pow(xs(1), 2) + math.pow(xs(2), 3) + math.pow(xs(3), 4)
      }
      .select("user_id", "event_id", "v")

  // ---------------------------------------------------------------- Q11
  /** O8 grouped expanding apply (reference tests/test_pandarallel.py:131-141,
    * simplified weighted form): cumulative sum per user — algebraic
    * rewrite (running aggregate), run by [[graft.ops.RunningWindowExec]]:
    * hash exchange on user_id, a sort on event_id alone, one sum buffer
    * per user (memory: users in a partition × one buffer).
    */
  private def q11(s: SparkSession, d: String): DataFrame =
    Windows
      .expandingAgg(
        Tables.events(s, d),
        col("value"),
        orderBy = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")),
        outName = "cum_value")(sum)
      .select("user_id", "event_id", "cum_value")

  // ---------------------------------------------------------------- Q12
  /** Composition sanity (SURVEY §2.3 Q12): revenue per nation.
    * lineitem ⋈ orders ⋈ customer ⋈ nation with a ship-date filter.
    * nation/customer are broadcast (small dims) — no shuffle of the fact
    * table except the o_orderkey join, which AQE handles.
    */
  def q12Composition(s: SparkSession, d: String): DataFrame = {
    val li = Tables
      .lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
  }

  // ================= training-pipeline extension queries ===============
  // (beyond the reference surface — dedup / similarity / text / multimodal
  //  / streaming, per the build brief)

  import graft.functions.TextFunctions
  import graft.operators.{Dedup, Similarity}
  import graft.multimodal.Multimodal
  import graft.streaming.EventStream

  /** documents.parquet is one small file → one scan partition; the text
    * operators are CPU-bound per row, so spread rows across all cores.
    * (On a real cluster the corpus arrives as many splits and this
    * repartition is unnecessary — it exists to decouple CPU parallelism
    * from file-split sizing.)
    */
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism)

  /** Exact dedup on documents: one row per distinct content digest. */
  private def q13(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "text", "doc_id")

  /** q14/q227 shared stage: the verified MinHash near-dup PAIR frame
    * over the documents corpus — q14 declares the pairs themselves and
    * q227 resolves them into components for the scored-survivor
    * policy, so the sign→band→verify pipeline (the expensive part)
    * materializes once per (session, dir) and both queries consume the
    * identical rows ([[sharedStage]] — the cross-query discipline the
    * persisted indexes and the perceptual fingerprint frames already
    * follow). This is also the production shape: one pair pass feeds
    * every downstream consumer (reporting, component resolution,
    * survivor selection).
    */
  private def mhPairsShared(s: SparkSession, d: String): DataFrame =
    sharedStage(s, d, "mh_pairs") {
      Dedup.minHashNearDup(
        docs(s, d),
        "text",
        "doc_id",
        shingleLen = 4,
        numHashes = 32,
        bands = 8,
        threshold = 0.4)
    }

  /** MinHash+LSH near-dup pairs (non-SQL-expressible → rows-only check). */
  private def q14(s: SparkSession, d: String): DataFrame =
    mhPairsShared(s, d)

  /** Per-doc 64-bit SimHash + rolling-hash fingerprint (rows-only).
    * Uses the native one-pass SimHash expression (SignatureExpressions).
    */
  private def q15(s: SparkSession, d: String): DataFrame = {
    graft.functions.SignatureExpressions.register(s)
    docs(s, d)
      .select(
        col("doc_id"),
        Dedup.tokenHashes(col("text")).as("__th"),
        TextFunctions.normalized(col("text")).as("__norm"))
      .select(
        col("doc_id"),
        graft.functions.SignatureExpressions.simHashFast(col("__th")).as("simhash"),
        array_min(
          graft.functions.SignatureExpressions.shingleHashesFast(col("__norm"), 8))
          .as("roll_fp"))
  }

  /** Exact blocked n-gram Jaccard pairs (trigrams). Blocking on the
    * exact char count keeps blocks tiny (pair space = Σ|block|²) — the
    * knob that makes exact pairwise comparison feasible at scale.
    */
  private def q16(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(
      docs(s, d),
      "text",
      "doc_id",
      n = 3,
      blockKey = Some(col("n_chars")),
      threshold = 0.2)

  private def queryVec(s: SparkSession, d: String): Seq[Double] =
    Tables
      .embeddings(s, d)
      .where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head()
      .getSeq[Double](0)

  /** Brute-force cosine scores of every vector vs the vec_id=0 query. */
  private def q17(s: SparkSession, d: String): DataFrame =
    Similarity.scoreAll(
      Tables.embeddings(s, d),
      "embedding",
      "vec_id",
      queryVec(s, d))

  /** Build-once LSH signature index cache (per JVM, per sf dir) — the
    * ANN probe path must not scan + re-sign the corpus per query.
    */
  private val lshIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Drop the build-once memoization so the next ANN query rebuilds its
    * index (Bench uses this to time a genuine build when the warm-up
    * pass already ran at the timed scale).
    */
  def clearIndexCaches(): Unit = {
    zLayoutCache.clear()
    lshIndexCache.clear()
    ivfIndexCache.clear()
    ivfKmIndexCache.clear()
    pqIndexCache.clear()
    ivfPqIndexCache.clear()
    ivfPqAppendIndexCache.clear()
    mhIndexCache.clear()
    embDupIndexCache.clear()
    cdcLogCache.clear()
    bpeMergesCache.clear()
    bm25IndexCache.clear()
    bm25AppendIndexCache.clear()
    sqIndexCache.clear()
    sqAppendIndexCache.clear()
    ivfOccIndexCache.clear()
    sharedStageCache.clear()
  }

  /** Cross-query shared-stage cache: where two DECLARED queries
    * provably consume the identical intermediate (q204/q210 both run
    * the HTML extraction projection, q211/q217 the audio
    * synth→decode→DFT fingerprint pipeline, q207/q212 the PNG
    * decode→dHash pipeline — same assets, same stage, byte-identical
    * rows), the stage materializes ONCE per (session, dir) and both
    * queries consume the materialized frame. This is the q194
    * shared-tokenize discipline lifted across query boundaries: the
    * sharing lives in the query DEFINITIONS (each `queries` entry
    * still declares its full pipeline through the shared stage), not
    * in any bench harness special-casing. Lazy local checkpoint — the
    * first consumer pays the compute inside its own job, every later
    * consumer reads the stored internal rows. Keyed by the SESSION
    * OBJECT (reference equality — an identityHashCode key could
    * collide between two sessions, handing one a frame bound to the
    * other, possibly stopped, session). The memo DOES pin memory for
    * a retired session (the cached frame holds the session and its
    * checkpoint blocks reachable), so every lookup first sweeps
    * entries whose underlying context has stopped — in classic Spark
    * `SparkSession.stop()` stops the shared context, so a stopped
    * session's entries are unreachable through any live path and the
    * sweep is the eviction `stop()` itself cannot give us (a weak map
    * alone would not help: the cached frame references its session,
    * so the value would pin the weak key). [[clearIndexCaches]] drops
    * the memo like every other build-once artifact.
    */
  private val sharedStageCache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String, String), DataFrame]

  private def sharedStage(s: SparkSession, d: String, key: String)(
      build: => DataFrame): DataFrame = {
    // lazy eviction: entries are a handful (declared shared stages x
    // live sessions), so the sweep is O(few) pointer checks per call
    sharedStageCache.keysIterator
      .filter(_._1.sparkContext.isStopped)
      .foreach(sharedStageCache.remove)
    sharedStageCache.getOrElseUpdate(
      (s, d, key),
      graft.ops.Stage.materializeLazy(build))
  }

  /** Collision-free scratch path per data dir: a truncated sanitized
    * basename for readability plus a 128-bit SHA-256 prefix of the FULL
    * dir string for uniqueness (a 32-bit hashCode can collide between
    * two data dirs and cross-wire their indexes; embedding the whole
    * sanitized path instead would blow the 255-byte filename limit on
    * long dirs, and sanitization itself collapses distinct dirs). The
    * raw dir is also recorded in the index `_meta` and re-validated at
    * probe time, so even a digest collision is an error, not wrong rows.
    */
  private def indexScratch(kind: String, d: String): String = {
    val digest = java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(d.getBytes("UTF-8"))
      .take(16)
      .map("%02x".format(_))
      .mkString
    val base = d.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)
    System.getProperty("java.io.tmpdir") + s"/graft-$kind-$base-$digest"
  }

  private def lshIndex(s: SparkSession, d: String): String =
    lshIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("lsh", d)
        Similarity.lshWriteIndex(
          Tables.embeddings(s, d),
          "embedding",
          "vec_id",
          path,
          nBits = 16,
          bandBits = 4,
          sourceTag = d)
        path
      })

  /** LSH-bucketed approximate top-k (rows-only — approximate by design).
    * Probes the persisted banded index — partition pruning reads only
    * the query's `bands` bucket directories.
    */
  private def q18(s: SparkSession, d: String): DataFrame =
    Similarity.lshProbeIndex(
      s,
      lshIndex(s, d),
      queryVec(s, d),
      k = 10,
      nBits = 16,
      bandBits = 4,
      sourceTag = d)

  /** q18's probe at MULTI-PROBE radius 1
    * ([[graft.operators.Similarity.lshProbeIndex]] `probeRadius`):
    * each band also reads the buckets one bit-flip away from the
    * query's key — recall rises on the SAME persisted index (more hash
    * tables would instead multiply index storage/build — the wrong
    * trade at 100 TB). Reads bands·(1+bandBits) = 20 pruned bucket
    * directories instead of 4. Rows-only (approximate by design);
    * ExtensionsSpec pins the candidate set to the exact Hamming-ball
    * predicate and its ⊇-monotonicity in radius.
    */
  private def q199(s: SparkSession, d: String): DataFrame =
    Similarity.lshProbeIndex(
      s,
      lshIndex(s, d),
      queryVec(s, d),
      k = 10,
      nBits = 16,
      bandBits = 4,
      sourceTag = d,
      probeRadius = 1)

  /** Token-count / punctuation / digit stats per document. */
  private def q19(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(t).as("n_tokens"),
        round(TextFunctions.punctRatio(t), 6).as("punct_ratio"),
        round(TextFunctions.digitRatio(t), 6).as("digit_ratio"))
  }

  /** Stopword-ratio language-ID heuristic per document (staged token
    * projection; docs() spreads the single-file corpus across cores).
    */
  private def q20(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), TextFunctions.tokens(lower(col("text"))).as("__tk"))
      .select(col("doc_id"), TextFunctions.langIdFromTokens(col("__tk")).as("lang_pred"))

  /** Composite quality score per document. */
  private def q21(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))

  /** Normalization fingerprint (md5 of case/whitespace-normalized text). */
  private def q22(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        TextFunctions.normFingerprint(col("text")).as("fp"))

  /** Batch tumbling-window aggregation over events (streaming parity —
    * same grouping as streaming.EventStream.windowedCounts).
    */
  private def q23(s: SparkSession, d: String): DataFrame =
    EventStream.bucketAggBatch(Tables.events(s, d))

  /** Multimodal plumbing: text→binary assets → batched per-partition
    * (stub) feature extraction (rows-only — decode is the fake stub).
    * The raw `array<float>` feature column is projected down to scalar
    * digests (sum + dim + a 64-bit hash of the fixed-precision render):
    * the driver canonicalizes results through pandas, which cannot hash
    * or sort numpy arrays.
    */
  private def q24(s: SparkSession, d: String): DataFrame =
    Multimodal
      .extractFeatures(
        Multimodal.assetsFromText(Tables.documents(s, d), "doc_id", "text"),
        dim = 16)
      .toDF()
      .select(
        col("id"),
        col("n_bytes"),
        col("width"),
        col("height"),
        size(col("feature")).as("feature_dim"),
        round(
          aggregate(
            col("feature").cast("array<double>"),
            lit(0.0),
            (acc, x) => acc + x),
          4).as("feature_sum"),
        xxhash64(
          concat_ws(
            ",",
            transform(col("feature"), x => format_number(x, 4))))
          .as("feature_hash"))

  /** As-of (point-in-time) join: each event picks up the most recent
    * order state of its user — the no-look-ahead join feature pipelines
    * need. union+window composition: one exchange on the key, no range
    * explosion (operators/AsOfJoin.scala).
    */
  private def q25(s: SparkSession, d: String): DataFrame = {
    import graft.operators.AsOfJoin
    val ev = Tables
      .events(s, d)
      .select(
        col("event_id"),
        col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("event_time"))
    val ord = Tables
      .orders(s, d)
      .select(
        col("o_custkey").as("user_id"),
        col("o_orderdate"),
        col("o_orderkey"),
        col("o_totalprice"))
    AsOfJoin(
      left = ev,
      right = ord,
      key = "user_id",
      leftTime = col("event_time"),
      rightTime = col("o_orderdate"),
      payload = Seq("o_orderkey", "o_totalprice"),
      tieBreak = "o_orderkey")
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
  }

  /** Gap-based sessionization (30-min gap) over events — session index
    * per user via one key-window pass (operators/Sessionize.batch; the
    * streaming twin is covered by StreamingSpec).
    */
  private def q26(s: SparkSession, d: String): DataFrame =
    graft.operators.Sessionize
      .batch(
        Tables.events(s, d),
        key = col("user_id"),
        time = col("ts"),
        gap = 1800L * 1000000000L)
      .select("event_id", "user_id", "session_id")

  /** Exact interpolated percentiles of order value per priority class —
    * partial+final percentile aggregation (one exchange).
    *
    * SCALE BOUND: Spark's exact `percentile` buffers the full per-group
    * value multiset in the aggregation buffer — executor memory grows
    * with group size, a scale-killer on a 100-TB table. This form is for
    * oracle-scale exactness; at scale use [[q43]]'s `approx_percentile`
    * (Greenwald-Khanna sketch, memory bounded by the accuracy parameter
    * regardless of group size) or a two-pass exact rank join.
    */
  private def q27(s: SparkSession, d: String): DataFrame =
    graft.ops.Stage
      // exact percentile's PARTIAL aggregation buffers every value, so
      // it is CPU/alloc-heavy and ran inside the single-task fixture
      // scan; adaptive fan-out (no-op at corpus scale) parallelizes it
      .fanOutIfNarrow(Tables.orders(s, d), col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.75)").as("p75"))

  /** Scale-safe twin of [[q27]]: `approx_percentile` keeps a bounded
    * Greenwald-Khanna sketch per group (size set by the accuracy arg, NOT
    * by group cardinality) — the percentile form that survives 100 TB.
    * Discrete (returns actual data values), so while the group fits the
    * sketch (n ≤ accuracy; true at oracle scale) the result is the exact
    * discrete quantile and DuckDB's `quantile_disc` matches it; beyond
    * that the answer degrades gracefully to ±1/accuracy rank error.
    */
  private def q43(s: SparkSession, d: String): DataFrame =
    Tables
      .orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        expr("approx_percentile(o_totalprice, 0.25, 10000)").as("p25"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("p50"),
        expr("approx_percentile(o_totalprice, 0.75, 10000)").as("p75"))

  /** Deterministic stratified sample: downsample English docs to 25%,
    * keep half of everything else — replayable curation decisions
    * (content-hash bucketing, no RNG, no shuffle).
    */
  private def q28(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .stratified(
        Tables.documents(s, d),
        contentCol = "text",
        stratumCol = "lang",
        rates = Map("en" -> 0.25),
        defaultRate = 0.5)
      .select("doc_id", "lang")

  /** Corpus vocabulary: term totals + document frequency. */
  private def q29(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.vocabulary(Tables.documents(s, d), "doc_id", "text")

  /** Q9's total-order rolling window again, via the SCALABLE path
    * (ops/Windows.rollingGlobalScalable: range exchange + sort, then the
    * rolling operator's chunk-plus-margin protocol, one task per range)
    * instead of q09's single partition — same oracle, both in the bench
    * so the two strategies stay comparable.
    */
  private def q30(s: SparkSession, d: String): DataFrame =
    Windows.rollingGlobalScalable(
      Tables.events(s, d),
      orderCol = "event_id",
      valueCol = "value",
      window = 4,
      outName = "v") { xs =>
      xs(0) + math.pow(xs(1), 2) + math.pow(xs(2), 3) + math.pow(xs(3), 4)
    }

  /** IVF index build: per-label element-wise centroids of the embedding
    * corpus (the coarse-quantizer half of IVF ANN).
    */
  private def q31(s: SparkSession, d: String): DataFrame =
    Similarity.ivfCentroids(Tables.embeddings(s, d), "embedding", "label")

  /** Build-once IVF index cache (per JVM, per sf dir): corpus partitioned
    * by cluster + centroid table on local scratch. Probes then prune to
    * nprobe partition directories instead of scanning the corpus.
    */
  private val ivfIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def ivfIndex(s: SparkSession, d: String): String =
    ivfIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("ivf", d)
        Similarity.ivfWriteIndex(
          Tables.embeddings(s, d),
          "embedding",
          "vec_id",
          "label",
          path,
          sourceTag = d)
        path
      })

  /** IVF probe: top-10 neighbors of the vec_id=0 query searching only
    * the 2 nearest of the label clusters (rows-only — approximate).
    * Probes the persisted build-once index — no corpus-wide work.
    */
  private def q32(s: SparkSession, d: String): DataFrame =
    Similarity.ivfProbeIndex(
      s,
      ivfIndex(s, d),
      queryVec(s, d),
      k = 10,
      nprobe = 2,
      sourceTag = d)

  /** Build-once k-means IVF index cache — the unlabeled-corpus twin of
    * [[ivfIndex]] (coarse quantizer = [[Similarity.kmeansAssign]], not
    * the testdata's label column).
    */
  private val ivfKmIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def ivfKmIndex(s: SparkSession, d: String): String =
    ivfKmIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("ivfkm", d)
        Similarity.ivfWriteIndexKmeans(
          Tables.embeddings(s, d).drop("label"),
          "embedding",
          "vec_id",
          path,
          k = 8,
          iters = 3,
          sourceTag = d)
        path
      })

  /** IVF probe over a K-MEANS-built index (rows-only — approximate):
    * same probe as q32, but the coarse quantizer is learned from the
    * vectors alone (label column explicitly dropped) — the
    * self-contained ANN story for a corpus with no labels.
    */
  private def q57(s: SparkSession, d: String): DataFrame =
    Similarity.ivfProbeIndex(
      s,
      ivfKmIndex(s, d),
      queryVec(s, d),
      k = 10,
      nprobe = 3,
      sourceTag = d)

  /** TF-IDF document-term scores (vocab join is broadcast-sized). */
  private def q33(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.tfIdf(Tables.documents(s, d), "doc_id", "text")

  /** Distinct aggregation: exact distinct users + event count per type. */
  private def q34(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** ROLLUP grouping-set aggregation over the lineitem flags. */
  private def q35(s: SparkSession, d: String): DataFrame =
    Tables
      .lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))

  /** Token-window chunking (32-token chunks, 8-token overlap) — the
    * pre-embedding chunking pass; one row per chunk.
    */
  private def q36(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__tk"))
      .where(size(col("__tk")) > 0)
      .select(
        col("doc_id"),
        explode(TextFunctions.chunksOf(col("__tk"), 32, 8)).as("u"))
      .select(
        col("doc_id"),
        col("u.idx").as("idx"),
        col("u.chunk").as("chunk"),
        col("u.n_tokens").as("n_tokens"))

  /** Centered grouped rolling mean (pandas rolling(5, center=True,
    * min_periods=3)) — the rolling-attribute replay path (reference
    * series_rolling.py:22-28): frame [-2, +2], null under 3 observations.
    */
  private def q37(s: SparkSession, d: String): DataFrame =
    Windows
      .rollingAgg(
        Tables.events(s, d),
        col("value"),
        orderBy = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")),
        window = 5,
        minPeriods = Some(3),
        center = true)(avg)
      // round AFTER the window (round is not a window function; rounding the
      // callback would put round(avg(c),5).over(frame) in the plan and fail
      // analysis). round(null) stays null, so the min_periods warm-up holds.
      // Rounded both sides at 5 decimals (per-frame window avg iterates in
      // frame order in both engines, so the doubles are bit-identical and
      // 5 keeps ~10x more sensitivity than 4 — r4 advice).
      .withColumn("v", round(col("__rolling__"), 5))
      .select("user_id", "event_id", "v")

  /** Grouped rolling sum with closed="left" (window excludes the current
    * row — pandas rolling(3, closed='left')): frame [-3, -1].
    */
  private def q38(s: SparkSession, d: String): DataFrame =
    Windows
      .rollingAgg(
        Tables.events(s, d),
        col("value"),
        orderBy = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")),
        window = 3,
        closed = "left")(sum)
      .withColumnRenamed("__rolling__", "v")
      .select("user_id", "event_id", "v")

  /** Grouped expanding mean with min_periods=5 (pandas
    * expanding(min_periods=5).mean()): null warm-up for the first 4 rows.
    *
    * The mean is computed in EXACT integer cents, then half-up rounded to
    * 4 decimals with integer arithmetic. `value` carries exactly 2
    * decimals, so expanding means land EXACTLY on 4-decimal rounding ties
    * (e.g. n=8: 210.43/8 = 26.303750), where ~1e-14 double summation-order
    * noise flips Spark's HALF_UP vs DuckDB's rounding — no floating
    * rounding precision is tie-safe. With cents as a long, sum is exact,
    * and half-up = floor((200·s + n) / (2·n)): numerator ≤ ~1e11 here
    * (exact in IEEE double up to 2^53 ≈ 9e15), and a non-integer quotient
    * is ≥ 1/(2n) from any integer — 7 orders above double ulp — so the
    * floor is deterministic on both engines.
    */
  private def q39(sess: SparkSession, d: String): DataFrame = {
    val frame = Windows.expandingFrame(Seq(col("event_id")), Seq(col("user_id")))
    val n = count(col("value")).over(frame)
    val sc = sum(centsOf(col("value"))).over(frame)
    val exact4 = floor((lit(200) * sc + n) / (lit(2) * n)) / lit(10000.0)
    Tables
      .events(sess, d)
      .withColumn("cum_avg", Windows.withMinPeriods(exact4, col("value"), frame, 5))
      .select("user_id", "event_id", "cum_avg")
  }

  /** Exact integer cents of a 2-decimal double column — the tie-proof
    * currency for cross-engine sums and means (see q39's rounding-tie
    * note; used by q39/q42, and mirrored in the oracles as
    * `CAST(round(x*100) AS BIGINT)`).
    */
  private def centsOf(c: Column): Column = round(c * 100).cast("long")

  /** Grouped triangular weighted rolling mean (pandas
    * rolling(4, win_type='triang').mean()): weights [.25,.75,.75,.25],
    * full-window requirement — the win_type attribute replay, declared
    * as codegen'd lag expressions (no array materialization).
    */
  private def q40(s: SparkSession, d: String): DataFrame =
    Windows.rollingWeightedMean(
      Tables.events(s, d),
      col("value"),
      orderBy = Seq(col("event_id")),
      partitionBy = Seq(col("user_id")),
      weights = Windows.windowWeights("triang", 4),
      outName = "v")
      .select("user_id", "event_id", "v")

  /** Bucketized range join (operators/RangeJoin): orders matched into
    * OVERLAPPING price bands (stride 5k, width 12k → each order hits
    * 2-3 bands) — a genuine many-to-many interval join that Spark would
    * otherwise plan as a nested loop. PlanSpec asserts the equi-join
    * shape.
    */
  private def q41(s: SparkSession, d: String): DataFrame = {
    val bands = s
      .range(0, 120)
      .select(
        col("id").cast("int").as("band"),
        (col("id") * 5000.0).as("lo"),
        (col("id") * 5000.0 + 12000.0).as("hi"))
    graft.operators.RangeJoin
      .pointInInterval(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        bands,
        "o_totalprice",
        "lo",
        "hi",
        bucketWidth = 5000.0)
      .groupBy("band")
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("o_totalprice")), 4).as("avg_price"))
  }

  /** TIME-OFFSET rolling window (pandas `rolling("24h")` on the event
    * time index — the duration form of the `_attributes` replay,
    * series_rolling.py:22-28): per user, event count and value sum over
    * (t-24h, t]. Declared as `rangeBetween` over the epoch-nanos ts —
    * one hash exchange on user_id, frames evaluated inside WindowExec.
    * The sum is carried in EXACT integer cents (see q39) so both engines
    * divide the same integer by 100.0.
    */
  private def q42(sess: SparkSession, d: String): DataFrame = {
    val frame = Windows.rollingRangeFrame(
      col("ts"),
      Seq(col("user_id")),
      Windows.offsetNanos("24h"))
    Tables
      .events(sess, d)
      // cents staged to an attribute: both window expressions then share
      // one Window operator (CollapseWindow) instead of two passes over
      // the sorted partition
      .withColumn("__cents", centsOf(col("value")))
      .select(
        col("user_id"),
        col("event_id"),
        count(col("value")).over(frame).as("n_24h"),
        (sum(col("__cents")).over(frame) / lit(100.0)).as("v_24h"))
  }

  /** Hamming weighted rolling mean (pandas `rolling(4,
    * win_type='hamming').mean()`) — the cosine-taper half of the win_type
    * corpus (q40 covers triang). The oracle spells each weight as the
    * SAME 0.54 - 0.46·cos(2πk/(M-1)) expression, so both engines derive
    * bit-identical IEEE weights instead of decimal approximations.
    */
  private def q44(s: SparkSession, d: String): DataFrame =
    Windows
      .rollingWeightedMean(
        Tables.events(s, d),
        col("value"),
        orderBy = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")),
        weights = Windows.windowWeights("hamming", 4),
        outName = "v")
      .select("user_id", "event_id", "v")

  /** Typed COGROUP merge (ops/GroupApply.cogroupApply): every order
    * aligned with ALL its lineitems in one group-wise UDF — each side
    * shuffles once on the key; orders with zero lineitems still reach
    * the UDF (empty right iterator), which a row-level inner join cannot
    * express. The quantity sum is carried in exact integer cents so both
    * engines aggregate the same integers in any order (see q39).
    */
  private def q45(sess: SparkSession, d: String): DataFrame = {
    import sess.implicits._
    val orders = Tables.orders(sess, d).select("o_orderkey", "o_totalprice")
    val lines = Tables.lineitem(sess, d).select("l_orderkey", "l_quantity")
    GroupApply
      .cogroupApply[Long, (Long, Double, Long, Double)](orders, lines)(
        _.getLong(0),
        _.getLong(0)) { (k, os, ls) =>
        val heads = os.toSeq
        if (heads.isEmpty) Iterator.empty // line with no order: drop (LEFT)
        else {
          var n = 0L
          var cents = 0L
          ls.foreach { l =>
            n += 1
            cents += math.round(l.getDouble(1) * 100)
          }
          heads.iterator.map(o => (k, o.getDouble(1), n, cents / 100.0))
        }
      }
      .toDF("o_orderkey", "o_totalprice", "n_lines", "sum_qty")
  }

  /** Gopher-style repetition signals per document — the curation filters
    * a pretraining pipeline runs before anything else: token-repetition
    * ratio (1 - distinct/total, a pure narrow expression) and
    * top-bigram fraction (most frequent adjacent bigram / all bigrams —
    * explode + two partial+final aggregations, the scalable shape for a
    * per-doc mode). Ratios of token counts ≤ 127 terminate within 6
    * decimals, so the 6-decimal rounding is tie-free (see q39 on ties).
    */
  private def q46(sess: SparkSession, d: String): DataFrame = {
    // scan → tokenize → explode → partial agg runs in ONE stage whose
    // parallelism = input splits (at corpus scale, thousands — an
    // UNCONDITIONAL repartition would shuffle raw text for nothing
    // there, this branch's long-standing rationale). The adaptive
    // fan-out keeps that posture (no-op when the scan fans out) and
    // un-serializes the one-split fixture scan locally; it shuffles
    // the raw TEXT (pre-tokenize), never the token arrays
    val src = graft.ops.Stage
      .fanOutIfNarrow(Tables.documents(sess, d), col("doc_id"))
    val rep = src.select(
      col("doc_id"),
      round(
        TextFunctions.tokenRepetition(TextFunctions.tokens(col("text"))),
        6).as("rep_ratio"))
    // bigrams as per-occurrence 64-bit HASHES from one fused pass
    // (WordGramHashesExpr, round 17): the composable bigramsOf form
    // evaluated an interpreted transform lambda per position and
    // shuffled/grouped bigram STRINGS; neither bigram text nor its
    // count appears in the output — only max(c)/sum(c) — so counting
    // hashes is identical modulo the documented 2^-64 collision trade
    // (the q149 gram-hash rationale; oracle hash stays green)
    val top = src
      .select(
        col("doc_id"),
        explode(
          graft.functions.WordGramHashesExpr.ofColumnAll(col("text"), 2))
          .as("bigram"))
      .groupBy("doc_id", "bigram")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(max("c") / sum("c"), 6).as("top_bigram_frac"))
    rep
      .join(top, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("rep_ratio"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Per-source cap curation (operators/Sampling.capPerGroup): keep the
    * 25 longest documents per language, ordered by an INTEGER key with a
    * unique tiebreaker — a float score order would let 1e-16 engine
    * noise flip which row sits at the cap boundary. WindowGroupLimit
    * pre-prunes map-side (PlanSpec).
    */
  private def q47(sess: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .capPerGroup(
        Tables
          .documents(sess, d)
          .select(
            col("doc_id"),
            col("lang"),
            TextFunctions.tokenCount(col("text")).as("n_tokens")),
        groupCols = Seq(col("lang")),
        orderBy = Seq(col("n_tokens").desc, col("doc_id").asc),
        n = 25)

  /** Rank transforms per group — the pandas `groupby.rank(pct=True)` /
    * `qcut` analogs a curation pipeline uses for quantile binning and
    * curriculum ordering: percent_rank, cume_dist, and ntile(10) over
    * (value, event_id) — the unique tiebreaker makes every rank
    * deterministic, and rank ratios are IEEE divisions of identical
    * integers on both engines, so no rounding is needed at all.
    */
  private def q48(sess: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("value"), col("event_id"))
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("event_id"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(10).over(w).as("decile"))
  }

  /** Pivot / crosstab (pandas `pivot_table(index=user, columns=type,
    * aggfunc=count)`): per-user event counts fanned into one column per
    * event type. Pivot values are DECLARED (the 5 known types), so the
    * plan is a single partial+final aggregation — an undeclared-values
    * pivot needs an extra distinct pass to discover columns, a
    * scan-the-world cost the declared form avoids at 100 TB. Integer
    * counts, no float parity concerns.
    */
  private def q49(sess: SparkSession, d: String): DataFrame =
    Tables
      .events(sess, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Unpivot / melt (pandas `melt`, the inverse of q49): lineitem's
    * numeric measures fanned into (key, metric, value) rows —
    * `Dataset.unpivot` is a pure narrow projection (Expand node: each
    * input row emits one row per measure, no shuffle, no UDF). Values
    * are copied verbatim, so the oracle is exact.
    */
  private def q50(sess: SparkSession, d: String): DataFrame =
    Tables
      .lineitem(sess, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric",
        "value")

  /** INCREMENTAL dedup — the daily-batch shape of exact dedup: new
    * documents anti-joined on normalization fingerprint against the
    * already-ingested set (here: doc_id < 250 stands in for yesterday's
    * fingerprint index). A broadcast/shuffled LEFT ANTI join — state
    * lives in a fingerprint table, not in memory, so the "seen" side can
    * be 100 TB of history while each increment only shuffles its own
    * fingerprints.
    */
  private def q51(sess: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(sess, d)
    val seen = docs
      .where(col("doc_id") < 250)
      .select(TextFunctions.normFingerprint(col("text")).as("fp"))
    graft.operators.Dedup
      .incrementalNew(docs.where(col("doc_id") >= 250), seen, "text", "doc_id")
  }

  /** Set operations (INTERSECT DISTINCT / EXCEPT DISTINCT): orderkeys
    * appearing among both high-discount and low-tax lineitems, minus
    * returned ones. Spark plans both as aggregated joins (partial+final
    * on the key) — no row-level materialization of the intermediate
    * sets.
    */
  private def q52(sess: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(sess, d)
    li.where(col("l_discount") >= 0.08)
      .select("l_orderkey")
      .intersect(li.where(col("l_tax") <= 0.02).select("l_orderkey"))
      .except(li.where(col("l_returnflag") === "R").select("l_orderkey"))
  }

  /** Gaussian weighted rolling mean (pandas `rolling(5,
    * win_type='gaussian').mean(std=1.5)` — the parameterized win_type).
    * Weights exp(-½((k-2)/1.5)²) are spelled as the SAME expression in
    * the oracle (see q44's bit-identical-weights rationale).
    */
  private def q53(s: SparkSession, d: String): DataFrame =
    Windows
      .rollingWeightedMean(
        Tables.events(s, d),
        col("value"),
        orderBy = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")),
        weights = Windows.windowWeights("gaussian", 5, Map("std" -> 1.5)),
        outName = "v")
      .select("user_id", "event_id", "v")

  /** Benchmark decontamination (operators/Dedup.contamination): training
    * docs (doc_id ≥ 50) sharing ≥ 10 distinct character 3-gram shingles
    * with the benchmark set (doc_id < 50 stands in for an eval corpus).
    * Broadcast semi-join on shingle hashes — the training side never
    * shuffles. Counts compare hashes vs the oracle's strings: identical
    * modulo ~2^-64 collisions (q16 precedent).
    */
  private def q54(sess: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(sess, d)
    graft.operators.Dedup.contamination(
      docs.where(col("doc_id") >= 50),
      docs.where(col("doc_id") < 50),
      "text",
      "doc_id",
      n = 3,
      minShared = 10)
  }

  /** Bloom-prefiltered decontamination
    * ([[graft.operators.Dedup.contaminationBloom]]): the SAME overlap
    * check as q54, with the benchmark shingles compacted to a broadcast
    * Bloom filter that discards non-matching training shingles before
    * the confirming join — the 100-TB posture (q54's scaladoc). Bloom
    * false positives are removed by the exact join, so the result — and
    * the oracle SQL — are identical to q54's.
    */
  private def q61(sess: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(sess, d)
    graft.operators.Dedup.contaminationBloom(
      docs.where(col("doc_id") >= 50),
      docs.where(col("doc_id") < 50),
      "text",
      "doc_id",
      n = 3,
      minShared = 10)
  }

  /** Segment-level dedup ([[graft.operators.Dedup.segmentDedup]], the
    * remove-duplicated-paragraphs-everywhere pass of web-corpus
    * pipelines): 8-token non-overlapping segments, drop every occurrence
    * of any segment seen more than once corpus-wide, reassemble the
    * survivors in document order. Counts compare 64-bit segment hashes
    * vs the oracle's strings — identical modulo ~2⁻⁶⁴ collisions (q54's
    * rationale).
    */
  private def q62(sess: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.segmentDedup(
      Tables.documents(sess, d),
      "text",
      "doc_id",
      segTokens = 8,
      maxOccurrences = 1)

  /** Rolling correlation + covariance of two series per user (pandas
    * `rolling(10).corr(other)` / `.cov(other)` —
    * [[graft.ops.Windows.rollingAgg2]]). The second series is
    * sin(value): a deterministic nonlinear companion both engines
    * compute bit-identically. Both outputs rounded to 5 decimals — the
    * co-moment update ORDER differs between engines (~1e-12 relative
    * noise on a ratio in [-1, 1]), the q37 rationale at the advisor's
    * recommended precision.
    */
  private def q63(s: SparkSession, d: String): DataFrame = {
    val x = col("value")
    val y = sin(col("value"))
    val ord = Seq(col("event_id"))
    val part = Seq(col("user_id"))
    val withCorr = Windows
      .rollingAgg2(Tables.events(s, d), x, y, ord, part, 10)(corr(_, _))
      .withColumnRenamed("__rolling__", "__corr")
    Windows
      .rollingAgg2(withCorr, x, y, ord, part, 10)(covar_samp(_, _))
      .select(
        col("user_id"),
        col("event_id"),
        round(col("__corr"), 5).as("c"),
        round(col("__rolling__"), 5).as("cv"))
  }

  /** O8 black-box expanding apply (the reference's arbitrary-function
    * form — expanding_groupby.py:63-67, tests/test_pandarallel.py:131-141):
    * a position-weighted prefix sum Σ (i+1)·xᵢ per user with
    * min_periods=5 — NOT expressible as a single algebraic aggregate of
    * the value column alone, so it exercises the collect-based UDF path
    * ([[graft.ops.Windows.expandingCollect]]).
    *
    * Cross-engine determinism: the UDF runs on exact integer CENTS
    * (centsOf cast to double — exact in IEEE up to 2^53; here ≤ ~1e13),
    * so the sum is order-independent and hash-stable vs DuckDB's exact
    * BIGINT sum (q39's rationale). Output scaled back to value units.
    */
  private def q55(sess: SparkSession, d: String): DataFrame = {
    import graft.api.Pandarallel._
    graft.ops.Stage
      // the expanding window's exchange carries ~2 MB at sf0.1, so
      // AQE's byte-based coalescing folded the CPU-heavy O(n·w) window
      // down to ONE task; the keyed fan-out's explicit partition count
      // satisfies the window's ClusteredDistribution(user_id) (no
      // second exchange) and is not coalesced. Result order is pinned
      // by the explicit event_id ordering, so partitioning is
      // result-invariant. No-op at corpus scale (scan already wide)
      .fanOutIfNarrow(Tables.events(sess, d), col("user_id"))
      .withColumn("__cents", centsOf(col("value")).cast("double"))
      .parallelGroupBy("user_id")
      .expanding(col("event_id"))
      .parallelApply(col("__cents"), "wsum", minPeriods = 5) { xs =>
        var acc = 0.0
        var i = 0
        while (i < xs.length) { acc += (i + 1) * xs(i); i += 1 }
        acc / 100.0
      }
      .select("user_id", "event_id", "wsum")
  }

  /** Buffer of [[q183]]'s declared-mergeable weighted prefix sum:
    * Σ(i+1)·xᵢ is position-dependent, but carrying (wsum, sum, n) makes
    * it a monoid — merge(A,B) = (wA + wB + nA·sB, sA + sB, nA + nB),
    * zero = (0,0,0) is the identity. The general recipe: any
    * position-weighted fold merges once the buffer carries enough
    * lower-order moments.
    */
  case class WeightedSumBuf(wsum: Double, sum: Double, n: Long)

  /** q55's SCALE twin ([[graft.ops.Windows.expandingAggregator]]): the
    * same position-weighted prefix sum computed as an incremental
    * Aggregator fold — O(1) state per row instead of expandingCollect's
    * O(n) frame arrays / O(n²) group work. Same oracle as q55; the
    * correctness gate proves fold == black-box, and PlanSpec pins that
    * this path plans no collect_list.
    */
  private def q183(sess: SparkSession, d: String): DataFrame = {
    import graft.api.Pandarallel._
    val wsumFold =
      new org.apache.spark.sql.expressions.Aggregator[
        Double, WeightedSumBuf, Double] {
        def zero: WeightedSumBuf = WeightedSumBuf(0.0, 0.0, 0L)
        def reduce(b: WeightedSumBuf, x: Double): WeightedSumBuf =
          WeightedSumBuf(b.wsum + (b.n + 1) * x, b.sum + x, b.n + 1)
        def merge(a: WeightedSumBuf, b: WeightedSumBuf): WeightedSumBuf =
          WeightedSumBuf(
            a.wsum + b.wsum + a.n * b.sum,
            a.sum + b.sum,
            a.n + b.n)
        def finish(b: WeightedSumBuf): Double = b.wsum / 100.0
        def bufferEncoder: org.apache.spark.sql.Encoder[WeightedSumBuf] =
          org.apache.spark.sql.Encoders.product[WeightedSumBuf]
        def outputEncoder: org.apache.spark.sql.Encoder[Double] =
          org.apache.spark.sql.Encoders.scalaDouble
      }
    Tables
      .events(sess, d)
      .withColumn("__cents", centsOf(col("value")).cast("double"))
      .parallelGroupBy("user_id")
      .expanding(col("event_id"))
      .parallelFold(col("__cents"), "wsum", minPeriods = 5)(wsumFold)
      .select("user_id", "event_id", "wsum")
  }

  /** Deterministic train/val/test split
    * ([[graft.operators.Sampling.hashSplit]]): replayable split
    * membership as a pure function of (content hash, seed) — same
    * document → same split on any cluster size or rerun, and new
    * documents never move old ones (the property `rand()` splits
    * lack). Pure narrow projection; no shuffle at any scale.
    */
  private def q184(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .hashSplit(
        Tables.documents(s, d),
        "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        seed = "r8")
      .select("doc_id", "split")
      .orderBy("doc_id")

  /** Seeded corpus shuffle + sharding
    * ([[graft.operators.Sampling.seededShuffle]]): the reproducible
    * data-loading order pass — md5(content, seed) as the order key
    * (engine-portable, uniform, partitioning-independent), materialized
    * as (shard, position). One hash exchange on shard + local sorts;
    * never a global single-partition sort.
    */
  private def q185(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .seededShuffle(
        Tables.documents(s, d),
        "text",
        nShards = 8,
        seed = "r8",
        tieBreak = Seq(col("doc_id")))
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")

  /** Planted SimHash corpus for q186: 25 base 64-bit signatures × 8
    * flip variants, CLOSED-FORM in doc_id — bit k of base(p) is set
    * iff (23p + 41k) mod 89 < 44, and variant v flips (v mod 4) bits
    * at positions (7p + 13v + 29j) mod 64 (distinct mod 64 for
    * j < 3, so flips never cancel). The 200-entry (p, v) → sig lookup
    * is driver-computed pure integer arithmetic and broadcast onto
    * the corpus; the q186 oracle replays the SAME arithmetic in SQL
    * (the q222 discipline), which is what turns the banded-Hamming
    * pair machinery from rows-only into a hard hash row. Real-text
    * SimHash signing (tokenize → xxhash64 → bit votes) stays covered
    * by q15 and the SignatureExpressions specs.
    */
  private def simHashPlantedSigs(s: SparkSession, d: String): DataFrame = {
    def base(p: Int): Long =
      (0 until 64).foldLeft(0L)((acc, k) =>
        if ((23 * p + 41 * k) % 89 < 44) acc | (1L << k) else acc)
    def sig(p: Int, v: Int): Long =
      (0 until v % 4).foldLeft(base(p))((acc, j) =>
        acc ^ (1L << ((7 * p + 13 * v + 29 * j) % 64)))
    val lookup =
      for { p <- 0 until 25; v <- 0 until 8 } yield (p, v, sig(p, v))
    val lk = s.createDataFrame(lookup).toDF("p", "v", "sig")
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        pmod(col("doc_id"), lit(25)).cast("int").as("p"),
        pmod(expr("doc_id DIV 25"), lit(8)).cast("int").as("v"))
      .join(broadcast(lk), Seq("p", "v"))
      .select(col("doc_id").as("id"), col("sig"))
  }

  /** HASH-GREEN banded SimHash near-dup pairs (q186): the third dedup
    * signature family next to MinHash (q14) and exact n-gram Jaccard
    * (q16) — 64-bit signatures banded into 4×16-bit keys so any pair
    * within Hamming distance 3 shares at least one exact band
    * (pigeonhole: 100% recall at d < bands), exact popcount verify,
    * exactly-once first-matching-band emission. Never all-pairs; one
    * equi-join shuffle on the band key, bucket-size capped. Run over
    * the PLANTED closed-form corpus ([[simHashPlantedSigs]]) with
    * identical signatures collapsed to min-id representatives first
    * (the q222 scale discipline — a representative node set bounds
    * both the banding fan-out and the pair output at any corpus
    * size), which makes the whole pair stage SQL-replayable: the
    * oracle rebuilds the ≤200 signatures arithmetically as (hi, lo)
    * 32-bit halves and emits every representative pair with
    * bit_count(xor) ≤ 3 — banding is exact there by pigeonhole, and
    * every bucket holds ≤ 8 same-family variants, far under the cap,
    * so the engine's candidate generation provably loses nothing.
    * ExtensionsSpec keeps pinning planted flip-distance recall of the
    * real-text operator; PropertySpec keeps partition-shape
    * invariance. BENCH-HISTORY NOTE: before round 13 this query id
    * timed real-text signing over the corpus; from round 13 it times
    * the planted-corpus pair stage, so q186 wall times are NOT
    * comparable across that boundary (real-text signing stays timed
    * under q15).
    */
  private def q186(s: SparkSession, d: String): DataFrame = {
    val sigs = simHashPlantedSigs(s, d)
    val reps = sigs
      .groupBy("sig")
      .agg(min(col("id")).as("id"))
      .select("id", "sig")
    graft.operators.Dedup
      .simHashBandPairs(reps, maxHamming = 3, bands = 4, maxBucketSize = 256)
      .orderBy("id_a", "id_b")
  }

  /** Build-once Z-ordered copy of lineitem, clustered on
    * (l_quantity, l_extendedprice) — the multi-dimension file-skipping
    * layout ([[graft.sources.ZOrder]]). Written once per data dir like
    * the ANN indexes; layout changes IO, never results.
    */
  private val zLayoutCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def zLayout(s: SparkSession, d: String): String =
    zLayoutCache.getOrElseUpdate(
      d, {
        val path = indexScratch("zorder", d)
        graft.sources.ZOrder.writeZOrdered(
          Tables.lineitem(s, d)
            .select(
              "l_orderkey", "l_linenumber", "l_quantity",
              "l_extendedprice", "l_returnflag"),
          path,
          Seq("l_quantity", "l_extendedprice"),
          bits = 12,
          numFiles = 32)
        path
      })

  /** 2-D box query over the Z-ordered lineitem layout: the conjunctive
    * range predicate prunes parquet files via ordinary footer min/max
    * stats because the Morton clustering makes every file a small
    * (quantity × price) bounding box — a single-column sort serves one
    * axis, Z-order serves both. Result is layout-independent (the
    * oracle runs on the ORIGINAL table); ZOrderSpec counts overlapping
    * file boxes from the written footers, z-order vs linear sort.
    */
  /** BPE merge-candidate table ([[graft.functions.Bpe]]): weighted
    * adjacent character-pair counts over the word-frequency vocabulary
    * — the table every merge round of tokenizer training reads, and
    * the scale design point: the corpus is scanned ONCE (word counts);
    * each of the iterative rounds (`Bpe.trainMerges`, BpeSpec) then
    * aggregates the vocab-sized table only. Top-50 by (count, pair),
    * hash-green — one round IS SQL-expressible even though the
    * iterated trainer is not.
    */
  private def q188(s: SparkSession, d: String): DataFrame =
    graft.functions.Bpe
      .pairCounts(graft.functions.Bpe.vocab(docs(s, d), "text"))
      .select(concat_ws(" ", col("a"), col("b")).as("pair"), col("cnt"))
      .orderBy(desc("cnt"), col("pair"))
      .limit(50)

  /** Interpolated Kneser–Ney bigram LM trained on the corpus
    * ([[graft.operators.LangModel.knBigramLm]]) — the head of the LM
    * table (bigrams seen ≥5 times) with discounted probabilities. All
    * counting aggregates (partial+final); B is the one driver scalar.
    */
  private def q189(s: SparkSession, d: String): DataFrame =
    graft.operators.LangModel
      .knBigramLm(docs(s, d), "doc_id", "text")
      .where(col("c_uw") >= 5)
      .select(col("u"), col("w"), col("c_uw"), col("p"))
      .orderBy("u", "w")

  /** Per-document perplexity under the corpus KN bigram LM
    * ([[graft.operators.LangModel.docPerplexity]]) — model-based
    * quality scoring: both perplexity tails are what curation inspects.
    * Association-order double drift (partial sums of ln p) is absorbed
    * by the driver's 6-decimal canonicalization, q76 precedent.
    */
  private def q190(s: SparkSession, d: String): DataFrame =
    graft.operators.LangModel
      .docPerplexity(docs(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** DSIR importance weights ([[graft.operators.Dsir]], arXiv:
    * 2302.03169): log-likelihood ratio of each raw doc under hashed
    * bigram models of the target (doc_id < 50 — q167's bench-set
    * convention) vs the raw corpus — the data-selection score that
    * shifts a training mixture toward a target domain. md5 buckets so
    * the oracle reproduces the features bit-for-bit.
    */
  private def q191(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    graft.operators.Dsir
      .importanceWeights(
        all.where(col("doc_id") >= 50),
        all.where(col("doc_id") < 50),
        "doc_id",
        "text",
        nBuckets = 1024)
      .orderBy("doc_id")
  }

  /** Exact-k weighted sample without replacement
    * ([[graft.operators.Sampling.weightedSampleK]], Efraimidis–Spirakis):
    * the DSIR-style resampling step — 100 documents drawn without
    * replacement with probability pressure ∝ length(text), selection a
    * pure function of (content, seed) so the DuckDB oracle replays the
    * identical −ln(u)/w keys. TakeOrderedAndProject: per-partition
    * top-k heaps, a k-row driver merge, no global sort.
    */
  private def q192(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .weightedSampleK(
        Tables.documents(s, d),
        "text",
        length(col("text")).cast("double"),
        k = 100,
        seed = "r8s",
        tieBreak = Seq(col("doc_id")))
      .select(col("doc_id"), length(col("text")).cast("long").as("w"))
      .orderBy("doc_id")

  /** Count-Min point-frequency estimates
    * ([[graft.operators.Sketches.cmsFrequencies]]): the third sketch
    * next to HLL distinct (q68) and Misra–Gries top-k (q106) — "how
    * often does THIS token occur" from an 80 KB matrix whose exchange
    * cost never grows with the vocabulary; merge is an exact matrix
    * sum, so partial aggregation is bit-for-bit partitioning-invariant
    * (CountMinSpec). Rows-only by design (estimates depend on the
    * sketch's hash family, not SQL-expressible); the spec pins the
    * est ≥ true and est ≤ true + εN guarantees against exact counts.
    */
  private def q193(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketches
      .cmsFrequencies(
        docs(s, d).select(
          explode(graft.functions.TextFunctions.tokens(lower(col("text"))))
            .as("tok")),
        "tok",
        probes = Seq(
          "join", "hash", "scan", "filter", "vector", "merge",
          "column", "batch", "never-in-the-corpus"))
      .orderBy("value")

  /** Model-based quality/domain classifier
    * ([[graft.operators.LinearModel]]): logistic regression over
    * md5-hashed bigram features trained IN the engine by full-batch GD
    * (one nBuckets-bounded gradient aggregation per round, driver holds
    * only the weight vector — the BPE driver-loop stance), then the
    * corpus scored with one broadcast join + per-doc agg (the CCNet
    * fastText-scoring role). Rows-only by design (iterative training
    * is not SQL-expressible); LinearModelSpec pins an exact driver-side
    * GD replay and separation on planted classes.
    */
  private def q194(s: SparkSession, d: String): DataFrame = {
    // feature hashing (tokenize + bigram md5) is the heavy narrow
    // stage; adaptive fan-out un-serializes the one-split fixture scan
    // (no-op at corpus scale) before the staged features frame
    val ds = graft.ops.Stage
      .fanOutIfNarrow(Tables.documents(s, d), col("doc_id"))
      .withColumn("__is_en", (col("lang") === "en").cast("int"))
    // one tokenize pass feeds BOTH train and score (the features frame
    // is deterministic; staging it here halves the corpus passes)
    val feats = graft.ops.Stage.materializeOnce(
      graft.operators.LinearModel.features(ds, "doc_id", "text", 256))
    val model = graft.operators.LinearModel
      .train(
        ds, "doc_id", "text", "__is_en",
        nBuckets = 256, rounds = 8, preFeatures = Some(feats))
    graft.operators.LinearModel
      .score(ds, "doc_id", "text", model, preFeatures = Some(feats))
      .select(col("doc_id"), round(col("p"), 6).as("p"))
      .orderBy("doc_id")
  }

  /** Per-source weighted sampling quota
    * ([[graft.operators.Sampling.weightedSamplePerGroup]]): 5 docs per
    * source under length-weighted pressure — the "best-k per domain"
    * curation pass. WindowGroupLimit pre-prunes map-side; the DuckDB
    * oracle replays the Efraimidis–Spirakis keys and the row_number cut
    * bit-for-bit.
    */
  private def q195(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .weightedSamplePerGroup(
        Tables.documents(s, d),
        "text",
        length(col("text")).cast("double"),
        groupCols = Seq(col("source")),
        k = 5,
        seed = "r8g",
        tieBreak = Seq(col("doc_id")))
      .select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("w"))
      .orderBy("source", "doc_id")

  /** Prototype-distance outlier scoring
    * ([[graft.operators.Similarity.centroidCosine]]): cosine of every
    * embedding to its label-group mean centroid — the embedding-side
    * curation signal ("prune far-from-prototype points", SemDeDup's
    * sibling). One (group, dim)-bounded aggregation + a broadcast of
    * the #groups-row centroid table; the cosine itself accumulates
    * in array order in doubles, so the DuckDB oracle reproduces it
    * bit-for-bit before the 6-decimal round.
    */
  private def q196(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity
      .centroidCosine(Tables.embeddings(s, d), "embedding", "vec_id", "label")
      .select(col("vec_id"), col("label"), round(col("cos_c"), 6).as("cos_c"))
      .orderBy("vec_id")

  /** End-to-end in-engine BPE tokenizer ([[graft.functions.Bpe]]):
    * the tokenizer (24 merges) trains ONCE per data dir and is cached
    * like the ANN indexes and the Z-order layout (a tokenizer is a
    * once-per-corpus artifact — greedy rounds are driver-compile-bound
    * at ~1.4 s/round, which belongs in build cost, not per-query
    * steady state), then every document is ENCODED under the learned
    * merges via
    * [[graft.functions.Bpe.encodeWords]] — the merge fold runs once
    * per DISTINCT word via a single vocab-bounded UDF scan over the
    * distinct-words frame, and the corpus joins against that encoded
    * vocabulary, so per-OCCURRENCE cost is an equi-join, never a
    * 24-deep fold — and report per-doc whitespace vs BPE token counts
    * (the "tokens this corpus costs under MY tokenizer" accounting
    * pass). Rows-only by design (the trained merge list is not
    * SQL-expressible); BpeSpec pins training and application against a
    * sequential reference.
    */
  private val bpeMergesCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]

  private def q197(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d)
    val merges = bpeMergesCache.getOrElseUpdate(
      d,
      graft.functions.Bpe.trainMerges(ds, "text", nMerges = 24)._1)
    // pre-aggregated (doc, word) counts, staged ONCE: the frame feeds
    // both the vocab-encode side and the join back — without this the
    // corpus tokenize+explode pipeline executes twice, and the join
    // carries one row per OCCURRENCE instead of per distinct (doc, word)
    val wordCounts = ds
      .select(
        col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(lower(col("text"))))
          .as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.ops.Stage.materializeOnce)
    val encoded = graft.functions.Bpe
      .encodeWords(wordCounts, "w", merges)
      .select(col("w"), size(col("symbols")).cast("long").as("n_sym"))
    wordCounts
      .join(encoded, Seq("w"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_words"),
        sum(col("cnt") * col("n_sym")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Unigram-LM (SentencePiece-style) tokenizer end-to-end
    * ([[graft.functions.UnigramLm]]) — the OTHER tokenizer-training
    * family beside q197's BPE, same once-per-corpus artifact
    * discipline (per-dir cache, build cost amortized like the ANN
    * indexes): hard-EM over the word-frequency table (substring
    * seeding + Viterbi counts, all integer-deterministic), then every
    * document ENCODED under the learned pieces via the vocab-bounded
    * Viterbi UDF + equi-join factoring (the encodeWords shape). Per
    * doc: whitespace words, unigram piece count, distinct pieces
    * used. Rows-only (a trained probabilistic model is not
    * SQL-expressible); UnigramLmSpec differentials the trainer against
    * a sequential driver replay.
    */
  private def q208(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d)
    val model = unigramModelCache.getOrElseUpdate(
      d,
      graft.functions.UnigramLm
        .train(ds, "text", vocabSize = 400, seedSize = 800, emIters = 2))
    val wordCounts = ds
      .select(
        col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(lower(col("text"))))
          .as("w"))
      .where(length(col("w")) > 0)
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.ops.Stage.materializeOnce)
    val encoded = graft.functions.UnigramLm
      .encodeWords(wordCounts, "w", model)
      .select(
        col("w"),
        size(col("pieces")).cast("long").as("n_pieces"),
        array_distinct(col("pieces")).as("dp"))
    wordCounts
      .join(encoded, Seq("w"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_words"),
        sum(col("cnt") * col("n_pieces")).as("n_unigram_tokens"),
        size(array_distinct(flatten(collect_list(col("dp")))))
          .cast("long")
          .as("n_distinct_pieces"))
      .orderBy("doc_id")
  }

  private val unigramModelCache =
    scala.collection.concurrent.TrieMap
      .empty[String, graft.functions.UnigramLm.Model]

  /** Centrality-weighted canonical selection over the near-dup graph
    * ([[graft.operators.Graph.canonicalByRank]]): q16's verified
    * Jaccard pairs → connected components (q56's resolver) PLUS
    * 10-round damped PageRank over the same symmetrized pair graph,
    * Jaccard-WEIGHTED (a 0.95-dup neighbor pulls more canonical mass
    * than a borderline 0.2 one); per component the max-rank doc (tie →
    * min id) is flagged canonical. Min-id survivor selection (q56/
    * q165) is arbitrary
    * under transitivity; rank selection keeps the most-connected
    * version of a duplicated document — the web-corpus curation
    * policy. Rows-only (float ranks from order-nondeterministic double
    * sums have no stable hash; GraphSpec pins the ranks against an
    * in-test power-iteration reference and the sum-to-1 invariant).
    */
  private def q198(s: SparkSession, d: String): DataFrame =
    graft.operators.Graph
      .canonicalByRank(q16(s, d), weightCol = Some("jaccard"))
      .select(
        col("id").as("doc_id"),
        col("component"),
        round(col("rank"), 9).as("rank"),
        col("canonical"))
      .orderBy("component", "doc_id")

  /** Seed-relevance ranking over the near-dup graph
    * ([[graft.operators.Graph.personalizedPageRank]]): given a handful
    * of trusted "anchor" documents, score every document in the pair
    * graph by its damped random-walk proximity to the anchors — the
    * curation move for growing a quality set from a verified nucleus.
    * Seeds here are the three smallest ids of the verified Jaccard
    * pair graph (a 3-row bounded collect — meta-sized, deterministic);
    * vertices unreachable from them converge to relevance 0. Rows-only
    * (iterative float ranks, same stance as q198); GraphSpec pins both
    * restart-vector shapes — literal isin and the past-the-cap
    * broadcast seed frame — against the power-iteration reference.
    */
  private def q206(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.ops.Stage.materializeOnce(q16(s, d))
    val seeds = pairs
      .select(col("id_a"))
      .union(pairs.select(col("id_b")))
      .distinct()
      .orderBy(col("id_a"))
      .limit(3)
      .as[Long]
      .collect()
      .toSeq
    graft.operators.Graph
      .personalizedPageRankAuto(pairs, seeds, weightCol = Some("jaccard"))
      .select(col("id").as("doc_id"), round(col("rank"), 9).as("relevance"))
      .orderBy("doc_id")
  }

  /** Perceptual image near-dup
    * ([[graft.multimodal.Multimodal.imageNearDup]]): dHash-64 over
    * REAL decoded pixels (JDK imageio) → the SAME banded-Hamming pair
    * machinery text SimHash uses → transitive components → min-id
    * canonical flags. Multimodal corpora dedup on perceptual hashes —
    * re-encoded/resized/brightness-shifted copies of an image share a
    * gradient field that byte-level dedup can never see. Assets here
    * are per-doc synthesized gradient PNGs (25 pattern families with
    * planted brightness-shifted members, [[Multimodal
    * .imageAssetsFromIds]]), so family members must cluster. Rows-only
    * (binary decode pipeline, nothing for SQL to replay); ImageDedupSpec
    * pins re-encode/resize/brightness invariance and distinct-image
    * separation on handcrafted fixtures.
    */
  /** q207/q212 shared stage: the PNG decode → area-averaged-luma
    * dHash signature frame over the per-doc synthesized gradient
    * assets — both queries consume these exact rows
    * ([[sharedStage]]), so the decode pipeline runs once per
    * (session, dir), not once per query.
    */
  private def imageSigs(s: SparkSession, d: String): DataFrame =
    sharedStage(s, d, "image_dhash_sigs") {
      graft.multimodal.Multimodal
        .dHashImages(
          graft.multimodal.Multimodal.imageAssetsFromIds(
            // explicit repartition: the id projection reads as 1-2
            // parquet splits and the PNG synth + decode UDFs (whose
            // cost AQE cannot see) would serialize — the
            // Bpe.encodeWords rationale
            Tables.documents(s, d)
              .select("doc_id")
              .repartition(s.sparkContext.defaultParallelism),
            "doc_id"))
    }

  /** Perceptual IMAGE near-dup pairs → components → min-id canonical
    * over the planted gradient corpus. HASH-GREEN since round 14 (was
    * rows-only): the q212 proof shows the brightness shift cancels in
    * every dHash cell compare, so the per-doc signature is the
    * p-keyed q218 formula and the whole pair/component stage replays
    * in DuckDB exactly like q222 (threshold 3; banding exact by
    * pigeonhole at 3 < 4 bands). Query body unchanged — only the
    * oracle was added, so bench history stays like-for-like.
    * ImageDedupSpec keeps pinning re-encode/brightness invariance.
    */
  private def q207(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .nearDupFromSigs(
        imageSigs(s, d), maxHamming = 3, bands = 4, maxBucketSize = 256)
      .select(col("id").as("doc_id"), col("component"), col("canonical"))
      .orderBy("doc_id")

  /** Perceptual AUDIO near-dup
    * ([[graft.multimodal.Multimodal.audioNearDup]]) — completes the
    * text (q14/q186) / image (q207) / audio dedup triad. Spectral-band
    * sign fingerprint (9 time frames × 8 Hz-anchored log-spaced bands,
    * Hann-windowed DFT probe energies, frame-to-frame delta signs =
    * 64 bits — the dHash idea in the time-frequency plane, the
    * Haitsma–Kalker ISMIR 2002 construction) over REAL decoded PCM
    * (javax.sound.sampled), then the SAME banded-Hamming pair
    * machinery, components, and min-id canonical flags every other
    * modality uses. Assets are per-doc synthesized melodies (25
    * pattern families with planted gain-shifted and resampled members,
    * [[graft.multimodal.Multimodal.melodyAssetsFromIds]]), so family
    * members must cluster across exactly the transformations the
    * fingerprint claims invariance to. Rows-only (binary decode
    * pipeline, nothing for SQL to replay); AudioDedupSpec pins
    * container/gain/resample/ULAW invariance and distinct-melody
    * separation on handcrafted fixtures.
    */
  /** q211/q217 shared stage: the WAV synth → container decode → DFT
    * band-energy fingerprint frame over the per-doc melodies — both
    * queries consume these exact rows ([[sharedStage]]), so the
    * decode/DSP pipeline runs once per (session, dir), not once per
    * query.
    */
  private def audioSigs(s: SparkSession, d: String): DataFrame =
    sharedStage(s, d, "audio_fp_sigs") {
      graft.multimodal.Multimodal
        .audioFingerprints(
          graft.multimodal.Multimodal.melodyAssetsFromIds(
            // explicit repartition: the q207 rationale — synth + decode
            // UDF cost is invisible to AQE and would serialize on the
            // 1-2 natural parquet splits of the id projection
            Tables.documents(s, d)
              .select("doc_id")
              .repartition(s.sparkContext.defaultParallelism),
            "doc_id"))
    }

  /** Perceptual AUDIO near-dup pairs → components → min-id canonical
    * over the planted melody corpus. HASH-GREEN since round 14 (was
    * rows-only): the q217 signature replay (sign margins 5.9e-4,
    * eleven orders above libm noise) feeds the q222 node/edge/closure
    * block at hamming budget 5 (banding exact by pigeonhole at
    * 5 < 8 bands). Query body unchanged — only the oracle was added.
    * AudioDedupSpec keeps pinning container/gain/resample invariance.
    */
  private def q211(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .nearDupFromSigs(
        audioSigs(s, d), maxHamming = 5, bands = 8, maxBucketSize = 256)
      .select(col("id").as("doc_id"), col("component"), col("canonical"))
      .orderBy("doc_id")

  /** Perceptual VIDEO near-dup
    * ([[graft.multimodal.Multimodal.videoNearDup]]) — completes the
    * text (q14/q186) / image (q207) / audio (q211) / VIDEO dedup
    * modality quartet. Clip fingerprint = dHash of
    * relative-position-sampled frames (raw DIB planes through the
    * pure-JDK codec seam — raw AVI and MJPEG both decode), reduced by
    * per-bit MAJORITY across the samples, then the SAME banded-Hamming
    * pair machinery, components, and min-id canonical flags every
    * other modality uses. Assets are per-doc synthesized gradient
    * clips (25 pattern families with planted MJPEG-re-encoded and
    * brightness-shifted members,
    * [[graft.multimodal.Multimodal.videoDupAssetsFromIds]]), so family
    * members must cluster across exactly the transformations the
    * fingerprint claims invariance to — including a COMPRESSED
    * re-encode of the identical frames. Rows-only (binary decode
    * pipeline, nothing for SQL to replay); VideoDedupSpec pins
    * re-encode/resize/brightness invariance, the 1-frame-clip ==
    * still-image dHash equality, and distinct-pattern separation on
    * handcrafted fixtures.
    */
  private def q215(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .videoNearDup(
        graft.multimodal.Multimodal.videoDupAssetsFromIds(
          // explicit repartition: the q207/q211 rationale — synth +
          // decode UDF cost is invisible to AQE and would serialize on
          // the 1-2 natural parquet splits of the id projection
          Tables.documents(s, d)
            .select("doc_id")
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id"))
      .select(col("id").as("doc_id"), col("component"), col("canonical"))
      .orderBy("doc_id")

  /** HASH-GREEN twin of q207's decode stage: the REAL PNG
    * decode → area-averaged-luma dHash pipeline
    * ([[graft.multimodal.Multimodal.dHashImages]]) against a DuckDB
    * oracle that replays the synthesized pixels ARITHMETICALLY — the
    * q176 precedent. The planted gradients
    * ([[graft.multimodal.Multimodal.imageAssetsFromIds]]) are affine
    * mod 240 and, at 18×16, every 9×8 dHash cell is exactly a 2×2
    * pixel block, so each of the 64 gradient-sign bits is a pure
    * integer formula of doc_id — no decoding needed on the oracle
    * side, while the Spark side exercises the full ImageIO
    * encode/decode + bulk-luma path. The signature ships as two
    * unsigned 32-bit halves (bit 63 would overflow a signed SUM on
    * the SQL side). Converts the image-decode stage from rows-only to
    * a hard hash row; the banded pairing/components stay covered by
    * q207 + ImageDedupSpec.
    */
  private def q212(s: SparkSession, d: String): DataFrame =
    imageSigs(s, d)
      .select(
        col("id").as("doc_id"),
        shiftrightunsigned(col("sig"), 32)
          .bitwiseAND(lit(0xFFFFFFFFL))
          .as("sig_hi"),
        col("sig").bitwiseAND(lit(0xFFFFFFFFL)).as("sig_lo"))
      .orderBy("doc_id")

  /** Okapi BM25 ranked retrieval (q214): top-20 documents for a fixed
    * multi-term query under the Lucene-default scoring function —
    * completes the retrieval family (tf-idf weights q33, dense ANN
    * q18/q32/…, hybrid RRF fusion q156) with the probabilistic
    * sparse-ranking standard. Scores round to 6 decimals BEFORE the
    * rank and ties break on doc_id, so the top-k cut is engine-
    * deterministic ([[graft.operators.Sampling.bm25TopK]]).
    */
  private def q214(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.bm25TopK(
      Tables.documents(s, d),
      "doc_id",
      "text",
      Seq("hash", "join", "stream"),
      k = 20)

  /** HASH-GREEN twin of q211's fingerprint stage (the q212 precedent
    * on the audio modality): Spark runs the REAL pipeline — WAV
    * synthesis, `javax.sound.sampled` container decode, Hann-windowed
    * DFT band energies, delta-sign packing
    * ([[graft.multimodal.Multimodal.audioFingerprints]]) — while the
    * DuckDB oracle replays the planted melodies ARITHMETICALLY: the
    * clips are quantized sinusoids that are pure functions of
    * (doc_id mod 25, group ordinal), so every per-sample PCM value,
    * Hann weight, probe phasor, and band energy is reproducible in
    * SQL, and the 64 sign bits compare with a measured worst relative
    * energy margin of 5.9e-4 across all 75 distinct clips — eleven
    * orders of magnitude above cross-engine libm noise, so the strict
    * compares agree bit-for-bit. Ships as two unsigned 32-bit halves
    * (the q212 packing). Converts the audio-decode/DSP stage from
    * rows-only to a hard hash row; banding/components stay covered by
    * q211 + AudioDedupSpec.
    */
  private def q217(s: SparkSession, d: String): DataFrame =
    audioSigs(s, d)
      .select(
        col("id").as("doc_id"),
        shiftrightunsigned(col("sig"), 32)
          .bitwiseAND(lit(0xFFFFFFFFL))
          .as("sig_hi"),
        col("sig").bitwiseAND(lit(0xFFFFFFFFL)).as("sig_lo"))
      .orderBy("doc_id")

  /** HASH-GREEN twin of q215's fingerprint stage (the q212/q217
    * precedent on the video modality): Spark runs the REAL pipeline —
    * AVI container synthesis, RIFF parse, bottom-up DIB frame decode,
    * per-frame dHash, relative-position frame sampling, per-bit
    * majority vote ([[graft.multimodal.Multimodal.videoFingerprints]])
    * — while the DuckDB oracle replays the planted clips
    * ARITHMETICALLY. The assets
    * ([[graft.multimodal.Multimodal.videoVoteAssetsFromIds]]) plant
    * minority OUTLIER frames of a different pattern that the majority
    * vote provably suppresses (5-vs-1 in the 6-frame variants) and, in
    * the 11-frame variant, park them on the two frame indices the
    * t·n/9 sampler never visits — so the clip signature collapses to
    * the integer-exact dHash of the base gradient pattern (the q212
    * cell formula, brightness terms cancelling in every cell compare).
    * Ships as two unsigned 32-bit halves (the q212 packing). Converts
    * the video decode/sample/vote stage from rows-only to a hard hash
    * row; banding/components stay covered by q215 + VideoDedupSpec.
    */
  /** q218/q222 shared stage: the AVI synth → RIFF parse → per-frame
    * dHash → majority-vote clip fingerprint frame over the VOTE asset
    * corpus — both queries consume these exact rows ([[sharedStage]]),
    * so the container/decode pipeline runs once per (session, dir).
    */
  private def videoVoteSigs(s: SparkSession, d: String): DataFrame =
    sharedStage(s, d, "video_vote_sigs") {
      graft.multimodal.Multimodal
        .videoFingerprints(
          graft.multimodal.Multimodal.videoVoteAssetsFromIds(
            Tables.documents(s, d)
              .select("doc_id")
              .repartition(s.sparkContext.defaultParallelism),
            "doc_id"))
    }

  private def q218(s: SparkSession, d: String): DataFrame =
    videoVoteSigs(s, d)
      .select(
        col("id").as("doc_id"),
        shiftrightunsigned(col("sig"), 32)
          .bitwiseAND(lit(0xFFFFFFFFL))
          .as("sig_hi"),
        col("sig").bitwiseAND(lit(0xFFFFFFFFL)).as("sig_lo"))
      .orderBy("doc_id")

  /** HASH-GREEN video near-dup PAIR STAGE (q222): the q215 banded-
    * Hamming pair machinery → transitive components → min-id canonical
    * flags, run end-to-end on the q218 VOTE corpus — whose majority-
    * vote signatures are closed-form in doc_id (every variant of a
    * pattern collapses to the base gradient's integer-exact dHash, the
    * q218 proof). With signatures a pure function of the data, the
    * pair set (banded Hamming ≤ 4), the connected components, and the
    * min-id survivor flags are all SQL-replayable: the oracle rebuilds
    * the 25 pattern signatures arithmetically, pairs the ≤25 DISTINCT
    * signature nodes under bit_count(xor) ≤ 4, and closes them with a
    * recursive min-root propagation (measured min cross-pattern
    * Hamming is 7, so the replay holds even if a future asset change
    * merged families). Converts the video PAIR/COMPONENT stage from
    * rows-only to a hard hash row — q215 keeps covering the re-encode/
    * brightness invariances on the dup corpus, VideoDedupSpec
    * unchanged.
    */
  private def q222(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .nearDupFromSigs(
        videoVoteSigs(s, d), maxHamming = 4, bands = 8, maxBucketSize = 256)
      .select(col("id").as("doc_id"), col("component"), col("canonical"))
      .orderBy("doc_id")

  /** Build-once cache for the APPENDED BM25 index (q223): half the
    * corpus at build, the other half via
    * [[graft.operators.Sampling.bm25AppendIndex]] — the cached
    * artifact is the evolved index every probe then reads.
    */
  private val bm25AppendIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def bm25AppendedIndex(s: SparkSession, d: String): String =
    bm25AppendIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("bm25app", d)
        val docs = Tables.documents(s, d)
        graft.operators.Sampling.bm25WriteIndex(
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", path, sourceTag = d)
        graft.operators.Sampling.bm25AppendIndex(
          docs.where(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", path, sourceTag = d)
        path
      })

  /** Incremental BM25 index APPEND, probed (q223): the index is built
    * from the even half of the corpus and EVOLVED with the odd half
    * ([[graft.operators.Sampling.bm25AppendIndex]] — lifecycle parity
    * with the ANN family's `ivfAppendIndex` / the minhash segment
    * appends: inverted lists grow, nothing rebuilds), then probed with
    * the q214 query at k=20. The append merges (N, token-total) stats
    * exactly and posting rows are per-doc, so the probe is
    * BIT-IDENTICAL to a probe of a full one-shot build — which is why
    * the oracle is the q214 full-corpus replay verbatim: HASH-green
    * proves build+append+probe ends exactly where a rebuild would.
    */
  private def q223(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .bm25ProbeMany(
        s,
        bm25AppendedIndex(s, d),
        Seq(1L -> Seq("hash", "join", "stream")),
        k = 20,
        sourceTag = d)
      .select(col("doc_id"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))

  /** Build-once cache for the APPENDED SQ index (q224): the even
    * vectors at build, the odd vectors appended under the FROZEN even
    * bounds ([[graft.operators.Similarity.sqAppendIndex]]).
    */
  private val sqAppendIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def sqAppendedIndex(s: SparkSession, d: String): String =
    sqAppendIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("sqapp", d)
        val emb = Tables.embeddings(s, d)
        Similarity.sqWriteIndex(
          emb.where(pmod(col("vec_id"), lit(2)) === 0),
          "embedding", "vec_id", path, sourceTag = d)
        // the q224/q229 oracles replay the FROZEN-bounds append
        // semantics — pin the auto-retrain off for this build (as an
        // explicit per-call threshold, never a process-global
        // sys.prop: a global pin would suppress a due retrain in any
        // concurrent sqAppendIndex and its removal would clobber an
        // operator-set override) so a scale factor whose odd half
        // happens to clip past the default trigger cannot silently
        // fold the index out from under the declared replays
        // (RetrainSpec owns the trigger behavior)
        Similarity.sqAppendIndex(
          emb.where(pmod(col("vec_id"), lit(2)) === 1),
          "embedding", "vec_id", path, sourceTag = d,
          retrainClipFrac = Some(2d))
        path
      })

  /** Incremental SQ index APPEND, probed (q224): the index is built
    * from the even vectors and EVOLVED with the odd half under the
    * FROZEN even-half quantization bounds
    * ([[graft.operators.Similarity.sqAppendIndex]] — the
    * frozen-quantizer evolution, completing the SQ lifecycle beside
    * q220/q221 the way `ivfAppendIndex` completes IVF's). Out-of-bounds
    * components CLAMP to the nearest code (123 of 250 odd vectors at
    * sf0.01 genuinely clip — the path is exercised, not vacuous);
    * ranks stay deterministic and the rescore stays exact, so the
    * whole evolved pipeline is SQL-replayable: the oracle is the q219
    * replay with bounds computed over the EVEN half only and a
    * LEAST/GREATEST clamp on the codes — hash-green proves the frozen
    * bounds, the clamp, and the probe agree bit-for-bit across
    * engines.
    */
  private def q224(s: SparkSession, d: String): DataFrame =
    Similarity.sqProbeIndex(
      s,
      sqAppendedIndex(s, d),
      queryVec(s, d),
      k = 20,
      factor = 4,
      sourceTag = d)

  /** Frozen-quantizer DRIFT metric (q229): per-segment quantization
    * distortion + clip fraction of the q224 evolved SQ index
    * ([[graft.operators.Similarity.sqDriftMetrics]]) — the number
    * that triggers the retrain-=-rebuild every frozen-quantizer
    * append path documents (SQ bounds, IVF centroids, IVF-PQ
    * codebooks) but nothing measured until now. Hash-green: the
    * metric is pure arithmetic over stored codes/vectors under the
    * frozen `_meta` bounds, so the oracle re-aggregates the q224
    * replay's bounds/clamp/dequantize CTEs (seg 0 = even build half,
    * seg 1 = odd appended half; 123 of 250 odd vectors clip at
    * sf0.01, so the drift signal is exercised, not vacuous — seg 1's
    * clip_frac and avg_abs_err visibly exceed seg 0's irreducible
    * half-step noise). The occupancy-skew twin for the IVF/IVF-PQ
    * corpus layouts ([[graft.operators.Similarity
    * .clusterOccupancyDrift]]) is spec-pinned in DriftSpec (cluster
    * assignment rides trained centroids — not SQL-replayable).
    */
  private def q229(s: SparkSession, d: String): DataFrame =
    Similarity.sqDriftMetrics(s, sqAppendedIndex(s, d), sourceTag = d)

  /** Build-once cache for the PLANTED occupancy-drift IVF index
    * (q230): a corpus whose vectors are closed-form in `vec_id` —
    * four pattern centers 100 apart on distinct axes plus integer
    * jitter ≤ 2, so every frozen-centroid assignment is PROVABLY the
    * planted pattern (own-center distance² ≤ 64 vs ≥ ~9200 to any
    * other; the q186/q222 planted-corpus discipline applied to the
    * cluster-assignment stage). Base = even ids labeled by pattern
    * (the labeled-corpus `ivfWriteIndex` path — centroids become the
    * per-cluster means); segment 1 = ids ≡ 1 (mod 4), in
    * distribution; segment 2 = ids ≡ 3 (mod 4) PILED onto pattern 1 —
    * the single-cell occupancy drift the retrain decision keys on.
    */
  private val ivfOccIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def ivfOccDriftIndex(s: SparkSession, d: String): String =
    ivfOccIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("ivfocc", d)
        val ids = Tables.embeddings(s, d).select("vec_id")
        def jit(a: Int) =
          (pmod(col("vec_id") * lit(a), lit(5)) - lit(2)).cast("double")
        val pat = pmod(shiftright(col("vec_id"), 2), lit(4))
        def centered(p: Column) = array(
          when(p === 0, lit(100d)).otherwise(lit(0d)) + jit(3),
          when(p === 1, lit(100d)).otherwise(lit(0d)) + jit(7),
          when(p === 2, lit(100d)).otherwise(lit(0d)) + jit(11),
          when(p === 3, lit(100d)).otherwise(lit(0d)) + jit(13))
        val base = ids
          .where(pmod(col("vec_id"), lit(2)) === 0)
          .select(
            col("vec_id"),
            centered(pat).as("embedding"),
            pat.cast("int").as("cluster"))
        Similarity.ivfWriteIndex(
          base, "embedding", "vec_id", "cluster", path, sourceTag = d)
        Similarity.ivfAppendIndex(
          ids
            .where(pmod(col("vec_id"), lit(4)) === 1)
            .select(col("vec_id"), centered(pat).as("embedding")),
          "embedding", "vec_id", path, sourceTag = d)
        Similarity.ivfAppendIndex(
          ids
            .where(pmod(col("vec_id"), lit(4)) === 3)
            .select(col("vec_id"), centered(lit(1)).as("embedding")),
          "embedding", "vec_id", path, sourceTag = d)
        path
      })

  /** IVF cluster-occupancy drift, HASH-GREEN (q230 — the occupancy
    * half of the q229 drift surface, oracled): the REAL pipeline —
    * labeled `ivfWriteIndex` build, two `ivfAppendIndex` segments
    * assigned by the FROZEN stored centroids, `AtomicAppend
    * .readWithSeg` provenance, the grid-completed TV/max-share
    * aggregation — over the planted corpus of [[ivfOccDriftIndex]],
    * whose separation guarantee makes every assignment equal the
    * planted pattern; DuckDB replays the counts as pure `vec_id`
    * class arithmetic (assignment CASE → counts → zero-filled
    * seg×cluster grid → shares → TV). All shares are exact small
    * rationals (denominators = segment row counts), so the 6-decimal
    * cuts sit nowhere near a rounding boundary.
    */
  private def q230(s: SparkSession, d: String): DataFrame =
    Similarity.clusterOccupancyDrift(s, ivfOccDriftIndex(s, d))

  /** Planted MinHash near-dup twin, HASH-GREEN (q231 — the q186/q222
    * discipline applied to the last unconverted signature family):
    * ids < 200 carry one of 25 EXACT-duplicate texts (identical
    * strings → identical MinHash signatures → co-bucketing in EVERY
    * band, so recall is structural, not probabilistic — the planted-
    * corpus insight the stress twins already ride); every other id
    * carries a unique zero-padded periodic text whose character-
    * shingle overlap with ANY other text is provably far below the
    * 0.8 threshold (the period-5 duplicate classes contain an
    * x/y marker in every length-5 window while the unique texts'
    * windows carry u/v or pure digits; two unique texts share at most
    * the windows not covering a differing digit — Jaccard ≤ ~0.35),
    * so the exact-Jaccard verify culls every false-positive bucket
    * collision. The REAL q14 pipeline runs end to end — normalize,
    * shingle, sign, band, skew-cap, verify, union-find
    * ([[graft.operators.Dedup.minHashNearDup]] +
    * [[graft.operators.Dedup.resolveComponentsAuto]]); the oracle is
    * pure doc_id class arithmetic. The real-text queries (q14/q166/
    * q173/q227) stay rows-only as declared — signing real text is not
    * SQL-expressible; this twin hash-pins the machinery.
    */
  private def q231(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        when(
          col("doc_id") < 200,
          repeat(format_string("x%02dy", pmod(col("doc_id"), lit(25))), 12))
          .otherwise(repeat(format_string("u%08dv", col("doc_id")), 12))
          .as("text"))
    graft.operators.Dedup
      .resolveComponentsAuto(
        graft.operators.Dedup.minHashNearDup(
          corpus,
          "text",
          "doc_id",
          shingleLen = 5,
          numHashes = 32,
          bands = 8,
          threshold = 0.8,
          maxBucketSize = 256))
      .orderBy("id")
  }

  /** Planted hyperplane-LSH embedding near-dup twin, HASH-GREEN (q232
    * — the q231 discipline applied to the LAST pipeline without a hard
    * end-to-end oracle, the banded embedding dedup behind q175/q177):
    * vec_ids < 100 carry one of 25 EXACT-duplicate two-hot vectors
    * (identical vectors → identical hyperplane signatures → co-
    * bucketing in EVERY band — recall structural, not probabilistic);
    * vec_ids 100..219 carry unique two-hot directions. Every planted
    * direction is e_a + e_b with a = ⌊g/16⌋ ∈ [0,10) drawn from the
    * LOW index block and b = 48 + (g mod 16) from the HIGH block, so
    * distinct groups share at most ONE coordinate and their cosine is
    * exactly 0 or 1/2 — provably below the 0.9 verify threshold, so
    * the exact-cosine verify culls every false-positive bucket
    * collision. The REAL banded pipeline runs end to end — hyperplane
    * sign, band, skew-cap, exact-cosine verify, union-find
    * ([[graft.operators.Dedup.embeddingNearDupBanded]] +
    * [[graft.operators.Dedup.resolveComponentsAuto]]); the oracle is
    * pure vec_id class arithmetic. The real-embedding queries
    * (q175/q177) stay rows-only as declared — hyperplane-signing real
    * floats is not SQL-expressible; this twin hash-pins the machinery.
    */
  private def q232(s: SparkSession, d: String): DataFrame = {
    val g = when(col("vec_id") < 100, pmod(col("vec_id"), lit(25)))
      .otherwise(col("vec_id") - lit(75L)) // 25 + (vec_id − 100) ≤ 144
    val a = floor(g / lit(16)).cast("int")
    val b = (lit(48) + pmod(g, lit(16))).cast("int")
    val vec = transform(
      sequence(lit(0), lit(63)),
      j => when(j === a || j === b, lit(1.0d)).otherwise(lit(0.0d)))
    val corpus = Tables
      .embeddings(s, d)
      .where(col("vec_id") < 220)
      .select(col("vec_id"), vec.as("embedding"))
    graft.operators.Dedup
      .resolveComponentsAuto(
        graft.operators.Dedup.embeddingNearDupBanded(
          corpus,
          "embedding",
          "vec_id",
          nBits = 16,
          bands = 4,
          threshold = 0.9,
          maxBucketSize = 1024))
      .orderBy("id")
  }

  /** Quality-scored survivor selection (q225): q174's exact cosine
    * components through [[graft.operators.Dedup.bestSurvivors]] —
    * within each near-dup component keep the member with the HIGHEST
    * label (the stand-in quality score; ties break on vec_id), not the
    * arbitrary min-id member. The survivor-policy half of dedup that
    * production curation actually configures ("keep the best copy,
    * not the first"), hash-green because the q174 component closure is
    * SQL-replayable and the selection is one deterministic window on
    * top of it.
    */
  private def q225(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.operators.Dedup
      .bestSurvivors(
        emb.select("vec_id", "label"),
        "vec_id",
        graft.operators.Dedup.resolveComponentsAuto(
          graft.operators.Dedup
            .embeddingNearDupExact(emb, "embedding", "vec_id", 0.4)),
        col("label").desc)
      .orderBy("vec_id")
  }

  /** IVF-PQ batch probe (q226, rows-only — approximate): the q155
    * probe shape batched over three query vectors through
    * [[graft.operators.ProductQuant.ivfPqProbeMany]] — the last ANN
    * family to join the `ProbeIndexMany` discipline. ONE partition-
    * pruned, column-pruned code scan ADC-scores the whole batch
    * (vectors stay unread until the exact re-rank of each query's
    * `refine` candidates); per query the rows equal the single
    * [[graft.operators.ProductQuant.ivfPqProbe]] answer bitwise
    * (ExtensionsSpec asserts it; PlanSpec pins WindowGroupLimit +
    * the cluster PartitionFilters).
    */
  private def q226(s: SparkSession, d: String): DataFrame =
    graft.operators.ProductQuant
      .ivfPqProbeMany(
        s,
        ivfPqIndex(s, d),
        Tables.embeddings(s, d).where(col("vec_id").isin(0, 1, 2)),
        "embedding",
        "vec_id",
        k = 10,
        nprobe = 3,
        refine = 50,
        sourceTag = d)
      .orderBy("query_id", "id")

  /** Scored-survivor selection at the SCALABLE pair-generator shape
    * (q227, rows-only — MinHash signing over real text is not
    * SQL-expressible): q225's "keep the best copy, not the first"
    * policy composed over the production pair generator instead of
    * the exact O(n²) oracle baseline —
    * [[graft.operators.Dedup.minHashNearDup]] (banded,
    * bucket-capped, never all-pairs) →
    * [[graft.operators.Dedup.resolveComponentsAuto]] →
    * [[graft.operators.Dedup.bestSurvivors]] ranked by
    * [[graft.functions.TextFunctions.qualityScore]] (ties to min
    * doc_id). This is the 100-TB composition a curation pipeline
    * actually deploys: pair generation stays banded, component
    * resolution stays pair-bounded, and the survivor window is ONE
    * component-key exchange (PlanSpec-pinned for q225's identical
    * window). The pair frame is the q14 SHARED STAGE
    * ([[mhPairsShared]]) — the expensive sign→band→verify pipeline
    * runs once per (session, dir) for both queries, which is also the
    * production shape (one pair pass feeds every downstream
    * consumer). ExtensionsSpec proves policy equality on a planted
    * near-dup corpus against the same bestSurvivors policy fed the
    * exact all-pairs components; Stress `survivors` verifies the full
    * composition row-for-row against a closed-form oracle at 50×
    * (250k docs, the distributed component path).
    */
  private def q227(s: SparkSession, d: String): DataFrame = {
    val comps = graft.operators.Dedup.resolveComponentsAuto(
      mhPairsShared(s, d))
    graft.operators.Dedup
      .bestSurvivors(
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            TextFunctions.qualityScore(col("text")).as("quality")),
        "doc_id",
        comps,
        col("quality").desc)
      .orderBy("doc_id")
  }

  /** IVF-PQ batch probe of an APPENDED index (q228, rows-only —
    * approximate like every PQ query): the q226 probe shape over an
    * index that grew by [[graft.operators.ProductQuant
    * .ivfPqAppendIndex]] — even vec_ids trained the coarse quantizer
    * and codebooks at build, odd vec_ids arrived later as one
    * crash-atomic frozen-quantizer segment, and the batch probe reads
    * base ∪ committed segments with partition pruning per leg. The
    * last index family now evolves like the other four (q223 BM25,
    * q224 SQ, LSH, IVF); AtomicAppendSpec proves crash invisibility,
    * repair, and split-shape invariance for this path.
    */
  private def q228(s: SparkSession, d: String): DataFrame =
    graft.operators.ProductQuant
      .ivfPqProbeMany(
        s,
        ivfPqAppendedIndex(s, d),
        Tables.embeddings(s, d).where(col("vec_id").isin(0, 1, 2)),
        "embedding",
        "vec_id",
        k = 10,
        nprobe = 3,
        refine = 50,
        sourceTag = d)
      .orderBy("query_id", "id")

  /** Scalar-quantized (int8) ANN top-k with exact rescore (q219): the
    * missing cheap point on the quantization spectrum beside PQ/IVF-PQ,
    * and the FIRST ANN-family query with a hard hash oracle — both the
    * candidate cut (dequantized-cosine rank) and the final cut (exact
    * rescore) round scores to 6 decimals before ranking with id
    * tiebreaks (the q214 discipline), so the full pipeline — per-dim
    * bounds, affine int8 codes, dequantize, rank, rescore — is a pure
    * function of the data that DuckDB replays step for step
    * ([[graft.operators.Similarity.sqTopK]]).
    */
  private def q219(s: SparkSession, d: String): DataFrame =
    Similarity.sqTopK(
      Tables.embeddings(s, d),
      "embedding",
      "vec_id",
      queryVec(s, d),
      k = 20,
      factor = 4)

  /** Build-once SQ index cache (per JVM, per sf dir) — the
    * [[lshIndexCache]] lifecycle for the scalar-quantized index.
    */
  private val sqIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def sqIndex(s: SparkSession, d: String): String =
    sqIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("sq", d)
        Similarity.sqWriteIndex(
          Tables.embeddings(s, d), "embedding", "vec_id", path, sourceTag = d)
        path
      })

  /** Persisted-SQ-index probe (q220): the q219 pipeline through the
    * build-once index — candidate stage scans ONLY the int8 codes
    * column (parquet column pruning: the 4–8× byte win SQ exists for),
    * rescore reads the candidate row groups under a pushed id-IN
    * filter. Bit-identical to the inline [[Similarity.sqTopK]] by
    * construction, so the q219 oracle replays it unchanged
    * ([[Similarity.sqProbeIndex]]).
    */
  private def q220(s: SparkSession, d: String): DataFrame =
    Similarity.sqProbeIndex(
      s,
      sqIndex(s, d),
      queryVec(s, d),
      k = 20,
      factor = 4,
      sourceTag = d)

  /** SQ-index batch probe (q221): three query vectors against the
    * persisted q220 index in ONE codes-column scan + one pushed-filter
    * rescore — the [[Similarity.sqProbeIndexMany]] build-once/
    * probe-many shape. Each query's rows equal its single-probe
    * answer, so the oracle is the q219 replay with a per-query window
    * rank.
    */
  private def q221(s: SparkSession, d: String): DataFrame =
    Similarity
      .sqProbeIndexMany(
        s,
        sqIndex(s, d),
        Tables.embeddings(s, d).where(col("vec_id").isin(0, 1, 2)),
        "embedding",
        "vec_id",
        k = 20,
        factor = 4,
        sourceTag = d)
      .orderBy("query_id", "id")

  /** Build-once BM25 inverted-index cache (per JVM, per sf dir) — the
    * sparse-retrieval twin of [[lshIndexCache]]: the probe path must
    * not re-tokenize the corpus per query batch.
    */
  private val bm25IndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def bm25Index(s: SparkSession, d: String): String =
    bm25IndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("bm25", d)
        graft.operators.Sampling.bm25WriteIndex(
          Tables.documents(s, d), "doc_id", "text", path, sourceTag = d)
        path
      })

  /** BM25 MANY-QUERY batch probe over the persisted inverted index
    * (q216): top-10 per query for a 3-query batch — the
    * build-once / probe-many lifecycle ([[graft.operators.Sampling
    * .bm25WriteIndex]]/[[graft.operators.Sampling.bm25ProbeMany]]) the
    * ANN family already follows, now for sparse retrieval. The probe
    * reads only the query terms' postings shards (partition pruning +
    * a pushed term IN filter over term-sorted row groups); dl rides
    * denormalized on the posting rows, so no corpus-cardinality join
    * or exchange exists at probe time. Per query, scores are
    * term-for-term identical to the inline q214 path (SamplingSpec
    * asserts equality); HASH-green against a DuckDB replay of the
    * same three-query batch.
    */
  private def q216(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .bm25ProbeMany(
        s,
        bm25Index(s, d),
        Seq(
          1L -> Seq("hash", "join", "stream"),
          2L -> Seq("vector", "scan"),
          3L -> Seq("window", "merge", "slow")),
        k = 10,
        sourceTag = d)
      .orderBy(col("query_id"), col("bm25").desc, col("doc_id"))

  /** SEMANTIC benchmark decontamination, exact form (q213): the
    * embedding-level twin of q54/q61's shingle decontamination — drop
    * every training vector with a cosine-≥-0.4 neighbor in the
    * benchmark split (vec_id % 10 == 0 plays the benchmark; the other
    * 90% the training corpus), catching eval leakage that survives
    * paraphrase where no shingle matches. Eval side broadcasts; the
    * train side is one scan with a short-circuiting LEFT ANTI — the
    * deliberate O(|train|·|bench|) oracle-fidelity baseline
    * ([[graft.operators.Dedup.decontaminateSemantic]]);
    * `decontaminateSemanticBanded` is the LSH-prefiltered 100-TB path,
    * pinned ⊆/⊇-consistent by ExtensionsSpec. HASH-green: DuckDB
    * replays the NOT EXISTS with `list_cosine_similarity` over
    * DOUBLE[] (the q174 precedent).
    */
  private def q213(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.operators.Dedup
      .decontaminateSemantic(
        emb.where(col("vec_id") % 10 =!= 0),
        emb.where(col("vec_id") % 10 === 0),
        "embedding",
        0.4)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** Temperature-scaled sampling SCHEDULE (the α-mixing standard from
    * multilingual/pretraining recipes — q96's uniform-target reweight
    * is one extreme, proportional sampling the other; α between them):
    * per-source weight ∝ share^α (α = 0.5, so `sqrt` — correctly
    * rounded IEEE in both engines, unlike libm `pow`), normalized,
    * then a token budget converts weights into per-source sampled
    * token masses and EPOCH counts (sampled/own — the "how many times
    * does low-resource source X repeat under this schedule" number
    * that decides curation). Same plan shape as q96: one partial+final
    * agg to #sources rows, windows over that tiny aggregate (source
    * cardinality bounds the single partition — fine at 100 TB).
    */
  /** Tokenizer-aware corpus economics: q200's temperature schedule
    * recomputed over REAL tokenizer counts — per-source token mass =
    * Σ of q197's trained-BPE per-doc counts instead of whitespace
    * counts. The distinction is the whole point of the query: a
    * source whose text is morphologically expensive under the learned
    * tokenizer (more BPE pieces per word) costs more of the token
    * budget than its whitespace share suggests, and the α-schedule
    * must price that in. Plan shape: q197's vocab-factored encode
    * (merges cached per dir) → per-source partial+final agg to
    * #sources rows → window math over that tiny aggregate. Rows-only:
    * the trained merge list is not SQL-expressible (q197's stance);
    * MixtureSpec pins the schedule math against a driver replay over
    * q197's own output.
    */
  private def q209(sess: SparkSession, d: String): DataFrame = {
    val budget = 10000000L
    val wAll = Window.partitionBy()
    val perDoc = q197(sess, d) // doc_id, n_words, n_bpe_tokens
    Tables
      .documents(sess, d)
      .select(col("doc_id"), col("source"))
      .join(perDoc.select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum("n_bpe_tokens").as("n_tokens"))
      .select(
        col("source"),
        col("n_tokens"),
        (col("n_tokens").cast("double") / sum(col("n_tokens")).over(wAll))
          .as("share"))
      .withColumn("w_raw", sqrt(col("share")))
      .withColumn("weight", col("w_raw") / sum(col("w_raw")).over(wAll))
      .select(
        col("source"),
        col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("weight"), 6).as("weight"),
        round(lit(budget.toDouble) * col("weight"), 2)
          .as("sampled_tokens"),
        round(
          lit(budget.toDouble) * col("weight") /
            col("n_tokens").cast("double"),
          6).as("epochs"))
      .orderBy("source")
  }

  private def q200(sess: SparkSession, d: String): DataFrame = {
    val budget = 10000000L // target tokens drawn under the schedule
    val wAll = Window.partitionBy()
    Tables
      .documents(sess, d)
      .groupBy(col("source"))
      .agg(
        sum(
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
      .select(
        col("source"),
        col("n_tokens"),
        (col("n_tokens").cast("double") / sum(col("n_tokens")).over(wAll))
          .as("share"))
      .withColumn("w_raw", sqrt(col("share")))
      .withColumn("weight", col("w_raw") / sum(col("w_raw")).over(wAll))
      .select(
        col("source"),
        col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("weight"), 6).as("weight"),
        round(lit(budget.toDouble) * col("weight"), 2)
          .as("sampled_tokens"),
        round(
          lit(budget.toDouble) * col("weight") /
            col("n_tokens").cast("double"),
          6).as("epochs"))
      .orderBy("source")
  }

  /** Gopher rule-pack document filter (Rae et al. arXiv:2112.11446
    * §A1.1 — the rule battery Dolma/RefinedWeb-style pipelines start
    * from, distinct from q21's composite score: per-RULE diagnostics
    * plus the conjunctive keep decision, so curation can see WHICH rule
    * fired): word-count bounds, mean word length ∈ [3, 10],
    * hash/ellipsis symbol ratio ≤ 0.1, ≤10% bullet-started lines,
    * ≤30% ellipsis-ended lines, ≥80% words with an alphabetic char,
    * ≥2 distinct Gopher stopwords. One narrow projection over the
    * corpus — every rule is a codegen'd higher-order array expression
    * (no explode, no shuffle, no UDF); substring counts use the
    * length-minus-replace identity so both engines count identically
    * (non-overlapping occurrences). On the SYNTHETIC corpus every doc
    * honestly fails the stopword rule (the generated text carries <2
    * distinct Gopher stopwords — it is not natural English), so `keep`
    * is all-0 here and the per-rule diagnostics are the signal;
    * CurationSpec pins keep=1 on planted natural-text docs and each
    * rule's individual rejection.
    */
  private def q201(sess: SparkSession, d: String): DataFrame = {
    val st = graft.functions.TextFunctions.gopherStats(col("text"))
    graft.ops.Stage
      // single-task scan serialized the rule battery (q205's shape);
      // adaptive fan-out, no-op at corpus scale
      .fanOutIfNarrow(Tables.documents(sess, d), col("doc_id"))
      .select(col("doc_id"), st.as("st"))
      .select(
        col("doc_id"),
        col("st.n_words").as("n_words"),
        round(col("st.mean_word_len"), 6).as("mean_word_len"),
        round(col("st.symbol_ratio"), 6).as("symbol_ratio"),
        round(col("st.bullet_ratio"), 6).as("bullet_ratio"),
        round(col("st.ellipsis_ratio"), 6).as("ellipsis_ratio"),
        round(col("st.alpha_ratio"), 6).as("alpha_ratio"),
        col("st.n_stop_hits").as("n_stop_hits"),
        when(graft.functions.TextFunctions.gopherKeep(col("st")), 1L)
          .otherwise(0L)
          .as("keep"))
      .orderBy("doc_id")
  }

  /** C4-style line-level cleaning (Raffel et al. arXiv:1910.10683 §2.2
    * — the TRANSFORM side of document filtering, where q201's Gopher
    * pack only flags): keep lines that end in terminal punctuation,
    * carry ≥5 words, and don't mention javascript; reassemble the
    * survivors as `clean_text`; page-level C4 disposition (≥3
    * sentences in the cleaned text, no "lorem ipsum", no '{'). All
    * order-preserving higher-order array ops (`filter` keeps element
    * order, `concat_ws` joins in order) — no explode, no shuffle, one
    * narrow corpus projection.
    */
  private def q202(sess: SparkSession, d: String): DataFrame = {
    val lines = split(col("text"), "\n")
    val keptArr = graft.functions.TextFunctions.c4KeptLines(col("text"))
    val clean = concat_ws("\n", keptArr)
    val nSent = length(clean) - length(regexp_replace(clean, "[.!?]", ""))
    val pageKeep =
      (nSent >= 3) && !lower(col("text")).contains("lorem ipsum") &&
        !col("text").contains("{")
    Tables
      .documents(sess, d)
      .select(
        col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(keptArr).cast("long").as("n_kept"),
        nSent.cast("long").as("n_sentences"),
        when(pageKeep, 1L).otherwise(0L).as("page_keep"),
        clean.as("clean_text"))
      .orderBy("doc_id")
  }

  /** Near-dup cluster SHAPE diagnostic
    * ([[graft.operators.Graph.triangleStats]]): per-vertex triangle
    * count + local clustering coefficient over q16's verified Jaccard
    * pair graph — coefficient ≈ 1 marks true duplicate cliques,
    * ≈ 0 marks transitive chains where survivor selection deserves
    * scrutiny. Exact and SQL-expressible (two equi-joins enumerate
    * each x<y<z triangle once), so the oracle replays it verbatim.
    */
  private def q203(s: SparkSession, d: String): DataFrame =
    graft.operators.Graph
      .triangleStats(q16(s, d))
      .select(
        col("id").as("doc_id"),
        col("degree"),
        col("n_triangles"),
        round(col("clustering"), 6).as("clustering"))
      .orderBy("doc_id")

  /** HTML → main-content extraction ([[graft.functions.HtmlExtract]]):
    * the stage in FRONT of q201/q202 in every real web pipeline (C4
    * §2.2 starts from text already extracted from pages). The corpus
    * table carries plain text, so each doc is first wrapped in a
    * deterministic page skeleton — head with title/style/script, a
    * link-only nav, the doc's paragraphs as `<p>` blocks, a
    * link-dominated footer — and extraction must recover exactly the
    * body paragraphs that clear the length bar: head/script/style/
    * comment content gone, nav and footer dropped by link density,
    * entities decoded. The page construction is shared with the
    * oracle (same concat), so the query is hash-green end to end; one
    * narrow projection, no UDF, no shuffle before the output sort.
    */
  /** The deterministic page skeleton q204/q210 wrap the corpus text
    * in — byte-identical to the oracle's concat.
    */
  /** Per-doc-varied page chrome for the planted web corpus
    * (`doc_id mod 5` selects the variant, in BOTH the Spark column and
    * the DuckDB oracle): a link-list nav, a link TABLE, a nested list
    * with unclosed `<li>`s and entity edge cases, a sidebar with an
    * UNCLOSED `<div>` and a truncated document, and a comment/br/hr
    * banner — so the extractor's link-density and length filtering is
    * exercised against five distinct chrome shapes (including
    * malformed markup) at corpus scale, not one fixed skeleton.
    * Variant 2's footer is intentionally prose-heavy enough to PASS
    * the block filter (realistic extraction noise the q210 C4 line
    * cleaning then drops); every other chrome block is link-dense or
    * short and is filtered. `&middot;`/`&#183;` stay literal (outside
    * the unescape set — a deliberate entity edge case).
    */
  private[graft] val htmlChromePre: Seq[String] = Seq(
    "<html><head><title>Synthetic corpus page</title>" +
      "<style>p{margin:0} nav{display:flex}</style>" +
      "<script type=\"text/javascript\">var tracker = 1;</script>" +
      "</head><body>" +
      "<nav><ul><li><a href=\"/\">Home</a></li>" +
      "<li><a href=\"/about\">About &amp; Contact</a></li>" +
      "<li><a href=\"/archive\">Archive</a></li></ul></nav>" +
      "<!-- chrome ends -->",
    "<html><head><title>Index of documents</title>" +
      "<meta charset=\"utf-8\">" +
      "<script>if(a<b){track()}</script></head><body>" +
      "<table class=\"nav\"><tr><td><a href=\"/\">Home</a></td>" +
      "<td><a href=\"/tags\">Tags</a></td>" +
      "<td><a href=\"/search\">Search</a></td></tr>" +
      "<tr><td colspan=\"3\"><a href=\"/login\">Log in</a> &#124; " +
      "<a href=\"/register\">Register</a></td></tr></table>" +
      "<div class=\"wrap\"><p class=\"lead\">",
    "<html><head><title>Docs &amp; Data</title>" +
      "<style>ul ul{margin-left:1em}</style></head><body>" +
      "<nav><ul><li><a href=\"/\">Start</a>" +
      "<ul><li><a href=\"/a\">Alpha &quot;quoted&quot;</a>" +
      "<li><a href=\"/b\">Beta &#39;solo&#39;</a>" +
      "<li><a href=\"/c\">&lt;Gamma&gt;</a></ul></ul></nav><main>",
    "<html><head><title>Mirror</title></head><body>" +
      "<header><h1 class=\"site\">Corpus mirror</h1></header>" +
      "<aside><p><a href=\"/top?a=1&amp;b=2\">Top</a> " +
      "<a href=\"/new\">New</a> <a href=\"/best\">Best</a> " +
      "<a href=\"/rss\">RSS</a></p></aside>" +
      "<div class=\"page\"><div class=\"inner\">",
    "<html><head><title>Archive page</title></head><body>" +
      "<!-- banner --><div class=\"banner\">" +
      "<a href=\"/donate\">Donate</a> <br> " +
      "<a href=\"/mirror\">Mirror</a> <hr></div><!-- content starts -->")

  private[graft] val htmlChromePost: Seq[String] = Seq(
    "<footer><a href=\"/privacy\">Privacy</a> &#183; " +
      "<a href=\"/terms\">Terms of service</a></footer></body></html>",
    // unclosed <p class="lead"> above, no </body></html>: truncated doc
    "</div><footer><table><tr><td><a href=\"/privacy\">Privacy</a></td>" +
      "<td><a href=\"/terms\">Terms</a></td></tr></table>",
    "</main><footer>Generated &nbsp;by the synthetic corpus builder " +
      "&amp; friends every night of the week &#183; " +
      "<a href=\"/imprint\">Imprint</a></footer></body></html>",
    // only ONE of the two open divs closes: unclosed <div class="page">
    "</div><footer><p><a href=\"/contact\">Contact</a></p></footer>" +
      "</body></html>",
    "<!-- content ends --><div class=\"footline\">" +
      "<a href=\"/a11y\">Accessibility</a> &middot; " +
      "<a href=\"/sitemap\">Sitemap</a></div></body></html>")

  private def chromeCase(parts: Seq[String]): Column =
    parts.zipWithIndex.tail
      .foldLeft(
        when(pmod(col("doc_id"), lit(parts.length)) === 0, lit(parts.head))) {
        case (acc, (s, i)) =>
          acc.when(pmod(col("doc_id"), lit(parts.length)) === i, lit(s))
      }
      .otherwise(lit("")) // unreachable: pmod of a non-negative id

  private def plantedHtml: Column = concat(
    chromeCase(htmlChromePre),
    lit("<div class=\"content\"><h1>Document "),
    col("doc_id").cast("string"),
    lit("</h1><p>"),
    regexp_replace(col("text"), "\n", "</p><p>"),
    lit("</p></div>"),
    chromeCase(htmlChromePost))

  private def sqlQuote(s: String): String =
    "'" + s.replace("'", "''") + "'"

  private def chromeCaseSql(parts: Seq[String]): String =
    s"CASE doc_id % ${parts.length} " +
      parts.zipWithIndex
        .map { case (s, i) => s"WHEN $i THEN ${sqlQuote(s)}" }
        .mkString(" ") + " END"

  /** The oracle's `h` CTE — the EXACT page construction of
    * [[plantedHtml]] in DuckDB SQL, shared by the q204 and q210
    * oracles so the two can never drift from the Spark column or from
    * each other.
    */
  private lazy val htmlOracleH: String =
    "SELECT doc_id, " + chromeCaseSql(htmlChromePre) +
      " || '<div class=\"content\"><h1>Document ' || " +
      "CAST(doc_id AS VARCHAR) || '</h1><p>' || " +
      "replace(text, chr(10), '</p><p>') || '</p></div>' || " +
      chromeCaseSql(htmlChromePost) +
      " AS html FROM documents"

  /** q204/q210 shared stage: the planted-page construction + HTML
    * main-content extraction projection over the corpus — both queries
    * consume these exact (doc_id, st) rows ([[sharedStage]]), so the
    * regex-chain extraction runs once per (session, dir), not once per
    * query.
    */
  private def htmlExtracted(s: SparkSession, d: String): DataFrame =
    sharedStage(s, d, "html_extract") {
      Tables
        .documents(s, d)
        .select(
          col("doc_id"),
          graft.functions.HtmlExtract.mainContent(plantedHtml).as("st"))
    }

  private def q204(sess: SparkSession, d: String): DataFrame =
    htmlExtracted(sess, d)
      .select(
        col("doc_id"),
        col("st.n_blocks").as("n_blocks"),
        col("st.n_kept").as("n_kept"),
        length(col("st.main_text")).cast("long").as("main_len"),
        col("st.main_text").as("main_text"))
      .orderBy("doc_id")

  /** The raw-web pipeline END TO END: planted page → main-content
    * extraction ([[graft.functions.HtmlExtract]], q204's stage) →
    * C4 line cleaning ([[graft.functions.TextFunctions.c4KeptLines]],
    * q202's stage) — the exact composition a web corpus runs before
    * any document-level filter sees text. Extraction emits one block
    * per line, so the C4 pass reads blocks as its lines; the digest +
    * length prove the final cleaned text byte-for-byte without
    * shipping it. Still one narrow projection per doc, no UDF, no
    * shuffle before the output sort; hash-green (the oracle chains
    * the q204 and q202 SQL verbatim).
    */
  private def q210(sess: SparkSession, d: String): DataFrame =
    htmlExtracted(sess, d)
      .select(
        col("doc_id"),
        col("st.n_kept").as("n_blocks_kept"),
        graft.functions.TextFunctions
          .c4KeptLines(col("st.main_text"))
          .as("kept"))
      .select(
        col("doc_id"),
        col("n_blocks_kept"),
        size(col("kept")).cast("long").as("n_lines_kept"),
        length(concat_ws("\n", col("kept"))).cast("long").as("clean_len"),
        md5(concat_ws("\n", col("kept"))).as("digest"))
      .orderBy("doc_id")

  /** Full-breadth PII audit ([[graft.functions.Pii]]): q86's digit-run
    * scrub widened to the rule battery a real corpus scrub runs —
    * email, IBAN-shaped account ids, card numbers, SSNs, phone
    * formats, IPv4, then the digit-run catch-all — with per-TYPE
    * replacement counts (each counted at its stage so nothing
    * double-counts) and an md5 digest + length of the final redacted
    * text proving the rewrite byte-for-byte without hauling the full
    * text through the result. The corpus text is deterministic prose,
    * so a contact block derived from doc_id is planted first (same
    * concat in the oracle) — every rule fires on every row and the
    * audit counts are load-bearing. One narrow projection, no UDF, no
    * shuffle before the output sort.
    */
  private def q205(sess: SparkSession, d: String): DataFrame = {
    val contact = concat(
      col("text"),
      lit(" Contact user"),
      col("doc_id").cast("string"),
      lit("@example.com or +1 (555) 010-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 192.168."),
      pmod(col("doc_id"), lit(256)).cast("string"),
      lit(
        ".7, IBAN DE44500105175407324931, card 4111 1111 1111 1111, " +
          "SSN 123-45-6789."))
    val st = graft.functions.Pii.redactAudit(contact)
    // one-row-group fixture → single-task scan → the whole regex
    // battery on one core; adaptive fan-out (no-op at corpus scale)
    graft.ops.Stage
      .fanOutIfNarrow(Tables.documents(sess, d), col("doc_id"))
      .select(col("doc_id"), st.as("st"))
      .select(
        col("doc_id"),
        col("st.n_email").as("n_email"),
        col("st.n_iban").as("n_iban"),
        col("st.n_cc").as("n_cc"),
        col("st.n_ssn").as("n_ssn"),
        col("st.n_phone").as("n_phone"),
        col("st.n_ip").as("n_ip"),
        col("st.n_num").as("n_num"),
        length(col("st.redacted")).cast("long").as("redacted_len"),
        md5(col("st.redacted")).as("digest"))
      .orderBy("doc_id")
  }

  private def q187(s: SparkSession, d: String): DataFrame =
    s.read
      .parquet(zLayout(s, d))
      .where(
        col("l_quantity").between(10, 15) &&
          col("l_extendedprice").between(20000, 30000))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        (sum(centsOf(col("l_extendedprice"))) / 100.0).as("sum_price"))
      .orderBy("l_returnflag")

  /** Near-dup RESOLUTION (operators/Dedup.resolveComponents): q16's
    * verified Jaccard pairs → connected components via min-label
    * propagation → (id, component) with component = min doc_id of the
    * group. id == component marks the survivor; transitive chains
    * (A~B, B~C, A≁C) collapse to ONE survivor — the step that makes
    * pair-emitting dedup actually deduplicate. Oracle: DuckDB recursive
    * CTE computing reachability-min over the same pairs.
    * `resolveComponentsAuto`: identical output, driver union-find under
    * a 200k-edge cap, distributed pointer-jumping beyond it.
    */
  private def q56(sess: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.resolveComponentsAuto(q16(sess, d))

  /** Weighted rolling mean with closed="left" (pandas
    * rolling(4, win_type='triang', closed='left').mean()): the weighted
    * frame excludes the current row — weights [.25,.75,.75,.25] over
    * lags 4..1. Exercises the closed-attribute replay on the win_type
    * path (previously a loud rejection).
    */
  private def q58(s: SparkSession, d: String): DataFrame =
    Windows.rollingWeightedMean(
      Tables.events(s, d),
      col("value"),
      orderBy = Seq(col("event_id")),
      partitionBy = Seq(col("user_id")),
      weights = Windows.windowWeights("triang", 4),
      outName = "v",
      closed = "left")
      .select("user_id", "event_id", "v")

  /** Blackman weighted rolling mean (pandas
    * rolling(5, win_type='blackman').mean()). Weights
    * 0.42 - 0.5·cos(2πk/4) + 0.08·cos(4πk/4) are spelled as the SAME
    * expression in the oracle (q44/q53's bit-identical-weights
    * rationale).
    */
  private def q59(s: SparkSession, d: String): DataFrame =
    Windows.rollingWeightedMean(
      Tables.events(s, d),
      col("value"),
      orderBy = Seq(col("event_id")),
      partitionBy = Seq(col("user_id")),
      weights = Windows.windowWeights("blackman", 5),
      outName = "v")
      .select("user_id", "event_id", "v")

  /** Exponentially weighted mean per user (pandas
    * `groupby('user_id').ewm(alpha=0.1, adjust=False).mean()`):
    * y₁ = x₁, yₜ = (1−α)·yₜ₋₁ + α·xₜ — the recursive window no frame
    * spec can express ([[graft.ops.Windows.ewmMean]]: one exchange +
    * streaming per-key scan). The oracle replays the IDENTICAL
    * recursion as a DuckDB recursive CTE — same `(1 - 0.1)*y + 0.1*x`
    * expression, same evaluation order, so the doubles are
    * bit-identical (no rounding needed).
    */
  private def q60(sess: SparkSession, d: String): DataFrame =
    Windows
      .ewmMean(
        Tables.events(sess, d),
        "value",
        orderBy = Seq(col("event_id")),
        keyCols = Seq("user_id"),
        alpha = 0.1,
        outName = "ewm")
      .select("user_id", "event_id", "ewm")

  /** Exponentially weighted variance + std per user (pandas
    * `groupby('user_id').ewm(alpha=0.2, adjust=False).var()` /
    * `.std()`, bias=False): [[graft.ops.Windows.ewmVar]]'s delta-form
    * recursions (μ, biased v, Σw²) — one exchange + O(1)-state streaming
    * scan per key. The oracle replays the IDENTICAL delta-form
    * recursion as a DuckDB recursive CTE (same expression shapes, same
    * evaluation order → bit-identical doubles, q60's rationale).
    */
  private def q64(sess: SparkSession, d: String): DataFrame =
    Windows
      .ewmVar(
        Tables.events(sess, d),
        "value",
        orderBy = Seq(col("event_id")),
        keyCols = Seq("user_id"),
        alpha = 0.2,
        outName = "ewm_var")
      .select("user_id", "event_id", "ewm_var", "ewm_var_std")

  /** Per-key linear interpolation + ffill/bfill (pandas
    * `groupby('user_id').value.interpolate()` —
    * [[graft.ops.Windows.interpolateLinear]]). Nulls are synthesized
    * deterministically (every event_id divisible by 7), then repaired
    * per user in event order. The blend `pv + (nv-pv)*(rn-pp)/(np-pp)`
    * is spelled identically in the oracle — long row-distances divide
    * exactly and both engines run the same double ops, so no rounding
    * is needed.
    */
  private def q65(s: SparkSession, d: String): DataFrame =
    Windows
      .interpolateLinear(
        Tables.events(s, d).withColumn(
          "x",
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))),
        col("x"),
        orderBy = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")),
        outName = "filled")
      .select("user_id", "event_id", "filled", "filled_ffill", "filled_bfill")

  /** Per-group shift/diff/pct_change (pandas `gb.value.shift(1)` /
    * `.diff(1)` / `.pct_change(1)` plus a forward shift(-1) —
    * [[graft.ops.Windows.shiftOps]]). All four columns come from one
    * window; identical lag/lead arithmetic on both engines — no
    * rounding needed (events.value ≥ 0.01, so pct_change never divides
    * by zero).
    */
  private def q66(s: SparkSession, d: String): DataFrame = {
    val ord = Seq(col("event_id"))
    val part = Seq(col("user_id"))
    val fwd = Windows.shiftOps(
      Tables.events(s, d), col("value"), ord, part, 1, "s1")
    Windows
      .shiftOps(fwd, col("value"), ord, part, -1, "sm1")
      .select("user_id", "event_id", "s1", "s1_diff", "s1_pct", "sm1")
  }

  /** Winsorize order totals at per-priority p05/p95
    * ([[graft.operators.Sampling.winsorize]], exact form for oracle
    * fidelity — the `approx = true` switch is the 100-TB twin, q27/q43
    * rationale). The clipped value is either a raw double or an
    * interpolated percentile bound both engines compute identically
    * (q27 precedent) — no rounding.
    */
  private def q67(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      // NOT fanned out: winsorize's floor is the exact-percentile FINAL
      // merge (#groups=5 bounds its parallelism — measured 475 ms on
      // one task either way), so a fan-out exchange only added cost;
      // the broadcast-bounds fix inside winsorize is what removed the
      // big-side shuffle
      .winsorize(
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority",
          "o_totalprice"),
        "o_totalprice",
        keys = Seq("o_orderpriority"))
      .select("o_orderkey", "o_orderpriority", "o_totalprice_wins")

  /** HLL-sketch distinct users per event type
    * ([[graft.operators.Sketches.hllDistinct]]) — the mergeable,
    * bounded-state scale twin of q34's exact `count(DISTINCT)`.
    * Rows-only by design: the estimate is Datasketches-HLL-specific
    * (not reproducible by DuckDB's approx_count_distinct); the
    * SketchesSpec differential asserts the estimate against q34's exact
    * counts and the pre-agg/union path against the direct path.
    */
  private def q68(s: SparkSession, d: String): DataFrame =
    graft.operators.Sketches.hllDistinct(
      Tables.events(s, d),
      keys = Seq("event_type"),
      valueCol = "user_id")

  /** Semi-structured extraction: parse the JSON `props` column ONCE per
    * row with a typed schema (`from_json` — one JsonToStructs per row;
    * `get_json_object` would re-parse per extracted path) and aggregate
    * the extracted field per event type. The sum under avg is exact
    * (ints ≪ 2⁵³), so no rounding is needed cross-engine. At scale the
    * parse is a narrow map fused into the scan stage; only the 5-group
    * aggregate exchanges.
    */
  private def q69(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .withColumn(
        "k",
        from_json(col("props"), "k INT", Map.empty[String, String])
          .getField("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        avg(col("k")).as("avg_k"),
        max(col("k")).as("max_k"))

  /** Rolling median + quantile per user (pandas `rolling(7).median()` /
    * `.quantile(0.25)`): exact interpolated `percentile` as a WINDOW
    * aggregate over the 7-row frame — O(w) buffer per frame, fine for
    * small fixed windows; the full window (odd count) makes the median
    * an exact element and p25 a 2-decimal-input interpolation, so both
    * engines agree without rounding (q27 precedent).
    */
  private def q70(s: SparkSession, d: String): DataFrame = {
    val ord = Seq(col("event_id"))
    val part = Seq(col("user_id"))
    val med = Windows
      .rollingAgg(Tables.events(s, d), col("value"), ord, part, 7)(c =>
        expr("percentile(value, 0.5)"))
      .withColumnRenamed("__rolling__", "med")
    Windows
      .rollingAgg(med, col("value"), ord, part, 7)(c =>
        expr("percentile(value, 0.25)"))
      .select(
        col("user_id"),
        col("event_id"),
        col("med"),
        col("__rolling__").as("p25"))
  }

  /** pandas `rank()` tie methods (first/min/max/dense/average) per user
    * over `value` ([[graft.ops.Windows.rankMethods]]). event_id breaks
    * first-method ties deterministically; value duplicates DO occur
    * (2-decimal grid), so the five methods genuinely diverge.
    */
  private def q71(s: SparkSession, d: String): DataFrame =
    Windows
      .rankMethods(
        Tables.events(s, d),
        col("value"),
        tiebreak = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")))
      .select("user_id", "event_id", "r_first", "r_min", "r_max",
        "r_dense", "r_avg")

  /** pandas `groupby('o_orderpriority').o_totalprice.describe()` —
    * [[graft.ops.ColApply.describeBy]], one aggregation pass. mean/std
    * rounded to 4 on both sides (accumulation-order noise on doubles);
    * min/max/percentiles are exact values off the 2-decimal input grid.
    */
  private def q72(s: SparkSession, d: String): DataFrame =
    graft.ops.ColApply
      // q27's rationale: the percentile partials ran in the 1-task scan
      .describeBy(
        graft.ops.Stage
          .fanOutIfNarrow(Tables.orders(s, d), col("o_orderkey")),
        "o_totalprice",
        Seq("o_orderpriority"))
      .select(
        col("o_orderpriority"),
        col("n"),
        round(col("mean"), 4).as("mean"),
        round(col("std"), 4).as("std"),
        col("min"),
        col("p25"),
        col("p50"),
        col("p75"),
        col("max"))

  /** Click→purchase attribution interval self-join
    * ([[graft.streaming.EventStream.attributionJoin]] in its BATCH form
    * — the same function runs as a watermarked stream-stream join, spec
    * in StreamingSpec): each purchase matched to the same user's clicks
    * in the preceding 30 minutes. Timestamps compare at micros
    * (event_time truncation); the oracle mirrors with integer-division
    * micros, so the bound is exact on both engines.
    */
  private def q73(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    graft.streaming.EventStream.attributionJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "purchase"))
  }

  /** FORWARD as-of join with tolerance (pandas
    * `merge_asof(direction='forward', tolerance=30min)` —
    * [[graft.operators.AsOfJoin]]): each click attached to the same
    * user's NEXT purchase, nulled out beyond 30 minutes (the row stays —
    * pandas tolerance semantics). Times compare on the micros grid on
    * both engines (`ts div 1000` / `epoch_ns // 1000`), so the
    * tolerance boundary is integer-exact. Complements q25's backward
    * direction; q73 is the pair-expanding variant of the same shape.
    */
  private def q74(s: SparkSession, d: String): DataFrame = {
    import graft.operators.AsOfJoin
    val ev = Tables.events(s, d)
    val clicks = ev
      .where(col("event_type") === "click")
      .select(
        col("event_id"),
        col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("t"))
    val purchases = ev
      .where(col("event_type") === "purchase")
      .select(
        col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("pt"),
        col("event_id").as("purchase_id"),
        col("value").as("purchase_value"))
    AsOfJoin(
      left = clicks,
      right = purchases,
      key = "user_id",
      leftTime = col("t"),
      rightTime = col("pt"),
      payload = Seq("purchase_id", "purchase_value"),
      tieBreak = "purchase_id",
      direction = "forward",
      tolerance = Some(30L * 60 * 1000000))
      .select("event_id", "user_id", "purchase_id", "purchase_value")
  }

  /** Unigram-LM surprisal per document
    * ([[graft.operators.Sampling.unigramSurprisal]]): avg −ln p(term)
    * under the corpus unigram distribution — the cheap perplexity proxy
    * quality filters threshold on. toks appears on both sides of its
    * own count join; the oracle replays the identical expression with
    * both engines' avg order absorbed by the 5-decimal rounding.
    */
  private def q75(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.unigramSurprisal(
      Tables.documents(s, d), "doc_id", "text")

  /** Rolling skew + kurtosis per user (pandas `rolling(10).skew()` /
    * `.kurt()`, bias-corrected — [[graft.ops.Windows.rollingSkewKurt]]).
    * The oracle spells the IDENTICAL raw-moment expression tree; the
    * residual cross-engine noise is the window-sum association order
    * (~1e-14 here), absorbed by 5-decimal rounding on both sides.
    */
  private def q76(s: SparkSession, d: String): DataFrame =
    Windows
      // q55's rationale: AQE coalesced the rolling window to 2 tasks;
      // keyed fan-out keeps it wide, ordering pins the result
      .rollingSkewKurt(
        graft.ops.Stage
          .fanOutIfNarrow(Tables.events(s, d), col("user_id")),
        col("value"),
        orderBy = Seq(col("event_id")),
        partitionBy = Seq(col("user_id")),
        window = 10,
        outName = "v")
      .select(
        col("user_id"),
        col("event_id"),
        round(col("v_skew"), 5).as("v_skew"),
        round(col("v_kurt"), 5).as("v_kurt"))

  /** Per-group mode of the extracted JSON field (pandas
    * `gb.k.mode()[0]` — [[graft.ops.ColApply.modeBy]]): most frequent
    * `k` per event type, ties to the LOWEST value (pandas mode() sorts
    * ascending). Two partial+final aggregations, no window.
    */
  private def q77(sess: SparkSession, d: String): DataFrame =
    graft.ops.ColApply.modeBy(
      Tables
        .events(sess, d)
        .withColumn(
          "k",
          from_json(col("props"), "k INT", Map.empty[String, String])
            .getField("k")),
      "k",
      keys = Seq("event_type"))

  /** pandas `duplicated(keep='first')` flags
    * ([[graft.operators.Dedup.duplicatedFlags]]): mark — don't drop —
    * every document whose normalized fingerprint already appeared at a
    * lower doc_id. Complements q13 (dedup that drops).
    */
  private def q78(sess: SparkSession, d: String): DataFrame =
    graft.operators.Dedup
      .duplicatedFlags(Tables.documents(sess, d), "text", "doc_id")
      .select("doc_id", "is_dup")

  /** Session-level analytics over q26's gap sessionization
    * ([[graft.operators.Sessionize.batch]] → one more partial+final
    * aggregation on the SAME (user) hash partitioning — Catalyst reuses
    * the window's exchange for the groupBy): events, exact-nanos
    * duration, cents-exact value sum per session.
    */
  private def q79(sess: SparkSession, d: String): DataFrame =
    graft.operators.Sessionize
      .batch(
        Tables.events(sess, d),
        col("user_id"),
        col("ts"),
        1800L * 1000000000L)
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        // micros grid: DuckDB's TIMESTAMP truncates the nanos parquet
        // type to µs, so the oracle can't see sub-µs durations
        (max(expr("ts div 1000")) - min(expr("ts div 1000")))
          .as("duration_us"),
        (sum(centsOf(col("value"))).cast("bigint") / 100.0).as("sum_value"))

  /** Day-N cohort retention — the canonical event-pipeline rollup: users
    * bucketed by FIRST active day, counted by distinct activity on each
    * later day offset. Two aggregations (first day per user, then
    * distinct users per (cohort, offset)); the cohort frame is one row
    * per user, so the join back is AQE-broadcast at test scale and a
    * co-partitioned shuffle join at 100 TB (both sides hash on
    * user_id).
    */
  private def q80(sess: SparkSession, d: String): DataFrame = {
    val days = Tables
      .events(sess, d)
      .select(
        col("user_id"),
        expr("ts div 86400000000000").cast("long").as("day"))
    val firstDay = days
      .groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"))
    days
      .join(firstDay, Seq("user_id"))
      .groupBy(
        col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** view → click → purchase funnel ([[graft.operators.Funnel.stages]]):
    * distinct users reaching each stage under sequential min-time
    * chaining. Times compare on the micros grid (q73/q74 rationale).
    */
  private def q81(sess: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.stages(
      Tables.events(sess, d),
      userCol = "user_id",
      typeCol = col("event_type"),
      timeCol = expr("ts div 1000"),
      stageTypes = Seq("view", "click", "purchase"))

  /** Quality-weighted deterministic sampling
    * ([[graft.operators.Sampling.qualityWeighted]]): keep probability =
    * length-based quality weight × 0.5, decided by a 16-bit content-hash
    * bucket — replayable on any engine. The weight expression
    * (`least(n_chars/400, 1)`) is computed identically by both engines
    * (exact integer/400.0 division), so the threshold comparison is
    * bit-deterministic.
    */
  private def q82(sess: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .qualityWeighted(
        Tables.documents(sess, d),
        "text",
        least(col("n_chars") / 400.0, lit(1.0)),
        rate = 0.5)
      .select("doc_id", "lang", "n_chars")

  /** Cumulative family per user (pandas `gb.value.cumsum()/cummax()/
    * cummin()/cumprod()`): expanding-frame aggregates. Both engines
    * accumulate unbounded-preceding frames sequentially in frame order,
    * so even the floating sums/products are bit-identical (q11
    * precedent) — cumprod runs on `1 + value/1e6` to stay in a sane
    * dynamic range.
    */
  private def q83(sess: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("event_id"))
      .rowsBetween(Long.MinValue, 0)
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("event_id"),
        sum(col("value")).over(w).as("cum_sum"),
        max(col("value")).over(w).as("cum_max"),
        min(col("value")).over(w).as("cum_min"),
        product(lit(1) + col("value") / 1e6).over(w).as("cum_prod"))
  }

  /** Time resample (pandas `df.resample("1h").agg(...)`): downsample the
    * event stream onto an hour grid. The bucket key is integer nanos
    * div-ed by 3.6e12 — pure integer arithmetic on the raw parquet
    * value, so both engines bucket identically and the value sum rides
    * the cents-exact integer grid (q79 precedent). One partial+final
    * hash aggregation; scales as a single shuffle keyed on
    * (hour, event_type) — no global sort, unlike a naive
    * order-then-scan resample.
    */
  private def q84(sess: SparkSession, d: String): DataFrame =
    Tables
      .events(sess, d)
      .groupBy(
        expr("ts div 3600000000000").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(centsOf(col("value"))).cast("bigint") / 100.0).as("sum_value"))

  /** idxmax / idxmin (pandas `gb.value.idxmax()`): the row KEY at each
    * group's extreme value, first-occurrence (lowest event_id) on ties —
    * spelled as a group-max window + conditional-min aggregation so the
    * tiebreak is explicit and engine-portable (arg_max tie order is
    * unspecified in both engines). The aggregation reuses the window's
    * hash partitioning on user_id: one exchange total. Value equality is
    * bit-exact (no arithmetic on the doubles).
    */
  private def q85(sess: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("event_id"),
        col("value"),
        max(col("value")).over(w).as("vmax"),
        min(col("value")).over(w).as("vmin"))
      .groupBy("user_id")
      .agg(
        min(when(col("value") === col("vmax"), col("event_id")))
          .as("idx_max"),
        min(when(col("value") === col("vmin"), col("event_id")))
          .as("idx_min"),
        max(col("vmax")).as("val_max"),
        min(col("vmin")).as("val_min"))
  }

  /** PII-shaped redaction pass (the training-data scrub shape: regex →
    * replace → audit count): every digit run in the semi-structured
    * `props` payload becomes `<NUM>`, with a per-row redaction count and
    * a digest of the redacted payload proving the rewrite byte-for-byte.
    * Pure narrow projection — codegen'd, shuffle-free, scales linearly.
    * The character class `[0-9]` means the same thing in Java regex and
    * RE2 (TextFunctions class-portability rule).
    */
  private def q86(sess: SparkSession, d: String): DataFrame = {
    val red = regexp_replace(col("props"), "[0-9]+", "<NUM>")
    Tables
      .events(sess, d)
      .select(
        col("event_id"),
        md5(red).as("digest"),
        length(red).as("redacted_len"),
        regexp_count(col("props"), lit("[0-9]+")).as("n_redacted"))
  }

  /** Training-sequence packing (concat-then-split): documents are laid
    * end-to-end per source shard in doc_id order and chopped into
    * 512-token bins — bin = exclusive-prefix-sum div capacity, the
    * deterministic, shuffle-parallel packing real pretraining pipelines
    * use (greedy first-fit is inherently sequential; start-offset
    * binning is order-preserving and embarrassingly parallel per
    * shard). One window pass per source + one aggregation on the same
    * (source) partitioning. At 100 TB the shard key keeps every
    * partition's prefix sum independent — no global order.
    */
  private def q87(sess: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, 0)
    Tables
      .documents(sess, d)
      .select(
        col("source"),
        col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("bin", expr("(cum - tok) div 512"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
  }

  /** Fixed-width binning + histogram (pandas `cut` + `value_counts`):
    * floor(value/25) buckets with cents-exact per-bin sums. The bin
    * edge arithmetic is one double divide + floor — identical IEEE ops
    * in both engines. Partial+final hash agg, one shuffle of ~14 rows.
    */
  private def q88(sess: SparkSession, d: String): DataFrame =
    Tables
      .events(sess, d)
      .groupBy(floor(col("value") / 25.0).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        (sum(centsOf(col("value"))).cast("bigint") / 100.0).as("sum_value"))

  /** Lag-1 autocorrelation per series (pandas `Series.autocorr()`):
    * lag window + Pearson corr aggregation on the same user_id
    * partitioning (one exchange). Both engines use the textbook
    * two-pass sample-corr definition but accumulate in different
    * orders, so the result is rounded to 5 decimals on both sides
    * (q63 rolling-corr precedent).
    */
  private def q89(sess: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("value"),
        lag(col("value"), 1).over(wo).as("lv"))
      .groupBy("user_id")
      .agg(
        round(corr(col("value"), col("lv")), 5).as("acf1"),
        count(col("lv")).as("n_pairs"))
  }

  /** first / last / nth per group (pandas `gb.first()/last()/nth(2)`):
    * first and last as arg-min/arg-max over the unique event_id order
    * (deterministic — the order key is unique), nth via one row_number
    * window whose partitioning the aggregation then reuses. Values are
    * carried untouched (bit-exact).
    */
  private def q90(sess: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables
      .events(sess, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(wo))
      .groupBy("user_id")
      .agg(
        min_by(col("value"), col("event_id")).as("first_val"),
        max_by(col("value"), col("event_id")).as("last_val"),
        max(when(col("rn") === 3, col("value"))).as("nth3"),
        count(lit(1)).as("n"))
  }

  /** Token explode + top-k vocabulary slice (pandas
    * `s.str.split().explode().value_counts().head(50)`): generator
    * (explode) → partial+final count agg → TakeOrdered top-k on the
    * deterministic total order (n desc, token asc) — ties at the k
    * boundary cannot flip rows. The explode is map-side; only
    * (token, partial count) pairs shuffle, never the exploded rows.
    */
  private def q91(sess: SparkSession, d: String): DataFrame =
    Tables
      .documents(sess, d)
      .select(
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  /** fillna with the group mean (pandas
    * `gb.value.transform(lambda s: s.fillna(s.mean()))`): nulls are
    * planted deterministically (event_id % 7), then repaired from the
    * per-group mean via an unordered window avg — null-ignoring in both
    * engines. The mean is a float reduction (order-dependent), so the
    * filled column rounds to 5 decimals on both sides; untouched values
    * survive rounding unchanged (2-decimal inputs).
    */
  private def q92(sess: SparkSession, d: String): DataFrame = {
    val vn =
      when(pmod(col("event_id"), lit(7)) === 0, lit(null))
        .otherwise(col("value"))
    val w = Window.partitionBy(col("user_id"))
    Tables
      .events(sess, d)
      .select(col("user_id"), col("event_id"), vn.as("vn"))
      .select(
        col("user_id"),
        col("event_id"),
        col("vn").isNull.as("was_null"),
        round(coalesce(col("vn"), avg(col("vn")).over(w)), 5).as("filled"))
  }

  /** Character-trigram language ID ([[graft.functions.LangProfiles]]):
    * the production-grade upgrade of q20's stopword heuristic — mean
    * trigram log-likelihood argmax over 6 embedded language profiles.
    * Rows-only (a statistical classifier has no SQL oracle); accuracy
    * is covered by LangIdSpec's per-language held-out sentences.
    * Output aggregates to language × count so the result is small and
    * stable.
    */
  private def q93(sess: SparkSession, d: String): DataFrame = {
    graft.functions.LangIdExpressions.register(sess)
    Tables
      .documents(sess, d)
      .select(
        graft.functions.LangIdExpressions
          .langIdNgram(col("text"))
          .as("lang_pred"))
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n"))
  }

  /** Merge with indicator (pandas `merge(how="outer", indicator=True)`):
    * full outer join + provenance column (both / left_only /
    * right_only). The join shuffles both sides on the key — at 100 TB
    * AQE picks SMJ and handles skew; no broadcast is forced because
    * outer joins on the big side can't broadcast-prune anyway.
    */
  private def q94(sess: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(sess, d).select(col("c_custkey"))
    val o = Tables
      .orders(sess, d)
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("o_orderkey"),
        when(col("c_custkey").isNotNull && col("o_custkey").isNotNull,
          lit("both"))
          .when(col("o_custkey").isNull, lit("left_only"))
          .otherwise(lit("right_only"))
          .as("merge_ind"))
  }

  /** Datetime accessor surface (pandas `.dt.year/month/day/weekday/
    * hour/minute`): calendar parts from the exact-micros event time
    * (`ts div 1000` — the nanos→micros integral grid both engines
    * agree on; session timezone UTC). Pure narrow projection. Weekday
    * is pandas convention (Monday=0).
    */
  private def q95(sess: SparkSession, d: String): DataFrame = {
    val t = timestamp_micros(expr("ts div 1000"))
    Tables
      .events(sess, d)
      .select(
        col("event_id"),
        year(t).as("y"),
        month(t).as("m"),
        dayofmonth(t).as("dom"),
        weekday(t).as("dow"),
        hour(t).as("h"),
        minute(t).as("mi"))
  }

  /** Training-mixture reweighting: per-source token mass → sampling
    * weight that rebalances the corpus to a uniform target share (the
    * domain-mixture knob every pretraining pipeline has). One
    * partial+final agg to ~#sources rows, then an unpartitioned window
    * over that tiny aggregate (source cardinality, not data, bounds the
    * single partition — fine at 100 TB). share and weight are two IEEE
    * divisions on identical integers: bit-deterministic.
    */
  private def q96(sess: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy()
    Tables
      .documents(sess, d)
      .groupBy(col("source"))
      .agg(
        sum(
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
          .as("tokens"))
      .select(
        col("source"),
        col("tokens"),
        (col("tokens").cast("double") / sum(col("tokens")).over(wAll))
          .as("share"))
      .withColumn(
        "weight",
        // a shard of only empty-text docs has zero share: the weight is
        // undefined (null) in both engines, not a zero-divide
        when(col("tokens") === 0, lit(null))
          .otherwise(lit(0.2) / col("share")))
  }

  /** Lexical diversity (type-token ratio — the classic Gopher-style
    * repetition/quality signal alongside q46): distinct tokens /
    * tokens per document, computed in one narrow pass
    * (`array_distinct` over the split — no explode, no shuffle).
    */
  private def q97(sess: SparkSession, d: String): DataFrame = {
    val tk = graft.functions.TextFunctions.tokens(col("text"))
    Tables
      .documents(sess, d)
      .select(
        col("doc_id"),
        size(tk).as("n_tokens"),
        size(array_distinct(tk)).as("n_types"))
      .withColumn(
        "ttr",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_types").cast("double") / col("n_tokens")))
  }

  /** Quality filter with an audit trail (keep/drop + first-failing
    * reason — pipelines need the WHY for every dropped doc, not a bare
    * filter): ordered CASE chain over cheap integer-derived signals.
    * Narrow, codegen'd, shuffle-free.
    */
  private def q98(sess: SparkSession, d: String): DataFrame = {
    val nTok = graft.functions.TextFunctions.tokenCount(col("text"))
    Tables
      .documents(sess, d)
      .select(col("doc_id"), col("n_chars"), nTok.as("n_tokens"))
      .withColumn(
        "reason",
        when(col("n_chars") < 60, lit("too_short"))
          .when(col("n_tokens") < 12, lit("few_tokens"))
          .when(
            col("n_chars").cast("double") / col("n_tokens") > 8.0,
            lit("long_words"))
          .otherwise(lit("keep")))
  }

  /** Pairwise correlation matrix (pandas `df[num_cols].corr()`): all
    * six pairs of the four lineitem numeric measures in ONE aggregation
    * pass (partial+final; each co-moment accumulator merges
    * associatively across partitions). Rounded to 5 decimals on both
    * sides (corr accumulates in engine-specific order — q63/q89
    * precedent).
    */
  private def q99(sess: SparkSession, d: String): DataFrame = {
    val cols =
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices
      j <- (i + 1) until cols.length
    } yield round(corr(col(cols(i)), col(cols(j))), 5)
      .as(s"c_${i}_${j}")
    Tables.lineitem(sess, d).agg(pairs.head, pairs.tail: _*)
  }

  /** Schema-evolving concat (pandas `pd.concat` aligning by column name,
    * NaN-filling the gaps): `unionByName(allowMissingColumns)` — the
    * Spark-native way to append frames whose schemas drifted (exactly
    * what multi-vintage parquet corpora look like). Shuffle-free: union
    * is plan-level concatenation.
    */
  private def q100(sess: SparkSession, d: String): DataFrame = {
    val a = Tables
      .documents(sess, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val b = Tables
      .documents(sess, d)
      .where(col("n_chars") >= 200)
      .select(col("doc_id"), col("source"))
    a.unionByName(b, allowMissingColumns = true)
  }

  /** String accessor corpus (pandas `.str` surface: upper/substr/
    * contains/startswith/pad): every function here is codegen'd and
    * defined identically in both engines (1-based substr, ASCII case
    * map). Narrow, shuffle-free.
    */
  private def q101(sess: SparkSession, d: String): DataFrame =
    Tables
      .documents(sess, d)
      .select(
        col("doc_id"),
        upper(col("lang")).as("lang_u"),
        substring(col("text"), 1, 12).as("prefix12"),
        col("text").contains("spark").as("has_spark"),
        col("text").startsWith("the").as("the_start"),
        lpad(col("lang"), 5, "_").as("lang_pad"),
        length(col("text")).as("len"))

  /** Value recode via a broadcast dimension (pandas `map(dict)` /
    * `replace`): the mapping lives in a tiny literal frame joined in —
    * at 100 TB this is THE pattern (a CASE chain hard-codes the dict
    * into the plan; a broadcast dim updates without replanning and
    * joins map-side, zero shuffle of the fact side). Left join keeps
    * unmapped values as null, like pandas map.
    */
  private def q102(sess: SparkSession, d: String): DataFrame = {
    import sess.implicits._
    val dim = Seq(
      ("signup", "acquisition"),
      ("view", "engagement"),
      ("click", "engagement"),
      ("purchase", "revenue"),
      ("error", "ops")).toDF("event_type", "category")
    Tables
      .events(sess, d)
      .select(col("event_id"), col("event_type"))
      .join(broadcast(dim), Seq("event_type"), "left")
  }

  /** Exact-n deterministic sample (pandas `df.sample(n=100)` made
    * replayable): order by a content digest (unique — doc_id is mixed
    * in) and take the first 100. Plans as TakeOrderedAndProject: each
    * partition keeps its local top-100, the driver merges — no global
    * sort, no fraction-tuning loop. The digest order is uniform, so
    * this IS a uniform exact-n sample.
    */
  private def q103(sess: SparkSession, d: String): DataFrame =
    Tables
      .documents(sess, d)
      .select(
        col("doc_id"),
        col("lang"),
        md5(concat(col("text"), col("doc_id"))).as("rk"))
      .orderBy(col("rk"))
      .limit(100)

  /** Blocked fuzzy-duplicate pairs (edit distance — the data-cleaning
    * join pandas users hand-roll with python-Levenshtein): block on the
    * n_chars bucket (near-dups have near-equal lengths), compare
    * normalized 30-char prefixes within each block, keep pairs under
    * the distance cutoff. The block equi-join bounds the pair space to
    * Σ|block|² exactly like q16's n-gram blocking — never all-pairs.
    */
  private def q104(sess: SparkSession, d: String): DataFrame = {
    // the blocked self-join is broadcast (r side is the whole tiny
    // prefix table), so there is NO exchange anywhere and the
    // levenshtein DP over every candidate pair ran inside the
    // single-task scan stage; adaptive fan-out parallelizes the probe
    // side (no-op at corpus scale, where the scan fans out by itself)
    val base = graft.ops.Stage
      .fanOutIfNarrow(Tables.documents(sess, d), col("doc_id"))
      .select(
        col("doc_id"),
        expr("n_chars div 20").as("blk"),
        substring(
          regexp_replace(lower(col("text")), "\\s+", " "),
          1,
          30).as("pfx"))
    val l = base.select(
      col("blk"),
      col("doc_id").as("id_a"),
      col("pfx").as("pfx_a"))
    val r = base.select(
      col("blk"),
      col("doc_id").as("id_b"),
      col("pfx").as("pfx_b"))
    l.join(r, Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        // threshold form early-abandons the DP row once the running
        // minimum exceeds 6 (returns -1 instead) — same surviving
        // pairs and distances, a fraction of the comparisons on the
        // overwhelmingly-distant majority
        levenshtein(col("pfx_a"), col("pfx_b"), 6).as("dist"))
      .where(col("dist") >= 0)
  }

  /** Cross merge (pandas `merge(how="cross")`): the sanctioned tiny×tiny
    * cartesian — both sides are dimension tables (5 × 25 rows), so the
    * nested-loop product is a non-issue at any corpus scale (its size
    * is dim-bounded, not data-bounded).
    */
  private def q105(sess: SparkSession, d: String): DataFrame =
    Tables
      .region(sess, d)
      .select(col("r_name"))
      .crossJoin(Tables.nation(sess, d).select(col("n_name")))
      .select(
        col("r_name"),
        col("n_name"),
        concat_ws("/", col("r_name"), col("n_name")).as("pair"))

  /** Approximate heavy hitters ([[graft.operators.HeavyHitters]]):
    * Misra–Gries top-20 tokens — the k-bounded mergeable twin of q91's
    * exact top-k (whose exchange scales with vocabulary size).
    * Rows-only: the summary content is guarantee-bounded, not
    * value-exact (HeavyHittersSpec proves the bounds); est undercounts
    * by ≤ N/(k+1).
    */
  private def q106(sess: SparkSession, d: String): DataFrame =
    graft.operators.HeavyHitters.approxTopK(
      Tables
        .documents(sess, d)
        .select(
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("token")),
      "token",
      k = 64,
      topN = 20)

  /** OHLC resample (pandas `resample("1h").ohlc()` — the finance
    * downsample): open/close as arg-extrema over the unique in-bucket
    * order key, high/low as plain extremes. One partial+final agg on
    * (user, hour); every accumulator is O(1). Values carried untouched
    * (bit-exact).
    */
  private def q107(sess: SparkSession, d: String): DataFrame =
    Tables
      .events(sess, d)
      .groupBy(
        col("user_id"),
        expr("ts div 3600000000000").as("hour"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("n"))

  /** Feature scaling transforms (the sklearn/pandas preprocessing pair:
    * z-score + min-max per group) in ONE unordered window pass — four
    * group statistics over the same user_id partitioning, no frame
    * collapse. Degenerate groups (zero variance / single row) null out
    * instead of dividing by zero (ANSI-safe). Rounded to 5 decimals on
    * both sides (stddev accumulation order differs — q63/q89
    * precedent).
    */
  private def q108(sess: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("event_id"),
        col("value"),
        avg(col("value")).over(w).as("__m"),
        stddev_samp(col("value")).over(w).as("__s"),
        min(col("value")).over(w).as("__lo"),
        max(col("value")).over(w).as("__hi"))
      .select(
        col("user_id"),
        col("event_id"),
        round(
          when(
            col("__s").isNull || col("__s") === 0.0,
            lit(null))
            .otherwise((col("value") - col("__m")) / col("__s")),
          5).as("zscore"),
        round(
          when(col("__hi") === col("__lo"), lit(null))
            .otherwise(
              (col("value") - col("__lo")) / (col("__hi") - col("__lo"))),
          5).as("minmax"))
  }

  /** One-hot encoding (pandas `get_dummies`): five indicator columns in
    * one narrow codegen'd projection — the categorical-to-feature step
    * before any model. No shuffle; at 100 TB this is a free map.
    */
  private def q109(sess: SparkSession, d: String): DataFrame = {
    def ind(v: String) =
      (col("event_type") === v).cast("int").as(s"is_$v")
    Tables
      .events(sess, d)
      .select(
        col("event_id"),
        ind("signup"),
        ind("view"),
        ind("click"),
        ind("purchase"),
        ind("error"))
  }

  /** Time-weighted average (the irregular-series mean pandas users
    * build by hand): each value weighted by its holding interval
    * (lead(ts) − ts on the exact micros grid), one lead window + one
    * agg sharing the user_id exchange. Final ratio rounded to 5
    * (double dot-product accumulates in engine order).
    */
  private def q110(sess: SparkSession, d: String): DataFrame = {
    val wo =
      Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("value"),
        (lead(expr("ts div 1000"), 1).over(wo) - expr("ts div 1000"))
          .as("dt"))
      .where(col("dt").isNotNull)
      .groupBy("user_id")
      .agg(
        round(
          sum(col("value") * col("dt")) / sum(col("dt")),
          5).as("twa"),
        sum(col("dt")).as("span_us"))
  }

  /** Rolling z-score (the streaming anomaly-detection signal): value
    * standardized against its own trailing 6-row window; warm-up rows
    * (<3 obs) and zero-variance windows null out. ONE Window operator
    * evaluates all three trailing stats (avg/std/count share a frame),
    * then the arithmetic is a narrow projection. Round 5 (q63/q108
    * precedent).
    */
  private def q112(sess: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("event_id"))
      .rowsBetween(-5, 0)
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("event_id"),
        avg(col("value")).over(w).as("__m"),
        stddev_samp(col("value")).over(w).as("__s"),
        count(col("value")).over(w).as("__n"),
        col("value"))
      .select(
        col("user_id"),
        col("event_id"),
        round(
          when(
            col("__n") < 3 || col("__s").isNull || col("__s") === 0.0,
            lit(null))
            .otherwise((col("value") - col("__m")) / col("__s")),
          5).as("rz"))
  }

  /** Upsample + forward-fill (pandas `resample("1h").ffill()`): densify
    * each user's irregular series onto its own hour grid, carrying the
    * last observation forward. Grid = `sequence(first_hour, last_hour)`
    * exploded per user (generated, never shuffled); per-hour "last" is
    * arg-max on the ingestion sequence; the fill is one
    * last-ignore-nulls running window. Two agg exchanges (user grid
    * bounds; per-hour lasts); AQE broadcasts the hourly side into the
    * grid join at test scale — at 100 TB it becomes a co-hashed join —
    * and the fill window reuses the grid side's user_id partitioning
    * either way (no third exchange). Grid size is span-bounded per
    * user, not corpus-bounded.
    */
  private def q111(sess: SparkSession, d: String): DataFrame = {
    val hourly = Tables
      .events(sess, d)
      .groupBy(
        col("user_id"),
        expr("ts div 3600000000000").as("hour"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    val grid = hourly
      .groupBy("user_id")
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(
        col("user_id"),
        explode(sequence(col("h0"), col("h1"))).as("hour"))
    val wFill = Window
      .partitionBy(col("user_id"))
      .orderBy(col("hour"))
      .rowsBetween(Long.MinValue, 0)
    grid
      .join(hourly, Seq("user_id", "hour"), "left")
      .select(
        col("user_id"),
        col("hour"),
        last(col("v"), ignoreNulls = true).over(wFill).as("v_ffill"))
  }

  /** Distinct-collection aggregate (pandas `gb.unique()`): the set of
    * event types per user as a sorted CSV (array outputs don't survive
    * the driver's pandas canonicalization — q24 note — so the set is
    * rendered to a deterministic string). collect_set is partial+final:
    * each map task accumulates its local set, the exchange carries sets
    * not rows.
    */
  private def q113(sess: SparkSession, d: String): DataFrame =
    Tables
      .events(sess, d)
      .groupBy("user_id")
      .agg(
        array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("types_csv"),
        countDistinct(col("event_type")).as("n_types"))

  /** Anti join as a surface verb (pandas `~isin` / anti-merge): orders
    * having NO high-quantity lineitem. LEFT ANTI plans as a one-sided
    * existence probe — no row multiplication, the probe side streams;
    * the qty filter is pushed into the lineitem scan before the
    * exchange.
    */
  private def q114(sess: SparkSession, d: String): DataFrame = {
    val big = Tables
      .lineitem(sess, d)
      .where(col("l_quantity") > 45)
      .select(col("l_orderkey"))
    Tables
      .orders(sess, d)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** Weighted average (pandas `np.average(v, weights=w)` per group):
    * quantity-weighted unit price per return flag — two sums sharing
    * one partial+final agg pass. Round 5 (double dot product).
    */
  private def q115(sess: SparkSession, d: String): DataFrame =
    Tables
      .lineitem(sess, d)
      .groupBy("l_returnflag")
      .agg(
        round(
          sum(col("l_extendedprice") * col("l_quantity")) /
            sum(col("l_quantity")),
          5).as("wavg_price"),
        sum(col("l_quantity")).as("w_total"))

  /** Scalable global rank ([[graft.ops.GlobalRank]]): documents ranked
    * corpus-wide by (n_chars desc, doc_id) WITHOUT the Exchange
    * SinglePartition a `row_number() over (order by ...)` window plans —
    * range partitions + a counts pass + per-partition offsets. The
    * oracle runs the single-partition window form; results are
    * identical because the sort key is a total order.
    */
  private def q116(sess: SparkSession, d: String): DataFrame =
    graft.ops.GlobalRank
      .withGlobalRowNumber(
        Tables.documents(sess, d).select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id").asc),
        "rk")

  /** Bigram counting (the n-gram LM / repetition-analysis table; q29's
    * vocabulary is the unigram row): adjacent token pairs via an
    * in-place `zip_with` of the array against its own tail — built
    * BEFORE explode, so the generator emits pairs, not tokens. Top 50
    * under the deterministic (n desc, bigram) order.
    */
  private def q117(sess: SparkSession, d: String): DataFrame = {
    val tk = graft.functions.TextFunctions.tokens(col("text"))
    Tables
      .documents(sess, d)
      .select(tk.as("__tk"))
      .where(size(col("__tk")) >= 2)
      .select(
        explode(
          zip_with(
            slice(col("__tk"), lit(1), size(col("__tk")) - 1),
            slice(col("__tk"), lit(2), size(col("__tk")) - 1),
            (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)
  }

  /** Cross-source vocabulary overlap (corpus-drift analytics: how much
    * does each shard share with each other shard): distinct
    * (source, token) pairs — ONE dedup exchange — then a self-join on
    * token restricted to ordered pairs, aggregated to Jaccard per
    * source pair. The token join is the only O(vocab) shuffle; the
    * per-source distinct token counts ride a broadcast join back.
    */
  private def q118(sess: SparkSession, d: String): DataFrame = {
    val st = Tables
      .documents(sess, d)
      .select(
        col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("token"))
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("sz"))
    val shared = st
      .select(col("source").as("s_a"), col("token"))
      .join(
        st.select(col("source").as("s_b"), col("token")),
        Seq("token"))
      .where(col("s_a") < col("s_b"))
      .groupBy("s_a", "s_b")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(
        broadcast(sizes.select(col("source").as("s_a"), col("sz").as("sz_a"))),
        Seq("s_a"))
      .join(
        broadcast(sizes.select(col("source").as("s_b"), col("sz").as("sz_b"))),
        Seq("s_b"))
      .select(
        col("s_a"),
        col("s_b"),
        col("n_shared"),
        round(
          col("n_shared").cast("double") /
            (col("sz_a") + col("sz_b") - col("n_shared")),
          5).as("jaccard"))
  }

  /** Row-normalized crosstab (pandas `crosstab(normalize="index")`):
    * per-source language shares — the q49 pivot with each row divided
    * by its own total. Declared pivot values → one agg pass; the
    * normalization is a narrow projection (exact integer/integer
    * division, bit-deterministic).
    */
  private def q119(sess: SparkSession, d: String): DataFrame = {
    val langs = Seq("en", "fr", "de", "es")
    val counts = Tables
      .documents(sess, d)
      .groupBy("source")
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .na.fill(0L, langs)
    val total = langs.map(col).reduce(_ + _)
    counts.select(
      (col("source") +: langs.map(l =>
        (col(l).cast("double") / total).as(s"p_$l"))): _*)
  }

  /** Datetime format/parse roundtrip (pandas `strftime` +
    * `to_datetime`): render the exact-micros event time to a string and
    * parse it back — the string is the interchange format every
    * ingest pipeline hits. The seconds-precision roundtrip is lossy by
    * exactly the sub-second part, surfaced as `us_lost` (micros modulo
    * 1e6) rather than hidden. All on the session-UTC grid.
    */
  private def q120(sess: SparkSession, d: String): DataFrame = {
    val t = timestamp_micros(expr("ts div 1000"))
    val s = date_format(t, "yyyy-MM-dd HH:mm:ss")
    Tables
      .events(sess, d)
      .select(
        col("event_id"),
        s.as("rendered"),
        (unix_timestamp(to_timestamp(s, "yyyy-MM-dd HH:mm:ss")) * 1000000L)
          .as("reparsed_us"),
        expr("ts div 1000 % 1000000").as("us_lost"))
  }

  /** Calendar accessor corpus (pandas `.dt` part 2: quarter,
    * month-end snapping, day-of-year, ISO week): the date-dimension
    * derivations every reporting rollup needs. Narrow projection on
    * the exact-micros grid; ISO week/year use the ISO-8601 definition
    * in both engines.
    */
  private def q121(sess: SparkSession, d: String): DataFrame = {
    val t = timestamp_micros(expr("ts div 1000"))
    Tables
      .events(sess, d)
      .select(
        col("event_id"),
        quarter(t).as("q"),
        dayofyear(t).as("doy"),
        weekofyear(t).as("iso_week"),
        date_format(last_day(t), "yyyy-MM-dd").as("month_end"))
  }

  /** Median absolute deviation (the robust-stats outlier scale pandas
    * users compute via `(s - s.median()).abs().median()`): two exact
    * percentile aggregations — group median, then median of absolute
    * deviations — joined back per group (tiny bounds frame, broadcast
    * at any scale). Exact interpolated percentiles match DuckDB's
    * quantile_cont; deviations are rounded at 5 before the second
    * median so both engines interpolate the same multiset.
    */
  private def q122(sess: SparkSession, d: String): DataFrame = {
    val med = Tables
      .events(sess, d)
      .groupBy("user_id")
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    Tables
      .events(sess, d)
      .join(broadcast(med), Seq("user_id"))
      .select(
        col("user_id"),
        col("med"),
        round(abs(col("value") - col("med")), 5).as("ad"))
      .groupBy("user_id")
      .agg(
        round(max(col("med")), 5).as("median"),
        round(percentile(col("ad"), lit(0.5)), 5).as("mad"))
  }

  /** Data-quality expectations audit (the great-expectations-style
    * validation gate every ingest runs): null counts, domain
    * violations, key cardinality, and time bounds — ALL in one
    * partial+final aggregation pass over one scan (each expectation is
    * a conditional count; adding one more is free). One row out.
    */
  private def q123(sess: SparkSession, d: String): DataFrame = {
    val knownTypes =
      Seq("signup", "view", "click", "purchase", "error")
    Tables
      .events(sess, d)
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("value").isNull, 1)).as("n_null_value"),
        count(when(col("props").isNull, 1)).as("n_null_props"),
        count(when(!col("event_type").isin(knownTypes: _*), 1))
          .as("n_bad_type"),
        count(when(col("value") < 0 || col("value") > 10000, 1))
          .as("n_bad_value"),
        countDistinct(col("user_id")).as("n_users"),
        min(expr("ts div 1000")).as("ts_min_us"),
        max(expr("ts div 1000")).as("ts_max_us"))
  }

  /** Event transition matrix (first-order Markov counts — the sequence
    * analytics behind "what happens after a click"): lead over each
    * user's event order, then (state, next) pair counts with row
    * probabilities normalized by a tiny window over the aggregate
    * (#event-types² rows, not data rows). One data exchange (the lead
    * window); the agg output is dimension-bounded.
    */
  private def q124(sess: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wNorm = Window.partitionBy(col("event_type"))
    Tables
      .events(sess, d)
      .select(
        col("event_type"),
        lead(col("event_type"), 1).over(wo).as("next_type"))
      .where(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn(
        "p",
        col("n").cast("double") / sum(col("n")).over(wNorm))
  }

  /** Max drawdown (the expanding-window composite finance/monitoring
    * signal: largest drop from a running peak): cummax minus value per
    * user, reduced to the worst case — one expanding window + one agg
    * on the same partitioning. Running max and subtraction are exact
    * on identical parquet doubles: no rounding needed.
    */
  private def q125(sess: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("event_id"))
      .rowsBetween(Long.MinValue, 0)
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        (max(col("value")).over(w) - col("value")).as("dd"))
      .groupBy("user_id")
      .agg(max(col("dd")).as("max_drawdown"))
  }

  /** Longest same-event streak per user (gaps-and-islands): island id =
    * global position minus per-type position (the classic two-rank
    * difference — constant within a run, distinct across runs), then
    * two aggregations. All three windows/groupings hash on user_id, so
    * Catalyst plans ONE data exchange; the islands never materialize
    * as a join.
    */
  private def q126(sess: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wt = Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("event_type"),
        (row_number().over(w) - row_number().over(wt)).as("island"))
      .groupBy("user_id", "event_type", "island")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("user_id")
      .agg(
        max(col("run_len")).as("longest_streak"),
        max(struct(col("run_len"), col("event_type")))
          .getField("event_type")
          .as("streak_type"))
  }

  /** A/B lift with a two-proportion z-statistic (the experiment-readout
    * aggregation): users split by a deterministic id hash (replayable
    * assignment — the q28 sampling stance), purchase rate per arm, lift
    * and z from the pooled standard error. Two tiny aggregations; all
    * arithmetic from exact integer counts (bit-deterministic except the
    * final sqrt, rounded at 5).
    */
  private def q127(sess: SparkSession, d: String): DataFrame = {
    val arms = Tables
      .events(sess, d)
      .select(
        pmod(col("user_id"), lit(2)).as("arm"),
        (col("event_type") === "purchase").cast("long").as("is_p"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("is_p")).as("k"))
    val wide = arms
      .agg(
        max(when(col("arm") === 0, col("n"))).as("n_a"),
        max(when(col("arm") === 0, col("k"))).as("k_a"),
        max(when(col("arm") === 1, col("n"))).as("n_b"),
        max(when(col("arm") === 1, col("k"))).as("k_b"))
    val pa = col("k_a").cast("double") / col("n_a")
    val pb = col("k_b").cast("double") / col("n_b")
    val pool =
      (col("k_a") + col("k_b")).cast("double") / (col("n_a") + col("n_b"))
    val se = sqrt(
      pool * (lit(1.0) - pool) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    wide.select(
      col("n_a"),
      col("k_a"),
      col("n_b"),
      col("k_b"),
      round(pb - pa, 5).as("lift"),
      round((pb - pa) / se, 5).as("z"))
  }

  /** Sparse TF-IDF similarity search — the inverted-index counterpart
    * to the dense ANN family (q17/q18/q31): the query document's
    * weighted terms broadcast onto the corpus weight table (join ON
    * TERM — only postings sharing a term ever meet, the sparse dot
    * product's whole point), partial-sum to per-doc dots, normalize by
    * precomputed norms, top-10 under the rounded-sim + doc_id
    * deterministic order. Weights reuse [[graft.operators.Sampling
    * .tfIdf]] (rounded at 6 on both engines, so the dot products start
    * from identical inputs).
    */
  private def q128(sess: SparkSession, d: String): DataFrame = {
    // the tf-idf weight table feeds FOUR consumers (probe join, norms,
    // query-doc weights, query norm) — unstaged, the tokenize→explode→
    // count→join subtree ran four times (24 parquet scans / 38
    // exchanges in the plan; 0.83 s at sf0.1). Compute it once; the
    // corpus pass is the dominant cost and is O(corpus) at any scale
    val w = graft.ops.Stage.materializeLazy(
      graft.operators.Sampling
        .tfIdf(Tables.documents(sess, d), "doc_id", "text"))
    // norms has two consumers (fill join + query norm) but derives
    // from the staged w by one cheap re-aggregation; lazy-stage it so
    // the agg also runs once without an extra eager job
    val norms = graft.ops.Stage.materializeLazy(
      w.groupBy("doc_id")
        .agg(sum(col("tfidf") * col("tfidf")).as("n2")))
    val qw = w
      .where(col("doc_id") === 42)
      .select(col("term"), col("tfidf").as("qtf"))
    val qn = norms
      .where(col("doc_id") === 42)
      .select(col("n2").as("qn2"))
    w.join(broadcast(qw), Seq("term"))
      .groupBy("doc_id")
      .agg(sum(col("tfidf") * col("qtf")).as("dot"))
      .join(norms, Seq("doc_id"))
      .crossJoin(broadcast(qn))
      .where(col("doc_id") =!= 42)
      .select(
        col("doc_id"),
        round(col("dot") / (sqrt(col("n2")) * sqrt(col("qn2"))), 5)
          .as("sim"))
      .orderBy(col("sim").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Quantile binning (pandas `qcut` proper — boundaries from the data,
    * not fixed widths like q88): exact corpus quartiles in one tiny
    * aggregate, broadcast onto the scan, CASE-assigned. Two passes by
    * necessity (boundaries must exist before assignment); the second is
    * a narrow map.
    */
  private def q129(sess: SparkSession, d: String): DataFrame = {
    val qs = Tables
      .documents(sess, d)
      .agg(
        percentile(col("n_chars"), lit(0.25)).as("q1"),
        percentile(col("n_chars"), lit(0.5)).as("q2"),
        percentile(col("n_chars"), lit(0.75)).as("q3"))
    Tables
      .documents(sess, d)
      .crossJoin(broadcast(qs))
      .select(
        col("doc_id"),
        col("n_chars"),
        when(col("n_chars") <= col("q1"), lit("q1"))
          .when(col("n_chars") <= col("q2"), lit("q2"))
          .when(col("n_chars") <= col("q3"), lit("q3"))
          .otherwise(lit("q4"))
          .as("bucket"))
  }

  /** The curation pipeline as ONE composed query (the flagship
    * LLM-data shape: quality gate → exact dedup → language select →
    * per-source yield report): q98's audit filter, q13's normalized-
    * digest dedup (keep lowest doc_id), a lang filter, then the
    * survivor statistics every curation run reports. Catalyst fuses
    * the narrow stages into the scan pipeline; the dedup window and
    * final agg are the only exchanges.
    */
  private def q130(sess: SparkSession, d: String): DataFrame = {
    val nTok = graft.functions.TextFunctions.tokenCount(col("text"))
    val wFp = Window
      .partitionBy(col("__fp"))
      .orderBy(col("doc_id"))
    Tables
      .documents(sess, d)
      .where(col("n_chars") >= 60)
      .withColumn("__ntok", nTok)
      .where(col("__ntok") >= 12)
      .withColumn(
        "__fp",
        graft.functions.TextFunctions.normFingerprint(col("text")))
      .withColumn("__rn", row_number().over(wFp))
      .where(col("__rn") === 1)
      .where(col("lang") === "en")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok").cast("long")).as("n_tokens"),
        round(avg(col("n_chars")), 5).as("avg_chars"))
  }

  /** Multi-aggregate pivot (pandas `pivot_table(values=[...])` with two
    * measures): count + cents-exact average length per language, wide —
    * Spark emits `<lang>_n` / `<lang>_avg` column pairs from ONE agg
    * pass over the pivot Expand.
    */
  private def q131(sess: SparkSession, d: String): DataFrame =
    Tables
      .documents(sess, d)
      .groupBy("source")
      .pivot("lang", Seq("en", "fr"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("n_chars")), 5).as("avg"))
      // a source with zero docs of a language pivots to null; pandas
      // (and the count semantics) say 0 — averages stay null on purpose
      .na.fill(0L, Seq("en_n", "fr_n"))

  /** Regex extract + findall (pandas `str.extract` / `str.findall`):
    * capture-group extraction and full match enumeration, projected to
    * scalars (match count, first, last) so the driver can hash the
    * result. The pattern uses explicit ASCII classes (portable across
    * Java regex and RE2 — the TextFunctions rule).
    */
  private def q132(sess: SparkSession, d: String): DataFrame = {
    val pat = "(s[a-z]+)"
    Tables
      .documents(sess, d)
      .select(
        col("doc_id"),
        regexp_extract(col("text"), pat, 1).as("first_s_word"),
        size(regexp_extract_all(col("text"), lit(pat), lit(1)))
          .as("n_s_words"),
        // try_element_at: [-1] of an empty match list is null, not an
        // ANSI index error (mirrors DuckDB's list[-1] semantics)
        try_element_at(regexp_extract_all(col("text"), lit(pat), lit(1)),
          lit(-1)).as("last_s_word"))
  }

  /** Deterministic train/val/test split (the 80/10/10 every training
    * run needs, replayable on any engine — no RNG, no state): a 16-bit
    * content-hash bucket thresholded into three disjoint, exhaustive
    * splits (q82's hash grid). Narrow projection; the split column
    * then drives partitioned writes downstream.
    */
  private def q133(sess: SparkSession, d: String): DataFrame = {
    val bucket =
      conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
    Tables
      .documents(sess, d)
      .select(
        col("doc_id"),
        when(bucket < (65536 * 0.8).toLong, lit("train"))
          .when(bucket < (65536 * 0.9).toLong, lit("val"))
          .otherwise(lit("test"))
          .as("split"))
  }

  /** Population stability index (the drift monitor between two corpus
    * snapshots — here first vs second half of the event stream):
    * per-type shares in each window, PSI contribution
    * (p2−p1)·ln(p2/p1) per type plus the total. Two conditional-count
    * aggregations in ONE pass; every share is an exact integer
    * division, ln rounded at 5.
    */
  private def q134(sess: SparkSession, d: String): DataFrame = {
    // the window boundary is a 1-row aggregate broadcast into the scan —
    // no driver-side action in the query definition
    val midDf = Tables
      .events(sess, d)
      .agg(percentile(col("event_id"), lit(0.5)).as("__mid"))
    val wAll = Window.partitionBy()
    Tables
      .events(sess, d)
      .crossJoin(broadcast(midDf))
      .groupBy("event_type")
      .agg(
        count(when(col("event_id") <= col("__mid"), 1)).as("n1"),
        count(when(col("event_id") > col("__mid"), 1)).as("n2"))
      .select(
        col("event_type"),
        col("n1"),
        col("n2"),
        (col("n1").cast("double") / sum(col("n1")).over(wAll)).as("p1"),
        (col("n2").cast("double") / sum(col("n2")).over(wAll)).as("p2"))
      .select(
        col("event_type"),
        col("n1"),
        col("n2"),
        // PSI is undefined for an empty bin (ln(p2/0) — and Spark NULLs
        // a zero-divide where IEEE engines produce inf): declare the
        // undefined case as null in BOTH engines
        when(col("n1") === 0 || col("n2") === 0, lit(null))
          .otherwise(
            round((col("p2") - col("p1")) * log(col("p2") / col("p1")), 5))
          .as("psi"))
  }

  /** pandas `gb.cumcount()` + `gb.ngroup()`: position within group and
    * global group index. cumcount is one per-key window; ngroup is a
    * GLOBAL dense rank over the keys — planned scalably by ranking the
    * DISTINCT key frame with [[graft.ops.GlobalRank]] (tiny, one row
    * per group) and broadcasting it back, instead of the
    * single-partition dense_rank window the naive form plans over the
    * full data. The oracle runs that naive form; results are
    * identical.
    */
  private def q135(sess: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val groups = graft.ops.GlobalRank
      .withGlobalRowNumber(
        Tables.events(sess, d).select(col("user_id")).distinct(),
        Seq(col("user_id").asc),
        "__g")
      .select(col("user_id"), (col("__g") - 1).as("ngroup"))
    Tables
      .events(sess, d)
      .select(col("user_id"), col("event_id"))
      .withColumn("cumcount", row_number().over(wo) - 1)
      .join(broadcast(groups), Seq("user_id"))
  }

  /** Weighted median (the robust weighted-percentile every curation
    * reweighting needs; no engine has it built in): running weight sum
    * in value order, first value whose cumulative weight crosses half
    * the total. One ordered window + one unordered window + one agg,
    * all on the same group partitioning; weights are integer-valued
    * doubles, so every comparison is exact.
    */
  private def q136(sess: SparkSession, d: String): DataFrame = {
    val wOrd = Window
      .partitionBy(col("l_returnflag"))
      .orderBy(
        col("l_extendedprice"),
        col("l_orderkey"),
        col("l_linenumber"))
      .rowsBetween(Long.MinValue, 0)
    val wAll = Window.partitionBy(col("l_returnflag"))
    Tables
      .lineitem(sess, d)
      .select(
        col("l_returnflag"),
        col("l_extendedprice"),
        sum(col("l_quantity")).over(wOrd).as("cw"),
        sum(col("l_quantity")).over(wAll).as("tw"))
      .where(col("cw") >= col("tw") / 2)
      .groupBy("l_returnflag")
      .agg(min(col("l_extendedprice")).as("wmedian"))
  }

  /** Rolling 7-day active users (the growth metric no window distinct
    * can express — neither engine supports count(DISTINCT) over a
    * frame): each (user, day) contributes itself to the 7 observation
    * days it keeps the user "active" for — a generated explode — then
    * a plain distinct count per observation day. The contribution
    * explode multiplies the DISTINCT (user, day) frame by 7, never the
    * raw events; this is THE scalable shape for sliding distinct
    * counts.
    */
  private def q137(sess: SparkSession, d: String): DataFrame =
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        expr("ts div 86400000000000").as("day"))
      .distinct()
      .select(
        col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("obs_day"))
      .groupBy("obs_day")
      .agg(countDistinct(col("user_id")).as("active_7d"))

  /** Gini coefficient per group (value-concentration inequality — the
    * curation dashboard's "is one supplier dominating" number):
    * G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over rank-ordered values.
    * One ranking window + one agg on the same partitioning; the rank
    * dot product rounds at 5 (double accumulation order).
    */
  private def q138(sess: SparkSession, d: String): DataFrame = {
    val wr = Window
      .partitionBy(col("l_returnflag"))
      .orderBy(
        col("l_extendedprice"),
        col("l_orderkey"),
        col("l_linenumber"))
    Tables
      .lineitem(sess, d)
      .select(
        col("l_returnflag"),
        col("l_extendedprice").as("x"),
        row_number().over(wr).cast("double").as("i"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(
          (lit(2.0) * sum(col("i") * col("x")) -
            (count(lit(1)) + 1).cast("double") * sum(col("x"))) /
            (count(lit(1)).cast("double") * sum(col("x"))),
          5).as("gini"))
  }

  /** Shannon entropy of each user's event-type mix (behavioral
    * diversity; same formula as a token-distribution entropy quality
    * signal): counts → shares → −Σ p·ln p, two aggregations sharing
    * the user_id partitioning. Shares are exact integer divisions;
    * only the final log dot product rounds (5).
    */
  private def q139(sess: SparkSession, d: String): DataFrame =
    Tables
      .events(sess, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn(
        "p",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("user_id"))))
      .groupBy("user_id")
      .agg(round(-sum(col("p") * log(col("p"))), 5).as("entropy"))

  /** Chi-squared independence statistic for the source × lang
    * contingency table (corpus-drift testing: is language mix
    * independent of shard?): observed counts in ONE aggregation over
    * the scan; expected values and the statistic derive from window
    * sums over that tiny table (#sources×#langs rows), so the heavy
    * pass never runs twice.
    */
  private def q140(sess: SparkSession, d: String): DataFrame = {
    val wRow = Window.partitionBy(col("source"))
    val wCol = Window.partitionBy(col("lang"))
    val wAll = Window.partitionBy()
    Tables
      .documents(sess, d)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("o"))
      .select(
        col("source"),
        col("lang"),
        col("o"),
        (sum(col("o")).over(wRow) * sum(col("o")).over(wCol))
          .cast("double")
          ./(sum(col("o")).over(wAll))
          .as("e"))
      .groupBy()
      .agg(
        round(sum(pow(col("o") - col("e"), 2) / col("e")), 5).as("chi2"),
        count(lit(1)).as("n_cells"))
  }

  /** Lag-feature matrix (the feature-engineering pass before any
    * sequence model: multiple lags + trailing means in one go): four
    * lag columns and two rolling means from ONE ordered window spec —
    * Catalyst collapses every frame into a single WindowExec, so the
    * whole matrix costs one exchange + one sort. Values carried
    * bit-exact; the means round at 5.
    */
  private def q141(sess: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("event_id"),
        col("value"),
        lag(col("value"), 1).over(wo).as("lag1"),
        lag(col("value"), 2).over(wo).as("lag2"),
        lag(col("value"), 3).over(wo).as("lag3"),
        lag(col("value"), 7).over(wo).as("lag7"),
        round(avg(col("value")).over(wo.rowsBetween(-2, 0)), 5)
          .as("ma3"),
        round(avg(col("value")).over(wo.rowsBetween(-6, 0)), 5)
          .as("ma7"))
  }

  /** Leave-one-out target encoding (the categorical encoder that avoids
    * self-leakage: each row's category mean EXCLUDES the row itself):
    * (group sum − v) / (group n − 1) from one unordered window pass —
    * no join, no second scan. Singleton categories null out (undefined
    * LOO). Fully exact arithmetic: cents-grid sums (q79), integer
    * milli-cents floor division, one int→double conversion — no float
    * rounding boundary anywhere.
    */
  private def q142(sess: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    Tables
      .events(sess, d)
      .select(
        col("event_id"),
        col("event_type"),
        sum(centsOf(col("value"))).over(w).as("__sc"),
        count(lit(1)).over(w).as("__n"),
        centsOf(col("value")).as("__vc"))
      .select(
        col("event_id"),
        col("event_type"),
        // exact arithmetic all the way down: integer milli-cents
        // division (floor) then one int→double conversion — no float
        // rounding boundary for the driver hash to trip on
        when(col("__n") === 1, lit(null))
          .otherwise(
            expr("((__sc - __vc) * 1000) div (__n - 1)") / 100000.0)
          .as("loo_mean"))
  }

  /** Longest consecutive-day activity streak per user (THE retention
    * number): gaps-and-islands on the DISTINCT (user, day) frame —
    * day − row_number is constant within a run — then two
    * aggregations. The distinct frame is tiny relative to events;
    * everything hashes on user_id.
    */
  private def q143(sess: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id")).orderBy(col("day"))
    Tables
      .events(sess, d)
      .select(
        col("user_id"),
        expr("ts div 86400000000000").as("day"))
      .distinct()
      .withColumn("island", col("day") - row_number().over(wo))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("run"))
      .groupBy("user_id")
      .agg(
        max(col("run")).as("longest_daily_streak"),
        count(lit(1)).as("n_runs"))
  }

  /** Quantile drift (the Q-Q companion to q134's PSI: how each decile
    * of the value distribution moved between stream halves): exact
    * interpolated deciles per half in one aggregation each, joined on
    * decile index. Interpolation arithmetic is identical in both
    * engines over identical sorted doubles — only the delta output
    * rounds (5).
    */
  private def q144(sess: SparkSession, d: String): DataFrame = {
    val midDf = Tables
      .events(sess, d)
      .agg(percentile(col("event_id"), lit(0.5)).as("__mid"))
    val base = Tables.events(sess, d).crossJoin(broadcast(midDf))
    def deciles(cond: Column, name: String) = base
      .where(cond)
      .agg(
        percentile(
          col("value"),
          array((1 to 9).map(i => lit(i / 10.0)): _*)).as("qs"))
      .select(posexplode(col("qs")).as(Seq("d", name)))
    deciles(col("event_id") <= col("__mid"), "v1")
      .join(deciles(col("event_id") > col("__mid"), "v2"), Seq("d"))
      .select(
        col("d"),
        round(col("v1"), 5).as("v1"),
        round(col("v2"), 5).as("v2"),
        round(col("v2") - col("v1"), 5).as("delta"))
  }

  /** Per-source top bigrams (q117's corpus table, grouped, with the
    * q47 cap discipline): explode bigram pairs, count per (source,
    * bigram), keep each source's top 5 under the deterministic
    * (n desc, bigram) order — rank pushdown pre-prunes map-side
    * (WindowGroupLimit), so the exchange never carries a source's full
    * vocabulary.
    */
  private def q145(sess: SparkSession, d: String): DataFrame = {
    val tk = graft.functions.TextFunctions.tokens(col("text"))
    val counts = Tables
      .documents(sess, d)
      .select(col("source"), tk.as("__tk"))
      .where(size(col("__tk")) >= 2)
      .select(
        col("source"),
        explode(
          zip_with(
            slice(col("__tk"), lit(1), size(col("__tk")) - 1),
            slice(col("__tk"), lit(2), size(col("__tk")) - 1),
            (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("source", "bigram")
      .agg(count(lit(1)).as("n"))
    graft.operators.Sampling
      .capPerGroup(
        counts,
        Seq(col("source")),
        Seq(col("n").desc, col("bigram").asc),
        5)
  }

  /** Null-safe equality join (`<=>` / SQL IS NOT DISTINCT FROM — the
    * join pandas `merge` does on NaN keys and Spark's eqNullSafe
    * expresses): null keys MATCH null keys instead of vanishing.
    * Planned as a hash join on the null-safe key (no nested loop);
    * the demo plants nulls deterministically.
    */
  private def q146(sess: SparkSession, d: String): DataFrame = {
    val keyed = Tables
      .events(sess, d)
      .select(
        col("event_id"),
        nullif(col("event_type"), lit("error")).as("k"))
    val dim = Tables
      .events(sess, d)
      .select(nullif(col("event_type"), lit("error")).as("k"))
      .distinct()
      .withColumn(
        "label",
        coalesce(upper(col("k")), lit("UNTYPED")))
    keyed
      .alias("a")
      .join(dim.alias("b"), expr("a.k <=> b.k"))
      .groupBy(col("b.label").as("label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Global percent rank of per-user spend (pandas
    * `s.rank(pct=True)` over a grouped total — leaderboard
    * percentiles): cents-exact spend per user, ranked corpus-wide by
    * [[graft.ops.GlobalRank]] (no single-partition window), pct =
    * (rk−1)/(n−1) with n broadcast from a one-row aggregate. Exact
    * integer inputs; one final double division, identical in both
    * engines.
    */
  private def q147(sess: SparkSession, d: String): DataFrame = {
    val spend = Tables
      .events(sess, d)
      .groupBy("user_id")
      .agg(sum(centsOf(col("value"))).as("spend_cents"))
    val ranked = graft.ops.GlobalRank.withGlobalRowNumber(
      spend,
      Seq(col("spend_cents").desc, col("user_id").asc),
      "rk")
    val n = spend.agg(count(lit(1)).as("__n"))
    ranked
      .crossJoin(broadcast(n))
      .select(
        col("user_id"),
        (col("spend_cents").cast("bigint") / 100.0).as("spend"),
        col("rk"),
        ((col("rk") - 1).cast("double") / (col("__n") - 1)).as("pct"))
  }

  /** Cumulative adoption curve (distinct users EVER active by each
    * day — the other retention chart): first-active-day per user (one
    * agg), users-per-first-day (tiny), running total over the day
    * axis. The running window orders ~#days rows, not events — the
    * scalable shape for cumulative distinct counts (a naive
    * count(DISTINCT) per day rescans everything per day).
    */
  private def q148(sess: SparkSession, d: String): DataFrame = {
    val firstDay = Tables
      .events(sess, d)
      .groupBy("user_id")
      .agg(min(expr("ts div 86400000000000")).as("day"))
    firstDay
      .groupBy("day")
      .agg(count(lit(1)).as("new_users"))
      .withColumn(
        "total_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day")).rowsBetween(Long.MinValue, 0)))
  }

  /** Gopher-style duplicated 5-gram fraction per document
    * ([[graft.operators.Dedup.duplicatedNgramFraction]]): the
    * corpus-level quality signal behind "drop docs whose text is mostly
    * duplicated elsewhere". Spark hashes grams to 64 bits before any
    * exchange; the oracle counts the raw gram strings — identical modulo
    * the documented 2^-64 collision trade.
    */
  private def q149(sess: SparkSession, d: String): DataFrame =
    // docs(): the tokenize→hash→explode projection is CPU-bound per row —
    // same rationale as q14's use of the repartitioned reader
    graft.operators.Dedup.duplicatedNgramFraction(
      docs(sess, d),
      "doc_id",
      "text",
      n = 5)

  /** EXACT heavy hitters: users with >= 0.75% of all events
    * ([[graft.operators.HeavyHitters.exactHeavyHitters]]) — two passes,
    * k-bounded exchange, InSet-filtered exact recount; provably equal to
    * the full groupBy-HAVING the oracle runs.
    */
  private def q150(sess: SparkSession, d: String): DataFrame =
    graft.operators.HeavyHitters
      .exactHeavyHitters(
        Tables.events(sess, d),
        "user_id",
        supportNum = 3,
        supportDen = 400,
        k = 256)
      .orderBy("user_id")

  /** Bloom-pruned semi-join ([[graft.operators.BloomJoin]]): line items
    * of high-value orders (o_totalprice > 450k), revenue base summed in
    * exact cents (q39's tie-proof currency). The bloom prune drops
    * ~90% of lineitem before the exchange; the residual semi-join makes
    * the result exactly the oracle's IN-subquery.
    */
  private def q151(sess: SparkSession, d: String): DataFrame = {
    val hot = Tables.orders(sess, d).where(col("o_totalprice") > 450000.0)
    graft.operators.BloomJoin
      .bloomPrunedSemiJoin(
        Tables.lineitem(sess, d),
        "l_orderkey",
        hot.select("o_orderkey"),
        "o_orderkey",
        expectedItems = 1 << 20,
        fpp = 0.01)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        (sum(centsOf(col("l_extendedprice"))) / 100.0).as("sum_base"))
  }

  /** Build-once PQ "index": train codebooks + persist the m-byte codes
    * ([[graft.operators.ProductQuant]]). Cached per sf dir like the
    * LSH/IVF indexes; the codebooks (a few KB) stay on the driver, the
    * codes live as parquet.
    */
  private val pqIndexCache = scala.collection.concurrent.TrieMap
    .empty[String, (graft.operators.ProductQuant.Codebooks, String)]

  private def pqIndex(
      s: SparkSession,
      d: String): (graft.operators.ProductQuant.Codebooks, String) =
    pqIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("pq", d)
        val emb = Tables.embeddings(s, d)
        val cb =
          graft.operators.ProductQuant
            .pqTrain(emb, "embedding", "vec_id", m = 8, ksub = 16, iters = 3)
        graft.operators.ProductQuant
          .pqEncode(emb, "embedding", "vec_id", cb)
          .write
          .mode("overwrite")
          .parquet(path)
        (cb, path)
      })

  /** PQ/ADC top-10 (rows-only — approximate): the probe scans the
    * 8-byte-per-vector code table (32× less I/O than the float
    * vectors), TakeOrders the top-50 ADC candidates, and re-ranks only
    * those with exact cosine. Completes the ANN ladder: brute force
    * (q17) → LSH (q18) → IVF (q32/q57) → PQ codes.
    */
  private def q154(s: SparkSession, d: String): DataFrame = {
    val (cb, codesPath) = pqIndex(s, d)
    graft.operators.ProductQuant.pqTopK(
      s.read.parquet(codesPath),
      Tables.embeddings(s, d),
      "embedding",
      "vec_id",
      cb,
      queryVec(s, d),
      k = 10,
      refine = 50)
  }

  /** CUBE grouping-set aggregation with grouping_id — the full 2^k
    * grouping lattice over (returnflag, linestatus); q35's ROLLUP twin
    * completes the grouping-sets surface. One Expand + one aggregation
    * (no per-set rescans); gid bit order (first column = MSB) matches
    * DuckDB's GROUPING().
    */
  private def q152(sess: SparkSession, d: String): DataFrame =
    Tables
      .lineitem(sess, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        (sum(centsOf(col("l_extendedprice"))) / 100.0).as("sum_base"))

  /** Batch MERGE / upsert ([[graft.operators.Upsert.merge]]): apply a
    * change batch (1% price bump on orderkey%10, delete orderkey%30) to
    * the orders snapshot. New price computed in exact cents
    * (cents·101/10000 — one integer product, one exact double division),
    * so both engines agree bit-for-bit.
    */
  private def q153(sess: SparkSession, d: String): DataFrame = {
    val snap = Tables
      .orders(sess, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val changes = Tables
      .orders(sess, d)
      .where(col("o_orderkey") % 10 === 0)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        ((centsOf(col("o_totalprice")) * 101) / 10000.0).as("o_totalprice"),
        lit(2L).as("version"),
        (col("o_orderkey") % 30 === 0).as("deleted"))
    graft.operators.Upsert
      .merge(snap, changes, Seq("o_orderkey"), "version", "deleted")
  }

  /** Build-once IVF-PQ index cache ([[graft.operators.ProductQuant
    * .ivfPqWriteIndex]]): coarse k-means clusters for partition pruning
    * × PQ codes for the scan, vectors co-located for the exact re-rank.
    */
  private val ivfPqIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def ivfPqIndex(s: SparkSession, d: String): String =
    ivfPqIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("ivfpq", d)
        graft.operators.ProductQuant.ivfPqWriteIndex(
          Tables.embeddings(s, d).drop("label"),
          "embedding",
          "vec_id",
          path,
          kClusters = 8,
          m = 8,
          ksub = 16,
          iters = 3,
          sourceTag = d)
        path
      })

  /** Build-once cache for the APPENDED IVF-PQ index (q228): even
    * vec_ids at build (they train the coarse quantizer + codebooks),
    * odd vec_ids via [[graft.operators.ProductQuant.ivfPqAppendIndex]]
    * — the cached artifact is the evolved index every probe reads.
    */
  private val ivfPqAppendIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def ivfPqAppendedIndex(s: SparkSession, d: String): String =
    ivfPqAppendIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("ivfpqapp", d)
        val emb = Tables.embeddings(s, d).drop("label")
        graft.operators.ProductQuant.ivfPqWriteIndex(
          emb.where(pmod(col("vec_id"), lit(2)) === 0),
          "embedding",
          "vec_id",
          path,
          kClusters = 8,
          m = 8,
          ksub = 16,
          iters = 3,
          sourceTag = d)
        graft.operators.ProductQuant.ivfPqAppendIndex(
          emb.where(pmod(col("vec_id"), lit(2)) === 1),
          "embedding",
          "vec_id",
          path,
          sourceTag = d)
        path
      })

  /** IVF-PQ probe (rows-only — approximate): partition pruning picks
    * nprobe cluster directories, the ADC pass reads only the (id, code)
    * columns (parquet column pruning keeps the vectors unread), and the
    * exact re-rank touches `refine` vectors via a pushed id filter. The
    * Faiss `IVF8,PQ8` shape on Spark — the terminal rung of the ANN
    * ladder (q17 → q18 → q32/q57 → q154 → here).
    */
  private def q155(s: SparkSession, d: String): DataFrame =
    graft.operators.ProductQuant.ivfPqProbe(
      s,
      ivfPqIndex(s, d),
      queryVec(s, d),
      k = 10,
      nprobe = 3,
      refine = 50,
      sourceTag = d)

  /** Hybrid retrieval with reciprocal-rank fusion: dense (exact cosine
    * vs vec 42) and sparse (integer term-frequency dot vs doc 42's
    * text) channels each produce a top-100, fused as
    * Σ 1/(60+rank) (Cormack & Clarke's RRF, k=60), top-20 out.
    *
    * Cross-engine determinism by construction: the dense cosines are
    * bit-identical in both engines (same left-to-right loop — verified
    * empirically; the self-match, where DuckDB clamps to 1.0, is
    * excluded), the sparse scores are exact BIGINTs, so both channel
    * rankings — and therefore the RRF rationals — are identical. The
    * per-channel rank windows run on the ALREADY-LIMITED 100-row channel
    * results (bounded by construction, not a corpus-wide single-partition
    * window); channel top-100s are TakeOrdered.
    */
  private def q156(sess: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("s").desc, col("doc_id"))
    // dense channel: everything with an embedding, except the query itself
    val qv = Tables
      .embeddings(sess, d)
      .where(col("vec_id") === 42L)
      .select(col("embedding").cast("array<double>"))
      .head()
      .getSeq[Double](0)
    graft.functions.VectorExpressions.register(sess)
    val dense = Tables
      .embeddings(sess, d)
      .where(col("vec_id") =!= 42L)
      .select(
        col("vec_id").as("doc_id"),
        graft.functions.VectorExpressions
          .cosineFast(col("embedding"), array(qv.map(lit): _*))
          .as("s"))
      .orderBy(col("s").desc, col("doc_id"))
      .limit(100)
      .withColumn("rd", row_number().over(w))
      .select("doc_id", "rd")
    // sparse channel: exact integer tf·tf_q over shared terms
    val tf = docs(sess, d)
      .select(
        col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val qt = tf
      .where(col("doc_id") === 42L)
      .select(col("term"), col("tf").as("qtf"))
    val sparse = tf
      .where(col("doc_id") =!= 42L)
      .join(qt, "term") // query-doc term list: AQE broadcasts it
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("qtf")).as("s"))
      .orderBy(col("s").desc, col("doc_id"))
      .limit(100)
      .withColumn("rs", row_number().over(w))
      .select("doc_id", "rs")
    dense
      .join(sparse, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        (coalesce(lit(1.0) / (col("rd") + 60), lit(0.0)) +
          coalesce(lit(1.0) / (col("rs") + 60), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  /** Per-group OLS regression (pandas `groupby().apply(lambda g:
    * np.polyfit(...))` — the grouped model-fit shape): slope/intercept
    * of value-cents on event_id per user, from EXACT integer sums
    * (n, Σx, Σy, Σxy, Σx² as BIGINTs — order-independent), with one
    * final double division per coefficient. Map-side partial aggregation
    * carries five longs per (partition, user): the textbook
    * decomposable-moments shape that replaces a per-group UDF at scale.
    */
  private def q157(sess: SparkSession, d: String): DataFrame = {
    val e = Tables
      .events(sess, d)
      .select(
        col("user_id"),
        col("event_id").as("x"),
        centsOf(col("value")).as("y"))
    e.groupBy("user_id")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn(
        "slope_cents",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn(
        "icept_cents",
        (col("sy").cast("double") -
          col("slope_cents") * col("sx").cast("double")) /
          col("n").cast("double"))
      .select("user_id", "n", "slope_cents", "icept_cents")
  }

  /** Customer revenue deciles — the TPC-H-flavored multi-join + rank +
    * re-aggregation composition: lineitem ⋈ orders (the big shuffle
    * pair) rolled up to customer revenue in exact cents·percent
    * integers, decile from [[graft.ops.GlobalRank]] over the reduced
    * customer frame (rk−1)·10 div n — integer arithmetic, no
    * single-partition ntile window — then per-decile stats.
    */
  private def q158(sess: SparkSession, d: String): DataFrame = {
    val li = Tables
      .lineitem(sess, d)
      .select(
        col("l_orderkey"),
        (centsOf(col("l_extendedprice")) *
          (lit(100) - round(col("l_discount") * 100).cast("long")))
          .as("rev"))
    val cust = li
      .join(
        Tables.orders(sess, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("rev")).as("rev"))
    // the rank pass already counts every partition — reuse its total
    // instead of a second count aggregation + broadcast join
    val (ranked, total) = graft.ops.GlobalRank
      .withGlobalRowNumberTotal(
        cust,
        Seq(col("rev").desc, col("o_custkey").asc),
        "rk")
    ranked
      .withColumn("decile", expr(s"(rk - 1) * 10 div ${total}L") + 1)
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_cust"),
        (sum(col("rev")) / 10000.0).as("revenue"))
  }

  /** Cardinality-validated join (pandas `merge(validate="many_to_one")`
    * — [[graft.operators.ValidatedJoin]]): lineitem ⋈ orders with the
    * orders side PROVEN unique per key by an in-plan assert_true guard
    * (a violated assumption fails the job naming the key — no silent
    * fanout), then order-priority stats in exact cents.
    */
  private def q159(sess: SparkSession, d: String): DataFrame =
    graft.operators.ValidatedJoin
      .join(
        // adaptive fan-out (round 17, §2.5): the one-row-group fixture
        // scan made the scan→cents→join→partial-agg chain a single
        // 308 ms task (profiled); no-op at corpus scale
        graft.ops.Stage
          .fanOutIfNarrow(Tables.lineitem(sess, d), col("l_orderkey"))
          .select(
            col("l_orderkey").as("o_orderkey"),
            centsOf(col("l_extendedprice")).as("cents")),
        Tables.orders(sess, d).select("o_orderkey", "o_orderpriority"),
        Seq("o_orderkey"),
        "inner",
        "many_to_one")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        (sum(col("cents")) / 100.0).as("sum_base"))

  /** pandas `groupby().filter()` ([[graft.ops.GroupApply.filterGroups]]):
    * events of users whose exact-cents total spend exceeds the group
    * median's ballpark — whole groups kept or dropped by a group-level
    * predicate, member rows returned.
    */
  private def q160(sess: SparkSession, d: String): DataFrame =
    graft.ops.GroupApply
      .filterGroups(
        Tables.events(sess, d).select("user_id", "event_id", "value"),
        Seq("user_id"))(
        sum(centsOf(col("value"))),
        _ > 330000L)
      .select("user_id", "event_id", "value")

  /** Native `session_window` gap sessionization — the built-in twin of
    * q26's hand-rolled gaps-and-islands ([[graft.operators.Sessionize
    * .batch]]): Catalyst's SessionWindow aggregate merges events closer
    * than the gap in ONE partial+final aggregation (no lag window, no
    * running-sum pass), exactly the "compose built-ins first" ladder
    * rung. Session end = last event + gap (Spark's session semantics,
    * mirrored in the oracle); timestamps carried as exact micros longs.
    */
  private def q161(sess: SparkSession, d: String): DataFrame =
    Tables
      .events(sess, d)
      .withColumn("et", timestamp_micros(expr("ts div 1000")))
      .groupBy(
        col("user_id"),
        session_window(col("et"), "10 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("user_id"),
        unix_micros(col("sw.start")).as("s_start"),
        unix_micros(col("sw.end")).as("s_end"),
        col("n"))

  /** pandas `pd.factorize` — integer codes by FIRST APPEARANCE order
    * (stream order = event_id), distinct from q135's ngroup (key-sort
    * order) and q102's recode (explicit mapping). One tiny
    * distinct-key aggregation, GlobalRank over it, broadcast join back
    * — the data side never shuffles.
    */
  private def q162(sess: SparkSession, d: String): DataFrame = {
    val first = Tables
      .events(sess, d)
      .groupBy("event_type")
      .agg(min(col("event_id")).as("first_id"))
    val codes = graft.ops.GlobalRank
      .withGlobalRowNumber(first, Seq(col("first_id").asc), "rk")
      .select(col("event_type"), (col("rk") - 1).as("code"))
    Tables
      .events(sess, d)
      .join(broadcast(codes), "event_type")
      .select("event_id", "event_type", "code")
  }

  /** pandas `pd.merge_ordered(fill_method="ffill")` — ordered full merge
    * of two keyed series (views × purchases per user, ordered by
    * event_id) with each side's value forward-filled across the union.
    * The as-of union shape (q25's rationale): ONE hash exchange on the
    * key + per-partition sort; `last(_, ignoreNulls)` over the
    * unbounded-preceding frame carries each side across the other's
    * rows. Values pass through untouched — no cross-engine arithmetic.
    */
  private def q163(sess: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(sess, d)
    def side(t: String) = ev
      .where(col("event_type") === t)
      .select(col("user_id"), col("event_id"), col("value"))
    val unioned = side("view")
      .select(
        col("user_id"),
        col("event_id"),
        col("value").as("v_view"),
        lit(null).cast("double").as("v_purchase"))
      .unionByName(
        side("purchase").select(
          col("user_id"),
          col("event_id"),
          lit(null).cast("double").as("v_view"),
          col("value").as("v_purchase")))
    val w = Window
      .partitionBy("user_id")
      .orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    unioned
      .withColumn("v_view", last(col("v_view"), ignoreNulls = true).over(w))
      .withColumn(
        "v_purchase",
        last(col("v_purchase"), ignoreNulls = true).over(w))
  }

  /** Per-user behavior drift via array set algebra: event types retained
    * / new / churned between the first and second half of the stream
    * (split at the global max event_id ÷ 2 — one broadcast row).
    * `collect_set` + `array_intersect`/`array_except` keep the whole
    * set computation inside ONE aggregation pass — no per-half
    * re-aggregation, no self-join of the data side.
    */
  private def q164(sess: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(sess, d)
    val mid = ev.agg(expr("max(event_id) div 2").as("__h"))
    ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        collect_set(when(col("event_id") <= col("__h"), col("event_type")))
          .as("a"),
        collect_set(when(col("event_id") > col("__h"), col("event_type")))
          .as("b"))
      .select(
        col("user_id"),
        size(array_intersect(col("a"), col("b"))).cast("long")
          .as("n_retained"),
        size(array_except(col("b"), col("a"))).cast("long").as("n_new"),
        size(array_except(col("a"), col("b"))).cast("long").as("n_churned"))
  }

  /** Near-dup dedup END-TO-END: q16's exact-Jaccard pairs →
    * [[graft.operators.Dedup.resolveComponents]] (q56) →
    * [[graft.operators.Dedup.dedupByComponents]] — the surviving corpus
    * after transitive near-dup groups each keep one canonical member.
    * The step q56 stops short of: this is the table a training run
    * actually reads. LEFT ANTI on the (small) drop-list; the corpus
    * side never shuffles more than its join keys.
    */
  private def q165(sess: SparkSession, d: String): DataFrame =
    graft.operators.Dedup
      .dedupByComponents(
        Tables.documents(sess, d).select("doc_id", "source"),
        "doc_id",
        graft.operators.Dedup.resolveComponentsAuto(q16(sess, d)))
      .orderBy("doc_id")

  /** The 100-TB dedup pipeline as ONE composition: MinHash-LSH pairs
    * (q14 — the pair generator that scales, vs q165's exact blocked
    * Jaccard) → [[graft.operators.Dedup.resolveComponents]] →
    * [[graft.operators.Dedup.dedupByComponents]]. Same survivor
    * semantics as q165 with the scalable pair generator — the flagship
    * query of the whole engine. Rows-only (MinHash is not
    * SQL-expressible; q14 precedent); the planted-chain
    * ExtensionsSpec proves the composition against the exact path.
    */
  private def q166(sess: SparkSession, d: String): DataFrame =
    graft.operators.Dedup
      .dedupByComponents(
        Tables.documents(sess, d).select("doc_id", "source"),
        "doc_id",
        graft.operators.Dedup.resolveComponentsAuto(q14(sess, d)))
      .orderBy("doc_id")

  /** The DECONTAMINATED corpus ([[graft.operators.Dedup.decontaminate]])
    * — q61's flag pass exists for this step: the training table with
    * contaminated docs removed (LEFT ANTI on the small flag list — the
    * corpus never shuffles). Long 24-char shingles with minShared=5:
    * the verbatim-leak operating point (q61's 3-char/10 setting flags
    * every doc on this phrase-pool corpus — a degenerate empty output).
    * Bloom-prefiltered flag pass, bit-identical to the exact pass, so
    * the oracle is plain NOT IN over the shingle join.
    */
  private def q167(sess: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(sess, d)
    graft.operators.Dedup
      .decontaminate(
        docs.where(col("doc_id") >= 50),
        docs.where(col("doc_id") < 50),
        "text",
        "doc_id",
        n = 24,
        minShared = 5)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** GLOBAL cumulative revenue (ungrouped pandas `.cumsum()` / SQL
    * `sum() OVER (ORDER BY …)`) — the one remaining window Spark would
    * single-partition, made scalable by
    * [[graft.ops.Windows.prefixSumScalable]]: range-partition + sort,
    * per-partition totals → driver offsets (one long per partition),
    * one streaming pass. Exact LONG cents (money never prefix-sums in
    * doubles — association order would drift vs any sequential oracle).
    */
  private def q168(sess: SparkSession, d: String): DataFrame =
    graft.ops.Windows.prefixSumScalable(
      Tables.orders(sess, d)
        .select(
          col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("__cents")),
      "o_orderkey",
      "__cents",
      "cum_revenue_cents")

  private val mhIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val embDupIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Build-once persisted embedding near-dup index over the corpus half
    * (vec_id ≥ 100), built through the streaming backfill path itself
    * ([[graft.streaming.EmbedIngest.ingestBatch]] with batchId 0 — the
    * corpus is intra-deduped on the way in, which IS the ingest
    * semantics).
    */
  private def embDupIndex(s: SparkSession, d: String): String =
    embDupIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("embdup", d)
        // ingestBatch is idempotent per (path, batchId) — markers from
        // a previous build would short-circuit it, so a cache-miss
        // build (what Bench times after clearIndexCaches) must start
        // from an empty tree to be a REAL build, not a marker check
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        graft.streaming.EmbedIngest.ingestBatch(
          Tables.embeddings(s, d).where(col("vec_id") >= 100),
          path,
          "embedding",
          "vec_id",
          batchId = 0L,
          nBits = 16,
          bands = 4,
          threshold = 0.4,
          sourceTag = d)
        path
      })

  private def mhIndex(s: SparkSession, d: String): String =
    mhIndexCache.getOrElseUpdate(
      d, {
        val path = indexScratch("mh", d)
        graft.operators.Dedup.minHashWriteIndex(
          Tables.documents(s, d).where(col("doc_id") >= 50),
          "text",
          "doc_id",
          path,
          shingleLen = 4,
          numHashes = 32,
          bands = 8,
          sourceTag = d)
        path
      })

  /** INCREMENTAL near-dup ingest ([[graft.operators.Dedup
    * .dedupIncoming]]): the new batch (doc_id < 50) dedupes against
    * the persisted MinHash index of the existing corpus (doc_id ≥ 50)
    * — batch signed with the index's own parameters and BROADCAST, the
    * index only ever scanned, never re-signed or shuffled. The
    * streaming-ingest analog of q166's batch pipeline; rows-only (q14
    * precedent), with the planted-pair differential in ExtensionsSpec.
    */
  private def q173(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup
      .dedupIncoming(
        Tables.documents(s, d).where(col("doc_id") < 50),
        "text",
        "doc_id",
        mhIndex(s, d),
        threshold = 0.4,
        sourceTag = d)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** EXACT semantic-dedup survivors over the embedding corpus: every
    * cosine-≥-0.4 pair ([[graft.operators.Dedup.embeddingNearDupExact]],
    * brute pairwise — the oracle-fidelity baseline), transitive chains
    * resolved to components, one survivor (min vec_id) per component.
    * Hash-checkable against a DuckDB recursive-CTE oracle (the q56
    * component pattern over `list_cosine_similarity`). The corpus has
    * real transitive structure at 0.4 (components up to size 8 at
    * sf0.01), so this exercises the full pairs→components→survivors
    * pipeline, not just pair detection. Scale twin: q175 (SemDeDup
    * cluster blocking) bounds the quadratic scan.
    */
  private def q174(sess: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(sess, d)
    graft.operators.Dedup
      .dedupByComponents(
        emb.select("vec_id", "label"),
        "vec_id",
        graft.operators.Dedup.resolveComponentsAuto(
          graft.operators.Dedup
            .embeddingNearDupExact(emb, "embedding", "vec_id", 0.4)))
      .orderBy("vec_id")
  }

  /** SemDeDup semantic dedup (cluster-blocked, arXiv:2303.09540) — the
    * 100-TB form of q174: k-means blocks the pairwise scan to within-
    * cluster candidates, so the work is Σ cluster² instead of n².
    * Rows-only by design (k-means assignment is not SQL-expressible);
    * the differential spec proves clustered == exact on planted
    * near-dup chains, and q174 is the exact twin on this corpus.
    */
  private def q175(sess: SparkSession, d: String): DataFrame =
    graft.operators.Dedup
      .semanticDedup(
        Tables.embeddings(sess, d),
        "embedding",
        "vec_id",
        k = 8,
        threshold = 0.4)
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** INCREMENTAL SEMANTIC ingest ([[graft.operators.Dedup
    * .embDedupIncoming]]) — q173's shape for the embedding modality:
    * the new batch (vec_id < 100) dedupes against the persisted
    * banded-hyperplane-LSH index of the existing corpus (vec_id ≥ 100,
    * built via the streaming backfill path). Batch signed with the
    * index's own parameters and BROADCAST; the index is only ever
    * scanned. Rows-only by design (LSH recall < 1 at this threshold is
    * not SQL-expressible); the StreamingSpec lifecycle and the
    * ExtensionsSpec probe-vs-exact containment are the differential
    * checks.
    */
  private def q177(sess: SparkSession, d: String): DataFrame =
    graft.operators.Dedup
      .embDedupIncoming(
        Tables.embeddings(sess, d).where(col("vec_id") < 100),
        "embedding",
        "vec_id",
        embDupIndex(sess, d),
        threshold = 0.4,
        sourceTag = d)
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** MULTI-distinct aggregation WITHOUT Expand. Catalyst already plans
    * a SINGLE `count(DISTINCT)` as the scalable two-stage aggregation
    * (q34's plan has no Expand — verified in PlanSpec), but TWO
    * distinct aggregates in one `agg` trigger the Expand rewrite: every
    * input row is replicated once per distinct column through the
    * exchange — ×3 shuffle volume here, the real 100-TB trap. This
    * form computes each distinct count as its own two-stage
    * aggregation (reduce to distinct pairs, then count — no row
    * replication, no per-group multisets) and joins the k-row results
    * (AQE broadcasts). PlanSpec pins q178 Expand-free and the verbatim
    * two-distinct form Expand-ful.
    */
  private def q178(sess: SparkSession, d: String): DataFrame = {
    // exact integer FLOOR division into day buckets — `div` alone
    // truncates toward zero while the DuckDB oracle's `//` floors, so a
    // pre-epoch timestamp would land one bucket high and change n_days
    // (the Pandarallel.parallelResample floor form, same rationale)
    val step = 86400000000000L
    val ev = Tables
      .events(sess, d)
      .select(
        col("event_type"),
        col("user_id"),
        (expr(s"ts div ${step}L") -
          when(col("ts") % lit(step) < 0, lit(1L)).otherwise(lit(0L)))
          .as("__day"))
    val users = ev
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("__n"))
      .groupBy("event_type")
      .agg(
        // count(user_id) skips a null-user pair row, matching
        // countDistinct's null semantics; null users' EVENTS still
        // land in n_events via the sum, matching count(*)
        count(col("user_id")).as("n_users"),
        sum(col("__n")).as("n_events"))
    val days = ev
      .groupBy("event_type", "__day")
      .agg(count(lit(1)).as("__m"))
      .groupBy("event_type")
      .agg(count(col("__day")).as("n_days"))
    users
      .join(days, Seq("event_type"))
      .select("event_type", "n_users", "n_days", "n_events")
  }

  /** Build-once log-structured CDC state (per JVM, per sf dir): a
    * deterministic 3-batch change feed derived from orders — key =
    * o_orderkey % 5000 (collisions give every key multiple versions
    * across batches), version = o_orderkey, every 97th order a delete —
    * appended through [[graft.streaming.CdcLog.appendBatch]]. The state
    * dir is wiped before the first build in this JVM so a stale layout
    * from an older code version can never satisfy the idempotence
    * markers and poison the fold.
    */
  private val cdcLogCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def cdcChanges(s: SparkSession, d: String): DataFrame =
    Tables
      .orders(s, d)
      .select(
        (col("o_orderkey") % 5000).as("k"),
        col("o_custkey"),
        col("o_totalprice"),
        col("o_orderkey").as("version"),
        (col("o_orderkey") % 97 === 0).as("deleted"),
        (col("o_orderkey") % 3).as("__b"))

  private def cdcLogState(s: SparkSession, d: String): String =
    cdcLogCache.getOrElseUpdate(
      d, {
        val path = indexScratch("cdclog", d)
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val ch = cdcChanges(s, d)
        (0 until 3).foreach { b =>
          graft.streaming.CdcLog.appendBatch(
            ch.where(col("__b") === b).drop("__b"),
            path,
            Seq("k"),
            "version",
            "deleted",
            b.toLong)
        }
        path
      })

  /** LOG-STRUCTURED CDC fold ([[graft.streaming.CdcLog]], q179): three
    * marker-committed O(batch) delta segments folded latest-writer-wins
    * — winner per key by (batch, version), batch FIRST because a later
    * batch's change beats an earlier batch's higher version (sequential
    * MERGE semantics), deletes applied. Hash-checkable: the oracle
    * replays the identical fold as one SQL window over the same
    * synthetic change feed. The write path this verifies is the
    * fact-table CDC shape (append O(batch), never rewrite the table).
    */
  private def q179(s: SparkSession, d: String): DataFrame =
    graft.streaming.CdcLog
      .read(s, cdcLogState(s, d), Seq("k"))
      .get
      .orderBy("k")

  /** CDC TIME TRAVEL ([[graft.streaming.CdcLog.readAt]], q180): the
    * same log as q179 read AS OF batch 1 — the fold restricted to
    * segments 0..1, i.e. the state the log held before batch 2
    * committed. The oracle replays the identical windowed fold with
    * the batch-2 changes filtered out. History reaches back to the
    * newest compaction only (compacted segments hold winners, not
    * history) — the vacuum-limits-time-travel contract, spec'd in
    * CdcUpsertSpec.
    */
  private def q180(s: SparkSession, d: String): DataFrame =
    graft.streaming.CdcLog
      .readAt(s, cdcLogState(s, d), Seq("k"), asOfBatch = 1L)
      .get
      .orderBy("k")

  /** SUBSTRING-level dedup spans ([[graft.operators.Dedup
    * .duplicateSpans]], q181): maximal token ranges of each document
    * covered by 5-token windows that also occur in another document —
    * the windowed distributed form of Lee et al.'s exact substring
    * dedup (arXiv:2107.06499). Hash-checkable: the oracle rebuilds the
    * same windows (gram strings where Spark ships 64-bit hashes — the
    * 2^-64 collision trade q149 already makes), doc-frequency filter,
    * and gaps-and-islands merge in SQL.
    */
  private def q181(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup
      .duplicateSpans(
        // docs(): the tokenize→hash→window-explode projection is the
        // CPU cost — spread the single-file corpus across cores (q14)
        docs(s, d).select("doc_id", "text"),
        "doc_id",
        "text")
      .orderBy("doc_id", "span_start")

  /** SUBSTRING-level dedup removal ([[graft.operators.Dedup
    * .removeDuplicateSpans]], q182): q181's spans deleted from each
    * doc's token stream — (doc_id, n_removed, clean_text) for every
    * doc, clean_text = surviving tokens single-space joined, "" when
    * the whole doc was duplicated. The Spark side removes via a
    * codegen'd higher-order filter over the token array (no per-token
    * explode of the corpus); the oracle reconstructs the identical
    * text by anti-joining unnested token positions against the spans.
    */
  private def q182(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup
      .removeDuplicateSpans(
        docs(s, d).select("doc_id", "text"),
        "doc_id",
        "text")
      .orderBy("doc_id")

  /** GLOBAL running max (ungrouped `.cummax()`) — q168's two-phase
    * scan with the max monoid instead of sum
    * ([[graft.ops.Windows.prefixScanScalable]] is monoid-generic:
    * per-partition totals fold, driver scanLeft, streaming pass).
    * Same no-single-partition posture.
    */
  private def q172(sess: SparkSession, d: String): DataFrame =
    graft.ops.Windows.prefixScanScalable(
      Tables.orders(sess, d)
        .select(
          col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("__cents")),
      "o_orderkey",
      "__cents",
      "run_max_cents",
      "max")

  /** Exponentially weighted covariance + correlation per user (pandas
    * `groupby('user_id').ewm(alpha=0.2, adjust=False).cov(other)` /
    * `.corr(other)`, bias=False) — [[graft.ops.Windows.ewmCov]]'s
    * polarization-extended delta recursions. The companion series is
    * `value · (event_id mod 5)` — pure double arithmetic both engines
    * compute bit-identically (no transcendental, so no rounding), with
    * a non-affine relation so corr is nontrivial. Oracle replays the
    * IDENTICAL recursion as a DuckDB recursive CTE (q64's rationale).
    */
  private def q169(sess: SparkSession, d: String): DataFrame =
    graft.ops.Windows
      .ewmCov(
        Tables.events(sess, d)
          .withColumn(
            "value2",
            col("value") * (col("event_id") % 5).cast("double")),
        "value",
        "value2",
        orderBy = Seq(col("event_id")),
        keyCols = Seq("user_id"),
        alpha = 0.2,
        outName = "ewm_cov")
      .select("user_id", "event_id", "ewm_cov", "ewm_cov_corr")

  /** REAL audio decode ([[graft.multimodal.Multimodal.decodeAudio]] —
    * JDK `javax.sound.sampled`, WAV container parse + PCM conversion,
    * no stub): per-doc synthesized sine WAVs (deterministic ingest
    * shim, q24's pattern) decoded back to (rate, channels, frames) and
    * the quality features audio filters run on (RMS, zero-crossing
    * rate, energy envelope). Rows-only: the features are pure
    * per-row functions of binary payloads — nothing SQL can oracle;
    * the ExtensionsSpec pins known-tone values instead.
    */
  private def q170(s: SparkSession, d: String): DataFrame =
    Multimodal
      .decodeAudio(
        Multimodal.audioAssetsFromIds(
          Tables.documents(s, d).select("doc_id"),
          "doc_id"))
      .toDF()
      .select(
        col("id"),
        col("sample_rate"),
        col("channels"),
        col("n_samples"),
        round(col("rms"), 5).as("rms"),
        round(col("zcr"), 5).as("zcr"),
        xxhash64(
          concat_ws(
            ",",
            transform(col("energy_profile"), x => format_number(x, 4))))
          .as("profile_hash"))

  /** REAL video decode + frame sampling — the pure-JDK RIFF/AVI parser
    * ([[graft.multimodal.Multimodal.decodeVideo]]) over per-id
    * synthesized uncompressed AVIs, every 2nd frame. Solid-color
    * frames make the decoded per-frame channel means and luminance
    * bin arithmetically predictable, so the WHOLE
    * write-container → parse-container → scan-pixels round trip is
    * hash-checked against a plain-SQL oracle (a stride / BGR-order /
    * bottom-up bug would shift every mean). Means accumulate in
    * double; no rounding on either side — both emit bit-identical
    * doubles and the driver's canonical 6-decimal pass does the rest.
    */
  private def q176(sess: SparkSession, d: String): DataFrame =
    Multimodal
      .decodeVideo(
        Multimodal.videoAssetsFromIds(
          Tables.documents(sess, d).select("doc_id"),
          "doc_id"),
        histBins = 16,
        everyN = 2)
      .toDF()
      .select(
        col("id"),
        col("frame_idx"),
        col("width"),
        col("height"),
        col("n_frames"),
        col("mean_r"),
        col("mean_g"),
        col("mean_b"),
        // a solid frame's luminance histogram is a single 1.0 bin —
        // its index is the frame's (integer) luminance bucket
        (array_position(col("feature"), 1.0f) - 1).as("lum_bin"))
      .orderBy("id", "frame_idx")

  /** pandas `rolling(10, method="table").apply(f)` — the multi-column
    * black-box window UDF ([[graft.ops.Windows.rollingTableApply]]):
    * the user function sees the whole w×k frame matrix. Exercised with
    * a rolling OLS slope (beta of y on x — genuinely cross-column, not
    * per-column decomposable), which DuckDB can oracle as a window
    * `regr_slope`. Both sides rounded to 5 decimals (different
    * summation strategies, q63's rationale).
    */
  private def q171(s: SparkSession, d: String): DataFrame = {
    val beta: Seq[Seq[Double]] => Option[Double] = { m =>
      val x = m(0)
      val y = m(1)
      val n = x.length
      var sx = 0.0
      var sy = 0.0
      var i = 0
      while (i < n) { sx += x(i); sy += y(i); i += 1 }
      val mx = sx / n
      val my = sy / n
      var sxy = 0.0
      var sxx = 0.0
      i = 0
      while (i < n) {
        sxy += (x(i) - mx) * (y(i) - my)
        sxx += (x(i) - mx) * (x(i) - mx)
        i += 1
      }
      if (sxx == 0.0) None else Some(sxy / sxx)
    }
    graft.ops.Windows
      .rollingTableApply(
        Tables.events(s, d)
          .withColumn(
            "value2",
            col("value") * (col("event_id") % 5).cast("double")),
        Seq(col("value"), col("value2")),
        Seq(col("event_id")),
        Seq(col("user_id")),
        window = 10,
        outName = "__beta")(beta)
      .select(
        col("user_id"),
        col("event_id"),
        round(col("__beta"), 5).as("beta"))
  }

  // ---------------------------------------------------------------------

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_row_apply" -> (q01 _),
    "q02_col_reduce" -> (q02 _),
    "q03_applymap" -> (q03 _),
    "q04_series_map" -> (q04 _),
    "q05_series_apply_args" -> (q05 _),
    "q06_group_scalar" -> (q06 _),
    "q07_group_stats" -> (q07 _),
    "q08_group_multikey" -> (q08 _),
    "q09_rolling" -> (q09 _),
    "q10_grouped_rolling" -> (q10 _),
    "q11_grouped_expanding" -> (q11 _),
    "q12_composition" -> ((s: SparkSession, d: String) => q12Composition(s, d)),
    "q13_dedup_exact" -> (q13 _),
    "q14_minhash_neardup" -> (q14 _),
    "q15_simhash_fp" -> (q15 _),
    "q16_ngram_jaccard" -> (q16 _),
    "q17_cosine_scores" -> (q17 _),
    "q18_ann_lsh_topk" -> (q18 _),
    "q19_text_stats" -> (q19 _),
    "q20_lang_id" -> (q20 _),
    "q21_quality_score" -> (q21 _),
    "q22_fingerprint" -> (q22 _),
    "q23_event_buckets" -> (q23 _),
    "q24_multimodal_features" -> (q24 _),
    "q25_asof_join" -> (q25 _),
    "q26_sessionize" -> (q26 _),
    "q27_group_percentiles" -> (q27 _),
    "q28_stratified_sample" -> (q28 _),
    "q29_vocabulary" -> (q29 _),
    "q30_rolling_scalable" -> (q30 _),
    "q31_ivf_centroids" -> (q31 _),
    "q32_ivf_topk" -> (q32 _),
    "q33_tfidf" -> (q33 _),
    "q34_distinct_agg" -> (q34 _),
    "q35_rollup" -> (q35 _),
    "q36_chunking" -> (q36 _),
    "q37_rolling_center" -> (q37 _),
    "q38_rolling_closed" -> (q38 _),
    "q39_expanding_minp" -> (q39 _),
    "q40_rolling_wintype" -> (q40 _),
    "q41_range_join" -> (q41 _),
    "q42_rolling_range" -> (q42 _),
    "q43_approx_percentiles" -> (q43 _),
    "q44_rolling_hamming" -> (q44 _),
    "q45_cogroup" -> (q45 _),
    "q46_repetition" -> (q46 _),
    "q47_group_cap" -> (q47 _),
    "q48_rank_transforms" -> (q48 _),
    "q49_pivot" -> (q49 _),
    "q50_unpivot" -> (q50 _),
    "q51_incremental_dedup" -> (q51 _),
    "q52_setops" -> (q52 _),
    "q53_rolling_gaussian" -> (q53 _),
    "q54_decontamination" -> (q54 _),
    "q55_expanding_apply" -> (q55 _),
    "q56_neardup_components" -> (q56 _),
    "q57_ann_kmeans_topk" -> (q57 _),
    "q58_weighted_closed" -> (q58 _),
    "q59_rolling_blackman" -> (q59 _),
    "q60_ewm_mean" -> (q60 _),
    "q61_bloom_decontamination" -> (q61 _),
    "q62_segment_dedup" -> (q62 _),
    "q63_rolling_corr" -> (q63 _),
    "q64_ewm_var" -> (q64 _),
    "q65_interpolate" -> (q65 _),
    "q66_shift_family" -> (q66 _),
    "q67_winsorize" -> (q67 _),
    "q68_hll_distinct" -> (q68 _),
    "q69_json_extract" -> (q69 _),
    "q70_rolling_median" -> (q70 _),
    "q71_rank_methods" -> (q71 _),
    "q72_describe" -> (q72 _),
    "q73_attribution_join" -> (q73 _),
    "q74_asof_forward" -> (q74 _),
    "q75_surprisal" -> (q75 _),
    "q76_rolling_skew" -> (q76 _),
    "q77_group_mode" -> (q77 _),
    "q78_duplicated_flags" -> (q78 _),
    "q79_session_stats" -> (q79 _),
    "q80_cohort_retention" -> (q80 _),
    "q81_funnel" -> (q81 _),
    "q82_weighted_sample" -> (q82 _),
    "q83_cumulative" -> (q83 _),
    "q84_resample" -> (q84 _),
    "q85_idxmax" -> (q85 _),
    "q86_redact" -> (q86 _),
    "q87_pack_sequences" -> (q87 _),
    "q88_histogram" -> (q88 _),
    "q89_autocorr" -> (q89 _),
    "q90_first_last_nth" -> (q90 _),
    "q91_token_explode" -> (q91 _),
    "q92_fillna_mean" -> (q92 _),
    "q93_langid_ngram" -> (q93 _),
    "q94_merge_indicator" -> (q94 _),
    "q95_dt_accessors" -> (q95 _),
    "q96_mixture_weights" -> (q96 _),
    "q97_ttr" -> (q97 _),
    "q98_filter_audit" -> (q98 _),
    "q99_corr_matrix" -> (q99 _),
    "q100_concat_align" -> (q100 _),
    "q101_string_ops" -> (q101 _),
    "q102_recode" -> (q102 _),
    "q103_sample_n" -> (q103 _),
    "q104_fuzzy_pairs" -> (q104 _),
    "q105_cross_merge" -> (q105 _),
    "q106_approx_topk" -> (q106 _),
    "q107_ohlc" -> (q107 _),
    "q108_scaling" -> (q108 _),
    "q109_onehot" -> (q109 _),
    "q110_time_weighted_avg" -> (q110 _),
    "q111_upsample_ffill" -> (q111 _),
    "q112_rolling_zscore" -> (q112 _),
    "q113_collect_set" -> (q113 _),
    "q114_anti_join" -> (q114 _),
    "q115_weighted_avg" -> (q115 _),
    "q116_global_rank" -> (q116 _),
    "q117_bigram_counts" -> (q117 _),
    "q118_source_overlap" -> (q118 _),
    "q119_crosstab_norm" -> (q119 _),
    "q120_datetime_roundtrip" -> (q120 _),
    "q121_calendar" -> (q121 _),
    "q122_mad" -> (q122 _),
    "q123_data_quality" -> (q123 _),
    "q124_transitions" -> (q124 _),
    "q125_drawdown" -> (q125 _),
    "q126_streaks" -> (q126 _),
    "q127_ab_lift" -> (q127 _),
    "q128_sparse_topk" -> (q128 _),
    "q129_qcut" -> (q129 _),
    "q130_curation_pipeline" -> (q130 _),
    "q131_pivot_multi" -> (q131 _),
    "q132_regex_extract" -> (q132 _),
    "q133_split" -> (q133 _),
    "q134_psi_drift" -> (q134 _),
    "q135_cumcount_ngroup" -> (q135 _),
    "q136_weighted_median" -> (q136 _),
    "q137_rolling_active" -> (q137 _),
    "q138_gini" -> (q138 _),
    "q139_entropy" -> (q139 _),
    "q140_chi2" -> (q140 _),
    "q141_lag_features" -> (q141 _),
    "q142_target_encoding" -> (q142 _),
    "q143_daily_streak" -> (q143 _),
    "q144_quantile_drift" -> (q144 _),
    "q145_top_bigrams_by_source" -> (q145 _),
    "q146_nullsafe_join" -> (q146 _),
    "q147_spend_pct_rank" -> (q147 _),
    "q148_adoption_curve" -> (q148 _),
    "q149_dup_ngram_frac" -> (q149 _),
    "q150_exact_heavy_hitters" -> (q150 _),
    "q151_bloom_semijoin" -> (q151 _),
    "q152_cube" -> (q152 _),
    "q153_merge_upsert" -> (q153 _),
    "q154_pq_topk" -> (q154 _),
    "q155_ivfpq_topk" -> (q155 _),
    "q156_hybrid_rrf" -> (q156 _),
    "q157_group_ols" -> (q157 _),
    "q158_revenue_deciles" -> (q158 _),
    "q159_validated_join" -> (q159 _),
    "q160_group_filter" -> (q160 _),
    "q161_session_window" -> (q161 _),
    "q162_factorize" -> (q162 _),
    "q163_merge_ordered" -> (q163 _),
    "q164_type_drift" -> (q164 _),
    "q165_dedup_survivors" -> (q165 _),
    "q166_minhash_survivors" -> (q166 _),
    "q167_decontaminated" -> (q167 _),
    "q168_global_cumsum" -> (q168 _),
    "q169_ewm_cov" -> (q169 _),
    "q170_audio_decode" -> (q170 _),
    "q171_rolling_table" -> (q171 _),
    "q172_global_cummax" -> (q172 _),
    "q173_minhash_ingest" -> (q173 _),
    "q174_semantic_dedup" -> (q174 _),
    "q175_semantic_dedup_blocked" -> (q175 _),
    "q176_video_decode" -> (q176 _),
    "q177_embed_ingest" -> (q177 _),
    "q178_distinct_scalable" -> (q178 _),
    "q179_cdc_log_fold" -> (q179 _),
    "q180_cdc_time_travel" -> (q180 _),
    "q181_dup_spans" -> (q181 _),
    "q182_remove_dup_spans" -> (q182 _),
    "q183_expanding_fold" -> (q183 _),
    "q184_hash_split" -> (q184 _),
    "q185_seeded_shuffle" -> (q185 _),
    "q186_simhash_neardup" -> (q186 _),
    "q187_zorder_box" -> (q187 _),
    "q188_bpe_pair_counts" -> (q188 _),
    "q189_kn_bigram_lm" -> (q189 _),
    "q190_doc_perplexity" -> (q190 _),
    "q191_dsir_weights" -> (q191 _),
    "q192_weighted_sample_k" -> (q192 _),
    "q193_cms_frequencies" -> (q193 _),
    "q194_lr_quality_score" -> (q194 _),
    "q195_group_weighted_sample" -> (q195 _),
    "q196_centroid_outliers" -> (q196 _),
    "q197_bpe_encode" -> (q197 _),
    "q198_pagerank_canonical" -> (q198 _),
    "q199_lsh_multiprobe" -> (q199 _),
    "q200_mixture_schedule" -> (q200 _),
    "q201_gopher_rules" -> (q201 _),
    "q202_c4_line_filter" -> (q202 _),
    "q203_triangle_stats" -> (q203 _),
    "q204_html_extract" -> (q204 _),
    "q205_pii_audit" -> (q205 _),
    "q206_ppr_relevance" -> (q206 _),
    "q207_image_neardup" -> (q207 _),
    "q208_unigram_encode" -> (q208 _),
    "q209_bpe_mixture" -> (q209 _),
    "q210_web_pipeline" -> (q210 _),
    "q211_audio_neardup" -> (q211 _),
    "q212_image_dhash" -> (q212 _),
    "q213_semantic_decontam" -> (q213 _),
    "q214_bm25_topk" -> (q214 _),
    "q215_video_neardup" -> (q215 _),
    "q216_bm25_probe_many" -> (q216 _),
    "q217_audio_fingerprint" -> (q217 _),
    "q218_video_fingerprint" -> (q218 _),
    "q219_sq_topk" -> (q219 _),
    "q220_sq_probe_index" -> (q220 _),
    "q221_sq_probe_many" -> (q221 _),
    "q222_video_neardup_twin" -> (q222 _),
    "q223_bm25_append_probe" -> (q223 _),
    "q224_sq_append_probe" -> (q224 _),
    "q225_best_survivors" -> (q225 _),
    "q226_ivfpq_probe_many" -> (q226 _),
    "q227_scored_survivors_scalable" -> (q227 _),
    "q228_ivfpq_append_probe" -> (q228 _),
    "q229_sq_drift" -> (q229 _),
    "q230_ivf_occupancy_drift" -> (q230 _),
    "q231_minhash_planted_twin" -> (q231 _),
    "q232_emb_lsh_planted_twin" -> (q232 _)
  )

  /** DuckDB oracles — column names must match the Spark results exactly. */
  def oracleSql: Map[String, String] = Map(
    "q01_row_apply" ->
      """SELECT l_orderkey, l_linenumber,
         sin(l_quantity*l_quantity)+sin(l_discount*l_discount) AS v
         FROM lineitem""",
    "q02_col_reduce" ->
      """SELECT max(l_quantity)-min(l_quantity) AS range_l_quantity,
         max(l_extendedprice)-min(l_extendedprice) AS range_l_extendedprice,
         max(l_discount)-min(l_discount) AS range_l_discount,
         max(l_tax)-min(l_tax) AS range_l_tax
         FROM lineitem""",
    "q03_applymap" ->
      """SELECT p_partkey,
         sin(p_size*p_size)-cos(p_size*p_size) AS m_p_size,
         sin(p_retailprice*p_retailprice)-cos(p_retailprice*p_retailprice)
           AS m_p_retailprice
         FROM part""",
    "q04_series_map" ->
      """SELECT l_orderkey, l_linenumber,
         log10(sqrt(exp(l_discount*l_discount))) AS v
         FROM lineitem""",
    "q05_series_apply_args" ->
      """SELECT l_orderkey, l_linenumber,
         log10(sqrt(exp(pow(l_discount, 2)))) + 3.0 AS v
         FROM lineitem""",
    "q06_group_scalar" ->
      """SELECT l_returnflag,
         avg(log10(sqrt(exp(l_discount*l_discount)))) AS v
         FROM lineitem GROUP BY l_returnflag""",
    "q07_group_stats" ->
      """SELECT o_orderpriority,
         avg(o_totalprice) AS avg_price,
         min(o_totalprice) AS min_price,
         max(o_totalprice) AS max_price
         FROM orders GROUP BY o_orderpriority""",
    "q08_group_multikey" ->
      """SELECT l_returnflag, l_linestatus,
         avg(log10(sqrt(exp(l_discount*l_discount)))) AS v
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q09_rolling" ->
      """SELECT event_id,
         CASE WHEN row_number() OVER w >= 4 THEN
           lag(value,3) OVER w + pow(lag(value,2) OVER w, 2)
           + pow(lag(value,1) OVER w, 3) + pow(value, 4) END AS v
         FROM events WINDOW w AS (ORDER BY event_id)""",
    "q10_grouped_rolling" ->
      """SELECT user_id, event_id,
         CASE WHEN row_number() OVER w >= 4 THEN
           lag(value,3) OVER w + pow(lag(value,2) OVER w, 2)
           + pow(lag(value,1) OVER w, 3) + pow(value, 4) END AS v
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""",
    "q11_grouped_expanding" ->
      """SELECT user_id, event_id,
         sum(value) OVER (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_value
         FROM events""",
    "q12_composition" ->
      """SELECT n_name,
         round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1996-01-01'
         GROUP BY n_name""",
    "q13_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
         FROM documents GROUP BY md5(text)""",
    "q16_ngram_jaccard" ->
      """WITH norm AS (
           SELECT doc_id, n_chars,
                  lower(regexp_replace(trim(text),'\s+',' ','g')) AS t
           FROM documents
         ), sz AS (
           SELECT n_chars AS blk FROM documents
           GROUP BY 1 HAVING count(*) <= 256
         ), p AS (
           SELECT doc_id,
                  n_chars AS blk,
                  list_distinct([t[i:i+2] for i in range(1, len(t)-1)]) AS sh
           FROM norm
           WHERE n_chars IN (SELECT blk FROM sz)
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                len(list_intersect(a.sh,b.sh))::DOUBLE
                  / len(list_distinct(a.sh || b.sh)) AS jaccard
         FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
                 / len(list_distinct(a.sh || b.sh)) > 0.2""",
    "q17_cosine_scores" ->
      """SELECT vec_id AS id,
         list_cosine_similarity(embedding::DOUBLE[],
           (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id=0)) AS sim
         FROM embeddings""",
    "q19_text_stats" ->
      """SELECT doc_id,
         CASE WHEN trim(text)='' THEN 0
              ELSE len(string_split_regex(trim(text),'\s+')) END AS n_tokens,
         CASE WHEN length(text)=0 THEN 0.0
              ELSE round((length(text)-length(regexp_replace(text,
                '[!-/:-@\[-`{-~]','','g')))::DOUBLE/length(text),6)
              END AS punct_ratio,
         CASE WHEN length(text)=0 THEN 0.0
              ELSE round((length(text)-length(regexp_replace(text,
                '[0-9]','','g')))::DOUBLE/length(text),6)
              END AS digit_ratio
         FROM documents""",
    "q20_lang_id" ->
      """WITH tok AS (
           SELECT doc_id,
             CASE WHEN trim(text)='' THEN []::VARCHAR[]
                  ELSE string_split_regex(lower(trim(text)),'\s+') END AS tk
           FROM documents
         ), r AS (
           SELECT doc_id,
             CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN
               ('the','a','of','and','to','in','is','that')))::DOUBLE/len(tk)
               END AS s_en,
             CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN
               ('le','la','de','et','les','des','un','une')))::DOUBLE/len(tk)
               END AS s_fr,
             CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN
               ('der','die','das','und','ist','ein','mit','von')))::DOUBLE/len(tk)
               END AS s_de,
             CASE WHEN len(tk)=0 THEN 0.0 ELSE len(list_filter(tk, x -> x IN
               ('el','la','de','y','los','que','un','una')))::DOUBLE/len(tk)
               END AS s_es
           FROM tok
         )
         SELECT doc_id,
           CASE WHEN greatest(s_en,s_fr,s_de,s_es) = 0.0 THEN 'und'
                WHEN s_en = greatest(s_en,s_fr,s_de,s_es) THEN 'en'
                WHEN s_fr = greatest(s_en,s_fr,s_de,s_es) THEN 'fr'
                WHEN s_de = greatest(s_en,s_fr,s_de,s_es) THEN 'de'
                ELSE 'es' END AS lang_pred
         FROM r""",
    "q21_quality_score" ->
      """WITH q AS (
           SELECT doc_id, length(text) AS n,
             CASE WHEN length(text)=0 THEN 0.0
                  ELSE (length(text)-length(regexp_replace(text,
                    '[!-/:-@\[-`{-~]','','g')))::DOUBLE/length(text)
                  END AS pr,
             CASE WHEN length(text)=0 THEN 0.0
                  ELSE (length(text)-length(regexp_replace(text,
                    '[0-9]','','g')))::DOUBLE/length(text)
                  END AS dr
           FROM documents
         )
         SELECT doc_id,
           round(least(n::DOUBLE/200.0, 1.0)*0.5
                 + (1.0 - least((pr+dr)*4.0, 1.0))*0.5, 6) AS quality
         FROM q""",
    "q22_fingerprint" ->
      """SELECT doc_id,
         md5(lower(regexp_replace(trim(text),'\s+',' ','g'))) AS fp
         FROM documents""",
    "q23_event_buckets" ->
      """SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket,
         event_type, count(*) AS n, round(sum(value),4) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q25_asof_join" ->
      """WITH r AS (
           SELECT o_custkey AS user_id, o_orderdate,
                  max(o_orderkey) AS o_orderkey,
                  max_by(o_totalprice, o_orderkey) AS o_totalprice
           FROM orders GROUP BY 1, 2
         )
         SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.user_id AND e.ts >= r.o_orderdate""",
    "q26_sessionize" ->
      """WITH b AS (
           SELECT event_id, user_id, ts,
             CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts) > 1800000000000
                  THEN 1 ELSE 0 END AS brk
           FROM events
         )
         SELECT event_id, user_id,
           CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
         FROM b""",
    "q27_group_percentiles" ->
      """SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.25) AS p25,
         quantile_cont(o_totalprice, 0.5) AS p50,
         quantile_cont(o_totalprice, 0.75) AS p75
         FROM orders GROUP BY o_orderpriority""",
    "q28_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE CASE WHEN lang = 'en'
           THEN CAST(('0x' || substr(md5(text),1,2)) AS INTEGER) < 64
           ELSE CAST(('0x' || substr(md5(text),1,2)) AS INTEGER) < 128 END""",
    "q29_vocabulary" ->
      """SELECT tok AS term, count(*) AS total_count,
                count(DISTINCT doc_id) AS doc_freq
         FROM (SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)),'\s+')) AS tok
               FROM documents WHERE trim(text) <> '')
         GROUP BY tok""",
    "q30_rolling_scalable" ->
      """SELECT event_id,
         CASE WHEN row_number() OVER w >= 4 THEN
           lag(value,3) OVER w + pow(lag(value,2) OVER w, 2)
           + pow(lag(value,1) OVER w, 3) + pow(value, 4) END AS v
         FROM events WINDOW w AS (ORDER BY event_id)""",
    "q31_ivf_centroids" ->
      """SELECT label AS cluster, u.p AS pos, avg(u.x) AS v FROM (
           SELECT label,
             unnest([{'p': i - 1, 'x': CAST(embedding[i] AS DOUBLE)}
                     for i in range(1, len(embedding) + 1)]) AS u
           FROM embeddings)
         GROUP BY 1, 2""",
    "q33_tfidf" ->
      """WITH t AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
           FROM documents WHERE trim(text) <> ''
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
         ), df AS (
           SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1
         )
         SELECT tf.doc_id, tf.term,
           round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df.df), 6)
             AS tfidf
         FROM tf JOIN df USING (term)""",
    "q34_distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
         FROM events GROUP BY event_type""",
    "q35_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q36_chunking" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN trim(text)='' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text),'\s+') END AS tk
           FROM documents
         )
         SELECT doc_id, u.idx, u.chunk, u.n_tokens FROM (
           SELECT doc_id,
             unnest([{'idx': j,
                      'chunk': array_to_string(tk[j*24+1 : j*24+32], ' '),
                      'n_tokens': len(tk[j*24+1 : j*24+32])}
                     for j in range(0,
                       greatest(CAST(ceil((len(tk)-8)/24.0) AS INT), 1))]) AS u
           FROM t WHERE len(tk) > 0)""",
    "q37_rolling_center" ->
      """SELECT user_id, event_id,
         CASE WHEN count(value) OVER w >= 3 THEN round(avg(value) OVER w, 5) END
           AS v
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)""",
    "q38_rolling_closed" ->
      """SELECT user_id, event_id,
         CASE WHEN count(value) OVER w >= 3 THEN sum(value) OVER w END AS v
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)""",
    "q39_expanding_minp" ->
      """SELECT user_id, event_id,
         CASE WHEN count(value) OVER w >= 5 THEN
           floor((200*sum(CAST(round(value*100) AS BIGINT)) OVER w
                  + count(value) OVER w)
                 / (2*count(value) OVER w)) / 10000.0 END
           AS cum_avg
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "q40_rolling_wintype" ->
      """SELECT user_id, event_id,
         CASE WHEN row_number() OVER wb >= 4 THEN
           (0.25*lag(value,3) OVER wb + 0.75*lag(value,2) OVER wb
            + 0.75*lag(value,1) OVER wb + 0.25*value) / 2.0 END AS v
         FROM events WINDOW wb AS (PARTITION BY user_id ORDER BY event_id)""",
    "q41_range_join" ->
      """WITH bands AS (
           SELECT CAST(i AS INTEGER) AS band, i*5000.0 AS lo,
                  i*5000.0 + 12000.0 AS hi
           FROM range(0, 120) t(i)
         )
         SELECT band, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
         FROM orders JOIN bands
           ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY band""",
    "q42_rolling_range" ->
      """SELECT user_id, event_id,
         count(value) OVER w AS n_24h,
         CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) / 100.0
           AS v_24h
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
           RANGE BETWEEN 86399999999999 PRECEDING AND CURRENT ROW)""",
    "q43_approx_percentiles" ->
      """SELECT o_orderpriority,
         quantile_disc(o_totalprice, 0.25) AS p25,
         quantile_disc(o_totalprice, 0.5) AS p50,
         quantile_disc(o_totalprice, 0.75) AS p75
         FROM orders GROUP BY o_orderpriority""",
    "q45_cogroup" ->
      """SELECT o_orderkey, o_totalprice,
         count(l_orderkey) AS n_lines,
         CAST(coalesce(sum(CAST(round(l_quantity*100) AS BIGINT)), 0)
              AS BIGINT) / 100.0 AS sum_qty
         FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderkey, o_totalprice""",
    "q46_repetition" ->
      """WITH tk AS (
           SELECT doc_id,
             CASE WHEN trim(text)='' THEN []
                  ELSE string_split_regex(trim(text), '\s+') END AS t
           FROM documents),
         bc AS (
           SELECT doc_id, bigram, count(*) AS c FROM (
             SELECT doc_id,
               unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
                 AS bigram
             FROM tk WHERE len(t) >= 2)
           GROUP BY doc_id, bigram),
         top AS (
           SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS f
           FROM bc GROUP BY doc_id)
         SELECT tk.doc_id,
           CASE WHEN len(t) = 0 THEN 0.0
                ELSE round(1.0 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 6)
           END AS rep_ratio,
           coalesce(top.f, 0.0) AS top_bigram_frac
         FROM tk LEFT JOIN top ON tk.doc_id = top.doc_id""",
    "q47_group_cap" ->
      """WITH r AS (
           SELECT doc_id, lang,
             CASE WHEN trim(text)='' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
           FROM documents),
         w AS (
           SELECT doc_id, lang, n_tokens,
             row_number() OVER (PARTITION BY lang
               ORDER BY n_tokens DESC, doc_id ASC) AS rn
           FROM r)
         SELECT doc_id, lang, n_tokens FROM w WHERE rn <= 25""",
    "q48_rank_transforms" ->
      """SELECT user_id, event_id,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd,
         CAST(ntile(10) OVER w AS INTEGER) AS decile
         FROM events WINDOW w AS (PARTITION BY user_id
           ORDER BY value, event_id)""",
    "q49_pivot" ->
      """SELECT user_id,
         count(CASE WHEN event_type='click' THEN 1 END) AS click,
         count(CASE WHEN event_type='error' THEN 1 END) AS error,
         count(CASE WHEN event_type='purchase' THEN 1 END) AS purchase,
         count(CASE WHEN event_type='signup' THEN 1 END) AS signup,
         count(CASE WHEN event_type='view' THEN 1 END) AS view
         FROM events GROUP BY user_id""",
    "q50_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
              l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
         FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""",
    "q51_incremental_dedup" ->
      """WITH seen AS (
           SELECT DISTINCT md5(lower(regexp_replace(trim(text),'\s+',' ','g')))
             AS fp
           FROM documents WHERE doc_id < 250)
         SELECT doc_id FROM documents d
         WHERE doc_id >= 250
           AND NOT EXISTS (SELECT 1 FROM seen
             WHERE seen.fp =
               md5(lower(regexp_replace(trim(d.text),'\s+',' ','g'))))""",
    "q52_setops" ->
      """SELECT l_orderkey FROM lineitem WHERE l_discount >= 0.08
         INTERSECT
         SELECT l_orderkey FROM lineitem WHERE l_tax <= 0.02
         EXCEPT
         SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'""",
    "q53_rolling_gaussian" ->
      """SELECT user_id, event_id,
         CASE WHEN row_number() OVER wb >= 5 THEN
           (exp(-0.5*pow((0-2.0)/1.5,2))*lag(value,4) OVER wb
            + exp(-0.5*pow((1-2.0)/1.5,2))*lag(value,3) OVER wb
            + exp(-0.5*pow((2-2.0)/1.5,2))*lag(value,2) OVER wb
            + exp(-0.5*pow((3-2.0)/1.5,2))*lag(value,1) OVER wb
            + exp(-0.5*pow((4-2.0)/1.5,2))*value)
           / (exp(-0.5*pow((0-2.0)/1.5,2)) + exp(-0.5*pow((1-2.0)/1.5,2))
              + exp(-0.5*pow((2-2.0)/1.5,2)) + exp(-0.5*pow((3-2.0)/1.5,2))
              + exp(-0.5*pow((4-2.0)/1.5,2))) END AS v
         FROM events WINDOW wb AS (PARTITION BY user_id ORDER BY event_id)""",
    "q54_decontamination" ->
      """WITH norm AS (
           SELECT doc_id,
                  lower(regexp_replace(trim(text),'\s+',' ','g')) AS t
           FROM documents),
         bench AS (
           SELECT DISTINCT unnest(
             list_distinct([t[i:i+2] for i in range(1, len(t)-1)])) AS sh
           FROM norm WHERE doc_id < 50),
         tr AS (
           SELECT doc_id, unnest(
             list_distinct([t[i:i+2] for i in range(1, len(t)-1)])) AS sh
           FROM norm WHERE doc_id >= 50)
         SELECT tr.doc_id, count(*) AS n_shared
         FROM tr JOIN bench USING (sh)
         GROUP BY tr.doc_id
         HAVING count(*) >= 10""",
    "q44_rolling_hamming" ->
      """SELECT user_id, event_id,
         CASE WHEN row_number() OVER wb >= 4 THEN
           ((0.54-0.46*cos(2*pi()*0/3))*lag(value,3) OVER wb
            + (0.54-0.46*cos(2*pi()*1/3))*lag(value,2) OVER wb
            + (0.54-0.46*cos(2*pi()*2/3))*lag(value,1) OVER wb
            + (0.54-0.46*cos(2*pi()*3/3))*value)
           / ((0.54-0.46*cos(2*pi()*0/3)) + (0.54-0.46*cos(2*pi()*1/3))
              + (0.54-0.46*cos(2*pi()*2/3)) + (0.54-0.46*cos(2*pi()*3/3)))
           END AS v
         FROM events WINDOW wb AS (PARTITION BY user_id ORDER BY event_id)""",
    "q55_expanding_apply" ->
      """SELECT user_id, event_id,
         CASE WHEN count(value) OVER w >= 5 THEN
           sum(rn * CAST(round(value*100) AS BIGINT)) OVER w / 100.0
         END AS wsum
         FROM (SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY event_id)
                   AS rn
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    // q183 = q55's fold twin: identical semantics, so identical oracle
    "q183_expanding_fold" ->
      """SELECT user_id, event_id,
         CASE WHEN count(value) OVER w >= 5 THEN
           sum(rn * CAST(round(value*100) AS BIGINT)) OVER w / 100.0
         END AS wsum
         FROM (SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY event_id)
                   AS rn
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    // cuts 52429/58982 = round(0.8*65536)/round(0.9*65536), hardcoded in
    // both engines so no float-rounding drift can split them
    "q184_hash_split" ->
      """SELECT doc_id,
         CASE WHEN b < 52429 THEN 'train'
              WHEN b < 58982 THEN 'val'
              ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(text || 'r8'),1,4)) AS INTEGER) AS b
               FROM documents)""",
    "q185_seeded_shuffle" ->
      """SELECT doc_id,
         CAST(CAST(('0x' || substr(kk,1,8)) AS BIGINT) % 8 AS INTEGER)
           AS shard,
         CAST(row_number() OVER (
             PARTITION BY CAST(('0x' || substr(kk,1,8)) AS BIGINT) % 8
             ORDER BY kk, doc_id) - 1 AS INTEGER) AS pos
         FROM (SELECT doc_id, md5(text || 'r8') AS kk FROM documents)""",
    // q186: full replay of the banded SimHash pair stage over the
    // planted closed-form corpus (simHashPlantedSigs' arithmetic,
    // verbatim, as (hi, lo) 32-bit halves — DuckDB BIGINT << overflows
    // past bit 62, the q222 split). Engine pairs = representative
    // pairs sharing >= 1 of 4 16-bit bands with popcount <= 3;
    // pigeonhole (3 < 4 bands) makes banding EXACT and every bucket
    // holds <= 8 same-family variants (far under the 256 cap), so the
    // replay is simply every min-id-representative pair at Hamming
    // distance <= 3.
    "q186_simhash_neardup" ->
      """WITH px AS (
           SELECT doc_id,
             CAST(doc_id % 25 AS BIGINT) AS p,
             CAST((doc_id // 25) % 8 AS BIGINT) AS v
           FROM documents),
         pv AS (SELECT DISTINCT p, v FROM px),
         flips AS (
           SELECT DISTINCT p, v, (7*p + 13*v + 29*j.i) % 64 AS k
           FROM pv, range(3) j(i)
           WHERE j.i < v % 4),
         bitset AS (
           SELECT pv.p, pv.v, k.i AS k,
             (((23*pv.p + 41*k.i) % 89) < 44) AS baseb,
             (f.k IS NOT NULL) AS flipb
           FROM pv
           CROSS JOIN range(64) k(i)
           LEFT JOIN flips f ON f.p = pv.p AND f.v = pv.v AND f.k = k.i),
         sig AS (
           SELECT p, v,
             coalesce(SUM(CASE WHEN k >= 32 AND (baseb <> flipb)
               THEN CAST(1 AS BIGINT) << (k - 32) END), 0) AS h,
             coalesce(SUM(CASE WHEN k < 32 AND (baseb <> flipb)
               THEN CAST(1 AS BIGINT) << k END), 0) AS l
           FROM bitset GROUP BY p, v),
         docsig AS (
           SELECT px.doc_id, s.h, s.l
           FROM px JOIN sig s ON s.p = px.p AND s.v = px.v),
         nodes AS (
           SELECT h, l, MIN(doc_id) AS id FROM docsig GROUP BY h, l)
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.h, b.h)) + bit_count(xor(a.l, b.l))
             AS INTEGER) AS hamming
         FROM nodes a JOIN nodes b ON a.id < b.id
         WHERE bit_count(xor(a.h, b.h)) + bit_count(xor(a.l, b.l)) <= 3
         ORDER BY id_a, id_b""",
    // layout changes IO, never results: the oracle runs the same box
    // query on the ORIGINAL lineitem table (q187 reads the z-ordered
    // copy; ZOrderSpec owns the file-skipping evidence)
    "q187_zorder_box" ->
      """SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
             AS sum_price
         FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 15
           AND l_extendedprice BETWEEN 20000 AND 30000
         GROUP BY 1""",
    // one BPE round: word-frequency vocab, then weighted adjacent
    // char-pair counts (the iterated trainer is sequential by nature;
    // BpeSpec differentials it against a reference implementation)
    "q188_bpe_pair_counts" ->
      """WITH wd AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           FROM documents WHERE trim(text) <> ''),
         v AS (SELECT w, count(*) AS n FROM wd GROUP BY 1),
         p AS (
           SELECT unnest([w[i] || ' ' || w[i+1]
                          for i in generate_series(1, len(w) - 1)]) AS pair,
                  n
           FROM v)
         SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM p
         GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 50""",
    // interpolated Kneser-Ney, single discount 0.75:
    // P(w|u) = max(c_uw - d, 0)/c_u + d*n1u/c_u * n1w/B
    // (c_u = sum_w c_uw; n1u/n1w = distinct followers/predecessors;
    // B = #distinct bigrams). Same counting CTEs both engines.
    "q189_kn_bigram_lm" ->
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents WHERE trim(text) <> ''),
         pairs AS (
           SELECT doc_id,
                  unnest([{'u': t[i], 'w': t[i+1]}
                          for i in generate_series(1, len(t) - 1)]) AS pw
           FROM tk WHERE len(t) >= 2),
         bc AS (
           SELECT pw.u AS u, pw.w AS w, count(*) AS c_uw
           FROM pairs GROUP BY 1, 2),
         cu AS (SELECT u, sum(c_uw) AS c_u, count(*) AS n1u FROM bc GROUP BY 1),
         cw AS (SELECT w, count(*) AS n1w FROM bc GROUP BY 1),
         bt AS (SELECT count(*) AS b FROM bc)
         SELECT u, w, CAST(c_uw AS BIGINT) AS c_uw,
                greatest(c_uw - 0.75, 0) / c_u
                  + (0.75 * n1u / c_u) * (n1w / b) AS p
         FROM bc JOIN cu USING (u) JOIN cw USING (w) CROSS JOIN bt
         WHERE c_uw >= 5""",
    "q190_doc_perplexity" ->
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents WHERE trim(text) <> ''),
         pairs AS (
           SELECT doc_id,
                  unnest([{'u': t[i], 'w': t[i+1]}
                          for i in generate_series(1, len(t) - 1)]) AS pw
           FROM tk WHERE len(t) >= 2),
         bc AS (
           SELECT pw.u AS u, pw.w AS w, count(*) AS c_uw
           FROM pairs GROUP BY 1, 2),
         cu AS (SELECT u, sum(c_uw) AS c_u, count(*) AS n1u FROM bc GROUP BY 1),
         cw AS (SELECT w, count(*) AS n1w FROM bc GROUP BY 1),
         bt AS (SELECT count(*) AS b FROM bc),
         lm AS (
           SELECT u, w,
                  greatest(c_uw - 0.75, 0) / c_u
                    + (0.75 * n1u / c_u) * (n1w / b) AS p
           FROM bc JOIN cu USING (u) JOIN cw USING (w) CROSS JOIN bt)
         SELECT pairs.doc_id,
                CAST(count(*) AS BIGINT) AS n_bigrams,
                exp(-avg(ln(p))) AS ppl
         FROM pairs JOIN lm ON pw.u = lm.u AND pw.w = lm.w
         GROUP BY 1""",
    // same md5-bucket grammar as q184/q185; Laplace alpha=1 over 1024
    // buckets; target = doc_id < 50 (q167's bench-set convention)
    "q191_dsir_weights" ->
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents WHERE trim(text) <> ''),
         pairs AS (
           SELECT doc_id,
                  unnest([t[i] || ' ' || t[i+1]
                          for i in generate_series(1, len(t) - 1)]) AS pw
           FROM tk WHERE len(t) >= 2),
         bk AS (
           SELECT doc_id,
                  CAST(CAST(('0x' || substr(md5(pw), 1, 4)) AS BIGINT) % 1024
                    AS INTEGER) AS bucket
           FROM pairs),
         rawc AS (SELECT bucket, count(*) AS c FROM bk
                  WHERE doc_id >= 50 GROUP BY 1),
         tgtc AS (SELECT bucket, count(*) AS c FROM bk
                  WHERE doc_id < 50 GROUP BY 1),
         rt AS (SELECT COALESCE(sum(c), 0) AS t FROM rawc),
         tt AS (SELECT COALESCE(sum(c), 0) AS t FROM tgtc),
         buckets AS (SELECT CAST(range AS INTEGER) AS bucket FROM range(1024)),
         ratio AS (
           SELECT b.bucket,
                  ln((COALESCE(tc.c, 0) + 1.0) / (tt.t + 1024.0))
                - ln((COALESCE(rc.c, 0) + 1.0) / (rt.t + 1024.0)) AS lr
           FROM buckets b
           LEFT JOIN rawc rc USING (bucket)
           LEFT JOIN tgtc tc USING (bucket)
           CROSS JOIN rt CROSS JOIN tt),
         docb AS (
           SELECT doc_id, bucket, count(*) AS c FROM bk
           WHERE doc_id >= 50 GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                sum(c * lr) AS log_w
         FROM docb JOIN ratio USING (bucket) GROUP BY 1""",
    // replays the Efraimidis–Spirakis key bit-for-bit: same 52-bit md5
    // uniform, same -ln(u)/w, same doc_id tiebreak at the k boundary
    "q192_weighted_sample_k" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS w
         FROM (
           SELECT doc_id, text,
                  -ln((CAST(CAST(('0x' || substr(md5(text || 'r8s'), 1, 13))
                              AS BIGINT) AS DOUBLE) + 0.5)
                      / 4503599627370496.0)
                    / CAST(length(text) AS DOUBLE) AS esk
           FROM documents WHERE length(text) > 0)
         ORDER BY esk, doc_id LIMIT 100""",
    "q195_group_weighted_sample" ->
      """SELECT source, doc_id, CAST(length(text) AS BIGINT) AS w
         FROM (
           SELECT source, doc_id, text,
                  row_number() OVER (PARTITION BY source ORDER BY
                    -ln((CAST(CAST(('0x' || substr(md5(text || 'r8g'), 1, 13))
                                AS BIGINT) AS DOUBLE) + 0.5)
                        / 4503599627370496.0)
                      / CAST(length(text) AS DOUBLE), doc_id) AS rn
           FROM documents WHERE length(text) > 0)
         WHERE rn <= 5""",
    // centroid = per-(label, dim) avg reassembled in dim order; DuckDB's
    // list_cosine_similarity loops in the same order with double
    // accumulators, so the values agree bit-for-bit pre-round
    "q196_centroid_outliers" ->
      """WITH e AS (
           SELECT vec_id, label, embedding::DOUBLE[] AS emb
           FROM embeddings),
         x AS (
           SELECT label, unnest(emb) AS val,
                  unnest(generate_series(1, len(emb))) AS ord
           FROM e),
         c AS (SELECT label, ord, avg(val) AS m FROM x GROUP BY 1, 2),
         cent AS (
           SELECT label, list(m ORDER BY ord) AS cvec FROM c GROUP BY 1)
         SELECT e.vec_id, e.label,
                round(list_cosine_similarity(e.emb, cent.cvec), 6) AS cos_c
         FROM e JOIN cent USING (label)""",
    "q56_neardup_components" ->
      """WITH RECURSIVE norm AS (
           SELECT doc_id, n_chars,
                  lower(regexp_replace(trim(text),'\s+',' ','g')) AS t
           FROM documents
         ), sz AS (
           SELECT n_chars AS blk FROM documents
           GROUP BY 1 HAVING count(*) <= 256
         ), p AS (
           SELECT doc_id,
                  n_chars AS blk,
                  list_distinct([t[i:i+2] for i in range(1, len(t)-1)]) AS sh
           FROM norm
           WHERE n_chars IN (SELECT blk FROM sz)
         ), pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
                   / len(list_distinct(a.sh || b.sh)) > 0.2
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b, id_a FROM pairs
         ), reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
         )
         SELECT id, min(r) AS component FROM reach GROUP BY id""",
    "q58_weighted_closed" ->
      """SELECT user_id, event_id,
         CASE WHEN row_number() OVER wb >= 5 THEN
           (0.25*lag(value,4) OVER wb + 0.75*lag(value,3) OVER wb
            + 0.75*lag(value,2) OVER wb + 0.25*lag(value,1) OVER wb) / 2.0
         END AS v
         FROM events WINDOW wb AS (PARTITION BY user_id ORDER BY event_id)""",
    "q59_rolling_blackman" ->
      """SELECT user_id, event_id,
         CASE WHEN row_number() OVER wb >= 5 THEN
           ((0.42-0.5*cos(2*pi()*0/4)+0.08*cos(4*pi()*0/4))*lag(value,4) OVER wb
            + (0.42-0.5*cos(2*pi()*1/4)+0.08*cos(4*pi()*1/4))*lag(value,3) OVER wb
            + (0.42-0.5*cos(2*pi()*2/4)+0.08*cos(4*pi()*2/4))*lag(value,2) OVER wb
            + (0.42-0.5*cos(2*pi()*3/4)+0.08*cos(4*pi()*3/4))*lag(value,1) OVER wb
            + (0.42-0.5*cos(2*pi()*4/4)+0.08*cos(4*pi()*4/4))*value)
           / ((0.42-0.5*cos(2*pi()*0/4)+0.08*cos(4*pi()*0/4))
              + (0.42-0.5*cos(2*pi()*1/4)+0.08*cos(4*pi()*1/4))
              + (0.42-0.5*cos(2*pi()*2/4)+0.08*cos(4*pi()*2/4))
              + (0.42-0.5*cos(2*pi()*3/4)+0.08*cos(4*pi()*3/4))
              + (0.42-0.5*cos(2*pi()*4/4)+0.08*cos(4*pi()*4/4)))
         END AS v
         FROM events WINDOW wb AS (PARTITION BY user_id ORDER BY event_id)""",
    "q60_ewm_mean" ->
      """WITH RECURSIVE e AS (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
           FROM events),
         r(user_id, event_id, rn, ewm) AS (
           SELECT user_id, event_id, rn, value FROM e WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.event_id, e.rn,
                  (1 - 0.1)*r.ewm + 0.1*e.value
           FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
         )
         SELECT user_id, event_id, ewm FROM r""",
    // identical to q54's oracle by design: the bloom prefilter changes the
    // plan, never the result set
    "q61_bloom_decontamination" ->
      """WITH norm AS (
           SELECT doc_id,
                  lower(regexp_replace(trim(text),'\s+',' ','g')) AS t
           FROM documents),
         bench AS (
           SELECT DISTINCT unnest(
             list_distinct([t[i:i+2] for i in range(1, len(t)-1)])) AS sh
           FROM norm WHERE doc_id < 50),
         tr AS (
           SELECT doc_id, unnest(
             list_distinct([t[i:i+2] for i in range(1, len(t)-1)])) AS sh
           FROM norm WHERE doc_id >= 50)
         SELECT tr.doc_id, count(*) AS n_shared
         FROM tr JOIN bench USING (sh)
         GROUP BY tr.doc_id
         HAVING count(*) >= 10""",
    "q62_segment_dedup" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN trim(text)='' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text),'\s+') END AS tk
           FROM documents),
         seg AS (
           SELECT doc_id, j, array_to_string(tk[j*8+1 : j*8+8], ' ') AS s
           FROM (SELECT doc_id, tk,
                   unnest(range(0, CAST(ceil(len(tk)/8.0) AS INT))) AS j
                 FROM t WHERE len(tk) > 0)),
         c AS (SELECT s, count(*) AS n FROM seg GROUP BY s),
         kept AS (
           SELECT seg.doc_id,
             string_agg(seg.s, ' ' ORDER BY seg.j) FILTER (c.n <= 1)
               AS clean_text,
             count(*) FILTER (c.n <= 1) AS n_kept,
             count(*) FILTER (c.n > 1) AS n_dropped
           FROM seg JOIN c USING (s)
           GROUP BY seg.doc_id)
         SELECT t.doc_id, coalesce(kept.clean_text, '') AS clean_text,
           coalesce(kept.n_kept, 0) AS n_kept,
           coalesce(kept.n_dropped, 0) AS n_dropped
         FROM t LEFT JOIN kept USING (doc_id)""",
    "q63_rolling_corr" ->
      """SELECT user_id, event_id,
         CASE WHEN count(*) OVER w >= 10 THEN
           round(corr(value, sin(value)) OVER w, 5) END AS c,
         CASE WHEN count(*) OVER w >= 10 THEN
           round(covar_samp(value, sin(value)) OVER w, 5) END AS cv
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
    // replays ewmVar's delta-form recursions verbatim — see q64 scaladoc
    "q64_ewm_var" ->
      """WITH RECURSIVE e AS (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
           FROM events),
         r(user_id, event_id, rn, mu, v, u) AS (
           SELECT user_id, event_id, rn, value,
                  CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
           FROM e WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.event_id, e.rn,
                  r.mu + 0.2*(e.value - r.mu),
                  (1 - 0.2)*(r.v + 0.2*(e.value - r.mu)*(e.value - r.mu)),
                  (1 - 0.2)*(1 - 0.2)*r.u + 0.2*0.2
           FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
         )
         SELECT user_id, event_id,
           CASE WHEN rn > 1 THEN v/(1 - u) END AS ewm_var,
           CASE WHEN rn > 1 THEN sqrt(v/(1 - u)) END AS ewm_var_std
         FROM r""",
    "q65_interpolate" ->
      """WITH b AS (
           SELECT user_id, event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
           FROM events),
         f AS (
           SELECT user_id, event_id, x, rn,
             last_value(x IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN x IS NOT NULL THEN rn END IGNORE NULLS)
               OVER wb AS pp,
             first_value(x IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN x IS NOT NULL THEN rn END IGNORE NULLS)
               OVER wf AS np
           FROM b
           WINDOW
             wb AS (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, event_id,
           CASE WHEN x IS NOT NULL THEN x
                WHEN pv IS NULL THEN NULL
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) * (rn - pp) / (np - pp) END AS filled,
           coalesce(x, pv) AS filled_ffill,
           coalesce(x, nv) AS filled_bfill
         FROM f""",
    "q66_shift_family" ->
      """SELECT user_id, event_id,
         lag(value, 1) OVER w AS s1,
         value - lag(value, 1) OVER w AS s1_diff,
         CASE WHEN lag(value, 1) OVER w <> 0
           THEN value / lag(value, 1) OVER w - 1 END AS s1_pct,
         lead(value, 1) OVER w AS sm1
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""",
    "q67_winsorize" ->
      """WITH b AS (
           SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
           FROM orders GROUP BY o_orderpriority)
         SELECT o_orderkey, o_orderpriority,
           least(greatest(o_totalprice, lo), hi) AS o_totalprice_wins
         FROM orders JOIN b USING (o_orderpriority)""",
    "q69_json_extract" ->
      """SELECT event_type, count(*) AS n,
         avg(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS avg_k,
         max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
         FROM events GROUP BY event_type""",
    "q70_rolling_median" ->
      """SELECT user_id, event_id,
         CASE WHEN count(value) OVER w >= 7 THEN
           quantile_cont(value, 0.5) OVER w END AS med,
         CASE WHEN count(value) OVER w >= 7 THEN
           quantile_cont(value, 0.25) OVER w END AS p25
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    "q71_rank_methods" ->
      """SELECT user_id, event_id,
         CAST(row_number() OVER wt AS INTEGER) AS r_first,
         CAST(rank() OVER wv AS INTEGER) AS r_min,
         CAST(rank() OVER wv
              + count(*) OVER (PARTITION BY user_id, value) - 1
              AS INTEGER) AS r_max,
         CAST(dense_rank() OVER wv AS INTEGER) AS r_dense,
         rank() OVER wv
           + (count(*) OVER (PARTITION BY user_id, value) - 1) / 2.0
           AS r_avg
         FROM events WINDOW
           wv AS (PARTITION BY user_id ORDER BY value),
           wt AS (PARTITION BY user_id ORDER BY value, event_id)""",
    "q72_describe" ->
      """SELECT o_orderpriority,
         count(o_totalprice) AS n,
         round(avg(o_totalprice), 4) AS mean,
         round(stddev_samp(o_totalprice), 4) AS std,
         min(o_totalprice) AS min,
         quantile_cont(o_totalprice, 0.25) AS p25,
         quantile_cont(o_totalprice, 0.5) AS p50,
         quantile_cont(o_totalprice, 0.75) AS p75,
         max(o_totalprice) AS max
         FROM orders GROUP BY o_orderpriority""",
    "q73_attribution_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
         FROM events c JOIN events p ON c.user_id = p.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
           AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
           AND epoch_ns(p.ts) // 1000
               <= epoch_ns(c.ts) // 1000 + 1800000000""",
    "q74_asof_forward" ->
      """WITH e AS (
           SELECT event_id, user_id, value, event_type,
                  epoch_ns(ts) // 1000 AS t
           FROM events),
         p AS (
           SELECT user_id, t, max(event_id) AS purchase_id,
                  max_by(value, event_id) AS purchase_value
           FROM e WHERE event_type = 'purchase' GROUP BY user_id, t),
         j AS (
           SELECT c.event_id, c.user_id, c.t AS ct,
                  p.purchase_id, p.purchase_value, p.t AS pt
           FROM (SELECT * FROM e WHERE event_type = 'click') c
           ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t <= p.t)
         SELECT event_id, user_id,
           CASE WHEN pt - ct <= 1800000000 THEN purchase_id END
             AS purchase_id,
           CASE WHEN pt - ct <= 1800000000 THEN purchase_value END
             AS purchase_value
         FROM j""",
    "q75_surprisal" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
           FROM documents WHERE trim(text) <> ''),
         tc AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
         tot AS (SELECT count(*)::DOUBLE AS n FROM tok)
         SELECT doc_id,
           round(avg(-ln(c / (SELECT n FROM tot))), 5) AS surprisal
         FROM tok JOIN tc USING (term)
         GROUP BY doc_id""",
    // same raw-moment expression tree as Windows.rollingSkewKurt — only
    // the window-sum association differs (absorbed by round 5)
    "q76_rolling_skew" ->
      """WITH b AS (
           SELECT user_id, event_id,
             count(value) OVER w AS cnt,
             sum(value) OVER w AS s1,
             sum(value*value) OVER w AS s2,
             sum(value*value*value) OVER w AS s3,
             sum(value*value*value*value) OVER w AS s4
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
         c AS (
           SELECT user_id, event_id, cnt,
             CAST(cnt AS DOUBLE) AS n, s1, s2, s3, s4,
             s1/CAST(cnt AS DOUBLE) AS m
           FROM b),
         d AS (
           SELECT *,
             s2/n - m*m AS m2,
             s3/n - 3*m*(s2/n) + 2*m*m*m AS m3,
             s4/n - 4*m*(s3/n) + 6*m*m*(s2/n) - 3*m*m*m*m AS m4,
             n*(s2/n - m*m)/(n-1) AS sv
           FROM c)
         SELECT user_id, event_id,
           CASE WHEN cnt >= 10 AND m2 > 0 THEN
             round(sqrt(n*(n-1))/(n-2)*m3/pow(m2,1.5), 5) END AS v_skew,
           CASE WHEN cnt >= 10 AND m2 > 0 THEN
             round(n*(n+1)/((n-1)*(n-2)*(n-3))*(n*m4)/(sv*sv)
                   - 3*(n-1)*(n-1)/((n-2)*(n-3)), 5) END AS v_kurt
         FROM d""",
    "q77_group_mode" ->
      """WITH x AS (
           SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
           FROM events),
         c AS (SELECT event_type, k, count(*) AS n FROM x GROUP BY 1, 2),
         r AS (
           SELECT event_type, k, n,
             row_number() OVER (PARTITION BY event_type
               ORDER BY n DESC, k ASC) AS rn
           FROM c)
         SELECT event_type, k AS mode, n AS n_mode FROM r WHERE rn = 1""",
    "q78_duplicated_flags" ->
      """SELECT doc_id,
         row_number() OVER (
           PARTITION BY md5(lower(regexp_replace(trim(text),'\s+',' ','g')))
           ORDER BY doc_id) > 1 AS is_dup
         FROM documents""",
    "q79_session_stats" ->
      """WITH b AS (
           SELECT user_id, value, epoch_ns(ts) AS t,
             CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts) > 1800000000000
                  THEN 1 ELSE 0 END AS brk
           FROM events),
         s AS (
           SELECT user_id, value, t,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
           FROM b)
         SELECT user_id, session_id, count(*) AS n_events,
           max(t // 1000) - min(t // 1000) AS duration_us,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value
         FROM s GROUP BY user_id, session_id""",
    "q80_cohort_retention" ->
      """WITH d AS (
           SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
           FROM events),
         f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
         SELECT cohort_day, day - cohort_day AS day_offset,
           count(DISTINCT user_id) AS n_users
         FROM d JOIN f USING (user_id)
         GROUP BY cohort_day, day_offset""",
    "q81_funnel" ->
      """WITH e AS (
           SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t
           FROM events),
         v AS (SELECT user_id, min(t) AS t FROM e
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.t) AS t
               FROM e JOIN v ON e.user_id = v.user_id AND e.t >= v.t
               WHERE e.event_type = 'click' GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.t) AS t
               FROM e JOIN c ON e.user_id = c.user_id AND e.t >= c.t
               WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT 'view' AS stage, 0 AS stage_idx, count(*) AS n_users FROM v
         UNION ALL
         SELECT 'click', 1, count(*) FROM c
         UNION ALL
         SELECT 'purchase', 2, count(*) FROM p""",
    "q82_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST(('0x' || substr(md5(text),1,4)) AS INTEGER)
               < least(n_chars/400.0, 1.0) * 0.5 * 65536.0""",
    "q83_cumulative" ->
      """SELECT user_id, event_id,
         sum(value) OVER w AS cum_sum,
         max(value) OVER w AS cum_max,
         min(value) OVER w AS cum_min,
         product(1 + value / 1000000.0) OVER w AS cum_prod
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "q84_resample" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour, event_type,
         count(*) AS n,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
         FROM events GROUP BY 1, 2""",
    "q85_idxmax" ->
      """WITH w AS (
           SELECT user_id, event_id, value,
             max(value) OVER (PARTITION BY user_id) AS vmax,
             min(value) OVER (PARTITION BY user_id) AS vmin
           FROM events)
         SELECT user_id,
           min(CASE WHEN value = vmax THEN event_id END) AS idx_max,
           min(CASE WHEN value = vmin THEN event_id END) AS idx_min,
           max(vmax) AS val_max,
           min(vmin) AS val_min
         FROM w GROUP BY 1""",
    "q86_redact" ->
      """SELECT event_id,
         md5(regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS digest,
         length(regexp_replace(props, '[0-9]+', '<NUM>', 'g'))
           AS redacted_len,
         len(regexp_extract_all(props, '[0-9]+')) AS n_redacted
         FROM events""",
    "q87_pack_sequences" ->
      """WITH t AS (
           SELECT source, doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
           FROM documents),
         c AS (
           SELECT source, doc_id, tok,
             sum(tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT source, CAST((cum - tok) // 512 AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
         FROM c GROUP BY 1, 2""",
    "q88_histogram" ->
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
         count(*) AS n,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
         FROM events GROUP BY 1""",
    "q89_autocorr" ->
      """WITH l AS (
           SELECT user_id, value,
             lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id)
               AS lv
           FROM events)
         SELECT user_id, round(corr(value, lv), 5) AS acf1,
           count(lv) AS n_pairs
         FROM l GROUP BY 1""",
    "q90_first_last_nth" ->
      """WITH w AS (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
           FROM events)
         SELECT user_id,
           arg_min(value, event_id) AS first_val,
           arg_max(value, event_id) AS last_val,
           max(CASE WHEN rn = 3 THEN value END) AS nth3,
           count(*) AS n
         FROM w GROUP BY 1""",
    "q91_token_explode" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents WHERE trim(text) <> '')
         GROUP BY 1 ORDER BY n DESC, token LIMIT 50""",
    "q92_fillna_mean" ->
      """WITH p AS (
           SELECT user_id, event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS vn
           FROM events)
         SELECT user_id, event_id,
           vn IS NULL AS was_null,
           round(coalesce(vn, avg(vn) OVER (PARTITION BY user_id)), 5)
             AS filled
         FROM p""",
    "q94_merge_indicator" ->
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           o.o_orderkey,
           CASE WHEN c.c_custkey IS NOT NULL AND o.o_custkey IS NOT NULL
                  THEN 'both'
                WHEN o.o_custkey IS NULL THEN 'left_only'
                ELSE 'right_only' END AS merge_ind
         FROM customer c FULL OUTER JOIN orders o
           ON c.c_custkey = o.o_custkey""",
    "q95_dt_accessors" ->
      """SELECT event_id,
           CAST(year(ts) AS INTEGER) AS y,
           CAST(month(ts) AS INTEGER) AS m,
           CAST(day(ts) AS INTEGER) AS dom,
           CAST(isodow(ts) - 1 AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS h,
           CAST(minute(ts) AS INTEGER) AS mi
         FROM events""",
    "q96_mixture_weights" ->
      """WITH t AS (
           SELECT source,
             CAST(sum(CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END)
               AS BIGINT) AS tokens
           FROM documents GROUP BY 1)
         SELECT source, tokens,
           CAST(tokens AS DOUBLE) / sum(tokens) OVER () AS share,
           CASE WHEN tokens = 0 THEN NULL
                ELSE 0.2 / (CAST(tokens AS DOUBLE) / sum(tokens) OVER ())
           END AS weight
         FROM t""",
    "q97_ttr" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\s+') END AS tk
           FROM documents)
         SELECT doc_id,
           CAST(len(tk) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(tk)) AS INTEGER) AS n_types,
           CASE WHEN len(tk) = 0 THEN 0.0
                ELSE CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) END
             AS ttr
         FROM t""",
    "q98_filter_audit" ->
      """WITH t AS (
           SELECT doc_id, n_chars,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END
               AS n_tokens
           FROM documents)
         SELECT doc_id, n_chars, CAST(n_tokens AS INTEGER) AS n_tokens,
           CASE WHEN n_chars < 60 THEN 'too_short'
                WHEN n_tokens < 12 THEN 'few_tokens'
                WHEN CAST(n_chars AS DOUBLE) / n_tokens > 8.0
                  THEN 'long_words'
                ELSE 'keep' END AS reason
         FROM t""",
    "q99_corr_matrix" ->
      """SELECT
         round(corr(l_quantity, l_extendedprice), 5) AS c_0_1,
         round(corr(l_quantity, l_discount), 5) AS c_0_2,
         round(corr(l_quantity, l_tax), 5) AS c_0_3,
         round(corr(l_extendedprice, l_discount), 5) AS c_1_2,
         round(corr(l_extendedprice, l_tax), 5) AS c_1_3,
         round(corr(l_discount, l_tax), 5) AS c_2_3
         FROM lineitem""",
    "q100_concat_align" ->
      """SELECT doc_id, lang, n_chars, NULL AS source FROM documents
         UNION ALL
         SELECT doc_id, NULL AS lang, NULL AS n_chars, source
         FROM documents WHERE n_chars >= 200""",
    "q101_string_ops" ->
      """SELECT doc_id,
           upper(lang) AS lang_u,
           substr(text, 1, 12) AS prefix12,
           contains(text, 'spark') AS has_spark,
           starts_with(text, 'the') AS the_start,
           lpad(lang, 5, '_') AS lang_pad,
           CAST(length(text) AS INTEGER) AS len
         FROM documents""",
    "q102_recode" ->
      """SELECT e.event_id, e.event_type, m.category
         FROM events e LEFT JOIN (VALUES
           ('signup', 'acquisition'), ('view', 'engagement'),
           ('click', 'engagement'), ('purchase', 'revenue'),
           ('error', 'ops')) AS m(event_type, category)
         ON e.event_type = m.event_type""",
    "q103_sample_n" ->
      """SELECT doc_id, lang, md5(text || CAST(doc_id AS VARCHAR)) AS rk
         FROM documents ORDER BY rk LIMIT 100""",
    "q104_fuzzy_pairs" ->
      """WITH b AS (
           SELECT doc_id, n_chars // 20 AS blk,
             substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 30)
               AS pfx
           FROM documents)
         SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(levenshtein(a.pfx, c.pfx) AS INTEGER) AS dist
         FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
         WHERE levenshtein(a.pfx, c.pfx) <= 6""",
    "q105_cross_merge" ->
      """SELECT r_name, n_name, r_name || '/' || n_name AS pair
         FROM region CROSS JOIN nation""",
    "q107_ohlc" ->
      """SELECT user_id, epoch_ns(ts) // 3600000000000 AS hour,
           arg_min(value, event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, event_id) AS close,
           count(*) AS n
         FROM events GROUP BY 1, 2""",
    "q108_scaling" ->
      """WITH s AS (
           SELECT user_id, event_id, value,
             avg(value) OVER w AS m,
             stddev_samp(value) OVER w AS sd,
             min(value) OVER w AS lo,
             max(value) OVER w AS hi
           FROM events WINDOW w AS (PARTITION BY user_id))
         SELECT user_id, event_id,
           round(CASE WHEN sd IS NULL OR sd = 0 THEN NULL
                 ELSE (value - m) / sd END, 5) AS zscore,
           round(CASE WHEN hi = lo THEN NULL
                 ELSE (value - lo) / (hi - lo) END, 5) AS minmax
         FROM s""",
    "q109_onehot" ->
      """SELECT event_id,
           CAST(event_type = 'signup' AS INTEGER) AS is_signup,
           CAST(event_type = 'view' AS INTEGER) AS is_view,
           CAST(event_type = 'click' AS INTEGER) AS is_click,
           CAST(event_type = 'purchase' AS INTEGER) AS is_purchase,
           CAST(event_type = 'error' AS INTEGER) AS is_error
         FROM events""",
    "q110_time_weighted_avg" ->
      """WITH l AS (
           SELECT user_id, value,
             lead(epoch_ns(ts) // 1000, 1) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_ns(ts) // 1000 AS dt
           FROM events)
         SELECT user_id,
           round(sum(value * dt) / sum(dt), 5) AS twa,
           CAST(sum(dt) AS BIGINT) AS span_us
         FROM l WHERE dt IS NOT NULL GROUP BY 1""",
    "q111_upsample_ffill" ->
      """WITH h AS (
           SELECT user_id, epoch_ns(ts) // 3600000000000 AS hour,
             arg_max(value, event_id) AS v
           FROM events GROUP BY 1, 2),
         b AS (
           SELECT user_id, min(hour) AS h0, max(hour) AS h1
           FROM h GROUP BY 1),
         g AS (
           SELECT user_id, unnest(generate_series(h0, h1)) AS hour
           FROM b),
         j AS (
           SELECT g.user_id, g.hour, h.v
           FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hour = h.hour)
         SELECT user_id, hour,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
         FROM j""",
    "q112_rolling_zscore" ->
      """WITH s AS (
           SELECT user_id, event_id, value,
             avg(value) OVER w AS m,
             stddev_samp(value) OVER w AS sd,
             count(value) OVER w AS n
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id,
           round(CASE WHEN n < 3 OR sd IS NULL OR sd = 0 THEN NULL
                 ELSE (value - m) / sd END, 5) AS rz
         FROM s""",
    "q113_collect_set" ->
      """SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',')
             AS types_csv,
           count(DISTINCT event_type) AS n_types
         FROM events GROUP BY 1""",
    "q114_anti_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
         WHERE NOT EXISTS (
           SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""",
    "q115_weighted_avg" ->
      """SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 5)
             AS wavg_price,
           sum(l_quantity) AS w_total
         FROM lineitem GROUP BY 1""",
    "q116_global_rank" ->
      """SELECT doc_id, n_chars,
           row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
         FROM documents""",
    "q117_bigram_counts" ->
      """WITH t AS (
           SELECT string_split_regex(trim(text), '\s+') AS tk
           FROM documents WHERE trim(text) <> ''),
         b AS (
           SELECT unnest(
             [tk[i] || ' ' || tk[i + 1] for i in generate_series(1, len(tk) - 1)])
             AS bigram
           FROM t WHERE len(tk) >= 2)
         SELECT bigram, count(*) AS n FROM b
         GROUP BY 1 ORDER BY n DESC, bigram LIMIT 50""",
    "q118_source_overlap" ->
      """WITH st AS (
           SELECT DISTINCT source,
             unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents WHERE trim(text) <> ''),
         sz AS (SELECT source, count(*) AS sz FROM st GROUP BY 1),
         sh AS (
           SELECT a.source AS s_a, b.source AS s_b, count(*) AS n_shared
           FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
           GROUP BY 1, 2)
         SELECT s_a, s_b, n_shared,
           round(CAST(n_shared AS DOUBLE) /
             (za.sz + zb.sz - n_shared), 5) AS jaccard
         FROM sh
         JOIN sz za ON za.source = s_a
         JOIN sz zb ON zb.source = s_b""",
    "q119_crosstab_norm" ->
      """WITH c AS (
           SELECT source,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS en,
             sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS fr,
             sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS de,
             sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS es
           FROM documents GROUP BY 1)
         SELECT source,
           CAST(en AS DOUBLE) / (en + fr + de + es) AS p_en,
           CAST(fr AS DOUBLE) / (en + fr + de + es) AS p_fr,
           CAST(de AS DOUBLE) / (en + fr + de + es) AS p_de,
           CAST(es AS DOUBLE) / (en + fr + de + es) AS p_es
         FROM c""",
    "q120_datetime_roundtrip" ->
      """SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS rendered,
           epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
             '%Y-%m-%d %H:%M:%S')) AS reparsed_us,
           epoch_ns(ts) // 1000 % 1000000 AS us_lost
         FROM events""",
    "q121_calendar" ->
      """SELECT event_id,
           CAST(quarter(ts) AS INTEGER) AS q,
           CAST(dayofyear(ts) AS INTEGER) AS doy,
           CAST(weekofyear(ts) AS INTEGER) AS iso_week,
           strftime(last_day(ts), '%Y-%m-%d') AS month_end
         FROM events""",
    "q122_mad" ->
      """WITH m AS (
           SELECT user_id, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY 1),
         d AS (
           SELECT e.user_id, m.med,
             round(abs(e.value - m.med), 5) AS ad
           FROM events e JOIN m USING (user_id))
         SELECT user_id, round(max(med), 5) AS median,
           round(quantile_cont(ad, 0.5), 5) AS mad
         FROM d GROUP BY 1""",
    "q123_data_quality" ->
      """SELECT count(*) AS n_rows,
           count(CASE WHEN value IS NULL THEN 1 END) AS n_null_value,
           count(CASE WHEN props IS NULL THEN 1 END) AS n_null_props,
           count(CASE WHEN event_type NOT IN
             ('signup','view','click','purchase','error') THEN 1 END)
             AS n_bad_type,
           count(CASE WHEN value < 0 OR value > 10000 THEN 1 END)
             AS n_bad_value,
           count(DISTINCT user_id) AS n_users,
           min(epoch_ns(ts) // 1000) AS ts_min_us,
           max(epoch_ns(ts) // 1000) AS ts_max_us
         FROM events""",
    "q124_transitions" ->
      """WITH l AS (
           SELECT event_type,
             lead(event_type, 1) OVER
               (PARTITION BY user_id ORDER BY event_id) AS next_type
           FROM events),
         c AS (
           SELECT event_type, next_type, count(*) AS n
           FROM l WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT event_type, next_type, n,
           CAST(n AS DOUBLE) /
             sum(n) OVER (PARTITION BY event_type) AS p
         FROM c""",
    "q125_drawdown" ->
      """WITH d AS (
           SELECT user_id,
             max(value) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - value AS dd
           FROM events)
         SELECT user_id, max(dd) AS max_drawdown FROM d GROUP BY 1""",
    "q126_streaks" ->
      """WITH i AS (
           SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY event_id) AS island
           FROM events),
         r AS (
           SELECT user_id, event_type, island, count(*) AS run_len
           FROM i GROUP BY 1, 2, 3)
         SELECT user_id, max(run_len) AS longest_streak,
           (max(struct_pack(r := run_len, t := event_type))).t
             AS streak_type
         FROM r GROUP BY 1""",
    "q127_ab_lift" ->
      """WITH a AS (
           SELECT user_id % 2 AS arm,
             count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
           FROM events GROUP BY 1),
         w AS (
           SELECT
             max(CASE WHEN arm = 0 THEN n END) AS n_a,
             max(CASE WHEN arm = 0 THEN k END) AS k_a,
             max(CASE WHEN arm = 1 THEN n END) AS n_b,
             max(CASE WHEN arm = 1 THEN k END) AS k_b
           FROM a)
         SELECT n_a, CAST(k_a AS BIGINT) AS k_a,
           n_b, CAST(k_b AS BIGINT) AS k_b,
           round(CAST(k_b AS DOUBLE) / n_b - CAST(k_a AS DOUBLE) / n_a, 5)
             AS lift,
           round((CAST(k_b AS DOUBLE) / n_b - CAST(k_a AS DOUBLE) / n_a) /
             sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
               (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
               (1.0 / n_a + 1.0 / n_b)), 5) AS z
         FROM w""",
    "q128_sparse_topk" ->
      """WITH t AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
           FROM documents WHERE trim(text) <> ''),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         w AS (
           SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE
               / dfq.df), 6) AS tfidf
           FROM tf JOIN dfq USING (term)),
         nm AS (SELECT doc_id, sum(tfidf * tfidf) AS n2 FROM w GROUP BY 1),
         dots AS (
           SELECT w.doc_id, sum(w.tfidf * q.tfidf) AS dot
           FROM w JOIN (SELECT term, tfidf FROM w WHERE doc_id = 42) q
             USING (term)
           GROUP BY 1)
         SELECT d.doc_id,
           round(d.dot / (sqrt(nm.n2) *
             (SELECT sqrt(n2) FROM nm WHERE doc_id = 42)), 5) AS sim
         FROM dots d JOIN nm USING (doc_id)
         WHERE d.doc_id <> 42
         ORDER BY sim DESC, d.doc_id LIMIT 10""",
    "q129_qcut" ->
      """WITH q AS (
           SELECT quantile_cont(n_chars, 0.25) AS q1,
             quantile_cont(n_chars, 0.5) AS q2,
             quantile_cont(n_chars, 0.75) AS q3
           FROM documents)
         SELECT doc_id, n_chars,
           CASE WHEN n_chars <= q1 THEN 'q1'
                WHEN n_chars <= q2 THEN 'q2'
                WHEN n_chars <= q3 THEN 'q3'
                ELSE 'q4' END AS bucket
         FROM documents CROSS JOIN q""",
    "q130_curation_pipeline" ->
      """WITH f AS (
           SELECT doc_id, source, lang, n_chars, text,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END
               AS ntok
           FROM documents WHERE n_chars >= 60),
         g AS (SELECT * FROM f WHERE ntok >= 12),
         d AS (
           SELECT *,
             row_number() OVER (
               PARTITION BY md5(lower(regexp_replace(trim(text),
                 '\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
           FROM g)
         SELECT source, count(*) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           round(avg(n_chars), 5) AS avg_chars
         FROM d WHERE rn = 1 AND lang = 'en'
         GROUP BY 1""",
    "q131_pivot_multi" ->
      """SELECT source,
           count(CASE WHEN lang = 'en' THEN 1 END) AS en_n,
           round(avg(CASE WHEN lang = 'en' THEN n_chars END), 5) AS en_avg,
           count(CASE WHEN lang = 'fr' THEN 1 END) AS fr_n,
           round(avg(CASE WHEN lang = 'fr' THEN n_chars END), 5) AS fr_avg
         FROM documents GROUP BY 1""",
    "q132_regex_extract" ->
      """SELECT doc_id,
           regexp_extract(text, '(s[a-z]+)', 1) AS first_s_word,
           len(regexp_extract_all(text, '(s[a-z]+)', 1)) AS n_s_words,
           (regexp_extract_all(text, '(s[a-z]+)', 1))[-1] AS last_s_word
         FROM documents""",
    "q133_split" ->
      """SELECT doc_id,
           CASE WHEN CAST(('0x' || substr(md5(text),1,4)) AS INTEGER)
                  < 52428 THEN 'train'
                WHEN CAST(('0x' || substr(md5(text),1,4)) AS INTEGER)
                  < 58982 THEN 'val'
                ELSE 'test' END AS split
         FROM documents""",
    "q134_psi_drift" ->
      """WITH m AS (
           SELECT quantile_cont(event_id, 0.5) AS mid FROM events),
         c AS (
           SELECT event_type,
             count(CASE WHEN event_id <= mid THEN 1 END) AS n1,
             count(CASE WHEN event_id > mid THEN 1 END) AS n2
           FROM events CROSS JOIN m GROUP BY 1),
         p AS (
           SELECT event_type, n1, n2,
             CAST(n1 AS DOUBLE) / sum(n1) OVER () AS p1,
             CAST(n2 AS DOUBLE) / sum(n2) OVER () AS p2
           FROM c)
         SELECT event_type, n1, n2,
           CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                ELSE round((p2 - p1) * ln(p2 / p1), 5) END AS psi
         FROM p""",
    "q135_cumcount_ngroup" ->
      """SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
             AS cumcount,
           dense_rank() OVER (ORDER BY user_id) - 1 AS ngroup
         FROM events""",
    "q136_weighted_median" ->
      """WITH c AS (
           SELECT l_returnflag, l_extendedprice,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
           FROM lineitem)
         SELECT l_returnflag, min(l_extendedprice) AS wmedian
         FROM c WHERE cw >= tw / 2 GROUP BY 1""",
    "q137_rolling_active" ->
      """WITH d AS (
           SELECT DISTINCT user_id,
             epoch_ns(ts) // 86400000000000 AS day
           FROM events),
         c AS (
           SELECT user_id,
             unnest(generate_series(day, day + 6)) AS obs_day
           FROM d)
         SELECT obs_day, count(DISTINCT user_id) AS active_7d
         FROM c GROUP BY 1""",
    "q138_gini" ->
      """WITH r AS (
           SELECT l_returnflag, l_extendedprice AS x,
             CAST(row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber)
               AS DOUBLE) AS i
           FROM lineitem)
         SELECT l_returnflag, count(*) AS n,
           round((2.0 * sum(i * x) -
             CAST(count(*) + 1 AS DOUBLE) * sum(x)) /
             (CAST(count(*) AS DOUBLE) * sum(x)), 5) AS gini
         FROM r GROUP BY 1""",
    "q139_entropy" ->
      """WITH c AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT user_id,
             CAST(n AS DOUBLE) /
               sum(n) OVER (PARTITION BY user_id) AS p
           FROM c)
         SELECT user_id, round(-sum(p * ln(p)), 5) AS entropy
         FROM p GROUP BY 1""",
    "q140_chi2" ->
      """WITH o AS (
           SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
         e AS (
           SELECT source, lang, o,
             CAST(sum(o) OVER (PARTITION BY source) *
                  sum(o) OVER (PARTITION BY lang) AS DOUBLE) /
               sum(o) OVER () AS e
           FROM o)
         SELECT round(sum(pow(o - e, 2) / e), 5) AS chi2,
           count(*) AS n_cells
         FROM e""",
    "q141_lag_features" ->
      """SELECT user_id, event_id, value,
           lag(value, 1) OVER w AS lag1,
           lag(value, 2) OVER w AS lag2,
           lag(value, 3) OVER w AS lag3,
           lag(value, 7) OVER w AS lag7,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 5) AS ma3,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 5) AS ma7
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""",
    "q142_target_encoding" ->
      """WITH s AS (
           SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc,
             sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type) AS sc,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         SELECT event_id, event_type,
           CASE WHEN n = 1 THEN NULL
                ELSE (((sc - vc) * 1000) // (n - 1)) / 100000.0 END
             AS loo_mean
         FROM s""",
    "q143_daily_streak" ->
      """WITH d AS (
           SELECT DISTINCT user_id,
             epoch_ns(ts) // 86400000000000 AS day
           FROM events),
         i AS (
           SELECT user_id,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
           FROM d),
         r AS (
           SELECT user_id, island, count(*) AS run
           FROM i GROUP BY 1, 2)
         SELECT user_id, max(run) AS longest_daily_streak,
           count(*) AS n_runs
         FROM r GROUP BY 1""",
    "q144_quantile_drift" ->
      """WITH m AS (
           SELECT quantile_cont(event_id, 0.5) AS mid FROM events),
         h1 AS (
           SELECT quantile_cont(value,
             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
           FROM events CROSS JOIN m WHERE event_id <= mid),
         h2 AS (
           SELECT quantile_cont(value,
             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
           FROM events CROSS JOIN m WHERE event_id > mid),
         g AS (SELECT unnest(generate_series(1, 9)) AS i)
         SELECT CAST(g.i - 1 AS INTEGER) AS d,
           round(h1.qs[g.i], 5) AS v1,
           round(h2.qs[g.i], 5) AS v2,
           round(h2.qs[g.i] - h1.qs[g.i], 5) AS delta
         FROM g CROSS JOIN h1 CROSS JOIN h2""",
    "q145_top_bigrams_by_source" ->
      """WITH t AS (
           SELECT source, string_split_regex(trim(text), '\s+') AS tk
           FROM documents WHERE trim(text) <> ''),
         b AS (
           SELECT source, unnest(
             [tk[i] || ' ' || tk[i + 1]
              for i in generate_series(1, len(tk) - 1)]) AS bigram
           FROM t WHERE len(tk) >= 2),
         c AS (
           SELECT source, bigram, count(*) AS n FROM b GROUP BY 1, 2),
         r AS (
           SELECT source, bigram, n,
             row_number() OVER (PARTITION BY source
               ORDER BY n DESC, bigram) AS rk
           FROM c)
         SELECT source, bigram, n FROM r WHERE rk <= 5""",
    "q146_nullsafe_join" ->
      """WITH k AS (
           SELECT event_id, nullif(event_type, 'error') AS k FROM events),
         d AS (
           SELECT k, coalesce(upper(k), 'UNTYPED') AS label
           FROM (SELECT DISTINCT nullif(event_type, 'error') AS k
                 FROM events))
         SELECT d.label, count(*) AS n
         FROM k JOIN d ON k.k IS NOT DISTINCT FROM d.k
         GROUP BY 1""",
    "q147_spend_pct_rank" ->
      """WITH s AS (
           SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS spend_cents
           FROM events GROUP BY 1),
         r AS (
           SELECT user_id, spend_cents,
             row_number() OVER (ORDER BY spend_cents DESC, user_id)
               AS rk,
             count(*) OVER () AS n
           FROM s)
         SELECT user_id, spend_cents / 100.0 AS spend, rk,
           CAST(rk - 1 AS DOUBLE) / (n - 1) AS pct
         FROM r""",
    "q148_adoption_curve" ->
      """WITH f AS (
           SELECT user_id, min(epoch_ns(ts) // 86400000000000) AS day
           FROM events GROUP BY 1),
         c AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
         SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS total_users
         FROM c""",
    "q149_dup_ngram_frac" ->
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         dg AS (
           SELECT DISTINCT doc_id,
             unnest([array_to_string(t[i:i+4], ' ')
                     FOR i IN range(1, len(t) - 3)]) AS gram
           FROM tk WHERE len(t) >= 5),
         c AS (SELECT gram, count(*) AS ndocs FROM dg GROUP BY 1)
         SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(sum(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS dup_frac
         FROM dg d JOIN c USING (gram)
         GROUP BY 1""",
    "q150_exact_heavy_hitters" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1
         HAVING count(*) * 400 >= (SELECT count(*) FROM events) * 3
         ORDER BY user_id""",
    "q151_bloom_semijoin" ->
      """SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
             AS sum_base
         FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
         GROUP BY 1""",
    "q152_cube" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
             AS sum_base
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q153_merge_upsert" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_orderkey % 10 <> 0
         UNION ALL
         SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) * 101 / 10000.0
             AS o_totalprice
         FROM orders
         WHERE o_orderkey % 10 = 0 AND o_orderkey % 30 <> 0""",
    "q157_group_ols" ->
      """WITH s AS (
           SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(event_id) AS BIGINT) AS sx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(event_id * CAST(round(value * 100) AS BIGINT))
               AS BIGINT) AS sxy,
             CAST(sum(event_id * event_id) AS BIGINT) AS sxx
           FROM events GROUP BY 1),
         m AS (
           SELECT user_id, n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents,
             sx, sy
           FROM s)
         SELECT user_id, n, slope_cents,
           (CAST(sy AS DOUBLE) - slope_cents * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS icept_cents
         FROM m""",
    "q156_hybrid_rrf" ->
      """WITH d AS (
           SELECT vec_id AS doc_id,
             list_cosine_similarity(embedding::DOUBLE[],
               (SELECT embedding::DOUBLE[] FROM embeddings
                WHERE vec_id = 42)) AS s
           FROM embeddings WHERE vec_id <> 42),
         dr AS (
           SELECT doc_id,
             row_number() OVER (ORDER BY s DESC, doc_id) AS rd
           FROM d QUALIFY rd <= 100),
         tk AS (
           SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS term
           FROM documents),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tk GROUP BY 1, 2),
         qt AS (SELECT term, tf AS qtf FROM tf WHERE doc_id = 42),
         sp AS (
           SELECT tf.doc_id, CAST(sum(tf.tf * qt.qtf) AS BIGINT) AS s
           FROM tf JOIN qt USING (term)
           WHERE tf.doc_id <> 42 GROUP BY 1),
         sr AS (
           SELECT doc_id,
             row_number() OVER (ORDER BY s DESC, doc_id) AS rs
           FROM sp QUALIFY rs <= 100)
         SELECT COALESCE(dr.doc_id, sr.doc_id) AS doc_id,
           COALESCE(CAST(1.0 AS DOUBLE) / (rd + 60), 0.0)
             + COALESCE(CAST(1.0 AS DOUBLE) / (rs + 60), 0.0) AS rrf
         FROM dr FULL OUTER JOIN sr ON dr.doc_id = sr.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20""",
    "q158_revenue_deciles" ->
      """WITH li AS (
           SELECT l_orderkey,
             CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev
           FROM lineitem),
         cust AS (
           SELECT o_custkey, CAST(sum(rev) AS BIGINT) AS rev
           FROM li JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1),
         r AS (
           SELECT rev,
             row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
             count(*) OVER () AS n
           FROM cust)
         SELECT (rk - 1) * 10 // n + 1 AS decile,
           CAST(count(*) AS BIGINT) AS n_cust,
           sum(rev) / 10000.0 AS revenue
         FROM r GROUP BY 1""",
    "q159_validated_join" ->
      """SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
             AS sum_base
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q160_group_filter" ->
      """SELECT user_id, event_id, value FROM events
         WHERE user_id IN (
           SELECT user_id FROM events GROUP BY 1
           HAVING sum(CAST(round(value * 100) AS BIGINT)) > 330000)""",
    "q161_session_window" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events),
         b AS (
           SELECT user_id, t,
             CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
               >= 600000000 THEN 1 ELSE 0 END AS brk
           FROM e),
         s AS (
           SELECT user_id, t,
             sum(brk) OVER (PARTITION BY user_id ORDER BY t
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM b)
         SELECT user_id,
           min(t) AS s_start,
           max(t) + 600000000 AS s_end,
           CAST(count(*) AS BIGINT) AS n
         FROM s GROUP BY user_id, sid""",
    "q162_factorize" ->
      """WITH f AS (
           SELECT event_type, min(event_id) AS fid FROM events GROUP BY 1),
         c AS (
           SELECT event_type,
             CAST(row_number() OVER (ORDER BY fid) - 1 AS BIGINT) AS code
           FROM f)
         SELECT e.event_id, e.event_type, c.code
         FROM events e JOIN c USING (event_type)""",
    "q163_merge_ordered" ->
      """WITH u AS (
           SELECT user_id, event_id, value AS v_view,
             CAST(NULL AS DOUBLE) AS v_purchase
           FROM events WHERE event_type = 'view'
           UNION ALL
           SELECT user_id, event_id, CAST(NULL AS DOUBLE), value
           FROM events WHERE event_type = 'purchase')
         SELECT user_id, event_id,
           last_value(v_view IGNORE NULLS) OVER w AS v_view,
           last_value(v_purchase IGNORE NULLS) OVER w AS v_purchase
         FROM u
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "q164_type_drift" ->
      """WITH m AS (SELECT max(event_id) // 2 AS h FROM events),
         a AS (SELECT DISTINCT user_id, event_type
               FROM events, m WHERE event_id <= h),
         b AS (SELECT DISTINCT user_id, event_type
               FROM events, m WHERE event_id > h),
         j AS (
           SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             a.event_type AS ta, b.event_type AS tb
           FROM a FULL OUTER JOIN b
             ON a.user_id = b.user_id AND a.event_type = b.event_type)
         SELECT user_id,
           CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           CAST(sum(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN tb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned
         FROM j GROUP BY 1""",
    "q165_dedup_survivors" ->
      """WITH RECURSIVE norm AS (
           SELECT doc_id, n_chars,
                  lower(regexp_replace(trim(text),'\\s+',' ','g')) AS t
           FROM documents
         ), sz AS (
           SELECT n_chars AS blk FROM documents
           GROUP BY 1 HAVING count(*) <= 256
         ), p AS (
           SELECT doc_id,
                  n_chars AS blk,
                  list_distinct([t[i:i+2] for i in range(1, len(t)-1)]) AS sh
           FROM norm
           WHERE n_chars IN (SELECT blk FROM sz)
         ), pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
                   / len(list_distinct(a.sh || b.sh)) > 0.2
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b, id_a FROM pairs
         ), reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
         ), comp AS (
           SELECT id, min(r) AS component FROM reach GROUP BY id
         )
         SELECT d.doc_id, d.source FROM documents d
         WHERE d.doc_id NOT IN
           (SELECT id FROM comp WHERE id <> component)""",
    // q166 is rows-only by design (MinHash pair generation, q14
    // precedent); the planted-chain ExtensionsSpec is its check.
    // same contaminated-set construction as q61's oracle at the
    // 24-char/minShared=5 verbatim-leak operating point; the LEFT ANTI
    // is the only new step
    "q167_decontaminated" ->
      """WITH norm AS (
           SELECT doc_id,
                  lower(regexp_replace(trim(text),'\s+',' ','g')) AS t
           FROM documents),
         bench AS (
           SELECT DISTINCT unnest(
             list_distinct([t[i:i+23] for i in range(1, len(t)-22)])) AS sh
           FROM norm WHERE doc_id < 50),
         tr AS (
           SELECT doc_id, unnest(
             list_distinct([t[i:i+23] for i in range(1, len(t)-22)])) AS sh
           FROM norm WHERE doc_id >= 50),
         contam AS (
           SELECT tr.doc_id
           FROM tr JOIN bench USING (sh)
           GROUP BY tr.doc_id
           HAVING count(*) >= 5)
         SELECT d.doc_id, d.source FROM documents d
         WHERE d.doc_id >= 50
           AND d.doc_id NOT IN (SELECT doc_id FROM contam)""",
    // exact long-cents running sum — association-order-free, so the
    // scalable two-phase scan and the sequential window agree exactly
    "q168_global_cumsum" ->
      """SELECT o_orderkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             OVER (ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_revenue_cents
         FROM orders""",
    // identical delta-form recursion as Windows.ewmCov, same expression
    // shapes and evaluation order -> bit-identical doubles (q64)
    "q169_ewm_cov" ->
      """WITH RECURSIVE e AS (
           SELECT user_id, event_id, value AS x,
                  value * CAST(event_id % 5 AS DOUBLE) AS y,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY event_id) AS rn
           FROM events),
         r(user_id, event_id, rn, mux, muy, c, vx, vy, u) AS (
           SELECT user_id, event_id, rn, x, y,
                  CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                  CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
           FROM e WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.event_id, e.rn,
                  r.mux + 0.2*(e.x - r.mux),
                  r.muy + 0.2*(e.y - r.muy),
                  (1 - 0.2)*(r.c + 0.2*(e.x - r.mux)*(e.y - r.muy)),
                  (1 - 0.2)*(r.vx + 0.2*(e.x - r.mux)*(e.x - r.mux)),
                  (1 - 0.2)*(r.vy + 0.2*(e.y - r.muy)*(e.y - r.muy)),
                  (1 - 0.2)*(1 - 0.2)*r.u + 0.2*0.2
           FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT user_id, event_id,
           CASE WHEN rn > 1 THEN c/(1 - u) END AS ewm_cov,
           CASE WHEN rn > 1 AND vx*vy > 0 THEN c/sqrt(vx*vy) END
             AS ewm_cov_corr
         FROM r""",
    // q170 is rows-only by design (binary payload decode — nothing SQL
    // can oracle; ExtensionsSpec pins closed-form tone statistics)
    "q171_rolling_table" ->
      """WITH b AS (
           SELECT user_id, event_id, value AS x,
                  value * CAST(event_id % 5 AS DOUBLE) AS y
           FROM events)
         SELECT user_id, event_id,
           CASE WHEN count(*) OVER w = 10
                THEN round(regr_slope(y, x) OVER w, 5) END AS beta
         FROM b
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
    "q172_global_cummax" ->
      """SELECT o_orderkey,
           max(CAST(round(o_totalprice * 100) AS BIGINT))
             OVER (ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS run_max_cents
         FROM orders""",
    "q214_bm25_topk" ->
      """WITH t AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
           FROM documents WHERE trim(text) <> ''
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
         ), dfq AS (
           SELECT term, count(*) AS df FROM tf GROUP BY 1
         ), dl AS (
           SELECT doc_id, count(*) AS dl FROM t GROUP BY 1
         ), stats AS (
           SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT count(*) FROM t)::DOUBLE /
                    (SELECT count(*) FROM documents) AS avgdl
         ), q AS (
           SELECT unnest(['hash', 'join', 'stream']) AS term
         ), s AS (
           SELECT tf.doc_id,
             sum(ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
                 * tf.tf * (1.2 + 1)
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)))
               AS score
           FROM tf
           JOIN q USING (term)
           JOIN dfq USING (term)
           JOIN dl USING (doc_id), stats
           GROUP BY 1
         )
         SELECT doc_id, round(score, 6) AS bm25 FROM s
         ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "q216_bm25_probe_many" ->
      """WITH t AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
           FROM documents WHERE trim(text) <> ''
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
         ), q AS (
           SELECT CAST(1 AS BIGINT) AS query_id,
                  unnest(['hash', 'join', 'stream']) AS term
           UNION ALL
           SELECT CAST(2 AS BIGINT), unnest(['vector', 'scan'])
           UNION ALL
           SELECT CAST(3 AS BIGINT), unnest(['window', 'merge', 'slow'])
         ), dfq AS (
           SELECT term, count(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q) GROUP BY 1
         ), dl AS (
           SELECT doc_id, count(*) AS dl FROM t GROUP BY 1
         ), stats AS (
           SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT count(*) FROM t)::DOUBLE /
                    (SELECT count(*) FROM documents) AS avgdl
         ), s AS (
           SELECT q.query_id, tf.doc_id,
             round(sum(ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
                 * tf.tf * (1.2 + 1)
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))),
               6) AS bm25
           FROM tf
           JOIN q ON q.term = tf.term
           JOIN dfq ON dfq.term = tf.term
           JOIN dl USING (doc_id), stats
           GROUP BY 1, 2
         ), r AS (
           SELECT query_id, doc_id, bm25,
                  row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY bm25 DESC, doc_id) AS rk
           FROM s
         )
         SELECT query_id, doc_id, bm25 FROM r WHERE rk <= 10
         ORDER BY query_id, bm25 DESC, doc_id""",
    "q213_semantic_decontam" ->
      """SELECT t.vec_id, t.label FROM embeddings t
         WHERE t.vec_id % 10 <> 0
           AND NOT EXISTS (
             SELECT 1 FROM embeddings e
             WHERE e.vec_id % 10 = 0
               AND list_cosine_similarity(t.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]) >= 0.4)
         ORDER BY vec_id""",
    "q174_semantic_dedup" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]) >= 0.4
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b, id_a FROM pairs
         ), reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
         ), dropped AS (
           SELECT id FROM reach GROUP BY id HAVING min(r) <> id
         )
         SELECT vec_id, label FROM embeddings
         WHERE vec_id NOT IN (SELECT id FROM dropped)
         ORDER BY vec_id""",
    "q176_video_decode" ->
      """WITH f AS (SELECT unnest([0, 2, 4]) AS frame_idx),
         c AS (
           SELECT d.doc_id AS id, f.frame_idx,
                  (37 * d.doc_id + 11 * f.frame_idx) % 256 AS r,
                  (73 * d.doc_id + 17 * f.frame_idx) % 256 AS g,
                  (101 * d.doc_id + 29 * f.frame_idx) % 256 AS b
           FROM documents d CROSS JOIN f
         )
         SELECT id, frame_idx,
                16 AS width, 12 AS height, 6 AS n_frames,
                r / 255.0 AS mean_r,
                g / 255.0 AS mean_g,
                b / 255.0 AS mean_b,
                ((r * 299 + g * 587 + b * 114) // 1000 * 16) // 256
                  AS lum_bin
         FROM c
         ORDER BY id, frame_idx""",
    "q178_distinct_scalable" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(DISTINCT epoch_ns(ts) // 86400000000000) AS n_days,
                count(*) AS n_events
         FROM events GROUP BY event_type""",
    "q179_cdc_log_fold" ->
      """WITH ch AS (
           SELECT o_orderkey % 5000 AS k,
                  o_custkey, o_totalprice,
                  o_orderkey AS version,
                  (o_orderkey % 97 = 0) AS deleted,
                  o_orderkey % 3 AS b
           FROM orders
         ), w AS (
           SELECT k, o_custkey, o_totalprice, deleted,
                  row_number() OVER (
                    PARTITION BY k ORDER BY b DESC, version DESC) AS rn
           FROM ch
         )
         SELECT k, o_custkey, o_totalprice
         FROM w WHERE rn = 1 AND NOT deleted
         ORDER BY k""",
    "q180_cdc_time_travel" ->
      """WITH ch AS (
           SELECT o_orderkey % 5000 AS k,
                  o_custkey, o_totalprice,
                  o_orderkey AS version,
                  (o_orderkey % 97 = 0) AS deleted,
                  o_orderkey % 3 AS b
           FROM orders
           WHERE o_orderkey % 3 <= 1
         ), w AS (
           SELECT k, o_custkey, o_totalprice, deleted,
                  row_number() OVER (
                    PARTITION BY k ORDER BY b DESC, version DESC) AS rn
           FROM ch
         )
         SELECT k, o_custkey, o_totalprice
         FROM w WHERE rn = 1 AND NOT deleted
         ORDER BY k""",
    "q181_dup_spans" ->
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         w AS (
           SELECT doc_id,
             unnest([{'pos': i, 'gram': array_to_string(t[i:i+4], ' ')}
                     FOR i IN range(1, len(t) - 3)], recursive := true)
           FROM tk WHERE len(t) >= 5),
         dg AS (SELECT DISTINCT doc_id, gram FROM w),
         c AS (SELECT gram, count(*) AS ndocs FROM dg
               GROUP BY 1 HAVING count(*) >= 2),
         dp AS (SELECT w.doc_id, w.pos FROM w JOIN c USING (gram)),
         f AS (
           SELECT doc_id, pos,
             CASE WHEN pos > coalesce(max(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 5,
                  pos)
             THEN 1 ELSE 0 END AS brk
           FROM dp),
         isl AS (
           SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM f)
         SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 4 AS BIGINT) AS span_end
         FROM isl GROUP BY doc_id, island""",
    "q182_remove_dup_spans" ->
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         w AS (
           SELECT doc_id,
             unnest([{'pos': i, 'gram': array_to_string(t[i:i+4], ' ')}
                     FOR i IN range(1, len(t) - 3)], recursive := true)
           FROM tk WHERE len(t) >= 5),
         dg AS (SELECT DISTINCT doc_id, gram FROM w),
         c AS (SELECT gram, count(*) AS ndocs FROM dg
               GROUP BY 1 HAVING count(*) >= 2),
         dp AS (SELECT w.doc_id, w.pos FROM w JOIN c USING (gram)),
         f AS (
           SELECT doc_id, pos,
             CASE WHEN pos > coalesce(max(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 5,
                  pos)
             THEN 1 ELSE 0 END AS brk
           FROM dp),
         isl AS (
           SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM f),
         spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
           FROM isl GROUP BY doc_id, island),
         agg AS (
           SELECT doc_id, sum(e - s + 1) AS n_removed
           FROM spans GROUP BY 1),
         tokpos AS (
           SELECT doc_id,
             unnest([{'pos': i, 'tok': t[i]}
                     FOR i IN range(1, len(t) + 1)], recursive := true)
           FROM tk),
         keep AS (
           SELECT p.doc_id, p.pos, p.tok FROM tokpos p
           WHERE NOT EXISTS (
             SELECT 1 FROM spans s
             WHERE s.doc_id = p.doc_id AND p.pos BETWEEN s.s AND s.e)),
         kept AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
           FROM keep GROUP BY 1)
         SELECT tk.doc_id,
           CAST(coalesce(agg.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(kept.clean_text, '') AS clean_text
         FROM tk
         LEFT JOIN agg USING (doc_id)
         LEFT JOIN kept ON kept.doc_id = tk.doc_id
         ORDER BY tk.doc_id""",
    "q200_mixture_schedule" ->
      """WITH t AS (
           SELECT source,
             CAST(sum(CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END)
               AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         s AS (
           SELECT source, n_tokens,
             CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share
           FROM t),
         w AS (
           SELECT source, n_tokens, share,
             sqrt(share) / sum(sqrt(share)) OVER () AS weight
           FROM s)
         SELECT source, n_tokens,
           round(share, 6) AS share,
           round(weight, 6) AS weight,
           round(10000000.0 * weight, 2) AS sampled_tokens,
           round(10000000.0 * weight / n_tokens, 6) AS epochs
         FROM w
         ORDER BY source""",
    "q201_gopher_rules" ->
      """WITH t AS (
           SELECT doc_id, text,
             list_filter(
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(text), '\s+') END,
               w -> len(w) > 0) AS tk,
             string_split(text, chr(10)) AS ln
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tk) AS DOUBLE) AS nw,
             CASE WHEN len(tk) = 0 THEN NULL
               ELSE CAST(list_aggregate(list_transform(tk, w -> len(w)),
                 'sum') AS DOUBLE) / len(tk) END AS mean_word_len,
             CASE WHEN len(tk) = 0 THEN NULL
               ELSE (CAST(len(text) - len(replace(text, '#', ''))
                       AS DOUBLE)
                 + (len(text) - len(replace(text, '...', ''))) / 3.0)
                 / len(tk) END AS symbol_ratio,
             CAST(len(list_filter(ln,
                 l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
               / len(ln) AS bullet_ratio,
             CAST(len(list_filter(ln,
                 l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
               / len(ln) AS ellipsis_ratio,
             CASE WHEN len(tk) = 0 THEN NULL
               ELSE CAST(len(list_filter(tk,
                   w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                 / len(tk) END AS alpha_ratio,
             len(list_intersect(
               list_distinct(list_transform(tk, w -> lower(w))),
               ['the','be','to','of','and','that','have','with']))
               AS n_stop_hits
           FROM t)
         SELECT doc_id,
           CAST(nw AS BIGINT) AS n_words,
           round(mean_word_len, 6) AS mean_word_len,
           round(symbol_ratio, 6) AS symbol_ratio,
           round(bullet_ratio, 6) AS bullet_ratio,
           round(ellipsis_ratio, 6) AS ellipsis_ratio,
           round(alpha_ratio, 6) AS alpha_ratio,
           CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
           CAST(CASE WHEN nw BETWEEN 50 AND 100000
                  AND mean_word_len BETWEEN 3 AND 10
                  AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.1
                  AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
                  AND n_stop_hits >= 2
                THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM m
         ORDER BY doc_id""",
    "q202_c4_line_filter" ->
      """WITH t AS (
           SELECT doc_id, text, string_split(text, chr(10)) AS ln
           FROM documents),
         k AS (
           SELECT doc_id, text, ln,
             list_filter(ln, l ->
               regexp_matches(trim(l), '[.!?"'']$')
               AND len(list_filter(string_split_regex(trim(l), '\s+'),
                 w -> len(w) > 0)) >= 5
               AND NOT contains(lower(l), 'javascript')) AS kept
           FROM t),
         c AS (
           SELECT doc_id, text, ln, kept,
             -- array_to_string([]) is NULL in DuckDB where Spark's
             -- concat_ws gives '' — coalesce to the Spark semantics
             coalesce(array_to_string(kept, chr(10)), '') AS clean_text
           FROM k)
         SELECT doc_id,
           CAST(len(ln) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(len(clean_text)
             - len(regexp_replace(clean_text, '[.!?]', '', 'g'))
             AS BIGINT) AS n_sentences,
           CAST(CASE WHEN
               len(clean_text)
                 - len(regexp_replace(clean_text, '[.!?]', '', 'g')) >= 3
               AND NOT contains(lower(text), 'lorem ipsum')
               AND NOT contains(text, '{')
             THEN 1 ELSE 0 END AS BIGINT) AS page_keep,
           clean_text
         FROM c
         ORDER BY doc_id""",
    "q203_triangle_stats" ->
      """WITH norm AS (
           SELECT doc_id, n_chars,
                  lower(regexp_replace(trim(text),'\s+',' ','g')) AS t
           FROM documents
         ), sz AS (
           SELECT n_chars AS blk FROM documents
           GROUP BY 1 HAVING count(*) <= 256
         ), p AS (
           SELECT doc_id,
                  n_chars AS blk,
                  list_distinct([t[i:i+2] for i in range(1, len(t)-1)]) AS sh
           FROM norm
           WHERE n_chars IN (SELECT blk FROM sz)
         ), e AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh,b.sh))::DOUBLE
                   / len(list_distinct(a.sh || b.sh)) > 0.2
         ), tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1
           JOIN e e2 ON e2.a = e1.b
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
         ), tv AS (
           SELECT id, count(*) AS n_triangles FROM (
             SELECT x AS id FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri) GROUP BY 1
         ), deg AS (
           SELECT id, count(*) AS degree FROM (
             SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1
         )
         SELECT deg.id AS doc_id,
           CAST(degree AS BIGINT) AS degree,
           CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN degree >= 2
             THEN 2.0 * coalesce(n_triangles, 0) / (degree * (degree - 1))
             ELSE 0.0 END, 6) AS clustering
         FROM deg LEFT JOIN tv ON tv.id = deg.id
         ORDER BY doc_id""",
    // q204: the page skeleton concat, the strip/split regexes, and the
    // clean = strip-tags → decode-entities → collapse-ws pipeline are
    // byte-identical replays of HtmlExtract (all RE2-safe — no
    // backreferences). CLEAN appears inlined three times (keep
    // decision reads text + anchor text; survivors re-clean for the
    // join) exactly as the Spark filter/transform pair evaluates it.
    "q204_html_extract" ->
      ("""WITH h AS (""" + htmlOracleH + """),
         s AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html,
               '(?is)<head\b[^>]*>.*?</head\s*>', ' ', 'g'),
               '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
               '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g') AS nh
           FROM h),
         b AS (
           SELECT doc_id,
             string_split_regex(nh,
               '(?i)</?(p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|br|hr|section|article|header|footer|nav|blockquote|aside|main|figure|figcaption|form|pre)\b[^>]*>')
               AS blocks
           FROM s),
         k AS (
           SELECT doc_id, len(blocks) AS n_blocks,
             list_filter(blocks, bl ->
               len(trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(bl, '(?s)<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))) >= 25
               AND
               len(trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(coalesce(array_to_string(
                   regexp_extract_all(bl, '(?is)<a\b[^>]*>(.*?)</a\s*>', 1),
                   ' '), ''), '(?s)<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))) * 100
               <=
               len(trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(bl, '(?s)<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))) * 30) AS kept
           FROM b),
         f AS (
           SELECT doc_id, n_blocks, len(kept) AS n_kept,
             coalesce(array_to_string(list_transform(kept, bl ->
               trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(bl, '(?s)<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))), chr(10)), '') AS main_text
           FROM k)
         SELECT doc_id,
           CAST(n_blocks AS BIGINT) AS n_blocks,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(len(main_text) AS BIGINT) AS main_len,
           main_text
         FROM f
         ORDER BY doc_id"""),
    // q205: sequential rule chain — each stage counts on the text AS
    // THE RULE SEES IT (post all earlier replacements), exactly the
    // Pii.redactAudit fold. All patterns RE2-safe.
    "q205_pii_audit" ->
      """WITH h AS (
           SELECT doc_id,
             text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
             '@example.com or +1 (555) 010-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.7, IBAN DE44500105175407324931, card 4111 1111 1111 1111, SSN 123-45-6789.'
             AS t0
           FROM documents),
         s1 AS (SELECT doc_id,
             len(regexp_extract_all(t0,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             regexp_replace(t0,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1
           FROM h),
         s2 AS (SELECT doc_id, n_email,
             len(regexp_extract_all(t1,
               '\b[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}\b')) AS n_iban,
             regexp_replace(t1, '\b[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}\b',
               '<IBAN>', 'g') AS t2
           FROM s1),
         s3 AS (SELECT doc_id, n_email, n_iban,
             len(regexp_extract_all(t2,
               '\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b')) AS n_cc,
             regexp_replace(t2,
               '\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b',
               '<CC>', 'g') AS t3
           FROM s2),
         s4 AS (SELECT doc_id, n_email, n_iban, n_cc,
             len(regexp_extract_all(t3,
               '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
             regexp_replace(t3, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b',
               '<SSN>', 'g') AS t4
           FROM s3),
         s5 AS (SELECT doc_id, n_email, n_iban, n_cc, n_ssn,
             len(regexp_extract_all(t4,
               '\+?[0-9]{1,3}[-. ]?\(?[0-9]{2,4}\)?[-. ][0-9]{3,4}[-. ][0-9]{3,4}')) AS n_phone,
             regexp_replace(t4,
               '\+?[0-9]{1,3}[-. ]?\(?[0-9]{2,4}\)?[-. ][0-9]{3,4}[-. ][0-9]{3,4}',
               '<PHONE>', 'g') AS t5
           FROM s4),
         s6 AS (SELECT doc_id, n_email, n_iban, n_cc, n_ssn, n_phone,
             len(regexp_extract_all(t5,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
             regexp_replace(t5,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
               '<IP>', 'g') AS t6
           FROM s5),
         s7 AS (SELECT doc_id, n_email, n_iban, n_cc, n_ssn, n_phone, n_ip,
             len(regexp_extract_all(t6, '[0-9]+')) AS n_num,
             regexp_replace(t6, '[0-9]+', '<NUM>', 'g') AS t7
           FROM s6)
         SELECT doc_id,
           CAST(n_email AS BIGINT) AS n_email,
           CAST(n_iban AS BIGINT) AS n_iban,
           CAST(n_cc AS BIGINT) AS n_cc,
           CAST(n_ssn AS BIGINT) AS n_ssn,
           CAST(n_phone AS BIGINT) AS n_phone,
           CAST(n_ip AS BIGINT) AS n_ip,
           CAST(n_num AS BIGINT) AS n_num,
           CAST(len(t7) AS BIGINT) AS redacted_len,
           md5(t7) AS digest
         FROM s7
         ORDER BY doc_id""",
    // q210: q204's extraction CTEs chained into q202's C4 line rule —
    // the oracle replays the whole raw-web pipeline.
    "q210_web_pipeline" ->
      ("""WITH h AS (""" + htmlOracleH + """),
         s AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html,
               '(?is)<head\b[^>]*>.*?</head\s*>', ' ', 'g'),
               '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
               '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g') AS nh
           FROM h),
         b AS (
           SELECT doc_id,
             string_split_regex(nh,
               '(?i)</?(p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|br|hr|section|article|header|footer|nav|blockquote|aside|main|figure|figcaption|form|pre)\b[^>]*>')
               AS blocks
           FROM s),
         k AS (
           SELECT doc_id,
             list_filter(blocks, bl ->
               len(trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(bl, '(?s)<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))) >= 25
               AND
               len(trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(coalesce(array_to_string(
                   regexp_extract_all(bl, '(?is)<a\b[^>]*>(.*?)</a\s*>', 1),
                   ' '), ''), '(?s)<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))) * 100
               <=
               len(trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(bl, '(?s)<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))) * 30) AS kept
           FROM b),
         f AS (
           SELECT doc_id, len(kept) AS n_blocks_kept,
             coalesce(array_to_string(list_transform(kept, bl ->
               trim(regexp_replace(replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(bl, '(?s)<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))), chr(10)), '') AS main_text
           FROM k),
         g AS (
           SELECT doc_id, n_blocks_kept,
             list_filter(string_split(main_text, chr(10)), l ->
               regexp_matches(trim(l), '[.!?"'']$')
               AND len(list_filter(string_split_regex(trim(l), '\s+'),
                 w -> len(w) > 0)) >= 5
               AND NOT contains(lower(l), 'javascript')) AS keptl
           FROM f),
         c AS (
           SELECT doc_id, n_blocks_kept, len(keptl) AS n_lines_kept,
             coalesce(array_to_string(keptl, chr(10)), '') AS clean
           FROM g)
         SELECT doc_id,
           CAST(n_blocks_kept AS BIGINT) AS n_blocks_kept,
           CAST(n_lines_kept AS BIGINT) AS n_lines_kept,
           CAST(len(clean) AS BIGINT) AS clean_len,
           md5(clean) AS digest
         FROM c
         ORDER BY doc_id"""),
    // q217: arithmetic replay of the planted melodies — quantized
    // sinusoid samples, Hann weights, and the 16 probe DFTs are each a
    // closed-form double chain in (p, v); sign margins measured 5.9e-4
    // worst-case across all 75 distinct clips, so an independent libm
    // agrees on every bit. Frame index from sample index: t = (9i+8)//n
    // (proved equivalent to i in [floor(tn/9), floor((t+1)n/9))).
    "q217_audio_fingerprint" ->
      """WITH px AS (
           SELECT doc_id,
                  CAST(doc_id % 25 AS BIGINT) AS p,
                  CAST((doc_id // 25) % 3 AS BIGINT) AS v
           FROM documents
         ), clip AS (
           SELECT DISTINCT p, v,
                  CASE WHEN v = 2 THEN 11025.0 ELSE 8000.0 END AS rate,
                  CASE WHEN v = 1 THEN 0.4 ELSE 0.8 END AS amp,
                  CASE WHEN v = 2 THEN 551 ELSE 400 END AS per
           FROM px
         ), note AS (
           SELECT p, v, rate, amp, per, j.i AS nj,
                  220.0 * pow(2.0,
                    (((p*5 + j.i*j.i*3 + (p % 7)*j.i) % 25 + 25) % 25)
                      / 12.0) AS freq
           FROM clip, range(8) j(i)
         ), samp AS (
           SELECT p, v, rate, n.nj * per + s.i AS i,
                  trunc(sin(2*pi()*n.freq*s.i/n.rate) * n.amp * 32767)
                    / 32768.0 AS x,
                  8 * per AS n
           FROM note n, range(551) s(i) WHERE s.i < n.per
         ), frg AS (
           SELECT p, v, rate, n, i, x, (9*i + 8) // n AS t
           FROM samp
         ), xw AS (
           SELECT p, v, rate, t,
                  ((t+1)*n) // 9 - (t*n) // 9 AS len,
                  i - (t*n) // 9 AS j,
                  x * 0.5 * (1 - cos(2*pi()*(i - (t*n) // 9)
                    / (((t+1)*n) // 9 - (t*n) // 9))) AS xw
           FROM frg
         ), probe AS (
           SELECT b.i AS b, k.i AS k,
                  (200.0 * pow(8.0, b.i/8.0)) *
                    pow((200.0 * pow(8.0, (b.i+1)/8.0))
                          / (200.0 * pow(8.0, b.i/8.0)),
                        (k.i + 0.5)/2.0) AS f
           FROM range(8) b(i), range(2) k(i)
         ), dft AS (
           SELECT x.p, x.v, x.t, pr.b, pr.k,
                  sum(x.xw * cos(2*pi()*pr.f/x.rate * x.j)) AS sr,
                  -sum(x.xw * sin(2*pi()*pr.f/x.rate * x.j)) AS si,
                  any_value(x.len) AS len
           FROM xw x, probe pr
           GROUP BY x.p, x.v, x.t, pr.b, pr.k
         ), band AS (
           SELECT p, v, t, b,
                  sum((sr*sr + si*si)/(CAST(len AS DOUBLE)*len)) AS e
           FROM dft GROUP BY 1, 2, 3, 4
         ), bits AS (
           SELECT a.p, a.v, a.t*8 + a.b AS bit
           FROM band a JOIN band c
             ON c.p = a.p AND c.v = a.v AND c.b = a.b AND c.t = a.t + 1
           WHERE a.t < 8 AND c.e > a.e
         ), sig AS (
           SELECT p, v,
             coalesce(sum(CASE WHEN bit >= 32
               THEN CAST(1 AS BIGINT) << (bit - 32) END), 0) AS sig_hi,
             coalesce(sum(CASE WHEN bit < 32
               THEN CAST(1 AS BIGINT) << bit END), 0) AS sig_lo
           FROM bits GROUP BY 1, 2
         )
         SELECT px.doc_id,
                CAST(coalesce(s.sig_hi, 0) AS BIGINT) AS sig_hi,
                CAST(coalesce(s.sig_lo, 0) AS BIGINT) AS sig_lo
         FROM px LEFT JOIN sig s ON s.p = px.p AND s.v = px.v
         ORDER BY doc_id""",
    // q212: arithmetic replay of the planted 18x16 gradients — each
    // 9x8 dHash cell is a 2x2 pixel block; R depends only on x, G only
    // on y, B on x+y, so the 4-pixel luma sum collapses to
    // 2*299*(Ra+Rb) + 2*587*(Ga+Gb) + 114*(Ba+2*Bb+Bc). Integer
    // division by 4 matches the Scala sum/n floor (all terms
    // non-negative).
    "q212_image_dhash" ->
      """WITH px AS (
           SELECT doc_id,
             CAST(doc_id % 25 AS BIGINT) AS p,
             CAST(((doc_id // 25) % 3) * 2 AS BIGINT) AS s
           FROM documents),
         terms AS (
           SELECT doc_id, cy.i AS cy, cx.i AS cx,
             (23*p + (2*cx.i    )*(10+(p%7)*6)) % 240 + s AS ra,
             (23*p + (2*cx.i + 1)*(10+(p%7)*6)) % 240 + s AS rb,
             (91*p + (2*cy.i    )*(8+(p%5)*7)) % 240 + s AS ga,
             (91*p + (2*cy.i + 1)*(8+(p%5)*7)) % 240 + s AS gb,
             (53*p + (2*cx.i + 2*cy.i    )*(6+(p%3)*9)) % 240 + s AS ba,
             (53*p + (2*cx.i + 2*cy.i + 1)*(6+(p%3)*9)) % 240 + s AS bb,
             (53*p + (2*cx.i + 2*cy.i + 2)*(6+(p%3)*9)) % 240 + s AS bc
           FROM px, range(8) cy(i), range(9) cx(i)),
         cells AS (
           SELECT doc_id, cy, cx,
             (598*(ra + rb) + 1174*(ga + gb) + 114*(ba + 2*bb + bc)) // 4
               AS cell
           FROM terms),
         bits AS (
           SELECT a.doc_id, a.cy * 8 + a.cx AS k
           FROM cells a JOIN cells b
             ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
           WHERE a.cx < 8 AND b.cell > a.cell)
         SELECT d.doc_id,
           CAST(coalesce(SUM(CASE WHEN k >= 32
             THEN CAST(1 AS BIGINT) << (k - 32) ELSE 0 END), 0)
             AS BIGINT) AS sig_hi,
           CAST(coalesce(SUM(CASE WHEN k < 32
             THEN CAST(1 AS BIGINT) << k ELSE 0 END), 0)
             AS BIGINT) AS sig_lo
         FROM documents d LEFT JOIN bits ON bits.doc_id = d.doc_id
         GROUP BY d.doc_id
         ORDER BY d.doc_id""",
    // q218: arithmetic replay of the planted clip fingerprints — the
    // majority vote suppresses every outlier frame (5-vs-1) and the
    // t*n/9 sampler skips the 11-frame variant's outlier indices, so
    // the clip signature IS the q212 cell formula of the base pattern;
    // the brightness shift and the per-frame wobble both add exactly
    // 4000*s to each 2x2 cell's pre-division sum (divisible by 4), so
    // every cell comparison — and every bit — is shift-free.
    "q218_video_fingerprint" ->
      """WITH px AS (
           SELECT doc_id, CAST(doc_id % 25 AS BIGINT) AS p
           FROM documents),
         terms AS (
           SELECT DISTINCT p, cy.i AS cy, cx.i AS cx,
             (23*p + (2*cx.i    )*(10+(p%7)*6)) % 240 AS ra,
             (23*p + (2*cx.i + 1)*(10+(p%7)*6)) % 240 AS rb,
             (91*p + (2*cy.i    )*(8+(p%5)*7)) % 240 AS ga,
             (91*p + (2*cy.i + 1)*(8+(p%5)*7)) % 240 AS gb,
             (53*p + (2*cx.i + 2*cy.i    )*(6+(p%3)*9)) % 240 AS ba,
             (53*p + (2*cx.i + 2*cy.i + 1)*(6+(p%3)*9)) % 240 AS bb,
             (53*p + (2*cx.i + 2*cy.i + 2)*(6+(p%3)*9)) % 240 AS bc
           FROM px, range(8) cy(i), range(9) cx(i)),
         cells AS (
           SELECT p, cy, cx,
             (598*(ra + rb) + 1174*(ga + gb) + 114*(ba + 2*bb + bc)) // 4
               AS cell
           FROM terms),
         bits AS (
           SELECT a.p, a.cy * 8 + a.cx AS k
           FROM cells a JOIN cells b
             ON b.p = a.p AND b.cy = a.cy AND b.cx = a.cx + 1
           WHERE a.cx < 8 AND b.cell > a.cell),
         sig AS (
           SELECT p,
             coalesce(SUM(CASE WHEN k >= 32
               THEN CAST(1 AS BIGINT) << (k - 32) END), 0) AS sig_hi,
             coalesce(SUM(CASE WHEN k < 32
               THEN CAST(1 AS BIGINT) << k END), 0) AS sig_lo
           FROM bits GROUP BY p)
         SELECT px.doc_id,
           CAST(coalesce(s.sig_hi, 0) AS BIGINT) AS sig_hi,
           CAST(coalesce(s.sig_lo, 0) AS BIGINT) AS sig_lo
         FROM px LEFT JOIN sig s ON s.p = px.p
         ORDER BY doc_id""",
    // q219: full replay of the scalar-quantization pipeline — per-dim
    // min/max bounds, affine int8 codes (multiply-before-divide and
    // round-half-up match the engine's evaluation order exactly),
    // dequantize, 6-decimal-rounded candidate rank at factor*k=80,
    // exact rescore, 6-decimal-rounded final rank at k=20; both cuts
    // tiebreak on id, so the row set is engine-deterministic.
    "q219_sq_topk" -> SqOracleSingle,
    // q220: the persisted-index probe is bit-identical to the inline
    // q219 pipeline by construction (same bounds, same dequantize
    // arithmetic, same rounded cuts), so the SAME oracle string (not a
    // copy) replays it.
    "q220_sq_probe_index" -> SqOracleSingle,
    // q221: the q219/q220 replay with a per-query window rank — each
    // query's rows equal its single-probe answer (same rounded cuts,
    // same id tiebreaks).
    "q221_sq_probe_many" ->
      ("""WITH qs AS (
           SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
         """ + SqOracleDeqCtes + """,
         approx AS (
           SELECT q.query_id, d.vec_id AS id,
             round(list_cosine_similarity(d.dv, q.qv), 6) AS sim_q8
           FROM dvec d, qs q),
         cand AS (
           SELECT query_id, id, sim_q8 FROM (
             SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY sim_q8 DESC, id ASC) AS rn
             FROM approx) WHERE rn <= 80),
         res AS (
           SELECT c.query_id, c.id, c.sim_q8,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
               AS sim
           FROM cand c
           JOIN qs q USING (query_id)
           JOIN embeddings e ON e.vec_id = c.id)
         SELECT query_id, id, sim_q8, sim FROM (
           SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY sim DESC, id ASC) AS rn
           FROM res) WHERE rn <= 20
         ORDER BY query_id, id"""),
    // q222: full replay of the video near-dup pair/component stage on
    // the vote corpus — the q218 arithmetic signature CTEs, then pairs
    // over the ≤25 DISTINCT signature nodes under bit_count(xor) <= 4
    // (the engine's banded-Hamming budget; pigeonhole makes banding
    // exact for hamming < bands) and a recursive min-root propagation
    // for the transitive components (pre-validated against an
    // independent union-find replay; measured min cross-pattern
    // hamming is 7, so components are currently signature-equality
    // groups, but the closure keeps the oracle honest if a future
    // asset change merges families).
    "q222_video_neardup_twin" ->
      """WITH RECURSIVE px AS (
           SELECT doc_id, CAST(doc_id % 25 AS BIGINT) AS p
           FROM documents),
         terms AS (
           SELECT DISTINCT p, cy.i AS cy, cx.i AS cx,
             (23*p + (2*cx.i    )*(10+(p%7)*6)) % 240 AS ra,
             (23*p + (2*cx.i + 1)*(10+(p%7)*6)) % 240 AS rb,
             (91*p + (2*cy.i    )*(8+(p%5)*7)) % 240 AS ga,
             (91*p + (2*cy.i + 1)*(8+(p%5)*7)) % 240 AS gb,
             (53*p + (2*cx.i + 2*cy.i    )*(6+(p%3)*9)) % 240 AS ba,
             (53*p + (2*cx.i + 2*cy.i + 1)*(6+(p%3)*9)) % 240 AS bb,
             (53*p + (2*cx.i + 2*cy.i + 2)*(6+(p%3)*9)) % 240 AS bc
           FROM px, range(8) cy(i), range(9) cx(i)),
         cells AS (
           SELECT p, cy, cx,
             (598*(ra + rb) + 1174*(ga + gb) + 114*(ba + 2*bb + bc)) // 4
               AS cell
           FROM terms),
         bits AS (
           SELECT a.p, a.cy * 8 + a.cx AS k
           FROM cells a JOIN cells b
             ON b.p = a.p AND b.cy = a.cy AND b.cx = a.cx + 1
           WHERE a.cx < 8 AND b.cell > a.cell),
         sig AS (
           SELECT p,
             coalesce(SUM(CASE WHEN k >= 32
               THEN CAST(1 AS BIGINT) << (k - 32) END), 0) AS sig_hi,
             coalesce(SUM(CASE WHEN k < 32
               THEN CAST(1 AS BIGINT) << k END), 0) AS sig_lo
           FROM bits GROUP BY p),
         docsig AS (
           SELECT px.doc_id,
             CAST(coalesce(s.sig_hi, 0) AS BIGINT) AS h,
             CAST(coalesce(s.sig_lo, 0) AS BIGINT) AS l
           FROM px LEFT JOIN sig s ON s.p = px.p),
         nodes AS (
           SELECT h, l, MIN(doc_id) AS m FROM docsig GROUP BY h, l),
         edges AS (
           SELECT a.h AS ah, a.l AS al, b.h AS bh, b.l AS bl
           FROM nodes a, nodes b
           WHERE bit_count(xor(a.h, b.h)) + bit_count(xor(a.l, b.l)) <= 4),
         reach(h, l, root) AS (
           SELECT h, l, m FROM nodes
           UNION
           SELECT e.bh, e.bl, r.root
           FROM reach r JOIN edges e ON e.ah = r.h AND e.al = r.l),
         comp AS (
           SELECT h, l, MIN(root) AS component FROM reach GROUP BY h, l)
         SELECT d.doc_id, c.component,
           d.doc_id = c.component AS canonical
         FROM docsig d JOIN comp c ON c.h = d.h AND c.l = d.l
         ORDER BY doc_id""",
    // q207 (round 14, was rows-only through r13): the image near-dup
    // pair/component stage replays EXACTLY like q222 — the planted
    // 18x16 gradients' dHash bits are the q212 cell formula with the
    // brightness shift cancelling in every cell compare (each channel
    // term carries +s, so a cell's pre-division sum shifts by 4000*s,
    // divisible by 4 — shift-free compares), so the per-doc signature
    // depends only on p = doc_id % 25, the SAME p-keyed signature the
    // q218/q222 CTEs rebuild. Banding (4 bands x 16 bits) is exact by
    // pigeonhole at hamming <= 3 < 4, every bucket holds <= 25
    // distinct-signature reps (far under the 256 cap), so the
    // engine's candidate generation provably loses nothing; the
    // recursive min-root closure is the q222 block. The QUERY is
    // unchanged (same corpus, same operator) — only the oracle is
    // new, so bench history stays like-for-like.
    "q207_image_neardup" ->
      """WITH RECURSIVE px AS (
           SELECT doc_id, CAST(doc_id % 25 AS BIGINT) AS p
           FROM documents),
         terms AS (
           SELECT DISTINCT p, cy.i AS cy, cx.i AS cx,
             (23*p + (2*cx.i    )*(10+(p%7)*6)) % 240 AS ra,
             (23*p + (2*cx.i + 1)*(10+(p%7)*6)) % 240 AS rb,
             (91*p + (2*cy.i    )*(8+(p%5)*7)) % 240 AS ga,
             (91*p + (2*cy.i + 1)*(8+(p%5)*7)) % 240 AS gb,
             (53*p + (2*cx.i + 2*cy.i    )*(6+(p%3)*9)) % 240 AS ba,
             (53*p + (2*cx.i + 2*cy.i + 1)*(6+(p%3)*9)) % 240 AS bb,
             (53*p + (2*cx.i + 2*cy.i + 2)*(6+(p%3)*9)) % 240 AS bc
           FROM px, range(8) cy(i), range(9) cx(i)),
         cells AS (
           SELECT p, cy, cx,
             (598*(ra + rb) + 1174*(ga + gb) + 114*(ba + 2*bb + bc)) // 4
               AS cell
           FROM terms),
         bits AS (
           SELECT a.p, a.cy * 8 + a.cx AS k
           FROM cells a JOIN cells b
             ON b.p = a.p AND b.cy = a.cy AND b.cx = a.cx + 1
           WHERE a.cx < 8 AND b.cell > a.cell),
         sig AS (
           SELECT p,
             coalesce(SUM(CASE WHEN k >= 32
               THEN CAST(1 AS BIGINT) << (k - 32) END), 0) AS sig_hi,
             coalesce(SUM(CASE WHEN k < 32
               THEN CAST(1 AS BIGINT) << k END), 0) AS sig_lo
           FROM bits GROUP BY p),
         docsig AS (
           SELECT px.doc_id,
             CAST(coalesce(s.sig_hi, 0) AS BIGINT) AS h,
             CAST(coalesce(s.sig_lo, 0) AS BIGINT) AS l
           FROM px LEFT JOIN sig s ON s.p = px.p),
         nodes AS (
           SELECT h, l, MIN(doc_id) AS m FROM docsig GROUP BY h, l),
         edges AS (
           SELECT a.h AS ah, a.l AS al, b.h AS bh, b.l AS bl
           FROM nodes a, nodes b
           WHERE bit_count(xor(a.h, b.h)) + bit_count(xor(a.l, b.l)) <= 3),
         reach(h, l, root) AS (
           SELECT h, l, m FROM nodes
           UNION
           SELECT e.bh, e.bl, r.root
           FROM reach r JOIN edges e ON e.ah = r.h AND e.al = r.l),
         comp AS (
           SELECT h, l, MIN(root) AS component FROM reach GROUP BY h, l)
         SELECT d.doc_id, c.component,
           d.doc_id = c.component AS canonical
         FROM docsig d JOIN comp c ON c.h = d.h AND c.l = d.l
         ORDER BY doc_id""",
    // q211 (round 14, was rows-only through r13): the audio near-dup
    // pair/component stage on the q217 melody corpus — the q217
    // signature CTEs (quantized sinusoids, Hann weights, probe DFTs,
    // band-energy delta signs; worst sign margin 5.9e-4, eleven
    // orders above cross-engine libm noise, so the 64 bits agree
    // exactly — proven by q217 hash-green since r12), then the q222
    // node/edge/closure block at the engine's hamming budget 5
    // (banding 8 bands x 8 bits is exact by pigeonhole at 5 < 8;
    // <= 75 distinct (p, v) signatures, buckets far under the cap).
    // The QUERY is unchanged — only the oracle is new.
    "q211_audio_neardup" ->
      """WITH RECURSIVE px AS (
           SELECT doc_id,
                  CAST(doc_id % 25 AS BIGINT) AS p,
                  CAST((doc_id // 25) % 3 AS BIGINT) AS v
           FROM documents
         ), clip AS (
           SELECT DISTINCT p, v,
                  CASE WHEN v = 2 THEN 11025.0 ELSE 8000.0 END AS rate,
                  CASE WHEN v = 1 THEN 0.4 ELSE 0.8 END AS amp,
                  CASE WHEN v = 2 THEN 551 ELSE 400 END AS per
           FROM px
         ), note AS (
           SELECT p, v, rate, amp, per, j.i AS nj,
                  220.0 * pow(2.0,
                    (((p*5 + j.i*j.i*3 + (p % 7)*j.i) % 25 + 25) % 25)
                      / 12.0) AS freq
           FROM clip, range(8) j(i)
         ), samp AS (
           SELECT p, v, rate, n.nj * per + s.i AS i,
                  trunc(sin(2*pi()*n.freq*s.i/n.rate) * n.amp * 32767)
                    / 32768.0 AS x,
                  8 * per AS n
           FROM note n, range(551) s(i) WHERE s.i < n.per
         ), frg AS (
           SELECT p, v, rate, n, i, x, (9*i + 8) // n AS t
           FROM samp
         ), xw AS (
           SELECT p, v, rate, t,
                  ((t+1)*n) // 9 - (t*n) // 9 AS len,
                  i - (t*n) // 9 AS j,
                  x * 0.5 * (1 - cos(2*pi()*(i - (t*n) // 9)
                    / (((t+1)*n) // 9 - (t*n) // 9))) AS xw
           FROM frg
         ), probe AS (
           SELECT b.i AS b, k.i AS k,
                  (200.0 * pow(8.0, b.i/8.0)) *
                    pow((200.0 * pow(8.0, (b.i+1)/8.0))
                          / (200.0 * pow(8.0, b.i/8.0)),
                        (k.i + 0.5)/2.0) AS f
           FROM range(8) b(i), range(2) k(i)
         ), dft AS (
           SELECT x.p, x.v, x.t, pr.b, pr.k,
                  sum(x.xw * cos(2*pi()*pr.f/x.rate * x.j)) AS sr,
                  -sum(x.xw * sin(2*pi()*pr.f/x.rate * x.j)) AS si,
                  any_value(x.len) AS len
           FROM xw x, probe pr
           GROUP BY x.p, x.v, x.t, pr.b, pr.k
         ), band AS (
           SELECT p, v, t, b,
                  sum((sr*sr + si*si)/(CAST(len AS DOUBLE)*len)) AS e
           FROM dft GROUP BY 1, 2, 3, 4
         ), bits AS (
           SELECT a.p, a.v, a.t*8 + a.b AS bit
           FROM band a JOIN band c
             ON c.p = a.p AND c.v = a.v AND c.b = a.b AND c.t = a.t + 1
           WHERE a.t < 8 AND c.e > a.e
         ), sig AS (
           SELECT p, v,
             coalesce(sum(CASE WHEN bit >= 32
               THEN CAST(1 AS BIGINT) << (bit - 32) END), 0) AS sig_hi,
             coalesce(sum(CASE WHEN bit < 32
               THEN CAST(1 AS BIGINT) << bit END), 0) AS sig_lo
           FROM bits GROUP BY 1, 2
         ), docsig AS (
           SELECT px.doc_id,
             CAST(coalesce(s.sig_hi, 0) AS BIGINT) AS h,
             CAST(coalesce(s.sig_lo, 0) AS BIGINT) AS l
           FROM px LEFT JOIN sig s ON s.p = px.p AND s.v = px.v
         ), nodes AS (
           SELECT h, l, MIN(doc_id) AS m FROM docsig GROUP BY h, l
         ), edges AS (
           SELECT a.h AS ah, a.l AS al, b.h AS bh, b.l AS bl
           FROM nodes a, nodes b
           WHERE bit_count(xor(a.h, b.h)) + bit_count(xor(a.l, b.l)) <= 5
         ), reach(h, l, root) AS (
           SELECT h, l, m FROM nodes
           UNION
           SELECT e.bh, e.bl, r.root
           FROM reach r JOIN edges e ON e.ah = r.h AND e.al = r.l
         ), comp AS (
           SELECT h, l, MIN(root) AS component FROM reach GROUP BY h, l)
         SELECT d.doc_id, c.component,
           d.doc_id = c.component AS canonical
         FROM docsig d JOIN comp c ON c.h = d.h AND c.l = d.l
         ORDER BY doc_id""",
    // q223: the q214 FULL-CORPUS replay, verbatim — the engine side
    // went build(evens) → append(odds) → probe, and the append's
    // probe-equivalence contract (per-doc posting rows, probe-time df,
    // exact additive stat merge) says the result must equal a one-shot
    // build over everything, which is exactly what this replays.
    "q223_bm25_append_probe" ->
      """WITH t AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)),'\s+')) AS term
           FROM documents WHERE trim(text) <> ''
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
         ), dfq AS (
           SELECT term, count(*) AS df FROM tf GROUP BY 1
         ), dl AS (
           SELECT doc_id, count(*) AS dl FROM t GROUP BY 1
         ), stats AS (
           SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT count(*) FROM t)::DOUBLE /
                    (SELECT count(*) FROM documents) AS avgdl
         ), q AS (
           SELECT unnest(['hash', 'join', 'stream']) AS term
         ), s AS (
           SELECT tf.doc_id,
             sum(ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
                 * tf.tf * (1.2 + 1)
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)))
               AS score
           FROM tf
           JOIN q USING (term)
           JOIN dfq USING (term)
           JOIN dl USING (doc_id), stats
           GROUP BY 1
         )
         SELECT doc_id, round(score, 6) AS bm25 FROM s
         ORDER BY bm25 DESC, doc_id LIMIT 20""",
    // q224: the q219/q220 replay under the APPEND lifecycle — bounds
    // computed over the EVEN half only (the frozen quantizer) and a
    // LEAST/GREATEST [0,255] clamp on the codes (appended odd vectors
    // carry out-of-bounds components; the engine saturates instead of
    // letting the tinyint cast wrap). Pre-validated against an
    // independent numpy/decimal replay of the engine arithmetic.
    "q224_sq_append_probe" ->
      """WITH q AS (
           SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id=0),
         dims AS (SELECT CAST(range + 1 AS INT) AS i FROM range(64)),
         elems AS (
           SELECT vec_id, i, embedding[i]::DOUBLE AS x FROM embeddings, dims),
         bounds AS (
           SELECT i, min(x) AS lo, max(x) AS hi FROM elems
           WHERE vec_id % 2 = 0 GROUP BY i),
         deq AS (
           SELECT e.vec_id, e.i,
             b.lo + LEAST(255, GREATEST(0,
               CASE WHEN b.hi = b.lo THEN 0
                    ELSE CAST(round((e.x - b.lo) * 255 / (b.hi - b.lo))
                           AS BIGINT)
               END)) * (b.hi - b.lo) / 255 AS xd
           FROM elems e JOIN bounds b USING (i)),
         dvec AS (SELECT vec_id, list(xd ORDER BY i) AS dv FROM deq GROUP BY vec_id),
         approx AS (
           SELECT vec_id AS id,
             round(list_cosine_similarity(dv, (SELECT qv FROM q)), 6) AS sim_q8
           FROM dvec),
         cand AS (SELECT id, sim_q8 FROM approx ORDER BY sim_q8 DESC, id ASC LIMIT 80),
         res AS (
           SELECT c.id, c.sim_q8,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
               (SELECT qv FROM q)), 6) AS sim
           FROM cand c JOIN embeddings e ON e.vec_id = c.id)
         SELECT id, sim_q8, sim FROM res ORDER BY sim DESC, id ASC LIMIT 20""",
    // q225: the q174 component closure (exact cosine pairs + recursive
    // min-root reachability) with the scored-survivor window on top —
    // keep each component's max-label member, ties to min vec_id;
    // singletons (ids outside the pair graph) survive themselves.
    "q225_best_survivors" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]) >= 0.4
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b, id_a FROM pairs
         ), reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
         ), comp AS (
           SELECT id, min(r) AS component FROM reach GROUP BY id
         ), allc AS (
           SELECT e.vec_id, e.label,
             coalesce(c.component, e.vec_id) AS component
           FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
         ), ranked AS (
           SELECT vec_id, label, component,
             row_number() OVER (
               PARTITION BY component ORDER BY label DESC, vec_id) AS rk,
             count(*) OVER (PARTITION BY component) AS n_members
           FROM allc)
         SELECT vec_id, label, component, n_members
         FROM ranked WHERE rk = 1 ORDER BY vec_id""",
    // q229: the q224 bounds/clamp/dequantize replay, AGGREGATED — per
    // segment (0 = even build half, 1 = odd appended half) the mean
    // per-component |x - dequant(code)| under the FROZEN even-half
    // bounds plus the fraction of components outside [lo, hi] (exact
    // integer counts). Summation-order float noise is ~1e-16 of the
    // rounded 6-decimal value.
    "q229_sq_drift" ->
      """WITH dims AS (SELECT CAST(range + 1 AS INT) AS i FROM range(64)),
         elems AS (
           SELECT vec_id, i, embedding[i]::DOUBLE AS x FROM embeddings, dims),
         bounds AS (
           SELECT i, min(x) AS lo, max(x) AS hi FROM elems
           WHERE vec_id % 2 = 0 GROUP BY i),
         codes AS (
           SELECT e.vec_id, e.x, b.lo, b.hi,
             b.lo + LEAST(255, GREATEST(0,
               CASE WHEN b.hi = b.lo THEN 0
                    ELSE CAST(round((e.x - b.lo) * 255 / (b.hi - b.lo))
                           AS BIGINT)
               END)) * (b.hi - b.lo) / 255 AS xd
           FROM elems e JOIN bounds b USING (i))
         SELECT CAST(vec_id % 2 AS INT) AS seg,
           count(DISTINCT vec_id) AS n,
           round(sum(abs(x - xd)) / count(*), 6) AS avg_abs_err,
           round(sum(CASE WHEN x < lo OR x > hi THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS clip_frac
         FROM codes GROUP BY 1 ORDER BY seg""",
    // q230: the engine ran the real IVF build/append/provenance
    // pipeline over the planted corpus; the separation guarantee
    // (ivfOccDriftIndex) collapses every frozen-centroid assignment
    // to pure vec_id class arithmetic, replayed here count-for-count
    // with the engine's zero-filled seg x cluster grid
    "q230_ivf_occupancy_drift" ->
      """WITH assigned AS (
           SELECT vec_id,
             CASE WHEN vec_id % 2 = 0 THEN 0
                  WHEN vec_id % 4 = 1 THEN 1
                  ELSE 2 END AS seg,
             CAST(CASE WHEN vec_id % 4 = 3 THEN 1
                  ELSE (vec_id // 4) % 4 END AS INT) AS cluster
           FROM embeddings),
         counts AS (
           SELECT seg, cluster, count(*) AS c FROM assigned GROUP BY 1, 2),
         grid AS (
           SELECT s.seg, cl.cluster, COALESCE(c.c, 0) AS c
           FROM (SELECT DISTINCT seg FROM counts) s
           CROSS JOIN (SELECT DISTINCT cluster FROM counts) cl
           LEFT JOIN counts c ON c.seg = s.seg AND c.cluster = cl.cluster),
         shares AS (
           SELECT seg, cluster, c,
             c * 1.0 / sum(c) OVER (PARTITION BY seg) AS share
           FROM grid),
         base AS (SELECT cluster, share AS bshare FROM shares WHERE seg = 0)
         SELECT s.seg, CAST(sum(s.c) AS BIGINT) AS n,
           round(sum(abs(s.share - b.bshare)) / 2, 6) AS tv_vs_base,
           round(max(s.share), 6) AS max_cluster_share
         FROM shares s JOIN base b USING (cluster)
         GROUP BY s.seg ORDER BY s.seg""",
    // q231: the planted-duplicate classes make banding recall
    // structural and the verify threshold culls everything else, so
    // the engine's full sign/band/verify/union-find collapses to
    // min-id-per-class arithmetic (classes with one member — possible
    // at tiny SFs — produce no pairs and stay out of the components)
    "q231_minhash_planted_twin" ->
      """WITH dup AS (
           SELECT doc_id, doc_id % 25 AS cls FROM documents
           WHERE doc_id < 200),
         comp AS (
           SELECT cls, min(doc_id) AS root, count(*) AS m
           FROM dup GROUP BY cls)
         SELECT d.doc_id AS id, CAST(c.root AS BIGINT) AS component
         FROM dup d JOIN comp c ON d.cls = c.cls
         WHERE c.m >= 2 ORDER BY id""",
    // q232: identical planted vectors co-bucket in every band and the
    // exact-cosine verify culls every cross-group collision (distinct
    // two-hot directions share ≤ 1 coordinate → cosine ≤ 1/2 < 0.9),
    // so the engine's full sign/band/verify/union-find collapses to
    // min-id-per-class arithmetic over the 25 planted classes
    "q232_emb_lsh_planted_twin" ->
      """WITH dup AS (
           SELECT vec_id, vec_id % 25 AS cls FROM embeddings
           WHERE vec_id < 100),
         comp AS (
           SELECT cls, min(vec_id) AS root, count(*) AS m
           FROM dup GROUP BY cls)
         SELECT CAST(d.vec_id AS BIGINT) AS id,
           CAST(c.root AS BIGINT) AS component
         FROM dup d JOIN comp c ON d.cls = c.cls
         WHERE c.m >= 2 ORDER BY id"""
  )

  /** Shared CTE block of the SQ oracles (q219/q220/q221): per-dim
    * bounds + the dequantized corpus — ONE copy of the affine-int8
    * replay arithmetic, so the three oracles cannot drift apart.
    */
  private val SqOracleDeqCtes: String =
    """dims AS (SELECT CAST(range + 1 AS INT) AS i FROM range(64)),
         elems AS (
           SELECT vec_id, i, embedding[i]::DOUBLE AS x FROM embeddings, dims),
         bounds AS (SELECT i, min(x) AS lo, max(x) AS hi FROM elems GROUP BY i),
         deq AS (
           SELECT e.vec_id, e.i,
             b.lo + ((CASE WHEN b.hi = b.lo THEN 0
                      ELSE CAST(round((e.x - b.lo) * 255 / (b.hi - b.lo))
                             AS BIGINT)
                      END) - 128 + 128) * (b.hi - b.lo) / 255 AS xd
           FROM elems e JOIN bounds b USING (i)),
         dvec AS (SELECT vec_id, list(xd ORDER BY i) AS dv FROM deq GROUP BY vec_id)"""

  /** The single-query SQ replay — q219's oracle, and q220's verbatim
    * (the persisted probe is bit-identical to the inline pipeline).
    */
  private val SqOracleSingle: String =
    """WITH q AS (
           SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id=0),
         """ + SqOracleDeqCtes + """,
         approx AS (
           SELECT vec_id AS id,
             round(list_cosine_similarity(dv, (SELECT qv FROM q)), 6) AS sim_q8
           FROM dvec),
         cand AS (SELECT id, sim_q8 FROM approx ORDER BY sim_q8 DESC, id ASC LIMIT 80),
         res AS (
           SELECT c.id, c.sim_q8,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
               (SELECT qv FROM q)), 6) AS sim
           FROM cand c JOIN embeddings e ON e.vec_id = c.id)
         SELECT id, sim_q8, sim FROM res ORDER BY sim DESC, id ASC LIMIT 20"""
}
