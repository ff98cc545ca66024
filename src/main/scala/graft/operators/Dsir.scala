package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSIR-style data selection: importance weights from hashed n-gram
  * distributions (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", arXiv:2302.03169). Given a large RAW corpus
  * and a small TARGET corpus (the domain you want more of), each raw
  * document gets log w(x) = Σ_features c(x,f) · (ln p_target(f) −
  * ln p_raw(f)) — the log-likelihood ratio under two hashed bigram
  * bag-of-features models. Resampling raw docs ∝ w(x) shifts the
  * training mixture toward the target domain; the weights are also a
  * useful domain-affinity score on their own.
  *
  * Features are bigrams hashed into `nBuckets` buckets via md5 (the
  * [[Sampling]] determinism contract: md5 is engine-portable, so the
  * DuckDB oracle reproduces bucket ids bit-for-bit — xxhash64 would be
  * Spark-only). Laplace-smoothed bucket distributions keep every
  * log-ratio finite, including buckets the target never saw.
  *
  * Scale shape: two counting aggregations (raw/target bucket counts —
  * nBuckets-bounded results), two driver scalars (totals), one per-doc
  * bucket-count aggregation, and one equi-join against the
  * nBuckets-sized ratio table (AQE broadcasts it). Documents shuffle
  * only as (id, bucket, partial count).
  */
object Dsir {

  /** (id, bucket): one row per bigram occurrence, bucket =
    * md5(u ⧺ ' ' ⧺ w) mod nBuckets (16 md5 bits — plenty for the
    * bucket counts DSIR uses).
    */
  def hashedBigramBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets > 0 && nBuckets <= 65536,
      s"nBuckets must be in (0, 65536], got $nBuckets")
    LangModel
      .docBigrams(docs, idCol, textCol)
      .select(
        col(idCol),
        pmod(
          conv(substring(md5(concat_ws(" ", col("u"), col("w"))), 1, 4), 16, 10)
            .cast("long"),
          lit(nBuckets.toLong)).cast("int").as("bucket"))
  }

  /** Laplace-smoothed bucket distribution of a corpus: EVERY bucket id
    * in [0, nBuckets) gets p = (c + α)/(total + α·nBuckets) — unseen
    * buckets carry the smoothing floor, so downstream ratios never hit
    * ln 0. The frame is nBuckets rows (a `spark.range` outer join).
    */
  def bucketDistribution(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int,
      alpha: Double = 1.0): DataFrame =
    distributionOfBuckets(
      hashedBigramBuckets(docs, idCol, textCol, nBuckets),
      nBuckets,
      alpha)

  /** [[bucketDistribution]] over an already-bucketed (id, bucket)
    * frame — lets [[importanceWeights]] stage the raw corpus's bucket
    * frame ONCE for both its consumers (the distribution and the
    * per-doc counts) instead of re-running tokenize→md5 per consumer.
    */
  private def distributionOfBuckets(
      bk: DataFrame,
      nBuckets: Int,
      alpha: Double): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val spark = bk.sparkSession
    val counts = bk.groupBy("bucket").agg(count(lit(1)).as("c"))
    // the total stays IN the plan as a broadcast 1-row frame (same
    // bounded-build-side shape as q33's df table): a driver .head()
    // here would serialize an extra job wave per distribution, and the
    // single final plan lets Catalyst reuse the counts exchange
    val total = counts.agg(coalesce(sum("c"), lit(0L)).as("__t"))
    spark
      .range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .crossJoin(broadcast(total))
      .select(
        col("bucket"),
        ((coalesce(col("c"), lit(0L)).cast("double") + alpha) /
          (col("__t").cast("double") + alpha * nBuckets)).as("p"))
  }

  /** Per-raw-document DSIR log importance weight. Output: (id,
    * n_grams, log_w) for every raw doc with ≥ 1 bigram.
    */
  def importanceWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int = 1024,
      alpha: Double = 1.0): DataFrame = {
    // §2.6 JOB OVERLAP (round-17 pilot): the raw-corpus bucket staging
    // and the TARGET corpus's tokenize→distribution are independent
    // legs, but the eager staging job previously serialized before the
    // final job could even start the target subtree — the target scan
    // idled behind the raw scan's tail. Submit both from a 2-thread
    // pool so the target leg back-fills cores the raw staging leaves
    // free. The target DISTRIBUTION (nBuckets rows, bounded) is staged
    // — never the target text. Each leg's internal plan (partition
    // grouping, partial sums, exchange reuse) is byte-identical to the
    // sequential form, so results don't change (q191 stays
    // oracle-green); only the job submission overlaps.
    val legPool = scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        2,
        (r: Runnable) => {
          val t = new Thread(r, "graft-dsir-leg")
          t.setDaemon(true)
          t
        }))
    val (rawBk, pTgt) =
      try {
        val rawF = scala.concurrent.Future(
          graft.ops.Stage.materializeOnce(
            hashedBigramBuckets(raw, idCol, textCol, nBuckets)))(legPool)
        val tgtF = scala.concurrent.Future(
          graft.ops.Stage.materializeOnce(
            bucketDistribution(target, idCol, textCol, nBuckets, alpha)
              .withColumnRenamed("p", "p_tgt")))(legPool)
        import scala.concurrent.duration.Duration
        (
          scala.concurrent.Await.result(rawF, Duration.Inf),
          scala.concurrent.Await.result(tgtF, Duration.Inf))
      } finally legPool.shutdown()
    val pRaw = distributionOfBuckets(rawBk, nBuckets, alpha)
      .withColumnRenamed("p", "p_raw")
    val ratio = pTgt
      .join(pRaw, "bucket")
      .select(col("bucket"), (log(col("p_tgt")) - log(col("p_raw"))).as("lr"))
    rawBk
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .join(ratio, "bucket")
      .groupBy(idCol)
      .agg(
        sum("c").as("n_grams"),
        sum(col("c").cast("double") * col("lr")).as("log_w"))
  }
}
