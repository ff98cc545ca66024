package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed logistic regression over hashed n-gram features — the
  * model-BASED quality/domain classifier of web-corpus pipelines (the
  * fastText linear-classifier role in CCNet and its descendants:
  * score every document with a tiny trained model, keep/bucket by
  * score), trained inside the engine instead of imported.
  *
  * Features are [[Dsir.hashedBigramBuckets]] md5-hashed bigram counts,
  * L1-normalized per document (x_b = c_b / Σc — the fastText averaging
  * convention, which also makes the learning rate length-invariant).
  * The model is w ∈ R^nBuckets + bias; p(x) = σ(w·x + b).
  *
  * TRAINING is full-batch gradient descent: the gradient of the mean
  * log-loss, ∇_w = mean(err·x) over docs with err = p − y, is one
  * partial+final aggregation per round whose result is nBuckets rows —
  * the exchange carries (bucket, partial sum), never documents. The
  * driver holds only the nBuckets-sized weight vector and loops rounds
  * (GD rounds are sequential by nature — the [[functions.Bpe]] driver-
  * loop stance). The labeled feature frame is staged ONCE via
  * [[graft.ops.Stage.materializeOnce]], pre-partitioned by doc id;
  * each round's weights ride in the plan as an array LITERAL (the
  * model is plan-sized by design), so a round is a single job — an
  * unsorted id-window for the margins feeding the gradient agg — with
  * no join, no broadcast, no corpus re-tokenization.
  *
  * Full-batch (not SGD) is the deliberate scale choice: each round is
  * a deterministic aggregation with exact-same-result-on-any-cluster
  * semantics (modulo float summation order), there is no sampling
  * state, and R·(nBuckets) driver floats is the entire model footprint.
  *
  * SCORING ([[score]]) is one per-doc aggregation with the weights
  * again in-plan — docs shuffle only as (id, bucket, x).
  */
object LinearModel {

  /** Trained model: `weights(b)` for bucket b, plus intercept. */
  case class Model(weights: Array[Double], bias: Double, nBuckets: Int)

  /** Per-doc L1-normalized bucket features: (id, bucket, x). One
    * tokenize pass; callers stage the result when reusing it.
    */
  def features(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int): DataFrame =
    Dsir
      .hashedBigramBuckets(docs, idCol, textCol, nBuckets)
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).cast("double").as("__c"))
      .withColumn(
        "x",
        col("__c") / sum("__c").over(
          org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
      .drop("__c")

  /** Train by `rounds` full-batch GD steps on (docs, 0/1 `labelCol`).
    * Deterministic: zero init, fixed round count, no RNG. Returns the
    * model (driver-side, nBuckets + 1 doubles — bounded by design).
    */
  def train(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      nBuckets: Int = 256,
      rounds: Int = 8,
      lr: Double = 4.0,
      l2: Double = 0.0,
      preFeatures: Option[DataFrame] = None): Model = {
    require(rounds >= 1 && lr > 0 && l2 >= 0, "need rounds>=1, lr>0, l2>=0")
    // INTERCEPT-AS-FEATURE: every doc gets one extra row
    // (bucket = nBuckets, x = 1) so the bias trains as just another
    // weight — one gradient aggregation per round covers w AND b.
    // Stage ONCE: every round joins this frame twice (margin + grad).
    val labeled = docs
      .select(col(idCol), col(labelCol).cast("double").as("__y"))
    // base features staged first: they appear twice in the plan below
    // (the rows themselves + the distinct-id intercept rows).
    // `preFeatures` lets a train+score caller pay the tokenize pass
    // once — it must be a STAGED [[features]] frame over the same
    // (docs, idCol, textCol, nBuckets).
    val baseFeats = preFeatures.getOrElse(
      graft.ops.Stage.materializeOnce(
        features(docs, idCol, textCol, nBuckets)))
    // ONE ROW PER DOC with the sparse features as an array column,
    // grouped ONCE at staging: the per-doc margin is then a codegen'd
    // array fold each round — no window (the previous shape re-SORTED
    // all feature rows inside every round's WindowExec; measured ~60%
    // of q194's steady-state wall), no join, no per-round exchange
    // except the (nBuckets+1)-bounded gradient combine.
    val docFeats = graft.ops.Stage.materializeOnce(
      baseFeats
        .unionByName(
          baseFeats
            .select(col(idCol)).distinct()
            .select(col(idCol), lit(nBuckets).as("bucket"), lit(1.0).as("x")))
        .join(labeled, Seq(idCol))
        .groupBy(col(idCol))
        .agg(
          collect_list(struct(col("bucket"), col("x"))).as("__f"),
          first(col("__y")).as("__y")))
    val nDocs = docFeats.count().toDouble
    require(nDocs > 0, "empty training corpus (no doc yields a bigram)")
    // duplicate doc ids would double feature contributions inside the
    // grouped array AND make first(__y) pick an arbitrary label —
    // silently nondeterministic weights. Fail loud instead (one small
    // job, once per train, not per round); the caller dedupes.
    require(
      labeled.groupBy(col(idCol)).count().where(col("count") > 1).isEmpty,
      s"duplicate values in id column '$idCol' — train requires one row " +
        "per document (dedupe first)")

    val spark = docs.sparkSession
    import spark.implicits._
    val w = new Array[Double](nBuckets + 1)
    var r = 0
    while (r < rounds) {
      // weights ride as a ONE-ROW BROADCAST FRAME (nBuckets+1 doubles —
      // model-sized, not data-sized), NOT as an in-plan array literal:
      // a literal bakes the round's values into the generated source,
      // so every round would Janino-compile a fresh stage; as data the
      // plan source is round-invariant and the codegen cache hits
      // after round 1. The broadcast is ~2 KB per round — no
      // corpus-side exchange. One round = ONE job: margin fold + err
      // per doc row, explode the same array for the gradient
      // contributions, (nBuckets+1)-bounded combine.
      val wDf = Seq(Tuple1(w.toIndexedSeq)).toDF("__w")
      val margin = aggregate(
        col("__f"),
        lit(0.0),
        (acc, f) =>
          acc + f.getField("x") *
            element_at(col("__w"), f.getField("bucket") + 1))
      val grads = docFeats
        .crossJoin(broadcast(wDf))
        .withColumn(
          "__err",
          lit(1.0) / (lit(1.0) + exp(-margin)) - col("__y"))
        .select(explode(col("__f")).as("f"), col("__err"))
        .groupBy(col("f.bucket").as("bucket"))
        .agg(sum(col("f.x") * col("__err")).as("__g"))
        .collect()
      val gw = new Array[Double](nBuckets + 1)
      grads.foreach(row => gw(row.getInt(0)) = row.getDouble(1) / nDocs)
      var i = 0
      while (i <= nBuckets) {
        // the intercept is conventionally exempt from L2
        val reg = if (i < nBuckets) l2 * w(i) else 0.0
        w(i) -= lr * (gw(i) + reg)
        i += 1
      }
      r += 1
    }
    Model(w.take(nBuckets), w(nBuckets), nBuckets)
  }

  /** Score documents under a trained model: (id, p) with p = σ(w·x+b).
    * One broadcastable join + one per-doc agg; docs shuffle only as
    * (id, bucket, x). Docs with no bigram (empty/1-token text) score
    * σ(b) — the prior — via the left join's null-sum → 0 path.
    */
  def score(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: Model,
      preFeatures: Option[DataFrame] = None): DataFrame = {
    // weights as an in-plan array literal (score runs ONCE — the
    // per-round recompile trap is train's, not score's)
    val wArr = array(model.weights.toIndexedSeq.map(lit): _*)
    val margins = preFeatures
      .getOrElse(features(docs, idCol, textCol, model.nBuckets))
      .groupBy(col(idCol))
      .agg(sum(col("x") * element_at(wArr, col("bucket") + 1)).as("__m"))
    docs
      .select(col(idCol))
      .join(margins, Seq(idCol), "left")
      .select(
        col(idCol),
        (lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("__m"), lit(0.0)) + lit(model.bias)))))
          .as("p"))
  }
}
