package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus n-gram language model + perplexity scoring — the
  * model-based document-quality pass of an LLM data pipeline (the
  * heavier sibling of the heuristic quality score / unigram surprisal):
  * train an interpolated Kneser–Ney bigram LM on the corpus itself,
  * then score every document's perplexity under it. High-perplexity
  * docs are boilerplate-free but possibly garbage; low-perplexity docs
  * are fluent but possibly templated — both tails are what curation
  * inspects (CCNet-style).
  *
  * Kneser–Ney (interpolated, single discount d):
  *
  *   P(w|u) = max(c(u,w) − d, 0) / c(u)  +  d·N₁₊(u·)/c(u) · N₁₊(·w)/B
  *
  * with c(u) = Σ_w c(u,w) (u as context), N₁₊(u·) = #distinct
  * followers of u, N₁₊(·w) = #distinct predecessors of w (the
  * continuation count — "how many contexts does w complete"), B =
  * #distinct bigrams. Every term is a counting aggregate, so the whole
  * trainer is partial+final aggregations over the bigram table — the
  * exchanges carry (bigram, partial count) rows, never documents; the
  * LM never leaves the cluster. B is the one scalar (driver literal).
  *
  * Trained-on-itself means no OOV smoothing branch is needed: every
  * scored bigram has c(u,w) ≥ 1. Scoring held-out text against a
  * frozen LM table works through the same join — unmatched bigrams
  * would take the continuation-only backoff term; that variant keeps
  * the join shape and is a WHERE away.
  */
object LangModel {

  /** Per-document adjacent token pairs (id, u, w) — lowercased
    * whitespace tokens, one row per bigram OCCURRENCE.
    */
  def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = TextFunctions.tokens(lower(col(textCol)))
    docs
      .select(col(idCol), tk.as("__t"))
      .where(size(col("__t")) >= 2)
      .select(
        col(idCol),
        explode(
          transform(
            sequence(lit(1), size(col("__t")) - 1),
            i =>
              struct(
                element_at(col("__t"), i).as("u"),
                element_at(col("__t"), i + 1).as("w")))).as("p"))
      .select(col(idCol), col("p.u").as("u"), col("p.w").as("w"))
  }

  /** The interpolated-KN bigram LM table (u, w, c_uw, p) trained on the
    * corpus. All counting; deterministic given the corpus and discount.
    */
  def knBigramLm(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0,1)")
    val bg = docBigrams(docs, idCol, textCol)
    // four consumers (count scalar, the join, and both stat aggs) —
    // materialize the aggregated bigram table once
    val bc = graft.ops.Stage.materializeOnce(
      bg.groupBy("u", "w").agg(count(lit(1)).as("c_uw")))
    // one pass over the (already tiny, aggregated) bigram-count table
    // yields both context stats; the continuation table is its twin on w
    val cu = bc.groupBy("u")
      .agg(sum("c_uw").as("c_u"), count(lit(1)).as("n1u"))
    val cw = bc.groupBy("w").agg(count(lit(1)).as("n1w"))
    val b = bc.count() // #distinct bigrams — the one driver scalar
    val d = lit(discount)
    bc.join(cu, "u")
      .join(cw, "w")
      .select(
        col("u"),
        col("w"),
        col("c_uw"),
        (greatest(col("c_uw").cast("double") - d, lit(0.0)) /
          col("c_u").cast("double") +
          (d * col("n1u").cast("double") / col("c_u").cast("double")) *
          (col("n1w").cast("double") / lit(b.toDouble))).as("p"))
  }

  /** Per-document bigram perplexity under [[knBigramLm]]:
    * exp(−mean ln P) over the doc's bigram occurrences. One equi-join
    * of the doc-bigram table against the aggregated LM (AQE broadcasts
    * the LM when it is small; both sides hash-partition on (u,w)
    * otherwise), one partial+final aggregation per doc.
    */
  def docPerplexity(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75): DataFrame = {
    val lm = knBigramLm(docs, idCol, textCol, discount)
      .select("u", "w", "p")
    docBigrams(docs, idCol, textCol)
      .join(lm, Seq("u", "w"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_bigrams"),
        exp(-avg(log(col("p")))).as("ppl"))
  }
}
