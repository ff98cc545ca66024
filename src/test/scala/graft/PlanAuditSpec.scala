package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-surface plan hygiene: EVERY declared query's physical plan is
  * swept for the classic scale-killers, with the deliberate exceptions
  * named and justified inline. Individual PlanSpec tests pin specific
  * plans; this sweep guarantees no FUTURE query quietly ships an
  * accidental cross product or an unjustified global sort — adding one
  * means consciously adding its name here with a reason.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Queries allowed a BroadcastNestedLoopJoin. Every entry is a join
    * whose build side is a 1-row (or ≤k-row) AGGREGATE crossed onto the
    * data (Spark plans a condition-less crossJoin(broadcast(oneRow)) as
    * BNL; with one build row it is a map-side constant attach, not a
    * pair explosion):
    *  - q105_cross_merge — pandas merge(how="cross") itself: tiny×tiny.
    *  - q33/q75 — corpus-size scalar (N docs / N tokens) joined onto
    *    term stats.
    *  - q128 — query-doc weight norm (1 row) onto candidate scores.
    *  - q129/q134/q144 — global quantile/bin boundary rows onto values.
    *  - q147/q158 — global count n (1 row) onto ranked frames.
    *  - q164 — global max-event-id midpoint (1 row) onto the stream.
    * NOT listed, by design: q174's exact pairwise cosine IS a
    * deliberate O(n²) BNL (the oracle-fidelity baseline of semantic
    * dedup; q175's cluster blocking is the 100× path), but it runs
    * INSIDE resolveComponents' eager materialization, so the declared
    * query's final plan — all this audit can see — only scans the
    * checkpointed components. Its quadratic shape is documented at
    * the operator ([[graft.operators.Dedup.embeddingNearDupExact]])
    * and in the README scale-twins table instead.
    */
  private val allowNestedLoop: Set[String] = Set(
    "q105_cross_merge",
    "q33_tfidf",
    "q75_surprisal",
    "q128_sparse_topk",
    "q129_qcut",
    "q134_psi_drift",
    "q144_quantile_drift",
    "q147_spend_pct_rank",
    // q158 pruned round 8: withGlobalRowNumberTotal removed its
    // broadcast-total cross join
    "q164_type_drift",
    // Dsir keeps the corpus-total scalars in-plan as broadcast 1-row
    // frames (two of them: raw + target distributions)
    "q191_dsir_weights",
    // exact semantic decontamination: a DELIBERATE benchmark-bounded
    // BNL — the broadcast side is the eval set (query-sized by
    // definition) and each train row short-circuits on its first
    // match; decontaminateSemanticBanded is the LSH-prefiltered scale
    // path (ExtensionsSpec pins its ⊆/⊇ relation to this baseline)
    "q213_semantic_decontam",
    // BM25's (N, avgdl) corpus scalars ride as a broadcast 1-row
    // aggregate crossed onto the pruned posting rows (the q33/q191
    // constant-attach shape)
    "q214_bm25_topk",
    // SQ quantization attaches the per-dim [lo, hi] bounds as a
    // broadcast 1-ROW frame (dim-bounded arrays, the q191/q214
    // constant-attach shape); the candidate leg is a broadcast of
    // <= factor*k rows
    "q219_sq_topk",
    // the batch probe cross-applies the BROADCAST QUERY BATCH (3 rows
    // here; small by the lshProbeIndexMany assumption) onto the codes
    // scan — every (vector, query) pair is scored by design
    "q221_sq_probe_many")
  // q230 (clusterOccupancyDrift) left this list in round 16: the
  // bounded seg x cluster grid cross still executes, but it now lives
  // inside the lazily-staged `withShare` frame (Stage.materializeLazy
  // re-roots the final plan at a LogicalRDD), so the audited final
  // plan no longer contains it. The justification is unchanged — the
  // cross is append-count x quantizer size, never corpus-sized — and
  // the staged subtree is covered by the same bounded-frame argument
  // (DriftSpec pins the output)

  /** Queries allowed an `Exchange SinglePartition`. Two legitimate
    * shapes, each bounded:
    *  - GLOBAL AGGREGATES (1-row or k-row results): q02, q96, q99,
    *    q106, q123, q127, q140 — the final single-partition combine of
    *    a partial+final agg IS the answer's cardinality.
    *  - windows/sorts over an ALREADY-REDUCED frame orders of magnitude
    *    smaller than the corpus: q81 (per-user funnel flags), q129/q134/
    *    q144 (quantile boundaries), q147/q158 (ranked per-user/customer
    *    aggregates via GlobalRank's bounded boundary pass), q148 (day
    *    axis), q128/q33/q75 (per-term/doc stats), q156 (channel
    *    top-100s).
    *  - q09_rolling — the deliberate pandas-verbatim twin of q30
    *    (README scale-twins table; PlanSpec pins the pair).
    */
  private val allowSinglePartition: Set[String] = Set(
    "q02_col_reduce",
    "q09_rolling",
    "q33_tfidf",
    "q75_surprisal",
    "q81_funnel",
    "q96_mixture_weights",
    "q99_corr_matrix",
    "q106_approx_topk",
    "q123_data_quality",
    "q127_ab_lift",
    "q128_sparse_topk",
    "q129_qcut",
    "q134_psi_drift",
    "q140_chi2",
    "q144_quantile_drift",
    "q147_spend_pct_rank",
    "q148_adoption_curve",
    "q156_hybrid_rrf",
    "q158_revenue_deciles",
    "q164_type_drift", // global 1-row max-midpoint aggregate
    "q191_dsir_weights", // in-plan 1-row corpus-total aggregates (raw + target)
    "q193_cms_frequencies", // global CMS agg: partials are 80 KB matrices, final is 1 row
    "q200_mixture_schedule", // q96's shape: windows over the #sources-row aggregate
    "q209_bpe_mixture", // same schedule windows over a #sources-row aggregate
    "q214_bm25_topk", // the (N, avgdl) global 1-row aggregates' final combine
    "q219_sq_topk") // per-dim bounds: <= dim-row partials combine to a 1-row frame

  private def planOf(name: String): String = built(name)._1

  /** Queries whose STAGED (pre-reroot) subtrees are allowed a BNL —
    * `Stage.materialize*` re-roots plans at a LogicalRDD, so these
    * subtrees escape the final-plan sweep above; the probe below
    * recovers them (round-17 advice). Every entry is the documented
    * deliberate case:
    *  - q174/q225 — the exact O(n²) pairwise-cosine BNL baseline
    *    (operator doc on embeddingNearDupExact); it executes inside
    *    resolveComponents' eager materialization.
    *  - q230 — clusterOccupancyDrift's bounded (segments × clusters)
    *    grid cross: append-count × quantizer size, never corpus-sized.
    *  - q128 — the staged 4-consumer weight frame carries the same
    *    1-row query-norm constant-attach already justified on the
    *    main list above.
    *  - q191 — the round-17 overlapped target-distribution staging
    *    moved Dsir's 1-row corpus-total constant-attach (already
    *    justified on the main list) into a staged subtree.
    */
  private val allowStagedNestedLoop: Set[String] = Set(
    "q128_sparse_topk",
    "q174_semantic_dedup",
    "q191_dsir_weights",
    "q225_best_survivors",
    "q230_ivf_occupancy_drift")

  /** Staged-subtree plans, captured at Stage call sites while the
    * query frame is CONSTRUCTED. Index builds cached per (JVM, dir) may
    * stage frames only on their first construction, so coverage of
    * build-time subtrees depends on suite ordering — the query-path
    * stagings (the ones that execute per query) are always captured.
    */
  private def stagedPlansOf(name: String): Seq[String] = built(name)._2

  /** Every declared query built once, with the staged-plan probe
    * installed: its final physical plan and its staged subtrees. The
    * sweeps below all read these.
    */
  private lazy val built: Map[String, (String, Seq[String])] =
    SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val staged = scala.collection.mutable.ArrayBuffer.empty[String]
      graft.ops.Stage.stagedPlanProbe = Some(p => { staged += p; () })
      val df =
        try SparkEntry.queries(n)(spark, TestSpark.sf)
        finally graft.ops.Stage.stagedPlanProbe = None
      n -> (df.queryExecution.executedPlan.toString, staged.toSeq)
    }.toMap

  test("no declared query ever plans a CartesianProduct") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      assert(!planOf(n).contains("CartesianProduct"), s"$n plans a cartesian")
    }
  }

  test("nested-loop joins appear only with a justified 1-row build side") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      val bnl = planOf(n).contains("BroadcastNestedLoop")
      assert(
        !bnl || allowNestedLoop(n),
        s"$n plans an unjustified BroadcastNestedLoopJoin — add it to the " +
          "allow-list WITH a bounded-build-side argument, or fix the join")
      assert(
        bnl || !allowNestedLoop(n) || n == "q105_cross_merge",
        s"$n is allow-listed for BNL but no longer plans one — prune the list")
    }
  }

  test("single-partition exchanges appear only in global aggs / reduced frames") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      val sp = planOf(n).contains("Exchange SinglePartition")
      assert(
        !sp || allowSinglePartition(n),
        s"$n plans an Exchange SinglePartition — if the frame is reduced " +
          "or the result is a global aggregate, allow-list it with the " +
          "argument; otherwise repartition or use GlobalRank")
    }
  }

  test("staged (pre-reroot) subtrees carry no cartesian and only justified BNLs") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      val plans = stagedPlansOf(n)
      plans.zipWithIndex.foreach { case (p, i) =>
        assert(
          !p.contains("CartesianProduct"),
          s"$n staged subtree[$i] plans a cartesian")
        assert(
          !p.contains("BroadcastNestedLoop") || allowStagedNestedLoop(n),
          s"$n staged subtree[$i] plans an unjustified BNL — add the query " +
            "to allowStagedNestedLoop WITH a bounded-build-side argument, " +
            "or fix the join")
      }
    }
  }
}
