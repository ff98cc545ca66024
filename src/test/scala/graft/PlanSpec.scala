package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{RollingApplyExec, RunningWindow, RunningWindowExec, Windows}

/** Physical-plan assertions — the scale contract, checked, not assumed:
  * filters/projections reach the parquet scan, small dims broadcast,
  * aggregates are partial+final, hot expressions stay in codegen.
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 scan prunes to the four referenced lineitem columns") {
    val p = plan(SparkEntry.queries("q01_row_apply")(spark, TestSpark.sf))
    assert(p.contains("ReadSchema"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_shipdate") && !read.contains("l_extendedprice"))
    // "*(n)" prefixes mark whole-stage-codegen'd operators in toString
    assert(p.contains("*(1)"), s"no codegen stage in:\n$p")
  }

  test("q12 pushes the ship-date filter into the parquet scan") {
    val p = plan(SparkEntry.q12Composition(spark, TestSpark.sf))
    assert(p.contains("PushedFilters"))
    val scanLine = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("l_shipdate"))
    assert(scanLine.isDefined, s"no pushed l_shipdate filter in:\n$p")
  }

  test("q12 broadcasts the small dimension tables") {
    val p = plan(SparkEntry.q12Composition(spark, TestSpark.sf))
    assert(
      p.contains("BroadcastHashJoin"),
      s"expected broadcast joins in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q67 winsorize broadcasts the one-row-per-group bounds side") {
    val p = plan(SparkEntry.queries("q67_winsorize")(spark, TestSpark.sf))
    assert(
      p.contains("BroadcastHashJoin"),
      s"bounds join should broadcast (one row per group):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q67 winsorize hint is load-bearing when auto-broadcast is off") {
    // At dump SF the un-hinted bounds side auto-broadcasts anyway, so
    // the round-16 before/after plans were identical and the hint's
    // value was unproven. The hint exists for the case the guide §3.1
    // warns about: post-aggregation size ESTIMATES exceed the
    // threshold at scale even when the output is #groups rows.
    // Simulate that estimate miss by disabling auto-broadcast: the
    // un-hinted twin of winsorize's join must degrade to a shuffle
    // join of the WHOLE input on the low-cardinality group key, while
    // winsorize's explicit hint keeps the broadcast.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = Tables
        .orders(spark, TestSpark.sf)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val hinted = plan(
        graft.operators.Sampling
          .winsorize(df, "o_totalprice", keys = Seq("o_orderpriority")))
      assert(
        hinted.contains("BroadcastHashJoin"),
        s"winsorize must keep broadcasting under estimate miss:\n$hinted")
      val bounds = df
        .groupBy("o_orderpriority")
        .agg(
          expr("percentile(o_totalprice, 0.05)").as("__lo"),
          expr("percentile(o_totalprice, 0.95)").as("__hi"))
      val unhinted = plan(
        df.join(bounds, df("o_orderpriority") <=> bounds("o_orderpriority")))
      assert(
        unhinted.contains("SortMergeJoin") ||
          unhinted.contains("ShuffledHashJoin"),
        s"un-hinted twin should shuffle-join under estimate miss:\n$unhinted")
    } finally spark.conf.set(key, prev)
  }

  test("q62 segment dedup: hash joins only, partial+final counts") {
    val p = plan(SparkEntry.queries("q62_segment_dedup")(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
  }

  test("q73 attribution self-join: equi-join on user, no nested loop") {
    val p = plan(
      SparkEntry.queries("q73_attribution_join")(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.contains("Join"), s"expected an equi-join in:\n$p")
  }

  test("q80 cohort: both aggregations partial+final") {
    val p = plan(
      SparkEntry.queries("q80_cohort_retention")(spark, TestSpark.sf))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4)
    assert(!p.contains("CartesianProduct"))
  }

  test("q06 aggregate is partial+final (map-side combine)") {
    val p = plan(SparkEntry.queries("q06_group_scalar")(spark, TestSpark.sf))
    assert(p.contains("partial_avg") || p.contains("HashAggregate"))
    // two HashAggregate operators around the exchange
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
  }

  test("grouped window (q10) exchanges once on the group key") {
    val df = SparkEntry.queries("q10_grouped_rolling")(spark, TestSpark.sf)
    val p = plan(df)
    assert(p.contains("Window"))
    assert(
      p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning")) === 1,
      s"expected exactly one hash exchange in:\n$p")
  }

  test("time-offset rolling (q42) exchanges once, frames inside WindowExec") {
    val p = plan(SparkEntry.queries("q42_rolling_range")(spark, TestSpark.sf))
    assert(p.contains("Window"))
    assert(p.contains("RangeFrame"), s"expected a range frame in:\n$p")
    assert(
      p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"expected exactly one hash exchange in:\n$p")
    // both aggregates share ONE Window operator (cents staged to an
    // attribute so CollapseWindow merges the specs)
    assert(
      p.linesIterator.count(_.trim.startsWith("+- Window")) === 1,
      s"expected a single collapsed Window operator in:\n$p")
  }

  test("approx percentiles (q43) aggregate partial+final (bounded sketch)") {
    val p = plan(SparkEntry.queries("q43_approx_percentiles")(spark, TestSpark.sf))
    assert(
      p.contains("partial_approx_percentile"),
      s"expected a partial approx_percentile (map-side sketch merge) in:\n$p")
    assert(
      p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"expected exactly one hash exchange in:\n$p")
  }

  test("resample (q84) is a hash agg, not a sort — and it's partial+final") {
    val p = plan(SparkEntry.queries("q84_resample")(spark, TestSpark.sf))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
    // a naive resample sorts by time; ours never orders anything
    assert(!p.contains("Sort "), s"resample must not global-sort:\n$p")
    assert(
      p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"expected exactly one hash exchange in:\n$p")
  }

  test("idxmax (q85): aggregation reuses the window's user_id exchange") {
    val p = plan(SparkEntry.queries("q85_idxmax")(spark, TestSpark.sf))
    assert(p.contains("Window"))
    assert(
      p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"window + agg should share one exchange on user_id:\n$p")
  }

  test("sequence packing (q87): agg on (source,bin) reuses the source exchange") {
    val p = plan(SparkEntry.queries("q87_pack_sequences")(spark, TestSpark.sf))
    assert(p.contains("Window"))
    // hash(source) co-locates every (source, bin) group — Catalyst must
    // recognize the subset clustering and not re-shuffle
    assert(
      p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"expected exactly one hash exchange in:\n$p")
  }

  test("token explode (q91): partial count before the shuffle, TakeOrdered top-k") {
    val p = plan(SparkEntry.queries("q91_token_explode")(spark, TestSpark.sf))
    assert(p.contains("Generate explode"), s"expected explode generator:\n$p")
    assert(
      p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"count must combine map-side (exploded rows never shuffle):\n$p")
    assert(
      p.contains("TakeOrderedAndProject"),
      s"top-50 should be TakeOrdered, not global sort+limit:\n$p")
  }

  test("merge indicator (q94): equi-join, never a nested loop") {
    val p = plan(SparkEntry.queries("q94_merge_indicator")(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"full outer join must be a shuffled equi-join:\n$p")
  }

  test("corr matrix (q99): all six pairs in one partial+final agg pass") {
    val p = plan(SparkEntry.queries("q99_corr_matrix")(spark, TestSpark.sf))
    assert(
      p.linesIterator.count(_.contains("HashAggregate")) === 2,
      s"six co-moments must share one agg pass:\n$p")
    assert(
      p.linesIterator.count(_.contains("Exchange")) === 1,
      s"expected a single exchange to the final reducer:\n$p")
  }

  test("global rank (q116) never plans Exchange SinglePartition") {
    val p = plan(SparkEntry.queries("q116_global_rank")(spark, TestSpark.sf))
    assert(
      !p.contains("Exchange SinglePartition"),
      s"scalable rank must not funnel through one partition:\n$p")
  }

  test("source overlap (q118): sizes broadcast back onto the pair agg") {
    val p = plan(SparkEntry.queries("q118_source_overlap")(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct"))
    assert(
      p.contains("BroadcastHashJoin"),
      s"per-source sizes (#sources rows) must broadcast:\n$p")
  }

  test("sparse similarity (q128): query weights broadcast into the term join") {
    val p = plan(SparkEntry.queries("q128_sparse_topk")(spark, TestSpark.sf))
    assert(
      p.contains("BroadcastHashJoin"),
      s"query-side weights must broadcast onto the postings:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must TakeOrdered:\n$p")
  }

  test("curation pipeline (q130): quality filter reaches the parquet scan") {
    val p = plan(
      SparkEntry.queries("q130_curation_pipeline")(spark, TestSpark.sf))
    val scanLine = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("n_chars"))
    assert(scanLine.isDefined, s"n_chars >= 60 not pushed to scan:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
  }

  test("per-group cap (q47) pre-prunes map-side via WindowGroupLimit") {
    val p = plan(SparkEntry.queries("q47_group_cap")(spark, TestSpark.sf))
    // rank<=n pushdown: each map task keeps its local top-n BEFORE the
    // exchange — the difference between shuffling O(parts·n) rows and
    // shuffling every row of every group
    assert(
      p.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pushdown in:\n$p")
  }

  test("q221/q216 many-probe rank cuts pre-prune map-side via WindowGroupLimit") {
    // the per-query row_number cut is what keeps corpus×queries rows
    // from shuffling in full: WindowGroupLimit keeps each map task's
    // local top-k per query BEFORE the exchange. q47 pins the pattern
    // for plain grouped caps; these pin it for the two build-once/
    // probe-many operators whose scored relation is a cross product —
    // the scale failure mode a rewrite could silently reintroduce.
    val p221 = plan(SparkEntry.queries("q221_sq_probe_many")(spark, TestSpark.sf))
    assert(
      p221.contains("WindowGroupLimit"),
      s"q221 per-query cut must push WindowGroupLimit:\n$p221")
    val p216 = plan(SparkEntry.queries("q216_bm25_probe_many")(spark, TestSpark.sf))
    assert(
      p216.contains("WindowGroupLimit"),
      s"q216 per-query cut must push WindowGroupLimit:\n$p216")
  }

  test("q225 scored survivors: rank and count windows share one component exchange") {
    // bestSurvivors' claim: ONE exchange on the component key feeds
    // both the preference rank and the n_members count — a second
    // hash exchange would double-shuffle the corpus at scale
    val p = plan(SparkEntry.queries("q225_best_survivors")(spark, TestSpark.sf))
    assert(
      p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(component")) === 1,
      s"expected exactly one component-key exchange in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q32 IVF probe prunes corpus partitions instead of scanning") {
    val p = plan(SparkEntry.queries("q32_ivf_topk")(spark, TestSpark.sf))
    val pf = p.linesIterator.find(l =>
      l.contains("PartitionFilters: [") && l.contains("cluster"))
    assert(pf.isDefined, s"no cluster partition filter in probe scan:\n$p")
  }

  test("q18 ANN probe prunes LSH bucket partitions instead of scanning") {
    val p = plan(SparkEntry.queries("q18_ann_lsh_topk")(spark, TestSpark.sf))
    val pf = p.linesIterator.find(l =>
      l.contains("PartitionFilters: [") && l.contains("band"))
    assert(pf.isDefined, s"no band partition filter in probe scan:\n$p")
  }

  test("q216 BM25 probe reads pruned postings, never re-tokenizes the corpus") {
    val p = plan(SparkEntry.queries("q216_bm25_probe_many")(spark, TestSpark.sf))
    // partition pruning: the scan touches only the query terms' shards
    val pf = p.linesIterator.find(l =>
      l.contains("PartitionFilters: [") && l.contains("shard"))
    assert(pf.isDefined, s"no shard partition filter in postings scan:\n$p")
    // the term IN (...) literal filter reaches parquet (row-group
    // skipping inside surviving shards — the build sorts by term)
    val pushed = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("term"))
    assert(pushed.isDefined, s"term filter not pushed to postings scan:\n$p")
    // build-once contract: the PROBE plan must not tokenize the corpus —
    // no documents scan, no split-on-whitespace projection
    assert(
      !p.contains("documents.parquet"),
      s"probe plan re-reads the corpus:\n$p")
    assert(!p.contains("split("), s"probe plan re-tokenizes:\n$p")
  }

  test("tfIdf never forces a broadcast of the document-frequency table") {
    // at web scale the vocabulary is not broadcastable: with the
    // broadcast threshold off, the term join must degrade to a shuffle
    // join (a forced broadcast() hint would still plan BroadcastHashJoin)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(
        graft.operators.Sampling
          .tfIdf(Tables.documents(spark, TestSpark.sf), "doc_id", "text"))
      assert(!p.contains("BroadcastHashJoin"), s"forced broadcast in:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q41 range join is bucketized equi-join, never nested loop") {
    val p = plan(SparkEntry.queries("q41_range_join")(spark, TestSpark.sf))
    assert(
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nested-loop range join in:\n$p")
  }

  test("dedup candidate generation is equi-join shaped, never cartesian") {
    val p = plan(SparkEntry.queries("q14_minhash_neardup")(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("scale twins: q09 single-partition window is intentional; q30 is not") {
    // q09 is pandas' global sequence verbatim — an ungrouped ORDER BY
    // window MUST plan Exchange SinglePartition (README "Scale twins").
    // If this assertion ever fails because Spark learned to parallelize
    // it, retire rollingGlobalScalable; until then the pair is the
    // documented scale story, not an accident.
    val p09 = plan(SparkEntry.queries("q09_rolling")(spark, TestSpark.sf))
    assert(
      p09.contains("SinglePartition"),
      s"q09 expected the deliberate single-partition window in:\n$p09")
    // q30 (same output, rollingGlobalScalable) never funnels to one
    // partition: the sort is range-partitioned and the rolling operator
    // runs one task per range
    val p30 = plan(SparkEntry.queries("q30_rolling_scalable")(spark, TestSpark.sf))
    assert(
      !p30.contains("SinglePartition"),
      s"q30 must stay partitioned, got:\n$p30")
  }

  test("minhash ingest (q173): the index side broadcasts the batch, never sort-merges") {
    // the 100-TB contract of the incremental ingest path: the persisted
    // index is only ever SCANNED — every join against it builds a hash
    // relation from the (small, broadcast) batch side
    val p = plan(SparkEntry.queries("q173_minhash_ingest")(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct"))
    assert(
      !p.contains("SortMergeJoin"),
      s"index joins must broadcast the batch side, got:\n$p")
    assert(
      p.contains("BroadcastHashJoin"),
      s"expected broadcast joins against the index scans:\n$p")
  }

  test("embed ingest (q177): the index side broadcasts the batch, never sort-merges") {
    // same 100-TB contract as q173, embedding modality: the persisted
    // LSH index is only ever scanned; both the candidate band-join and
    // the exact-cosine confirm build their hash relation from the batch
    val p = plan(SparkEntry.queries("q177_embed_ingest")(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct"))
    assert(
      !p.contains("SortMergeJoin"),
      s"index joins must broadcast the batch side, got:\n$p")
    assert(
      p.contains("BroadcastHashJoin"),
      s"expected broadcast joins against the index scans:\n$p")
  }

  test("multi-distinct (q178): no Expand; the verbatim two-distinct form Expands") {
    // Catalyst plans a SINGLE count(DISTINCT) as the two-stage agg
    // already (q34 — no Expand even in its verbatim form), but TWO
    // distinct aggregates in one agg() replicate every row per
    // distinct column through the exchange. q178 computes each as its
    // own two-stage agg + k-row join. Pin all three facts.
    val p34 = plan(SparkEntry.queries("q34_distinct_agg")(spark, TestSpark.sf))
    assert(!p34.contains("Expand"), "single-distinct should be Expand-free")
    val p178 = plan(SparkEntry.queries("q178_distinct_scalable")(spark, TestSpark.sf))
    assert(!p178.contains("Expand"), s"q178 must not plan Expand:\n$p178")
    val verbatim = graft.Tables
      .events(spark, TestSpark.sf)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")),
        countDistinct(expr("ts div 86400000000000")),
        count(lit(1)))
    assert(
      verbatim.queryExecution.executedPlan.toString.contains("Expand"),
      "two distinct aggregates should trigger the Expand rewrite")
  }

  test("expanding fold (q183) plans no collect_list — O(1) window state") {
    // q55's black-box twin materializes the frame via collect_list
    // (O(n) per row, the honest arbitrary-UDF cost); the Aggregator
    // path must NOT — WindowExec feeds the fold incrementally
    val p183 = plan(SparkEntry.queries("q183_expanding_fold")(spark, TestSpark.sf))
    assert(
      !p183.contains("collect_list"),
      s"q183 must fold incrementally, found collect_list in:\n$p183")
    val p55 = plan(SparkEntry.queries("q55_expanding_apply")(spark, TestSpark.sf))
    assert(p55.contains("collect_list"), "q55 is the collect-based twin")
  }

  test("global cumsum (q168) never plans Exchange SinglePartition") {
    // the ungrouped running sum is the same trap as q09's window —
    // prefixSumScalable's two-phase scan must keep it range-partitioned
    val p = plan(SparkEntry.queries("q168_global_cumsum")(spark, TestSpark.sf))
    assert(
      !p.contains("SinglePartition"),
      s"scalable prefix sum must not funnel through one partition:\n$p")
  }

  private def rollingOps(df: DataFrame): Seq[RollingApplyExec] =
    collect(df.queryExecution.executedPlan) { case r: RollingApplyExec => r }

  test("black-box rolling (q09, q10) streams in RollingApplyExec over a Sort, no collect_list") {
    Seq("q09_rolling", "q10_grouped_rolling").foreach { q =>
      val df = SparkEntry.queries(q)(spark, TestSpark.sf)
      val p = plan(df)
      val ops = rollingOps(df)
      assert(ops.size === 1, s"$q expected one RollingApplyExec in:\n$p")
      assert(
        ops.head.child.isInstanceOf[SortExec],
        s"$q expected RollingApplyExec directly above a Sort in:\n$p")
      assert(!p.contains("collect_list"), s"$q must not collect frames:\n$p")
    }
  }

  test("a session built without GraftExtensions plans RollingApplyExec") {
    // TestSpark's session has no extensions; a new session also has no
    // strategy registered yet — the first rolling apply registers it
    val fresh = spark.newSession()
    val df = fresh.range(10).toDF("i").withColumn("v", col("i") * 1.5)
    val out = Windows.rollingCollect(df, col("v"), Seq(col("i")), Nil, 3, "r")(_.sum)
    assert(rollingOps(out).size === 1, plan(out))
    val got = out.orderBy("i").select("r").collect().map(r => Option(r.get(0)))
    assert(got.take(3).toSeq === Seq(None, None, Some(1.5 * (0 + 1 + 2))))
    assert(got.last === Some(1.5 * (7 + 8 + 9)))
  }

  test("ungrouped rolling over a range-ordered cached frame plans no Exchange and no Sort") {
    val df = spark.range(0, 30, 1, 3).withColumn("v", col("id") * 0.5).cache()
    try {
      df.count()
      val out = Windows.rollingCollect(df, col("v"), Seq(col("id")), Nil, 4, "r")(_.sum)
      val ops = rollingOps(out)
      assert(ops.size === 1, plan(out))
      assert(collect(ops.head) { case e: Exchange => e }.isEmpty, plan(out))
      assert(collect(ops.head) { case s: SortExec => s }.isEmpty, plan(out))
    } finally df.unpersist(blocking = true)
  }

  test("ungrouped rolling over a repartition(3) frame still funnels to one partition") {
    val df = spark.range(0, 30, 1, 3).withColumn("v", col("id") * 0.5).repartition(3)
    val p = plan(Windows.rollingCollect(df, col("v"), Seq(col("id")), Nil, 4, "r")(_.sum))
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("q30 runs RollingApplyExec over a range Exchange + Sort, with no RDD re-root") {
    val df = SparkEntry.queries("q30_rolling_scalable")(spark, TestSpark.sf)
    val p = plan(df)
    val ops = rollingOps(df)
    assert(ops.size === 1, p)
    assert(collect(ops.head) { case s: SortExec => s }.size === 1, p)
    val exchanges = collect(ops.head) { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(exchanges.size === 1 && exchanges.head.isInstanceOf[RangePartitioning], p)
    assert(!p.contains("ExistingRDD") && !p.contains("LogicalRDD"), p)
  }

  test("q10 and q11 keep state per key over one hash exchange and a Sort on event_id alone") {
    Seq("q10_grouped_rolling", "q11_grouped_expanding").foreach { q =>
      val df = SparkEntry.queries(q)(spark, TestSpark.sf)
      val p = df.queryExecution.executedPlan
      val ops = collect(p) {
        case r: RollingApplyExec => r
        case r: RunningWindowExec => r
      }
      assert(ops.size === 1, s"$q:\n$p")
      assert(ops.head.children.head.isInstanceOf[SortExec], s"$q:\n$p")
      val sorts = collect(p) { case s: SortExec => s.sortOrder.map(_.child.sql) }
      assert(sorts === Seq(Seq("event_id")), s"$q:\n$p")
      val exchanges = collect(p) { case e: ShuffleExchangeExec => e.outputPartitioning.toString }
      assert(exchanges.size === 1 && exchanges.head.startsWith("hashpartitioning(user_id"), s"$q:\n$p")
      assert(collect(p) { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty, s"$q:\n$p")
    }
  }

  test("a WindowExec on (user_id, event_id) feeding the running operator adds no second Sort") {
    val byUser = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("event_id")
    // the running sum reads the lag's output, so the two windows stay apart
    val lagged = Tables.events(spark, TestSpark.sf).withColumn("prev", lag("value", 1).over(byUser))
    val out = Windows.expandingAgg(lagged, col("prev"), Seq(col("event_id")), Seq(col("user_id")), "cum")(sum)
    val p = out.queryExecution.executedPlan
    assert(collect(p) { case r: RunningWindowExec => r }.size === 1, p)
    assert(collect(p) { case w: org.apache.spark.sql.execution.window.WindowExec => w }.size === 1, p)
    val sorts = collect(p) { case s: SortExec => s.sortOrder.map(_.child.sql) }
    assert(sorts === Seq(Seq("user_id", "event_id")), p)
    assert(collect(p) { case e: ShuffleExchangeExec => e }.size === 1, p)
  }

  test("planning a window above a running one leaves the running one's own plan alone") {
    RunningWindow.register(spark)
    val byUser = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("event_id")
    val running = Tables.events(spark, TestSpark.sf)
      .withColumn("cum", sum("value").over(byUser.rowsBetween(Long.MinValue, 0)))
    val total = running.withColumn("tot", sum("cum").over(org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
    val above = total.queryExecution.executedPlan
    assert(collect(above) { case r: RunningWindowExec => r }.isEmpty, above)
    assert(collect(above) { case w: org.apache.spark.sql.execution.window.WindowExec => w }.size === 2, above)
    assert(collect(above) { case s: SortExec => s }.size === 1, above)
    // the strategy over the very nodes of the pair's plan: the upper
    // window takes the lower one with it, and leaves no mark on it, so
    // the lower one planned alone afterwards is still running
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def node(name: String) = total.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.windowExpressions.exists(_.name == name) => w
    }.head
    val pair = RunningWindow.Strategy(node("tot"))
    assert(RunningWindow.Strategy(node("cum")).exists(_.isInstanceOf[RunningWindowExec]))
    assert(pair.size === 1, pair)
    assert(pair.head.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.size === 2, pair)
    val alone = running.queryExecution.executedPlan
    assert(collect(alone) { case r: RunningWindowExec => r }.size === 1, alone)
    assert(collect(alone) { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty, alone)
  }

  test("a window above a running window on the same keys keeps both on WindowExec and one Sort (q136)") {
    RunningWindow.register(spark)
    val p = SparkEntry.queries("q136_weighted_median")(spark, TestSpark.sf).queryExecution.executedPlan
    assert(collect(p) { case r: RunningWindowExec => r }.isEmpty, p)
    assert(collect(p) { case w: org.apache.spark.sql.execution.window.WindowExec => w }.size === 2, p)
    assert(collect(p) { case s: SortExec => s }.size === 1, p)
  }
}
