package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Session, SparkEntry}

/** Stress harness: prove the scale-twin protocols behave at 10× the
  * benchmarked corpus (the biggest jump local disk affords) instead of
  * extrapolating from sf0.1. Three phases, one main:
  *
  *   gen  <srcDir> <outDir> [factor] — explode the five big tables by
  *        `factor` with DISTINCT content per replica (small dims are
  *        copied). Replication is designed to scale each operator's
  *        true workload linearly, not to build degenerate inputs:
  *        documents get a per-replica character substitution (so
  *        cross-replica shingles differ — naive text copies would turn
  *        every doc into a factor-sized near-dup cluster and square the
  *        MinHash pair graph); embeddings get a per-replica orthogonal
  *        sign-flip pattern (intra-replica cosine structure is
  *        preserved EXACTLY — orthogonal transforms keep pairwise
  *        cosines — while cross-replica pairs scatter below any dedup
  *        threshold); key columns re-key as key*factor+replica.
  *   run  <dir1x> <dir10x> [reps] — time the scale-twin queries at
  *        both scales (min over reps), report the wall-time ratio.
  *        Linear-ish ratios (≈factor, modulo fixed overhead and
  *        n log n sorts) are the pass; a superlinear cliff is the bug.
  *   skew <dir10x> — the worst planted-skew shapes at stress scale:
  *        a 40,000-spoke component star through salted vs unsalted
  *        pointer-jump (equality + time), and a 100×-hot-key join
  *        through SkewJoin.salted vs the plain join (row-count
  *        equality + time).
  *   invariance <dir10x> — partition-shape invariance at stress scale:
  *        exact twins re-run under different shuffle-partition counts
  *        and scan-split sizes must produce bit-identical result sets
  *        (order-free fingerprint).
  *
  * Results print as one JSON line per phase; STRESS.md records them.
  */
object Stress {

  // ---- gen ----

  private def replicated(df: DataFrame, factor: Int): DataFrame =
    df.withColumn(
      "__r",
      explode(array((0 until factor).map(r => lit(r.toLong)): _*)))

  private def rekey(c: String, factor: Int): Column =
    col(c) * factor + col("__r")

  /** Per-replica reversible character substitution: two DISJOINT
    * 10-letter alphabets rotated independently by (r mod 10, r div 10)
    * — 100 distinct bijective substitutions, so no two replicas up to
    * factor 100 carry identical text (a single rotated alphabet
    * collides at r and r+10, handing every doc an exact cross-replica
    * duplicate and silently corrupting the near-dup scaling ratios).
    * Text statistics (length, word shape) survive; shingle hashes
    * across replicas do not collide. Factors beyond 100 fail loudly in
    * [[gen]] rather than degenerate.
    */
  private[tools] val MaxFactor = 100

  private def mutateText(textCol: Column, factor: Int): Column = {
    val a1 = "aeiounrstl"
    val a2 = "bcdfghmpwy"
    (1 until factor).foldLeft(when(col("__r") === 0, textCol)) { (acc, r) =>
      val k1 = r % a1.length
      val k2 = (r / a1.length) % a2.length
      acc.when(
        col("__r") === r,
        translate(
          textCol,
          a1 + a2,
          a1.drop(k1) + a1.take(k1) + a2.drop(k2) + a2.take(k2)))
    }.otherwise(textCol)
  }

  def gen(srcDir: String, outDir: String, factor: Int): Unit = {
    require(
      factor >= 1 && factor <= MaxFactor,
      s"factor must be in [1, $MaxFactor] (got $factor): mutateText has " +
        s"$MaxFactor distinct substitutions, beyond which replicas repeat " +
        "text verbatim and the near-dup ratios measure planted duplicates, " +
        "not the engine")
    val spark = Session.initialize(Session.workers())
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts)
        .write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(spark.read.parquet(s"$srcDir/$t.parquet"), t, 4)

    val li = replicated(spark.read.parquet(s"$srcDir/lineitem.parquet"), factor)
    write(
      li.withColumn("l_orderkey", rekey("l_orderkey", factor)).drop("__r"),
      "lineitem", 32)

    val ord = replicated(spark.read.parquet(s"$srcDir/orders.parquet"), factor)
    write(
      ord.withColumn("o_orderkey", rekey("o_orderkey", factor)).drop("__r"),
      "orders", 32)

    // events: same users accumulate factor× events (grouped operators
    // see factor× group sizes — the dimension that stresses windows);
    // ids stay unique, timestamps jitter by replica so no exact ties
    val ev = replicated(
      graft.Tables.normalizeEventTs(
        spark.read.parquet(s"$srcDir/events.parquet")),
      factor)
    write(
      ev.withColumn("event_id", rekey("event_id", factor))
        .withColumn("ts", col("ts") + col("__r"))
        .drop("__r"),
      "events", 32)

    val docs = replicated(spark.read.parquet(s"$srcDir/documents.parquet"), factor)
    write(
      docs.withColumn("doc_id", rekey("doc_id", factor))
        .withColumn("text", mutateText(col("text"), factor))
        .drop("__r"),
      "documents", 32)

    // per-replica sign pattern chosen by HASHING (dim, replica) — a
    // structured pattern (e.g. flip dims i%10<r) lets a cross-replica
    // pair's negative-contribution dims flip sign and EXCEED the
    // original cosine, planting near-dups that don't exist at 1×
    // (observed: q175 survivors dropped instead of scaling). A hashed
    // half-flip keeps each replica an exact orthogonal transform
    // (intra-replica cosines preserved bit-for-bit) while cross-replica
    // cosines collapse to ~N(0, 1/sqrt(d)) — far below any threshold.
    val emb = replicated(spark.read.parquet(s"$srcDir/embeddings.parquet"), factor)
    write(
      emb.withColumn("vec_id", rekey("vec_id", factor))
        .withColumn(
          "embedding",
          transform(
            col("embedding"),
            (x, i) =>
              when(pmod(hash(i, col("__r")), lit(2)) === 0, x).otherwise(-x)))
        .drop("__r"),
      "embeddings", 32)
    println(s"""{"stress_gen":"$outDir","factor":$factor}""")
    spark.stop()
  }

  // ---- run ----

  val Twins: Seq[String] = Seq(
    "q30_rolling_scalable",
    "q43_approx_percentiles",
    "q61_bloom_decontamination",
    "q68_hll_distinct",
    "q106_approx_topk",
    "q150_exact_heavy_hitters",
    "q166_minhash_survivors",
    "q168_global_cumsum",
    "q172_global_cummax",
    "q175_semantic_dedup_blocked",
    "q178_distinct_scalable",
    "q181_dup_spans",
    "q182_remove_dup_spans",
    "q183_expanding_fold",
    "q185_seeded_shuffle",
    // round-8 additions over the documents corpus: BPE merge-candidate
    // counts (vocab-sized aggregation space grows with distinct-per-
    // replica translation), the KN-LM perplexity pipeline (LM table
    // ~10x — cross-replica bigrams never collide), DSIR weights (the
    // doc_id<50 target shrinks relative to the 10x raw side — a wall-
    // time twin, not an output-shape one)
    "q188_bpe_pair_counts",
    "q190_doc_perplexity",
    "q191_dsir_weights",
    // late-round-8 additions: E-S weighted sample (per-partition top-k
    // heaps, constant output), CMS (constant sketch state — the twin
    // whose 10x ratio SHOULD be ~scan-bound), in-engine logistic
    // regression (fixed rounds over a 10x staged feature frame),
    // centroid outlier scoring (group-dim-bounded agg + broadcast)
    "q192_weighted_sample_k",
    "q193_cms_frequencies",
    "q194_lr_quality_score",
    "q196_centroid_outliers",
    // end-of-round-8 additions: corpus BPE encode (vocab grows ~10x —
    // distinct-per-replica translation makes every replica's words new
    // — so BOTH the trained tokenizer and the encode join scale),
    // PageRank canonical selection (pair graph ~10x: intra-replica
    // Jaccards preserved, cross-replica shingles never collide — the
    // iterative join/agg rounds see 10x edges), multi-probe LSH (the
    // probe reads 20 bucket dirs of a 10x index — should stay
    // ~constant-ish like the other probe twins)
    "q197_bpe_encode",
    "q198_pagerank_canonical",
    "q199_lsh_multiprobe",
    // filtering/mixing additions: the mixture schedule reduces to a
    // #sources-row aggregate (should be ~scan-bound), the Gopher and
    // C4 packs are narrow single-pass projections (linear scan cost is
    // the designed shape — no explode, no shuffle)
    "q200_mixture_schedule",
    "q201_gopher_rules",
    "q202_c4_line_filter",
    // triangle enumeration: Σ deg² wedge work over a ~10x pair graph
    // (degree-bounded by the pair generator's caps)
    "q203_triangle_stats",
    // round-11 additions: inline SQ top-k pays the corpus-linear
    // quantize + dequantized-rank scan (ratio should be ~linear; the
    // per-replica orthogonal sign flips keep cosines well-spread so
    // the rounded cuts stay tie-free), the SQ batch probe reads its
    // build-once index (build cost amortized into the first rep, the
    // min-of-reps times the probe — should stay ~scan-bound over the
    // 10x codes column), semantic decontamination's eval side is FIXED
    // while the train side grows 10x (the designed asymmetry: train
    // never shuffles)
    "q219_sq_topk",
    "q221_sq_probe_many",
    "q213_semantic_decontam",
    // round-12 additions, completing the build-once/probe-many twin
    // coverage (the r11 verdict's #4): the BM25 batch probe reads only
    // its query terms' posting shards of a 10x index (min-of-reps
    // times the probe — the build amortizes into rep 1, measured
    // separately by the `builds` phase), and the SQ single probe reads
    // the 10x codes column + a factor·k-bounded rescore — both should
    // stay ~scan-bound, nowhere near 10x
    "q216_bm25_probe_many",
    "q220_sq_probe_index",
    // append-lifecycle probes: first rep builds+appends (amortized),
    // min-of-reps times the probe of the EVOLVED index — the appended
    // layout must probe as scan-bound as the one-shot one
    "q223_bm25_append_probe",
    "q224_sq_append_probe")

  private def time1(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def run(
      dir1x: String,
      dir10x: String,
      reps: Int,
      only: Seq[String] = Nil): Unit = {
    val spark = Session.initialize(Session.workers())
    val twins = if (only.isEmpty) Twins else Twins.filter(only.contains)
    // codegen/JIT warm-up at the smallest scale (plan-dependent, not
    // data-dependent — the Bench argument); fall back to dir1x when the
    // canonical small dataset isn't on this machine
    val warmDir = {
      val w = "/root/testdata/sf0.001"
      if (new java.io.File(w).isDirectory) w else dir1x
    }
    twins.foreach(n => time1(spark, n, warmDir))
    val rows = twins.map { n =>
      val t1 = (1 to reps).map(_ => time1(spark, n, dir1x)).min
      val t10 = (1 to reps).map(_ => time1(spark, n, dir10x)).min
      val r1 = SparkEntry.queries(n)(spark, dir1x).count()
      val r10 = SparkEntry.queries(n)(spark, dir10x).count()
      println(f"""[stress] $n%-28s 1x=$t1%7.2fs 10x=$t10%7.2fs ratio=${t10 / t1}%5.2f rows $r1%7d -> $r10%8d""")
      s""""$n":{"t1":$t1,"t10":$t10,"ratio":${t10 / t1},"rows1":$r1,"rows10":$r10}"""
    }
    println(rows.mkString("""{"stress_run":{""", ",", "}}"))
    spark.stop()
  }

  // ---- index build twins ----

  /** Time the build-once index WRITES at 1x and 10x (the r11 verdict's
    * missing half of the lifecycle twins: probes are covered by the
    * `run` twins, builds need their own timer because the query paths
    * memoize them away after the first call). Corpus-linear ratios
    * (≈factor, modulo fixed job overhead) are the pass — the BM25
    * build is one tokenize + one doc-length window + a shard
    * repartition, the SQ build one bounds aggregation + a narrow
    * quantize projection; neither has a superlinear stage.
    */
  def builds(dir1x: String, dir10x: String, reps: Int): Unit = {
    val spark = Session.initialize(Session.workers())
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-stress-builds").toString
    def timeMin(body: => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }.min
    val rows = Seq(
      "bm25_write_index" -> ((d: String, out: String) =>
        graft.operators.Sampling.bm25WriteIndex(
          graft.Tables.documents(spark, d), "doc_id", "text", out,
          sourceTag = d)),
      "sq_write_index" -> ((d: String, out: String) =>
        graft.operators.Similarity.sqWriteIndex(
          graft.Tables.embeddings(spark, d), "embedding", "vec_id", out,
          sourceTag = d))
    ).map { case (name, build) =>
      // warm codegen/JIT once (plan-dependent, not data-dependent)
      build(dir1x, s"$scratch/warm-$name")
      val t1 = timeMin(build(dir1x, s"$scratch/1x-$name"))
      val t10 = timeMin(build(dir10x, s"$scratch/10x-$name"))
      println(f"""[stress] $name%-28s 1x=$t1%7.2fs 10x=$t10%7.2fs ratio=${t10 / t1}%5.2f""")
      s""""$name":{"t1":$t1,"t10":$t10,"ratio":${t10 / t1}}"""
    }
    println(rows.mkString("""{"stress_builds":{""", ",", "}}"))
    spark.stop()
  }

  // ---- skew ----

  def skew(dir10x: String): Unit = {
    val spark = Session.initialize(Session.workers())
    import spark.implicits._

    // 100× the spec's component star: hub 7 with 40,000 spokes (the
    // min-label of the whole component is a single hot join key in
    // every pointer-jump round) + disjoint small components
    val star = spark.range(40000)
      .select(lit(7L).as("id_a"), (col("id") + 1000000L).as("id_b"))
    val small = Seq((5000000L, 5000001L), (6000001L, 6000000L))
      .toDF("id_a", "id_b")
    val pairs = star.unionByName(small)
    def components(saltBuckets: Int): (Double, Map[Long, Long]) = {
      val t0 = System.nanoTime()
      val m = graft.operators.Dedup
        .resolveComponents(pairs, saltBuckets = saltBuckets)
        .as[(Long, Long)].collect().toMap
      ((System.nanoTime() - t0) / 1e9, m)
    }
    val (tSalted, salted) = components(8)
    val (tUnsalted, unsalted) = components(1)
    require(salted == unsalted, "salted != unsalted on the 40k star")
    require(
      salted.values.count(_ == 7L) == 40001 && salted(5000001L) == 5000000L,
      "star membership wrong")

    // planted 100×-hot join key over a stress-sized fact side: key 0
    // holds ~100× a uniform key's rows
    val n = 6000000L
    val uniqKeys = 50000
    val fact = spark.range(n).select(
      col("id"),
      when(col("id") % 100 === 0, 0L)
        .otherwise(pmod(col("id"), lit(uniqKeys.toLong))).as("key"))
    val dim = spark.range(uniqKeys.toLong)
      .select(col("id").as("key"), (col("id") * 3).as("payload"))
      // a dim this size would broadcast, hiding the skew entirely —
      // force the shuffle path the salt exists for
      .hint("shuffle_hash")
    def joined(doSalt: Boolean): (Double, Long) = {
      val t0 = System.nanoTime()
      val j =
        if (doSalt)
          graft.operators.SkewJoin
            .salted(fact, dim, "key", col("id"), salts = 32)
        else fact.join(dim, Seq("key"))
      val c = j.count()
      ((System.nanoTime() - t0) / 1e9, c)
    }
    val (tPlain, cPlain) = joined(false)
    val (tSalt, cSalt) = joined(true)
    require(cPlain == cSalt && cPlain == n, s"salted join wrong: $cSalt != $cPlain")
    println(
      s"""{"stress_skew":{"star40k_salted_sec":$tSalted,"star40k_unsalted_sec":$tUnsalted,""" +
        s""""hotjoin_plain_sec":$tPlain,"hotjoin_salted_sec":$tSalt,"hotjoin_rows":$cPlain}}""")
    spark.stop()
  }

  // ---- invariance ----

  /** Order-free exact fingerprint of a result set (hash sum carried in
    * decimal(38) — a long sum of 64-bit hashes overflows under ANSI).
    */
  private def fingerprint(df: DataFrame): (Long, Any) = {
    val h = df.select(
      xxhash64(df.columns.map(c => col(c).cast("string")): _*)
        .cast("decimal(38,0)")
        .as("h"))
    (df.count(), h.agg(sum("h")).collect()(0)(0))
  }

  def invariance(dir10x: String): Unit = {
    val spark = Session.initialize(Session.workers())
    val exactTwins =
      Seq("q150_exact_heavy_hitters", "q166_minhash_survivors",
        "q168_global_cumsum", "q178_distinct_scalable",
        "q181_dup_spans", "q182_remove_dup_spans",
        // q188: exact integer counts with a total-order LIMIT — bit-
        // stable; q190/q191 stay OUT (float partial-sum association
        // order legitimately varies with partition shape)
        "q188_bpe_pair_counts",
        // end-of-round-8 exact additions: q197's merge training is
        // count-argmax with deterministic tie-break and the encode is
        // a pure function of the merges; q201/q202 are per-row
        // projections (ratios of exact ints — IEEE-determined);
        // q203's coefficients are pure functions of integer counts.
        // q198/q200 stay OUT (float partial-sum association order).
        "q197_bpe_encode",
        "q201_gopher_rules",
        "q202_c4_line_filter",
        "q203_triangle_stats",
        // round-12 exact additions: q222's vote signatures and
        // components are integer-exact (closed-form dHash bits +
        // min-id closure), q225's survivor selection is a
        // deterministic window over integer labels/components.
        // q224 stays OUT (6-decimal-rounded float cosine ranks — the
        // q190/q191 association-order rationale).
        "q222_video_neardup_twin",
        "q225_best_survivors")
    val shapes = Seq(
      (13, 8L * 1024 * 1024),   // prime partition count, small splits
      (32, 128L * 1024 * 1024)) // the default shape
    val ok = exactTwins.map { n =>
      val fps = shapes.map { case (parts, split) =>
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
        // drop every build-once memo BETWEEN shapes: a shared-stage
        // frame (q222's fingerprints) or cached index materialized
        // under shape 1 would serve shape 2 from stored rows, making
        // the invariance check vacuous upstream of the cache
        SparkEntry.clearIndexCaches()
        fingerprint(SparkEntry.queries(n)(spark, dir10x))
      }
      require(
        fps.distinct.size == 1,
        s"$n result varies with partition shape: $fps")
      s""""$n":true"""
    }
    println(ok.mkString("""{"stress_invariance":{""", ",", "}}"))
    spark.stop()
  }

  // ---- survivors (50x scored-survivor dedup twin) ----

  /** Scored-survivor dedup twin at `scale`× the sf0.1 document count
    * (scale=50 → 250k docs): the q227 composition — minHashNearDup →
    * resolveComponentsAuto → bestSurvivors — over a corpus whose dup
    * structure is CLOSED-FORM in doc_id, so the component frame and
    * the survivor set are verified row-for-row against arithmetic (the
    * q222 oracle discipline at stress scale, where the 10× harness
    * only measures wall ratios). The plant: n/10 families of 10
    * byte-identical members (identical text → identical MinHash
    * signature → banding recall is GUARANTEED, not probabilistic, so
    * the oracle is exact); cross-family texts are per-family hash-word
    * soup with ~zero shingle Jaccard, so the rare bucket hash
    * collision dies in the exact verify. At 50× the ≥45 verified pairs
    * per family × 25k families exceed the driver union-find cap,
    * forcing the DISTRIBUTED component path — the 100-TB shape — while
    * the 1× twin stays under it, so the ratio row also spans both
    * resolveComponentsAuto regimes. Oracle: component(id) = id mod
    * fams, n_members = 10, survivor per family = argmax score(id)
    * (score = (id·2654435761) mod 1e6, ties to min id).
    */
  def survivors(scale: Int, reps: Int): Unit = {
    val spark = Session.initialize(Session.workers())
    import graft.operators.Dedup
    def corpus(nDocs: Long): DataFrame = {
      val fams = nDocs / 10
      graft.ops.Stage.materializeOnce(
        spark.range(nDocs)
          .repartition(spark.sparkContext.defaultParallelism)
          .select(
            col("id").as("doc_id"),
            pmod(col("id"), lit(fams)).as("fam"),
            pmod(col("id") * 2654435761L, lit(1000000L)).as("score"))
          .withColumn(
            "text",
            concat_ws(
              " ",
              (0 until 40).map(j =>
                conv(
                  hash(col("fam") * 40 + j, lit(j)).cast("string"),
                  10, 36)): _*)))
    }
    def score(id: Long): Long = {
      val m = (id * 2654435761L) % 1000000L
      if (m < 0) m + 1000000L else m
    }
    def pipeline(docs: DataFrame): Array[(Long, Long, Long)] =
      Dedup
        .bestSurvivors(
          docs.select("doc_id", "score"),
          "doc_id",
          Dedup.resolveComponentsAuto(
            Dedup.minHashNearDup(docs, "text", "doc_id")),
          col("score").desc)
        .select("doc_id", "component", "n_members")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        // one survivor per family; order by component so verify can
        // walk families 0..fams-1 positionally
        .sortBy(_._2)
    def verify(got: Array[(Long, Long, Long)], nDocs: Long): Unit = {
      val fams = nDocs / 10
      require(
        got.length == fams,
        s"expected $fams survivors (one per family), got ${got.length}")
      var f = 0L
      var i = 0
      while (f < fams) {
        val members = (0 until 10).map(v => f + v * fams)
        val want = members.minBy(id => (-score(id), id))
        val (id, comp, n) = got(i)
        require(
          id == want && comp == f && n == 10L,
          s"family $f: got (id=$id, comp=$comp, n=$n), want " +
            s"(id=$want, comp=$f, n=10)")
        f += 1
        i += 1
      }
    }
    def timed(nDocs: Long): Double = {
      val docs = corpus(nDocs)
      var best = Double.MaxValue
      (0 until reps).foreach { _ =>
        val t0 = System.nanoTime()
        val got = pipeline(docs)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        verify(got, nDocs)
      }
      best
    }
    timed(500) // warm-up: codegen/JIT for every stage, verified too
    val base = 5000L
    val t1 = timed(base)
    val tN = timed(base * scale)
    println(
      f"""{"stress_survivors":{"scale":$scale,"docs_1x":$base,""" +
        f""""docs_${scale}x":${base * scale},"sec_1x":$t1%.2f,""" +
        f""""sec_${scale}x":$tN%.2f,"ratio":${tN / t1}%.2f,""" +
        f""""verified":true}}""")
    spark.stop()
  }

  // ---- ingest (streaming exactly-once twin, oracle-verified) ----

  /** STREAMING near-dup ingest twin at `scale`× (round 14, the r13
    * verdict's #6 — the batch survivors twin output-verifies past gate
    * scale, but the exactly-once ingest machinery was only ever
    * wall-timed there): the full [[graft.streaming.NearDupIngest]]
    * micro-batch loop over a corpus whose dup structure is CLOSED-FORM
    * in doc_id, so the final ingested-id set is verified ROW-FOR-ROW
    * against arithmetic at both scales.
    *
    * The plant (the `survivors` twin's guaranteed-recall trick):
    * nDocs/10 families of 10 byte-identical members (identical text →
    * identical signature → banding recall GUARANTEED); member v of
    * family f is doc_id = f + v·fams. ARRIVAL ORDER makes the oracle
    * exact for streaming semantics (earlier batches win): batch 0
    * carries members v ∈ {0, 1} of every family — an intra-batch
    * near-dup pair whose min-id member (v = 0, id = f) must survive —
    * and batches 1..8 carry one member each (v = 2..9), every doc a
    * cross-batch near-dup of the ingested corpus. Oracle: ingested ids
    * ≡ {0 .. fams−1} exactly, at any scale. After the loop, a
    * committed batch id REPLAYS as a no-op (the exactly-once
    * contract, asserted at stress scale). Both shapes run at `scale`×:
    * the FUSED loop and the forced-DISTRIBUTED fallback (the 100-TB
    * shape, via the same JVM-prop hook the bench uses) — each
    * oracle-verified.
    */
  def ingest(scale: Int, reps: Int): Unit = {
    val spark = Session.initialize(Session.workers())
    import graft.streaming.NearDupIngest
    def corpus(nDocs: Long): DataFrame = {
      val fams = nDocs / 10
      graft.ops.Stage.materializeOnce(
        spark.range(nDocs)
          .repartition(spark.sparkContext.defaultParallelism)
          .select(
            col("id").as("doc_id"),
            pmod(col("id"), lit(fams)).as("fam"),
            (col("id") / lit(fams)).cast("long").as("v"))
          .withColumn(
            "text",
            concat_ws(
              " ",
              (0 until 40).map(j =>
                conv(
                  hash(col("fam") * 40 + j, lit(j)).cast("string"),
                  10, 36)): _*)))
    }
    def runLoop(nDocs: Long, forced: Boolean): Double = {
      val docs = corpus(nDocs)
      val fams = nDocs / 10
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft-stress-ingest").toString + "/mh"
      if (forced) sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
      val t0 = System.nanoTime()
      try {
        NearDupIngest.ingestBatch(
          docs.where(col("v") <= 1).select("doc_id", "text"),
          idx, "text", "doc_id", batchId = 0L)
        (2L to 9L).foreach { v =>
          NearDupIngest.ingestBatch(
            docs.where(col("v") === v).select("doc_id", "text"),
            idx, "text", "doc_id", batchId = v - 1L)
        }
      } finally sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
      val wall = (System.nanoTime() - t0) / 1e9
      val got = NearDupIngest.ingestedIds(spark, idx).get
        .collect().map(_.getLong(0)).sorted
      require(
        got.length == fams &&
          got.zipWithIndex.forall { case (id, i) => id == i.toLong },
        s"ingested set != {0..${fams - 1}}: n=${got.length}, " +
          s"head=${got.take(5).mkString(",")}")
      // exactly-once at stress scale: replaying a committed batch id
      // is a no-op (markers short-circuit before any work)
      NearDupIngest.ingestBatch(
        docs.where(col("v") === 9).select("doc_id", "text"),
        idx, "text", "doc_id", batchId = 8L)
      val again = NearDupIngest.ingestedIds(spark, idx).get.count()
      require(again == fams, s"replay changed the corpus: $again != $fams")
      wall
    }
    def best(nDocs: Long, forced: Boolean): Double =
      (0 until reps).map(_ => runLoop(nDocs, forced)).min
    runLoop(500, forced = false) // warm: codegen for every stage
    runLoop(500, forced = true)
    val base = 5000L
    val t1 = best(base, forced = false)
    val tN = best(base * scale, forced = false)
    val t1f = best(base, forced = true)
    val tNf = best(base * scale, forced = true)
    println(
      f"""{"stress_ingest":{"scale":$scale,"docs_1x":$base,""" +
        f""""docs_${scale}x":${base * scale},""" +
        f""""fused_sec_1x":$t1%.2f,"fused_sec_${scale}x":$tN%.2f,""" +
        f""""fused_ratio":${tN / t1}%.2f,""" +
        f""""fallback_sec_1x":$t1f%.2f,"fallback_sec_${scale}x":$tNf%.2f,""" +
        f""""fallback_ratio":${tNf / t1f}%.2f,"verified":true}}""")
    spark.stop()
  }

  /** STREAMING embedding ingest twin at `scale`× (round 15, the r14
    * verdict's #5 — the NearDupIngest twin proved the exactly-once
    * discipline at 10×, but the EMBEDDING ingest path — banded
    * hyperplane LSH, in-plan cosine verify, different pair machinery —
    * was never output-verified past gate scale): the full
    * [[graft.streaming.EmbedIngest]] micro-batch loop over a corpus of
    * vector FAMILIES closed-form in vec_id, verified ROW-FOR-ROW at
    * both scales in BOTH shapes (fused and forced-distributed).
    *
    * The plant (the `ingest` twin's guaranteed-recall trick, lifted to
    * vectors): nDocs/10 families of 10 byte-IDENTICAL 64-dim vectors —
    * identical vectors give identical hyperplane signatures (recall
    * structural, co-bucketing in every band) and cosine exactly ~1.0,
    * far above the 0.9 threshold; ACROSS families the components are
    * independent 64-dim pseudo-random draws, whose pairwise cosine
    * concentrates near 0 (at dim 64 the P(cos ≥ 0.9) tail is ~1e-22
    * per pair — no accidental merge at any tested scale), so the
    * in-plan verify culls every false-positive bucket collision.
    * Arrival order mirrors the mh twin: batch 0 carries members
    * v ∈ {0, 1} (an intra-batch pair whose min id must survive),
    * batches 1..8 one member each — every doc a cross-batch near-dup.
    * Oracle: ingested ids ≡ {0 .. fams−1} exactly; a committed batch
    * id then REPLAYS as a no-op at stress scale.
    */
  def embedIngest(scale: Int, reps: Int): Unit = {
    val spark = Session.initialize(Session.workers())
    import graft.streaming.EmbedIngest
    def corpus(nDocs: Long): DataFrame = {
      val fams = nDocs / 10
      graft.ops.Stage.materializeOnce(
        spark.range(nDocs)
          .repartition(spark.sparkContext.defaultParallelism)
          .select(
            col("id").as("vec_id"),
            pmod(col("id"), lit(fams)).as("fam"),
            (col("id") / lit(fams)).cast("long").as("v"))
          .withColumn(
            "embedding",
            array((0 until 64).map(j =>
              (pmod(hash(col("fam") * 64 + j, lit(j)).cast("long"),
                lit(2001)) - 1000).cast("double") / 1000d): _*)))
    }
    def runLoop(nDocs: Long, forced: Boolean): Double = {
      val docs = corpus(nDocs)
      val fams = nDocs / 10
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft-stress-embingest").toString + "/emb"
      if (forced) sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
      val t0 = System.nanoTime()
      try {
        EmbedIngest.ingestBatch(
          docs.where(col("v") <= 1).select("vec_id", "embedding"),
          idx, "embedding", "vec_id", batchId = 0L)
        (2L to 9L).foreach { v =>
          EmbedIngest.ingestBatch(
            docs.where(col("v") === v).select("vec_id", "embedding"),
            idx, "embedding", "vec_id", batchId = v - 1L)
        }
      } finally sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
      val wall = (System.nanoTime() - t0) / 1e9
      val got = EmbedIngest.ingestedIds(spark, idx).get
        .collect().map(_.getLong(0)).sorted
      require(
        got.length == fams &&
          got.zipWithIndex.forall { case (id, i) => id == i.toLong },
        s"ingested set != {0..${fams - 1}}: n=${got.length}, " +
          s"head=${got.take(5).mkString(",")}")
      // exactly-once at stress scale: a committed batch id replays as
      // a no-op (markers short-circuit before any work)
      EmbedIngest.ingestBatch(
        docs.where(col("v") === 9).select("vec_id", "embedding"),
        idx, "embedding", "vec_id", batchId = 8L)
      val again = EmbedIngest.ingestedIds(spark, idx).get.count()
      require(again == fams, s"replay changed the corpus: $again != $fams")
      wall
    }
    def best(nDocs: Long, forced: Boolean): Double =
      (0 until reps).map(_ => runLoop(nDocs, forced)).min
    runLoop(500, forced = false) // warm: codegen for every stage
    runLoop(500, forced = true)
    val base = 5000L
    val t1 = best(base, forced = false)
    val tN = best(base * scale, forced = false)
    val t1f = best(base, forced = true)
    val tNf = best(base * scale, forced = true)
    println(
      f"""{"stress_embed_ingest":{"scale":$scale,"docs_1x":$base,""" +
        f""""docs_${scale}x":${base * scale},""" +
        f""""fused_sec_1x":$t1%.2f,"fused_sec_${scale}x":$tN%.2f,""" +
        f""""fused_ratio":${tN / t1}%.2f,""" +
        f""""fallback_sec_1x":$t1f%.2f,"fallback_sec_${scale}x":$tNf%.2f,""" +
        f""""fallback_ratio":${tNf / t1f}%.2f,"verified":true}}""")
    spark.stop()
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      gen(
        args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).getOrElse("/tmp/graft-stress10x"),
        args.lift(3).map(_.toInt).getOrElse(10))
    case Some("run") =>
      run(
        args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).getOrElse("/tmp/graft-stress10x"),
        args.lift(3).map(_.toInt).getOrElse(2),
        args.drop(4).toSeq)
    case Some("builds") =>
      builds(
        args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).getOrElse("/tmp/graft-stress10x"),
        args.lift(3).map(_.toInt).getOrElse(2))
    case Some("skew") =>
      skew(args.lift(1).getOrElse("/tmp/graft-stress10x"))
    case Some("invariance") =>
      invariance(args.lift(1).getOrElse("/tmp/graft-stress10x"))
    case Some("survivors") =>
      survivors(
        args.lift(1).map(_.toInt).getOrElse(50),
        args.lift(2).map(_.toInt).getOrElse(1))
    case Some("ingest") =>
      ingest(
        args.lift(1).map(_.toInt).getOrElse(10),
        args.lift(2).map(_.toInt).getOrElse(1))
    case Some("embedIngest") =>
      embedIngest(
        args.lift(1).map(_.toInt).getOrElse(10),
        args.lift(2).map(_.toInt).getOrElse(1))
    case _ =>
      System.err.println(
        "usage: Stress gen|run|skew|invariance|survivors|ingest|" +
          "embedIngest [args]")
      sys.exit(2)
  }
}
