package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming._

/** Micro-batch throughput for the streaming components — the numbers
  * the batch bench can't see: rows/sec through each ingest-dedup
  * modality (exact fingerprints, lexical MinHash, embedding LSH), the
  * bounded-state operators (per-key HLL distinct, Misra–Gries top-k),
  * and both CDC modes (snapshot rewrite vs log-structured append).
  * State-size BOUNDS are proven by the specs (k/lgK invariants,
  * O(batch) segment sizes); this measures the cost per row so a
  * state-handling regression shows as a throughput cliff between
  * rounds.
  *
  * Each component processes a fixed load split into `nBatches`
  * micro-batches (the foreachBatch bodies are called directly for the
  * ingest/CDC paths — that is exactly what a streaming trigger
  * executes, minus source latency that would only add noise; the
  * mapGroupsWithState operators run through a real MemoryStream query
  * because their work lives inside the state store). Reported value:
  * input rows / wall seconds over all batches of the component.
  */
object StreamBench {

  /** (component -> MEDIAN rows/sec over [[reps]] repetitions),
    * deterministic component order. Cleanup is unconditional: Bench
    * catches a component failure and keeps going, so without the
    * finally a failed run would leak the cached inputs and the temp
    * index state on every bench invocation.
    */
  def run(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    runWithSpread(spark, sfDir)._1

  /** One spread row per component: (min, max, reps) rows/sec. A single
    * contended run once produced a misleading cross-round delta; the
    * median is the reported number and the spread makes a noisy
    * measurement self-describing instead of silently wrong.
    */
  def runWithSpread(
      spark: SparkSession,
      sfDir: String): (
      Seq[(String, Double)],
      Seq[(String, (Double, Double, Int))],
      Seq[(String, Double)]) = {
    val work = Files.createTempDirectory("graft-streambench").toString
    val cached =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    try runBody(spark, sfDir, work, cached)
    finally {
      cached.foreach(_.unpersist())
      val p = new org.apache.hadoop.fs.Path(work)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  private def reps: Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_STREAM_REPS", "3").toInt)

  private def runBody(
      spark: SparkSession,
      sfDir: String,
      work: String,
      cached: scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame])
      : (
          Seq[(String, Double)],
          Seq[(String, (Double, Double, Int))],
          Seq[(String, Double)]) = {
    import spark.implicits._
    val nBatches = 4

    // `body(rep)` must be rep-isolated (fresh index/work dirs per rep —
    // a reused dir would no-op on already-committed batches and time a
    // replay, not an ingest) and returns the measured seconds of the
    // rep's timed section only (stream/query setup excluded).
    // REGISTRATION, not execution: reps are INTERLEAVED across
    // components below — back-to-back reps of one component all share
    // any transient machine contention (measured: identical code
    // produced 967 vs 766 embed rows/s 30 minutes apart, and a single
    // run's audio spread was 428–1,041), so each component's reps are
    // spread across the whole run's wall-clock window instead and the
    // median absorbs a contended slice instead of being one.
    val comps = scala.collection.mutable
      .ArrayBuffer.empty[(String, Long, Int => Double)]
    // dev/adjudication hook: SPARK_GRAFT_STREAM_ONLY=embed_ingest,cdc
    // registers only matching components (substring, comma-separated) —
    // warm-ups and source caches still run, so a single-component A/B
    // measures the same steady state the full suite does
    val streamOnly = StreamBench.streamOnlyFilter
    def timedReps(name: String, rows: Long)(body: Int => Double): Unit =
      if (streamOnly.forall(_.exists(name.contains)))
        comps += ((name, rows, body))

    def timing(b: => Unit): Double = {
      val t0 = System.nanoTime()
      b
      (System.nanoTime() - t0) / 1e9
    }


    val docs = Tables
      .documents(spark, sfDir)
      .select("doc_id", "text")
      .cache()
    cached += docs
    val nDocs = docs.count() // also materializes the cache
    def docBatch(i: Int) = docs.where(col("doc_id") % nBatches === i)

    // Untimed warm-up — the batch-Bench methodology (one pass at small
    // scale before timing): whole-stage codegen for the signature /
    // vector expressions, broadcast machinery, and the parquet
    // writer paths all JIT on the first batch; a throwaway mini-batch
    // into a scratch index pays that once so the timed loop measures
    // steady state, which is what a long-running ingest actually runs at.
    locally {
      val warm = docs.limit(64).cache()
      warm.count()
      IngestDedup.ingestBatch(warm, s"$work/warm-exact", "text", "doc_id", 0L)
      // THREE warm batches: the ingest pipeline has three distinct
      // steady-state plan shapes (no index yet, probe-base-only, probe
      // base∪delta) and each shape Janino-compiles its stages once per
      // JVM — the third batch is the shape a long-running ingest
      // actually spends its life in, so it must warm too (measured: a
      // cold base∪delta shape costs ~20 compiles ≈ 1 s in the first
      // timed batch).
      NearDupIngest.ingestBatch(warm, s"$work/warm-mh", "text", "doc_id", 0L)
      NearDupIngest.ingestBatch(warm, s"$work/warm-mh", "text", "doc_id", 1L)
      NearDupIngest.ingestBatch(warm, s"$work/warm-mh", "text", "doc_id", 2L)
      warm.unpersist()
    }

    timedReps("ingest_dedup_exact", nDocs) { r =>
      timing {
        (0 until nBatches).foreach { i =>
          IngestDedup.ingestBatch(
            docBatch(i), s"$work/exact-r$r", "text", "doc_id", i.toLong)
        }
      }
    }
    timedReps("neardup_ingest", nDocs) { r =>
      timing {
        (0 until nBatches).foreach { i =>
          NearDupIngest.ingestBatch(
            docBatch(i), s"$work/mh-r$r", "text", "doc_id", i.toLong)
        }
      }
    }

    val embs = Tables
      .embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .cache()
    cached += embs
    val nEmbs = embs.count()
    locally {
      val warm = embs.limit(64).cache()
      warm.count()
      EmbedIngest.ingestBatch(warm, s"$work/warm-emb", "embedding", "vec_id", 0L)
      EmbedIngest.ingestBatch(warm, s"$work/warm-emb", "embedding", "vec_id", 1L)
      EmbedIngest.ingestBatch(warm, s"$work/warm-emb", "embedding", "vec_id", 2L)
      warm.unpersist()
    }
    timedReps("embed_ingest", nEmbs) { r =>
      timing {
        (0 until nBatches).foreach { i =>
          EmbedIngest.ingestBatch(
            embs.where(col("vec_id") % nBatches === i),
            s"$work/emb-r$r", "embedding", "vec_id", i.toLong)
        }
      }
    }
    // the same corpus in HALF the batches: embed ingest cost is
    // ~0.5 s FIXED per micro-batch at this scale (profiled: 6 tiny
    // jobs + driver latency; the row-linear part is small), so rows/s
    // is largely an artifact of the benchmark's batch size — this row
    // measures the amortization a production trigger interval buys
    timedReps("embed_ingest_bulk", nEmbs) { r =>
      timing {
        (0 until 2).foreach { i =>
          EmbedIngest.ingestBatch(
            embs.where(col("vec_id") % 2 === i),
            s"$work/embbulk-r$r", "embedding", "vec_id", i.toLong)
        }
      }
    }
    // the third sweep point — the whole corpus in ONE trigger (the
    // name says what it runs: one batch). With embed_ingest (4
    // batches) and _bulk (2), the trigger-interval sweep is a 3-point
    // CURVE: total wall = batches·fixed + rows·linear, so the
    // per-batch fixed cost falls out as the least-squares slope over
    // the batch count — emitted in the separate ms-unit fit section
    // (the r11 verdict's "make the production lever a curve, not two
    // points"; the r12 ADVICE's "don't mix a ms row into the rows/s
    // map")
    timedReps("embed_ingest_1batch", nEmbs) { r =>
      timing {
        EmbedIngest.ingestBatch(
          embs, s"$work/emb1b-r$r", "embedding", "vec_id", 0L)
      }
    }

    // Perceptual ingest modalities through the signature-agnostic
    // banded index ([[Sig64Ingest]]): image dHash and audio spectral
    // fingerprints. The asset bytes are synthesized+cached BEFORE the
    // timed loop (in production they arrive from the stream source);
    // the timed section is fingerprint + within-batch dedup + corpus
    // probe + segment commit — the work the ingest actually owns.
    val nAssets = 2000L
    val images = graft.multimodal.Multimodal
      .imageAssetsFromIds(spark.range(nAssets).toDF("id"), "id")
      .select("id", "data")
      .cache()
    cached += images
    images.count()
    locally {
      val warm = images.limit(64).cache()
      warm.count()
      ImageIngest.ingestBatch(warm, s"$work/warm-img", "data", "id", 0L)
      ImageIngest.ingestBatch(warm, s"$work/warm-img", "data", "id", 1L)
      ImageIngest.ingestBatch(warm, s"$work/warm-img", "data", "id", 2L)
      warm.unpersist()
    }
    timedReps("image_ingest", nAssets) { r =>
      timing {
        (0 until nBatches).foreach { i =>
          ImageIngest.ingestBatch(
            images.where(col("id") % nBatches === i),
            s"$work/img-r$r", "data", "id", i.toLong)
        }
      }
    }

    val audio = graft.multimodal.Multimodal
      .audioAssetsFromIds(spark.range(nAssets).toDF("id"), "id")
      .select("id", "data")
      .cache()
    cached += audio
    audio.count()
    locally {
      val warm = audio.limit(64).cache()
      warm.count()
      AudioIngest.ingestBatch(warm, s"$work/warm-aud", "data", "id", 0L)
      AudioIngest.ingestBatch(warm, s"$work/warm-aud", "data", "id", 1L)
      AudioIngest.ingestBatch(warm, s"$work/warm-aud", "data", "id", 2L)
      warm.unpersist()
    }
    timedReps("audio_ingest", nAssets) { r =>
      timing {
        (0 until nBatches).foreach { i =>
          AudioIngest.ingestBatch(
            audio.where(col("id") % nBatches === i),
            s"$work/aud-r$r", "data", "id", i.toLong)
        }
      }
    }

    val video = graft.multimodal.Multimodal
      .videoDupAssetsFromIds(spark.range(nAssets).toDF("id"), "id")
      .select("id", "data")
      .cache()
    cached += video
    video.count()
    locally {
      val warm = video.limit(64).cache()
      warm.count()
      VideoIngest.ingestBatch(warm, s"$work/warm-vid", "data", "id", 0L)
      VideoIngest.ingestBatch(warm, s"$work/warm-vid", "data", "id", 1L)
      VideoIngest.ingestBatch(warm, s"$work/warm-vid", "data", "id", 2L)
      warm.unpersist()
    }
    timedReps("video_ingest", nAssets) { r =>
      timing {
        (0 until nBatches).foreach { i =>
          VideoIngest.ingestBatch(
            video.where(col("id") % nBatches === i),
            s"$work/vid-r$r", "data", "id", i.toLong)
        }
      }
    }

    // The DISTRIBUTED (unfused) ingest shape — what an over-cap /
    // over-byte-budget batch falls back to, and the shape a
    // 1000-executor ingest of a huge batch runs. Forced through the
    // gatherCapped hook so the 100-TB path is MEASURED in every
    // round's throughput suite, not only asserted equivalent in specs;
    // a regression here is invisible to the fused numbers.
    locally {
      sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
      try {
        val warm = docs.limit(64).cache()
        warm.count()
        NearDupIngest.ingestBatch(warm, s"$work/warm-mh-fb", "text", "doc_id", 0L)
        NearDupIngest.ingestBatch(warm, s"$work/warm-mh-fb", "text", "doc_id", 1L)
        warm.unpersist()
      } finally sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
    }
    timedReps("neardup_ingest_fallback", nDocs) { r =>
      sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
      try timing {
        (0 until nBatches).foreach { i =>
          NearDupIngest.ingestBatch(
            docBatch(i), s"$work/mh-fb-r$r", "text", "doc_id", i.toLong)
        }
      } finally sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
    }

    // The embed and sig64 forced-fallback shapes (round 15, the r14
    // verdict's #2): the r14 restructure was PORTED to both unfused
    // paths but only the minhash fallback was measured — an unmeasured
    // 100-TB path can silently regress. Same bar discipline as
    // neardup_ingest_fallback: >= 0.5x the same-run fused median
    // (load-robust — both shapes' reps interleave in one run). The
    // image ingest is the sig64 family's representative (image/audio/
    // video share Sig64Ingest's machinery; one shape measures it).
    locally {
      sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
      try {
        val warmE = embs.limit(64).cache()
        warmE.count()
        EmbedIngest.ingestBatch(
          warmE, s"$work/warm-emb-fb", "embedding", "vec_id", 0L)
        EmbedIngest.ingestBatch(
          warmE, s"$work/warm-emb-fb", "embedding", "vec_id", 1L)
        warmE.unpersist()
        val warmI = images.limit(64).cache()
        warmI.count()
        ImageIngest.ingestBatch(warmI, s"$work/warm-img-fb", "data", "id", 0L)
        ImageIngest.ingestBatch(warmI, s"$work/warm-img-fb", "data", "id", 1L)
        warmI.unpersist()
      } finally sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
    }
    timedReps("embed_ingest_fallback", nEmbs) { r =>
      sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
      try timing {
        (0 until nBatches).foreach { i =>
          EmbedIngest.ingestBatch(
            embs.where(col("vec_id") % nBatches === i),
            s"$work/emb-fb-r$r", "embedding", "vec_id", i.toLong)
        }
      } finally sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
    }
    timedReps("sig64_ingest_fallback", nAssets) { r =>
      sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
      try timing {
        (0 until nBatches).foreach { i =>
          ImageIngest.ingestBatch(
            images.where(col("id") % nBatches === i),
            s"$work/img-fb-r$r", "data", "id", i.toLong)
        }
      } finally sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
    }

    // CDC: the same synthetic change feed through both modes — the
    // snapshot mode pays O(table) per batch, the log mode O(batch);
    // the ratio between these two numbers is the design point.
    val cdcRows = 40000
    val changes = (0 until nBatches).map { i =>
      spark
        .range(cdcRows / nBatches)
        .select(
          (col("id") * nBatches + i).as("k"),
          concat(lit("tag"), col("id") % 7).as("tag"),
          (col("id") * 1.5).as("v"),
          lit(i.toLong).as("version"),
          lit(false).as("deleted"))
        .cache()
    }
    cached ++= changes
    changes.foreach(_.count())
    timedReps("cdc_upsert_snapshot", cdcRows.toLong) { r =>
      timing {
        changes.zipWithIndex.foreach { case (c, i) =>
          CdcUpsert.applyBatch(
            c, s"$work/cdc-snap-r$r", Seq("k"), "version", "deleted", i.toLong)
        }
      }
    }
    timedReps("cdc_log_append", cdcRows.toLong) { r =>
      timing {
        changes.zipWithIndex.foreach { case (c, i) =>
          CdcLog.appendBatch(
            c, s"$work/cdc-log-r$r", Seq("k"), "version", "deleted", i.toLong)
        }
      }
    }

    // mapGroupsWithState operators: real MemoryStream queries (update
    // mode), synthetic keyed loads — 16 keys, bounded token/value
    // domains so the MG/HLL state actually exercises its caps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val streamRows = 60000
    val perBatch = streamRows / nBatches

    timedReps("stream_distinct_hll", streamRows.toLong) { r =>
      val distinctIn = MemoryStream[(String, String)]
      val distinctQ = StreamDistinct
        .distinctStream(distinctIn.toDS().map(t =>
          StreamDistinct.KeyedValue(t._1, t._2)))
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(s"graft_streambench_distinct_r$r")
        .start()
      try timing {
        (0 until nBatches).foreach { b =>
          distinctIn.addData((0 until perBatch).map(i =>
            (s"k${i % 16}", s"v${(b * perBatch + i) % 20000}")): _*)
          distinctQ.processAllAvailable()
        }
      } finally distinctQ.stop()
    }

    timedReps("stream_topk_mg", streamRows.toLong) { r =>
      val topkIn = MemoryStream[StreamTopK.TokenEvent]
      val topkQ = StreamTopK
        .topKStream(topkIn.toDS(), k = 64, topN = 10)
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(s"graft_streambench_topk_r$r")
        .start()
      try timing {
        (0 until nBatches).foreach { b =>
          topkIn.addData((0 until perBatch).map { i =>
            // zipf-ish: low token ids repeat often (heavy hitters exist)
            val t = (b * perBatch + i) % 977
            StreamTopK.TokenEvent(s"k${i % 16}", s"t${t * t % 977}")
          }: _*)
          topkQ.processAllAvailable()
        }
      } finally topkQ.stop()
    }

    timedReps("stream_cms", streamRows.toLong) { r =>
      val cmsIn = MemoryStream[(String, String)]
      val cmsQ = graft.streaming.StreamCms
        .cmsStream(
          cmsIn.toDS().map(t => graft.streaming.StreamCms.KeyedValue(t._1, t._2)),
          probes = Seq("v0", "v17", "v999"))
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(s"graft_streambench_cms_r$r")
        .start()
      try timing {
        (0 until nBatches).foreach { b =>
          cmsIn.addData((0 until perBatch).map(i =>
            (s"k${i % 16}", s"v${(b * perBatch + i) % 20000}")): _*)
          cmsQ.processAllAvailable()
        }
      } finally cmsQ.stop()
    }

    // INTERLEAVED execution: rep r of every component runs before rep
    // r+1 of any, so a transient load spike taxes one rep of many
    // components instead of every rep of one — the median then absorbs
    // it. Afterwards, any component whose (max−min)/median spread
    // exceeds 25% gets [[ExtraNoisyReps]] more interleaved reps: a
    // noisy number is re-measured (more samples for its median), not
    // shipped as-is. The spread row reports the final rep count, so a
    // record where n > the base reps is self-describing as
    // was-noisy-and-re-measured.
    val vals = Array.fill(comps.length)(
      scala.collection.mutable.ArrayBuffer.empty[Double])
    def runRep(ci: Int, r: Int): Unit = {
      val (_, rows, body) = comps(ci)
      val sec = body(r)
      vals(ci) += (if (sec > 0) rows / sec else 0.0)
    }
    if (comps.isEmpty && streamOnly.isDefined)
      System.err.println(
        s"[streambench] SPARK_GRAFT_STREAM_ONLY=${streamOnly.get.mkString(",")} " +
          "matched NO components — the record's streaming map will be empty")
    for (r <- 0 until reps; ci <- comps.indices) runRep(ci, r)
    def spreadRatio(ci: Int): Double = {
      val s = vals(ci).sorted
      val med = s(s.length / 2)
      if (med <= 0) 0.0 else (s.last - s.head) / med
    }
    val noisy = comps.indices.filter(spreadRatio(_) > 0.25)
    for (e <- 0 until ExtraNoisyReps; ci <- noisy) runRep(ci, reps + e)
    // Second escalation wave (round-14, widening the variance guard):
    // a component whose max/min ratio across ALL reps so far still
    // exceeds [[ExtremeSpreadRatio]] (measured this box: ingest_dedup
    // 690–5,234 = 7.6×, cdc_log 1,163–39,740 = 34×) has a median only
    // as trustworthy as its n — grant [[ExtraExtremeReps]] more
    // interleaved reps. The spread row's n self-describes the tier:
    // base reps = quiet, +2 = noisy, +5 = extreme.
    def extremeRatio(ci: Int): Double = {
      val s = vals(ci).sorted
      if (s.head <= 0) { if (s.last > 0) Double.PositiveInfinity else 0.0 }
      else s.last / s.head
    }
    val extreme = comps.indices.filter(extremeRatio(_) > ExtremeSpreadRatio)
    for (e <- 0 until ExtraExtremeReps; ci <- extreme)
      runRep(ci, reps + ExtraNoisyReps + e)
    val out = comps.indices.map { ci =>
      val s = vals(ci).sorted
      comps(ci)._1 -> s(s.length / 2)
    }
    val spreads = comps.indices.map { ci =>
      val s = vals(ci).sorted
      comps(ci)._1 -> ((s.head, s.last, s.length))
    }
    // trigger-interval sweep fit: the three embed components run the
    // SAME corpus at nBatches/2/1 micro-batches, so wall(B) ≈ B·fixed
    // + rows·linear and the per-batch FIXED cost is the least-squares
    // slope of wall over batch count — the number a production
    // deployment divides its latency budget by to pick a trigger
    // interval. Derived from the (contention-absorbing) medians;
    // emitted in ms in its OWN record section (streaming_fixed_ms),
    // never mixed into the rows/s map whose uniform unit downstream
    // tooling can rely on. Known second-order term the fit
    // absorbs into "fixed": later batches of the multi-batch runs
    // probe a base index grown by earlier batches, which a 1-batch run
    // never pays — at this corpus (~2k vectors) that probe-growth cost
    // is far inside the run-to-run spread, but the number is a
    // production LEVER estimate, not a pure scheduler constant.
    val sweep = Seq("embed_ingest" -> nBatches, "embed_ingest_bulk" -> 2,
      "embed_ingest_1batch" -> 1)
    val byName = out.toMap
    val fit =
      if (sweep.forall { case (n, _) => byName.get(n).exists(_ > 0) }) {
        val rows = comps.find(_._1 == "embed_ingest").get._2.toDouble
        val pts = sweep.map { case (n, b) => (b.toDouble, rows / byName(n)) }
        val mb = pts.map(_._1).sum / pts.size
        val mt = pts.map(_._2).sum / pts.size
        val slope = pts.map { case (b, t) => (b - mb) * (t - mt) }.sum /
          pts.map { case (b, _) => (b - mb) * (b - mb) }.sum
        Seq("embed_ingest_fixed_ms_per_batch" -> slope * 1000.0)
      } else Seq.empty
    (out, spreads, fit)
  }

  /** Extra interleaved reps granted to components whose base-rep
    * spread exceeds 25% of their median.
    */
  private val ExtraNoisyReps = 2

  /** max/min ratio past which a component's spread counts as EXTREME
    * (the noisy-rep wave alone leaves the median too thin) and a
    * second wave of [[ExtraExtremeReps]] interleaved reps runs.
    */
  private val ExtremeSpreadRatio = 5.0

  /** Size of the second (extreme-spread) escalation wave. */
  private val ExtraExtremeReps = 3

  /** The dev/adjudication component filter
    * (`SPARK_GRAFT_STREAM_ONLY=embed,cdc` — substring match,
    * comma-separated). Exposed so [[graft.Bench]] can refuse to stamp
    * a canonical round record from a FILTERED streaming run.
    */
  def streamOnlyFilter: Option[Set[String]] = sys.env
    .get("SPARK_GRAFT_STREAM_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** 1-minute system load average, or -1 where the JVM can't read it —
    * stamped before/after each bench record so a contended run is
    * visibly contended instead of silently slow.
    */
  def loadAvg(): Double = {
    val v = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    if (v.isNaN) -1.0 else v
  }

  /** `{"name":{"min":…,"max":…,"n":…},…}` — shared by [[main]] and
    * [[graft.Bench]].
    */
  def spreadJson(sp: Seq[(String, (Double, Double, Int))]): String =
    sp.map { case (k, (mn, mx, n)) =>
      "\"" + k + "\":{\"min\":" +
        "%.1f".formatLocal(java.util.Locale.ROOT, mn) +
        ",\"max\":" + "%.1f".formatLocal(java.util.Locale.ROOT, mx) +
        ",\"n\":" + n + "}"
    }.mkString("{", ",", "}")

  /** Standalone dev entry: one JSON line, same shape as the Bench
    * `"streaming"` field.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder(Session.workers())
      // the Bench rationale: the 100-entry default codegen cache
      // thrashes across components and recompiles the ingest probe
      // plans between interleaved reps
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadBefore = loadAvg()
    val (r, sp, fit) = runWithSpread(spark, sfDir)
    val loadAfter = loadAvg()
    // Locale.ROOT: f"%.1f" under a comma-decimal locale breaks the JSON
    val med = r
      .map { case (k, v) =>
        "\"" + k + "\":" + "%.1f".formatLocal(java.util.Locale.ROOT, v)
      }
      .mkString("{", ",", "}")
    val fj = fit
      .map { case (k, v) =>
        "\"" + k + "\":" + "%.1f".formatLocal(java.util.Locale.ROOT, v)
      }
      .mkString("{", ",", "}")
    println(
      s"""{"streaming_rows_per_sec":$med,""" +
        s""""streaming_spread":${spreadJson(sp)},""" +
        s""""streaming_fixed_ms":$fj,""" +
        s""""load":{"before":${"%.2f".formatLocal(
            java.util.Locale.ROOT, loadBefore)},"after":${"%.2f".formatLocal(
            java.util.Locale.ROOT, loadAfter)}},"sf":"$sfDir"}""")
    spark.stop()
  }
}
