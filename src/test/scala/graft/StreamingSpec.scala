package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Batch/stream parity: the streaming windowed aggregation over the
  * events file source must agree with the batch bucket aggregation.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming windowed counts match batch buckets (memory sink)") {
    val batch = EventStream
      .bucketAggBatch(Tables.events(spark, TestSpark.sf))
      .agg(sum("n"))
      .head()
      .getLong(0)

    val stream = EventStream.readEventsStream(spark, TestSpark.sf)
    val q = EventStream
      .windowedCounts(stream)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("graft_stream_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark
        .sql("SELECT sum(n) FROM graft_stream_test")
        .head()
        .getLong(0)
      assert(streamed === batch)
      assert(batch === Tables.events(spark, TestSpark.sf).count())
    } finally q.stop()
  }

  test("streaming dedup emits one row per key (batch distinct parity)") {
    val expected = Tables.events(spark, TestSpark.sf)
      .agg(countDistinct(col("user_id"))).head().getLong(0)
    val stream = EventStream.readEventsStream(spark, TestSpark.sf)
    // watermark far beyond the data's time span → exact within the test
    val q = EventStream.dedupStream(stream, Seq("user_id"), "3650 days")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_dedup_stream")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT count(*) FROM graft_dedup_stream")
        .head().getLong(0)
      assert(got === expected)
    } finally q.stop()
  }

  test("stream-static enrichment join matches the batch join") {
    val ev = Tables.events(spark, TestSpark.sf)
    // static dimension: per-user tier derived once (stands in for a
    // profile table)
    val dim = ev.groupBy("user_id")
      .agg((count(lit(1)) % 3).as("tier"))
    val batchTotal = ev.join(dim, Seq("user_id"))
      .agg(sum("tier")).head().getLong(0)

    val stream = EventStream.readEventsStream(spark, TestSpark.sf)
    val q = EventStream.enrichStream(stream, dim, Seq("user_id"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_enriched")
      .start()
    try {
      q.processAllAvailable()
      val streamedTotal = spark
        .sql("SELECT sum(tier) FROM graft_enriched").head().getLong(0)
      assert(streamedTotal === batchTotal)
      // every event row survived the enrichment (inner join, full dim)
      val n = spark.sql("SELECT count(*) FROM graft_enriched").head().getLong(0)
      assert(n === ev.count())
    } finally q.stop()
  }

  test("event-time timeout flushes an idle key's open session") {
    import spark.implicits._
    import graft.operators.Sessionize
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val gapMs = 1800L * 1000 // 30 min

    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = input
      .toDS()
      .toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .as[Sessionize.TsEvent]
    val q = Sessionize
      .streamingSessionsTimeout(events, gapMs)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_sessions_timeout")
      .start()
    try {
      // user 1: two events, then silence forever (t=1000s clears the
      // stream's initial watermark of 0 — an epoch-0 event is "late")
      input.addData((1L, ts(1000), 1.0), (1L, ts(1010), 2.0))
      q.processAllAvailable()
      // user 2 keeps the stream (and the watermark) moving past 1's gap
      input.addData((2L, ts(9200), 5.0))
      q.processAllAvailable()
      input.addData((2L, ts(9210), 6.0))
      q.processAllAvailable() // batch runs with watermark 9200s > 1010s+gap
      val out = spark
        .sql("SELECT * FROM graft_sessions_timeout WHERE user_id = 1")
        .as[Sessionize.SessionOut]
        .collect()
      // the idle session flushed via timeout, with nobody closing it
      assert(out.length === 1)
      assert(out.head === Sessionize.SessionOut(1L, 1000000L, 1010000L, 2L, 3.0))
    } finally q.stop()
  }

  test("streaming top-k: MG state across batches keeps the batch bound") {
    import spark.implicits._
    import graft.streaming.StreamTopK
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // key "a": 120×hot + 60 distinct cold tokens, split across batches
    val batch1 =
      Seq.fill(70)("hot") ++ (0 until 30).map(i => s"c$i")
    val batch2 =
      Seq.fill(50)("hot") ++ (30 until 60).map(i => s"c$i")
    val k = 16
    val n = (batch1.length + batch2.length).toDouble

    val input = MemoryStream[StreamTopK.TokenEvent]
    val q = StreamTopK
      .topKStream(input.toDS(), k = k, topN = 5)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("graft_stream_topk")
      .start()
    try {
      input.addData(batch1.map(StreamTopK.TokenEvent("a", _)): _*)
      q.processAllAvailable()
      input.addData(batch2.map(StreamTopK.TokenEvent("a", _)): _*)
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT * FROM graft_stream_topk")
        .as[StreamTopK.TopKOut]
        .collect()
      val last = rows.maxBy(_.n_total) // update mode: latest emission
      assert(last.n_total === n.toLong)
      val est = last.top.zip(last.est).toMap
      // hot (true 120 > N/(k+1) ≈ 10.6) must survive, undercount-bounded
      assert(est.contains("hot"))
      assert(est("hot") <= 120L && est("hot") >= 120L - n / (k + 1))
      // state is k-bounded: emitted top can never exceed k entries
      assert(last.top.length <= k)
    } finally q.stop()
  }

  test("streaming weighted sample equals the batch sampler under any batch split") {
    import spark.implicits._
    import graft.streaming.StreamSample
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // 3 groups x 40 items with spread weights; duplicates planted so
    // the duplicate-preserving contract is exercised
    val items = (0 until 120).map { i =>
      StreamSample.Item(s"g${i % 3}", s"doc-${i / 3}", 0.5 + (i % 7))
    } ++ Seq(
      StreamSample.Item("g0", "doc-1", 0.5 + 3),
      StreamSample.Item("g0", "doc-1", 0.5 + 3))
    val k = 8
    val seed = "s1"

    def streamed(split: Int): Map[String, Seq[String]] = {
      val input = MemoryStream[StreamSample.Item]
      val q = StreamSample
        .sampleStream(input.toDS(), k, seed)
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(s"graft_stream_sample_$split")
        .start()
      try {
        items.grouped(math.max(1, items.length / split)).foreach { b =>
          input.addData(b: _*)
          q.processAllAvailable()
        }
        // update mode: the LAST emission per group is the final state
        spark
          .sql(s"SELECT * FROM graft_stream_sample_$split")
          .as[StreamSample.SampleOut]
          .collect()
          .zipWithIndex
          .groupBy(_._1.group)
          .map { case (g, rows) => g -> rows.maxBy(_._2)._1.content.toSeq }
      } finally q.stop()
    }

    val oneBatch = streamed(1)
    val fourBatches = streamed(4)
    // batching invariance is EXACT, not distributional
    assert(oneBatch === fourBatches)

    // and the final state IS the batch sampler's answer on the union
    val batch = graft.operators.Sampling
      .weightedSamplePerGroup(
        items.toDF("group", "content", "weight"),
        "content",
        col("weight"),
        Seq(col("group")),
        k,
        seed,
        tieBreak = Seq(col("content")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1)
      .map { case (g, rs) => g -> rs.map(_._2).sorted.toSeq }
    val streamedSorted =
      oneBatch.map { case (g, cs) => g -> cs.sorted }
    assert(streamedSorted === batch)
    // every group's state is k-bounded
    oneBatch.values.foreach(cs => assert(cs.length === k))
  }

  test("streaming near-dup ingest: intra + cross-batch dedup, replay-safe") {
    import spark.implicits._
    import graft.streaming.NearDupIngest
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base =
      "the quick brown fox jumps over the lazy dog again and again today " +
        "while the river runs quietly past the old stone mill"
    val other =
      "completely different text about distributed query engines and " +
        "shuffle partitioning strategies for large scale analytics"
    val idx = Files.createTempDirectory("graft-neardup-ingest").toString + "/mh"
    val ckpt = Files.createTempDirectory("graft-neardup-ckpt").toString

    val input = MemoryStream[(Long, String)]
    val q = NearDupIngest.start(
      input.toDS().toDF("doc_id", "text"), idx, ckpt)
    try {
      // batch 1: 2 is an intra-batch near-dup of 1; 10 is unrelated
      input.addData((1L, base), (2L, base + " extra"), (10L, other))
      q.processAllAvailable()
      assert(
        NearDupIngest.ingestedIds(spark, idx).get
          .as[Long].collect().toSet === Set(1L, 10L))
      // batch 2: 3 is a CROSS-batch near-dup of 1; 20 is novel
      input.addData(
        (3L, base + " extra words"),
        (20L, "a wholly novel document mentioning nothing else at all"))
      q.processAllAvailable()
      assert(
        NearDupIngest.ingestedIds(spark, idx).get
          .as[Long].collect().toSet === Set(1L, 10L, 20L))
    } finally q.stop()

    // replaying a committed batch id is a no-op (markers short-circuit)
    NearDupIngest.ingestBatch(
      Seq((1L, base), (2L, base + " extra"), (10L, other))
        .toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 0L)
    assert(
      NearDupIngest.ingestedIds(spark, idx).get
        .as[Long].collect().toSet === Set(1L, 10L, 20L))

    // crashed partial publish: batch 2 commits, then its buckets twin
    // vanishes (crash between the two publishes). The replay must
    // rebuild BOTH segments — and must NOT flag doc 30 as a near-dup
    // of its own half-committed signatures
    val b2 = Seq((30L, "yet another unrelated piece of text entirely its own"))
      .toDF("doc_id", "text")
    NearDupIngest.ingestBatch(b2, idx, "text", "doc_id", batchId = 2L)
    assert(
      NearDupIngest.ingestedIds(spark, idx).get
        .as[Long].collect().toSet === Set(1L, 10L, 20L, 30L))
    val root = new org.apache.hadoop.fs.Path(idx)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx, "buckets/batch=2"), true)
    NearDupIngest.ingestBatch(b2, idx, "text", "doc_id", batchId = 2L)
    assert(
      NearDupIngest.ingestedIds(spark, idx).get
        .as[Long].collect().toSet === Set(1L, 10L, 20L, 30L))
    // the rebuilt buckets are live: a near-dup of 30 is caught
    NearDupIngest.ingestBatch(
      Seq((31L, "yet another unrelated piece of text entirely its own " +
        "again")).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 3L)
    assert(
      NearDupIngest.ingestedIds(spark, idx).get
        .as[Long].collect().toSet === Set(1L, 10L, 20L, 30L))
  }

  test("mh forced-fallback (the bench hook) agrees with the fused path") {
    // the restructured distributed shape (round 14: spread batch,
    // concurrent corpus probe over sig0, flag-local anti-join) must
    // ingest IDENTICAL survivor sets to the fused shape across
    // batches that exercise intra-batch near-dups, cross-batch
    // near-dups, and novelty — asserted via the exact JVM-prop hook
    // StreamBench's neardup_ingest_fallback rep sets
    import spark.implicits._
    import graft.streaming.NearDupIngest
    val base =
      "the quick brown fox jumps over the lazy dog again and again today " +
        "while the river runs quietly past the old stone mill"
    val other =
      "completely different text about distributed query engines and " +
        "shuffle partitioning strategies for large scale analytics"
    def runTo(idx: String, force: Boolean): Set[Long] = {
      def batch(rows: Seq[(Long, String)], id: Long): Unit = {
        if (force) sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
        try NearDupIngest.ingestBatch(
          rows.toDF("doc_id", "text"), idx, "text", "doc_id", batchId = id)
        finally sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
      }
      batch(Seq((1L, base), (2L, base + " extra"), (10L, other)), 0L)
      batch(
        Seq(
          (3L, base + " extra words"), // cross-batch near-dup of 1
          (4L, other + " slightly"), // cross-batch near-dup of 10
          (20L, "a wholly novel document mentioning nothing else at all"),
          (21L, "a wholly novel document mentioning nothing else at all " +
            "too")), // intra-batch near-dup of 20
        1L)
      NearDupIngest.ingestedIds(spark, idx).get.as[Long].collect().toSet
    }
    val fused = runTo(
      Files.createTempDirectory("graft-mhf").toString + "/mh", force = false)
    val forced = runTo(
      Files.createTempDirectory("graft-mhff").toString + "/mh", force = true)
    assert(fused === forced)
    assert(fused === Set(1L, 10L, 20L))
  }

  test("mh forced-fallback: every job of the batch keeps the caller's job description") {
    // the concurrent corpus probe runs on its own thread; its jobs must
    // still carry the description that thread inherited from the caller
    // (a profiler's per-op tag), not one the probe sets for itself
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.streaming.NearDupIngest
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val idx = Files.createTempDirectory("graft-jobdesc").toString + "/mh"
    val base =
      "the quick brown fox jumps over the lazy dog again and again today " +
        "while the river runs quietly past the old stone mill"
    NearDupIngest.ingestBatch(
      Seq((1L, base)).toDF("doc_id", "text"), idx, "text", "doc_id", 0L)
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = String.valueOf(e.properties.getProperty("spark.job.description"))
        if (d == marker) markerSeen.countDown() else descs.add(d)
      }
    }
    sc.addSparkListener(listener)
    try {
      sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
      sc.setJobDescription("outer")
      try NearDupIngest.ingestBatch(
        Seq((2L, base + " extra"), (3L, "a wholly novel document"))
          .toDF("doc_id", "text"),
        idx, "text", "doc_id", 1L)
      finally {
        sc.setJobDescription(null)
        sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
      }
      // one listener's events arrive in order: once the marker job's
      // start is delivered, so is every job start of the batch
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val seen = descs.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "outer"), seen)
    assert(
      NearDupIngest.ingestedIds(spark, idx).get
        .as[Long].collect().toSet === Set(1L, 3L))
  }

  test("near-dup index compaction: one segment, exact bn, crash-replayable") {
    import spark.implicits._
    import graft.streaming.NearDupIngest
    import org.apache.hadoop.fs.{FileUtil, Path}

    val conf = spark.sparkContext.hadoopConfiguration
    val base =
      "the quick brown fox jumps over the lazy dog again and again today " +
        "while the river runs quietly past the old stone mill"
    val otherA =
      "completely different text about distributed query engines and " +
        "shuffle partitioning strategies for large scale analytics"
    val otherB =
      "a wholly novel document mentioning nothing else at all in common"
    val otherC =
      "yet another unrelated piece of text entirely its own invention"
    val idx =
      Files.createTempDirectory("graft-neardup-compact").toString + "/mh"
    val fs = new Path(idx).getFileSystem(conf)
    // segments WITH data files (tombstoned folds are marker-only)
    def segs(tree: String): Set[String] =
      fs.listStatus(new Path(idx, tree))
        .filter(s =>
          s.isDirectory && s.getPath.getName.startsWith("batch=") &&
            fs.listStatus(s.getPath).exists(f =>
              f.isFile && !f.getPath.getName.startsWith("_")))
        .map(_.getPath.getName)
        .toSet
    def isTombstone(tree: String, name: String): Boolean = {
      val p = new Path(idx, s"$tree/$name")
      fs.exists(p) &&
      graft.streaming.SnapshotCommit.isCommitted(fs, p) &&
      !fs.listStatus(p).exists(f =>
        f.isFile && !f.getPath.getName.startsWith("_"))
    }
    def bnIsExact(): Unit = {
      // every stored bn must equal the bucket's actual member count
      val bad = spark.read.parquet(s"$idx/buckets")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("bn").as("mn"), max("bn").as("mx"))
        .where(col("n") =!= col("mn") || col("n") =!= col("mx"))
        .count()
      assert(bad === 0L)
    }

    NearDupIngest.ingestBatch(
      Seq((1L, base), (10L, otherA)).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 0L)
    NearDupIngest.ingestBatch( // 2 is a cross-batch near-dup of 1
      Seq((2L, base + " extra"), (20L, otherB)).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 1L)
    NearDupIngest.ingestBatch(
      Seq((30L, otherC)).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 2L)
    val before = NearDupIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet
    assert(before === Set(1L, 10L, 20L, 30L))

    // keep pre-compaction segments around to fake crashes below
    val saved = Files.createTempDirectory("graft-neardup-saved").toString
    for (t <- Seq("sig", "buckets"))
      FileUtil.copy(fs, new Path(idx, t), fs, new Path(saved, t), false, conf)

    NearDupIngest.compact(spark, idx)
    assert(segs("sig") === Set("batch=c2"))
    assert(segs("buckets") === Set("batch=c2"))
    // folded batches leave marker-only tombstones — the replay-
    // idempotence state survives the fold
    for (t <- Seq("sig", "buckets"); b <- Seq("batch=0", "batch=1", "batch=2"))
      assert(isTombstone(t, b), s"$t/$b should be a marker-only tombstone")
    assert(NearDupIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === before)
    bnIsExact()
    NearDupIngest.compact(spark, idx) // tombstones + 1 data segment: no-op
    assert(segs("sig") === Set("batch=c2"))
    // replaying an already-FOLDED batch id is still a no-op (the
    // tombstone's markers short-circuit; without them the batch would
    // re-ingest rows the corpus already holds)
    NearDupIngest.ingestBatch(
      Seq((2L, base + " extra"), (20L, otherB)).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 1L)
    assert(segs("sig") === Set("batch=c2"))
    assert(NearDupIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === before)

    // the compacted index is live: a near-dup of a folded doc is caught
    NearDupIngest.ingestBatch(
      Seq((3L, base + " more")).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 3L)
    assert(NearDupIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === before)

    // crash BETWEEN the two publishes: sig's c-segment committed, the
    // buckets twin missing, folded originals not yet deleted. The
    // replay must rebuild exactly — docs present both in c2 and in a
    // restored original must count ONCE (the fold dedups by id)
    fs.delete(new Path(idx, "buckets/batch=c2"), true)
    fs.delete(new Path(idx, "sig/batch=3"), true)
    fs.delete(new Path(idx, "buckets/batch=3"), true)
    for (t <- Seq("sig", "buckets"); b <- Seq("batch=0", "batch=1", "batch=2")) {
      fs.delete(new Path(idx, s"$t/$b"), true) // replace the tombstone
      FileUtil.copy(
        fs, new Path(saved, s"$t/$b"), fs, new Path(idx, s"$t/$b"),
        false, conf)
    }
    NearDupIngest.compact(spark, idx)
    assert(segs("sig") === Set("batch=c2"))
    assert(segs("buckets") === Set("batch=c2"))
    assert(NearDupIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === before)
    bnIsExact() // double-counted docs would inflate bn — exactness proves not

    // crash MID-FOLD: both targets committed, one stale original left
    // with data (tombstoning hadn't reached it)
    for (t <- Seq("sig", "buckets")) {
      fs.delete(new Path(idx, s"$t/batch=0"), true)
      FileUtil.copy(
        fs, new Path(saved, s"$t/batch=0"), fs,
        new Path(idx, s"$t/batch=0"), false, conf)
    }
    NearDupIngest.compact(spark, idx) // repair: tombstones the stale fold
    assert(segs("sig") === Set("batch=c2"))
    assert(segs("buckets") === Set("batch=c2"))
    assert(isTombstone("sig", "batch=0") && isTombstone("buckets", "batch=0"))
    assert(NearDupIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === before)
  }

  test("compact between a crash and the replay: folded batch is not re-ingested") {
    import spark.implicits._
    import graft.streaming.NearDupIngest
    import org.apache.hadoop.fs.Path

    // the ADVICE r6 interleaving: batch N crashes BETWEEN its sig and
    // buckets publishes; compact() runs BEFORE the stream replays N.
    // The committed sig segment is folded into batch=c<N> and
    // tombstoned — the replay must recognize the covering fold and
    // no-op. Without the guard it would delete the tombstone (losing
    // the 'already folded' marker) and re-ingest; rows in buckets
    // larger than maxBucketSize escape the self-flag probe and would
    // commit a SECOND time.
    val conf = spark.sparkContext.hadoopConfiguration
    val base =
      "the quick brown fox jumps over the lazy dog again and again today " +
        "while the river runs quietly past the old stone mill"
    val otherA =
      "completely different text about distributed query engines and " +
        "shuffle partitioning strategies for large scale analytics"
    val otherB =
      "a wholly novel document mentioning nothing else at all in common"
    val idx =
      Files.createTempDirectory("graft-neardup-foldrace").toString + "/mh"
    val fs = new Path(idx).getFileSystem(conf)

    NearDupIngest.ingestBatch(
      Seq((1L, base), (10L, otherA)).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 0L)
    NearDupIngest.ingestBatch(
      Seq((20L, otherB)).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 1L)
    // batch 2 "crashes" after the sig publish: buckets twin vanishes
    val b2 = Seq(
      (30L, "yet another unrelated piece of text entirely its own"))
      .toDF("doc_id", "text")
    NearDupIngest.ingestBatch(b2, idx, "text", "doc_id", batchId = 2L)
    fs.delete(new Path(idx, "buckets/batch=2"), true)

    // compaction runs first (e.g. at restart, before the replay): the
    // committed sig of batch 2 is folded into c2 and tombstoned
    NearDupIngest.compact(spark, idx)
    assert(graft.streaming.SnapshotCommit
      .isCommitted(fs, new Path(idx, "sig/batch=2")))
    assert(!fs.listStatus(new Path(idx, "sig/batch=2")).exists(f =>
      f.isFile && !f.getPath.getName.startsWith("_")))

    // the replay must no-op: tombstone marker kept, no new data files,
    // no duplicate ids in the registry
    NearDupIngest.ingestBatch(b2, idx, "text", "doc_id", batchId = 2L)
    assert(graft.streaming.SnapshotCommit
      .isCommitted(fs, new Path(idx, "sig/batch=2")),
      "replay deleted the tombstone marker")
    assert(!fs.listStatus(new Path(idx, "sig/batch=2")).exists(f =>
      f.isFile && !f.getPath.getName.startsWith("_")),
      "replay re-ingested a folded batch")
    val ids = spark.read.parquet(s"$idx/sig").select("id")
    assert(ids.count() === ids.distinct().count(),
      "duplicate ids in the registry after a folded replay")
    assert(NearDupIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === Set(1L, 10L, 20L, 30L))

    // the corpus is live after the no-op: a near-dup of the folded
    // batch's doc is still caught by the compacted buckets
    NearDupIngest.ingestBatch(
      Seq((31L, "yet another unrelated piece of text entirely its own " +
        "too")).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchId = 3L)
    assert(NearDupIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === Set(1L, 10L, 20L, 30L))
  }

  test("streaming embedding ingest: intra + cross-batch semantic dedup, compaction") {
    import spark.implicits._
    import graft.streaming.EmbedIngest
    import org.apache.hadoop.fs.Path

    // three well-separated directions + near-identical variants
    def unit(i: Int): Array[Float] =
      Array.tabulate(16)(j => if (j == i) 1f else 0f)
    def near(i: Int, eps: Float): Array[Float] = {
      val v = unit(i); v((i + 1) % 16) = eps; v
    }
    val idx =
      Files.createTempDirectory("graft-embed-ingest").toString + "/emb"

    // batch 0: 2 is an intra-batch near-dup of 1; 10 is orthogonal
    EmbedIngest.ingestBatch(
      Seq((1L, unit(0)), (2L, near(0, 0.05f)), (10L, unit(5)))
        .toDF("vec_id", "embedding"),
      idx, "embedding", "vec_id", batchId = 0L, threshold = 0.9)
    assert(EmbedIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === Set(1L, 10L))
    // batch 1: 3 is a CROSS-batch near-dup of 1; 20 is novel
    EmbedIngest.ingestBatch(
      Seq((3L, near(0, 0.08f)), (20L, unit(9)))
        .toDF("vec_id", "embedding"),
      idx, "embedding", "vec_id", batchId = 1L, threshold = 0.9)
    assert(EmbedIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === Set(1L, 10L, 20L))
    // replaying a committed batch id is a no-op
    EmbedIngest.ingestBatch(
      Seq((3L, near(0, 0.08f)), (20L, unit(9)))
        .toDF("vec_id", "embedding"),
      idx, "embedding", "vec_id", batchId = 1L, threshold = 0.9)
    assert(EmbedIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === Set(1L, 10L, 20L))
    // crashed partial publish: buckets twin vanishes → replay rebuilds
    // both without self-flagging the batch's own rows
    val fs = new Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(idx, "buckets/batch=1"), true)
    EmbedIngest.ingestBatch(
      Seq((3L, near(0, 0.08f)), (20L, unit(9)))
        .toDF("vec_id", "embedding"),
      idx, "embedding", "vec_id", batchId = 1L, threshold = 0.9)
    assert(EmbedIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === Set(1L, 10L, 20L))

    // compaction folds to one DATA segment per tree (folded batches
    // stay as marker-only tombstones); the probe stays live
    EmbedIngest.compact(spark, idx)
    def segs(tree: String): Set[String] =
      fs.listStatus(new Path(idx, tree))
        .filter(s =>
          s.isDirectory && s.getPath.getName.startsWith("batch=") &&
            fs.listStatus(s.getPath).exists(f =>
              f.isFile && !f.getPath.getName.startsWith("_")))
        .map(_.getPath.getName).toSet
    assert(segs("sig") === Set("batch=c1"))
    assert(segs("buckets") === Set("batch=c1"))
    assert(EmbedIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === Set(1L, 10L, 20L))
    // post-compaction: a near-dup of a folded doc is still caught,
    // parameter drift still refuses
    EmbedIngest.ingestBatch(
      Seq((4L, near(0, 0.02f)), (30L, unit(13)))
        .toDF("vec_id", "embedding"),
      idx, "embedding", "vec_id", batchId = 2L, threshold = 0.9)
    assert(EmbedIngest.ingestedIds(spark, idx).get
      .as[Long].collect().toSet === Set(1L, 10L, 20L, 30L))
    val drift = intercept[IllegalArgumentException] {
      EmbedIngest.ingestBatch(
        Seq((5L, unit(2))).toDF("vec_id", "embedding"),
        idx, "embedding", "vec_id", batchId = 3L, nBits = 32,
        threshold = 0.9)
    }
    assert(drift.getMessage.contains("incomparable"))

    // the streaming entry point wires every signing parameter through
    // to ingestBatch (a fresh index with non-default nBits/bands: a
    // dropped parameter would either meta-refuse or mis-sign)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx2 =
      Files.createTempDirectory("graft-embed-start").toString + "/emb"
    val ckpt = Files.createTempDirectory("graft-embed-ckpt").toString
    val input = MemoryStream[(Long, Array[Float])]
    val q = EmbedIngest.start(
      input.toDS().toDF("vec_id", "embedding"), idx2, ckpt,
      nBits = 8, bands = 2, threshold = 0.9)
    try {
      input.addData((1L, unit(0)), (2L, near(0, 0.05f)), (10L, unit(5)))
      q.processAllAvailable()
      assert(EmbedIngest.ingestedIds(spark, idx2).get
        .as[Long].collect().toSet === Set(1L, 10L))
    } finally q.stop()
  }

  test("emb ingest: over-cap corpus buckets escape the probe in BOTH shapes") {
    // The skew guard's deliberate recall sacrifice: rows living in a
    // bucket whose occupancy exceeded maxBucketSize at write time
    // cannot flag incoming near-dups. The lean probes consume this as
    // the driver-held over-cap SET (Dedup.leanOverCapSet) — one rule
    // shared by the fused and forced-distributed shapes, pinned here
    // via the exact bench JVM-prop hook. An under-cap control bucket
    // shows the probe itself stays live.
    import spark.implicits._
    import graft.streaming.EmbedIngest
    def unit(i: Int): Array[Float] =
      Array.tabulate(16)(j => if (j == i) 1f else 0f)
    def near(i: Int, eps: Float): Array[Float] = {
      val v = unit(i); v((i + 1) % 16) = eps; v
    }
    def runTo(idx: String, force: Boolean): Set[Long] = {
      def batch(rows: Seq[(Long, Array[Float])], id: Long): Unit = {
        if (force) sys.props(graft.operators.Dedup.ForceUnfusedProp) = "1"
        try EmbedIngest.ingestBatch(
          rows.toDF("vec_id", "embedding"), idx, "embedding", "vec_id",
          batchId = id, threshold = 0.9, maxBucketSize = 8)
        finally sys.props.remove(graft.operators.Dedup.ForceUnfusedProp)
      }
      // 12 identical vectors co-bucket in every band (12 > cap=8), so
      // the intra pair expansion skips the bucket and ALL commit —
      // the corpus now holds an over-cap bucket. 50L seeds an
      // under-cap control direction.
      batch((1L to 12L).map(i => (i, unit(0))) :+ ((50L, unit(5))), 0L)
      // a near-dup of the over-cap pile ESCAPES the probe (survives);
      // a near-dup of the control is flagged (dropped)
      batch(Seq((100L, near(0, 0.05f)), (101L, near(5, 0.05f))), 1L)
      EmbedIngest.ingestedIds(spark, idx).get.as[Long].collect().toSet
    }
    val expected = (1L to 12L).toSet + 50L + 100L
    val fused = runTo(
      Files.createTempDirectory("graft-embcap").toString + "/emb",
      force = false)
    val forced = runTo(
      Files.createTempDirectory("graft-embcapf").toString + "/emb",
      force = true)
    assert(fused === expected)
    assert(forced === expected)
  }

  test("streaming CMS: batch-split invariant and EQUAL to the batch sketch") {
    import spark.implicits._
    import graft.streaming.StreamCms
    import graft.streaming.StreamCms.KeyedValue
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // zipf-ish keyed stream: two state keys, 120 distinct values
    val rows: Seq[(String, String)] = (0 until 1500).map { i =>
      (if (i % 3 == 0) "a" else "b", s"v${i % 120}")
    }
    val probes = Seq("v0", "v7", "v119", "absent")

    def streamed(name: String, chunks: Int): Map[(String, String), (Long, Long)] = {
      val in = MemoryStream[(String, String)]
      val q = StreamCms
        .cmsStream(
          in.toDS().map(t => KeyedValue(t._1, t._2)), probes, width = 512)
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
      try {
        rows.grouped(math.max(1, rows.size / chunks)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        spark.table(name)
          .collect()
          .map(r => (r.getString(0), r.getString(1)) ->
            ((r.getLong(2), r.getLong(3))))
          .groupBy(_._1)
          .map { case (k, vs) => k -> vs.last._2 } // last emission per (key, probe)
      } finally q.stop()
    }

    val s4 = streamed("stream_cms_c4", 4)
    val s1 = streamed("stream_cms_c1", 1)
    // CMS inserts are plain additions: ANY batch split ends in the
    // IDENTICAL state — exact equality, not an error envelope
    assert(s4 === s1, "batch split changed the CMS state")

    // the streamed estimates EQUAL the batch aggregation's (shared
    // insert + hash family) — per state key
    val batch = graft.operators.Sketches
      .cmsFrequencies(
        rows.toDF("key", "value"), "value", probes,
        keys = Seq("key"), width = 512)
      .collect()
      .map(r => (r.getString(0), r.getString(2)) ->
        ((r.getLong(3), r.getLong(1))))
      .toMap
    assert(s4 === batch, "streamed estimates diverge from the batch sketch")

    // ground truth: exact counts for the present probes (width 512 on
    // 120 values: overcount possible but bounded; spot-check exactness
    // of 'absent' = 0 only if no collision — assert the bound instead)
    val exact = rows.groupBy(identity).map { case ((k, v), g) =>
      (k, v) -> g.size.toLong
    }
    probes.filter(_ != "absent").foreach { p =>
      Seq("a", "b").foreach { k =>
        val e = s4((k, p))._1
        val t = exact.getOrElse((k, p), 0L)
        assert(e >= t, s"($k,$p) undercounted")
        assert(e <= t + math.ceil(math.E / 512 * s4((k, p))._2).toLong)
      }
    }
  }

  test("streaming distinct: HLL state never double-counts across batches") {
    import spark.implicits._
    import graft.streaming.StreamDistinct
    import graft.streaming.StreamDistinct.KeyedValue
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[(String, String)]
    val q = StreamDistinct
      .distinctStream(input.toDS().map(t => KeyedValue(t._1, t._2)))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("stream_distinct")
      .start()
    try {
      // batch 1: a={u1,u2}, b={u1}
      input.addData(("a", "u1"), ("a", "u2"), ("a", "u1"), ("b", "u1"))
      q.processAllAvailable()
      // batch 2: a re-sees u1/u2 (must NOT double-count) + one new; b
      // re-sees u1 only
      input.addData(("a", "u1"), ("a", "u3"), ("a", "u2"), ("b", "u1"))
      q.processAllAvailable()
      val last = spark.table("stream_distinct")
        .collect()
        .map(r => (r.getString(0), r.getDouble(1)))
        .groupBy(_._1)
        .map { case (k, vs) => k -> vs.last._2 }
      // HLL is exact at these cardinalities (coupon mode)
      assert(math.round(last("a")) === 3L)
      assert(math.round(last("b")) === 1L)
    } finally q.stop()

    // differentials on a larger stream (700 true distincts):
    // 1. BATCHING-insensitivity of the fold itself, exactly: the same
    //    rows through 4 micro-batches and through 1 must end in the
    //    same state (register updates are max() folds; the state
    //    round-trips through serialization between batches)
    // 2. agreement with the batch sketch family within the HLL error
    //    bound — NOT exact: Spark's hll_sketch_agg is a distributed
    //    partial+final UNION, and union re-encoding vs a sequential
    //    fold can differ by a few counts at the margin (measured:
    //    701 vs 703 at lgK=12)
    val rows = (0 until 2000).map(i => ("k", s"user_${i % 700}"))
    def streamEstimate(name: String, chunks: Int): Double = {
      val in = MemoryStream[(String, String)]
      val q2 = StreamDistinct
        .distinctStream(in.toDS().map(t => KeyedValue(t._1, t._2)))
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
      try {
        rows.grouped(rows.size / chunks).foreach { chunk =>
          in.addData(chunk: _*); q2.processAllAvailable()
        }
        // update-mode emissions accumulate unordered in the sink; the
        // estimate is monotone in rows seen, so the final state's is max
        spark.table(name).collect().map(_.getDouble(1)).max
      } finally q2.stop()
    }
    val streamed4 = streamEstimate("stream_distinct_c4", 4)
    val streamed1 = streamEstimate("stream_distinct_c1", 1)
    assert(streamed4 === streamed1, "batch split changed the fold state")
    val batch = graft.operators.Sketches
      .hllDistinct(rows.toDF("key", "value"), Seq("key"), "value")
      .collect()(0)
      .getLong(1) // hll_sketch_estimate rounds to a long
    // both sides inside the lgK=12 error envelope (~1.6% @ 1 sigma;
    // 3 sigma here), and near each other
    assert(math.abs(streamed4 - 700.0) <= 700 * 0.05)
    assert(math.abs(batch - 700.0) <= 700 * 0.05)
    assert(
      math.abs(streamed4 - batch) <= 700 * 0.05,
      s"streamed=$streamed4 batch=$batch")
  }

  test("streaming ingestion dedup: state converges to the batch dedup") {
    import spark.implicits._
    import graft.streaming.IngestDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val statePath = Files.createTempDirectory("graft-ingest-state").toString + "/fp"
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt").toString

    val input = MemoryStream[(Long, String)]
    val q = IngestDedup.start(
      input.toDS().toDF("doc_id", "text"), statePath, ckpt)
    try {
      // batch 1: one intra-batch duplicate (3 repeats 1 modulo case/space)
      input.addData((1L, "alpha beta"), (2L, "gamma"), (3L, "Alpha   BETA"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate (4 repeats 2) + one new doc
      input.addData((4L, "gamma"), (5L, "delta"))
      q.processAllAvailable()
      val ids = spark.read.parquet(statePath)
        .select("id").as[Long].collect().sorted
      assert(ids === Array(1L, 2L, 5L)) // min-id per fingerprint survives
    } finally q.stop()
  }

  test("ingest commit is atomic: partial-append replay yields no duplicates") {
    import spark.implicits._
    import graft.streaming.IngestDedup
    val statePath = Files.createTempDirectory("graft-ingest-atomic").toString + "/fp"

    IngestDedup.ingestBatch(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      statePath, "text", "doc_id", batchId = 0L)

    // simulate a crashed attempt of batch 1: a partial STAGING dir is on
    // disk (crash before the rename commit) — it must be invisible as
    // state and cleaned up by the retry
    Seq(("deadbeef", 99L)).toDF("fp", "id")
      .write.parquet(statePath + "/_staging/batch-1")
    assert(spark.read.parquet(statePath)
      .select("id").as[Long].collect().sorted === Array(1L, 2L))

    val b1 = Seq((3L, "beta"), (4L, "gamma")).toDF("doc_id", "text")
    IngestDedup.ingestBatch(b1, statePath, "text", "doc_id", batchId = 1L)
    val after = spark.read.parquet(statePath)
      .select("fp", "id").as[(String, Long)].collect()
    assert(after.map(_._2).sorted === Array(1L, 2L, 4L)) // beta already seen
    assert(after.map(_._1).distinct.length === after.length) // fp unique
    assert(!after.exists(_._2 == 99L)) // staging garbage purged, not committed

    // replaying the committed batch id is a no-op — state unchanged
    IngestDedup.ingestBatch(b1, statePath, "text", "doc_id", batchId = 1L)
    assert(spark.read.parquet(statePath)
      .select("id").as[Long].collect().sorted === Array(1L, 2L, 4L))
  }

  test("ingest state compaction folds batch dirs, preserves the set") {
    import spark.implicits._
    import graft.streaming.IngestDedup
    val statePath =
      Files.createTempDirectory("graft-ingest-compact").toString + "/fp"
    IngestDedup.ingestBatch(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"),
      statePath, "text", "doc_id", 0L)
    IngestDedup.ingestBatch(Seq((3L, "b"), (4L, "c")).toDF("doc_id", "text"),
      statePath, "text", "doc_id", 1L)
    IngestDedup.ingestBatch(Seq((5L, "d")).toDF("doc_id", "text"),
      statePath, "text", "doc_id", 2L)
    val before = spark.read.parquet(statePath)
      .select("fp", "id").as[(String, Long)].collect().toSet

    IngestDedup.compact(spark, statePath)
    // one consolidated DATA span; folded batches remain as marker-only
    // tombstones (the replay-idempotence state survives the fold)
    def dataDirs: Seq[String] = new java.io.File(statePath).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("batch=") &&
        d.listFiles().exists(f =>
          f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")))
      .map(_.getName).toSeq
    assert(dataDirs === Seq("batch=c2"))
    for (b <- Seq("batch=0", "batch=1", "batch=2"))
      assert(
        new java.io.File(s"$statePath/$b/_GRAFT_COMMITTED").exists(),
        s"$b should keep its commit marker as a tombstone")
    val after = spark.read.parquet(statePath)
      .select("fp", "id").as[(String, Long)].collect().toSet
    assert(after === before) // same fingerprint set, min ids kept
    // replaying a FOLDED batch id is still a no-op (its marker survived)
    IngestDedup.ingestBatch(Seq((9L, "zzz")).toDF("doc_id", "text"),
      statePath, "text", "doc_id", 1L)
    assert(spark.read.parquet(statePath)
      .select("fp", "id").as[(String, Long)].collect().toSet === before)

    // compaction is idempotent, and the numeric id sequence keeps working
    // (the c-namespace cannot shadow a future stream batch id)
    IngestDedup.compact(spark, statePath)
    IngestDedup.ingestBatch(Seq((6L, "d"), (7L, "e")).toDF("doc_id", "text"),
      statePath, "text", "doc_id", 3L)
    assert(spark.read.parquet(statePath)
      .select("id").as[Long].collect().sorted === Array(1L, 2L, 4L, 5L, 7L))
  }

  test("stream-stream interval join matches the batch attribution join") {
    val ev = Tables.events(spark, TestSpark.sf)
    val batch = EventStream
      .attributionJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(batch.nonEmpty) // non-vacuous at sf0.001

    val stream = EventStream.readEventsStream(spark, TestSpark.sf)
    val q = EventStream
      .attributionJoin(
        stream.where(col("event_type") === "click"),
        stream.where(col("event_type") === "purchase"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_ss_join_test")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark
        .sql("SELECT user_id, click_id, purchase_id FROM graft_ss_join_test")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // one finite source fully processed: watermarking drops nothing
      // that the batch join keeps, so the sets are identical
      assert(streamed === batch)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unconverted clicks as nulls") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ns(min: Long) = min * 60L * 1000000000L // minutes → epoch nanos

    val clicks = MemoryStream[(Long, Long)] // (event_id, ts)
    val purchases = MemoryStream[(Long, Long)]
    def shaped(s: MemoryStream[(Long, Long)], user: org.apache.spark.sql.Column) =
      s.toDS().toDF("event_id", "ts").withColumn("user_id", user)

    val joined = EventStream.attributionJoin(
      shaped(clicks, col("event_id") % 10),
      shaped(purchases, col("event_id") % 10),
      windowMin = 30,
      watermark = "1 hour",
      joinType = "leftOuter")
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_outer_join_test")
      .start()
    try {
      // click 11 (user 1) converts; click 12 (user 2) never does
      clicks.addData((11L, ns(600)), (12L, ns(600)))
      purchases.addData((21L, ns(610))) // user 1, 10 min after the click
      q.processAllAvailable()
      // advance BOTH sides' watermarks past click_time + window + wm so
      // the unmatched click's state is provably complete and the null
      // match is released (outer results are late by the watermark)
      clicks.addData((998L, ns(800)))
      purchases.addData((999L, ns(800)))
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT user_id, click_id, purchase_id FROM graft_outer_join_test")
        .as[(Long, Long, Option[Long])]
        .collect()
        .toSet
      assert(rows.contains((1L, 11L, Some(21L))), s"matched pair missing: $rows")
      assert(rows.contains((2L, 12L, None)), s"outer null row missing: $rows")
    } finally q.stop()
  }

  test("stateful streaming sessionization agrees with the batch form") {
    import spark.implicits._
    import graft.operators.Sessionize
    val gap = 1800L * 1000000000L

    val evDf = Tables.events(spark, TestSpark.sf)
    // batch truth: number of closed sessions = sessions whose last event
    // is followed by another session for the same user
    val batchSessions = Sessionize
      .batch(evDf, col("user_id"), col("ts"), gap)
      .groupBy("user_id")
      .agg(max("session_id").as("m"), count(lit(1)).as("n"))
    val totalSessions = batchSessions
      .agg(sum(col("m") + 1)).head().getLong(0)
    val closedExpected = batchSessions
      .agg(sum(col("m"))).head().getLong(0) // open (last) session per user not emitted

    val stream = EventStream
      .readEventsStream(spark, TestSpark.sf)
      .selectExpr("user_id", "ts AS t", "value")
      .as[Sessionize.SessionEvent]
    val out = Sessionize.streamingSessions(stream, gap)
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_sessions")
      .start()
    try {
      q.processAllAvailable()
      val closedStreamed = spark.sql("SELECT count(*) FROM graft_sessions")
        .head().getLong(0)
      assert(closedStreamed === closedExpected)
      assert(totalSessions > closedExpected)
    } finally q.stop()
  }

  test("late cross-batch event cannot move session bounds backward") {
    import spark.implicits._
    import graft.operators.Sessionize
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // gap 50k. Batch 1: t=100k. Batch 2: LATE t=60k (in-gap). Batch 3:
    // t=120k. Correct state keeps last=100k, so 120k (gap 20k) extends
    // the SAME session; a last-overwrite bug would record last=60k,
    // falsely split, and emit an inverted (start=100k, end=60k) session
    val in = MemoryStream[Sessionize.SessionEvent]
    val q = Sessionize.streamingSessions(in.toDS(), gap = 50000L)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("late_sessions")
      .start()
    try {
      in.addData(Sessionize.SessionEvent(1L, 100000L, 1.0))
      q.processAllAvailable()
      in.addData(Sessionize.SessionEvent(1L, 60000L, 1.0))
      q.processAllAvailable()
      in.addData(Sessionize.SessionEvent(1L, 120000L, 1.0))
      q.processAllAvailable()
      // nothing closed: all three events are one session (60k..120k)
      assert(spark.table("late_sessions").count() === 0L)
      // force a close to inspect the bounds
      in.addData(Sessionize.SessionEvent(1L, 500000L, 1.0))
      q.processAllAvailable()
      val s = spark.table("late_sessions")
        .select("session_start", "session_end", "n_events")
        .as[(Long, Long, Long)].collect()
      assert(s.toSeq === Seq((60000L, 120000L, 3L)))
    } finally q.stop()
  }
}
