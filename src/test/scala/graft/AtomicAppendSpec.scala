package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AtomicAppend, ProductQuant, Sampling, Similarity}
import graft.streaming.SnapshotCommit

/** Crash simulations for the monolithic index appends (SQ / LSH / IVF
  * / BM25 on [[AtomicAppend]]): every test plants a POISONED append —
  * a batch that would hijack the probe's top ranks if any reader
  * honored it — then simulates a crash at the worst window (rename
  * done, marker missing) by deleting the segment's commit marker, and
  * asserts (1) probes are bit-identical to the pre-append index, (2)
  * the next real append REPAIRS the crash (replaces the orphan) and
  * lands probes bit-identical to a one-shot rebuild, with the
  * poisoned rows gone. A leftover `_staging-*` from a mid-write crash
  * is also planted and must be swept.
  */
class AtomicAppendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs =
    org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)

  private def uncommit(dataRoot: String): Unit = {
    val seg = new Path(s"$dataRoot/_seg-1")
    assert(fs.exists(seg), s"expected a published segment at $seg")
    assert(fs.delete(new Path(seg, SnapshotCommit.Marker), false))
  }

  private def plantStagingJunk(dataRoot: String): Unit = {
    val junk = new Path(s"$dataRoot/_staging-1/part-junk.parquet")
    fs.mkdirs(junk.getParent)
    val out = fs.create(junk, true)
    out.write(Array[Byte](1, 2, 3)) // truncated garbage, not parquet
    out.close()
  }

  private lazy val emb = Tables.embeddings(spark, TestSpark.sf)
  private lazy val evens = emb.where(pmod(col("vec_id"), lit(2)) === 0)
  private lazy val odds = emb.where(pmod(col("vec_id"), lit(2)) === 1)
  private lazy val qVec = emb
    .where(col("vec_id") === 2) // an even id: present in every base build
    .select(col("embedding").cast("array<double>"))
    .head()
    .getSeq[Double](0)
  // the poison: the query vector itself under a fresh id — cosine 1.0,
  // rank 1 in any probe that honors the crashed segment
  private def poison = Seq((999999L, qVec)).toDF("vec_id", "embedding")

  test("SQ: crashed append invisible, repair == rebuild") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-atomic-sq").toString
    val idx = s"$base/idx"
    Similarity.sqWriteIndex(evens, "embedding", "vec_id", idx, sourceTag = "s")
    def probe(p: String) = Similarity
      .sqProbeIndex(spark, p, qVec, k = 10, sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getAs[Double]("sim"))).toSeq
    val before = probe(idx)
    Similarity.sqAppendIndex(poison, "embedding", "vec_id", idx, sourceTag = "s")
    uncommit(idx)
    plantStagingJunk(idx)
    assert(probe(idx) === before, "unmarked segment leaked into the probe")
    Similarity.sqAppendIndex(odds, "embedding", "vec_id", idx, sourceTag = "s")
    val rebuilt = s"$base/rebuilt"
    Similarity.sqWriteIndex(emb, "embedding", "vec_id", rebuilt, sourceTag = "s")
    val repaired = probe(idx)
    assert(!repaired.exists(_._1 == 999999L), "poisoned batch survived repair")
    assert(repaired === probe(rebuilt))
    assert(AtomicAppend.committedSegs(spark, idx).size === 1)
  }

  test("LSH: crashed append invisible, repair == rebuild") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-atomic-lsh").toString
    val idx = s"$base/idx"
    Similarity.lshWriteIndex(evens, "embedding", "vec_id", idx, sourceTag = "s")
    def probe(p: String) = Similarity
      .lshProbeIndex(spark, p, qVec, k = 10, sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = probe(idx)
    Similarity.lshAppendIndex(poison, "embedding", "vec_id", idx, sourceTag = "s")
    uncommit(idx)
    plantStagingJunk(idx)
    assert(probe(idx) === before, "unmarked segment leaked into the probe")
    Similarity.lshAppendIndex(odds, "embedding", "vec_id", idx, sourceTag = "s")
    val rebuilt = s"$base/rebuilt"
    Similarity.lshWriteIndex(emb, "embedding", "vec_id", rebuilt, sourceTag = "s")
    val repaired = probe(idx)
    assert(!repaired.exists(_._1 == 999999L), "poisoned batch survived repair")
    assert(repaired === probe(rebuilt))
  }

  test("IVF: crashed append invisible, repair searches the real batch") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-atomic-ivf").toString
    val idx = s"$base/idx"
    Similarity.ivfWriteIndexKmeans(
      evens, "embedding", "vec_id", idx, k = 8, iters = 2, sourceTag = "s")
    // nprobe = k = 8 probes every cell → the probe IS brute force over
    // whatever corpus the reader honors; poison visible ⇒ rank 1
    def probe() = Similarity
      .ivfProbeIndex(spark, idx, qVec, k = 10, nprobe = 8, sourceTag = "s")
      .collect().map(_.getAs[Long]("id")).toSeq
    val before = probe()
    Similarity.ivfAppendIndex(poison, "embedding", "vec_id", idx, sourceTag = "s")
    uncommit(s"$idx/corpus")
    plantStagingJunk(s"$idx/corpus")
    assert(probe() === before, "unmarked segment leaked into the probe")
    Similarity.ivfAppendIndex(odds, "embedding", "vec_id", idx, sourceTag = "s")
    val exact = Similarity
      .bruteForceTopK(emb, "embedding", "vec_id", qVec, 10)
      .collect().map(_.getAs[Long]("id")).toSeq
    val repaired = probe()
    assert(!repaired.contains(999999L), "poisoned batch survived repair")
    assert(repaired === exact)
  }

  test("IVF-PQ: crashed append invisible, repair searches the real batch, split-shape invariant") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-atomic-ivfpq").toString
    val idx = s"$base/idx"
    ProductQuant.ivfPqWriteIndex(
      evens.drop("label"), "embedding", "vec_id", idx,
      kClusters = 4, m = 8, ksub = 16, iters = 2, sourceTag = "s")
    // nprobe = every cell and refine >= corpus: the ADC cut keeps
    // everything and the exact re-rank IS brute force over whatever
    // corpus the reader honors — poison visible ⇒ rank 1
    def probe(p: String) = ProductQuant
      .ivfPqProbe(spark, p, qVec, k = 10, nprobe = 4, refine = 1000,
        sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = probe(idx)
    ProductQuant.ivfPqAppendIndex(poison, "embedding", "vec_id", idx, "s")
    uncommit(s"$idx/corpus")
    plantStagingJunk(s"$idx/corpus")
    assert(probe(idx) === before, "unmarked segment leaked into the probe")
    ProductQuant.ivfPqAppendIndex(
      odds.drop("label"), "embedding", "vec_id", idx, "s")
    val exact = Similarity
      .bruteForceTopK(emb, "embedding", "vec_id", qVec, 10)
      .collect().map(_.getAs[Long]("id")).toSeq
    val repaired = probe(idx)
    assert(!repaired.exists(_._1 == 999999L), "poisoned batch survived repair")
    assert(repaired.map(_._1) === exact)
    assert(AtomicAppend.committedSegs(spark, s"$idx/corpus").size === 1)
    // frozen quantizers make the append SPLIT-SHAPE INVARIANT: the
    // same odd rows landed as two segments probe bitwise-identically
    // (k-means/codebook training is deterministic on the even half,
    // and codes never depend on what else is in the corpus)
    val idx2 = s"$base/idx2"
    ProductQuant.ivfPqWriteIndex(
      evens.drop("label"), "embedding", "vec_id", idx2,
      kClusters = 4, m = 8, ksub = 16, iters = 2, sourceTag = "s")
    ProductQuant.ivfPqAppendIndex(
      odds.drop("label").where(pmod(col("vec_id"), lit(4)) === 1),
      "embedding", "vec_id", idx2, "s")
    ProductQuant.ivfPqAppendIndex(
      odds.drop("label").where(pmod(col("vec_id"), lit(4)) === 3),
      "embedding", "vec_id", idx2, "s")
    assert(probe(idx2) === repaired)
    assert(AtomicAppend.committedSegs(spark, s"$idx2/corpus").size === 2)
  }

  test("BM25: crashed append invisible (postings AND stats), repair == rebuild") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val dEvens = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val dOdds = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val base = java.nio.file.Files
      .createTempDirectory("graft-atomic-bm25").toString
    val idx = s"$base/idx"
    Sampling.bm25WriteIndex(dEvens, "doc_id", "text", idx, sourceTag = "s")
    val batch = Seq(1L -> Seq("hash", "join", "stream"))
    def probe(p: String) = Sampling
      .bm25ProbeMany(spark, p, batch, k = 15, sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = probe(idx)
    val metaBefore = Sampling.bm25ReadMeta(spark, idx)
    // poison: a doc stuffed with the query term — top bm25 if honored
    val pDoc = Seq((999999L, Seq.fill(50)("hash").mkString(" ")))
      .toDF("doc_id", "text")
    Sampling.bm25AppendIndex(pDoc, "doc_id", "text", idx, sourceTag = "s")
    uncommit(s"$idx/postings")
    plantStagingJunk(s"$idx/postings")
    assert(probe(idx) === before, "unmarked postings leaked into the probe")
    // the stats committed WITH the crashed segment must vanish with it
    val metaAfterCrash = Sampling.bm25ReadMeta(spark, idx)
    for (f <- Seq("n", "avgdl", "toks"))
      assert(metaAfterCrash.getAs[Double](f) === metaBefore.getAs[Double](f),
        s"crashed segment's $f leaked into the live stats")
    Sampling.bm25AppendIndex(dOdds, "doc_id", "text", idx, sourceTag = "s")
    val rebuilt = s"$base/rebuilt"
    Sampling.bm25WriteIndex(docs, "doc_id", "text", rebuilt, sourceTag = "s")
    val repaired = probe(idx)
    assert(!repaired.exists(_._2 == 999999L), "poisoned doc survived repair")
    assert(repaired === probe(rebuilt))
    val mE = Sampling.bm25ReadMeta(spark, idx)
    val mR = Sampling.bm25ReadMeta(spark, rebuilt)
    for (f <- Seq("n", "avgdl", "toks"))
      assert(mE.getAs[Double](f) === mR.getAs[Double](f), f)
  }

  // ---- compaction (round 14): fold the committed view back to ONE
  // base leg; every crash window closed; covered legs structurally
  // invisible; repair = re-call ----

  private val sqLayout: (org.apache.spark.sql.DataFrame, String) => Unit =
    (d, p) => d.write.mode("overwrite").parquet(p)

  private def sqProbe(p: String) = Similarity
    .sqProbeIndex(spark, p, qVec, k = 10, sourceTag = "s")
    .collect().map(r => (r.getLong(0), r.getAs[Double]("sim"))).toSeq

  test("SQ compaction: fold == un-compacted twin, crash sims, covered-leg repair, append after fold") {
    // grace 0: this test pins the DELETE semantics (crash repair,
    // covered-leg cleanup); the grace-window semantics have their own
    // test below
    sys.props("graft.atomicappend.vacuum.grace.ms") = "0"
    try sqCompactionCrashSims()
    finally sys.props.remove("graft.atomicappend.vacuum.grace.ms")
  }

  private def sqCompactionCrashSims(): Unit = {
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact-sq").toString
    val idx = s"$base/idx"
    val twin = s"$base/twin"
    for (p <- Seq(idx, twin)) {
      Similarity.sqWriteIndex(evens, "embedding", "vec_id", p, sourceTag = "s")
      Similarity.sqAppendIndex(
        odds.where(pmod(col("vec_id"), lit(4)) === 1),
        "embedding", "vec_id", p, sourceTag = "s")
      Similarity.sqAppendIndex(
        odds.where(pmod(col("vec_id"), lit(4)) === 3),
        "embedding", "vec_id", p, sourceTag = "s")
    }
    assert(AtomicAppend.viewLegCount(spark, idx) === 3)
    // crash sim 1: a stale staged fold from a died-mid-write attempt
    plantStagingJunkAt(s"$idx/_staging-c2/part-junk.parquet")
    // crash sim 2: an UNMARKED fold dir holding poison rows (died
    // between rename and marker) — invisible to every reader
    poison.select(col("vec_id").as("id"),
        col("embedding").as("q8"), col("embedding").as("v"))
      .write.mode("overwrite").parquet(s"$idx/_seg-c2")
    assert(sqProbe(idx) === sqProbe(twin), "unmarked fold leaked")
    AtomicAppend.compact(spark, idx)(sqLayout)
    assert(sqProbe(idx) === sqProbe(twin), "fold changed the probe")
    assert(AtomicAppend.viewLegCount(spark, idx) === 1)
    val fsys = fs
    assert(SnapshotCommit.isCommitted(fsys, new Path(s"$idx/_seg-c2")))
    assert(!fsys.exists(new Path(s"$idx/_seg-1")))
    assert(!fsys.exists(new Path(s"$idx/_seg-2")))
    assert(!fsys.exists(new Path(s"$idx/_staging-c2")))
    assert(!fsys.listStatus(new Path(idx)).exists(s =>
      !s.getPath.getName.startsWith("_")), "base data files survived the fold")
    // crash sim 3 (mid-cleanup): a covered plain segment still on disk
    // next to a committed fold — readers must ignore it STRUCTURALLY,
    // and a repeat compact() call finishes the delete
    poison.select(col("vec_id").as("id"),
        col("embedding").as("q8"), col("embedding").as("v"))
      .write.mode("overwrite").parquet(s"$idx/_seg-1")
    fsys.create(new Path(s"$idx/_seg-1/${SnapshotCommit.Marker}"), true).close()
    assert(sqProbe(idx) === sqProbe(twin), "covered leg leaked past the fold")
    AtomicAppend.compact(spark, idx)(sqLayout)
    assert(!fsys.exists(new Path(s"$idx/_seg-1")), "repair left the covered leg")
    assert(sqProbe(idx) === sqProbe(twin))
    // append AFTER the fold: ids must clear the fold's coverage and
    // the evolved index must stay probe-identical to the twin
    val extra = evens.select(
      (col("vec_id") + 500000L).as("vec_id"), col("embedding"), col("label"))
    for (p <- Seq(idx, twin))
      Similarity.sqAppendIndex(extra, "embedding", "vec_id", p, sourceTag = "s")
    assert(AtomicAppend.committedSegs(spark, idx).map(_.getName) ===
      Seq("_seg-3"), "post-fold append id collided with folded ids")
    assert(sqProbe(idx) === sqProbe(twin))
  }

  test("vacuum grace: fold defers deletes, pre-fold plans keep resolving, force + post-grace append vacuum") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-vacuum-grace").toString
    val idx = s"$base/idx"
    val twin = s"$base/twin"
    for (p <- Seq(idx, twin)) {
      Similarity.sqWriteIndex(evens, "embedding", "vec_id", p, sourceTag = "s")
      Similarity.sqAppendIndex(
        odds.where(pmod(col("vec_id"), lit(4)) === 1),
        "embedding", "vec_id", p, sourceTag = "s")
      Similarity.sqAppendIndex(
        odds.where(pmod(col("vec_id"), lit(4)) === 3),
        "embedding", "vec_id", p, sourceTag = "s")
    }
    // a reader that PLANS its scan before the fold (the file list is
    // captured at plan time) and executes after it — the race the
    // grace window exists for
    val preFoldPlan = Similarity
      .sqProbeIndex(spark, idx, qVec, k = 10, sourceTag = "s")
    val fsys = fs
    AtomicAppend.compact(spark, idx)(sqLayout) // default grace: no delete
    assert(AtomicAppend.viewLegCount(spark, idx) === 1, "fold not committed")
    assert(fsys.exists(new Path(s"$idx/_seg-1")) &&
      fsys.exists(new Path(s"$idx/_seg-2")),
      "covered legs deleted inside the grace window")
    assert(fsys.listStatus(new Path(idx)).exists(s =>
      !s.getPath.getName.startsWith("_")),
      "base data deleted inside the grace window")
    // the pre-fold plan still executes — its planned files exist
    assert(preFoldPlan.collect().map(r =>
      (r.getLong(0), r.getAs[Double]("sim"))).toSeq === sqProbe(twin))
    // repeat compact inside the grace: still no delete (vacuum no-ops)
    AtomicAppend.compact(spark, idx)(sqLayout)
    assert(fsys.exists(new Path(s"$idx/_seg-1")))
    // explicit force vacuums immediately
    AtomicAppend.vacuum(spark, idx, force = true)
    assert(!fsys.exists(new Path(s"$idx/_seg-1")) &&
      !fsys.exists(new Path(s"$idx/_seg-2")), "force vacuum left legs")
    assert(sqProbe(idx) === sqProbe(twin))
    // post-grace opportunistic vacuum: plant a covered leg (crash-sim
    // mid-vacuum), expire the grace, and let an APPEND's maybeCompact
    // (below threshold) finish the delete
    poison.select(col("vec_id").as("id"),
        col("embedding").as("q8"), col("embedding").as("v"))
      .write.mode("overwrite").parquet(s"$idx/_seg-1")
    fsys.create(new Path(s"$idx/_seg-1/${SnapshotCommit.Marker}"), true).close()
    sys.props("graft.atomicappend.vacuum.grace.ms") = "0"
    try {
      val extra = evens.select(
        (col("vec_id") + 500000L).as("vec_id"), col("embedding"), col("label"))
      for (p <- Seq(idx, twin))
        Similarity.sqAppendIndex(extra, "embedding", "vec_id", p, sourceTag = "s")
      assert(!fsys.exists(new Path(s"$idx/_seg-1")),
        "append's opportunistic vacuum skipped the expired covered leg")
      assert(sqProbe(idx) === sqProbe(twin))
    } finally sys.props.remove("graft.atomicappend.vacuum.grace.ms")
  }

  test("auto-compaction triggers past the leg threshold and keeps probes identical") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-autocompact").toString
    val idx = s"$base/idx"
    val twin = s"$base/twin"
    sys.props("graft.atomicappend.compact.threshold") = "2"
    try {
      Similarity.sqWriteIndex(evens, "embedding", "vec_id", twin, sourceTag = "s")
      Similarity.sqWriteIndex(evens, "embedding", "vec_id", idx, sourceTag = "s")
      val parts = Seq(1, 3, 5, 7).map(r =>
        odds.where(pmod(col("vec_id"), lit(8)) === r))
      sys.props.remove("graft.atomicappend.compact.threshold")
      parts.foreach(b =>
        Similarity.sqAppendIndex(b, "embedding", "vec_id", twin, sourceTag = "s"))
      sys.props("graft.atomicappend.compact.threshold") = "2"
      parts.foreach(b =>
        Similarity.sqAppendIndex(b, "embedding", "vec_id", idx, sourceTag = "s"))
      assert(AtomicAppend.viewLegCount(spark, idx) <= 2,
        "auto-compaction never fired")
      assert(AtomicAppend.viewLegCount(spark, twin) === 5)
      assert(sqProbe(idx) === sqProbe(twin))
    } finally sys.props.remove("graft.atomicappend.compact.threshold")
  }

  test("BM25 compaction: probe and stats == un-compacted twin == one-shot rebuild; append after fold") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact-bm25").toString
    val idx = s"$base/idx"
    val twin = s"$base/twin"
    val batch = Seq(1L -> Seq("hash", "join", "stream"))
    def probe(p: String) = Sampling
      .bm25ProbeMany(spark, p, batch, k = 15, sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val thirds = (0 to 2).map(r => docs.where(pmod(col("doc_id"), lit(3)) === r))
    for (p <- Seq(idx, twin)) {
      Sampling.bm25WriteIndex(thirds(0), "doc_id", "text", p, sourceTag = "s")
      Sampling.bm25AppendIndex(thirds(1), "doc_id", "text", p, sourceTag = "s")
    }
    AtomicAppend.compact(spark, s"$idx/postings") { (d, p) =>
      d.repartition(col("shard")).sortWithinPartitions("term")
        .write.mode("overwrite").partitionBy("shard").parquet(p)
    }
    assert(AtomicAppend.viewLegCount(spark, s"$idx/postings") === 1)
    assert(probe(idx) === probe(twin), "fold changed the probe")
    // the carried _meta keeps the merged stats resolving after the
    // covered segments (which held them) are deleted
    for (f <- Seq("n", "avgdl", "toks"))
      assert(Sampling.bm25ReadMeta(spark, idx).getAs[Double](f) ===
        Sampling.bm25ReadMeta(spark, twin).getAs[Double](f), f)
    // evolve PAST the fold: stats merge from the fold's carried meta
    for (p <- Seq(idx, twin))
      Sampling.bm25AppendIndex(thirds(2), "doc_id", "text", p, sourceTag = "s")
    val rebuilt = s"$base/rebuilt"
    Sampling.bm25WriteIndex(docs, "doc_id", "text", rebuilt, sourceTag = "s")
    assert(probe(idx) === probe(twin))
    assert(probe(idx) === probe(rebuilt))
    for (f <- Seq("n", "avgdl", "toks"))
      assert(Sampling.bm25ReadMeta(spark, idx).getAs[Double](f) ===
        Sampling.bm25ReadMeta(spark, rebuilt).getAs[Double](f), f)
  }

  test("IVF-PQ compaction: fold == twin; append after fold reads the folded schema") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact-ivfpq").toString
    val idx = s"$base/idx"
    val twin = s"$base/twin"
    def probe(p: String) = ProductQuant
      .ivfPqProbe(spark, p, qVec, k = 10, nprobe = 4, refine = 1000,
        sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val quarters = Seq(1, 3).map(r =>
      odds.drop("label").where(pmod(col("vec_id"), lit(4)) === r))
    for (p <- Seq(idx, twin)) {
      ProductQuant.ivfPqWriteIndex(
        evens.drop("label"), "embedding", "vec_id", p,
        kClusters = 4, m = 8, ksub = 16, iters = 2, sourceTag = "s")
      quarters.foreach(b =>
        ProductQuant.ivfPqAppendIndex(b, "embedding", "vec_id", p, "s"))
    }
    AtomicAppend.compact(spark, s"$idx/corpus") { (d, p) =>
      d.write.mode("overwrite").partitionBy("cluster").parquet(p)
    }
    assert(AtomicAppend.viewLegCount(spark, s"$idx/corpus") === 1)
    assert(probe(idx) === probe(twin))
    // the append-after-fold path must read the committed view's vector
    // type (the base leg lives in the fold now), and frozen quantizers
    // keep the evolved probes bitwise-identical
    val extra = evens.drop("label")
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    for (p <- Seq(idx, twin))
      ProductQuant.ivfPqAppendIndex(extra, "embedding", "vec_id", p, "s")
    assert(probe(idx) === probe(twin))
  }

  private def plantStagingJunkAt(path: String): Unit = {
    val junk = new Path(path)
    fs.mkdirs(junk.getParent)
    val out = fs.create(junk, true)
    out.write(Array[Byte](1, 2, 3))
    out.close()
  }

  test("empty batch is a no-op; segments accumulate in id order") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-atomic-empty").toString
    val idx = s"$base/idx"
    Similarity.sqWriteIndex(evens, "embedding", "vec_id", idx, sourceTag = "s")
    Similarity.sqAppendIndex(
      emb.where(lit(false)), "embedding", "vec_id", idx, sourceTag = "s")
    assert(AtomicAppend.committedSegs(spark, idx).isEmpty)
    Similarity.sqAppendIndex(
      odds.limit(5), "embedding", "vec_id", idx, sourceTag = "s")
    Similarity.sqAppendIndex(
      odds.where(col("vec_id") >= 11).limit(5),
      "embedding", "vec_id", idx, sourceTag = "s")
    val segs = AtomicAppend.committedSegs(spark, idx)
    assert(segs.map(_.getName) === Seq("_seg-1", "_seg-2"))
    assert(
      AtomicAppend.read(spark, idx).count() === evens.count() + 10)
  }

  test("readWithSeg labels each flat leg by its segment; a file outside one fails the read") {
    val root = java.nio.file.Files.createTempDirectory("graft-atomic-seg").toString + "/idx"
    spark.range(0, 3).toDF("id").write.parquet(root)
    AtomicAppend.publish(spark, root)(p => spark.range(3, 5).toDF("id").write.mode("overwrite").parquet(p))
    val labels = AtomicAppend.readWithSeg(spark, root).select("id", "__seg").as[(Long, Long)].collect().sorted
    assert(labels.toSeq === Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))
    // the flat scan lists only the files directly under each `_seg-<n>`,
    // so the label is driven here with file names it never hands over
    def label(file: String) =
      Seq(file).toDF("f").select(AtomicAppend.segOfFile(col("f"), root)).as[Long].head()
    assert(label(s"file:$root/_seg-7/part-0.parquet") === 7L)
    assert(label("file:/a/_seg-2/idx/_seg-12/part-0.parquet") === 12L)
    for (outside <- Seq(s"file:$root/_seg-1/nested/part-0.parquet", s"file:$root/part-0.parquet")) {
      val e = intercept[Exception](label(outside))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(messages.contains(s"file outside a _seg-<n> directory of $root: $outside"), messages)
    }
  }
}
