package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AtomicAppend, Similarity}
import graft.streaming.NearDupIngest

/** `ingest_probe`: near-duplicate document ingest beside an appended and
  * probed scalar-quantized vector index. One op is one micro-batch:
  * `NearDupIngest.ingestBatch`, then `Similarity.sqAppendIndex`, then
  * `probes_per_batch` calls of `Similarity.sqProbeIndex` on the same
  * index, whose compaction threshold is lowered so that a timed run
  * spans several fold cycles.
  *
  * The stream is generated for `MaxBatches`; a run ingests as many as
  * fit in its time, and at least [[minPasses]], after `WarmBatches`
  * ingested during set-up.
  */
final class IngestWorkload(
    p: Map[String, String],
    seed: Long,
    work: Path)
    extends Workload {
  import IngestWorkload._

  private def int(k: String) = p(k).toInt
  private val k = int("k")
  private val nearFloor = p("near_dup_drop_floor").toDouble
  private val recallFloor = p("recall_floor").toDouble
  private val probeRecallFloor = p("probe_recall_floor").toDouble

  private var s: Gen.Stream = _
  private var docIdx, vecIdx: String = _
  private var next = 1 // next batch to ingest
  private var spark: SparkSession = _
  // per batch: legs of the vector index after its append, and probe results
  private val legs = scala.collection.mutable.Map.empty[Int, Int]
  private val probed = ArrayBuffer.empty[(Int, Int, Array[Long])] // batch, query, ids
  private var dir: Path = _
  private var kept: Set[Long] = Set.empty

  private def docsFrame(docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => (d.id, d.text))).toDF("doc_id", "text")

  private def vecsFrame(firstId: Long, vs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(vs.zipWithIndex.map { case (v, i) => (firstId + i, v.toSeq) })
      .toDF("vec_id", "embedding")

  private def vecId(batch: Int): Long = s.baseVecs.size.toLong + (batch - 1L) * int("vecs_per_batch")

  def setup(session: SparkSession): Unit = {
    spark = session
    // the engine's documented compaction knob: a lower leg threshold
    // than the default 16 fits several fold cycles into one timed run
    sys.props("graft.atomicappend.compact.threshold") = CompactThreshold.toString
    s = Gen.stream(
      seed, int("base_docs"), int("base_vectors"), MaxBatches, int("docs_per_batch"),
      int("vecs_per_batch"), int("probes_per_batch"), p("exact_dup_rate").toDouble,
      p("near_dup_rate").toDouble, int("dim"), Vocab)
    dir = Files.createTempDirectory(work, "ingest-")
    docIdx = dir.resolve("docs").toString
    vecIdx = dir.resolve("vecs").toString
    NearDupIngest.ingestBatch(docsFrame(s.base), docIdx, "text", "doc_id", 0L)
    Similarity.sqWriteIndex(vecsFrame(0L, s.baseVecs), "embedding", "vec_id", vecIdx)
    // warm-up: the first batches of the stream, untimed
    val warm = new Runner(spark, new Tracer)
    (1 to WarmBatches).foreach(_ => pass(warm))
  }

  def pass(r: Runner): Unit = {
    require(next <= s.batches.size, s"stream of ${s.batches.size} batches exhausted")
    val b = next
    next += 1
    val docs = s.batches(b - 1)
    val vecs = s.batchVecs(b - 1)
    val results = ArrayBuffer.empty[Array[Long]]
    // each call of the batch is timed, traced or not
    val ms = scala.collection.mutable.Map.empty[String, Double]
    def call[T](key: String, span: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try r.tracer.span(span)(body) finally ms(key) = (System.nanoTime() - t0) / 1e6
    }
    val rec = r.op("batch", "batch", s"b$b", docs.size + vecs.size) {
      call("ingest_ms", "streaming.ingest") {
        NearDupIngest.ingestBatch(docsFrame(docs), docIdx, "text", "doc_id", b.toLong)
      }
      call("append_ms", "index.append") {
        Similarity.sqAppendIndex(vecsFrame(vecId(b), vecs), "embedding", "vec_id", vecIdx)
      }
      for ((q, i) <- s.queries(b - 1).zipWithIndex) results += call(s"probe_ms.$i", "index.probe") {
        Similarity.sqProbeIndex(spark, vecIdx, q.map(_.toDouble).toSeq, k)
          .select("id").collect().map(_.getLong(0))
      }
    }
    rec.values ++= ms
    results.zipWithIndex.foreach { case (ids, q) => probed += ((b, q, ids)) }
    // observed outside the op's time: the committed view's leg count
    legs(b) = AtomicAppend.viewLegCount(spark, vecIdx)
    rec.values("index.legs_at_probe") = legs(b).toDouble
  }

  /** Enough batches for six fold cycles of the vector index. */
  override def minPasses: Int = 6 * CompactThreshold

  /** Batches ingested so far, warm-up included. */
  private def ran: Range = 1 until next

  def check(session: SparkSession, r: Runner): Seq[(String, Option[String])] = {
    kept = NearDupIngest.ingestedIds(spark, docIdx).get.collect().map(_.getLong(0)).toSet
    val docs = (s.base +: ran.map(b => s.batches(b - 1))).flatten
    def batchOf(b: Int) = r.ops.find(_.group == s"b$b")
    def mark(b: Int, why: String) = batchOf(b).filter(_.wrong.isEmpty).foreach(_.wrong = Some(why))

    val exactKept = docs.filter(d => d.kind == Gen.ExactDup && kept(d.id))
    val origDropped = docs.filter(d => d.kind == Gen.Original && !kept(d.id))
    exactKept.foreach(d => mark(d.batch, s"planted exact duplicate ${d.id} kept"))
    origDropped.foreach(d => mark(d.batch, s"original ${d.id} dropped"))
    val near = docs.filter(_.kind == Gen.NearDup)
    val nearDropped = near.count(d => !kept(d.id)).toDouble / math.max(1, near.size)

    val recalls = probed.map { case (b, q, ids) =>
      val rec = recall(b, s.queries(b - 1)(q), ids)
      if (rec < probeRecallFloor) mark(b, f"probe $q recall@$k $rec%.2f")
      rec
    }
    val meanRecall = recalls.sum / math.max(1, recalls.size)
    Seq(
      "exact_dups_dropped" -> Option.when(exactKept.nonEmpty)(s"${exactKept.size} kept"),
      "originals_kept" -> Option.when(origDropped.nonEmpty)(s"${origDropped.size} dropped"),
      "near_dup_drop_floor" -> Option.when(nearDropped < nearFloor)(
        f"dropped $nearDropped%.3f of ${near.size}, floor $nearFloor"),
      "probe_recall_floor" -> Option.when(meanRecall < recallFloor)(
        f"mean recall@$k $meanRecall%.3f, floor $recallFloor"))
  }

  /** recall@k of `ids` against brute-force exact cosine over every vector
    * committed by the end of batch `b`.
    */
  private def recall(b: Int, q: Array[Float], ids: Array[Long]): Double = {
    val all = s.baseVecs.iterator.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (1 to b).iterator.flatMap(c =>
        s.batchVecs(c - 1).iterator.zipWithIndex.map { case (v, i) => (vecId(c) + i, v) })
    def cos(a: Array[Float]) = {
      var dot, na, nb = 0.0
      for (i <- a.indices) { dot += a(i) * q(i); na += a(i) * a(i); nb += q(i) * q(i) }
      dot / math.sqrt(na * nb)
    }
    val exact = all.map { case (id, v) => (id, cos(v)) }.toSeq.sortBy(-_._2).take(k).map(_._1).toSet
    ids.count(exact).toDouble / k
  }

  override def extras(r: Runner): Map[String, Double] = {
    val timed = r.ops.map(o => o.group.drop(1).toInt)
    val inBatches = timed.map(b => s.batches(b - 1))
    val rowsIn = inBatches.map(_.size).sum
    val rowsKept = inBatches.map(_.count(d => kept(d.id))).sum
    val planted = inBatches.map(_.count(_.kind == Gen.Original)).sum
    val ingested = s.base.size + s.baseVecs.size +
      ran.map(b => s.batches(b - 1).size + s.batchVecs(b - 1).size).sum
    val bytes = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    Map(
      "streaming.rows_in" -> rowsIn.toDouble,
      "streaming.rows_kept" -> rowsKept.toDouble,
      "streaming.kept_ratio" -> rowsKept.toDouble / math.max(1, rowsIn),
      "streaming.planted_kept_ratio" -> planted.toDouble / math.max(1, rowsIn),
      "index.compactions" -> timed.count(b => legs.get(b - 1).exists(_ > legs(b))).toDouble,
      "index.stored_bytes" -> bytes.toDouble,
      "index.stored_bytes_per_row" -> bytes.toDouble / ingested)
  }

  override def teardown(session: SparkSession): Unit = deleteTree(dir)

  private def deleteTree(p: Path): Unit =
    if (p != null && Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

object IngestWorkload {
  /** Legs of the vector index that trigger a fold (the engine's default is 16). */
  private val CompactThreshold = 3
  /** Pseudo-words documents are drawn from: enough that random texts are
    * not near-duplicates of one another under character shingles.
    */
  private val Vocab = 5000
  /** Batches the stream is generated for, more than one run ingests. */
  private val MaxBatches = 400
  private val WarmBatches = 2
}
