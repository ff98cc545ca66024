package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** Seeded input generators. Every input the program sees is made here
  * from the workload seed; the same seed gives the same inputs.
  *
  * Frames for the verb workloads are generated inside Spark from
  * `spark.range` so that a large frame needs no driver-side copy, and
  * the same values are reproduced on the driver by [[FrameCols]] (Spark's
  * own XXH64, so the two sides agree bit for bit) for the sequential
  * reference evaluation.
  *
  * All doubles are multiples of 1/1024 below 2^10 in magnitude, so every
  * sum the verbs take is exact in double arithmetic whatever the
  * summation order: reference and engine results compare with `==`.
  */
object Gen {

  val Res = 1 << 20
  val Scale = 1024.0

  /** Frame schema: `__index__` long (0..n-1), `k` int key, `x`, `y` doubles. */
  def frame(spark: SparkSession, n: Long, groups: Int, seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    def h(salt: Long): Column = xxhash64(id, lit(seed + salt))
    spark
      .range(0, n, 1, parts)
      .select(
        id.as(graft.Index.col),
        pmod(h(0), lit(groups.toLong)).cast("int").as("k"),
        (pmod(h(1), lit(Res.toLong)) / lit(Scale)).as("x"),
        (pmod(h(2), lit(Res.toLong)) / lit(Scale) - lit(512.0)).as("y"))
  }

  /** Driver-side twin of [[frame]]: Spark's `xxhash64(a, b)` folds the
    * column hashes left to right from seed 42.
    */
  final class FrameCols(val n: Int, nGroups: Int, seed: Long) {
    private def h(i: Long, salt: Long): Long =
      XXH64.hashLong(seed + salt, XXH64.hashLong(i, 42L))
    val k: Array[Int] = Array.tabulate(n)(i => Math.floorMod(h(i, 0), nGroups.toLong).toInt)
    val x: Array[Double] = Array.tabulate(n)(i => Math.floorMod(h(i, 1), Res.toLong) / Scale)
    val y: Array[Double] =
      Array.tabulate(n)(i => Math.floorMod(h(i, 2), Res.toLong) / Scale - 512.0)

    /** Row indices of each key, in index order (a counting sort). */
    lazy val groups: Array[Array[Int]] = {
      val sizes = new Array[Int](nGroups)
      k.foreach(sizes(_) += 1)
      val out = sizes.map(new Array[Int](_))
      val fill = new Array[Int](nGroups)
      for (i <- 0 until n) { out(k(i))(fill(k(i))) = i; fill(k(i)) += 1 }
      out
    }
  }

  // ---- ingest_probe stream -------------------------------------------

  /** A seeded vocabulary of pseudo-words (3 to 9 letters). The sf0.1
    * `documents` fixture draws from 30 words only, and under the engine's
    * character 4-gram shingles random texts over so few words are
    * near-duplicates of one another; originals must not be.
    */
  def vocab(rnd: SplittableRandom, size: Int): Array[String] =
    Array.fill(size)(Array.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)

  sealed trait Kind
  case object Original extends Kind
  case object ExactDup extends Kind
  case object NearDup extends Kind

  final case class Doc(id: Long, text: String, kind: Kind, batch: Int)

  final case class Stream(
      base: IndexedSeq[Doc],
      batches: IndexedSeq[IndexedSeq[Doc]],
      baseVecs: IndexedSeq[Array[Float]],
      batchVecs: IndexedSeq[IndexedSeq[Array[Float]]],
      queries: IndexedSeq[IndexedSeq[Array[Float]]])

  /** Documents shaped like sf0.1 `documents` (10 to 100 words drawn
    * uniformly from a [[vocab]] of `vocabSize` words) and 64-d embeddings
    * shaped like sf0.1 `embeddings` (ten clusters). Batch docs are fresh
    * originals plus planted copies of earlier originals: exact copies at
    * `exactRate` and one-word edits of docs of at least 40 words at
    * `nearRate` (Jaccard of character 4-gram shingles about 0.9, well
    * above the ingest's 0.4 threshold). Copies always carry a larger id
    * than their source, so the source is the one an arrival-order dedup
    * keeps.
    */
  def stream(
      seed: Long,
      baseDocs: Int,
      baseVectors: Int,
      batches: Int,
      docsPerBatch: Int,
      vecsPerBatch: Int,
      probesPerBatch: Int,
      exactRate: Double,
      nearRate: Double,
      dim: Int,
      vocabSize: Int): Stream = {
    val rnd = new SplittableRandom(seed)
    val words = vocab(rnd, vocabSize)
    def text(): Array[String] = Array.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.length)))
    var nextId = 0L
    val base = IndexedSeq.fill(baseDocs) {
      val d = Doc(nextId, text().mkString(" "), Original, 0); nextId += 1; d
    }
    val originals = scala.collection.mutable.ArrayBuffer.from(base)
    val longOriginals = scala.collection.mutable.ArrayBuffer.from(base.filter(wc(_) >= 40))
    val nExact = math.round(docsPerBatch * exactRate).toInt
    val nNear = math.round(docsPerBatch * nearRate).toInt
    val docBatches = (1 to batches).map { b =>
      val fresh = IndexedSeq.fill(docsPerBatch - nExact - nNear) {
        val d = Doc(nextId, text().mkString(" "), Original, b); nextId += 1; d
      }
      val exact = IndexedSeq.fill(nExact) {
        val src = originals(rnd.nextInt(originals.size))
        val d = Doc(nextId, src.text, ExactDup, b); nextId += 1; d
      }
      val near = IndexedSeq.fill(nNear) {
        val w = longOriginals(rnd.nextInt(longOriginals.size)).text.split(' ')
        val at = rnd.nextInt(w.length)
        w(at) = Iterator.continually(words(rnd.nextInt(words.length))).find(_ != w(at)).get
        val d = Doc(nextId, w.mkString(" "), NearDup, b); nextId += 1; d
      }
      originals ++= fresh
      longOriginals ++= fresh.filter(wc(_) >= 40)
      // copies are shuffled among the fresh docs but keep their larger ids
      shuffle(fresh ++ exact ++ near, rnd)
    }

    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian() * 0.12))
    val baseVecs = IndexedSeq.fill(baseVectors) {
      val c = centers(rnd.nextInt(centers.length))
      c.map(v => (v + rnd.nextGaussian() * 0.08).toFloat)
    }
    val all = scala.collection.mutable.ArrayBuffer.from(baseVecs)
    val batchVecs = IndexedSeq.newBuilder[IndexedSeq[Array[Float]]]
    val queries = IndexedSeq.newBuilder[IndexedSeq[Array[Float]]]
    for (_ <- 1 to batches) {
      // seeded copies of existing vectors, shrunk towards the origin so
      // they stay inside the index's frozen quantizer bounds
      val vs = IndexedSeq.fill(vecsPerBatch) {
        all(rnd.nextInt(all.size)).map(v => (v * 0.9 + rnd.nextGaussian() * 0.01).toFloat)
      }
      all ++= vs
      batchVecs += vs
      queries += IndexedSeq.fill(probesPerBatch) {
        all(rnd.nextInt(all.size)).map(v => (v + rnd.nextGaussian() * 0.02).toFloat)
      }
    }
    Stream(base, docBatches, baseVecs, batchVecs.result(), queries.result())
  }

  private def wc(d: Doc): Int = d.text.count(_ == ' ') + 1

  private def shuffle[A](xs: IndexedSeq[A], rnd: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}
