package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Product quantization (PQ) — the compressed-code ANN path that
  * completes the Faiss-style ladder next to [[Similarity]]'s LSH and
  * IVF: brute force (exact, full scan), LSH buckets (hash pruning), IVF
  * (partition pruning), PQ (the SCAN ITSELF reads m-byte codes instead
  * of the vectors). Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — asymmetric distance
  * computation (ADC) form.
  *
  * The vector space is split into `m` contiguous subspaces; each
  * subspace gets its own ksub-entry codebook (k-means over the
  * subvectors); a vector is stored as m codebook indices packed into an
  * m-byte binary. At probe time the query is NOT quantized: a
  * (m × ksub) table of exact query-subvector ⋅ centroid dot products is
  * computed once on the driver, and each corpus code scores with m
  * table lookups — no float vector is touched until the optional exact
  * re-rank of the top `refine` candidates.
  *
  * Scale posture, in order of what matters at 100 TB:
  *  - a 1024-dim float corpus is 4 KB/vector; PQ codes at m=16 are 16
  *    bytes — 256× less I/O on every probe scan, which is why every
  *    billion-vector ANN system stores codes, not vectors;
  *  - training is bounded: per Lloyd round ONE exchange of
  *    (subspace, cluster, pos) partial sums (the [[Similarity
  *    .kmeansAssign]] argument, m subspaces in the same job via
  *    posexplode), and the m·ksub·(dim/m) codebook — a few KB — is the
  *    only thing the driver holds;
  *  - encoding is a narrow map (codebooks are plan constants);
  *  - the ADC scan is TakeOrdered (no global sort), and the exact
  *    re-rank touches `refine` vectors, not the corpus.
  *
  * Cosine setup: corpus vectors and query are L2-normalized before
  * training/encoding, so the ADC inner product approximates cosine and
  * the exact re-rank returns true cosines.
  */
object ProductQuant {

  /** Codebooks: [m][ksub][dim/m], driver-side plan constant. */
  type Codebooks = Array[Array[Array[Double]]]

  /** (id, array of m subvectors) — the shared projection for train and
    * encode. Normalization first: PQ approximates the metric it was
    * trained in. One UDF with a tight primitive loop: the composable
    * form (l2-normalize via `aggregate` + per-subspace `slice` inside a
    * `transform`) re-evaluates interpreted higher-order lambdas per
    * subspace per row — measured ~30× slower on the index build.
    */
  private def subsUdf(m: Int) =
    udf { (v: Seq[Double]) =>
      require(
        v.length % m == 0,
        s"PQ needs dim divisible by m: dim=${v.length}, m=$m " +
          "(trailing dimensions would be silently dropped)")
      var nsq = 0.0
      var i = 0
      while (i < v.length) { nsq += v(i) * v(i); i += 1 }
      // zero-norm guard: an all-zero vector has no direction; it encodes
      // as the all-zero subvectors (assigned to whatever centroid is
      // nearest the origin) instead of poisoning codebooks with NaN
      val n = { val s = math.sqrt(nsq); if (s == 0.0) 1.0 else s }
      val sub = v.length / m
      Array.tabulate(m)(j => Array.tabulate(sub)(i => v(j * sub + i) / n))
    }

  private def subvectors(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      carry: Seq[String] = Nil): DataFrame =
    df.select(
      (col(idCol).as("id") +:
        subsUdf(m)(col(vecCol).cast("array<double>")).as("subs") +:
        carry.map(col)): _*)

  private def assignUdf(cb: Codebooks) =
    udf { (j: Int, sub: Seq[Double]) =>
      val book = cb(j)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val ct = book(c)
        var d = 0.0
        var i = 0
        while (i < ct.length) { val x = sub(i) - ct(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

  /** Aggregation buffer for the seed pass: the ≤k smallest candidates
    * seen so far, kept sorted by (hash, tie). A case class so the
    * product encoder serializes it without Kryo.
    */
  case class SeedCand(h: Long, tie: String, sub: Seq[Double])
  case class SeedBuf(rows: Seq[SeedCand])

  /** Bounded k-smallest-by-(hash, tie) aggregator — TakeOrdered
    * semantics as a partial+final aggregation, so the seed pass's
    * exchange carries at most k candidates PER SUBSPACE PER MAP
    * PARTITION (O(m·ksub) rows total) instead of landing every corpus
    * subvector of a subspace in one task for a full sort. The common
    * case (buffer full, candidate not smaller than the current worst)
    * is a constant-time skip.
    */
  final class KSmallestSeeds(k: Int)
      extends Aggregator[SeedCand, SeedBuf, Seq[SeedCand]] {
    private def key(r: SeedCand): (Long, String) = (r.h, r.tie)
    private val ord = Ordering.Tuple2[Long, String]

    override def zero: SeedBuf = SeedBuf(Nil)

    override def reduce(b: SeedBuf, a: SeedCand): SeedBuf =
      if (b.rows.size >= k && ord.lteq(key(b.rows.last), key(a))) b
      else SeedBuf((b.rows :+ a).sortBy(key).take(k))

    override def merge(a: SeedBuf, b: SeedBuf): SeedBuf =
      SeedBuf((a.rows ++ b.rows).sortBy(key).take(k))

    override def finish(r: SeedBuf): Seq[SeedCand] = r.rows

    override def bufferEncoder: Encoder[SeedBuf] = ExpressionEncoder[SeedBuf]()

    override def outputEncoder: Encoder[Seq[SeedCand]] =
      ExpressionEncoder[Seq[SeedCand]]()
  }

  /** Train m codebooks of ksub centroids each. Deterministic: seeds are
    * the ksub subvectors with the smallest xxhash64(id) per subspace
    * (no RNG; id stringified for the tie-break — only reachable on a
    * 64-bit hash collision); empty clusters keep their previous
    * centroid; ties in assignment go to the lowest code. (Centroid
    * re-averaging sums doubles in partition order, so codebooks are
    * reproducible up to ~1e-16 summation noise — like
    * [[Similarity.kmeansAssign]].) All m subspaces train in the same
    * jobs — per round: one narrow assignment pass + ONE
    * (subspace, cluster, pos) aggregation exchange. The seed pass is a
    * bounded [[KSmallestSeeds]] aggregation — every exchange in
    * training is O(m·ksub)-bounded per partition.
    */
  def pqTrain(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      ksub: Int,
      iters: Int = 3): Codebooks = {
    require(m >= 1 && ksub >= 2, s"need m>=1, ksub>=2; got m=$m ksub=$ksub")
    require(ksub <= 256, s"codes pack into one byte: ksub<=256, got $ksub")
    // the (id, j, sub) training frame feeds the seed pass + every Lloyd
    // round (2 jobs each) — materialize once instead of re-running the
    // subvector projection per job
    val subRows = graft.ops.Stage.materializeOnce(
      subvectors(df, vecCol, idCol, m)
        .select(col("id"), posexplode(col("subs")).as(Seq("j", "sub"))))
    // deterministic hash-sample seeds, ksub per subspace in one job —
    // a bounded partial+final aggregation (exchange ≤ m·ksub rows per
    // map partition), never a per-subspace global sort
    val seedAgg = udaf(new KSmallestSeeds(ksub), ExpressionEncoder[SeedCand]())
    var cb: Codebooks = subRows
      .groupBy("j")
      .agg(
        seedAgg(xxhash64(col("id")), col("id").cast("string"), col("sub"))
          .as("seeds"))
      .collect()
      .sortBy(_.getInt(0))
      .map(
        _.getSeq[org.apache.spark.sql.Row](1)
          .map(_.getSeq[Double](2).toArray)
          .toArray)
    for (_ <- 1 to iters) {
      val assigned =
        subRows.withColumn("c", assignUdf(cb)(col("j"), col("sub")))
      val updated = assigned
        .select(col("j"), col("c"), posexplode(col("sub")).as(Seq("pos", "x")))
        .groupBy("j", "c", "pos")
        .agg(avg(col("x")).as("v"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (jc, rows) =>
          jc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3))
        }
      cb = cb.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (ct, c) =>
          updated.getOrElse((j, c), ct)
        }
      }
    }
    cb
  }

  /** Encode each vector as an m-byte binary of codebook indices — the
    * compressed corpus representation a probe scans. Narrow map; the
    * codebooks ride in the closure.
    */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      cb: Codebooks,
      carry: Seq[String] = Nil): DataFrame = {
    val m = cb.length
    val enc = udf { (subs: Seq[Seq[Double]]) =>
      val out = new Array[Byte](m)
      var j = 0
      while (j < m) {
        val book = cb(j)
        val sub = subs(j)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          val ct = book(c)
          var d = 0.0
          var i = 0
          while (i < ct.length) { val x = sub(i) - ct(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(j) = best.toByte
        j += 1
      }
      out
    }
    subvectors(df, vecCol, idCol, m, carry)
      .select((col("id") +: enc(col("subs")).as("code") +: carry.map(col)): _*)
  }

  /** ADC probe: score every code with m table lookups against the
    * query's exact per-subspace dot-product table, TakeOrdered the top
    * `refine` candidates, then re-rank those — and only those — with
    * the exact cosine against the original vectors. Returns (id, cos)
    * descending, deterministic id tie-break.
    */
  /** Validate a probe query against the codebooks, normalize it, and
    * build the ADC score UDF — the (m × ksub) exact query⋅centroid
    * table ("asymmetric" in ADC) plus the per-code table-lookup sum.
    * Shared by [[pqTopK]] and [[ivfPqProbe]]; one definition or a
    * scoring/validation fix silently leaves the other probe stale.
    * The corpus encode path enforces dim%m==0 and non-zero norm in
    * subsUdf; a query that skipped those checks would throw (short),
    * silently mis-stride (long), or NaN every score (zero norm).
    */
  private def adcScorer(
      cb: Codebooks,
      query: Seq[Double]): (Seq[Double], org.apache.spark.sql.expressions.UserDefinedFunction) = {
    val (qn, table) = adcTable(cb, query)
    val m = cb.length
    val score = udf { (code: Array[Byte]) =>
      var s = 0.0
      var j = 0
      while (j < m) { s += table(j)(code(j) & 0xff); j += 1 }
      s
    }
    (qn, score)
  }

  /** The validated/normalized query plus its (m × ksub) exact
    * query⋅centroid table — [[adcScorer]] minus the UDF, so the batch
    * probe can build PER-QUERY tables and ship them as a broadcast
    * column instead of a per-query closure. Same arithmetic, same
    * order: a flat row-major walk of this table ([[adcFlatUdf]]) sums
    * the identical doubles the single-probe closure sums.
    */
  private def adcTable(
      cb: Codebooks,
      query: Seq[Double]): (Seq[Double], Array[Array[Double]]) = {
    val m = cb.length
    val dim = m * cb(0)(0).length
    require(
      query.length == dim,
      s"query dim ${query.length} != codebook dim $dim (m=$m × " +
        s"sub=${cb(0)(0).length})")
    val nrm = math.sqrt(query.map(x => x * x).sum)
    require(nrm > 0, "zero-norm query has no direction to search")
    val qn = query.map(_ / nrm)
    val sub = qn.length / m
    val table: Array[Array[Double]] = Array.tabulate(m) { j =>
      cb(j).map { ct =>
        var d = 0.0
        var i = 0
        while (i < ct.length) { d += ct(i) * qn(j * sub + i); i += 1 }
        d
      }
    }
    (qn, table)
  }

  /** ADC over a row-carried flat table (j·ksub + code): the batch
    * probe's scorer — each (corpus row, query) pair reads ITS query's
    * table from the broadcast-joined `__tbl` column. Same j-ascending
    * summation as the single-probe closure, so batch == single bitwise.
    */
  private def adcFlatUdf(m: Int, ksub: Int) =
    udf { (code: Array[Byte], tbl: Seq[Double]) =>
      var s = 0.0
      var j = 0
      while (j < m) { s += tbl(j * ksub + (code(j) & 0xff)); j += 1 }
      s
    }

  def pqTopK(
      codes: DataFrame,
      vectors: DataFrame,
      vecCol: String,
      idCol: String,
      cb: Codebooks,
      query: Seq[Double],
      k: Int,
      refine: Int): DataFrame = {
    require(refine >= k, s"refine ($refine) must be >= k ($k)")
    val (qn, score) = adcScorer(cb, query)
    val cand = codes
      .select(col("id"), score(col("code")).as("adc"))
      .orderBy(col("adc").desc, col("id"))
      .limit(refine)
    VectorExpressions.register(vectors.sparkSession)
    val q = array(qn.map(lit): _*)
    cand
      .join(vectors.select(col(idCol).as("id"), col(vecCol).as("__v")), "id")
      .select(
        col("id"),
        VectorExpressions.cosineFast(col("__v"), q).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // IVF-PQ: coarse-cluster partition pruning × PQ code scans
  // ------------------------------------------------------------------

  /** Persist the combined IVF-PQ index: corpus rows (id, code, v)
    * PARTITIONED BY coarse k-means cluster, plus the centroid table,
    * the codebook table, and a validated `_meta`. The full Faiss
    * `IVFx,PQy` layout, Spark-native:
    *
    *  - a probe's `cluster IN (...)` becomes PARTITION PRUNING — only
    *    nprobe directories are read;
    *  - the ADC pass selects (id, code) only, so parquet COLUMN PRUNING
    *    keeps the float vectors' column chunks unread — the PQ I/O win
    *    without a second copy of the corpus;
    *  - the exact re-rank re-reads the pruned partitions with an
    *    `id IN (candidates)` pushed filter (row-group pruning) and
    *    touches `refine` vectors.
    */
  def ivfPqWriteIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      kClusters: Int,
      m: Int,
      ksub: Int,
      iters: Int = 3,
      sourceTag: String = ""): Unit = {
    val spark = df.sparkSession
    val assigned = graft.ops.Stage.materializeOnce(
      Similarity.kmeansAssign(df, vecCol, idCol, kClusters, iters))
    val cb = pqTrain(assigned, vecCol, idCol, m, ksub, iters)
    pqEncode(assigned, vecCol, idCol, cb, carry = Seq(vecCol, "cluster"))
      .withColumnRenamed(vecCol, "v")
      .write
      .mode("overwrite")
      .partitionBy("cluster")
      .parquet(s"$path/corpus")
    Similarity
      .ivfCentroids(assigned, vecCol, "cluster")
      .write
      .mode("overwrite")
      .parquet(s"$path/centroids")
    import spark.implicits._
    (for {
      j <- cb.indices
      c <- cb(j).indices
      p <- cb(j)(c).indices
    } yield (j, c, p, cb(j)(c)(p)))
      .toDF("j", "c", "pos", "v")
      .repartition(1)
      .write
      .mode("overwrite")
      .parquet(s"$path/codebooks")
    spark
      .range(1)
      .select(
        lit(sourceTag).as("source"),
        lit(m).as("m"),
        lit(ksub).as("ksub"),
        lit(kClusters).as("kclusters"),
        lit(iters).as("iters"))
      .write
      .mode("overwrite")
      .parquet(s"$path/_meta")
  }

  /** Incremental IVF-PQ maintenance — the LAST index family to join
    * the append discipline (SQ/LSH/IVF/BM25 landed in round 12/13):
    * assign a NEW batch against the index's FROZEN coarse quantizer
    * ([[Similarity.frozenClusterAssign]] — the exact assignment the
    * build ran) and encode it with the FROZEN codebooks
    * ([[readCodebooks]] → [[pqEncode]], the exact encoder), then
    * publish the batch as one crash-atomic segment of the partitioned
    * corpus ([[AtomicAppend.publish]] — staged directory + rename +
    * marker; a mid-append crash leaves nothing any probe honors and
    * the next append repairs the orphan). Probes read base ∪ committed
    * segments with partition pruning per leg, so an appended vector is
    * immediately probe-visible with the identical ADC arithmetic its
    * cluster-mates got at build time.
    *
    * Contract, stated like [[Similarity.sqAppendIndex]]'s frozen
    * bounds: quantizers do NOT retrain on append — codes for the new
    * batch are what a build would have produced had these vectors been
    * present with the SAME centroids/codebooks, so probe(append(b))
    * equals probe over a corpus where b was encoded at build time
    * (IvfPqSpec asserts split-shape invariance bitwise), but a
    * drifted corpus eventually wants a quantizer re-train (rebuild) —
    * exactly like production IVF-PQ systems.
    */
  def ivfPqAppendIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      sourceTag: String = ""): Unit = {
    val spark = df.sparkSession
    val (m, ksub) = readIvfPqMeta(spark, path, sourceTag)
    val cb = readCodebooks(spark, path, m, ksub)
    val assign = Similarity.frozenClusterAssign(
      spark, Similarity.ivfCentroidsPath(spark, path))
    // the base corpus round-trips the build input's vector type (e.g.
    // array<float> from the embeddings table); the segment must match
    // it exactly or the base ∪ segments union fails on schema. Read
    // the COMMITTED view's schema, not the raw root — after a
    // compaction the base leg lives in the fold segment
    val vT = AtomicAppend.read(spark, s"$path/corpus").schema("v").dataType
    val assigned = df.select(
      col(idCol),
      col(vecCol),
      assign(col(vecCol)).as("cluster"))
    AtomicAppend.publish(spark, s"$path/corpus") { staging =>
      pqEncode(assigned, vecCol, idCol, cb, carry = Seq(vecCol, "cluster"))
        .withColumnRenamed(vecCol, "v")
        .withColumn("v", col("v").cast(vT))
        .write
        .mode("overwrite")
        .partitionBy("cluster")
        .parquet(staging)
    }
    // auto-fold: stored (id, code, v, cluster) rows rewrite into the
    // same cluster-partitioned layout (codes and assignments are
    // frozen — the fold is a pure relayout); a retrain fold's carried
    // quantizer state flows forward so it survives regular compaction
    AtomicAppend.maybeCompact(
      spark, s"$path/corpus",
      carryMeta = Seq("_centroids", "_codebooks")) { (d, staging) =>
      d.write.mode("overwrite").partitionBy("cluster").parquet(staging)
    }
  }

  /** Read the persisted codebooks back into the driver-side constant
    * (m·ksub·subdim doubles — bounded).
    */
  private def readCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      m: Int,
      ksub: Int): Codebooks = {
    val rows = spark.read
      .parquet(ivfPqCodebooksPath(spark, path))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (jc, rs) =>
        jc -> rs.sortBy(_.getInt(2)).map(_.getDouble(3))
      }
    Array.tabulate(m, ksub)((j, c) =>
      rows.getOrElse((j, c), Array.empty[Double]))
  }

  /** Probe the persisted IVF-PQ index: rank clusters by query↔centroid
    * cosine (never touches the corpus), ADC-scan codes in the nprobe
    * pruned partitions, exact-cosine re-rank of the top `refine`
    * candidates. Returns (id, cos) descending. The candidate id list is
    * the only driver materialization (≤ refine rows, bounded).
    */
  /** Validate + load an [[ivfPqWriteIndex]] `_meta`: (m, ksub). One
    * copy of the source-identity check for both probes.
    */
  private def readIvfPqMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      sourceTag: String): (Int, Int) = {
    val meta = spark.read.parquet(s"$path/_meta").head()
    val built = meta.getAs[String]("source")
    require(
      sourceTag.isEmpty || built == null || built.isEmpty || built == sourceTag,
      s"ivfpq index at $path was built from source '$built'; " +
        s"probe expected source '$sourceTag' — refusing to cross-wire indexes")
    (meta.getAs[Int]("m"), meta.getAs[Int]("ksub"))
  }

  /** Where the CURRENT PQ codebook table lives — the
    * [[Similarity.ivfCentroidsPath]] discipline for the second half of
    * the IVF-PQ quantizer state: a retrain fold carries fresh
    * `_codebooks` inside its corpus segment; a never-retrained index
    * keeps the build-time root table.
    */
  private def ivfPqCodebooksPath(
      spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    AtomicAppend
      .latestSegFile(spark, s"$path/corpus", "_codebooks")
      .getOrElse(s"$path/codebooks")

  /** Rebuild the FULL IVF-PQ quantizer state from the index's own
    * committed corpus view — [[Similarity.ivfRetrain]] extended to the
    * product quantizer: re-run coarse k-means over the stored
    * full-precision vectors, re-train the codebooks on the fresh
    * assignment, re-encode every stored vector, and publish corpus +
    * `_centroids` + `_codebooks` as ONE [[AtomicAppend.compact]] fold
    * under one marker — every crash window leaves either the old
    * (corpus, centroids, codebooks) triple or the new one, never a
    * mix of layouts and quantizers. Build parameters come from the
    * index's own `_meta` (m, ksub, kclusters, iters — recorded at
    * build time); `iters` is overridable per call. No-op before the
    * first append (nothing to fold; drift needs a segment to measure).
    */
  def ivfPqRetrain(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      iters: Option[Int] = None): Unit = {
    val meta = spark.read.parquet(s"$path/_meta").head()
    val m = meta.getAs[Int]("m")
    val ksub = meta.getAs[Int]("ksub")
    val kc = meta.getAs[Int]("kclusters")
    val it = iters.getOrElse(
      if (meta.schema.fieldNames.contains("iters") &&
        !meta.isNullAt(meta.fieldIndex("iters")))
        meta.getAs[Number]("iters").intValue
      else 3)
    AtomicAppend.compact(spark, s"$path/corpus", carryMeta = Nil) {
      (d, staging) =>
        val assigned = graft.ops.Stage.materializeOnce(
          Similarity.kmeansAssign(
            d.select(col("id"), col("v")), "v", "id", kc, it))
        val cb = pqTrain(assigned, "v", "id", m, ksub, it)
        pqEncode(assigned, "v", "id", cb, carry = Seq("v", "cluster"))
          .write
          .mode("overwrite")
          .partitionBy("cluster")
          .parquet(staging)
        Similarity
          .ivfCentroids(assigned, "v", "cluster")
          .write
          .mode("overwrite")
          .parquet(s"$staging/_centroids")
        import spark.implicits._
        (for {
          j <- cb.indices
          c <- cb(j).indices
          p <- cb(j)(c).indices
        } yield (j, c, p, cb(j)(c)(p)))
          .toDF("j", "c", "pos", "v")
          .repartition(1)
          .write
          .mode("overwrite")
          .parquet(s"$staging/_codebooks")
    }
  }

  /** Evaluate occupancy drift and rebuild if tripped — the IVF-PQ
    * twin of [[Similarity.ivfMaybeRetrain]]. Returns whether a
    * retrain ran.
    */
  def ivfPqMaybeRetrain(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      iters: Option[Int] = None,
      tvBar: Option[Double] = None,
      shareBar: Option[Double] = None): Boolean =
    if (Similarity
        .occupancyRetrainNeeded(spark, path, tvBar, shareBar)
        .isEmpty) false
    else {
      ivfPqRetrain(spark, path, iters)
      true
    }

  def ivfPqProbe(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: Seq[Double],
      k: Int,
      nprobe: Int,
      refine: Int,
      sourceTag: String = ""): DataFrame = {
    require(refine >= k, s"refine ($refine) must be >= k ($k)")
    val (m, ksub) = readIvfPqMeta(spark, path, sourceTag)
    val cb = readCodebooks(spark, path, m, ksub)
    val centroids =
      spark.read.parquet(Similarity.ivfCentroidsPath(spark, path))
    val probed = Similarity.ivfRankClusters(centroids, query, nprobe)
    val (qn, score) = adcScorer(cb, query)
    val corpus = AtomicAppend.read(spark, s"$path/corpus")
    // nprobe-bounded → always the pushed-literal partition filter; the
    // scaffold keeps the path choice uniform with every other family
    val pruned = IndexProbe.restrictByLocalKeys(
      corpus,
      "cluster",
      probed,
      // by-name: only built on the (unreachable at nprobe scale)
      // broadcast-semi-join leg — a local frame of the probed ids,
      // typed from the centroid table's cluster field
      spark.createDataFrame(
        java.util.Arrays.asList(
          probed.map(org.apache.spark.sql.Row(_)): _*),
        org.apache.spark.sql.types.StructType(
          Seq(centroids.schema("cluster")))))
    val cand = pruned
      .select(col("id"), score(col("code")).as("adc"))
      .orderBy(col("adc").desc, col("id"))
      .limit(refine)
      .select("id")
    VectorExpressions.register(spark)
    val q = array(qn.map(lit): _*)
    IndexProbe
      .restrictByKeys(pruned, "id", cand, refine.toLong)
      .select(col("id"), VectorExpressions.cosineFast(col("v"), q).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Many-queries probe of a persisted [[ivfPqWriteIndex]] layout —
    * the last ANN family to join the [[IndexProbe]] batch discipline
    * (LSH/IVF/SQ/BM25 already have one): ONE corpus scan answers the
    * whole query batch instead of a per-query re-scan of the code
    * table.
    *
    * Plan shape, mirroring [[Similarity.sqProbeIndexMany]]:
    *  1. per-query ADC tables (m·ksub doubles each) and normalized
    *     vectors are built on the driver — bounded by the query batch,
    *     never the corpus — and attached to the (query, cluster)
    *     coarse assignment rows;
    *  2. clusters rank per query against the centroid table (one small
    *     job; csim desc with cluster-id tiebreak, the
    *     [[Similarity.ivfProbeIndexMany]] determinism stance);
    *  3. the corpus is read ONCE with `cluster IN (union of probed)`
    *     — a pushed PARTITION filter — selecting only (cluster, id,
    *     code): parquet column pruning keeps the float vectors unread
    *     through the whole ADC pass (the PQ I/O win, preserved at
    *     batch shape);
    *  4. each code row ADC-scores only against the queries that probed
    *     its cluster (broadcast join on cluster), and candidates cut
    *     per query at `refine` ([[IndexProbe.perQueryTopK]] — the
    *     WindowGroupLimit shape);
    *  5. the exact re-rank reads the candidate rows once, restricted
    *     via [[IndexProbe.restrictByKeys]] over the union of all
    *     queries' candidate ids (pushed id-IN below the literal cap, a
    *     broadcast semi-join past it), re-cuts each query's own
    *     candidates (its corpus-wide top-refine is a subset of the
    *     union — the re-cut reproduces it exactly), and ranks the
    *     exact cosine per query.
    * Per query the rows equal [[ivfPqProbe]]'s answer bitwise: same
    * table doubles in the same j-ascending sum, same normalized query
    * in the same cosine, same rank cuts with the same id tiebreaks.
    */
  def ivfPqProbeMany(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      qVecCol: String,
      qIdCol: String,
      k: Int,
      nprobe: Int,
      refine: Int,
      sourceTag: String = ""): DataFrame = {
    require(refine >= k, s"refine ($refine) must be >= k ($k)")
    val (m, ksub) = readIvfPqMeta(spark, path, sourceTag)
    val cb = readCodebooks(spark, path, m, ksub)
    // one collect of the (small) query batch: per-query ADC tables and
    // normalized vectors are driver-built, and the local relation
    // broadcasts without re-running the caller's subplan per action
    val qSel = queries.select(
      col(qIdCol).as("query_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    val qRows = qSel.collect()
    val perQ: Map[Any, (Seq[Double], Seq[Double])] = qRows.map { r =>
      val (qn, tbl) = adcTable(cb, r.getSeq[Double](1))
      r.get(0) -> (qn, tbl.flatten.toSeq) // row-major: j·ksub + code
    }.toMap
    val qs = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qSel.schema)
    // coarse ranking: queries × centroids only (never the corpus);
    // deterministic cluster tiebreak at the nprobe boundary
    val centroids =
      spark.read.parquet(Similarity.ivfCentroidsPath(spark, path))
    val ranked = centroids
      .crossJoin(broadcast(qs))
      .groupBy("query_id", "cluster")
      .agg(
        sum(col("v") * element_at(col("qv"), col("pos").cast("int") + 1))
          .as("dot"),
        sum(col("v") * col("v")).as("nrm"))
      .select(
        col("query_id"),
        col("cluster"),
        (col("dot") / sqrt(col("nrm"))).as("csim"))
    val assignRows = IndexProbe
      .perQueryTopK(ranked, nprobe, col("csim").desc, col("cluster").asc)
      .select("query_id", "cluster")
      .collect()
    val clusters = assignRows.map(_.get(1)).distinct.toSeq
    val assignSchema = org.apache.spark.sql.types.StructType(Seq(
      qSel.schema("query_id"),
      ranked.schema("cluster"),
      org.apache.spark.sql.types.StructField(
        "__qn",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField(
        "__tbl",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val assignment = spark.createDataFrame(
      java.util.Arrays.asList(assignRows.map { r =>
        val (qn, tbl) = perQ(r.get(0))
        org.apache.spark.sql.Row(r.get(0), r.get(1), qn, tbl)
      }: _*),
      assignSchema)
    val scoreU = adcFlatUdf(m, ksub)
    val corpus = AtomicAppend.read(spark, s"$path/corpus")
    // cluster count is capped at kclusters (small by construction,
    // like BM25's nShards) — the union stays a literal partition filter
    val prunedAll = corpus.where(col("cluster").isin(clusters: _*))
    val cand = IndexProbe
      .perQueryTopK(
        prunedAll
          .select(col("cluster"), col("id"), col("code"))
          .join(broadcast(assignment), Seq("cluster"))
          .select(
            col("query_id"),
            col("id"),
            scoreU(col("code"), col("__tbl")).as("adc")),
        refine,
        col("adc").desc,
        col("id").asc)
      .select("id")
    VectorExpressions.register(spark)
    val restricted = IndexProbe
      .restrictByKeys(prunedAll, "id", cand, qRows.length.toLong * refine)
      .join(broadcast(assignment), Seq("cluster"))
      .select(
        col("query_id"),
        col("id"),
        scoreU(col("code"), col("__tbl")).as("adc"),
        VectorExpressions.cosineFast(col("v"), col("__qn")).as("cos"))
    val reCut = IndexProbe.perQueryTopK(
      restricted, refine, col("adc").desc, col("id").asc)
    IndexProbe
      .perQueryTopK(reCut, k, col("cos").desc, col("id").asc)
      .select("query_id", "id", "cos")
  }
}
