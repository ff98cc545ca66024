package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SignatureExpressions, TextFunctions, VectorFunctions}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity}

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exact dedup groups true duplicates") {
    val df = Seq(
      (1L, "hello world"),
      (2L, "hello world"),
      (3L, "different doc")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").collect()
    assert(out.length === 2)
    val dup = out.find(_.getAs[Long]("n") == 2L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
  }

  test("minhash LSH finds a planted near-duplicate") {
    val base =
      "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"), // near-dup of 1
      (3L, "completely unrelated content about spark query engines rolling")
    ).toDF("doc_id", "text")
    val pairs = Dedup
      .minHashNearDup(docs, "text", "doc_id", shingleLen = 4,
        numHashes = 32, bands = 16, threshold = 0.5)
      .collect()
    assert(pairs.exists(r =>
      r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L))
    assert(!pairs.exists(r => r.getAs[Long]("id_b") == 3L))
  }

  test("resolveComponents: transitive chain collapses to one survivor") {
    // planted topology: A~B, B~C but A≁C (the transitive case naive
    // per-pair dropping gets wrong), plus an unrelated pair D~E
    val pairs = Seq(
      (10L, 20L), // A~B
      (20L, 30L), // B~C
      (50L, 40L)  // E~D (reversed order: symmetrization must handle it)
    ).toDF("id_a", "id_b")
    val comp = Dedup
      .resolveComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L))

    // the dedup decision: exactly one survivor per component, rows
    // outside the pair graph untouched
    val corpus = Seq(10L, 20L, 30L, 40L, 50L, 99L).toDF("doc_id")
    val kept = Dedup
      .dedupByComponents(corpus, "doc_id", Dedup.resolveComponents(pairs))
      .as[Long].collect().toSet
    assert(kept === Set(10L, 40L, 99L))

    // a long path needs diameter rounds — the loud cap fires below it
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainComp = Dedup.resolveComponents(chain).as[(Long, Long)]
      .collect().toMap
    assert(chainComp.values.toSet === Set(0L))
    intercept[IllegalArgumentException] {
      Dedup.resolveComponents(chain, maxIters = 2)
    }
  }

  test("resolveComponentsAuto: driver fast path == distributed loop") {
    // random-ish graph with chains, a star, isolated pairs — the auto
    // path (driver union-find) must match the distributed loop exactly
    val edges =
      (0L until 30L).map(i => (i * 3, i * 3 + 3)) ++ // one 31-vertex chain
        (1L to 50L).map(i => (9000L, 9000L + i)) ++ // star hub 9000
        Seq((70000L, 70001L), (80001L, 80000L))
    val pairs = edges.toDF("id_a", "id_b")
    val auto = Dedup.resolveComponentsAuto(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.resolveComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(auto === dist)

    // over-cap graphs take the distributed path and still agree:
    // force it with a tiny cap
    val capped = Dedup.resolveComponentsAuto(pairs, driverCap = 3)
      .as[(Long, Long)].collect().toMap
    assert(capped === dist)

    // empty pair graph → empty components, both paths
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.resolveComponentsAuto(empty).isEmpty)
  }

  test("resolveComponents: planted mega-component, salted == unsalted") {
    // one giant star component (hub 7, 400 spokes): its min-label is a
    // hot join key in the pointer jump — the case the salt guards —
    // plus disjoint small components that must stay untouched
    val star = (1L to 400L).map(i => (7L, 1000L + i))
    val small = Seq((5000L, 5001L), (6001L, 6000L))
    val pairs = (star ++ small).toDF("id_a", "id_b")
    val salted = Dedup.resolveComponents(pairs, saltBuckets = 8)
      .as[(Long, Long)].collect().toMap
    val unsalted = Dedup.resolveComponents(pairs, saltBuckets = 1)
      .as[(Long, Long)].collect().toMap
    assert(salted === unsalted)
    assert(salted(1234L) === 7L && salted(7L) === 7L)
    assert(salted(5001L) === 5000L && salted(6001L) === 6000L)
    assert(salted.values.count(_ == 7L) === 401)
  }

  test("minhash survivors == exact survivors on planted transitive chains") {
    // q166's composition (MinHash pairs -> components -> survivors)
    // proven against the exact-pair path on a corpus where both pair
    // generators find the same chains: two transitive near-dup chains
    // (A~B~C via one-word edits, D~E) plus unrelated singletons. The
    // survivor set must be identical: one canonical doc per chain,
    // singletons untouched.
    val base =
      "the quick brown fox jumps over the lazy dog again and again today " +
        "while the river runs quietly past the old stone mill"
    val other =
      "completely different text about distributed query engines and " +
        "shuffle partitioning strategies for large scale analytics"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),            // ~1
      (3L, base + " extra words"),      // ~2 (transitive to 1)
      (10L, other),
      (11L, other + " appended"),       // ~10
      (20L, "a singleton document about nothing in particular at all"),
      (21L, "another lone text mentioning entirely unrelated matters"))
      .toDF("doc_id", "text")
    def survivors(pairs: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup
        .dedupByComponents(
          docs.select("doc_id"), "doc_id", Dedup.resolveComponents(pairs))
        .as[Long].collect().toSet
    val viaMinhash = survivors(
      Dedup.minHashNearDup(docs, "text", "doc_id", shingleLen = 4,
        numHashes = 32, bands = 16, threshold = 0.4))
    val viaExact = survivors(
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 4,
        blockKey = Some(lit(1)), // one block: true all-pairs ground truth
        threshold = 0.4))
    assert(viaMinhash === viaExact)
    assert(viaMinhash === Set(1L, 10L, 20L, 21L))
  }

  test("audio: WAV roundtrip decodes to known tone statistics; corrupt rows quarantined") {
    // 440 Hz sine, 0.8 amplitude, 8 kHz mono, 1600 samples — the
    // decoded stats are known in closed form: sine RMS = A/sqrt(2),
    // ZCR = 2 sign changes per period = 2f/rate
    val wav = Multimodal.synthWavBytes(440.0, 1600)
    val f = Multimodal.decodeAudioBytes(wav, profileBins = 8).get
    assert(f.sample_rate === 8000)
    assert(f.channels === 1)
    assert(f.n_samples === 1600L)
    assert(math.abs(f.rms - 0.8 / math.sqrt(2)) < 0.01)
    assert(math.abs(f.zcr - 2.0 * 440 / 8000) < 0.005)
    assert(f.energy_profile.length === 8)
    // steady tone: flat envelope, every bin near the global RMS
    f.energy_profile.foreach(b => assert(math.abs(b - f.rms) < 0.02))
    // silence decodes to zero energy, no crossings
    val silent = Multimodal.synthWavBytes(440.0, 800, amplitude = 0.0)
    val s = Multimodal.decodeAudioBytes(silent, 4).get
    assert(s.rms === 0.0 && s.zcr === 0.0)
    // not a WAV -> None (quarantine contract)
    assert(Multimodal.decodeAudioBytes("not audio".getBytes, 4).isEmpty)

    // the Dataset path: corrupt rows dropped, good rows decoded
    val assets = Seq(
      (1L, wav),
      (2L, "garbage".getBytes)).toDF("id", "data")
    val out = Multimodal.decodeAudio(assets).collect()
    assert(out.length === 1)
    assert(out.head.id === 1L && out.head.n_samples === 1600L)

    // the query-shaped path: synthesized assets per id decode for real,
    // pitch classes give distinct ZCRs recoverable from the features
    val ids = Seq(0L, 6L).toDF("doc_id")
    val feats = Multimodal
      .decodeAudio(Multimodal.audioAssetsFromIds(ids, "doc_id"))
      .collect()
      .map(a => a.id -> a.zcr)
      .toMap
    assert(math.abs(feats(0L) - 2.0 * 220 / 8000) < 0.01)
    assert(
      math.abs(feats(6L) - 2.0 * 220 * math.pow(2, 0.5) / 8000) < 0.01)
  }

  test("zero-shingle docs never band: no mega-bucket, no pairs, registry intact") {
    val base =
      "the quick brown fox jumps over the lazy dog again and again today " +
        "while the river runs quietly past the old stone mill"
    // 40 docs too short to shingle (all-null signatures) + one real
    // near-dup pair. The short docs must produce NO pairs — among
    // themselves or with anyone — and must not blow a bucket cap
    val docs = ((1L, base) +: (2L, base + " extra") +:
      (100L until 140L).map(i => (i, "ab"))).toDF("doc_id", "text")
    val pairs = Dedup
      .minHashNearDup(docs, "text", "doc_id", shingleLen = 4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSet === Set((1L, 2L)))
    // ingest: short docs are corpus members (registry keeps them) even
    // though they can never near-dup
    val idx = java.nio.file.Files
      .createTempDirectory("mh-zero-shingle-").toString + "/mh"
    graft.streaming.NearDupIngest.ingestBatch(
      docs, idx, "text", "doc_id", batchId = 0L, shingleLen = 4)
    val ingested = graft.streaming.NearDupIngest
      .ingestedIds(spark, idx).get.as[Long].collect().toSet
    assert((100L until 140L).forall(ingested.contains))
    assert(ingested.contains(1L) && !ingested.contains(2L))
    // and the persisted buckets carry no null-signature entries
    val nullBuckets = spark.read.parquet(s"$idx/buckets")
      .join(
        spark.read.parquet(s"$idx/sig")
          .where(col("mh").getItem(0).isNull).select("id"),
        Seq("id"))
      .count()
    assert(nullBuckets === 0L)
  }

  test("video: AVI roundtrip decodes known frames; compressed/corrupt quarantined") {
    // 4 solid-color frames at 16×12 — means and luminance bins are
    // known exactly; frame 0 is pure red, 3 a dim gray-ish mix
    val colors = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30))
    val avi = Multimodal.synthAviBytes(16, 12, colors)
    val assets = Seq((7L, avi)).toDF("id", "data")
    val all = Multimodal.decodeVideo(assets, histBins = 16)
      .collect().sortBy(_.frame_idx)
    assert(all.length === 4)
    assert(all.forall(f =>
      f.width == 16 && f.height == 12 && f.n_frames == 4 && f.id == 7L))
    all.zip(colors).foreach { case (f, (r, g, b)) =>
      assert(f.mean_r === r / 255.0)
      assert(f.mean_g === g / 255.0)
      assert(f.mean_b === b / 255.0)
      // solid frame: the histogram is a single 1.0 at the lum bucket
      val lum = (r * 299 + g * 587 + b * 114) / 1000 * 16 / 256
      assert(f.feature(lum) === 1.0f)
      assert(f.feature.sum === 1.0f)
    }
    // frame sampling: every 2nd frame
    val sampled = Multimodal.decodeVideo(assets, 16, everyN = 2)
      .collect().map(_.frame_idx).sorted
    assert(sampled === Array(0, 2))

    def patched(at: Int, b: Byte): Array[Byte] = {
      val c = avi.clone(); c(at) = b; c
    }
    def find(marker: String, from: Int = 0): Int = {
      val m = marker.getBytes("US-ASCII")
      avi.indexOfSlice(m, from)
    }
    // not RIFF / truncated → quarantine, not crash
    val vid = (d: Array[Byte]) =>
      Multimodal.decodeVideo(Seq((1L, d)).toDF("id", "data"), 16).count()
    assert(vid(patched(3, 'X'.toByte)) === 0L)
    assert(vid(avi.take(100)) === 0L)
    assert(vid("nope".getBytes) === 0L)
    // compressed stream (biCompression != 0) → the honest codec boundary
    assert(vid(patched(find("strf") + 8 + 16, 1.toByte)) === 0L)
    // a '00dc' (compressed) frame chunk poisons the asset
    val movi = find("movi")
    assert(vid(patched(find("00db", movi) + 3, 'c'.toByte)) === 0L)
    // sanity: the unpatched original still decodes (offsets were right)
    assert(vid(avi) === 4L)
  }

  test("video codec seam: a third-party decoder drops in with no plumbing change") {
    // toy "codec": payload = 'T','O','Y' then 1×1 DIB frames of 4 bytes
    // each (B,G,R,pad) — a format the AVI parser knows nothing about.
    // Proves decodeVideo's decoder parameter is a genuine injection
    // point: same schema, quarantine semantics, and frame sampling.
    val toy: Multimodal.VideoDecoder = bytes =>
      if (bytes.length < 3 || bytes(0) != 'T' || bytes(1) != 'O' ||
        bytes(2) != 'Y') None
      else {
        val body = bytes.drop(3)
        if (body.isEmpty || body.length % 4 != 0) None
        else Some(Multimodal.DecodedVideo(1, 1, body.grouped(4).toIndexedSeq))
      }
    // frame 0 pure blue (B=255), frame 1 pure red (R=255)
    val good = "TOY".getBytes("US-ASCII") ++
      Array[Byte](255.toByte, 0, 0, 0) ++ Array[Byte](0, 0, 255.toByte, 0)
    val avi = Multimodal.synthAviBytes(4, 2, Seq((10, 20, 30)))
    val assets = Seq(
      (1L, good), (2L, "nope".getBytes("US-ASCII")), (3L, avi))
      .toDF("id", "data")
    val out = Multimodal
      .decodeVideo(assets, histBins = 4, everyN = 1, decoder = toy)
      .collect()
    // the toy codec decodes asset 1 only; AVI bytes quarantine under it
    assert(out.map(_.id).toSet === Set(1L))
    val f0 = out.find(_.frame_idx == 0).get
    assert(f0.n_frames === 2 && f0.width === 1 && f0.height === 1)
    assert(f0.mean_b === 1.0 && f0.mean_r === 0.0)
    val f1 = out.find(_.frame_idx == 1).get
    assert(f1.mean_r === 1.0 && f1.mean_b === 0.0)
    // frame sampling composes with a plugged decoder
    assert(Multimodal.decodeVideo(assets, 4, everyN = 2, decoder = toy)
      .collect().map(_.frame_idx).toSeq === Seq(0))
    // the default decoder still handles the AVI through the SAME entry,
    // and quarantines the toy bytes it cannot parse
    assert(Multimodal.decodeVideo(assets, histBins = 4)
      .collect().map(_.id).toSet === Set(3L))
  }

  test("video codec seam: MJPEG (real compressed JPEG frames) end-to-end") {
    // a REAL compressed frame format through the seam: Motion-JPEG in
    // AVI, one baseline JPEG per 00dc chunk, decoded by javax.imageio
    // inside mjpegDecoder. Solid-color frames keep the lossy roundtrip
    // near-exact, so channel means are assertable to tight tolerance.
    val colors = Seq((255, 0, 0), (0, 255, 0), (16, 32, 64))
    val mjpeg = Multimodal.synthMjpegAviBytes(16, 12, colors)
    val assets = Seq((9L, mjpeg)).toDF("id", "data")
    // honest codec boundary: the DEFAULT decoder quarantines MJPEG
    assert(Multimodal.decodeVideo(assets, histBins = 16).count() === 0L)
    val rows = Multimodal
      .decodeVideo(assets, 16, everyN = 1, decoder = Multimodal.mjpegDecoder)
      .collect().sortBy(_.frame_idx)
    assert(rows.length === 3)
    assert(rows.forall(f =>
      f.width == 16 && f.height == 12 && f.n_frames == 3 && f.id == 9L))
    rows.zip(colors).foreach { case (f, (r, g, b)) =>
      assert(math.abs(f.mean_r - r / 255.0) < 0.02, s"r of ($r,$g,$b)")
      assert(math.abs(f.mean_g - g / 255.0) < 0.02, s"g of ($r,$g,$b)")
      assert(math.abs(f.mean_b - b / 255.0) < 0.02, s"b of ($r,$g,$b)")
    }
    // frame sampling composes: every 2nd frame
    assert(Multimodal
      .decodeVideo(assets, 16, everyN = 2, decoder = Multimodal.mjpegDecoder)
      .collect().map(_.frame_idx).sorted.toSeq === Seq(0, 2))
    // a corrupt JPEG payload quarantines the WHOLE asset, never crashes:
    // zero the bytes right after the first frame's JPEG SOI marker
    val movi = mjpeg.indexOfSlice("movi".getBytes("US-ASCII"))
    val dc = mjpeg.indexOfSlice("00dc".getBytes("US-ASCII"), movi)
    val corrupt = mjpeg.clone()
    (dc + 10 until dc + 30).foreach(i => corrupt(i) = 0)
    assert(Multimodal
      .decodeVideo(Seq((1L, corrupt)).toDF("id", "data"), 16,
        decoder = Multimodal.mjpegDecoder)
      .count() === 0L)
    // an UNCOMPRESSED AVI under mjpegDecoder quarantines too (wrong
    // biCompression) — each decoder owns exactly its format
    val plain = Multimodal.synthAviBytes(4, 2, Seq((10, 20, 30)))
    assert(Multimodal
      .decodeVideo(Seq((2L, plain)).toDF("id", "data"), 16,
        decoder = Multimodal.mjpegDecoder)
      .count() === 0L)
  }

  test("duplicate spans: planted shared sentence found with exact boundaries") {
    // 10-token shared run planted mid-doc in docs 1 and 2; doc 3 clean.
    // With n=5, duplicated windows start at the 6 positions covering the
    // run, and the island merge must recover EXACTLY the planted range —
    // one token wider on either side would mean the merge leaks.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"unique one two three $shared tail1 tail2"),
      (2L, s"other prefix words here now $shared end1 end2 end3"),
      (3L, "completely unrelated text with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val spans = Dedup
      .duplicateSpans(docs, "doc_id", "text", n = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // doc 1: shared run occupies tokens 5..14 (1-based); doc 2: 6..15
    assert(spans === Set((1L, 5L, 14L), (2L, 6L, 15L)))
  }

  test("duplicate spans: within-doc repetition alone is not a span") {
    // the same 6-token run twice in ONE doc: df counts distinct docs,
    // so no window reaches minDocFreq=2 and no span is emitted
    val rep = "one two three four five six"
    val docs = Seq(
      (1L, s"$rep middle words here $rep"),
      (2L, "nothing shared with the first document at all honestly")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(docs, "doc_id", "text", n = 5).count() === 0L)
  }

  test("remove duplicate spans: shared text cut, unique text intact, full-dup doc empties") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"unique one two three $shared tail1 tail2"),
      (2L, s"other prefix words here now $shared end1 end2 end3"),
      (3L, shared), // the whole doc is the duplicated run
      (4L, "completely unrelated text with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val out = Dedup
      .removeDuplicateSpans(docs, "doc_id", "text", n = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out(1L) === ((10L, "unique one two three tail1 tail2")))
    assert(out(2L) === ((10L, "other prefix words here now end1 end2 end3")))
    assert(out(3L) === ((10L, ""))) // emptied, not dropped
    assert(out(4L) === ((0L,
      "completely unrelated text with no overlap at all whatsoever")))
  }

  test("video codec seam: a contract-violating decoder quarantines, not crashes") {
    // parseAvi enforces the DecodedVideo contract internally; an
    // external codec can return anything. Each violating shape below
    // would crash the pixel scan (AIOOBE / NaN rows) without the seam
    // guard — the asset must quarantine instead, while a conforming
    // result from the SAME decoder still decodes.
    val bad: Multimodal.VideoDecoder = bytes =>
      bytes.headOption.map {
        case 1 => // frame shorter than stride*height (4-byte vs 8 needed)
          Multimodal.DecodedVideo(2, 1, IndexedSeq(Array.fill(4)(0: Byte)))
        case 2 => // non-positive dimensions
          Multimodal.DecodedVideo(0, 5, IndexedSeq(Array.fill(20)(0: Byte)))
        case 3 => // dimensions past the parseAvi cap
          Multimodal.DecodedVideo(1 << 20, 1 << 20, IndexedSeq(Array[Byte]()))
        case _ => // conforming: one 1×1 pure-green frame (stride 4)
          Multimodal.DecodedVideo(
            1, 1, IndexedSeq(Array[Byte](0, 255.toByte, 0, 0)))
      }
    val assets = Seq(
      (1L, Array[Byte](1)), (2L, Array[Byte](2)), (3L, Array[Byte](3)),
      (4L, Array[Byte](9))).toDF("id", "data")
    val out =
      Multimodal.decodeVideo(assets, histBins = 4, decoder = bad).collect()
    assert(out.map(_.id).toSet === Set(4L))
    assert(out.head.mean_g === 1.0 && out.head.mean_r === 0.0)
  }

  test("stress gen: factors beyond the distinct-substitution budget fail loudly") {
    // mutateText has exactly MaxFactor distinct bijective substitutions;
    // beyond that replicas repeat text verbatim and the near-dup stress
    // ratios measure planted duplicates — refuse instead of degrade
    val e = intercept[IllegalArgumentException] {
      graft.tools.Stress.gen("/nonexistent", "/nonexistent", 101)
    }
    assert(e.getMessage.contains("101"))
  }

  test("video: fuzzed AVI bytes never crash the decoder (quarantine contract)") {
    // 300 deterministic mutants: 1-4 byte flips at seeded offsets, plus
    // seeded truncations. Every one must either decode or drop — a
    // parser that throws on hostile bytes takes the whole task down
    val avi = Multimodal.synthAviBytes(8, 6, Seq((1, 2, 3), (200, 100, 50)))
    val rnd = new scala.util.Random(0xA51D)
    val mutants = (0 until 300).map { i =>
      val m = avi.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      val cut = if (i % 5 == 0) 1 + rnd.nextInt(m.length) else m.length
      (i.toLong, m.take(cut))
    }
    val out = Multimodal
      .decodeVideo(mutants.toDF("id", "data"), histBins = 16)
      .collect() // must not throw
    // decoded rows that survive mutation still have sane geometry
    out.foreach { f =>
      assert(f.width > 0 && f.height > 0 && f.feature.length === 16)
    }
  }

  test("exact semantic dedup survivors are partitioning-invariant") {
    // the EXACT path has no partitioning-sensitive arithmetic: each
    // pair's cosine is computed within one row, components are a
    // min-label fixpoint. (semanticDedup is NOT asserted invariant:
    // Lloyd centroid means sum doubles in partition order, so a
    // boundary assignment may legitimately flip — the sound cross-
    // partitioning guarantee there is the survivors-superset test.)
    val emb = Tables.embeddings(spark, TestSpark.sf)
    def survivors(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup
        .dedupByComponents(
          df.select("vec_id"),
          "vec_id",
          Dedup.resolveComponents(
            Dedup.embeddingNearDupExact(df, "embedding", "vec_id", 0.4)))
        .as[Long].collect().toSet
    assert(survivors(emb.repartition(7)) === survivors(emb))
  }

  test("minhash index: probe finds corpus near-dups, append extends, tags validate") {
    val base =
      "the quick brown fox jumps over the lazy dog again and again today " +
        "while the river runs quietly past the old stone mill"
    val other =
      "completely different text about distributed query engines and " +
        "shuffle partitioning strategies for large scale analytics"
    val corpus = Seq((100L, base), (200L, other)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh-index-").toString
    Dedup.minHashWriteIndex(corpus, "text", "doc_id", dir,
      shingleLen = 4, numHashes = 32, bands = 16, sourceTag = "t")

    // batch: one near-dup of corpus doc 100, one novel doc
    val batch = Seq(
      (1L, base + " extra"),
      (2L, "a wholly novel document mentioning nothing from the corpus"))
      .toDF("doc_id", "text")
    val hits = Dedup
      .minHashProbeIndex(batch, "text", "doc_id", dir,
        threshold = 0.4, sourceTag = "t")
      .as[(Long, Long, Double)].collect()
    assert(hits.exists(h => h._1 == 1L && h._2 == 100L && h._3 > 0.4))
    assert(!hits.exists(_._1 == 2L))

    // the ingest decision: near-dup dropped, novel survives
    val kept = Dedup
      .dedupIncoming(batch, "text", "doc_id", dir,
        threshold = 0.4, sourceTag = "t")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L))

    // append the survivor; a near-dup of IT is now caught too
    Dedup.minHashAppendIndex(
      batch.where(col("doc_id") === 2L), "text", "doc_id", dir,
      sourceTag = "t")
    val round2 = Dedup
      .minHashProbeIndex(
        Seq((3L, "a wholly novel document mentioning nothing from the " +
          "corpus either")).toDF("doc_id", "text"),
        "text", "doc_id", dir, threshold = 0.4, sourceTag = "t")
      .as[(Long, Long, Double)].collect()
    assert(round2.exists(h => h._1 == 3L && h._2 == 2L))

    // a different source tag is an error, never silently-empty matches
    intercept[IllegalArgumentException] {
      Dedup.minHashProbeIndex(batch, "text", "doc_id", dir,
        sourceTag = "other-corpus")
    }
  }

  test("decontaminate removes exactly the flagged docs, corpus columns intact") {
    val benchText =
      "evaluation question about the capital of france and its rivers"
    val train = Seq(
      (100L, benchText + " leaked into training verbatim", "web"),
      (101L, "clean training document about cooking pasta properly", "web"),
      (102L, "another clean one covering garden soil preparation", "books"))
      .toDF("doc_id", "text", "source")
    val bench = Seq((1L, benchText, "eval")).toDF("doc_id", "text", "source")
    val kept = Dedup
      .decontaminate(train, bench, "text", "doc_id", n = 3, minShared = 10)
      .select("doc_id", "source")
      .as[(Long, String)].collect().toSet
    assert(kept === Set((101L, "web"), (102L, "books")))
  }

  test("funnel: sequential chaining — out-of-order stages don't convert") {
    import graft.operators.Funnel
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // user 2: purchase BEFORE the first view — reaches view only
      (2L, "purchase", 5L), (2L, "view", 10L),
      // user 3: click at the same instant as view (>= matches), no buy
      (3L, "view", 10L), (3L, "click", 10L),
      // user 4: never views — contributes to no stage
      (4L, "click", 10L), (4L, "purchase", 20L))
      .toDF("user_id", "event_type", "t")
    val out = Funnel
      .stages(ev, "user_id", col("event_type"), col("t"),
        Seq("view", "click", "purchase"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out === Map("view" -> 3L, "click" -> 2L, "purchase" -> 1L))
  }

  test("group mode ties resolve to the lowest value; duplicated flags keep first") {
    val df = Seq(("a", 3), ("a", 3), ("a", 1), ("a", 1), ("a", 2))
      .toDF("k", "v")
    val m = graft.ops.ColApply.modeBy(df, "v", Seq("k")).collect().head
    assert(m.getAs[Int]("mode") === 1) // 1 and 3 both count 2 → lowest
    assert(m.getAs[Long]("n_mode") === 2L)

    val docs = Seq(
      (1L, "same text"), (2L, "same  TEXT "), // normalized duplicates
      (3L, "other")).toDF("doc_id", "text")
    val flags = Dedup.duplicatedFlags(docs, "text", "doc_id")
      .select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags === Map(1L -> false, 2L -> true, 3L -> false))
  }

  test("hll distinct: within error of exact; pre-agg union = direct sketch") {
    import graft.operators.Sketches
    val ev = Tables.events(spark, TestSpark.sf)
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Sketches.hllDistinct(ev, Seq("event_type"), "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      val err = math.abs(approx(k).toDouble - n) / math.max(n, 1L)
      assert(err < 0.05, s"$k: approx=${approx(k)} exact=$n") // ~0.8% @ lgK=12
    }
    // mergeability: per-shard sketches rolled up give the SAME estimate
    // as one direct sketch — union is exact over register state
    val sharded = Sketches.hllSketches(
      ev.withColumn("shard", col("event_id") % 7),
      Seq("event_type", "shard"), "user_id")
    val merged = Sketches.hllMerge(sharded, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === approx)
  }

  test("bloom-prefiltered decontamination is result-identical to exact") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val train = docs.where(col("doc_id") >= 50)
    val bench = docs.where(col("doc_id") < 50)
    val exactOut = Dedup
      .contamination(train, bench, "text", "doc_id", n = 3, minShared = 10)
    val bloomOut = Dedup
      .contaminationBloom(train, bench, "text", "doc_id", n = 3,
        minShared = 10)
    assert(exactOut.count() > 0) // non-vacuous: overlap exists at sf0.001
    // bit-identical both ways: bloom fps are removed by the confirm join
    assert(bloomOut.exceptAll(exactOut).isEmpty)
    assert(exactOut.exceptAll(bloomOut).isEmpty)
  }

  test("bm25: hand-computed scores on a toy corpus, rank + tiebreak") {
    // corpus: d1 mentions the query term twice in 4 tokens, d2 once in
    // 2 tokens, d3 not at all; d4 is a doc_id tiebreak twin of d2
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "apple fig"),
      (3L, "cherry fig kiwi"),
      (4L, "apple fig")).toDF("doc_id", "text")
    val got = graft.operators.Sampling
      .bm25TopK(docs, "doc_id", "text", Seq("apple"), k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // hand replay: N=4, df(apple)=3, idf=ln(1+(4-3+0.5)/(3+0.5));
    // dl: d1=4, d2=d4=2; avgdl=11/4
    val idf = math.log(1 + (4 - 3 + 0.5) / (3 + 0.5))
    def s(tf: Double, dl: Double) =
      BigDecimal(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.75)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    // d2/d4 tie exactly (same tf, same dl) → doc_id ascending breaks it;
    // d1 (tf=2) outranks despite its longer doc
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 4L))
    assert(got(0)._2 === s(2, 4))
    assert(got(1)._2 === s(1, 2))
    assert(got(2)._2 === s(1, 2))
  }

  test("bm25 probe-many over the persisted index equals the inline path per query") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val idx =
      java.nio.file.Files.createTempDirectory("graft-bm25").toString + "/bm25"
    graft.operators.Sampling
      .bm25WriteIndex(docs, "doc_id", "text", idx, sourceTag = "spec")
    val batch = Seq(
      1L -> Seq("hash", "join", "stream"),
      2L -> Seq("vector", "scan"),
      // duplicate terms in a query must not double-count, and an
      // out-of-vocabulary term must contribute nothing
      3L -> Seq("window", "window", "zzz_not_a_term"))
    val probe = graft.operators.Sampling
      .bm25ProbeMany(spark, idx, batch, k = 10, sourceTag = "spec")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).sortBy(p => (-p._2, p._1)).toSeq)
      .toMap
    batch.foreach { case (qid, terms) =>
      val inline = graft.operators.Sampling
        .bm25TopK(docs, "doc_id", "text", terms, k = 10)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq
      assert(
        probe(qid) === inline,
        s"probe and inline disagree for query $qid ($terms)")
    }
    // cross-wired source refuses loudly, not silently wrong ranks
    val e = intercept[IllegalArgumentException] {
      graft.operators.Sampling
        .bm25ProbeMany(spark, idx, batch, k = 5, sourceTag = "other-dir")
        .collect()
    }
    assert(e.getMessage.contains("cross-wire"))
    // past ~1k distinct terms the term restriction switches from the
    // pushed In-literal to a broadcast semi-join of the term frame
    // (IndexProbe.restrictByLocalKeys) — scores must not move: the
    // filler terms are out-of-vocabulary, so each query's answer still
    // equals the inline bm25TopK
    val fillers = (0 until 1100).map(i => s"zzfiller$i")
    val bigBatch = Seq(
      1L -> (Seq("hash", "join", "stream") ++ fillers.take(550)),
      2L -> (Seq("vector", "scan") ++ fillers.drop(550)))
    val bigDf = graft.operators.Sampling
      .bm25ProbeMany(spark, idx, bigBatch, k = 10, sourceTag = "spec")
    val bplan = bigDf.queryExecution.executedPlan.toString
    assert(
      bplan.contains("LeftSemi") && bplan.contains("BroadcastHashJoin"),
      s"big term batch must restrict via broadcast semi-join:\n$bplan")
    assert(
      !bplan.contains("In(term"),
      s"big term batch must not bake a term In-literal into the scan:\n$bplan")
    val bigGot = bigDf.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).sortBy(p => (-p._2, p._1)).toSeq)
      .toMap
    Seq(1L -> Seq("hash", "join", "stream"), 2L -> Seq("vector", "scan"))
      .foreach { case (qid, terms) =>
        val inline = graft.operators.Sampling
          .bm25TopK(docs, "doc_id", "text", terms, k = 10)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
          .toSeq
        assert(bigGot(qid) === inline, s"big-batch query $qid ($terms)")
      }
  }

  test("bm25 append: evolved index probes bit-identical to a one-shot rebuild") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-bm25-append").toString
    // build(evens) -> append(odds)
    val evolved = s"$base/evolved"
    graft.operators.Sampling.bm25WriteIndex(
      docs.where(pmod(col("doc_id"), lit(2)) === 0),
      "doc_id", "text", evolved, sourceTag = "spec")
    graft.operators.Sampling.bm25AppendIndex(
      docs.where(pmod(col("doc_id"), lit(2)) === 1),
      "doc_id", "text", evolved, sourceTag = "spec")
    // one-shot rebuild over everything
    val rebuilt = s"$base/rebuilt"
    graft.operators.Sampling.bm25WriteIndex(
      docs, "doc_id", "text", rebuilt, sourceTag = "spec")
    // merged stats must be EXACTLY the rebuild's (the additive toks
    // merge — reconstructing from n·avgdl would drift an ulp). The
    // merged copy lives INSIDE the published segment (atomic with its
    // postings), surfaced through the same reader the probes use.
    val mE = graft.operators.Sampling.bm25ReadMeta(spark, evolved)
    val mR = graft.operators.Sampling.bm25ReadMeta(spark, rebuilt)
    for (f <- Seq("n", "avgdl", "toks"))
      assert(mE.getAs[Double](f) === mR.getAs[Double](f), f)
    val batch = Seq(
      1L -> Seq("hash", "join", "stream"),
      2L -> Seq("vector", "scan"))
    def probe(idx: String) = graft.operators.Sampling
      .bm25ProbeMany(spark, idx, batch, k = 15, sourceTag = "spec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2))
    assert(probe(evolved).toSeq === probe(rebuilt).toSeq)
    // appending from the wrong source refuses loudly
    val e = intercept[IllegalArgumentException] {
      graft.operators.Sampling.bm25AppendIndex(
        docs.limit(1), "doc_id", "text", evolved, sourceTag = "other")
    }
    assert(e.getMessage.contains("cross-wire"))
  }

  test("semantic decontamination: exact flags planted leak, banded ⊆ exact") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val bench = emb.where(col("vec_id") % 10 === 0)
    val train = emb.where(col("vec_id") % 10 =!= 0)
    val exactFlags = Dedup
      .semanticContamination(train, bench, "embedding", 0.4)
      .select("vec_id")
    val nTrain = train.count()
    val nFlag = exactFlags.count()
    assert(nFlag > 0, "non-vacuous: corpus has cross-split cosine structure")
    assert(nFlag < nTrain)
    // contamination + decontaminated partition the train set exactly
    val clean = Dedup
      .decontaminateSemantic(train, bench, "embedding", 0.4)
      .select("vec_id")
    assert(clean.count() + nFlag === nTrain)
    assert(clean.intersect(exactFlags).isEmpty)
    // banded flags never invent contamination (⊆ exact), so banded
    // survivors ⊇ exact survivors
    val bandedFlags = Dedup
      .semanticContaminationBanded(
        train, bench, "embedding", "vec_id", 0.4)
      .withColumnRenamed("id", "vec_id")
    assert(bandedFlags.exceptAll(exactFlags.distinct()).isEmpty)
    // a PLANTED verbatim leak (identical vector on both sides) is
    // caught by BOTH paths: identical vectors share every band bucket
    val leakVec = bench.select("embedding").head().getSeq[Float](0)
    val planted = spark
      .createDataFrame(Seq(Tuple1(999999L)))
      .toDF("vec_id")
      .withColumn("embedding", typedLit(leakVec))
    val trainPlus = train.select("vec_id", "embedding").unionByName(planted)
    Seq(
      Dedup.semanticContamination(
        trainPlus, bench, "embedding", 0.9).select("vec_id"),
      Dedup.semanticContaminationBanded(
        trainPlus, bench, "embedding", "vec_id", 0.9)
        .withColumnRenamed("id", "vec_id")
    ).foreach { flags =>
      assert(flags.where(col("vec_id") === 999999L).count() === 1L)
    }
  }

  test("segment dedup drops repeated boilerplate, keeps unique text in order") {
    val boiler = "one two three four" // 4-token segment, repeated everywhere
    val df = Seq(
      (1L, s"$boiler alpha beta gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu nu xi omicron pi"), // two unique segments
      (4L, "")).toDF("doc_id", "text")
    val out = Dedup
      .segmentDedup(df, "text", "doc_id", segTokens = 4, maxOccurrences = 1)
      .collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
            r.getAs[Long]("n_dropped"))))
      .toMap
    assert(out(1L) === (("alpha beta gamma delta", 1L, 1L)))
    assert(out(2L) === (("epsilon zeta eta theta", 1L, 1L)))
    // doc 3: both segments unique, order preserved across segment boundary
    assert(out(3L) === (("iota kappa lambda mu nu xi omicron pi", 2L, 0L)))
    assert(out(4L) === (("", 0L, 0L))) // empty doc survives as empty
  }

  test("ngram jaccard drops oversized blocks (skew cap)") {
    // 300 docs sharing one blocking key (5 tokens each) = a mega-block
    // that would expand to ~45k pairs in ONE task; 2 near-identical docs
    // in their own small block must still pair up.
    val mega = (1 to 300).map(i => (i.toLong, f"alpha beta gamma delta t$i%03d"))
    val small = Seq(
      (301L, "the quick brown fox jumps over the lazy hound"),
      (302L, "the quick brown fox jumps over the lazy hounds"))
    val df = (mega ++ small).toDF("doc_id", "text")
    val pairs = Dedup
      .ngramJaccardPairs(df, "text", "doc_id", n = 3,
        threshold = 0.1, maxBlockSize = 64)
      .collect()
    assert(pairs.exists(r =>
      r.getAs[Long]("id_a") == 301L && r.getAs[Long]("id_b") == 302L))
    // nothing from the dropped mega-block
    assert(pairs.forall(r => r.getAs[Long]("id_a") > 300L))
  }

  test("simhash: identical text → identical signature, determinism") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val sigs = df.select(Dedup.simHash(col("text"))).as[Long].collect()
    assert(sigs(0) === sigs(1))
    assert(sigs(0) !== sigs(2))
    val again = df.select(Dedup.simHash(col("text"))).as[Long].collect()
    assert(sigs.toSeq === again.toSeq)
  }

  test("native signature expressions match composable forms bit-for-bit") {
    import graft.functions.SignatureExpressions
    SignatureExpressions.register(spark)
    val staged = Tables.documents(spark, TestSpark.sf)
      .select(
        col("doc_id"),
        Dedup.tokenHashes(col("text")).as("th"),
        TextFunctions.normalized(col("text")).as("__n"))
      .select(
        col("doc_id"),
        col("th"),
        TextFunctions.shinglesOf(col("__n"), 4).as("sh"))
      .select(
        col("doc_id"),
        col("th"),
        Dedup.shingleBaseHashes(col("sh")).as("bh"))
    val mismatches = staged
      .select(
        SignatureExpressions.minHashFast(col("bh"), 16)
          .eqNullSafe(Dedup.minHashFromBaseHashes(col("bh"), 16)).as("mh_eq"),
        SignatureExpressions.simHashFast(col("th"))
          .eqNullSafe(Dedup.simHashFromTokenHashes(col("th"))).as("sh_eq"))
      .where(!col("mh_eq") || !col("sh_eq"))
      .count()
    assert(mismatches === 0L)

    // one-pass shingle hashing ≡ distinct string shingles then xxhash64
    // (same values, same first-occurrence order)
    val shingleMismatch = Tables.documents(spark, TestSpark.sf)
      .select(TextFunctions.normalized(col("text")).as("__n"))
      .select(
        SignatureExpressions.shingleHashesFast(col("__n"), 4)
          .eqNullSafe(
            Dedup.shingleBaseHashes(TextFunctions.shinglesOf(col("__n"), 4)))
          .as("eq"))
      .where(!col("eq"))
      .count()
    assert(shingleMismatch === 0L)
  }

  test("banded simhash finds pairs at Hamming distance 1-3, not far ones") {
    val base = 0x0F0F0F0F0F0F0F0FL
    val flip1 = base ^ (1L << 7) // distance 1
    val flip3 = base ^ (1L << 3) ^ (1L << 20) ^ (1L << 55) // distance 3
    // distance 8, spread across all 4 bands → no shared band, and over
    // maxHamming anyway
    val far = base ^ (1L << 0) ^ (1L << 1) ^ (1L << 17) ^ (1L << 18) ^
      (1L << 33) ^ (1L << 34) ^ (1L << 49) ^ (1L << 50)
    val sigs = Seq((1L, base), (2L, flip1), (3L, flip3), (4L, far))
      .toDF("id", "sig")
    val pairs = Dedup.simHashBandPairs(sigs, maxHamming = 3, bands = 4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming")))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 3))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // end-to-end from text: identical docs pair at distance 0
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val textPairs = Dedup.simHashNearDupPairs(docs, "text", "doc_id").collect()
    assert(textPairs.length === 1 && textPairs.head.getAs[Int]("hamming") === 0)
  }

  test(
    "scored-survivor composition (q227 shape): banded MinHash pair " +
      "generator reaches the exact policy on a planted corpus") {
    // three planted families of near-identical docs (one-word edits on
    // a long base — char-shingle Jaccard far above the 0.5 threshold)
    // plus singletons; quality is deliberately NOT min-id-correlated
    val baseA = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi " +
      "psi omega one two three four five six seven eight nine ten")
    val baseB = ("the quick brown fox jumps over the lazy dog while the " +
      "calm river flows past the quiet village under a bright autumn " +
      "sky and children play in the golden fields before dusk settles")
    val rows = Seq(
      // family A: 11 is longest+cleanest (best quality), 10 truncated,
      // 12 noise-punctuated — survivor must be 11, not min-id 10
      (10L, baseA.take(150)),
      (11L, baseA + " eleven twelve thirteen"),
      (12L, baseA + " !!! ??? ;;; ,,, ... !!!"),
      // family B: byte-identical copies — quality ties, min id 20 wins
      (20L, baseB),
      (21L, baseB),
      // singletons survive themselves
      (30L, "completely unrelated text about spark catalyst planning"),
      (31L, "another standalone document concerning parquet footers"))
    val docs = rows.toDF("doc_id", "text")
    val scored = docs.select(
      col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"))
    def survivors(comps: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      Dedup
        .bestSurvivors(scored, "doc_id", comps, col("quality").desc)
        .select("doc_id", "component", "n_members")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
        .toSeq
    // the production composition: banded generator → auto components
    val got = survivors(
      Dedup.resolveComponentsAuto(
        Dedup.minHashNearDup(docs, "text", "doc_id")))
    // the exact policy on the KNOWN planted components (q225's shape)
    val known = Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
      .toDF("id", "component")
    val expected = survivors(known)
    assert(got === expected)
    assert(got.map(_._1).toSet === Set(11L, 20L, 30L, 31L))
  }

  test("embedding near-dup finds a planted duplicate, caps hot buckets") {
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.001f
    val far = Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)
    val rows = Seq((1L, base), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val pairs = Dedup
      .embeddingNearDup(rows, "embedding", "vec_id", nBits = 8, threshold = 0.99)
      .collect()
    assert(pairs.exists(r =>
      r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L))
    assert(!pairs.exists(r =>
      r.getAs[Long]("id_a") == 3L || r.getAs[Long]("id_b") == 3L))
    // a bucket of 50 identical vectors = 1225 pairs in one task — capped
    val manyDup = (1 to 50).map(i => (i.toLong, base)).toDF("vec_id", "embedding")
    val capped = Dedup
      .embeddingNearDup(manyDup, "embedding", "vec_id", nBits = 8,
        threshold = 0.9, maxBucketSize = 10)
      .collect()
    assert(capped.isEmpty)
  }

  test("banded embedding LSH refuses rows-per-band >= 64 (mask wrap)") {
    // nBits=64, bands=1 passes the divisibility check but (1L << 64)
    // wraps to 1L, masking every band slice to 0 — one silent
    // mega-bucket. Must be a loud error at both entry points.
    val rows = Seq((1L, Array.tabulate(8)(_.toFloat)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupBanded(
        rows, "embedding", "vec_id", nBits = 64, bands = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.embEnsureMeta(
        spark, java.nio.file.Files.createTempDirectory("graft-embmeta")
          .toString + "/idx", nBits = 64, bands = 1, seed = 1)
    }
  }

  test("semantic dedup: clustered equals exact on planted dup groups") {
    // exact-duplicate groups: identical vectors assign to the same
    // nearest centroid whatever the (deterministic) seeding does, so
    // cluster blocking provably loses no within-group pair here —
    // clustered MUST equal exact: one survivor (min id) per group
    val a = Array.tabulate(16)(i => math.sin(i + 1.0).toFloat * 5f)
    val b = Array.tabulate(16)(i => math.cos(3.0 * i + 2).toFloat * 5f)
    val c = Array.tabulate(16)(i => if (i % 2 == 0) 4f else -4f)
    val rows = Seq((1L, a), (2L, a), (3L, a), (10L, b), (11L, b), (20L, c))
      .toDF("vec_id", "embedding")
    val exact = Dedup
      .dedupByComponents(
        rows.select("vec_id"),
        "vec_id",
        Dedup.resolveComponents(
          Dedup.embeddingNearDupExact(rows, "embedding", "vec_id", 0.999)))
      .as[Long].collect().toSet
    assert(exact === Set(1L, 10L, 20L))
    val clustered = Dedup
      .semanticDedup(rows, "embedding", "vec_id", k = 3, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(clustered === exact)
  }

  test("semantic dedup: cluster blocking only ever ADDS survivors") {
    // on the real corpus (transitive chains at 0.4, components to size
    // 8) blocking can miss boundary-straddling pairs but never invent
    // one: clustered drop-set ⊆ exact drop-set ⇔ survivors superset
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val exact = Dedup
      .dedupByComponents(
        emb.select("vec_id"),
        "vec_id",
        Dedup.resolveComponents(
          Dedup.embeddingNearDupExact(emb, "embedding", "vec_id", 0.4)))
      .as[Long].collect().toSet
    val clustered = Dedup
      .semanticDedup(emb, "embedding", "vec_id", k = 8, threshold = 0.4)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.subsetOf(clustered))
    assert(exact.size < emb.count()) // the corpus really has dropped docs
  }

  test("embedding index probe: flags are a subset of exact pairs, verified cosines") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val dir = java.nio.file.Files
      .createTempDirectory("emb-idx-").toString + "/emb"
    graft.streaming.EmbedIngest.ingestBatch(
      emb.where(col("vec_id") >= 100), dir, "embedding", "vec_id",
      batchId = 0L, threshold = 0.4, sourceTag = "t")
    val hits = Dedup
      .embProbeIndex(
        emb.where(col("vec_id") < 100), "embedding", "vec_id", dir,
        threshold = 0.4, sourceTag = "t")
      .collect()
    assert(hits.nonEmpty) // the corpus has real cross pairs at 0.4
    // LSH can miss pairs, never invent them: every flag must be a
    // genuine exact pair at the threshold, with its true cosine
    val exact = Dedup
      .embeddingNearDupExact(emb, "embedding", "vec_id", 0.4)
      .collect()
      .map(r => Set(r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    hits.foreach { h =>
      assert(exact.contains(
        Set(h.getAs[Long]("probe_id"), h.getAs[Long]("corpus_id"))))
      assert(h.getAs[Double]("cos") >= 0.4)
    }
    // wrong-corpus tag refuses
    val e = intercept[IllegalArgumentException] {
      Dedup.embProbeIndex(
        emb.limit(1), "embedding", "vec_id", dir, sourceTag = "other")
    }
    assert(e.getMessage.contains("refusing"))
  }

  test("shingles edge cases: short/empty text") {
    val df = Seq((1L, "ab"), (2L, ""), (3L, "abcd")).toDF("id", "text")
    val sh = df.select(TextFunctions.shingles(col("text"), 3)).collect()
    assert(sh(0).getSeq[String](0).isEmpty)
    assert(sh(1).getSeq[String](0).isEmpty)
    assert(sh(2).getSeq[String](0) === Seq("abc", "bcd"))
  }

  test("brute-force top-k: query vector is its own nearest neighbor") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb
      .where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head()
      .getSeq[Double](0)
    val top = Similarity
      .bruteForceTopK(emb, "embedding", "vec_id", q, 5)
      .collect()
    assert(top.head.getAs[Long]("id") === 0L)
    assert(math.abs(top.head.getAs[Double]("sim") - 1.0) < 1e-12)
    val sims = top.map(_.getAs[Double]("sim")).toSeq
    assert(sims === sims.sorted.reverse)
  }

  test("LSH top-k is a subset-quality approximation of brute force") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb
      .where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head()
      .getSeq[Double](0)
    val approx = Similarity
      .lshTopK(emb, "embedding", "vec_id", q, 10, nBits = 16, bandBits = 4)
      .collect()
    assert(approx.nonEmpty)
    // the identical vector always collides in every band
    assert(approx.head.getAs[Long]("id") === 0L)
  }

  test("crossTopK: k rows per query, self on top") {
    val emb = Tables.embeddings(spark, TestSpark.sf).limit(50)
    val queries = emb
      .where(col("vec_id") < 3)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("q_vec"))
    val out = Similarity
      .crossTopK(emb, queries, "embedding", "vec_id", "q_vec", "query_id", 4)
      .collect()
    assert(out.length === 12)
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (qid, rows) =>
      assert(rows.maxBy(_.getAs[Double]("sim")).getAs[Long]("id") === qid)
    }
  }

  test("staged langIdFromTokens matches langId on the corpus") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val n = docs
      .select(
        TextFunctions.langId(col("text")).as("a"),
        TextFunctions
          .langIdFromTokens(TextFunctions.tokens(lower(col("text"))))
          .as("b"))
      .where(col("a") =!= col("b"))
      .count()
    assert(n === 0L)
  }

  test("langId picks the language whose stopwords dominate") {
    val df = Seq(
      (1L, "the cat is one of the animals that live in the house"),
      (2L, "le chat et la maison des amis avec une porte"),
      (3L, "der hund ist ein tier mit der katze und von haus"),
      (4L, "")).toDF("id", "text")
    val got = df.select(TextFunctions.langId(col("text"))).as[String].collect()
    assert(got.toSeq === Seq("en", "fr", "de", "und"))
  }

  test("normFingerprint is case/whitespace invariant") {
    val df = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other"))
      .toDF("id", "text")
    val fps = df.select(TextFunctions.normFingerprint(col("text")))
      .as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("multimodal: REAL png decode + resize through Spark (JDK imageio)") {
    import java.awt.image.BufferedImage
    // paint solid-color PNGs: decoded channel means are exactly known
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val assets = Seq(
      (1L, png(8, 6, 0xff0000), "image"), // pure red
      (2L, png(4, 4, 0x00ff00), "image"), // pure green
      (3L, "not an image".getBytes("UTF-8"), "image")) // corrupt
      .toDF("id", "data", "modality")
      .select(
        col("id"),
        col("data"),
        struct(col("modality"), lit(0L).as("n_bytes"),
          lit(0).as("width"), lit(0).as("height")).as("meta"))
    val decoded = Multimodal.decodeImages(assets, histBins = 4)
      .collect().map(f => f.id -> f).toMap
    assert(decoded.keySet === Set(1L, 2L)) // corrupt row quarantined
    assert(decoded(1L).width === 8 && decoded(1L).height === 6)
    assert(math.abs(decoded(1L).feature(0) - 1.0f) < 1e-6) // red mean 1
    assert(math.abs(decoded(1L).feature(1)) < 1e-6)
    assert(math.abs(decoded(2L).feature(1) - 1.0f) < 1e-6) // green mean 1
    // real bilinear resize re-encodes to PNG; decoding the output gives
    // the target dimensions and preserves a solid color
    val resized = Multimodal.resizeImages(assets, 3, 2)
      .collect().map(r => r.id -> r).toMap
    assert(resized.keySet === Set(1L, 2L))
    val back = Multimodal
      .decodeImageBytes(resized(1L).data, histBins = 4).get
    assert(back._1 === 3 && back._2 === 2)
    assert(math.abs(back._3(0) - 1.0f) < 0.02f) // still red after scale
  }

  test("multimodal retrieval end-to-end: decode → features → int8 → search") {
    import java.awt.image.BufferedImage
    def png(rgb: Int): Array[Byte] = {
      val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 8) {
        var x = 0; while (x < 8) { img.setRGB(x, y, rgb); x += 1 }; y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // three color families, two near-identical members each — retrieval
    // across the REAL decode + histogram features + int8 roundtrip must
    // bring back the same-family image
    val assets = Seq(
      (1L, png(0xff0000)), (2L, png(0xfe0202)),
      (3L, png(0x00ff00)), (4L, png(0x02fe02)),
      (5L, png(0x0000ff)), (6L, png(0x0202fe)))
      .toDF("id", "data")
      .select(
        col("id"),
        col("data"),
        struct(lit("image").as("modality"), lit(0L).as("n_bytes"),
          lit(0).as("width"), lit(0).as("height")).as("meta"))
    val feats = Multimodal
      .decodeImages(assets, histBins = 4)
      .toDF()
      .select(col("id"), col("feature"))
    val (q8, bounds) = Similarity.quantizeInt8(feats, "feature")
    val deq = Similarity.dequantizeInt8(q8, "feature_q8", bounds, "v")
    val qvec = feats
      .where(col("id") === 1)
      .select(col("feature").cast("array<double>"))
      .head()
      .getSeq[Double](0)
    val top = Similarity
      .bruteForceTopK(deq.where(col("id") =!= 1), "v", "id", qvec, 1)
      .head()
      .getAs[Long]("id")
    assert(top === 2L, s"nearest to red image 1 must be red image 2, got $top")
  }

  test("multimodal: deterministic fake decode through mapPartitions") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(20)
    val assets = Multimodal.assetsFromText(docs, "doc_id", "text")
    assert(assets.schema.fieldNames.toSeq === Seq("id", "data", "meta"))
    val feats = Multimodal.extractFeatures(assets, dim = 8).collect()
    assert(feats.length === 20)
    feats.foreach { f =>
      assert(f.feature.length === 8)
      assert(f.n_bytes > 0)
      // feature sum == sum of bytes / 255 (property of the fake decode)
      val expected = f.feature.sum
      assert(expected > 0f)
    }
    // determinism across runs
    val again = Multimodal.extractFeatures(assets, dim = 8).collect()
    assert(feats.map(_.feature.toSeq).toSeq === again.map(_.feature.toSeq).toSeq)
  }

  test("multimodal resize + frame-sample plumbing: shapes and determinism") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(20)
    val assets = Multimodal.assetsFromText(docs, "doc_id", "text")
    val resized = Multimodal.resize(assets, 64, 64).collect()
    assert(resized.length === 20)
    resized.foreach { r =>
      assert(r.width === 64 && r.height === 64)
      assert(r.data.length <= 64 * 64)
    }
    val again = Multimodal.resize(assets, 64, 64).collect()
    assert(resized.map(_.data.toSeq).toSeq === again.map(_.data.toSeq).toSeq)

    val frames = Multimodal.frameSample(assets, nFrames = 8, everyN = 2).collect()
    // every asset emits at most ceil(8/2) frames, indexed 0,2,4,6
    assert(frames.nonEmpty)
    assert(frames.forall(f => f.frame_idx % 2 == 0 && f.frame_idx < 8))
    val perId = frames.groupBy(_.id)
    assert(perId.values.forall(_.length <= 4))
  }

  test("native cosine expression matches composable form bit-for-bit") {
    import graft.functions.VectorExpressions
    VectorExpressions.register(spark)
    val emb = Tables.embeddings(spark, TestSpark.sf).limit(200)
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val d = emb.join(broadcast(q))
      .select(abs(
        VectorFunctions.cosine(col("embedding"), col("qv")) -
          VectorExpressions.cosineFast(col("embedding"), col("qv"))).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(d === 0.0)
  }

  test("centroidCosine: hand-computed centroid, outlier ranks lowest") {
    // group 0: three vectors near +x plus one outlier near +y;
    // group 1: a lone vector (centroid == itself → cosine 1)
    // all components exactly representable as floats, so the replayed
    // centroid arithmetic below is exact
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.5f)),
      (2L, 0, Seq(1.0f, -0.5f)),
      (3L, 0, Seq(1.0f, 0.0f)),
      (4L, 0, Seq(0.0f, 1.0f)), // the outlier
      (9L, 1, Seq(0.75f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity
      .centroidCosine(df, "embedding", "vec_id", "label")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out.size === 5) // row-preserving
    // centroid of group 0 = (0.75, 0.25); replay cosines exactly
    def cosTo(v: Seq[Double]): Double = {
      val c = Seq(0.75, 0.25)
      val dot = v.zip(c).map { case (a, b) => a * b }.sum
      dot / math.sqrt(v.map(x => x * x).sum * c.map(x => x * x).sum)
    }
    Seq(
      1L -> Seq(1.0, 0.5), 2L -> Seq(1.0, -0.5),
      3L -> Seq(1.0, 0.0), 4L -> Seq(0.0, 1.0)).foreach { case (id, v) =>
      assert(math.abs(out(id) - cosTo(v)) < 1e-12, s"id $id")
    }
    assert(out(4L) === out.filterKeys(_ <= 4L).values.min) // outlier lowest
    assert(math.abs(out(9L) - 1.0) < 1e-12) // singleton group
    // null group key: row preserved, score null (posexplode also skips
    // null vectors, so a null-vector row survives with a null score)
    val withNull = df.unionByName(
      Seq((7L, 0, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "label", "embedding"))
      .withColumn("label", when(col("vec_id") === 9L, lit(null)).otherwise(col("label")))
    val nOut = Similarity
      .centroidCosine(withNull, "embedding", "vec_id", "label")
      .select("vec_id", "cos_c").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(nOut.size === 6) // all six rows come back
    assert(nOut(9L).isEmpty) // null group -> null score
    assert(nOut(7L).isEmpty) // null vector -> null score
  }

  test("int8 quantization: bounded roundtrip error, top-k recall holds") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (q8, bounds) = Similarity.quantizeInt8(emb, "v")
    val deq = Similarity.dequantizeInt8(q8, "v_q8", bounds, "v_deq")
    // per-component roundtrip error <= half a quantization step
    val maxErr = deq
      .select(
        aggregate(
          zip_with(col("v"), col("v_deq"), (a, b) => abs(a - b)),
          lit(0.0),
          (acc, e) => greatest(acc, e)).as("e"))
      .agg(max("e")).head().getDouble(0)
    val range = bounds
      .select(
        aggregate(
          zip_with(col("hi"), col("lo"), (h, l) => h - l),
          lit(0.0),
          (acc, r) => greatest(acc, r)).as("r"))
      .head().getDouble(0)
    assert(maxErr <= range / 255.0 / 2.0 + 1e-12,
      s"maxErr=$maxErr range=$range")
    // cosine top-10 on dequantized vectors recalls >=8 of the exact top-10
    val query = emb.where(col("vec_id") === 1)
      .select(col("v")).head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(emb, "v", "vec_id", query, 10)
      .select("id").as[Long].collect().toSet
    val approx = Similarity
      .bruteForceTopK(
        deq.select(col("vec_id"), col("v_deq").as("v")), "v", "vec_id",
        query, 10)
      .select("id").as[Long].collect().toSet
    assert((exact intersect approx).size >= 8,
      s"recall ${(exact intersect approx).size}/10")
  }

  test("sqTopK: exact rescore, candidate bound, deterministic cuts") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val query = emb.where(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val res = Similarity.sqTopK(emb, "embedding", "vec_id", query, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(res.length === 10)
    // the final cut orders by the EXACT rescored similarity (6dp, id
    // tiebreak) — never by the quantized score
    assert(res.map(r => (-r._3, r._1)).sorted === res.map(r => (-r._3, r._1)).toSeq)
    // rescored sims are the true cosines (quantization error gone)
    val exact = Similarity
      .scoreAll(emb, "embedding", "vec_id", query)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, _, sim) <- res)
      assert(math.abs(sim - exact(id)) < 5e-7, s"id=$id")
    // the query vector itself wins with sim 1.0
    assert(res.head._1 === 1L && math.abs(res.head._3 - 1.0) < 1e-9)
    // on this corpus the factor-4 candidate pool covers the true top-k
    // (an empirical recall pin, not an algorithmic guarantee — the
    // guarantee q219's oracle checks is determinism of both cuts)
    val trueTop = exact.toSeq.sortBy(e => (-e._2, e._1)).take(10).map(_._1).toSet
    assert(res.map(_._1).toSet === trueTop)
    // determinism: a second run returns the identical rows
    val res2 = Similarity.sqTopK(emb, "embedding", "vec_id", query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(res.toSeq === res2.toSeq)
  }

  test("sqProbeIndex == inline sqTopK; pruned scans; cross-wire refused") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val query = emb.where(col("vec_id") === 2)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val path = java.nio.file.Files
      .createTempDirectory("graft-sqidx").toString + "/sq"
    Similarity.sqWriteIndex(emb, "embedding", "vec_id", path, sourceTag = "specA")
    val probe = Similarity
      .sqProbeIndex(spark, path, query, k = 10, sourceTag = "specA")
    // bit-identical to the inline pipeline: same bounds, same
    // dequantize arithmetic, same rounded cuts
    val inline = Similarity.sqTopK(emb, "embedding", "vec_id", query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val probed = probe
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(probed.toSeq === inline.toSeq)
    // the rescore scan carries the pushed candidate-id filter (row-group
    // skipping at scale — the probe never rescans the corpus vectors)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(id"),
      s"expected pushed In(id,...) filter in:\n$plan")
    // a probe tagged with a different source refuses to cross-wire
    val e = intercept[IllegalArgumentException] {
      Similarity.sqProbeIndex(spark, path, query, k = 5, sourceTag = "specB")
    }
    assert(e.getMessage.contains("cross-wire"))
    // batch probe: each query's rows equal its single-probe answer —
    // the union-of-candidates rescore set cannot leak another query's
    // candidates past the per-query re-cut
    val many = Similarity
      .sqProbeIndexMany(
        spark, path,
        emb.where(col("vec_id").isin(1, 2)), "embedding", "vec_id",
        k = 10, sourceTag = "specA")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }
    for (qid <- Seq(1L, 2L)) {
      val qv = emb.where(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val single = Similarity
        .sqProbeIndex(spark, path, qv, k = 10, sourceTag = "specA")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(many(qid) === single, s"query $qid")
    }
  }

  test("sq probes past the literal cap: broadcast semi-join path, same answers") {
    // the restriction auto-switch (IndexProbe.restrictByKeys): past
    // ~1k candidate ids the rescore must use a broadcast semi-join of
    // the candidate frame instead of a plan-sized In-literal — and the
    // answers must be bit-identical to the literal path
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft-sqidx-big").toString + "/sq"
    Similarity.sqWriteIndex(emb, "embedding", "vec_id", path, sourceTag = "big")
    // single probe, k=300 factor=4 → static bound 1200 > 1000: join path
    val query = emb.where(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val big = Similarity
      .sqProbeIndex(spark, path, query, k = 300, sourceTag = "big")
    val plan = big.queryExecution.executedPlan.toString
    assert(
      plan.contains("LeftSemi") && plan.contains("BroadcastHashJoin"),
      s"big-k probe must restrict via broadcast semi-join:\n$plan")
    assert(
      !plan.contains("In(id"),
      s"big-k probe must not bake an id In-literal into the scan:\n$plan")
    val inline = Similarity
      .sqTopK(emb, "embedding", "vec_id", query, k = 300)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val probed = big
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(probed.toSeq === inline.toSeq)
    // batch probe, 16 queries × factor·k=80 → bound 1280 > 1000: join
    // path; every query's rows still equal its single-probe (literal
    // path) answer — the two restriction paths cannot drift
    val manyQ = emb.where(col("vec_id") < 16)
    val many = Similarity
      .sqProbeIndexMany(
        spark, path, manyQ, "embedding", "vec_id", k = 20, sourceTag = "big")
    val mplan = many.queryExecution.executedPlan.toString
    assert(
      mplan.contains("LeftSemi") && mplan.contains("BroadcastHashJoin"),
      s"big-batch probe must restrict via broadcast semi-join:\n$mplan")
    val byQ = many.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }
    assert(byQ.keySet === (0L until 16L).toSet)
    for (qid <- Seq(0L, 5L, 15L)) {
      val qv = emb.where(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val single = Similarity
        .sqProbeIndex(spark, path, qv, k = 20, sourceTag = "big")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(byQ(qid) === single, s"query $qid")
    }
  }

  test("bestSurvivors: max-score member wins, ties to min id, singletons survive") {
    val rows = Seq(
      (1L, 5.0, "a"), (2L, 9.0, "a"), (3L, 9.0, "a"), // comp 1: 3 members, tie at 9
      (7L, 1.0, "b"),                                  // singleton (not in comps)
      (8L, 4.0, "c"), (9L, 2.0, "c")                   // comp 8: 2 members
    ).toDF("id", "score", "tag")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (8L, 8L), (9L, 8L))
      .toDF("id", "component")
    val out = Dedup
      .bestSurvivors(rows, "id", comps, col("score").desc)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("component"),
        r.getAs[Long]("n_members")))
      .sortBy(_._1)
    // comp 1: ids 2 and 3 tie at score 9 — min id 2 survives;
    // singleton 7 survives itself with n_members 1
    assert(out.toSeq === Seq((2L, 1L, 3L), (7L, 7L, 1L), (8L, 8L, 2L)))
  }

  test("lsh append: evolved index probes identical to a one-shot rebuild") {
    // hyperplane signatures are data-independent, so append == rebuild
    // exactly, at any split — assert it through both probe paths
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-lsh-append").toString
    val evolved = s"$base/evolved"
    Similarity.lshWriteIndex(
      emb.where(pmod(col("vec_id"), lit(2)) === 0),
      "embedding", "vec_id", evolved, sourceTag = "s")
    Similarity.lshAppendIndex(
      emb.where(pmod(col("vec_id"), lit(2)) === 1),
      "embedding", "vec_id", evolved, sourceTag = "s")
    val rebuilt = s"$base/rebuilt"
    Similarity.lshWriteIndex(emb, "embedding", "vec_id", rebuilt, sourceTag = "s")
    val q = emb.where(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    def single(idx: String) = Similarity
      .lshProbeIndex(spark, idx, q, k = 10, sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(single(evolved) === single(rebuilt))
    def many(idx: String) = Similarity
      .lshProbeIndexMany(
        spark, idx, emb.where(col("vec_id") < 3), "embedding", "vec_id",
        k = 10, sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(many(evolved) === many(rebuilt))
    // geometry comes from _meta, so a NON-DEFAULT build appends
    // correctly with the natural call — no parameters to mismatch
    val wide = s"$base/wide"
    Similarity.lshWriteIndex(
      emb.where(pmod(col("vec_id"), lit(2)) === 0),
      "embedding", "vec_id", wide, nBits = 32, bandBits = 8, sourceTag = "s")
    Similarity.lshAppendIndex(
      emb.where(pmod(col("vec_id"), lit(2)) === 1),
      "embedding", "vec_id", wide, sourceTag = "s")
    val wideRebuilt = s"$base/wide-rebuilt"
    Similarity.lshWriteIndex(
      emb, "embedding", "vec_id", wideRebuilt,
      nBits = 32, bandBits = 8, sourceTag = "s")
    def singleWide(idx: String) = Similarity
      .lshProbeIndex(spark, idx, q, k = 10, nBits = 32, bandBits = 8,
        sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(singleWide(wide) === singleWide(wideRebuilt))
    // wrong-source append still refuses loudly
    val e = intercept[IllegalArgumentException] {
      Similarity.lshAppendIndex(
        emb.limit(1), "embedding", "vec_id", evolved, sourceTag = "other")
    }
    assert(e.getMessage.contains("cross-wire"))
  }

  test("sq append: frozen-bounds evolution, clamped codes, exact rescore") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-sq-append").toString
    // build corpus spans [0,10] per dim; the in-bounds batch sits inside
    val build = Seq(
      (0L, Seq(0.0, 0.0, 0.0)),
      (1L, Seq(10.0, 10.0, 10.0)),
      (2L, Seq(2.0, 7.0, 4.0)),
      (3L, Seq(8.0, 1.0, 9.0))).toDF("vec_id", "embedding")
    val inBounds = Seq(
      (4L, Seq(5.0, 5.0, 5.0)),
      (5L, Seq(1.0, 9.0, 3.0))).toDF("vec_id", "embedding")
    val evolved = s"$base/evolved"
    Similarity.sqWriteIndex(build, "embedding", "vec_id", evolved, sourceTag = "s")
    Similarity.sqAppendIndex(inBounds, "embedding", "vec_id", evolved, sourceTag = "s")
    // an in-bounds append is bit-identical to a SAME-BOUNDS rebuild:
    // the union's per-dim min/max equal the build corpus's, so a full
    // rebuild over the union computes the identical quantizer
    val rebuilt = s"$base/rebuilt"
    Similarity.sqWriteIndex(
      build.unionByName(inBounds), "embedding", "vec_id", rebuilt, sourceTag = "s")
    val q = Seq(4.9, 5.1, 5.0)
    // the zero vector scores null/NaN (no direction) — canonicalize so
    // the tuple compare is not defeated by NaN != NaN
    def nn(d: Double) = if (d.isNaN) -999.0 else d
    def probe(idx: String) = Similarity
      .sqProbeIndex(spark, idx, q, k = 6, sourceTag = "s")
      .collect().map(r => (r.getLong(0), nn(r.getDouble(1)), nn(r.getDouble(2)))).toSeq
    assert(probe(evolved) === probe(rebuilt))
    // out-of-bounds components SATURATE (no tinyint wrap): codes pin to
    // the range ends, and the rescore is still the exact cosine.
    // Auto-retrain disabled for this append via the explicit per-call
    // threshold — the test pins the FROZEN-bounds saturation
    // semantics, and a 2/3-clipping batch would (correctly) trigger
    // the rebuild otherwise (RetrainSpec covers the default-threshold
    // behavior)
    Similarity.sqAppendIndex(
      Seq((6L, Seq(-50.0, 300.0, 5.0))).toDF("vec_id", "embedding"),
      "embedding", "vec_id", evolved, sourceTag = "s",
      retrainClipFrac = Some(2d))
    val q8 = graft.operators.AtomicAppend.read(spark, evolved)
      .where(col("id") === 6L)
      .select(col("q8")).head().getSeq[Byte](0)
    assert(q8(0) === (-128: Byte) && q8(1) === (127: Byte))
    val withOut = Similarity
      .sqProbeIndex(spark, evolved, q, k = 7, sourceTag = "s")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val exact = BigDecimal(
      Seq(-50.0, 300.0, 5.0).zip(q).map { case (a, b) => a * b }.sum /
        (math.sqrt(Seq(-50.0, 300.0, 5.0).map(x => x * x).sum) *
          math.sqrt(q.map(x => x * x).sum)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(withOut(6L) === exact)
    // a wrong-dimension batch refuses loudly instead of nulling codes
    val e = intercept[IllegalArgumentException] {
      Similarity.sqAppendIndex(
        Seq((7L, Seq(1.0, 2.0))).toDF("vec_id", "embedding"),
        "embedding", "vec_id", evolved, sourceTag = "s")
    }
    assert(e.getMessage.contains("dim"))
  }

  test("sq family edges: empty corpus, k past corpus size") {
    val schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    val q = Seq(1.0, 0.0, 2.0)
    // empty corpus: bounds aggregate to an empty-array 1-row frame, no
    // candidates, empty result — never an error
    assert(Similarity.sqTopK(empty, "embedding", "vec_id", q, k = 5).count() === 0)
    // k larger than the corpus returns every row, exact-rescored
    val tiny = Seq(
      (1L, Seq(1.0, 0.0, 2.0)),
      (2L, Seq(0.5, 1.0, 0.0)),
      (3L, Seq(-1.0, 0.0, -2.0))).toDF("vec_id", "embedding")
    val all = Similarity.sqTopK(tiny, "embedding", "vec_id", q, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(all.length === 3)
    assert(all.head._1 === 1L && math.abs(all.head._2 - 1.0) < 1e-9)
    assert(all.last._1 === 3L && math.abs(all.last._2 + 1.0) < 1e-9)
  }

  test("kmeans quantizer: deterministic unlabeled IVF build with recall") {
    val emb = Tables.embeddings(spark, TestSpark.sf).drop("label")
    val a1 = Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 8, iters = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val a2 = Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 8, iters = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(a1 === a2) // hash-sampled seeds, no RNG → replayable
    assert(a1.values.forall(c => c >= 0 && c < 8))
    assert(a1.values.toSet.size > 1) // actually partitions the space

    // self-contained ANN: index built from the vectors alone (no label),
    // probed with partition pruning; recall measured vs brute force
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans-ivf").toString
    Similarity.ivfWriteIndexKmeans(
      emb, "embedding", "vec_id", dir, k = 8, iters = 2)
    val full = Tables.embeddings(spark, TestSpark.sf)
    val q = full.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(full, "embedding", "vec_id", q, 10)
      .collect().map(_.getAs[Long]("id")).toSet
    val approx = Similarity.ivfProbeIndex(spark, dir, q, k = 10, nprobe = 4)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(approx.contains(0L)) // the query's own cluster is always probed
    val recall = (exact & approx).size / 10.0
    assert(recall >= 0.5, s"kmeans-IVF recall $recall below 0.5 at nprobe=4/8")
  }

  test("IVF append: incremental batches converge to the full index") {
    val full = Tables.embeddings(spark, TestSpark.sf)
    val seed = full.where(col("vec_id") % 3 =!= 0)
    val batch = full.where(col("vec_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    Similarity.ivfWriteIndexKmeans(
      seed, "embedding", "vec_id", dir, k = 8, iters = 2, sourceTag = "emb")
    Similarity.ivfAppendIndex(batch, "embedding", "vec_id", dir, sourceTag = "emb")

    // every appended row landed, in a valid existing cluster (appends
    // are marker-published segments — read the committed view)
    val corpus = graft.operators.AtomicAppend.read(spark, s"$dir/corpus")
    assert(corpus.count() === full.count())
    val clusters = corpus.select("cluster").distinct()
      .as[Int].collect().toSet
    val centroidClusters = spark.read.parquet(s"$dir/centroids")
      .select("cluster").distinct().as[Int].collect().toSet
    assert(clusters.subsetOf(centroidClusters))

    // probing ALL cells after the append IS brute force over the full
    // corpus — appended vectors are fully searchable
    val q = full.where(col("vec_id") === 3) // an appended (vec_id%3==0) row
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(full, "embedding", "vec_id", q, 10)
      .collect().map(_.getAs[Long]("id")).toSeq
    val probed = Similarity.ivfProbeIndex(spark, dir, q, k = 10, nprobe = 8)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(probed === exact)

    // a wrong source tag is an error, not wrong rows (the q18/q32 stance)
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendIndex(batch, "embedding", "vec_id", dir, sourceTag = "other")
    }
  }

  test("IVF probe finds the exact neighbor when its cluster is probed") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(emb, "embedding", "vec_id", q, 1)
      .head().getAs[Long]("id")
    // centroid table built ONCE, reused across both probes below
    val cents = Similarity.ivfCentroids(emb, "embedding", "label").cache()
    val ivf = Similarity
      .ivfTopK(emb, cents, "embedding", "vec_id", "label", q, k = 5, nprobe = 10)
      .collect()
    // nprobe = 10 = all clusters (labels 0-9) → exhaustive search → must
    // contain the exact nearest neighbor
    assert(ivf.map(_.getAs[Long]("id")).contains(exact))
    // fewer probes → results drawn only from probed clusters
    val narrow = Similarity
      .ivfTopK(emb, cents, "embedding", "vec_id", "label", q, k = 5, nprobe = 1)
      .collect()
    cents.unpersist()
    assert(narrow.nonEmpty && narrow.length <= 5)
  }

  test("many-query LSH index probe: each query finds itself first") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val path = System.getProperty("java.io.tmpdir") + "/graft-lsh-spec"
    Similarity.lshWriteIndex(emb, "embedding", "vec_id", path)
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val top = Similarity
      .lshProbeIndexMany(spark, path, queries, "qv", "qid", k = 5)
      .collect()
    (0L until 3L).foreach { q =>
      val mine = top.filter(_.getAs[Long]("query_id") == q)
      assert(mine.nonEmpty && mine.length <= 5)
      // a vector always collides with itself in every band → candidate;
      // cosine(self) = 1.0 ranks first
      val best = mine.maxBy(_.getAs[Double]("sim"))
      assert(best.getAs[Long]("id") === q)
      assert(math.abs(best.getAs[Double]("sim") - 1.0) < 1e-9)
    }
    // probing with mismatched build parameters fails loudly instead of
    // silently returning wrong-bucket candidates
    val qv = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    intercept[IllegalArgumentException] {
      Similarity.lshProbeIndex(spark, path, qv, k = 5, nBits = 32, bandBits = 8)
    }
  }

  test("multi-probe LSH: candidates are EXACTLY the Hamming-ball matches, monotone in radius") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val path = System.getProperty("java.io.tmpdir") + "/graft-lsh-mp-spec"
    Similarity.lshWriteIndex(emb, "embedding", "vec_id", path)
    val n = emb.count().toInt
    val qv = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

    // ground truth from the same signature expression: vector v is a
    // radius-r candidate iff SOME band's 4-bit key is within Hamming r
    // of the query's key for that band
    val sigs = emb.select(
        col("vec_id"),
        graft.functions.VectorFunctions
          .hyperplaneSignature(col("embedding"), 16).as("sig"))
      .as[(Long, Long)].collect().toMap
    val qSig = sigs(0L)
    def bandKey(sig: Long, b: Int): Int = ((sig >> (b * 4)) & 15L).toInt
    def ballMatch(sig: Long, r: Int): Boolean = (0 until 4).exists { b =>
      Integer.bitCount(bandKey(sig, b) ^ bandKey(qSig, b)) <= r
    }
    def candidates(r: Int): Set[Long] = Similarity
      .lshProbeIndex(spark, path, qv, k = n, probeRadius = r)
      .select("id").as[Long].collect().toSet

    val c0 = candidates(0)
    val c1 = candidates(1)
    assert(c0 === sigs.filter { case (_, s) => ballMatch(s, 0) }.keySet)
    assert(c1 === sigs.filter { case (_, s) => ballMatch(s, 1) }.keySet)
    assert(c0.subsetOf(c1), "radius widening must never lose a candidate")
    // radius = bandBits covers every bucket of every band → whole corpus
    assert(candidates(4).size === n)

    // batch probe agrees with the single probe at the same radius
    val queries = emb.where(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val many = Similarity
      .lshProbeIndexMany(spark, path, queries, "qv", "qid", k = n,
        probeRadius = 1)
      .select("id").as[Long].collect().toSet
    assert(many === c1)

    intercept[IllegalArgumentException] {
      Similarity.lshProbeIndex(spark, path, qv, k = 3, probeRadius = 5)
    }
  }

  test("many-query IVF index probe: each query finds itself first") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val path = System.getProperty("java.io.tmpdir") + "/graft-ivf-many-spec"
    Similarity.ivfWriteIndex(emb, "embedding", "vec_id", "label", path)
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // nprobe = 10 covers every cluster at this sf (labels 0-9) → self is
    // guaranteed a candidate; smaller nprobe only narrows the pool
    val top = Similarity
      .ivfProbeIndexMany(spark, path, queries, "qv", "qid", k = 5, nprobe = 10)
      .collect()
    val narrow = Similarity
      .ivfProbeIndexMany(spark, path, queries, "qv", "qid", k = 5, nprobe = 2)
      .collect()
    assert(narrow.nonEmpty && narrow.length <= 15)
    (0L until 3L).foreach { q =>
      val mine = top.filter(_.getAs[Long]("query_id") == q)
      assert(mine.nonEmpty && mine.length <= 5)
      val best = mine.maxBy(_.getAs[Double]("sim"))
      assert(best.getAs[Long]("id") === q)
      assert(math.abs(best.getAs[Double]("sim") - 1.0) < 1e-9)
    }
  }

  test("incremental dedup drops exactly the re-ingested duplicates") {
    import graft.operators.Dedup
    val seenDocs = Seq(
      (1L, "the quick brown fox"),
      (2L, "pack my box with jugs")).toDF("id", "text")
    val batch = Seq(
      (10L, "THE  quick   Brown fox"), // normalizes to a seen fingerprint
      (11L, "pack my box with jugs"),  // verbatim duplicate
      (12L, "a genuinely new document")).toDF("id", "text")
    val seen = seenDocs.select(
      graft.functions.TextFunctions.normFingerprint(col("text")).as("fp"))
    val kept = Dedup.incrementalNew(batch, seen, "text", "id")
      .as[Long].collect().sorted
    assert(kept === Array(12L))
  }

  test("index source tags: probing with the wrong source dir fails loudly") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val qv = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

    val lshPath = System.getProperty("java.io.tmpdir") + "/graft-lsh-src-spec"
    Similarity.lshWriteIndex(
      emb, "embedding", "vec_id", lshPath, sourceTag = "/data/dirA")
    // matching tag passes; mismatched tag = a cache-path collision between
    // two data dirs → must be an error, never silently wrong neighbors
    assert(Similarity.lshProbeIndex(
      spark, lshPath, qv, k = 3, sourceTag = "/data/dirA").count() > 0)
    intercept[IllegalArgumentException] {
      Similarity.lshProbeIndex(spark, lshPath, qv, k = 3, sourceTag = "/data/dirB")
    }

    val ivfPath = System.getProperty("java.io.tmpdir") + "/graft-ivf-src-spec"
    Similarity.ivfWriteIndex(
      emb, "embedding", "vec_id", "label", ivfPath, sourceTag = "/data/dirA")
    assert(Similarity.ivfProbeIndex(
      spark, ivfPath, qv, k = 3, nprobe = 2, sourceTag = "/data/dirA").count() > 0)
    intercept[IllegalArgumentException] {
      Similarity.ivfProbeIndex(
        spark, ivfPath, qv, k = 3, nprobe = 2, sourceTag = "/data/dirB")
    }
  }

  test("signature expression int args are validated at analysis time") {
    val df = Seq(Tuple1(Seq(1L, 2L, 3L))).toDF("bh")
    // k=0 minhash / n=0 shingles must fail when the expression is BUILT,
    // not at eval on some executor mid-job
    intercept[IllegalArgumentException] {
      df.select(SignatureExpressions.minHashFast(col("bh"), 0)).collect()
    }
    intercept[IllegalArgumentException] {
      df.select(SignatureExpressions.shingleHashesFast(lit("some text"), -1))
        .collect()
    }
  }

  test("bucketized range join matches the naive non-equi join") {
    import graft.operators.RangeJoin
    val points = (0 until 200).map(i => (i.toLong, i * 37.3 % 1000)).toDF("pid", "x")
    val ivals = (0 until 30).map(i => (i, i * 30.0, i * 30.0 + 75.0))
      .toDF("iid", "lo", "hi") // overlapping intervals → many-to-many
    val fast = RangeJoin
      .pointInInterval(points, ivals, "x", "lo", "hi", bucketWidth = 50.0)
      .select("pid", "iid").as[(Long, Int)].collect().sorted.toSeq
    val naive = points
      .join(ivals, col("x") >= col("lo") && col("x") < col("hi"))
      .select("pid", "iid").as[(Long, Int)].collect().sorted.toSeq
    assert(fast === naive && fast.nonEmpty)
  }

  test("vector functions: cosine/l2 basics") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val cos = df.select(VectorFunctions.cosine(col("a"), col("b")))
      .as[Double].collect()
    assert(math.abs(cos(0) - 1.0) < 1e-12)
    assert(math.abs(cos(1)) < 1e-12)
    val l2 = df.select(VectorFunctions.l2Sq(col("a"), col("b")))
      .as[Double].collect()
    assert(math.abs(l2(1) - 2.0) < 1e-12)
  }

  test("SQ dequantize / drift-terms expressions == composable forms") {
    val lo = Seq(-1.0, 0.0, 0.25, -3.5)
    val hi = Seq(1.0, 2.0, 0.75, 3.5)
    // codes across the full byte range, vectors with in/out-of-bound
    // components, a shorter and a longer array (zip_with null-padding
    // semantics), and a null component
    val rows = Seq(
      (Seq[Byte](-128, 0, 127, 5), Seq[java.lang.Double](0.1, 1.9, 0.5, -3.4)),
      (Seq[Byte](1, 2, 3, 4), Seq[java.lang.Double](-2.0, 5.0, 0.0, 9.9)),
      (Seq[Byte](-1, -2, -3), Seq[java.lang.Double](0.0, 0.0, 0.0)), // short both
      (Seq[Byte](9, 9, 9, 9), Seq[java.lang.Double](0.0, 0.0, 0.0)), // v short
      (Seq[Byte](9, 9, 9), Seq[java.lang.Double](0.0, 0.0, 0.0, 0.0)), // q short
      (Seq[Byte](0, 0, 0, 0), Seq[java.lang.Double](0.0, null, 0.0, 0.0)),
      // null q8 with a non-null v: err_sum nulls but the clip count
      // still comes from v alone (round-17 review fix edge)
      (null.asInstanceOf[Seq[Byte]],
        Seq[java.lang.Double](9.0, -9.0, 0.5, 0.0)))
    val df = rows.zipWithIndex
      .map { case ((q, v), i) => (i.toLong, q, v) }
      .toDF("id", "q8", "v")
    val deqDiff = df
      .select(
        col("id"),
        graft.functions.SqExpressions
          .dequantize(col("q8"), lo, hi).as("f"),
        graft.operators.Similarity.sqDeq(lo, hi)(col("q8")).as("c"))
      .where(!(col("f") <=> col("c")))
      .count()
    assert(deqDiff === 0L, "dequantize parity")
    val termsDiff = df
      .select(
        col("id"),
        graft.functions.SqExpressions
          .driftTerms(col("q8"), col("v"), lo, hi).as("t"),
        aggregate(
          zip_with(
            col("v"),
            graft.operators.Similarity.sqDeq(lo, hi)(col("q8")),
            (x, y) => abs(x - y)),
          lit(0d),
          (a, e) => a + e).as("ce"),
        graft.operators.Similarity.sqClipSum(lo, hi)(col("v")).as("cc"))
      .where(
        !(col("t.err_sum") <=> col("ce")) ||
          !(col("t.clip_sum") <=> col("cc")))
      .count()
    assert(termsDiff === 0L, "drift-terms parity")
  }

  test("SQ encode/decode column-bounds expressions == composable forms") {
    // per-row bounds ARRAYS (the broadcast bounds-frame shape),
    // including a zero-range dimension, out-of-bounds and null
    // components, mismatched lengths, and the real embeddings corpus
    val corpus = Tables
      .embeddings(spark, TestSpark.sf)
      .select(col("embedding").cast("array<double>").as("v"))
      .as[Seq[Double]]
      .collect()
      .toSeq
      .map(v => (v.map(x => java.lang.Double.valueOf(x)),
        v.map(_ => java.lang.Double.valueOf(-1.0)),
        v.map(_ => java.lang.Double.valueOf(1.0))))
    val edges = Seq(
      (Seq[java.lang.Double](0.1, 0.9, -0.5, 0.0),
        Seq[java.lang.Double](-1.0, 0.0, -1.0, 0.5),
        Seq[java.lang.Double](1.0, 1.0, -1.0, 0.5)), // two zero ranges
      // in-bounds only: the composable encode has NO clamp and ANSI
      // tinyint cast THROWS outside the corpus-derived bounds — out-of-
      // range inputs are sqEnc's (clamped) domain, not quantizeInt8's
      (Seq[java.lang.Double](0.9, -0.7, null, 0.2),
        Seq[java.lang.Double](-1.0, -1.0, -1.0, -1.0),
        Seq[java.lang.Double](1.0, 1.0, 1.0, 1.0)), // null component
      (Seq[java.lang.Double](0.5, 0.5),
        Seq[java.lang.Double](-1.0, -1.0, -1.0),
        Seq[java.lang.Double](1.0, 1.0, 1.0)), // v shorter than bounds
      (Seq[java.lang.Double](0.5, 0.5, 0.5),
        Seq[java.lang.Double](-1.0, -1.0),
        Seq[java.lang.Double](1.0, 1.0)), // bounds shorter than v
      // zero-range dimension PAST the vector's length: the composable
      // when() tests only the range, so the code is -128 even though
      // the component is zip_with-null (round-17 review fix edge)
      (Seq[java.lang.Double](0.5, 0.5),
        Seq[java.lang.Double](-1.0, -1.0, 0.5),
        Seq[java.lang.Double](1.0, 1.0, 0.5)))
    val df = (edges ++ corpus).zipWithIndex
      .map { case ((v, l, h), i) => (i.toLong, v, l, h) }
      .toDF("id", "v", "lo", "hi")
    val encDiff = df
      .select(
        col("id"),
        graft.functions.SqExpressions
          .encodeCols(col("v"), col("lo"), col("hi")).as("f"),
        graft.operators.Similarity
          .quantizeInt8ComposableCode(col("v")).as("c"))
      .where(!(col("f") <=> col("c")))
      .count()
    assert(encDiff === 0L, "encode parity")
    // decode: run over the encoded codes of the same frame
    val withCodes = df.select(
      col("id"), col("lo"), col("hi"),
      graft.functions.SqExpressions
        .encodeCols(col("v"), col("lo"), col("hi")).as("q8"))
    val decDiff = withCodes
      .select(
        col("id"),
        graft.functions.SqExpressions
          .dequantizeCols(col("q8"), col("lo"), col("hi")).as("f"),
        graft.operators.Similarity
          .dequantizeInt8ComposableCode(col("q8")).as("c"))
      .where(!(col("f") <=> col("c")))
      .count()
    assert(decDiff === 0L, "decode parity")
  }

  test("nearest-centroid expression == UDF spec, assignment for assignment") {
    // the fused expression must reproduce the UDF's arithmetic exactly:
    // ascending centroid order, left-to-right squared-diff accumulation,
    // strict < (ties to the lowest index), min(dims) truncation.
    // Edges: a vector SHORTER and LONGER than the centroids, exact
    // ties, a centroid of different dimension, and the real corpus.
    val centroids = Array(
      Array(0.0, 0.0, 0.0, 0.0),
      Array(1.0, 1.0, 1.0, 1.0),
      Array(1.0, 1.0, 1.0, 1.0), // duplicate: tie must pick index 1
      Array(0.5, 0.5), // shorter centroid — min(dims) guard
      Array(-1.0, 2.0, -3.0, 4.0))
    val edges = Seq(
      Array(0.0, 0.0, 0.0, 0.0),
      Array(1.0, 1.0, 1.0, 1.0),
      Array(0.5, 0.5), // shorter vector
      Array(0.5, 0.5, 0.5, 0.5, 9.0), // longer vector (extra dim ignored)
      Array(0.25, 0.75),
      Array(-1.0, 2.0, -3.0, 4.0))
    val corpus = Tables
      .embeddings(spark, TestSpark.sf)
      .select(col("embedding").cast("array<double>").as("v"))
      .as[Seq[Double]]
      .collect()
      .toSeq
      .map(_.toArray)
    val df = (edges ++ corpus).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val diff = df
      .select(
        col("id"),
        graft.functions.NearestCentroidExpr
          .ofColumn(col("v"), centroids).as("f"),
        graft.operators.Similarity
          .nearestCentroid(centroids)(col("v")).as("c"))
      .where(!(col("f") <=> col("c")))
      .count()
    assert(diff === 0L)
  }

  test("driver-constant vectors compare by content: equal instances are semanticEquals") {
    // two expressions built from equal (but separately allocated)
    // constants must canonicalize equal — Array fields compare by
    // reference and would make them distinct plans
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftbridge.ExprBridge
    import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType}
    val v = ExprBridge.column(AttributeReference("v", ArrayType(DoubleType))())
    val q8 = ExprBridge.column(AttributeReference("q8", ArrayType(ByteType))())
    def twice(build: () => org.apache.spark.sql.Column): Unit = {
      val (a, b) = (ExprBridge.expression(build()), ExprBridge.expression(build()))
      assert(a.semanticEquals(b), s"$a vs $b")
    }
    twice(() => graft.functions.NearestCentroidExpr
      .ofColumn(v, Array(Array(1.0, 2.0), Array(-3.0, 4.5))))
    twice(() => graft.functions.SqExpressions
      .dequantize(q8, Array(0.0, -1.0).toSeq, Array(2.0, 3.0).toSeq))
    twice(() => graft.functions.SqExpressions
      .driftTerms(q8, v, Array(0.0, -1.0).toSeq, Array(2.0, 3.0).toSeq))
  }
}
