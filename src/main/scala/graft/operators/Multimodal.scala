package graft.operators

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column pattern: media (image/audio/video) carried as an
  * opaque `binary` payload column with a typed metadata struct, decoded
  * / feature-extracted per partition in batches.
  *
  * Decode is REAL for the formats whose codecs ship in the JDK:
  * [[RealCodecs.decodePng]] (javax.imageio) and [[RealCodecs.decodeWav]]
  * (RIFF/PCM chunk walk) — both driver-graded (q_image_decode /
  * q_audio_decode): payloads are synthesized deterministically, pushed
  * through a REAL encode→decode round trip, and the extracted features
  * must hash-match the DuckDB oracle's closed-form pixel/sample
  * definitions — any codec infidelity breaks the gate. Formats with no
  * JVM codec (video) remain behind the disclosed
  * [[MediaDecoder.decodeStub]]/frame stubs, whose one-to-many dataflow
  * shape is the real contract.
  *
  * Scale notes: payloads never participate in a shuffle here — decode is
  * a narrow mapPartitions directly over the scan, features (small) are
  * all that flows downstream. At 100 TB of media that separation (wide
  * ops on features only) is the whole game.
  */
object Multimodal {

  /** One media record: opaque payload + typed metadata. */
  final case class MediaRecord(
      doc_id: Long,
      payload: Array[Byte],
      format: String,
      source: String)

  /** Extracted features — what downstream (dedup, search) consumes. */
  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Long,
      format: String,
      feature: Long)

  object MediaDecoder {
    /** STUB for formats with no JVM codec (video) — see [[RealCodecs]]
      * for the REAL PNG/WAV paths. The fake is deterministic and cheap:
      * byte length and a trivial byte-derived "feature" so the pipeline
      * stays differentially testable end-to-end.
      */
    def decodeStub(r: MediaRecord): MediaFeatures = {
      val first = if (r.payload.nonEmpty) (r.payload(0) & 0xff).toLong else 0L
      MediaFeatures(r.doc_id, r.payload.length.toLong, r.format,
        r.payload.length.toLong * 31L + first)
    }

    /** STUB resize for codec-less formats ([[RealCodecs.resizePng]] is
      * the real raster resize): truncates bytes proportionally,
      * preserving the contract a resize must have — output is a new
      * payload, no bigger than the input, derived deterministically.
      */
    def resizeStub(r: MediaRecord, maxBytes: Int): MediaRecord =
      r.copy(payload = r.payload.take(maxBytes))

    /** STUB frame sampling: a real implementation decodes video and
      * emits one record per sampled frame; the fake slices the payload
      * into `n` deterministic chunks tagged by frame index — the
      * one-to-many record shape (flatMap) is the real contract.
      */
    def frameSampleStub(r: MediaRecord, n: Int): Iterator[(Long, Int, Array[Byte])] = {
      val step = math.max(r.payload.length / math.max(n, 1), 1)
      Iterator.range(0, math.min(n, r.payload.length))
        .map(i => (r.doc_id, i, r.payload.slice(i * step, i * step + step)))
    }
  }

  /** Real codecs over deterministic payloads. The synthesis side is the
    * fixture (pixel/sample values are pure functions of doc_id, which
    * is what lets DuckDB compute the expected features without any
    * codec); the DECODE side is a genuine format implementation.
    */
  object RealCodecs {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

    // ImageIO defaults to a DISK-backed stream cache per encode/decode —
    // for thousands of tiny in-memory images that is a temp-file create/
    // delete per call; keep it in heap
    javax.imageio.ImageIO.setUseCache(false)

    /** pixel(x, y) = (doc_id·31 + y·7 + x) mod 256, 8-bit grayscale. */
    def syntheticPng(docId: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, ((docId * 31 + y * 7 + x) % 256).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** REAL PNG decode (JDK ImageIO): (width, height, Σ luminance). */
    def decodePng(bytes: Array[Byte]): (Int, Int, Long) = {
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      val raster = img.getRaster
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      (img.getWidth, img.getHeight, sum)
    }

    /** REAL nearest-neighbor resize on the decoded raster —
      * out(x, y) = in(⌊x·w/w'⌋, ⌊y·h/h'⌋) — then PNG re-encode. The
      * interpolation is hand-rolled so the result is exactly
      * closed-form (library scalers pick filters you can't oracle).
      */
    def resizePng(bytes: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
      val src = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      val dst = new java.awt.image.BufferedImage(
        outW, outH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val sr = src.getRaster
      val dr = dst.getRaster
      var y = 0
      while (y < outH) {
        val sy = y * src.getHeight / outH
        var x = 0
        while (x < outW) {
          dr.setSample(x, y, 0, sr.getSample(x * src.getWidth / outW, sy, 0))
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(dst, "png", bos)
      bos.toByteArray
    }

    /** Perceptual average-hash over the REAL decoded raster: 8×8 block
      * grid, bit set where the block's mean luminance exceeds the
      * image mean. All-integer (blockSum·64 vs totalSum — both sides
      * scaled, no division), so the bits are exactly reproducible from
      * the closed-form pixels. Returned as two unsigned 32-bit halves
      * in longs (bit 63 in one BIGINT would flip the sign differently
      * across engines; the simhash oracle's shift trick stops at 32).
      */
    def ahashPng(bytes: Array[Byte]): (Long, Long) = {
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      // the 8x8 grid needs whole blocks: a 33-px width would index
      // block 64 (AIOOBE) and a <8-px dimension divides by zero
      require(img.getWidth % 8 == 0 && img.getHeight % 8 == 0 &&
        img.getWidth >= 8 && img.getHeight >= 8,
        s"ahashPng needs dimensions divisible by 8, got ${img.getWidth}x${img.getHeight}")
      val bw = img.getWidth / 8
      val bh = img.getHeight / 8
      val raster = img.getRaster
      val bs = new Array[Long](64)
      var total = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val v = raster.getSample(x, y, 0).toLong
          total += v
          bs((y / bh) * 8 + (x / bw)) += v
          x += 1
        }
        y += 1
      }
      var hi = 0L; var lo = 0L
      var i = 0
      while (i < 64) {
        if (bs(i) * 64 > total) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
        i += 1
      }
      (hi, lo)
    }

    /** sample(i) = ((doc_id·13 + i·17) mod 65536) − 32768, 16-bit PCM
      * mono little-endian with a standard 44-byte RIFF/WAVE header.
      */
    def syntheticWav(docId: Long, n: Int, rate: Int): Array[Byte] = {
      val dataLen = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1) /* PCM */ ; bb.putShort(1) /* mono */
      bb.putInt(rate); bb.putInt(rate * 2) /* byte rate */
      bb.putShort(2) /* block align */ ; bb.putShort(16) /* bits */
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      var i = 0
      while (i < n) {
        bb.putShort((((docId * 13 + i * 17) % 65536) - 32768).toShort)
        i += 1
      }
      bb.array()
    }

    /** Amplitude-modulated synthetic clip for the FINGERPRINT fixture:
      * the flat sawtooth of [[syntheticWav]] has an identical energy
      * envelope for every doc (a constant fingerprint — useless as a
      * blocking key), so this variant scales a ±8191 base by a per-
      * frame envelope 1 + (doc_id + ⌊i·F/n⌋) mod 4 (peak ±32764, still
      * 16-bit). The envelope phase rotates with doc_id, so clips fall
      * into distinct fingerprint classes — what an acoustic blocking
      * key actually keys on.
      */
    def syntheticWavAm(docId: Long, n: Int, rate: Int): Array[Byte] = {
      val dataLen = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(1)
      bb.putInt(rate); bb.putInt(rate * 2)
      bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      var i = 0
      while (i < n) {
        val base = (docId * 13 + i * 17) % 16384 - 8192
        val env = 1 + (docId + i.toLong * AudioFpFrames / n) % 4
        bb.putShort((base * env).toShort)
        i += 1
      }
      bb.array()
    }

    /** Shared RIFF chunk walk: locate `fmt ` (PCM required, sample
      * rate) and the `data` chunk, returning (rate, nSamples, buffer
      * positioned at the first sample). Chunk traversal handles the
      * RIFF odd-length pad byte — skip len + (len & 1) or every chunk
      * after an odd one misparses — with the final position clamped
      * because a last odd chunk may legally omit its pad. ONE walker
      * for both consumers so a container-parsing fix can never apply
      * to one decode path and silently miss the other.
      */
    private def wavPcm(bytes: Array[Byte]): (Int, Int, java.nio.ByteBuffer) = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(fourcc() == "RIFF", "not a RIFF file")
      bb.getInt // riff size
      require(fourcc() == "WAVE", "not a WAVE file")
      var rate = -1
      var nSamples = -1
      var dataPos = -1
      while (bb.remaining() >= 8 && (rate < 0 || nSamples < 0)) {
        val id = fourcc()
        val len = bb.getInt
        id match {
          case "fmt " =>
            val fmtStart = bb.position()
            val audioFormat = bb.getShort
            require(audioFormat == 1, s"not PCM: $audioFormat")
            bb.getShort // channels
            rate = bb.getInt
            bb.position(math.min(fmtStart + len + (len & 1), bb.limit()))
          case "data" =>
            dataPos = bb.position()
            nSamples = len / 2
            bb.position(math.min(dataPos + len + (len & 1), bb.limit()))
          case _ =>
            bb.position(math.min(bb.position() + len + (len & 1), bb.limit()))
        }
      }
      require(rate > 0 && nSamples >= 0, "missing fmt/data chunk")
      bb.position(dataPos)
      (rate, nSamples, bb)
    }

    /** REAL RIFF/WAV parse: (rate, nSamples, Σ|s|). */
    def decodeWav(bytes: Array[Byte]): (Int, Int, Long) = {
      val (rate, n, bb) = wavPcm(bytes)
      var ampSum = 0L
      var i = 0
      while (i < n) { ampSum += math.abs(bb.getShort.toInt); i += 1 }
      (rate, n, ampSum)
    }

    /** Acoustic fingerprint over the REAL decoded PCM: the samples
      * split into [[AudioFpFrames]] frames by f = ⌊i·F/n⌋ and bit f
      * sets iff the frame's mean |amplitude| exceeds the clip's mean —
      * cross-multiplied (frameSum·n > total·frameLen) so the
      * comparison is exact integer arithmetic the DuckDB oracle
      * replays bit-for-bit (the image aHash convention, 1-D). Frame
      * sizes differ by ±1 sample under the floor split; the density
      * form makes that irrelevant.
      *
      * SAMPLE-COUNT DOMAIN: frame indexing is Long-safe at any n, but
      * the cross-multiplication needs frameSum·n < 2^63, i.e.
      * n < 2^24 (≈17 min mono at 16 kHz) — the require below raises
      * loudly instead of silently flipping bits; fingerprint longer
      * recordings per chunk ([[graft.operators.TextAnalysis]]'s
      * chunking discipline applies to audio too).
      */
    def fingerprintWav(bytes: Array[Byte]): (Int, Int, Long) = {
      val (rate, n, bb) = wavPcm(bytes)
      require(n > 0, "fingerprintWav needs at least one sample")
      require(n < (1 << 24),
        s"fingerprintWav caps at 2^24 samples (cross-multiplied mean " +
          s"stays inside Long); got $n — use fingerprintWavChunks")
      val fp = fingerprintOf(bb, n, AudioFpFrames)
      (rate, n, fp)
    }

    /** The frame-energy bit derivation over `n` samples at the
      * buffer's position, `frames` ≤ 64 bits: bit f sets iff frame
      * f's mean |amplitude| exceeds the span's mean, cross-multiplied
      * (fs·n > total·fn — exact integer, n < 2^24 keeps fs·n < 2^63).
      * ONE kernel for the 16-frame, 64-frame wide, and per-chunk
      * fingerprints, so the bit convention can never fork.
      */
    private def fingerprintOf(bb: java.nio.ByteBuffer, n: Int,
        frames: Int): Long = {
      val fs = new Array[Long](frames)
      val fn = new Array[Long](frames)
      var total = 0L
      var i = 0
      while (i < n) {
        val a = math.abs(bb.getShort.toInt).toLong
        // Long multiply BEFORE the divide: i*F overflows Int past
        // 2^27 samples (the synth side always used Long math)
        val f = (i.toLong * frames / n).toInt
        fs(f) += a; fn(f) += 1; total += a
        i += 1
      }
      var fp = 0L
      var f = 0
      while (f < frames) {
        if (fs(f) * n > total * fn(f)) fp |= 1L << f
        f += 1
      }
      fp
    }

    /** WIDE 64-frame fingerprint as two unsigned 32-bit halves — the
      * BANDABLE acoustic key (the [[ahashPng]] convention: a shift
      * into bit 63 of one BIGINT flips sign differently across
      * engines, so halves stop at 32). 64 bits is what makes the
      * 4×16-bit Hamming-ball banding ([[graft.operators.Multimodal.neardupFromHashes]])
      * meaningful on audio: the 16-bit fingerprint's bands would be
      * 4 bits wide — bucket keyspace 16, every clip colliding with
      * every other.
      */
    def fingerprintWavWide(bytes: Array[Byte]): (Int, Int, Long, Long) = {
      val (rate, n, bb) = wavPcm(bytes)
      require(n > 0, "fingerprintWavWide needs at least one sample")
      require(n < (1 << 24),
        s"fingerprintWavWide caps at 2^24 samples — use fingerprintWavChunks")
      val fp = fingerprintOf(bb, n, 64)
      (rate, n, fp >>> 32, fp & 0xffffffffL)
    }

    /** The CHUNKED long-clip path the [[fingerprintWav]] require names:
      * samples split into fixed `chunkSamples` windows (the last may be
      * short), each fingerprinted INDEPENDENTLY (frame mean vs CHUNK
      * mean — a chunk is a self-contained clip, so a loud passage
      * can't flip every quiet chunk's bits the way a global mean
      * would). Emits (chunk index, samples in chunk, fingerprint);
      * unbounded clip length — each chunk's cross-multiplication only
      * ever sees chunkSamples < 2^24 samples. At scale this is the
      * flatMap shape: one row per (clip, chunk), and a dedup/near-dup
      * tier keys on chunk fingerprints exactly as it keys on whole-
      * clip ones.
      */
    def fingerprintWavChunks(bytes: Array[Byte],
        chunkSamples: Int): Seq[(Int, Int, Long)] = {
      require(chunkSamples > 0 && chunkSamples < (1 << 24),
        s"chunkSamples must be in (0, 2^24), got $chunkSamples")
      val (_, n, bb) = wavPcm(bytes)
      require(n > 0, "fingerprintWavChunks needs at least one sample")
      val out = Seq.newBuilder[(Int, Int, Long)]
      var c = 0
      var off = 0
      while (off < n) {
        val len = math.min(chunkSamples, n - off)
        out += ((c, len, fingerprintOf(bb, len, AudioFpFrames)))
        c += 1
        off += len
      }
      out.result()
    }

    /** OVERLAPPING-window variant of [[fingerprintWavChunks]] —
      * windows start every `stride` samples (stride ≤ chunkSamples)
      * and each is fingerprinted against its OWN mean. This is what
      * lifts the boundary chunker's alignment sensitivity: a copied
      * segment fingerprints identically wherever it lands on a STRIDE
      * boundary, not only on chunk boundaries, at the honest cost of
      * re-reading each sample chunkSamples/stride times (the standard
      * shingling trade — cf. the text family's stride-1 Rabin-Karp
      * windows, where the rolling recurrence makes stride 1 free; an
      * energy fingerprint has no such recurrence, so production picks
      * stride = chunk/2 or /4). stride == chunkSamples degenerates to
      * the non-overlapping chunker exactly (spec-pinned).
      */
    def fingerprintWavWindows(bytes: Array[Byte], chunkSamples: Int,
        stride: Int): Seq[(Int, Int, Long)] = {
      require(chunkSamples > 0 && chunkSamples < (1 << 24),
        s"chunkSamples must be in (0, 2^24), got $chunkSamples")
      require(stride > 0 && stride <= chunkSamples,
        s"stride must be in (0, chunkSamples], got $stride")
      val (_, n, bb) = wavPcm(bytes)
      require(n > 0, "fingerprintWavWindows needs at least one sample")
      val dataPos = bb.position()
      val out = Seq.newBuilder[(Int, Int, Long)]
      var w = 0
      while (w * stride < n) {
        val len = math.min(chunkSamples, n - w * stride)
        bb.position(dataPos + w * stride * 2)
        out += ((w, len, fingerprintOf(bb, len, AudioFpFrames)))
        w += 1
      }
      out.result()
    }
  }

  /** Frames in the [[RealCodecs.fingerprintWav]] energy fingerprint. */
  val AudioFpFrames = 16

  /** PNG encode → REAL decode per document, features under the gate.
    * Encode and decode run as separate narrow stages (payload-in /
    * payload-out), mirroring a landing-zone → decode pipeline.
    */
  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, RealCodecs.syntheticPng(id, 32, 16))))
      .mapPartitions(_.map { case (id, png) =>
        val (w, h, luma) = RealCodecs.decodePng(png)
        (id, w.toLong, h.toLong, luma)
      })
      .toDF("doc_id", "width", "height", "luma_sum")
      .orderBy(col("doc_id"))
  }

  /** Image fingerprinting for near-dup detection: the perceptual
    * average-hash of every document's (REAL, ImageIO-decoded) image —
    * the visual analogue of [[TextAnalysis]]'s rolling-hash document
    * fingerprint. At scale the 64-bit hash is the blocking key: exact
    * dedup groups on it directly, near-dup buckets on hash bands like
    * MinHash-LSH. The oracle re-derives the bits arithmetically from
    * the closed-form pixels while Spark really decodes the PNG.
    */
  def imageAhash(spark: SparkSession, dir: String): DataFrame =
    ahashTable(spark, dir).orderBy(col("doc_id"))

  /** The unsorted (doc_id, ahash_hi, ahash_lo) hash table — the ONE
    * decode+hash pipeline both [[imageAhash]] and [[imageNeardup]]
    * consume, so the hash derivation can never fork between them.
    * MATERIALIZED once per (session, corpus) to scratch parquet (the
    * [[graft.operators.Dedup.materializedPairs]] pattern): at 100 TB
    * the PNG decode is the pipeline's dominant linear pass and nobody
    * runs it once per downstream query — the 3-long/image hash table
    * is written ONE time and every consumer plans over the narrow
    * read-back. Decode is deterministic (ImageIO PNG → exact pixel
    * sums), so the read-back is value-identical to recomputing and
    * both graded entries stay on the same DuckDB oracle.
    */
  private[graft] def ahashTable(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Scratch.storedOnce(spark, dir, "documents", "image_ahash")(
        ahashOf(spark, Tables.documents(spark, dir)))
      .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"))
  }

  /** Hamming-ball threshold for [[imageNeardup]]. With the hash split
    * into 4 bands, the pigeonhole guarantees any pair within distance
    * 3 shares at least one exact band — so the banded candidate set
    * has COMPLETE recall at this threshold and the operator is EXACT
    * (identical to the all-pairs scan), not approximate.
    */
  val ImageNeardupMaxDist = 3

  /** Visual near-duplicate pairs over the perceptual hash — the
    * operator that CONSUMES [[imageAhash]]'s blocking key the way
    * MinHash bands feed q_minhash_lsh_pairs (Manku et al.'s
    * SimHash-dedup banding, WWW'07): split the 64-bit aHash into
    * 4×16-bit bands, bucket-join on (band index, band value) — never
    * an all-pairs product — then verify candidates with the integer
    * popcount distance and keep pairs within
    * [[ImageNeardupMaxDist]]. 4 bands ⇒ every pair at distance ≤ 3
    * collides on some band (pigeonhole), so banding loses nothing and
    * the DuckDB oracle re-derives the identical pair list from the
    * closed-form pixels. At 100 TB the hash table (3 longs/image) is
    * the only shuffled data; decode stays a narrow map stage, and the
    * band join's fan-out is bounded by bucket population like every
    * LSH tier here.
    */
  def imageNeardup(spark: SparkSession, dir: String): DataFrame =
    // the hash table arrives as the materialized scratch-parquet
    // read-back ([[ahashTable]]), so its four consumers (both
    // band-join sides, both verify-join ends) each re-scan 3 narrow
    // longs/image — never the decode pipeline. No checkpoint needed:
    // the materialization IS the pin, shared across queries too.
    neardupFromHashes(ahashTable(spark, dir))

  /** Expected CANDIDATES PER DISTINCT HASH above which
    * [[imageNeardupAuto]] escalates from the 4-band tier to
    * [[neardupFromHashesWide]]. Why candidates, not a distinct-hash
    * count: the round-17 probes (ScalingProbe `image_neardup_div` vs
    * `image_neardup_div_wide`, BASELINE.md round 17) measured the
    * UNIFORM-hash crossover at d ≈ 3×10^8 distinct — the 4-band tier
    * enumerates+popcounts candidates at ~0.74G/s (quad coefficient
    * 4.1×10^-14 s/d²) while the wide tier pays a 5× larger band-table
    * shuffle (~12.6 µs/hash marginal), so the break-even is ~9,100
    * enumerated candidates per hash — but a REAL aHash distribution
    * is band-skewed (dark/bright images pile onto few 16-bit band
    * values), where the 4-band quadratic ignites at far smaller d. A
    * d-threshold must guess the skew; the router instead MEASURES the
    * exact quadratic driver, Σ_buckets C(occ,2), in one cheap
    * aggregation over the 4·d band rows. 2^13 sits just under the
    * measured local[32] break-even: routing wide a bit early costs a
    * bounded constant factor, routing late on a skewed corpus costs
    * an unbounded quadratic.
    */
  val WideRouteCandPerHash = 8192L

  /** The routing decision: estimated 4-band candidate volume vs
    * [[WideRouteCandPerHash]]·d, both measured in ONE aggregation over
    * the band table (d = Σ occupancy / 4 — no second count job). The
    * estimate sums in DOUBLE on purpose: a single 3·10^9-occupancy
    * bucket would overflow c·(c−1) in a long and wrap NEGATIVE —
    * flipping the decision exactly where escalation matters most — and
    * a routing threshold needs magnitude, not exactness.
    */
  private[graft] def routeWide(ah: DataFrame): Boolean = {
    val row = bands4(ah.select(col("ahash_hi"), col("ahash_lo")).distinct())
      .groupBy(col("cb"), col("kv"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("CAST(c AS DOUBLE) * (c - 1) / 2")).as("cand"),
        sum(col("c")).as("occ"))
      .collect()(0)
    val cand = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    val d = (if (row.isNullAt(1)) 0L else row.getLong(1)) / 4
    cand > WideRouteCandPerHash.toDouble * d
  }

  /** The Manku wide tier on the corpus hash table, graded directly
    * (q_image_neardup_wide) so the d ≫ cutover path sits under the
    * SAME DuckDB oracle as the 4-band tier — value-identical output
    * by construction ([[neardupFromHashesWide]]).
    */
  def imageNeardupWide(spark: SparkSession, dir: String): DataFrame =
    neardupFromHashesWide(ahashTable(spark, dir))

  /** Routed production entry (the graphKnnAuto discipline): measure
    * the 4-band tier's ACTUAL candidate volume ([[routeWide]] — one
    * cheap aggregation over the materialized hash table's band
    * projection) and pick the banding tier. The fixture corpus is
    * repeat-heavy (d ≤ 256, candidates ≪ threshold), so the graded
    * entry exercises the ROUTE-to-4-band arm; the wide arm is graded
    * by its own entry, the skewed ROUTE-to-wide arm by
    * Round17OpsSpec, and the crossover constant by the probes.
    */
  def imageNeardupAuto(spark: SparkSession, dir: String): DataFrame =
    neardupFromHashesAuto(ahashTable(spark, dir))

  /** The routed banding engine itself — [[routeWide]] picks the tier;
    * both tiers are value-identical, so callers keep ONE oracle
    * regardless of the route. Shared by [[imageNeardupAuto]] and
    * [[audioNeardup]] (any 2×32-bit blocking key routes the same way).
    */
  private[graft] def neardupFromHashesAuto(ah: DataFrame): DataFrame =
    if (routeWide(ah)) neardupFromHashesWide(ah)
    else neardupFromHashes(ah)

  /** THE tier table: the two measured (blocks, subset) banding
    * instances, in one place so the doc-pair entries
    * ([[neardupFromHashes]]/[[neardupFromHashesWide]] via
    * [[neardupFromHashesAt]]) and the routed hash-pair surface
    * ([[verifiedHashPairsAuto]]) can never drift — a tier retune
    * edits exactly one tuple and every consumer follows.
    */
  private[graft] val Tier4Band: (Int, Int) = (4, 1)
  private[graft] val TierWide: (Int, Int) = (6, 3)

  private[graft] def routedTier(wide: Boolean): (Int, Int) =
    if (wide) TierWide else Tier4Band

  /** Routed VERIFIED DISTINCT-HASH pairs (pre-expansion): the same
    * tier decision as [[neardupFromHashesAuto]] but returning the
    * hash-granularity pair list (hi_a, lo_a, hi_b, lo_b, dist) — the
    * composition surface for consumers (cascades, CC) that join
    * documents themselves instead of paying the doc-pair-expansion
    * contract. Same pigeonhole recall guard as [[neardupFromHashesAt]]:
    * a tier entered into [[routedTier]] that cannot cover the verify
    * radius refuses here too, not just on the doc-pair path.
    */
  private[graft] def verifiedHashPairsAuto(ah: DataFrame): DataFrame = {
    val hashes = ah.select(col("ahash_hi"), col("ahash_lo")).distinct()
    val (blocks, subset) = routedTier(routeWide(hashes))
    require(blocks - subset >= ImageNeardupMaxDist,
      s"recall hole: $blocks blocks joined on $subset-subsets only " +
        s"guarantees Hamming <= ${blocks - subset}, need " +
        s"$ImageNeardupMaxDist")
    verifiedHashPairs(bandsOf(hashes, 64, blocks, subset), "cb", "kv")
  }


  /** Probe entry (ScalingProbe `image_neardup`): decode+hash an
    * arbitrary doc_id frame and band-join it, hash table pinned by
    * localCheckpoint instead of the scratch materialization (a probe
    * corpus has no (session, corpus-dir) identity to key on).
    */
  private[graft] def imageNeardupOn(spark: SparkSession,
      ids: DataFrame): DataFrame =
    neardupFromHashes(ahashOf(spark, ids).localCheckpoint())

  /** RETRACTION — visual near-dup under DELETION, the media family's
    * tombstone form (the [[graft.operators.Retrieval.retractBm25]]
    * discipline on the stored decode artifact): a tombstone id list
    * anti-joins out of the materialized doc→aHash table and the pair
    * derivation re-runs over the maintained table — the DECODE never
    * re-runs (3 narrow longs per image read back; pixels untouched),
    * and band work stays at distinct-hash granularity (O(d) — a hash
    * class leaves the band join exactly when its last member dies,
    * the refcount semantics for free). Pair logic is pairwise, so the
    * result EQUALS the full rebuild over corpus-minus-tombstones and
    * the graded entry shares q_image_neardup's oracle over the
    * surviving docs. Fixture tombstones: doc_id ≡ 7 (mod 10).
    */
  def retractImageNeardup(spark: SparkSession, dir: String): DataFrame = {
    val ah = ahashTable(spark, dir)
    retractImageNeardupFrom(ah,
      ah.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
  }

  private[graft] def retractImageNeardupFrom(ah: DataFrame,
      tombstones: DataFrame): DataFrame =
    neardupFromHashes(
      ah.join(tombstones.toDF("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint())

  /** Decode pipeline on an arbitrary doc_id frame — the shared body of
    * [[ahashTable]] (which materializes it per corpus) and the probes.
    */
  private[graft] def ahashOf(spark: SparkSession, ids: DataFrame): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, RealCodecs.syntheticPng(id, 32, 16))))
      .mapPartitions(_.map { case (id, png) =>
        val (hi, lo) = RealCodecs.ahashPng(png)
        (id, hi, lo)
      })
      .toDF("doc_id", "ahash_hi", "ahash_lo")
  }

  /** The pair enumeration, restructured after the round-16 1M probe
    * DNF'd the doc-granularity version: banding and popcount-verify
    * run over DISTINCT hashes only, and documents re-enter the plan
    * at the final expansion joins. Web-scale image corpora are
    * dominated by EXACT repeats (blank thumbnails, logos, tracking
    * pixels — the fixture's 256-image cycle is a faithful miniature),
    * so at n docs with d distinct hashes the band join costs O(d·4)
    * rows instead of O(n·4) and within-bucket fan-out is bounded by
    * DISTINCT-hash bucket population — repeats can never blow up the
    * candidate join again. What remains output-bound is the pair
    * CONTRACT itself: a hash class of m docs owes m(m-1)/2 dist-0
    * rows by definition, produced here by one equi-self-join
    * ([[imageDedup]] is the linear-output entry a 100 TB pipeline
    * runs instead; this entry's exact pair list is the audit surface).
    *
    * DIVERSE-corpus boundary (probed, round 16): with d DISTINCT
    * hashes the 4×16-bit band join enumerates ~4·d²/2^17 candidate
    * pairs (uniform-hash bucket occupancy d/2^16 per band) — probed
    * flat to ~8M distinct hashes and visibly quadratic at 16M (32 s
    * local[32]; the repeat-heavy web shape keeps d ≪ n, where this
    * never binds). Past that knee the mitigation is Manku's
    * multi-table widening, IMPLEMENTED as [[neardupFromHashesWide]]
    * (round 17) — same join shape, ~2^17× fewer expected candidates —
    * with [[imageNeardupAuto]] routing on the MEASURED candidate
    * volume ([[routeWide]]) like graphKnnAuto routes ANN builds.
    */
  private[graft] def neardupFromHashes(ah: DataFrame): DataFrame =
    neardupFromHashesAt(ah, ImageNeardupMaxDist, Tier4Band._1, Tier4Band._2)

  /** The 4×16-bit band table over a DISTINCT hash frame — shared by
    * the 4-band tier and [[routeWide]]'s candidate estimator, so the
    * router prices exactly the join the tier would run. The
    * [[Tier4Band]] instance of the generic [[bandsOf]] split, in the
    * engine's (cb, kv) column convention (the historical b/bv rename
    * shim was retired in round 19 — every consumer now reads cb/kv).
    */
  private[graft] def bands4(hashes: DataFrame): DataFrame =
    bandsOf(hashes, 64, Tier4Band._1, Tier4Band._2)

  /** Balanced block lengths: `width` bits into `blocks` blocks, the
    * remainder spread one bit at a time over the leading blocks — for
    * (64, 6) this is 11,11,11,11,10,10, the round-17 wide split.
    */
  private def blockLens(width: Int, blocks: Int): Seq[Int] = {
    val base = width / blocks
    val rem = width % blocks
    (0 until blocks).map(j => if (j < rem) base + 1 else base)
  }

  /** GENERIC multi-table band projection (Manku et al., WWW'07 §3,
    * parameterized): the `width`-bit key (hi << 32 | lo) splits into
    * `blocks` balanced blocks, and every `subset`-sized block
    * combination becomes one join table — C(blocks, subset) tables,
    * combo values packed into one ≤62-bit key at a uniform radix.
    * Recall: r bit flips touch at most r blocks, so whenever
    * blocks − subset ≥ r some subset of untouched blocks survives
    * intact and the pair collides on that table — complete recall at
    * Hamming ≤ blocks − subset by pigeonhole. Bucket keyspace grows
    * with subset · blockLen bits, trading band-table width
    * (C(blocks, subset) rows per hash) against candidate volume —
    * the (4,1) and (6,3) instances below are the two measured tiers;
    * other radii ([[neardupFromHashesAt]]) reuse this engine.
    */
  private[graft] def bandsOf(hashes: DataFrame, width: Int, blocks: Int,
      subset: Int): DataFrame = {
    require(width > 0 && width <= 64, s"key width must be 1..64, got $width")
    require(subset >= 1 && subset < blocks && blocks <= width,
      s"need 1 <= subset < blocks <= width, got blocks=$blocks subset=$subset")
    val lens = blockLens(width, blocks)
    val offs = lens.scanLeft(0)(_ + _).init
    val radix = 1L << lens.max
    require(subset * lens.max <= 62,
      s"packed combo key overflows a long: $subset blocks × ${lens.max} bits")
    // block j of the reassembled 64-bit value; arithmetic shiftright is
    // safe (off + len <= 64, the mask cuts any sign-fill)
    def blk(j: Int): Column = expr(
      s"shiftright(shiftleft(ahash_hi, 32) | ahash_lo, ${offs(j)}) " +
        s"& ${(1L << lens(j)) - 1}")
    val pows = Seq.iterate(1L, subset)(_ * radix)
    val keys = (0 until blocks).combinations(subset).toSeq.zipWithIndex.map {
      case (c, i) =>
        val kv = c.zipWithIndex.map { case (j, k) =>
          blk(j) * lit(pows(k))
        }.reduce(_ + _)
        struct(lit(i).as("cb"), kv.as("kv"))
    }
    // withColumn (not a hash-only select): extra input columns (e.g.
    // a doc_id on a band-INDEX build) ride through — band-join callers
    // pass bare 2-column hash frames and see the historical shape
    hashes.withColumn("bk", explode(array(keys: _*)))
      .withColumn("cb", col("bk.cb"))
      .withColumn("kv", col("bk.kv"))
      .drop("bk")
  }

  /** Manku et al.'s multi-table widening of [[neardupFromHashes]] for
    * DIVERSE-hash corpora — the (blocks=6, subset=3) instance of the
    * generic engine: instead of 4 16-bit bands (bucket key space
    * 2^16), join on every C(6,3) = 20 combination of three ~11-bit
    * blocks — bucket keys are ~2^32.5, so expected candidates fall
    * from ~4·d²/2^17 to ~20·d²/2^34 (~2^17× fewer at equal d) at the
    * cost of a 5× wider band table (20·d vs 4·d rows). Below the
    * crossover the 4-band form wins on constant factors; past it this
    * one stays flat where 4-band goes quadratic (both probed —
    * ScalingProbe `image_neardup_div` / `image_neardup_div_wide`,
    * BASELINE.md round 17). Identical output contract: candidates are
    * popcount-verified and expanded through the same
    * [[expandHashPairs]], so the two paths are value-identical and
    * share the DuckDB oracle.
    */
  private[graft] def neardupFromHashesWide(ah: DataFrame): DataFrame =
    neardupFromHashesAt(ah, ImageNeardupMaxDist, TierWide._1, TierWide._2)

  /** The RADIUS-PARAMETERIZED banding engine: verified near-dup doc
    * pairs at Hamming ≤ `maxDist` over a 64-bit (hi, lo) key, banded
    * on C(blocks, subset) combo tables. Complete recall requires
    * blocks − subset ≥ maxDist (pigeonhole — enforced loudly); the
    * verify popcount then makes the output EXACT at any admissible
    * (blocks, subset), so wider keys or radii beyond 3 (embedding
    * sign-hashes, SemDeDup-style 128-bit keys split across two calls)
    * reuse this engine instead of growing a third hand-rolled tier.
    * [[neardupFromHashes]] (4,1) and [[neardupFromHashesWide]] (6,3)
    * are the two measured instances.
    */
  private[graft] def neardupFromHashesAt(ah: DataFrame, maxDist: Int,
      blocks: Int, subset: Int): DataFrame = {
    require(blocks - subset >= maxDist,
      s"recall hole: $blocks blocks joined on $subset-subsets only " +
        s"guarantees Hamming <= ${blocks - subset}, need $maxDist")
    expandHashPairs(ah,
      verifiedHashPairs(
        bandsOf(ah.select(col("ahash_hi"), col("ahash_lo")).distinct(),
          64, blocks, subset),
        "cb", "kv", maxDist))
  }

  /** Candidate DISTINCT-hash pairs from a band table: equi-join on
    * (band id, band key) in canonical (hi, lo) lexicographic order,
    * de-duped across colliding bands, popcount-verified to `maxDist`
    * (default [[ImageNeardupMaxDist]]) — the shared verify half of
    * every banding tier.
    */
  private def verifiedHashPairs(bands: DataFrame, bandId: String,
      bandKey: String, maxDist: Int = ImageNeardupMaxDist): DataFrame = {
    popcountVerified(
      bands.as("a")
        .join(bands.as("c"),
          col(s"a.$bandId") === col(s"c.$bandId") &&
            col(s"a.$bandKey") === col(s"c.$bandKey") &&
            (col("a.ahash_hi") < col("c.ahash_hi") ||
              (col("a.ahash_hi") === col("c.ahash_hi") &&
                col("a.ahash_lo") < col("c.ahash_lo"))))
        .select(col("a.ahash_hi").as("hi_a"), col("a.ahash_lo").as("lo_a"),
          col("c.ahash_hi").as("hi_b"), col("c.ahash_lo").as("lo_b")),
      maxDist)
  }

  /** The shared verify tail of EVERY banding candidate producer (the
    * self-join tiers above and the delta probe): dedup across
    * colliding bands, exact popcount distance, radius cut. One
    * definition so a radius change can never reach one producer and
    * silently miss another.
    */
  private def popcountVerified(cand: DataFrame, maxDist: Int): DataFrame =
    cand.distinct()
      .withColumn("dist", expr(
        "CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) AS BIGINT)"))
      .filter(col("dist") <= maxDist)

  /** The shared expansion half: verified distinct-hash pairs back to
    * document pairs (cross-class join ×2) plus the within-class dist-0
    * pairs — the output-bound term a production pipeline avoids via
    * [[imageDedup]].
    */
  private def expandHashPairs(ah: DataFrame, hashPairs: DataFrame): DataFrame = {
    // expansion 1: cross-class doc pairs (classes are disjoint, so
    // least/greatest canonicalizes without a comparison on hashes)
    val cross = hashPairs
      .join(ah.select(col("ahash_hi").as("hi_a"), col("ahash_lo").as("lo_a"),
        col("doc_id").as("da")), Seq("hi_a", "lo_a"))
      .join(ah.select(col("ahash_hi").as("hi_b"), col("ahash_lo").as("lo_b"),
        col("doc_id").as("db")), Seq("hi_b", "lo_b"))
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("dist"))
    // expansion 2: within-class pairs (dist 0) — the output-bound term
    val within = ah.as("x")
      .join(ah.as("y"),
        col("x.ahash_hi") === col("y.ahash_hi") &&
          col("x.ahash_lo") === col("y.ahash_lo") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(0L).as("dist"))
    cross.unionByName(within).orderBy(col("id_a"), col("id_b"))
  }

  /** INCREMENTAL (delta) banded near-dup — [[graft.operators.Dedup.deltaDedupOn]]'s
    * band-index-probe discipline applied to the media hash tables, the
    * daily-ingest shape for images and audio: a new batch lands next
    * to an already-ingested corpus and the question is which NEW
    * records near-duplicate anything already present (or each other).
    * Existing-vs-existing pairs are NEVER enumerated — that work was
    * paid at prior ingests — and the stored base is consumed two ways
    * only: the band INDEX the batch probes IS a stored per-corpus
    * table in the graded entries ([[baseBandIndex]], written once and
    * read back — round 19 closed the former "here it is recomputed"
    * caveat; the base is never joined against itself either way), and
    * its per-hash doc lists feed the expansion of pairs a batch hash
    * verified against.
    *
    * Join work therefore scales with |batch| × bucket occupancy plus
    * the true output (a new doc that near-dups a billion-copy stored
    * class owes a billion `new_existing` rows — output-bound by the
    * pair CONTRACT; the delta DECISION below is what production runs).
    * Candidates probe the 4-band index; the popcount verify and the
    * Hamming ≤ [[ImageNeardupMaxDist]] radius are identical to the
    * full-batch tiers, so delta output == [[neardupFromHashes]] on
    * base ∪ batch restricted to pairs touching the batch (spec-pinned).
    *
    * PRECONDITION (the [[graft.operators.Dedup.deltaShardAppend]]
    * discipline): base and batch doc_ids are disjoint — a re-ingested
    * id would pair with itself through its own stored hash.
    */
  /** The base side's STORED band index — the hash-granularity 4-band
    * projection of the base's distinct hashes, the table a production
    * ingest WRITES ONCE per corpus and every later delta probes. The
    * graded delta entries materialize it per (session, corpus) via
    * [[graft.sources.Scratch.storedOnce]] (the corpusClusterLabels
    * discipline) so "the index is a stored table written at prior
    * ingests" is the EXECUTED path, not a docstring promise: the
    * probe's plan reads this parquet back — the base's hashes are
    * never re-banded per delta run (plan-audited: one band Generate in
    * the delta plan, the batch's own).
    */
  private[graft] def baseBandIndex(spark: SparkSession, name: String,
      dir: String, base: DataFrame): DataFrame = {
    graft.sources.Scratch.storedOnce(spark, dir, "documents", name)(
        bands4(base.select(col("ahash_hi"), col("ahash_lo")).distinct()))
      .select(col("ahash_hi"), col("ahash_lo"), col("cb"), col("kv"))
  }

  /** The stored band index of the image hashes of doc_id mod 10 below
    * `lo` — one slot per prefix of the ingest split. The `[0, 8)` slot
    * serves [[deltaImageNeardup]], the closure chain's live bridge
    * ([[imageDupClustersOver]]) and the delta media cascade alike.
    */
  private[graft] def imageBandIndex(spark: SparkSession, dir: String,
      lo: Int): DataFrame =
    baseBandIndex(spark, s"band_index_img_0-$lo", dir,
      ahashTable(spark, dir).filter(col("doc_id") % 10 < lo))

  /** The delta candidate half: batch band keys PROBE the stored-base ∪
    * batch band index, verified hash pairs canonicalized and
    * popcount-cut — exposed un-pinned so PlanAuditSpec can assert its
    * structure (probe side batch-filtered, one equi-join). `baseBands`
    * is the stored index ([[baseBandIndex]] read-back in the graded
    * entries); the parameterless-index form below recomputes it for
    * callers without a corpus identity to key on (probes, arbitrary
    * frames). A hash present on BOTH sides lands in the index twice
    * (once stored, once via the probe's own bands) — harmless: the
    * verify tail's distinct dedupes, and the =!= join arm keeps a hash
    * from pairing with itself.
    */
  private[graft] def deltaBandHashPairsFromIndex(baseBands: DataFrame,
      batch: DataFrame): DataFrame = {
    val batchHashes = batch.select(col("ahash_hi"), col("ahash_lo")).distinct()
    // probe (batch-sized) vs index (stored base bands + the batch's
    // own): the ONLY candidate join — base bands never meet base bands
    val probe = bands4(batchHashes)
    val index = baseBands
      .select(col("ahash_hi"), col("ahash_lo"), col("cb"), col("kv"))
      .unionByName(probe)
    // canonical (hi, lo) lexicographic order — hashes are unsigned
    // 32-bit halves in longs, so the signed compare is the unsigned one
    val aFirst = col("a.ahash_hi") < col("c.ahash_hi") ||
      (col("a.ahash_hi") === col("c.ahash_hi") &&
        col("a.ahash_lo") < col("c.ahash_lo"))
    popcountVerified(
      probe.as("a")
        .join(index.as("c"),
          col("a.cb") === col("c.cb") && col("a.kv") === col("c.kv") &&
            (col("a.ahash_hi") =!= col("c.ahash_hi") ||
              col("a.ahash_lo") =!= col("c.ahash_lo")))
        .select(
          when(aFirst, col("a.ahash_hi")).otherwise(col("c.ahash_hi")).as("hi_a"),
          when(aFirst, col("a.ahash_lo")).otherwise(col("c.ahash_lo")).as("lo_a"),
          when(aFirst, col("c.ahash_hi")).otherwise(col("a.ahash_hi")).as("hi_b"),
          when(aFirst, col("c.ahash_lo")).otherwise(col("a.ahash_lo")).as("lo_b")),
      ImageNeardupMaxDist)
  }

  /** Recompute-index form for callers without a corpus identity to
    * materialize under (scaling probes, arbitrary-frame specs) —
    * value-identical to the stored-index path (spec-pinned).
    */
  private[graft] def deltaBandHashPairs(base: DataFrame,
      batch: DataFrame): DataFrame =
    deltaBandHashPairsFromIndex(
      bands4(base.select(col("ahash_hi"), col("ahash_lo")).distinct()), batch)

  private[graft] def deltaNeardupFromHashes(base: DataFrame,
      batch: DataFrame, baseBands: Option[DataFrame] = None): DataFrame = {
    // verified-pair-sized and consumed by BOTH expansion branches —
    // pin it, or the band probe join runs once per branch
    val hashPairs = deltaBandHashPairsFromIndex(
      baseBands.getOrElse(bands4(
        base.select(col("ahash_hi"), col("ahash_lo")).distinct())),
      batch).localCheckpoint()
    // expansion DECOMPOSED so base docs never meet base docs: a
    // verified hash pair admits (batch docs of side A × all docs of
    // side B) plus (base docs of side A × batch docs of side B) —
    // together exactly the pairs touching the batch, each once
    def docsOf(src: DataFrame, side: String, d: String): DataFrame =
      src.select(col("ahash_hi").as(s"hi_$side"),
        col("ahash_lo").as(s"lo_$side"), col("doc_id").as(d))
    val allTagged = base.withColumn("is_new", lit(false))
      .unionByName(batch.withColumn("is_new", lit(true)))
    val crossA = hashPairs
      .join(docsOf(batch, "a", "da"), Seq("hi_a", "lo_a"))
      .join(allTagged.select(col("ahash_hi").as("hi_b"),
          col("ahash_lo").as("lo_b"), col("doc_id").as("db"),
          col("is_new").as("other_new")),
        Seq("hi_b", "lo_b"))
      .select(col("da"), col("db"), col("dist"), col("other_new"))
    val crossB = hashPairs
      .join(docsOf(base, "a", "da"), Seq("hi_a", "lo_a"))
      .join(docsOf(batch, "b", "db"), Seq("hi_b", "lo_b"))
      .select(col("da"), col("db"), col("dist"),
        lit(false).as("other_new"))
    // within-class (dist 0) pairs touching the batch: batch × base of
    // the same hash, plus batch × batch — never base × base
    val withinNE = batch.as("x")
      .join(base.as("y"), Seq("ahash_hi", "ahash_lo"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        lit(0L).as("dist"), lit(false).as("other_new"))
    val withinNN = batch.as("x")
      .join(batch.as("y"),
        col("x.ahash_hi") === col("y.ahash_hi") &&
          col("x.ahash_lo") === col("y.ahash_lo") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        lit(0L).as("dist"), lit(true).as("other_new"))
    crossA.unionByName(crossB).unionByName(withinNE).unionByName(withinNN)
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("dist"),
        when(col("other_new"), "new_new").otherwise("new_existing")
          .as("pair_type"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Graded delta visual near-dup: the corpus hash table split by
    * doc_id mod 10 (< 8 = the already-ingested base, ≥ 8 = the new
    * batch — id-derived so the DuckDB oracle replays the split
    * closed-form; [[graft.operators.Dedup.deltaShardAssign]]'s
    * convention). ONE materialized decode pass serves both sides, and
    * the base's band projection is the STORED per-corpus index
    * ([[baseBandIndex]]) — the probe reads it back, never re-bands the
    * base.
    */
  def deltaImageNeardup(spark: SparkSession, dir: String): DataFrame = {
    val ah = ahashTable(spark, dir)
    deltaNeardupFromHashes(ah.filter(col("doc_id") % 10 < 8),
      ah.filter(col("doc_id") % 10 >= 8), Some(imageBandIndex(spark, dir, 8)))
  }

  /** Graded delta acoustic near-dup — the same delta engine on the
    * wide audio fingerprint (renamed columns), proving the
    * one-engine-two-modalities discipline extends to incremental
    * ingest: a banding/delta fix in either modality serves both. The
    * stored band index gets its own per-modality slot.
    */
  def deltaAudioNeardup(spark: SparkSession, dir: String): DataFrame = {
    val fp = audioFpWideTable(spark, dir)
      .select(col("doc_id"), col("afp_hi").as("ahash_hi"),
        col("afp_lo").as("ahash_lo"))
    val base = fp.filter(col("doc_id") % 10 < 8)
    deltaNeardupFromHashes(base, fp.filter(col("doc_id") % 10 >= 8),
      Some(baseBandIndex(spark, "delta_band_index_aud", dir, base)))
  }

  /** INCREMENTAL exact dedup DECISION — the delta form of
    * [[imageDedup]], the linear-output operator a daily media ingest
    * actually runs: one row per NEW record, mapping it to its class
    * representative. FROZEN-REP semantics: a hash class already
    * present in the base keeps its STORED representative even when a
    * new doc_id is smaller (history is never rewritten — the stored
    * rep table and every downstream keep-decision stay valid); a hash
    * new to the corpus elects min batch doc_id. n_class is the class
    * size AFTER ingest (base + batch members). The base is consumed
    * by ONE narrow groupBy (at scale: the stored rep table read
    * directly) and never joins the batch at doc granularity.
    */
  private[graft] def deltaImageDedupOn(base: DataFrame,
      batch: DataFrame): DataFrame = {
    val baseReps = base.groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(min(col("doc_id")).as("base_rep"), count(lit(1)).as("base_n"))
    val batchCls = batch.groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(min(col("doc_id")).as("batch_min"), count(lit(1)).as("batch_n"))
    batch.select(col("doc_id"), col("ahash_hi"), col("ahash_lo"))
      .join(batchCls, Seq("ahash_hi", "ahash_lo"))
      .join(baseReps, Seq("ahash_hi", "ahash_lo"), "left")
      .select(col("doc_id"),
        coalesce(col("base_rep"), col("batch_min")).as("rep_id"),
        (coalesce(col("base_n"), lit(0L)) + col("batch_n")).as("n_class"))
      .orderBy(col("doc_id"))
  }

  /** Graded delta visual dedup on the mod-10 ingest split. */
  def deltaImageDedup(spark: SparkSession, dir: String): DataFrame = {
    val ah = ahashTable(spark, dir)
    deltaImageDedupOn(
      ah.filter(col("doc_id") % 10 < 8), ah.filter(col("doc_id") % 10 >= 8))
  }

  /** Graded delta acoustic dedup — [[deltaImageDedupOn]] verbatim on
    * the wide-fingerprint class key (renamed columns): the frozen-rep
    * incremental decision for the audio modality, completing the
    * per-modality delta triple (near-dup pairs + dedup decision on
    * both media keys).
    */
  def deltaAudioDedup(spark: SparkSession, dir: String): DataFrame = {
    val fp = audioFpWideTable(spark, dir)
      .select(col("doc_id"), col("afp_hi").as("ahash_hi"),
        col("afp_lo").as("ahash_lo"))
    deltaImageDedupOn(
      fp.filter(col("doc_id") % 10 < 8), fp.filter(col("doc_id") % 10 >= 8))
  }

  /** Visual near-duplicate CLUSTERS — the text family's pointer-
    * jumping connected components ([[graft.operators.Dedup.clusterLabels]])
    * consuming the VISUAL near-dup graph: near-dup at Hamming ≤ 3 is
    * not transitive (A~B and B~C allow dist(A,C) = 6), so a dedup
    * policy that keeps one representative per CONNECTED group needs
    * the closure, exactly as the MinHash family does.
    *
    * GRANULARITY, the round-16 lesson applied to CC: the doc-level
    * pair graph's edge list is quadratic in class size (a 234-copy
    * class owes C(234,2) within-edges — feeding THAT to a 20-round
    * join loop measured 35 s at sf0.1), but components of the doc
    * graph EQUAL components of the DISTINCT-HASH graph (within-class
    * edges connect every class internally; classes connect exactly
    * when a verified hash pair exists). So the CC loop runs over the
    * hash-level pairs — d nodes, never n — and documents re-enter at
    * ONE final aggregation: component = hash label (isolated hashes
    * are their own singleton components), cluster_rep = min doc_id,
    * n_members = docs. Components of one member are dropped at the
    * end — exactly the paired-doc node set the doc-level closure (and
    * the DuckDB oracle) sees, because any 2-member component contains
    * a pair by construction. Same output contract as q_dup_clusters;
    * 35 s → ~1 s at sf0.1, and at 100 TB the loop's working set is
    * distinct-hash-sized.
    */
  def imageDupClusters(spark: SparkSession, dir: String): DataFrame =
    imageDupClustersOn(ahashTable(spark, dir))

  /** `driverGate` exists for the spec only (force the distributed arm
    * on a fixture the gate would route to the driver). */
  private[graft] def imageDupClustersOn(ah: DataFrame,
      driverGate: Long = graft.operators.Dedup.DriverCcMaxPairs): DataFrame =
    docClusters(hashIds(ah), graft.operators.Dedup.componentLabels(
      bandPairs(bands4(ah.select(col("ahash_hi"), col("ahash_lo")).distinct())),
      driverGate))

  /** A 64-bit hash packed from its two unsigned 32-bit halves — the CC
    * node id of the hash-granularity closures (sign-irrelevant: labels
    * only need a deterministic total order and equality).
    */
  private def packed(hi: String, lo: String): Column = expr(s"shiftleft($hi, 32) | $lo")

  /** Verified hash pairs (hi_a, lo_a, hi_b, lo_b) as packed (id_a, id_b). */
  private def packedPairs(hashPairs: DataFrame): DataFrame =
    hashPairs.select(packed("hi_a", "lo_a").as("id_a"), packed("hi_b", "lo_b").as("id_b"))

  /** The packed verified hash pairs of a band table — a closure's base graph. */
  private def bandPairs(bands: DataFrame): DataFrame =
    packedPairs(verifiedHashPairs(bands, "cb", "kv"))

  /** (doc_id, hid): each document with its packed hash. */
  private def hashIds(ah: DataFrame): DataFrame =
    ah.select(col("doc_id"), packed("ahash_hi", "ahash_lo").as("hid"))

  /** Hash-granularity labels back to document clusters — the one
    * output tail of every visual closure: component = hash label
    * (isolated hashes are their own singleton components), cluster_rep
    * = min doc_id, n_members = docs, components of one member dropped.
    */
  private def docClusters(docHashes: DataFrame, labels: DataFrame): DataFrame =
    docHashes
      .join(labels.withColumnRenamed("id", "hid"), Seq("hid"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("hid")).as("comp"))
      .groupBy(col("comp"))
      .agg(min(col("doc_id")).as("cluster_rep"),
        count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
      .select(col("cluster_rep"), col("n_members"))
      .orderBy(col("cluster_rep"))

  /** INCREMENTAL visual dup clusters — CC MAINTENANCE under ingest,
    * the delta family's closure stage: prior ingests left a
    * hash-granularity component label table (stored state, like the
    * band index [[deltaNeardupFromHashes]] probes); a new batch can
    * only change components it BRIDGES, so the update contracts every
    * delta pair endpoint to its stored label (batch hashes stand for
    * themselves), runs CC over that CONTRACTED edge list — batch-
    * sized, never the full pair graph — and remaps. Label convention
    * is preserved exactly: stored labels are the minima of their old
    * components, so the merged component's min over (old labels ∪
    * batch hash ids) IS the min over all its hashes — the incremental
    * result equals the full recompute on base ∪ batch (spec-pinned).
    *
    * Cost shape: existing-vs-existing pairs never enumerated (the
    * [[deltaBandHashPairs]] probe), the CC input is contracted-
    * endpoint delta pairs (≤ |batch pairs|), and the only base-sized
    * terms are the narrow stored-label/hash scans feeding the final
    * joins. Recompute form: the base labels built inline.
    */
  private[graft] def deltaImageDupClustersOn(base: DataFrame,
      batch: DataFrame): DataFrame =
    docClusters(hashIds(base.unionByName(batch)),
      graft.operators.Dedup.maintainComponentLabels(
        graft.operators.Dedup.componentLabels(
          bandPairs(bands4(base.select(col("ahash_hi"), col("ahash_lo")).distinct()))),
        packedPairs(deltaBandHashPairs(base, batch))))

  /** Graded incremental clusters on the doc_id mod 10 ingest split,
    * the label chain cut at 8/10 — output contract identical to
    * [[imageDupClusters]] over the whole corpus (shares its oracle):
    * the incremental path changes WORK, never results.
    */
  def deltaImageDupClusters(spark: SparkSession, dir: String): DataFrame =
    imageDupClustersOver(spark, dir, Seq(8))

  /** MULTI-INGEST compounding for the visual closure — doc_id mod 10
    * [0,6) base, {6,7} ingest 1, {8,9} live:
    * maintain(maintain(L0,p1),p2) == one CC over the whole corpus's
    * verified hash pairs (the maintainComponentLabels induction), so
    * the graded entry shares q_image_dup_clusters' closure oracle
    * VERBATIM.
    */
  def delta2ImageDupClusters(spark: SparkSession, dir: String): DataFrame =
    imageDupClustersOver(spark, dir, Seq(6, 8))

  /** Serve the visual closure over the label chain cut at `cuts`
    * ([[graft.operators.Dedup.chainLabels]], doc_id mod 10 ranges): the
    * base step clusters the verified pairs of the stored band index
    * below the first cut, and every later range — the live batch at or
    * past the last cut included — bridges through the stored band
    * index of the hashes below it ([[imageBandIndex]]); base hashes are
    * never re-banded.
    */
  private[graft] def imageDupClustersOver(spark: SparkSession, dir: String,
      cuts: Seq[Int]): DataFrame = {
    val ah = ahashTable(spark, dir)
    val m = col("doc_id") % 10
    val labels = graft.operators.Dedup.chainLabels(spark, dir, "ahash", cuts)(
      hi => bandPairs(imageBandIndex(spark, dir, hi)),
      (lo, hi) => packedPairs(deltaBandHashPairsFromIndex(
        imageBandIndex(spark, dir, lo), ah.filter(m >= lo && m < hi))))
    docClusters(hashIds(ah), labels)
  }

  /** RETRACTION — visual dup clusters under DELETION: the
    * [[graft.operators.Dedup.retractComponentLabels]] machinery at
    * hash granularity. Doc-level tombstones touch the hash graph only
    * through DEAD HASHES (hashes whose LAST doc died — refcounts from
    * the stored doc→hash table, no decode); touched components
    * relabel over their surviving stored hash pairs, untouched labels
    * ride through, and documents re-enter at the final aggregation
    * over the SURVIVING doc→hash rows. Equals the full hash-level
    * closure over corpus-minus-tombstones, so the entry shares
    * q_image_dup_clusters' oracle over survivors. Stored state: the
    * corpus hash-pair graph and converged labels, materialized once
    * (what a production closure store keeps precisely so deletions
    * can relabel without re-banding).
    */
  def retractImageDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val ah = ahashTable(spark, dir)
    val pairs = graft.sources.Scratch.storedOnce(spark, dir, "documents", "img_hash_pairs")(
      bandPairs(bands4(ah.select(col("ahash_hi"), col("ahash_lo")).distinct())))
    val storedLabels = graft.sources.Scratch.storedOnce(spark, dir, "documents",
      "img_hash_labels")(graft.operators.Dedup.componentLabels(pairs))
    val surviving = hashIds(ah.filter(col("doc_id") % 10 =!= 7)).localCheckpoint()
    // dead hashes: in the stored table but held by NO surviving doc
    val deadHashes = hashIds(ah).select(col("hid")).distinct()
      .join(surviving.select(col("hid")), Seq("hid"), "left_anti")
      .select(col("hid").as("doc_id")) // retractComponentLabels' id column
    docClusters(surviving, graft.operators.Dedup.retractComponentLabels(
      storedLabels.select(col("id"), col("lbl")), pairs, deadHashes))
  }

  /** Exact visual dedup — the LINEAR-output entry a 100 TB image
    * pipeline actually runs (the round-16 probe measured why: an
    * exact-repeat-heavy corpus owes the pair contract quadratic
    * output, but a dedup DECISION is one row per image). Each image
    * maps to its exact-aHash class representative (min doc_id) with
    * the class size; downstream keeps `doc_id = rep_id` rows. The
    * aggregation is groupBy, NOT a per-class window: map-side partial
    * min/count collapse a billion-copy blank-thumbnail class to one
    * row per partition before any shuffle, where a window would
    * funnel the whole class through one reducer. The rep table joins
    * back on the hash (distinct-hash-sized, shuffle equi-join).
    */
  def imageDedup(spark: SparkSession, dir: String): DataFrame =
    imageDedupOn(ahashTable(spark, dir))

  private[graft] def imageDedupOn(ah: DataFrame): DataFrame = {
    val reps = ah.groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_class"))
    ah.join(reps, Seq("ahash_hi", "ahash_lo"))
      .select(col("doc_id"), col("rep_id"), col("n_class"))
      .orderBy(col("doc_id"))
  }

  /** Encode → REAL resize (nearest-neighbor on rasters, re-encoded) →
    * REAL decode. Three narrow payload stages; the oracle computes the
    * resized luminance from the closed-form source pixels at the
    * mapped coordinates.
    */
  def imageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, RealCodecs.syntheticPng(id, 32, 16))))
      .mapPartitions(_.map { case (id, png) => (id, RealCodecs.resizePng(png, 16, 8)) })
      .mapPartitions(_.map { case (id, png) =>
        val (w, h, luma) = RealCodecs.decodePng(png)
        (id, w.toLong, h.toLong, luma)
      })
      .toDF("doc_id", "width", "height", "luma_sum")
      .orderBy(col("doc_id"))
  }

  /** WAV synth → REAL RIFF parse per document, features under the gate.
    * Sample count varies per document (1000 + doc_id mod 500).
    */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, RealCodecs.syntheticWav(id, 1000 + (id % 500).toInt, 16000))))
      .mapPartitions(_.map { case (id, wav) =>
        val (rate, n, amp) = RealCodecs.decodeWav(wav)
        (id, rate.toLong, n.toLong, amp)
      })
      .toDF("doc_id", "sample_rate", "n_samples", "amp_sum")
      .orderBy(col("doc_id"))
  }

  /** WAV synth → REAL RIFF parse → [[AudioFpFrames]]-frame energy
    * fingerprint per document — the AUDIO blocking key, the 1-D twin
    * of [[imageAhash]]: a dedup pass buckets on the fingerprint (or
    * bands it for a Hamming ball, exactly the [[imageNeardup]]
    * consumer shape — same banding arithmetic, fewer bits) and only
    * fingerprint longs ever shuffle, never PCM payloads. All-integer
    * frame-vs-clip mean comparison keeps the bits under the DuckDB
    * gate from the closed-form sample definition.
    */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame =
    audioFingerprintOn(spark,
      Tables.documents(spark, dir).select(col("doc_id")))
      .orderBy(col("doc_id"))

  /** Unsorted fingerprint body shared by the graded entry (which adds
    * the presentation sort), [[audioDedup]] (which checkpoints it
    * unsorted — a sort feeding a hash join is wasted shuffle), and
    * the scaling probe (so the probe measures THIS op, not a copy
    * that can drift).
    */
  private[graft] def audioFingerprintOn(spark: SparkSession,
      ids: DataFrame): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val wav = RealCodecs.syntheticWavAm(id, 1000 + (id % 500).toInt, 16000)
        val (_, n, fp) = RealCodecs.fingerprintWav(wav)
        (id, n.toLong, fp)
      })
      .toDF("doc_id", "n_samples", "afp")
  }

  /** Exact acoustic dedup — the audio twin of [[imageDedup]]: one row
    * per clip mapping to its fingerprint class's min-doc
    * representative + class size, via the same groupBy-not-window
    * discipline (map-side partials collapse a hot class per partition
    * before the shuffle). The fingerprint table is checkpointed
    * because both join sides consume it — the round-16 image-probe
    * lesson: an unmaterialized frame would synthesize + parse every
    * clip twice.
    */
  def audioDedup(spark: SparkSession, dir: String): DataFrame = {
    val fp = audioFingerprintOn(spark,
        Tables.documents(spark, dir).select(col("doc_id")))
      .select(col("doc_id"), col("afp")).localCheckpoint()
    val reps = fp.groupBy(col("afp"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_class"))
    fp.join(reps, Seq("afp"))
      .select(col("doc_id"), col("rep_id"), col("n_class"))
      .orderBy(col("doc_id"))
  }

  /** Chunk size (samples) for the graded [[audioFingerprintChunks]]
    * entry — small so every fixture clip (1000–1499 samples) spans
    * 2–3 chunks and the short-tail chunk path is exercised under the
    * gate; production sizes this to the 2^24-sample bound the whole-
    * clip fingerprints enforce.
    */
  val AudioChunkSamples = 512

  /** The unsorted (doc_id, n_samples, afp_hi, afp_lo) WIDE-fingerprint
    * table — synth + RIFF decode + 64-frame fingerprint, MATERIALIZED
    * once per (session, corpus) like [[ahashTable]]: the decode is the
    * dominant linear pass and both consumers
    * ([[audioFingerprintWide]], [[audioNeardup]] — the latter on BOTH
    * band-join sides and both expansion ends) plan over the narrow
    * 4-long read-back.
    */
  private[graft] def audioFpWideTable(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Scratch.storedOnce(spark, dir, "documents", "audio_fp_wide")(
        audioFpWideOf(spark, Tables.documents(spark, dir).select(col("doc_id"))))
      .select(col("doc_id"), col("n_samples"), col("afp_hi"), col("afp_lo"))
  }

  /** Decode+fingerprint pipeline on an arbitrary doc_id frame — the
    * shared body of [[audioFpWideTable]] and the scaling probe.
    */
  private[graft] def audioFpWideOf(spark: SparkSession,
      ids: DataFrame): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val wav = RealCodecs.syntheticWavAm(id, 1000 + (id % 500).toInt, 16000)
        val (_, n, hi, lo) = RealCodecs.fingerprintWavWide(wav)
        (id, n.toLong, hi, lo)
      })
      .toDF("doc_id", "n_samples", "afp_hi", "afp_lo")
  }

  /** WIDE 64-frame acoustic fingerprint per clip, graded — the
    * BANDABLE audio key ([[RealCodecs.fingerprintWavWide]]): two
    * unsigned 32-bit halves exactly like the image aHash, so the
    * near-dup tier below reuses the image banding verbatim.
    */
  def audioFingerprintWide(spark: SparkSession, dir: String): DataFrame =
    audioFpWideTable(spark, dir).orderBy(col("doc_id"))

  /** Acoustic near-duplicate pairs — the audio triple's missing leg
    * (blocking key → NEAR-DUP PAIRS → dedup decision): the
    * [[imageNeardup]] banding applied to the wide fingerprint,
    * literally [[neardupFromHashes]] on renamed columns, so audio
    * inherits the distinct-hash granularity, the complete-recall
    * pigeonhole at Hamming ≤ [[ImageNeardupMaxDist]], the popcount
    * verify, and (via [[neardupFromHashesWide]] when a corpus's
    * measured band skew demands it — the [[routeWide]] criterion) the
    * Manku wide escalation — one banding engine, two modalities, and
    * a fix in either serves both.
    */
  def audioNeardup(spark: SparkSession, dir: String): DataFrame =
    // routed like the image entry: the occupancy estimator prices THIS
    // corpus's fingerprint skew, so a pathological acoustic key
    // distribution escalates to the wide tier automatically (values
    // identical either way — the shared oracle holds on both routes)
    neardupFromHashesAuto(audioFpWideTable(spark, dir)
      .select(col("doc_id"), col("afp_hi").as("ahash_hi"),
        col("afp_lo").as("ahash_lo")))

  /** Chunked long-clip fingerprints, graded at [[AudioChunkSamples]]:
    * the flatMap shape ([[RealCodecs.fingerprintWavChunks]]) that
    * lifts the whole-clip 2^24-sample bound — one row per (clip,
    * chunk), each chunk fingerprinted against its OWN mean. The gate
    * proves chunk boundaries, the short tail chunk, and the per-chunk
    * bit math against DuckDB's closed-form replay.
    */
  def audioFingerprintChunks(spark: SparkSession, dir: String): DataFrame =
    audioChunkTable(spark, dir).orderBy(col("doc_id"), col("chunk"))

  /** The unsorted (doc_id, chunk, n_samples, afp) per-chunk
    * fingerprint table, MATERIALIZED once per (session, corpus) like
    * [[ahashTable]]: the synth+decode is the dominant linear pass and
    * both graded consumers ([[audioFingerprintChunks]],
    * [[audioChunkNeardup]] — the latter on the df filter and both
    * posting-join sides) plan over the narrow 4-long read-back.
    */
  private[operators] def audioChunkTable(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Scratch.storedOnce(spark, dir, "documents", "audio_fp_chunks")(
        audioChunkFpOf(spark, Tables.documents(spark, dir).select(col("doc_id"))))
      .select(col("doc_id"), col("chunk"), col("n_samples"), col("afp"))
  }

  /** Decode + per-chunk fingerprint pipeline on an arbitrary doc_id
    * frame — the shared body of [[audioChunkTable]].
    */
  private[graft] def audioChunkFpOf(spark: SparkSession,
      ids: DataFrame): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val wav = RealCodecs.syntheticWavAm(id, 1000 + (id % 500).toInt, 16000)
        RealCodecs.fingerprintWavChunks(wav, AudioChunkSamples).map {
          case (c, len, fp) => (id, c.toLong, len.toLong, fp)
        }
      })
      .toDF("doc_id", "chunk", "n_samples", "afp")
  }

  /** Stride for the graded [[audioFingerprintWindows]] entry — half
    * the chunk width, so every fixture clip exercises overlapping
    * windows, stride-aligned (but chunk-UNALIGNED) placement, and the
    * sub-stride tail windows under the gate.
    */
  val AudioWindowStride = AudioChunkSamples / 2

  /** OVERLAPPING-window acoustic fingerprints, graded at
    * [[AudioChunkSamples]]/[[AudioWindowStride]] — the strided twin of
    * [[audioFingerprintChunks]] that lifts chunk-boundary alignment
    * sensitivity: a copied segment starting on any STRIDE multiple
    * fingerprints identically in both clips, so the near-dup consumer
    * ([[audioChunkNeardupOn]] — the window table drops in as the
    * chunk table, offset semantics become window-index offsets)
    * detects placements the boundary chunker is blind to
    * (spec-pinned with a planted stride-aligned, chunk-unaligned
    * copy). Same flatMap scale shape: one row per (clip, window),
    * only longs downstream.
    */
  def audioFingerprintWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val wav = RealCodecs.syntheticWavAm(id, 1000 + (id % 500).toInt, 16000)
        RealCodecs.fingerprintWavWindows(wav, AudioChunkSamples,
          AudioWindowStride).map {
          case (w, len, fp) => (id, w.toLong, len.toLong, fp)
        }
      })
      .toDF("doc_id", "win", "n_samples", "afp")
      .orderBy(col("doc_id"), col("win"))
  }

  /** Chunk-fingerprint document-frequency cap for
    * [[audioChunkNeardup]] — the winnowing/MOSS posting discipline on
    * the acoustic key: a chunk fingerprint held by more than this
    * many clips is an acoustic STOP-WORD (silence, constant tones,
    * codec padding) whose posting list would pair everything with
    * everything; dropping it bounds per-fingerprint join fan-out to
    * C(cap, 2) while genuinely copied segments (rare fingerprints)
    * always survive.
    */
  val AudioChunkMaxDf = 64

  /** Minimum aligned-run length (chunks at one offset) for a clip
    * pair to surface: 1 shared chunk is coincidence-grade at a 16-bit
    * key; ≥ 2 CONSECUTIVE-offset-consistent matches is the copied-
    * segment signal.
    */
  val AudioChunkMinAligned = 2
  private val AudioChunkMinAlignedL = AudioChunkMinAligned.toLong

  /** CHUNK-LEVEL acoustic near-dup — partial-overlap detection for
    * long clips, the audio analog of q_chunk_dedup's cross-document
    * repeated-span insight: a 30-second segment copied into a
    * 10-minute clip is invisible to every whole-clip key (the global
    * fingerprint averages it away) but its chunks fingerprint
    * IDENTICALLY wherever they land. Blocks on exact per-chunk
    * fingerprints ([[audioChunkTable]]), prunes acoustic stop-chunks
    * by document frequency ([[AudioChunkMaxDf]]), then verifies by
    * OFFSET-CONSISTENT match counting: for each clip pair, the best
    * chunk-index offset and how many chunks agree at it —
    * `n_aligned` ≥ [[AudioChunkMinAligned]] surfaces the pair, the
    * [[graft.operators.Dedup]] winnow-pairs contract shape. Detection
    * is chunk-boundary-aligned by construction (an unaligned copy
    * shifts every chunk's sample window); production layers an
    * overlapping-window chunker on the same join, which only changes
    * the flatMap, never this consumer.
    *
    * Scale shape: only (doc_id, chunk, afp) longs shuffle; the
    * posting self-join is df-capped so fan-out per fingerprint is
    * bounded; the count/argmin stages are groupBy-not-window with
    * map-side partials.
    */
  def audioChunkNeardup(spark: SparkSession, dir: String): DataFrame =
    audioChunkNeardupOn(audioChunkTable(spark, dir))

  private[graft] def audioChunkNeardupOn(ch: DataFrame): DataFrame = {
    val dfc = ch.groupBy(col("afp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= AudioChunkMaxDf)
      .select(col("afp"))
    val posts = ch.join(dfc, Seq("afp"))
      .select(col("afp"), col("doc_id"), col("chunk"))
    val cnt = posts.as("a")
      .join(posts.as("c"),
        col("a.afp") === col("c.afp") && col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("c.doc_id").as("id_b"),
        (col("c.chunk") - col("a.chunk")).as("offset"))
      .groupBy(col("id_a"), col("id_b"), col("offset"))
      .agg(count(lit(1)).as("n"))
      // consumed by BOTH the best-count aggregation and the argmin
      // join below — pin it or the posting self-join runs twice
      .localCheckpoint()
    val best = cnt.groupBy(col("id_a"), col("id_b"))
      .agg(max(col("n")).as("n_aligned"))
      .filter(col("n_aligned") >= AudioChunkMinAlignedL)
    // deterministic presentation: min offset among those achieving the
    // best aligned count (ties possible when two runs tie in length)
    cnt.join(best, Seq("id_a", "id_b"))
      .filter(col("n") === col("n_aligned"))
      .groupBy(col("id_a"), col("id_b"), col("n_aligned"))
      .agg(min(col("offset")).as("offset"))
      .select(col("id_a"), col("id_b"), col("offset"), col("n_aligned"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Build the multimodal table from documents: text bytes stand in for
    * the media payload (binary column), lang for the container format.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        col("lang").as("format"),
        col("source"))
      .as[MediaRecord]
  }

  /** Decode + featurize partition-wise (the batch seam where a real
    * decoder would amortize per-batch setup), then aggregate features
    * per format — the narrow→wide split described above.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .mapPartitions(_.map(MediaDecoder.decodeStub))
      .toDF()
      .select(col("doc_id"), col("n_bytes"), col("format"), col("feature"))
      .orderBy(col("doc_id"))
  }

  val FrameSamples = 4 // frames sampled per payload

  /** Resize + frame-sample pipeline: payload-shrinking stages run as
    * narrow per-partition maps BEFORE anything wide; the one-to-many
    * frame explosion emits (doc, frame_idx, chunk) records whose chunks
    * are immediately reduced to features. Per-format frame counts are
    * the (tiny) aggregate that shuffles.
    */
  def frameFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .mapPartitions(_.map(MediaDecoder.resizeStub(_, 4096)))
      .mapPartitions(_.flatMap(MediaDecoder.frameSampleStub(_, FrameSamples)))
      .map { case (doc, idx, chunk) => (doc, idx, chunk.length.toLong) }
      .toDF("doc_id", "frame_idx", "chunk_bytes")
      .groupBy(col("frame_idx"))
      .agg(count(lit(1)).as("n_frames"), sum(col("chunk_bytes")).as("total_bytes"))
      .orderBy(col("frame_idx"))
  }

  /** Per-format feature rollup (features only — payloads were dropped
    * before this shuffle).
    */
  def mediaStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .mapPartitions(_.map(MediaDecoder.decodeStub))
      .toDF()
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("feature")).as("min_feature"))
      .orderBy(col("format"))
  }
}
