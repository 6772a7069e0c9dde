package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata extracted by a partition-wise decoder.
  *
  * The Spark-side shape is the real deliverable: binary payload column,
  * `mapPartitions` batch decode (one decoder instantiation per
  * partition, not per row — the same shape a JNI image/audio codec
  * needs), typed `Dataset` output with an explicit schema.
  *
  * The decode path is REAL for formats the JVM ships codecs for:
  * [[decodeMedia]] parses actual PNG/BMP/GIF/JPEG containers through
  * `javax.imageio` (pure-JVM, no native libs) and reports true pixel
  * dimensions and channel counts. Payloads no registered reader
  * recognizes fall back to the clearly-marked deterministic STUB
  * ([[decodeStub]]) so the pipeline stays total and oracle-checkable
  * over non-media stand-in payloads; a video/audio codec would slot in
  * beside the imageio branch the same way.
  *
  * Scale: decode is embarrassingly parallel; partition sizing is
  * governed by `spark.sql.files.maxPartitionBytes` on the payload scan,
  * and the output is a narrow metadata table (bytes → ~24B/row), so the
  * heavy binary column is dropped before any shuffle.
  */
object Multimodal {
  /** Typed metadata row produced by the decoder. `real_decode` records
    * which branch produced the row: true = an actual imageio codec
    * parsed the container, false = the deterministic stub.
    */
  case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
      channels: Int, real_decode: Boolean)

  /** STUB decoder ??? — stands in for a real decode when no codec
    * recognizes the payload (here: the text-bytes stand-in blobs).
    * Deterministic pure arithmetic on the payload bytes so the whole
    * pipeline (schema, batching, partitioning) is testable and carries
    * a DuckDB oracle.
    */
  private def decodeStub(docId: Long, payload: Array[Byte]): MediaMeta = {
    val nBytes = payload.length
    val firstByte = if (nBytes > 0) payload(0) & 0xff else 0
    MediaMeta(docId, nBytes, 64 + nBytes % 512, 64 + firstByte % 512, 3,
      real_decode = false)
  }

  /** REAL decode via `javax.imageio` (PNG/BMP/GIF/JPEG readers ship
    * with the JVM): true pixel width/height and the color model's
    * channel count from the parsed container. Unrecognized or corrupt
    * payloads fall back to [[decodeStub]].
    */
  private[graft] def decodeMedia(docId: Long, payload: Array[Byte]): MediaMeta =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) decodeStub(docId, payload)
      else MediaMeta(docId, payload.length, img.getWidth, img.getHeight,
        img.getColorModel.getNumComponents, real_decode = true)
    } catch { case _: Exception => decodeStub(docId, payload) }

  /** Attach a binary payload column (here: the UTF-8 text bytes as the
    * stand-in media blob; real data would read e.g. image files).
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Deterministic REAL image fixture: each doc's text renders to a
    * tiny true PNG (grayscale values from the text bytes) with
    * dimensions derived from the doc — width = 8 + doc_id % 24,
    * height = 8 + utf8len(text) % 24 — so a decode that parses the
    * actual container recovers oracle-predictable dimensions. The
    * encode runs partition-wise like the decode (imageio is pure JVM).
    */
  def withImagePayload(docs: DataFrame): DataFrame = {
    val payloads = withPayload(docs)
    import payloads.sparkSession.implicits._
    payloads.as[(Long, Array[Byte])].mapPartitions { batch =>
      // ImageIO defaults to a DISK-backed stream cache — a temp file
      // per encode/decode call, which dominates small-image batches
      // (2x the whole query at sf0.1). In-memory streams need no cache.
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { case (id, seed) =>
        val w = (8 + id % 24).toInt
        val h = 8 + seed.length % 24
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var i = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val b = if (seed.isEmpty) 0 else seed(i % seed.length) & 0xff
            img.setRGB(x, y, (b << 16) | (b << 8) | b)
            i += 1; x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  /** Per-image perceptual hash row: the 64 dHash bits split into two
    * 32-bit words (`w0` = bits 0–31, `w1` = bits 32–63, bit r·8+c set
    * iff gray(c+1, r) > gray(c, r) on the 9×8 thumbnail) — 32-bit
    * words keep every engine's integer arithmetic exact, the q286
    * packing discipline.
    */
  case class PHashRow(doc_id: Long, w0: Long, w1: Long, width: Int,
      height: Int, real_decode: Boolean)

  /** Deterministic REAL image fixture for perceptual hashing: a 9×8
    * grayscale PNG whose raster is the closed form
    * `gray(x, y) = (A + 7x + 13y) % 256`, `A = (doc_id % 16)·31 +
    * doc_id % 7` — docs sharing `A` render identical images, docs
    * with nearby `A` render near-duplicates (the wraparound positions
    * shift slightly), so the downstream dHash pairs have
    * oracle-predictable Hamming distances. 9×8 is dHash's native
    * thumbnail, making the fixture's hash independent of the resize
    * path (which MultimodalSpec pins separately via block-replicated
    * upscales).
    */
  def withPatternedImagePayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // ids-only repartition before the encode: a single-file parquet
    // scan yields 1-2 partitions, which would serialize 100% of the
    // imageio CPU; the shuffle moves only longs
    val ids = docs.select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)
    import ids.sparkSession.implicits._
    ids.as[Long].mapPartitions { batch =>
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { id =>
        val a = (id % 16) * 31 + id % 7
        val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 9) {
            val g = ((a + 7 * x + 13 * y) % 256).toInt
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  /** Difference-hash (dHash) over REAL decoded rasters: decode via
    * imageio, area-average the gray channel down to the canonical 9×8
    * thumbnail (exact integer block sums, floor-divided — the resize
    * every perceptual-hash pipeline runs), emit the 64 row-gradient
    * bits as two 32-bit words. Near-duplicate IMAGES then reduce to
    * integer Hamming distance on the words — the multimodal twin of
    * SimHash-on-text, and the same banded-join machinery finds pairs
    * without an all-pairs scan. Undecodable payloads yield the stub
    * words (payload-length-seeded) with `real_decode = false`.
    */
  def dHash(payloads: DataFrame): Dataset[PHashRow] = {
    import payloads.sparkSession.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions { batch =>
        javax.imageio.ImageIO.setUseCache(false)
        batch.map { case (id, bytes) =>
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            catch { case _: Exception => null }
          if (img == null) {
            PHashRow(id, bytes.length & 0xffffffffL, 0L, 0, 0,
              real_decode = false)
          } else {
            val (w, h) = (img.getWidth, img.getHeight)
            // exact area-average to 9x8: block [c*w/9,(c+1)*w/9) x
            // [r*h/8,(r+1)*h/8), integer sum, floor division
            val thumb = Array.ofDim[Int](8, 9)
            var r = 0
            while (r < 8) {
              var c = 0
              while (c < 9) {
                val x0 = c * w / 9; val x1 = (c + 1) * w / 9
                val y0 = r * h / 8; val y1 = (r + 1) * h / 8
                var sum = 0L; var n = 0L
                var y = y0
                while (y < y1) {
                  var x = x0
                  while (x < x1) {
                    sum += img.getRGB(x, y) & 0xff; n += 1; x += 1
                  }
                  y += 1
                }
                thumb(r)(c) = if (n == 0) 0 else (sum / n).toInt
                c += 1
              }
              r += 1
            }
            var w0 = 0L; var w1 = 0L
            var b = 0
            while (b < 64) {
              val row = b / 8; val colI = b % 8
              if (thumb(row)(colI + 1) > thumb(row)(colI)) {
                if (b < 32) w0 |= 1L << b else w1 |= 1L << (b - 32)
              }
              b += 1
            }
            PHashRow(id, w0, w1, w, h, real_decode = true)
          }
        }
      }
  }

  /** The near-dup PAIR half of the dHash pipeline, standalone over an
    * already-hashed (doc_id, w0, w1) frame — the seam the PERSISTED
    * fingerprint store reads through (`StreamingPower
    * .fingerprint`): 4×16-bit banded equi-join candidates (the
    * q21/q22 SimHash discipline, never all-pairs), hot bands
    * (> `maxBucket` members — duplicate floods that would turn the
    * join quadratic) dropped via the broadcast-anti cap, exact
    * bit_count Hamming verification, histogram by distance ≤
    * `maxHamming`. The hash frame feeds a self-join, so it
    * checkpoints here (the repo invariant).
    *
    * Output: (hamming, n_pairs) ordered by hamming.
    */
  def dHashPairHistogram(hashRows: DataFrame, maxBucket: Int = 64,
      maxHamming: Int = 6): DataFrame = {
    val hashes = hashRows.select(col("doc_id"), col("w0"), col("w1"))
      .localCheckpoint() // feeds the band explode AND two attach joins
    val banded = hashes.select(col("doc_id"),
      posexplode(array(
        col("w0").bitwiseAND(lit(65535L)),
        shiftright(col("w0"), 16).bitwiseAND(lit(65535L)),
        col("w1").bitwiseAND(lit(65535L)),
        shiftright(col("w1"), 16).bitwiseAND(lit(65535L)))))
      .toDF("doc_id", "k", "band")
    val hot = banded.groupBy("k", "band")
      .agg(count(lit(1)).as("_bn")).filter(col("_bn") > maxBucket)
      .select("k", "band")
    // bands feeds the a/b self-join below: without the checkpoint the
    // banded explode AND the hot-band aggregation both compute twice
    val bands = banded.join(broadcast(hot), Seq("k", "band"), "left_anti")
      .localCheckpoint()
    val cand = bands.as("a").join(bands.as("b"),
        col("a.k") === col("b.k") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(hashes.select(col("doc_id").as("id_a"), col("w0").as("w0a"),
        col("w1").as("w1a")), Seq("id_a"))
      .join(hashes.select(col("doc_id").as("id_b"), col("w0").as("w0b"),
        col("w1").as("w1b")), Seq("id_b"))
      .withColumn("hamming",
        expr("bit_count(w0a ^ w0b) + bit_count(w1a ^ w1b)"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
      .orderBy("hamming")
  }

  /** Partition-wise batch decode of a (doc_id, payload) frame. */
  def decodePayloads(payloads: DataFrame): Dataset[MediaMeta] = {
    import payloads.sparkSession.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions { batch =>
        // Real decoders init per-partition state here (codec handles
        // etc.); in-memory payloads never want ImageIO's temp-file cache
        javax.imageio.ImageIO.setUseCache(false)
        batch.map { case (id, bytes) => decodeMedia(id, bytes) }
      }
  }

  /** Partition-wise batch decode: binary payloads → typed metadata. */
  def decodeFeatures(docs: DataFrame): Dataset[MediaMeta] =
    decodePayloads(withPayload(docs))

  /** Resize planning row: source dims → fitted dims + scale factor. */
  case class ResizeMeta(doc_id: Long, src_w: Int, src_h: Int,
      dst_w: Int, dst_h: Int, scale: Double)

  /** Resize-to-fit planning: aspect-preserving scale into a
    * (maxW, maxH) box, never upscaling — the dimension arithmetic every
    * image-normalization stage runs before the actual pixel resample.
    * Composes the partition-wise decode (real imageio dims for media
    * payloads, stub dims for stand-ins; a real pipeline resamples
    * pixels in the same mapPartitions pass). All arithmetic is plain
    * IEEE double + floor, bit-identical cross-engine.
    */
  def resizePlan(docs: DataFrame, maxW: Int = 256, maxH: Int = 256): Dataset[ResizeMeta] = {
    val metas = decodeFeatures(docs)
    import metas.sparkSession.implicits._
    metas.map { m =>
      val scale = math.min(math.min(maxW.toDouble / m.width, maxH.toDouble / m.height), 1.0)
      ResizeMeta(m.doc_id, m.width, m.height,
        math.max(1, math.floor(m.width * scale).toInt),
        math.max(1, math.floor(m.height * scale).toInt),
        BigDecimal(scale).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  /** Typed metadata row produced by the audio decoder. `sum_sq` is the
    * exact integer energy (Σ sample², int16 samples — fits a long at
    * any realistic clip length), so the acoustic feature aggregates
    * without float-order hazards; RMS is one float expression away.
    */
  case class AudioMeta(doc_id: Long, n_bytes: Int, sample_rate: Int,
      channels: Int, n_samples: Int, duration_ms: Long, sum_sq: Long,
      real_decode: Boolean)

  private def audioStub(docId: Long, payload: Array[Byte]): AudioMeta =
    AudioMeta(docId, payload.length, 0, 0, 0, 0L, 0L, real_decode = false)

  /** REAL audio decode: a manual RIFF/WAVE container parse (PCM 16-bit
    * only — the format [[withAudioPayload]] synthesizes), pure JVM, no
    * codec libs: walks the chunk list for `fmt ` and `data`, reads the
    * true sample rate / channel count / sample frames, and accumulates
    * the exact integer energy. Anything that isn't a parseable 16-bit
    * PCM WAV falls back to the zeroed stub row (`real_decode = false`),
    * keeping the pipeline total.
    */
  private[graft] def decodeWav(docId: Long, p: Array[Byte]): AudioMeta =
    try {
      def le16(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      def le32(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) |
        ((p(o + 2) & 0xff) << 16) | ((p(o + 3) & 0xff) << 24)
      def tag(o: Int) = new String(p, o, 4, "US-ASCII")
      if (p.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
        audioStub(docId, p)
      else {
        var off = 12
        var sampleRate = 0; var channels = 0; var bits = 0
        var dataOff = -1; var dataLen = 0
        while (off + 8 <= p.length) {
          val t = tag(off); val len = le32(off + 4)
          if (t == "fmt ") {
            channels = le16(off + 10); sampleRate = le32(off + 12)
            bits = le16(off + 22)
          } else if (t == "data") { dataOff = off + 8; dataLen = len }
          off += 8 + len + (len & 1) // RIFF chunks pad to even offsets
        }
        if (dataOff < 0 || bits != 16 || channels <= 0 || sampleRate <= 0 ||
            dataOff + dataLen > p.length) audioStub(docId, p)
        else {
          val n = dataLen / (2 * channels)
          var i = 0; var sumSq = 0L
          while (i < n * channels) {
            val v = le16(dataOff + 2 * i).toShort.toInt
            sumSq += v.toLong * v
            i += 1
          }
          AudioMeta(docId, p.length, sampleRate, channels, n,
            n.toLong * 1000L / sampleRate, sumSq, real_decode = true)
        }
      }
    } catch { case _: Exception => audioStub(docId, p) }

  /** Deterministic REAL audio fixture: each doc renders to a true
    * 16-bit PCM mono WAV at 8 kHz — `64 + utf8len(text) % 192` sample
    * frames of the integer waveform `((doc_id·37 + i·131) % 4001) −
    * 2000` — so a decoder that parses the actual container recovers
    * oracle-predictable rate/channels/length/energy. Synthesis runs
    * partition-wise like the decode.
    */
  def withAudioPayload(docs: DataFrame): DataFrame = {
    val payloads = withPayload(docs)
    import payloads.sparkSession.implicits._
    payloads.as[(Long, Array[Byte])].mapPartitions { batch =>
      batch.map { case (id, seed) =>
        val n = 64 + (seed.length % 192)
        val rate = 8000; val channels = 1
        val dataLen = n * 2
        val bos = new java.io.ByteArrayOutputStream(44 + dataLen)
        def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
        def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
        def wtag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
        wtag("RIFF"); w32(36 + dataLen); wtag("WAVE")
        wtag("fmt "); w32(16); w16(1); w16(channels); w32(rate)
        w32(rate * channels * 2); w16(channels * 2); w16(16)
        wtag("data"); w32(dataLen)
        var i = 0
        while (i < n) {
          val s = ((id * 37L + i.toLong * 131L) % 4001L).toInt - 2000
          w16(s & 0xffff)
          i += 1
        }
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  /** Partition-wise batch decode of audio payloads. */
  def decodeAudioPayloads(payloads: DataFrame): Dataset[AudioMeta] = {
    import payloads.sparkSession.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions { batch =>
        batch.map { case (id, bytes) => decodeWav(id, bytes) }
      }
  }

  /** Per-clip acoustic fingerprint row: 64 energy-shape bits split
    * into two 32-bit words (the q286/PHashRow packing discipline —
    * 32-bit halves keep every engine's integer arithmetic exact), so
    * near-duplicate AUDIO reduces to integer Hamming distance and the
    * SAME banded pair machinery as images ([[dHashPairHistogram]]
    * takes any (doc_id, w0, w1) frame).
    */
  case class AudioFpRow(doc_id: Long, n_samples: Int, w0: Long, w1: Long,
      real_decode: Boolean)

  /** REAL acoustic fingerprint: parse the RIFF/WAVE container (the
    * [[decodeWav]] walk — PCM 16-bit), split the clip's sample frames
    * into 33 contiguous windows (window of frame i = ⌊i·33/n⌋), and
    * take the 32 energy-gradient bits E₍ⱼ₊₁₎ > Eⱼ as `w0` and the 32
    * DC-gradient bits A₍ⱼ₊₁₎ > Aⱼ as `w1` — the Haitsma–Kalker
    * band-energy-difference idea collapsed to one spectral-free
    * band, every accumulator an exact integer (|s| ≤ 32768, so
    * Σs² fits a long at any realistic clip length). Same gradient
    * robustness story as dHash: global gain shifts both sides of
    * each comparison. Multi-channel clips fingerprint the
    * interleaved stream (channel frames land in the same window).
    * Undecodable payloads yield the length-seeded stub words with
    * `real_decode = false`, keeping the pipeline total.
    */
  private[graft] def audioFp(docId: Long, p: Array[Byte]): AudioFpRow =
    try {
      def le16(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      def le32(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) |
        ((p(o + 2) & 0xff) << 16) | ((p(o + 3) & 0xff) << 24)
      def tag(o: Int) = new String(p, o, 4, "US-ASCII")
      if (p.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
        AudioFpRow(docId, 0, p.length & 0xffffffffL, 0L, real_decode = false)
      else {
        var off = 12
        var channels = 0; var bits = 0
        var dataOff = -1; var dataLen = 0
        while (off + 8 <= p.length) {
          val t = tag(off); val len = le32(off + 4)
          if (t == "fmt ") { channels = le16(off + 10); bits = le16(off + 22) }
          else if (t == "data") { dataOff = off + 8; dataLen = len }
          off += 8 + len + (len & 1) // RIFF chunks pad to even offsets
        }
        val n = if (channels > 0) dataLen / (2 * channels) else 0
        if (dataOff < 0 || bits != 16 || channels <= 0 || n <= 0 ||
            dataOff + dataLen > p.length)
          AudioFpRow(docId, 0, p.length & 0xffffffffL, 0L, real_decode = false)
        else {
          val e = Array.ofDim[Long](33)
          val a = Array.ofDim[Long](33)
          var i = 0
          while (i < n) {
            val j = (i.toLong * 33L / n).toInt
            var c = 0
            while (c < channels) {
              val v = le16(dataOff + 2 * (i * channels + c)).toShort.toInt
              e(j) += v.toLong * v
              a(j) += v
              c += 1
            }
            i += 1
          }
          var w0 = 0L; var w1 = 0L
          var j = 0
          while (j < 32) {
            if (e(j + 1) > e(j)) w0 |= 1L << j
            if (a(j + 1) > a(j)) w1 |= 1L << j
            j += 1
          }
          AudioFpRow(docId, n, w0, w1, real_decode = true)
        }
      }
    } catch { case _: Exception =>
      AudioFpRow(docId, 0, p.length & 0xffffffffL, 0L, real_decode = false) }

  /** Partition-wise batch fingerprinting of audio payloads. */
  def audioFingerprint(payloads: DataFrame): Dataset[AudioFpRow] = {
    import payloads.sparkSession.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions { batch =>
        batch.map { case (id, bytes) => audioFp(id, bytes) }
      }
  }

  /** Deterministic REAL audio fixture for fingerprinting — the
    * acoustic twin of [[withPatternedImagePayload]]: a true 16-bit
    * PCM mono 8 kHz WAV whose waveform is the closed form
    * `s(i) = ((A·37 + i·131) % 4001) − 2000` over
    * `n = 64 + (A·3) % 192` frames, `A = (doc_id % 16)·31 +
    * doc_id % 7` — docs sharing `A` render IDENTICAL clips (Hamming-0
    * fingerprint pairs), distinct `A`s render independent waveforms,
    * so the downstream banded pair histogram is oracle-predictable.
    * Synthesis fans out over an ids-only repartition (the q290
    * lesson: a single-file scan would serialize the codec CPU).
    */
  def withPatternedAudioPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val ids = docs.select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)
    import ids.sparkSession.implicits._
    ids.as[Long].mapPartitions { batch =>
      batch.map { id =>
        val a = (id % 16) * 31 + id % 7
        val n = (64 + (a * 3) % 192).toInt
        val dataLen = n * 2
        val bos = new java.io.ByteArrayOutputStream(44 + dataLen)
        def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
        def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
        def wtag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
        wtag("RIFF"); w32(36 + dataLen); wtag("WAVE")
        wtag("fmt "); w32(16); w16(1); w16(1); w32(8000)
        w32(8000 * 2); w16(2); w16(16)
        wtag("data"); w32(dataLen)
        var i = 0
        while (i < n) {
          val s = ((a * 37L + i.toLong * 131L) % 4001L).toInt - 2000
          w16(s & 0xffff)
          i += 1
        }
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  /** Per-video temporal fingerprint row — the third modality of the
    * 2×32-bit-word signature family (images [[PHashRow]], audio
    * [[AudioFpRow]]): near-duplicate VIDEO reduces to integer Hamming
    * distance through the same banded machinery
    * ([[dHashPairHistogram]] takes any (doc_id, w0, w1) frame).
    */
  case class VideoFpRow(doc_id: Long, n_frames: Int, w0: Long, w1: Long,
      real_decode: Boolean)

  /** REAL temporal video fingerprint: walk the container's frame
    * sequence (the [[sampleVideoFrames]] reader machinery), sample 33
    * evenly-spaced positions (position j = frame ⌊j·nf/33⌋, each
    * distinct frame decoded ONCE), take each position's true average
    * luminance L = ⌊Σ gray / (w·h)⌋ over the fully decoded raster,
    * and emit `w0` = the 32 temporal luminance-gradient bits
    * L₍ⱼ₊₁₎ > Lⱼ (the classic temporal-signature idea — gradients
    * survive global gain shifts) and `w1` = the 32 coarse
    * luminance-level bits (L ⁄ 32) mod 2 (an 8-level quantization
    * complementing the gradients where a clip is temporally flat).
    * All integer arithmetic; undecodable payloads yield the
    * length-seeded stub with `real_decode = false`.
    */
  def videoFingerprint(payloads: DataFrame): Dataset[VideoFpRow] = {
    import payloads.sparkSession.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions { batch =>
        javax.imageio.ImageIO.setUseCache(false)
        batch.map { case (id, bytes) =>
          try {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext)
              VideoFpRow(id, 0, bytes.length & 0xffffffffL, 0L,
                real_decode = false)
            else {
              val reader = readers.next()
              reader.setInput(iis, false, true)
              val nf = reader.getNumImages(true)
              if (nf <= 0)
                VideoFpRow(id, 0, bytes.length & 0xffffffffL, 0L,
                  real_decode = false)
              else {
                val lumCache = scala.collection.mutable.Map.empty[Int, Long]
                def lum(fidx: Int): Long = lumCache.getOrElseUpdate(fidx, {
                  val img = reader.read(fidx)
                  val w = img.getWidth; val h = img.getHeight
                  var sum = 0L; var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) { sum += (img.getRGB(x, y) & 0xff); x += 1 }
                    y += 1
                  }
                  if (w * h == 0) 0L else sum / (w.toLong * h)
                })
                val ls = Array.tabulate(33)(j => lum((j * nf) / 33))
                reader.dispose()
                var w0 = 0L; var w1 = 0L
                var j = 0
                while (j < 32) {
                  if (ls(j + 1) > ls(j)) w0 |= 1L << j
                  if ((ls(j) / 32) % 2 == 1) w1 |= 1L << j
                  j += 1
                }
                VideoFpRow(id, nf, w0, w1, real_decode = true)
              }
            }
          } catch { case _: Exception =>
            VideoFpRow(id, 0, bytes.length & 0xffffffffL, 0L,
              real_decode = false) }
        }
      }
  }

  /** Deterministic REAL video fixture for fingerprinting — the
    * temporal twin of [[withPatternedImagePayload]]: a true animated
    * GIF (exact 256-gray indexed palette, lossless round-trip) of
    * `nf = 2 + A % 5` constant-gray frames, frame f's gray
    * `(A·31 + f·17) % 256`, dims `(8 + A % 16) × (8 + 5A % 16)`,
    * `A = (doc_id % 16)·31 + doc_id % 7` — docs sharing `A` render
    * IDENTICAL clips, so the banded pair histogram is
    * oracle-predictable. Synthesis fans out over an ids-only
    * repartition (the q290 lesson).
    */
  def withPatternedVideoPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val ids = docs.select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)
    import ids.sparkSession.implicits._
    ids.as[Long].mapPartitions { batch =>
      javax.imageio.ImageIO.setUseCache(false)
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      batch.map { id =>
        val a = (id % 16) * 31 + id % 7
        val nf = (2 + a % 5).toInt
        val w = (8 + a % 16).toInt
        val h = (8 + (a * 5) % 16).toInt
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nf) {
          val g = ((a * 31L + f.toLong * 17L) % 256L).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { raster.setSample(x, y, 0, g); x += 1 }
            y += 1
          }
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
        ios.close()
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  /** One sampled frame of a media payload. */
  case class FrameMeta(doc_id: Long, frame_idx: Int, frame_offset: Int, frame_hash: Int)

  /** One sampled, REALLY-decoded frame of a multi-frame video payload.
    * `gray` is the frame's planted constant gray level, `pixel_sum` the
    * exact integer sum over EVERY decoded pixel's gray channel —
    * evidence the full raster was decoded, not just the header.
    */
  case class VideoFrameMeta(doc_id: Long, sample_idx: Int, frame_idx: Int,
      n_frames: Int, width: Int, height: Int, gray: Int, pixel_sum: Long,
      real_decode: Boolean)

  /** Exact 256-level gray palette: GIF stores the palette verbatim, so
    * an indexed write through this model round-trips every gray value
    * losslessly (no quantizer in the loop).
    */
  private def grayPalette: java.awt.image.IndexColorModel = {
    val cmap = Array.tabulate(256)(i => (0xff << 24) | (i << 16) | (i << 8) | i)
    new java.awt.image.IndexColorModel(8, 256, cmap, 0, false, -1,
      java.awt.image.DataBuffer.TYPE_BYTE)
  }

  /** Deterministic REAL video fixture: each doc renders to a true
    * multi-frame ANIMATED GIF (the one multi-frame container the JVM
    * ships a codec for — `ImageIO`'s gif plugin supports
    * `prepareWriteSequence`/`writeToSequence` and random-access
    * `read(i)` on decode). Planted, oracle-predictable geometry:
    * n_frames = 2 + doc_id % 5, width = 8 + doc_id % 16,
    * height = 8 + utf8len(text) % 16, frame f filled with the constant
    * gray (doc_id·31 + f·17) % 256 through an exact 256-gray palette.
    * One writer instance per PARTITION (reset per doc), the codec-init
    * shape a native video decoder needs.
    */
  def withVideoPayload(docs: DataFrame): DataFrame = {
    val payloads = withPayload(docs)
    import payloads.sparkSession.implicits._
    payloads.as[(Long, Array[Byte])].mapPartitions { batch =>
      javax.imageio.ImageIO.setUseCache(false)
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      batch.map { case (id, seed) =>
        val nf = (2 + id % 5).toInt
        val w = (8 + id % 16).toInt
        val h = 8 + seed.length % 16
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nf) {
          val g = ((id * 31L + f.toLong * 17L) % 256L).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { raster.setSample(x, y, 0, g); x += 1 }
            y += 1
          }
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
        ios.close()
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  /** No-codec fallback for [[sampleVideoFrames]] — the q52 arithmetic
    * stub shape (gray = the byte at the evenly-spaced offset), zeroed
    * geometry, `real_decode = false`; keeps the pipeline total over
    * payloads no installed reader recognizes.
    */
  private def videoStubRows(docId: Long, bytes: Array[Byte],
      nSample: Int): Seq[VideoFrameMeta] = {
    val nb = bytes.length
    (0 until nSample).map { i =>
      val off = if (nb == 0) 0 else ((i.toLong * nb) / nSample).toInt
      val g = if (nb == 0) 0 else bytes(off) & 0xff
      VideoFrameMeta(docId, i, i, 0, 0, 0, g, g.toLong, real_decode = false)
    }
  }

  /** REAL frame sampling over multi-frame payloads: walk the container
    * once for the frame count (`getNumImages(true)`), then decode ONLY
    * the `nSample` evenly-spaced frames via random-access `read(i)` —
    * the sampling never pays for unsampled frames, which is the whole
    * point at video scale. Emits the frame count, true per-frame dims,
    * the (0,0) gray level, and the exact full-raster pixel sum.
    * Payloads without a recognizing reader fall back to
    * [[videoStubRows]].
    */
  def sampleVideoFrames(payloads: DataFrame, nSample: Int): Dataset[VideoFrameMeta] = {
    import payloads.sparkSession.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions { batch =>
        javax.imageio.ImageIO.setUseCache(false)
        batch.flatMap { case (id, bytes) =>
          try {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext) videoStubRows(id, bytes, nSample)
            else {
              val reader = readers.next()
              reader.setInput(iis, false, true)
              val nf = reader.getNumImages(true)
              val out = (0 until nSample).map { i =>
                val fidx = if (nf == 0) 0 else ((i.toLong * nf) / nSample).toInt
                val img = reader.read(fidx)
                val w = img.getWidth
                val h = img.getHeight
                var sum = 0L
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) { sum += (img.getRGB(x, y) & 0xff); x += 1 }
                  y += 1
                }
                VideoFrameMeta(id, i, fidx, nf, w, h,
                  img.getRGB(0, 0) & 0xff, sum, real_decode = true)
              }
              reader.dispose()
              out
            }
          } catch { case _: Exception => videoStubRows(id, bytes, nSample) }
        }
      }
  }

  /** Frame sampling: each payload fans out to `nFrames` evenly-spaced
    * frames — the video/audio sampling shape (one row per frame, typed,
    * exploded inside the partition; the binary column never survives
    * past the mapPartitions).
    *
    * STUB — frame_hash is the byte at the frame offset, standing in
    * for a decoded-frame content hash; pure arithmetic so the fan-out
    * plumbing carries a DuckDB oracle over codec-less payloads. The
    * REAL multi-frame decode path is [[sampleVideoFrames]] (animated
    * GIF through ImageIO); this stays the no-codec fallback shape.
    */
  def frameSample(docs: DataFrame, nFrames: Int): Dataset[FrameMeta] = {
    val payloads = withPayload(docs)
    import payloads.sparkSession.implicits._
    payloads.as[(Long, Array[Byte])].mapPartitions { batch =>
      batch.flatMap { case (id, bytes) =>
        val nb = bytes.length
        (0 until nFrames).iterator.map { i =>
          val offset = if (nb == 0) 0 else ((i.toLong * nb) / nFrames).toInt
          val hash = if (nb == 0) 0 else bytes(offset) & 0xff
          FrameMeta(id, i, offset, hash)
        }
      }
    }
  }
}
