package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal-column plumbing for training-data pipelines: image/audio/video
 * payloads ride as opaque `binary` columns next to a typed metadata struct;
 * decode / feature-extraction runs per-partition in bounded batches so a
 * real decoder (JNI / subprocess / native lib) drops in without changing
 * the plan shape.
 *
 * The decoders ride behind the same batched contract:
 *
 *  - [[fakeDecode]], a deterministic stand-in for heavyweight VIDEO
 *    codecs (ffmpeg — not in this container);
 *  - [[decodePpm]], a REAL pure-JVM decoder for binary PPM (P6): header
 *    tokenizer (whitespace + '#' comments), dimension/maxval parse, pixel
 *    plane scan. [[encodePpm]] writes the format; the fixture generator
 *    ([[ppmFixture]]) produces real P6 files whose pixels are closed-form
 *    in the doc id, so the oracle can verify the decoded stats without
 *    parsing PPM itself;
 *  - [[decodePng]] / [[decodeJpegDhash]], REAL PNG and JPEG codecs over
 *    the JDK's own javax.imageio (pure JVM, headless-safe, zero new
 *    dependencies) — the formats an actual web crawl ingests. PNG is
 *    lossless, so its decode is closed-form-checksummed like PPM; the
 *    JPEG fixtures are DCT-aligned flat blocks with >= 60-level margins,
 *    so even the LOSSY decode lands on a closed-form dHash bit-exactly;
 *  - [[decodeWav]] / [[decodeWavAfp]], a REAL RIFF/PCM16 chunk-walk
 *    parser for audio. Swapping in a native codec changes only the
 *    decoder function; the plan shape stays.
 *
 * Each real codec over its closed-form fixture corpus is one [[Codec]];
 * [[fixtureCorpus]] decodes any of them, with or without the planted
 * twins, for the batch queries and the streaming gates alike.
 */
object Multimodal {

  /** Typed metadata carried beside every payload. */
  val MetadataSchema: StructType = StructType(Seq(
    StructField("modality", StringType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("content_hash", LongType, nullable = false)))

  /**
   * Wrap a text table into a multimodal layout: payload = utf-8 bytes of
   * the text (a stand-in for real media bytes), metadata derived from the
   * payload. Pure column expressions — this is the ingest contract, not
   * the stub.
   */
  def asMultimodal(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit("image").as("modality"),
        octet_length(encode(col(textCol), "UTF-8")).cast("long").as("byte_len"),
        abs(xxhash64(encode(col(textCol), "UTF-8"))).as("content_hash")).as("meta"))

  /** Decoded-feature row produced per payload. */
  val FeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("mean_intensity", DoubleType, nullable = false)))

  /**
   * STUB decoder: a deterministic fake standing in for e.g. libjpeg /
   * ffmpeg. Derives pseudo width/height/frame-count from payload length
   * and a mean "intensity" from the raw bytes — cheap, deterministic, and
   * shaped exactly like a real decode result.
   */
  def fakeDecode(docId: Long, payload: Array[Byte]): Row = {
    val len = payload.length
    val width = 16 + (len % 64)
    val height = 16 + ((len / 64) % 64)
    val frames = 1 + (len % 8)
    val mean = if (len == 0) 0.0
      else payload.iterator.map(b => (b & 0xff).toDouble).sum / len
    // floor(x*1e6+0.5)/1e6, not rint: half-up reproduces in the SQL oracle
    Row(docId, width, height, frames, math.floor(mean * 1e6 + 0.5) / 1e6)
  }

  /** Decoded-PPM row: real dimensions from the header, a position-weighted
   * pixel checksum (catches byte-order bugs a plain sum would miss) and
   * the mean intensity over the RGB plane. */
  val PpmFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("pixel_checksum", LongType, nullable = false),
    StructField("mean_intensity", DoubleType, nullable = false)))

  /** Binary PPM (P6, maxval 255) writer: ASCII header + raw RGB plane. */
  def encodePpm(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3,
      s"encodePpm: ${rgb.length} bytes for ${width}x$height RGB")
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  /**
   * REAL PPM (P6) decoder, pure JVM: tokenizes the header (arbitrary
   * whitespace, '#' comments to end-of-line, the format's single
   * whitespace byte after maxval), validates magic/maxval/plane length,
   * then scans the pixel plane once for the checksum
   * (sum of (position+1) * value over the flattened RGB stream) and the
   * mean intensity (half-up to 1e-6, the same rounding as [[fakeDecode]]).
   */
  def decodePpm(docId: Long, payload: Array[Byte]): Row = {
    val (w, h, off) = parsePpmHeader(docId, payload)
    val n = w * h * 3
    var sum = 0L; var chk = 0L; var j = 0
    while (j < n) {
      val v = payload(off + j) & 0xff
      sum += v; chk += (j + 1).toLong * v; j += 1
    }
    val mean = if (n == 0) 0.0 else math.floor(sum.toDouble / n * 1e6 + 0.5) / 1e6
    Row(docId, w, h, chk, mean)
  }

  /** P6 header parse shared by [[decodePpm]] and [[decodePpmDhash]]:
   * (width, height, pixel-plane offset), validated (magic, maxval 255,
   * plane length). */
  private def parsePpmHeader(docId: Long, payload: Array[Byte]): (Int, Int, Int) = {
    var pos = 0
    def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\r' || b == '\t'
    def skipWsAndComments(): Unit = {
      var go = true
      while (go && pos < payload.length) {
        if (isWs(payload(pos))) pos += 1
        else if (payload(pos) == '#') {
          while (pos < payload.length && payload(pos) != '\n') pos += 1
        } else go = false
      }
    }
    def intToken(): Int = {
      skipWsAndComments()
      require(pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9',
        s"PPM: expected integer at byte $pos (doc $docId)")
      var v = 0
      while (pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9') {
        v = v * 10 + (payload(pos) - '0'); pos += 1
      }
      v
    }
    require(payload.length >= 2 && payload(0) == 'P' && payload(1) == '6',
      s"PPM: not a P6 payload (doc $docId)")
    pos = 2
    val w = intToken(); val h = intToken(); val maxval = intToken()
    require(maxval == 255, s"PPM: unsupported maxval $maxval (doc $docId)")
    pos += 1 // the format's single whitespace byte between maxval and plane
    require(payload.length - pos >= w * h * 3,
      s"PPM: truncated pixel plane (doc $docId)")
    (w, h, pos)
  }

  /** Perceptual-hash row: (doc_id, dhash). */
  val DhashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("dhash", LongType, nullable = false)))

  /**
   * dHash — the standard 64-bit perceptual difference hash (Krawetz,
   * "Kind of Like That", hackerfactor 2013): sample the decoded image to
   * a 9x8 luminance grid, set bit (gy*8+gx) when the cell is brighter
   * than its right neighbor. Gradient DIRECTIONS survive re-encoding,
   * mild noise, and brightness shifts, so visually-identical images land
   * within a few Hamming bits — the visual twin of SimHash over tokens.
   *
   * Sampling is nearest-neighbor (x = gx*w/9, y = gy*h/8, integer
   * arithmetic — exactly reproducible in the SQL oracle; a production
   * decoder would area-average, which only changes this kernel). The
   * luminance is the integer ITU-R 601 weighting (299r + 587g + 114b)
   * / 1000. Runs behind the same batched [[decodeFeatures]] contract as
   * the codecs.
   */
  def decodePpmDhash(docId: Long, payload: Array[Byte]): Row = {
    val (w, h, off) = parsePpmHeader(docId, payload)
    def lum(x: Int, y: Int): Int = {
      val p = off + (y * w + x) * 3
      (299 * (payload(p) & 0xff) + 587 * (payload(p + 1) & 0xff)
        + 114 * (payload(p + 2) & 0xff)) / 1000
    }
    Row(docId, dhashGrid(docId, w, h, lum))
  }

  /** The 9x8 grid walk shared by every dHash decoder ([[decodePpmDhash]],
   * [[decodeJpegDhash]]): nearest-neighbor sample at (gx*w/9, gy*h/8),
   * bit (gy*8+gx) set when the cell out-brightens its right neighbor.
   * `lum` takes PIXEL coordinates and returns integer luminance. */
  private def dhashGrid(docId: Long, w: Int, h: Int,
                        lum: (Int, Int) => Int): Long = {
    // below the 9x8 grid the sampler reads repeated pixels — the mass
    // near-dup failure mode the fixture comment warns about — and w=0/h=0
    // (header-legal, decodePpm-accepted) would index out of bounds
    require(w >= 9 && h >= 8,
      s"dHash needs >= 9x8 px for distinct grid samples, got ${w}x$h (doc $docId)")
    var hash = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      var cur = lum(0, gy * h / 8)
      while (gx < 8) {
        val next = lum((gx + 1) * w / 9, gy * h / 8)
        if (cur > next) hash |= 1L << (gy * 8 + gx)
        cur = next; gx += 1
      }
      gy += 1
    }
    hash
  }

  /** Deterministic dHash-corpus fixture (and, with `perturb`, its
   * planted near-duplicate twin: +1 (mod 256) on every 9th flattened RGB
   * byte — the "re-encoded copy with slight noise" every image near-dup
   * pass must catch). 16-24 × 12-18 px, LARGER than [[ppmFixture]] on
   * purpose: the 9x8 dHash grid must sample DISTINCT pixels — tiny
   * upsampled images share repeated gradient columns and near-duplicate
   * each other en masse (18% of all pairs at the first attempt),
   * drowning the planted twins in accidental pairs and blowing the pair
   * table up quadratically with corpus size. The pixel formula is
   * deliberately NONLINEAR in (id, position) — a squared mix,
   * v = ((id·131 + i·17 + 251)² / 7) % 256: dHash is brightness-invariant
   * by design, so any fixture family whose members differ by a constant
   * (or linearly-structured) shift mod 256 collapses to near-identical
   * fingerprints (measured: 0.16% of ALL pairs within Hamming 6 for the
   * linear v = (id·31 + i·7) % 256). Still closed-form, so the SQL
   * oracle recomputes every pixel (and thus the dHash) exactly. */
  def ppmDhashFixture(docId: Long, perturb: Boolean = false): Array[Byte] = {
    val w = 16 + (docId % 9).toInt
    val h = 12 + (docId % 7).toInt
    val rgb = Array.tabulate(w * h * 3) { i =>
      val t = docId * 131 + i.toLong * 17 + 251
      ((t * t / 7 + (if (perturb && i % 9 == 0) 1 else 0)) % 256).toByte
    }
    encodePpm(w, h, rgb)
  }

  /** Audio-fingerprint row: (doc_id, afp). */
  val AudioFpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("afp", LongType, nullable = false)))

  /**
   * 64-bit audio envelope fingerprint — the audio twin of
   * [[decodePpmDhash]]: sample the decoded PCM stream's absolute
   * amplitude at 65 evenly-spaced positions (nearest-neighbor,
   * i = f·n/65 — the same integer sampling as the dHash grid), set bit f
   * when sample f out-louds sample f+1. Envelope-gradient DIRECTIONS
   * survive re-encoding and mild noise the way image gradients do; a
   * production pipeline swaps this kernel for a spectral fingerprint
   * (chromaprint-style) inside the same batched decode contract without
   * touching the plan. Runs on the REAL RIFF/PCM16 parser.
   */
  def decodeWavAfp(docId: Long, payload: Array[Byte]): Row = {
    val (_, samples) = wavPcm(docId, payload)
    val n = samples.length
    require(n >= 65, s"WAV fp: need >= 65 samples, got $n (doc $docId)")
    def e(f: Int): Int = math.abs(samples(f * n / 65).toInt)
    var hash = 0L
    var f = 0
    var cur = e(0)
    while (f < 64) {
      val next = e(f + 1)
      if (cur > next) hash |= 1L << f
      cur = next; f += 1
    }
    Row(docId, hash)
  }

  /** RIFF walk shared by the fingerprint decoder: (rate, PCM16 samples)
   * materialized — [[decodeWav]] keeps its own streaming pass (its
   * checksum never needs the array). Same chunk-list semantics. */
  private def wavPcm(docId: Long, payload: Array[Byte]): (Int, Array[Short]) = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(payload.length >= 12 && fourCC() == "RIFF", s"WAV: no RIFF (doc $docId)")
    bb.getInt
    require(fourCC() == "WAVE", s"WAV: no WAVE form (doc $docId)")
    var rate = -1
    var out: Array[Short] = null
    while (bb.remaining() >= 8) {
      val id = fourCC(); val len = bb.getInt
      if (id == "fmt ") {
        require(len >= 16, s"WAV: short fmt chunk (doc $docId)")
        val fmt = bb.getShort; val ch = bb.getShort
        rate = bb.getInt; bb.getInt; bb.getShort
        val bits = bb.getShort
        require(fmt == 1 && ch == 1 && bits == 16,
          s"WAV: need PCM16 mono, got fmt=$fmt ch=$ch bits=$bits (doc $docId)")
        // skip fmt extension bytes + the RIFF pad byte after an odd-length chunk
        bb.position(bb.position() + (len - 16) + (len & 1))
      } else if (id == "data") {
        require(rate > 0, s"WAV: data before fmt (doc $docId)")
        require(bb.remaining() >= len, s"WAV: truncated data chunk (doc $docId)")
        out = Array.fill(len / 2)(bb.getShort)
        // an odd-length data chunk (degenerate for PCM16 but RIFF-legal)
        // leaves one unconsumed data byte AND a pad byte before the next
        // chunk header — skip both or the fourCC walk misaligns
        bb.position(bb.position() + (len & 1) * 2)
      } else {
        bb.position(bb.position() + len + (len & 1))
      }
    }
    require(out != null, s"WAV: no data chunk (doc $docId)")
    (rate, out)
  }

  /** Deterministic audio-fingerprint fixture (and, with `perturb`, its
   * planted near-dup twin: every 5th sample shifted +1500 wrapping in
   * 16-bit space — "the same recording re-encoded with noise"). 200-255
   * samples so the 65-point envelope samples distinct positions; the
   * sample formula is the NONLINEAR squared mix for the same reason as
   * [[ppmDhashFixture]] (an envelope fingerprint is level-shift-tolerant,
   * so linear fixture families would near-dup each other en masse).
   * Real RIFF bytes via [[encodeWav]]; closed-form for the SQL oracle. */
  def wavFpFixture(docId: Long, perturb: Boolean = false): Array[Byte] = {
    val rate = 8000 + (docId % 4).toInt * 4000
    val n = 200 + (docId % 56).toInt
    val samples = Array.tabulate(n) { i =>
      val t = docId * 131 + i.toLong * 17 + 251
      val v = (t * t % 65536L - 32768L).toInt
      (if (perturb && i % 5 == 0) ((v + 32768 + 1500) % 65536) - 32768
       else v).toShort
    }
    encodeWav(rate, samples)
  }

  /** Spectral-fingerprint row: (doc_id, sfp). */
  val SpectralFpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sfp", LongType, nullable = false)))

  /**
   * Lossy re-encode of a WAV clip: decode through the real RIFF/PCM16
   * parser, apply the canonical transcoding artifact (a 2-tap moving-
   * average low-pass, y_i = floor((x_i + x_{i+1})/2), last sample
   * paired with itself), re-encode with [[encodeWav]] — the audio twin
   * of [[reencodeJpeg]]'s "same content saved by another site"
   * duplicate. The integer form (x_a + x_b + 65536)/2 - 32768 keeps the
   * numerator non-negative so truncating division IS floor division in
   * both the JVM and the SQL oracle.
   */
  def reencodeWav(docId: Long, payload: Array[Byte]): Array[Byte] = {
    val (rate, x) = wavPcm(docId, payload)
    val n = x.length
    val y = Array.tabulate(n) { i =>
      val a = x(i).toInt
      val b = x(math.min(i + 1, n - 1)).toInt
      ((a + b + 65536) / 2 - 32768).toShort
    }
    encodeWav(rate, y)
  }

  /**
   * 64-bit SPECTRAL audio fingerprint (Haitsma & Kalker, "A Highly
   * Robust Audio Fingerprint System", ISMIR '02 shape): 3 Hann-windowed
   * frames of length n/2 at 50% overlap, 33 band energies per frame
   * from a quantized-coefficient DFT, and bit (t*32+b) set when the
   * band-energy GRADIENT (log-domain double difference across band b
   * and frame transition t) is positive. Where [[decodeWavAfp]]'s
   * envelope fingerprint only survives level shifts, this survives
   * LTI re-encoding (low-pass/EQ): a filter multiplies band energy by a
   * per-band gain IDENTICAL across frames, and the double difference —
   * evaluated as the exact cross product E[t+1][b]·E[t][b+1] >
   * E[t+1][b+1]·E[t][b], no log() call — cancels it.
   *
   * Exactness contract: the DFT coefficients are quantized to integers
   * (floor(64·(1−cos(2πi/L))·cos(2π((k·i) mod L)/L) + 0.5), Q7 Hann ×
   * trig), so band sums and energies are exact BIGINTs and the bit
   * decisions are exact integer cross products (BigInt here, HUGEINT in
   * the SQL oracle) — no float summation-order or libm-ulp hazard
   * anywhere. Banded candidate recall is GUARANTEED for Hamming <= 3
   * (4×16-bit pigeonhole), best-effort at 4-6, as for the other banded
   * families; on the bundled fixtures the 2-tap re-encode stays <= 3 at
   * the correctness scale.
   */
  def decodeWavSfp(docId: Long, payload: Array[Byte]): Row = {
    val (_, s) = wavPcm(docId, payload)
    val n = s.length
    require(n >= 132, s"WAV sfp: need >= 132 samples, got $n (doc $docId)")
    val L = n / 2
    val tau = 2.0 * math.Pi
    // per-clip tables: Hann×64 window and the L-periodic trig ring —
    // the coefficient for (k, i) reads the ring at (k*i) mod L, the
    // same doubles the direct form evaluates
    val w64 = Array.tabulate(L)(i => 64.0 * (1.0 - math.cos(tau * i / L)))
    val cosT = Array.tabulate(L)(j => math.cos(tau * j / L))
    val sinT = Array.tabulate(L)(j => math.sin(tau * j / L))
    val starts = Array(0, n / 4, n - L)
    val e = Array.ofDim[Long](3, 33)
    var f = 0
    while (f < 3) {
      val base = starts(f)
      var b = 0
      while (b < 33) {
        val k = b + 1
        var c = 0L
        var q = 0L
        var i = 0
        while (i < L) {
          val j = (k * i) % L
          c += s(base + i) * math.floor(w64(i) * cosT(j) + 0.5).toLong
          q += s(base + i) * math.floor(w64(i) * sinT(j) + 0.5).toLong
          i += 1
        }
        e(f)(b) = c * c + q * q
        b += 1
      }
      f += 1
    }
    var hash = 0L
    var t = 0
    while (t < 2) {
      var b = 0
      while (b < 32) {
        if (BigInt(e(t + 1)(b)) * BigInt(e(t)(b + 1)) >
            BigInt(e(t + 1)(b + 1)) * BigInt(e(t)(b)))
          hash |= 1L << (t * 32 + b)
        b += 1
      }
      t += 1
    }
    Row(docId, hash)
  }

  /**
   * Near-duplicate pairs over the 64-bit fingerprint column `hash` of
   * `fps` (a dHash, an audio envelope or a spectral fingerprint): Hamming
   * distance <= maxDist, candidates generated by the exact banding idiom
   * of [[graft.dedup.Dedup.simhashPairs]] (four 16-bit bands, equi-join
   * on (band, band_val), xor/bit_count verification before the
   * distinct) — the banded self-join stays equi-join-shaped at any corpus
   * size; no all-pairs anywhere. Returns (d1, d2, hamming). Candidate
   * recall is GUARANTEED only for distance <= 3 (pigeonhole: <= 3 flips
   * cannot touch all 4 bands); pairs at distance 4-6 surface best-effort,
   * only when some band stays clean. `materialized` as in
   * [[graft.dedup.Dedup.simhashPairs]].
   */
  def nearDupPairs(fps: DataFrame, hash: String, maxDist: Int = 6,
                   materialized: Boolean = false): DataFrame =
    graft.dedup.Dedup.simhashPairs(
      fps.select(col("doc_id"), col(hash).as("simhash")), maxDist, materialized)

  /** Decoded-WAV row: header-derived rate/length, a position-weighted
   * amplitude checksum and the mean-square energy over the PCM stream. */
  val WavFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("amp_checksum", LongType, nullable = false),
    StructField("mean_square", DoubleType, nullable = false)))

  /** RIFF/WAVE writer: PCM16 mono little-endian, canonical 44-byte
   * header (fmt + data chunks). */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate
      .putShort(2).putShort(16) // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /**
   * REAL WAV decoder, pure JVM: walks the RIFF chunk list (not a fixed
   * 44-byte offset — encoders insert LIST/fact chunks), validates
   * PCM16 mono, then one pass over the sample stream for the
   * position-weighted amplitude checksum and the mean-square energy
   * (half-up to 1e-6, the [[decodePpm]] rounding). The audio twin of the
   * PPM codec behind the same batched [[decodeFeatures]] contract.
   */
  def decodeWav(docId: Long, payload: Array[Byte]): Row = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(payload.length >= 12 && fourCC() == "RIFF", s"WAV: no RIFF (doc $docId)")
    bb.getInt // riff size
    require(fourCC() == "WAVE", s"WAV: no WAVE form (doc $docId)")
    var rate = -1
    var ok = false
    var chk = 0L; var sumSq = 0L; var n = 0L
    while (bb.remaining() >= 8) {
      val id = fourCC(); val len = bb.getInt
      if (id == "fmt ") {
        require(len >= 16, s"WAV: short fmt chunk (doc $docId)")
        val fmt = bb.getShort; val ch = bb.getShort
        rate = bb.getInt; bb.getInt; bb.getShort
        val bits = bb.getShort
        require(fmt == 1 && ch == 1 && bits == 16,
          s"WAV: need PCM16 mono, got fmt=$fmt ch=$ch bits=$bits (doc $docId)")
        // extension bytes, if any, + the RIFF pad after an odd-length chunk
        bb.position(bb.position() + (len - 16) + (len & 1))
      } else if (id == "data") {
        require(rate > 0, s"WAV: data before fmt (doc $docId)")
        require(bb.remaining() >= len, s"WAV: truncated data chunk (doc $docId)")
        val m = len / 2
        var i = 0
        while (i < m) {
          val v = bb.getShort.toLong
          chk += (i + 1) * v; sumSq += v * v; i += 1
        }
        n = m; ok = true
        // odd-length data chunk: 1 unconsumed data byte + 1 pad byte
        bb.position(bb.position() + (len & 1) * 2)
      } else {
        bb.position(bb.position() + len + (len & 1)) // chunks pad to even
      }
    }
    require(ok, s"WAV: no data chunk (doc $docId)")
    val ms = if (n == 0) 0.0 else math.floor(sumSq.toDouble / n * 1e6 + 0.5) / 1e6
    Row(docId, rate, n, chk, ms)
  }

  /** Deterministic real-WAV fixture: rate 8000 + (id%4)·4000, 50 + id%32
   * samples, sample i = ((id·131 + i·17) % 65536) − 32768 — closed-form
   * arithmetic the SQL oracle recomputes, wrapped through the REAL
   * [[encodeWav]] writer so [[decodeWav]] parses genuine RIFF bytes. */
  def wavFixture(docId: Long): Array[Byte] = {
    val rate = 8000 + (docId % 4).toInt * 4000
    val n = 50 + (docId % 32).toInt
    val samples = Array.tabulate(n)(i =>
      (((docId * 131 + i.toLong * 17) % 65536) - 32768).toShort)
    encodeWav(rate, samples)
  }

  /** Deterministic real-PPM fixture for a doc id: width 4 + id%5, height
   * 3 + id%4, flattened RGB byte i = (id*31 + i*7) % 256 — closed-form
   * arithmetic the SQL oracle recomputes, wrapped through the REAL
   * [[encodePpm]] writer so [[decodePpm]] exercises genuine bytes. */
  def ppmFixture(docId: Long): Array[Byte] = {
    val w = 4 + (docId % 5).toInt
    val h = 3 + (docId % 4).toInt
    val rgb = Array.tabulate(w * h * 3)(i => ((docId * 31 + i.toLong * 7) % 256).toByte)
    encodePpm(w, h, rgb)
  }

  // ---------------------------------------------------------------------
  // JPEG / PNG — the formats a web crawl actually contains, via the JDK's
  // own javax.imageio (pure JVM, headless-safe, zero new dependencies),
  // behind the same batched decode contract as the PPM/WAV codecs.
  // ---------------------------------------------------------------------

  // never spill encode/decode scratch to executor-local disk files
  javax.imageio.ImageIO.setUseCache(false)

  private def toBufferedImage(width: Int, height: Int,
                              rgb: Array[Byte]): java.awt.image.BufferedImage = {
    require(rgb.length == width * height * 3,
      s"encodeImage: ${rgb.length} bytes for ${width}x$height RGB")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val p = (y * width + x) * 3
        img.setRGB(x, y, ((rgb(p) & 0xff) << 16) | ((rgb(p + 1) & 0xff) << 8)
          | (rgb(p + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    img
  }

  /** PNG writer over the JDK codec — LOSSLESS, so decoded pixels are
   * bit-identical to the input plane and the SQL oracle can verify the
   * decode checksum closed-form, exactly like [[encodePpm]]. */
  def encodePng(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(toBufferedImage(width, height, rgb), "png", bos)
    bos.toByteArray
  }

  /** JPEG writer over the JDK codec at an explicit `quality` (0..1) —
   * genuinely LOSSY DCT bytes, the format real crawls ingest. */
  def encodeJpeg(width: Int, height: Int, rgb: Array[Byte],
                 quality: Float = 0.9f): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null,
        new javax.imageio.IIOImage(toBufferedImage(width, height, rgb), null, null), p)
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** ImageIO decode to (width, height, packed-sRGB accessor). */
  private def readImage(docId: Long,
                        payload: Array[Byte]): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"image: undecodable payload (doc $docId)")
    img
  }

  /** REAL PNG decode behind the batch contract: [[PpmFeatureSchema]]
   * stats over the decoded RGB plane in PPM flattening order — PNG is
   * lossless, so checksum and mean match the source plane exactly and
   * the oracle recomputes both closed-form from the fixture formula. */
  def decodePng(docId: Long, payload: Array[Byte]): Row = {
    val img = readImage(docId, payload)
    val w = img.getWidth; val h = img.getHeight
    var sum = 0L; var chk = 0L
    var y = 0; var j = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val px = img.getRGB(x, y)
        var c = 16
        while (c >= 0) {
          val v = (px >> c) & 0xff
          sum += v; chk += (j + 1).toLong * v; j += 1; c -= 8
        }
        x += 1
      }
      y += 1
    }
    val n = w * h * 3
    val mean = if (n == 0) 0.0 else math.floor(sum.toDouble / n * 1e6 + 0.5) / 1e6
    Row(docId, w, h, chk, mean)
  }

  /** dHash through the REAL JPEG decoder — [[decodePpmDhash]]'s grid walk
   * over ImageIO-decoded pixels. Works for any ImageIO format (the codec
   * is chosen by payload magic), so the PNG corpus rides it too. */
  def decodeJpegDhash(docId: Long, payload: Array[Byte]): Row = {
    val img = readImage(docId, payload)
    def lum(x: Int, y: Int): Int = {
      val px = img.getRGB(x, y)
      (299 * ((px >> 16) & 0xff) + 587 * ((px >> 8) & 0xff)
        + 114 * (px & 0xff)) / 1000
    }
    Row(docId, dhashGrid(docId, img.getWidth, img.getHeight, lum))
  }

  /** Deterministic PNG fixture: closed-form RGB plane ([[ppmFixture]]'s
   * idiom, distinct dims/mix) through the REAL PNG encoder. */
  def pngFixture(docId: Long): Array[Byte] = {
    val w = 9 + (docId % 6).toInt
    val h = 8 + (docId % 5).toInt
    val rgb = Array.tabulate(w * h * 3)(i =>
      ((docId * 37 + i.toLong * 11 + 13) % 256).toByte)
    encodePng(w, h, rgb)
  }

  /** Deterministic JPEG dHash fixture: 72x64 GRAYSCALE image of flat
   * 8x8 blocks — one block per dHash grid cell, aligned with the JPEG
   * DCT grid, so q90 encoding error is pure DC quantization (a few
   * levels) with zero cross-block ringing. Block luminance comes from a
   * parity-interleaved nonlinear mix: lv = 2·r + gx%2 with
   * r = ((id·131 + (gy·9+gx)·17 + 251)² / 7) % 2, v = 40 + 60·lv —
   * adjacent cells always differ by >= 60 (alternating parity forbids
   * equal levels), so no decode error under ±30 can flip a gradient
   * bit and the decoded dHash equals the closed-form dHash EXACTLY,
   * giving the lossy codec a hash-checkable oracle. Grayscale keeps
   * chroma flat (Cb=Cr=128): subsampling is a no-op and luminance
   * round-trips as Y directly. The squared mix is nonlinear in
   * (id, cell) for the same anti-mass-near-dup reason as
   * [[ppmDhashFixture]]. */
  def jpegFixture(docId: Long, quality: Float = 0.9f): Array[Byte] = {
    val w = 72; val h = 64
    val rgb = new Array[Byte](w * h * 3)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        val t = docId * 131 + (gy * 9 + gx).toLong * 17 + 251
        val v = (40 + 60 * (2 * ((t * t / 7) % 499979 % 2) + gx % 2)).toByte
        var by = 0
        while (by < 8) {
          var bx = 0
          while (bx < 8) {
            val p = ((gy * 8 + by) * w + gx * 8 + bx) * 3
            rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
            bx += 1
          }
          by += 1
        }
        gx += 1
      }
      gy += 1
    }
    encodeJpeg(w, h, rgb, quality)
  }

  /** A REAL re-encode of a JPEG payload: decode through ImageIO, encode
   * again at `quality` — the "same image saved again by another site"
   * twin every image near-dup pass must catch. Double-compressed DC
   * error stays far under the fixture's 60-level margins, so the twin's
   * dHash still equals the closed form. */
  def reencodeJpeg(docId: Long, payload: Array[Byte],
                   quality: Float = 0.75f): Array[Byte] = {
    val img = readImage(docId, payload)
    val w = img.getWidth; val h = img.getHeight
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val px = img.getRGB(x, y); val p = (y * w + x) * 3
        rgb(p) = ((px >> 16) & 0xff).toByte
        rgb(p + 1) = ((px >> 8) & 0xff).toByte
        rgb(p + 2) = (px & 0xff).toByte
        x += 1
      }
      y += 1
    }
    encodeJpeg(w, h, rgb, quality)
  }

  // ---------------------------------------------------------------------
  // The real codecs over their closed-form fixture corpora: one table,
  // one builder, for every batch query and streaming gate that decodes.
  // ---------------------------------------------------------------------

  /** A real codec over its fixture corpus: the fixture bytes per doc id,
   * the decoder and its output schema and, for a fingerprint codec, the
   * decoded 64-bit hash column and the bytes of a doc's planted twin. */
  case class Codec(fixture: Long => Array[Byte],
                   decoder: (Long, Array[Byte]) => Row,
                   schema: StructType,
                   hash: Option[String] = None,
                   twin: Option[Long => Array[Byte]] = None)

  val Ppm = Codec(ppmFixture, decodePpm, PpmFeatureSchema)
  val Wav = Codec(wavFixture, decodeWav, WavFeatureSchema)
  val Png = Codec(pngFixture, decodePng, PpmFeatureSchema)
  /** dHash over PPM; twin: +1 on every 9th byte ([[ppmDhashFixture]]). */
  val PpmDhash = Codec(ppmDhashFixture(_), decodePpmDhash, DhashSchema,
    Some("dhash"), Some(ppmDhashFixture(_, perturb = true)))
  /** dHash over lossy q90 JPEG; twin: a true q75 re-encode. */
  val JpegDhash = Codec(jpegFixture(_), decodeJpegDhash, DhashSchema,
    Some("dhash"), Some(id => reencodeJpeg(id, jpegFixture(id), 0.75f)))
  /** Audio envelope fingerprint; twin: sample noise ([[wavFpFixture]]). */
  val WavAfp = Codec(wavFpFixture(_), decodeWavAfp, AudioFpSchema,
    Some("afp"), Some(wavFpFixture(_, perturb = true)))
  /** Audio envelope fingerprint; twin: the [[reencodeWav]] transcode. */
  val WavAfpReenc = WavAfp.copy(twin = Some(reencodedWavFp))
  /** Spectral audio fingerprint; twin: the [[reencodeWav]] transcode. */
  val WavSfp = Codec(wavFpFixture(_), decodeWavSfp, SpectralFpSchema,
    Some("sfp"), Some(reencodedWavFp))
  private def reencodedWavFp(id: Long): Array[Byte] = reencodeWav(id, wavFpFixture(id))

  /** The planted-twin rule: every `TwinEvery`-th doc id has a twin at
   * doc id + `TwinOffset`. */
  val TwinEvery = 20
  val TwinOffset = 10000000L

  /** The planted pairs (d1 = doc id, d2 = its twin's id) of the `doc_id`s
   * of `ids`. */
  def plantedPairs(ids: DataFrame): DataFrame =
    ids.filter(col("doc_id") % TwinEvery === 0)
      .select(col("doc_id").as("d1"), (col("doc_id") + TwinOffset).as("d2"))

  /** The decoded fixture corpus of `codec` over the `doc_id`s of `ids`
   * and, with `twins`, the codec's twin of each planted doc at its
   * [[plantedPairs]] id, through [[decodeFeatures]]. */
  def fixtureCorpus(ids: DataFrame, codec: Codec, twins: Boolean): DataFrame = {
    import ids.sparkSession.implicits._
    val fixture = codec.fixture
    val base = ids.select("doc_id").as[Long].map(id => (id, fixture(id)))
    val payloads = if (!twins) base else {
      val twin = codec.twin.getOrElse(sys.error("fixtureCorpus: codec has no twin"))
      base.union(plantedPairs(ids).as[(Long, Long)].map { case (id, t) => (t, twin(id)) })
    }
    decodeFeatures(payloads.toDF("doc_id", "payload"), codec.decoder, codec.schema)
  }

  private val DecodePartitions = 8
  private val DecodeBatch = 64

  /**
   * Per-partition batched decode: iterates the partition in
   * [[DecodeBatch]]-sized groups (the shape a vectorized/native decoder
   * wants), preserving laziness — no partition is materialized whole.
   * Repartitions to [[DecodePartitions]] by doc_id so decode cost spreads
   * evenly even when the upstream partitioning was size-skewed (media
   * blobs usually are). `decoder` and `schema` select the codec
   * ([[fakeDecode]] by default; see [[Codec]] for the real ones).
   */
  def decodeFeatures(mm: DataFrame,
                     decoder: (Long, Array[Byte]) => Row = fakeDecode,
                     schema: StructType = FeatureSchema): DataFrame = {
    val spark = mm.sparkSession
    val rdd = mm.repartition(DecodePartitions, col("doc_id"))
        .select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap { batch =>
        // a real decoder would process `batch` in one native call
        batch.iterator.map(r => decoder(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Resize contract: aspect-preserving fit of (width, height) into a
   * (maxW, maxH) box, never upscaling — the dimension arithmetic every
   * image pipeline runs before the actual pixel resample (which belongs in
   * the decode batch, next to the codec). Pure column math. */
  def resizeDims(features: DataFrame, maxW: Int = 32, maxH: Int = 32): DataFrame = {
    val scale = least(lit(maxW.toDouble) / col("width"),
      lit(maxH.toDouble) / col("height"), lit(1.0))
    features.select(col("doc_id"), col("width"), col("height"),
      floor(col("width") * scale).cast("int").as("out_width"),
      floor(col("height") * scale).cast("int").as("out_height"))
  }

  /** Frame sampling contract: every `stride`-th frame index up to n_frames
   * (columnar; a real pipeline would fetch those frames in the decode
   * batch). */
  def sampleFrames(features: DataFrame, stride: Int = 2): DataFrame =
    features.select(col("doc_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /**
   * Fixed-window payload chunking — audio-style segmentation for training:
   * each payload splits into `chunkBytes`-sized binary chunks (last chunk
   * ragged), emitted as (doc_id, chunk_idx, chunk, chunk_len). Pure
   * column expressions (sequence + substring on binary), fully
   * distributed and codegen-friendly; a waveform pipeline would decode
   * each chunk in the [[decodeFeatures]] batch afterwards. Chunk count is
   * ceil(byte_len / chunkBytes); empty payloads produce no chunks.
   */
  def chunkPayload(mm: DataFrame, chunkBytes: Int = 256): DataFrame = {
    require(chunkBytes > 0)
    val n = ceil(col("meta.byte_len").cast("double") / chunkBytes).cast("int")
    mm.filter(col("meta.byte_len") > 0) // sequence(0, -1) would descend
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0), n - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"substring(payload, chunk_idx * $chunkBytes + 1, $chunkBytes)").as("chunk"))
      .withColumn("chunk_len", octet_length(col("chunk")).cast("long"))
  }

  /**
   * Frame-difference keyframe selection — the standard cheap video
   * keyframing pass (keep frame 0, then every frame whose content signature
   * jumps by >= `threshold` vs the previous frame; a real pipeline computes
   * the signature from decoded luminance, here it is a content hash of the
   * frame bytes — same plan, different kernel). Frames are the fixed
   * [[chunkPayload]] segments of the payload; the per-document lag window
   * is bounded by frame count, never corpus size, and everything before it
   * is a pure scan-speed projection.
   *
   * Returns (doc_id, frame_idx, sig) for the selected keyframes.
   */
  def keyframes(mm: DataFrame, chunkBytes: Int = 256,
                threshold: Long = 200L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ASCII corpus: decode(chunk) is lossless, and the string hash has an
    // exact DuckDB twin (same reason mm_chunks hashes the decoded chunk)
    val sigs = chunkPayload(mm, chunkBytes)
      .select(col("doc_id"), col("chunk_idx").as("frame_idx"),
        (graft.functions.PolyHash31(decode(col("chunk"), "UTF-8")) % 1000L).as("sig"))
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    sigs.withColumn("prev", lag("sig", 1).over(w))
      .filter(col("prev").isNull || abs(col("sig") - col("prev")) >= threshold)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"), col("sig"))
  }
}
