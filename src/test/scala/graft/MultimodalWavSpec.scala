package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

/** The WAV codec's parsing claims, exercised directly: canonical
 * round-trip, chunk-list walking (LIST/fact chunks before data,
 * odd-length padding), and malformed-payload rejection. */
class MultimodalWavSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def feats(payload: Array[Byte], id: Long = 1L) =
    Multimodal.decodeWav(id, payload)

  test("encode/decode round-trip recovers rate, count, checksum, energy") {
    val samples = Array[Short](100, -200, 300, -400, 500)
    val r = feats(Multimodal.encodeWav(16000, samples))
    assert(r.getInt(1) == 16000)
    assert(r.getLong(2) == 5L)
    // checksum = sum (i+1)*v over 1-based positions
    assert(r.getLong(3) == (1 * 100 - 2 * 200 + 3 * 300 - 4 * 400 + 5 * 500).toLong)
    val sumSq = samples.map(v => v.toLong * v).sum
    assert(r.getDouble(4) == math.floor(sumSq.toDouble / 5 * 1e6 + 0.5) / 1e6)
  }

  test("decoder walks unknown chunks (LIST before data, odd length padded)") {
    val base = Multimodal.encodeWav(8000, Array[Short](7, -7, 13))
    // splice a 5-byte (odd -> padded to 6) LIST chunk between fmt and data
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ Array[Byte](1, 2, 3, 4, 5, 0)
    val spliced = base.take(36) ++ listChunk ++ base.drop(36)
    // fix the RIFF size field (bytes 4..7, LE)
    val bb = java.nio.ByteBuffer.wrap(spliced)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8)
    val r = feats(spliced)
    assert(r.getLong(2) == 3L && r.getInt(1) == 8000)
    assert(r.getLong(3) == (1 * 7 - 2 * 7 + 3 * 13).toLong)
  }

  test("decoder skips the RIFF pad after an odd-length data chunk") {
    // an odd-length data chunk (degenerate for PCM16 but RIFF-legal) is
    // followed by a pad byte; both streaming (decodeWav) and materializing
    // (wavPcm via decodeWavAfp) walks must land on the NEXT chunk header,
    // not one byte into it
    val samples = Array.tabulate(80)(i => (i * 37 % 200 - 100).toShort)
    val base = Multimodal.encodeWav(8000, samples) // data len 160 at offset 44
    val bb = java.nio.ByteBuffer
      .allocate(base.length + 1 + 1 + 12) // stray byte + pad + trailing chunk
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(base, 0, 40) // RIFF..fmt + "data"
    bb.putInt(161) // odd data length: 80 samples + 1 stray byte
    bb.put(base, 44, 160)
    bb.put(9.toByte) // the stray odd byte
    bb.put(0.toByte) // the RIFF pad
    bb.put("cue ".getBytes("US-ASCII")); bb.putInt(4); bb.putInt(0)
    val arr = bb.array()
    java.nio.ByteBuffer.wrap(arr).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, arr.length - 8)
    val r = feats(arr)
    assert(r.getLong(2) == 80L && r.getInt(1) == 8000)
    // the fingerprint path shares wavPcm — same walk, same bytes
    val even = Multimodal.decodeWavAfp(1L, base).getLong(1)
    assert(Multimodal.decodeWavAfp(1L, arr).getLong(1) == even)
  }

  test("dHash rejects images too small for distinct 9x8 grid samples") {
    // w=0/h=0 headers are decodePpm-legal (mean 0.0) but would index out
    // of bounds here; anything under 9x8 samples repeated pixels — the
    // mass-near-dup failure mode — so the decoder refuses loudly
    val tiny = Multimodal.encodePpm(8, 8, Array.fill(8 * 8 * 3)(1.toByte))
    intercept[IllegalArgumentException](Multimodal.decodePpmDhash(1L, tiny))
    val empty = Multimodal.encodePpm(0, 0, Array.emptyByteArray)
    intercept[IllegalArgumentException](Multimodal.decodePpmDhash(2L, empty))
  }

  test("PNG codec: lossless round-trip — decoded stats equal the closed form") {
    for (id <- 0L until 40L) {
      val r = Multimodal.decodePng(id, Multimodal.pngFixture(id))
      val w = 9 + (id % 6).toInt; val h = 8 + (id % 5).toInt
      var chk = 0L; var sum = 0L
      for (i <- 0 until w * h * 3) {
        val v = ((id * 37 + i.toLong * 11 + 13) % 256).toInt
        sum += v; chk += (i + 1).toLong * v
      }
      assert(r.getInt(1) == w && r.getInt(2) == h, s"png dims id=$id")
      assert(r.getLong(3) == chk, s"png checksum id=$id")
      val n = w * h * 3
      assert(r.getDouble(4) == math.floor(sum.toDouble / n * 1e6 + 0.5) / 1e6)
    }
  }

  test("JPEG codec: decoded dHash equals the closed form despite lossy q90 — and survives re-encode") {
    // the fixture's flat DCT-aligned blocks with >= 60-level margins make
    // the lossy codec hash-checkable: q90 (and a genuine decode->q75
    // re-encode) may move pixels a few levels, never 30+
    def closedForm(id: Long): Long = {
      def v(gx: Int, gy: Int): Int = {
        val t = id * 131 + (gy * 9 + gx).toLong * 17 + 251
        40 + 60 * (2 * ((t * t / 7) % 499979 % 2).toInt + gx % 2)
      }
      var hash = 0L
      for (gy <- 0 until 8; gx <- 0 until 8)
        if (v(gx, gy) > v(gx + 1, gy)) hash |= 1L << (gy * 8 + gx)
      hash
    }
    for (id <- 0L until 200L) {
      val jp = Multimodal.jpegFixture(id)
      assert(jp.take(2).map(_ & 0xff).toSeq == Seq(0xff, 0xd8), "not a JPEG SOI")
      val want = closedForm(id)
      assert(Multimodal.decodeJpegDhash(id, jp).getLong(1) == want, s"id=$id")
      val tw = Multimodal.reencodeJpeg(id, jp, 0.75f)
      assert(!java.util.Arrays.equals(jp, tw), "re-encode must change bytes")
      assert(Multimodal.decodeJpegDhash(id, tw).getLong(1) == want, s"twin id=$id")
    }
  }

  test("decoder rejects non-RIFF, stereo, and truncated payloads") {
    intercept[IllegalArgumentException](feats("not a wav at all".getBytes))
    val stereo = Multimodal.encodeWav(8000, Array[Short](1, 2))
    stereo(22) = 2 // channels field
    intercept[IllegalArgumentException](feats(stereo))
    val trunc = Multimodal.encodeWav(8000, Array[Short](1, 2, 3)).dropRight(2)
    intercept[IllegalArgumentException](feats(trunc))
  }

  test("dHash: monotone gradients saturate / clear the fingerprint") {
    // 9x8 grey ramp: grid sampling is the identity, luminance == the
    // channel value (299+587+114 = 1000), so a strictly decreasing ramp
    // sets every cur>next bit and an increasing one sets none
    def ramp(desc: Boolean): Array[Byte] = {
      val rgb = Array.tabulate(9 * 8 * 3) { i =>
        val x = (i / 3) % 9
        (if (desc) 240 - 20 * x else 20 * x).toByte
      }
      Multimodal.encodePpm(9, 8, rgb)
    }
    assert(Multimodal.decodePpmDhash(1L, ramp(desc = true)).getLong(1) == -1L)
    assert(Multimodal.decodePpmDhash(2L, ramp(desc = false)).getLong(1) == 0L)
  }

  test("dHash: planted perturbed twins stay close; banded pairs recover every one") {
    val hams = (0L until 500L).map { id =>
      val a = Multimodal.decodePpmDhash(id,
        Multimodal.ppmDhashFixture(id)).getLong(1)
      val b = Multimodal.decodePpmDhash(id,
        Multimodal.ppmDhashFixture(id, perturb = true)).getLong(1)
      java.lang.Long.bitCount(a ^ b)
    }
    // measured: the +1-every-9th-byte twin flips 0-2 gradient bits; 6 is
    // the operator's verify radius, so any drift past it is a real break
    assert(hams.max <= 6, s"twin hamming drifted to ${hams.max}")
    val rows = (0L until 50L).flatMap(id => Seq(
      (id, Multimodal.decodePpmDhash(id,
        Multimodal.ppmDhashFixture(id)).getLong(1)),
      (id + 1000L, Multimodal.decodePpmDhash(id,
        Multimodal.ppmDhashFixture(id, perturb = true)).getLong(1))))
    val pairs = Multimodal.nearDupPairs(
        rows.toDF("doc_id", "dhash"), "dhash", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 50L).foreach(id =>
      assert(pairs.contains((id, id + 1000L)), s"planted twin $id missed"))
  }

  test("audio fingerprint: monotone envelopes saturate / clear the bits") {
    // n = 130 -> envelope point f samples position 2f; a strictly
    // decreasing |amplitude| ramp sets every louder-than-next bit, an
    // increasing one sets none
    val desc = Multimodal.encodeWav(8000,
      Array.tabulate(130)(i => (2000 - 15 * i).toShort))
    assert(Multimodal.decodeWavAfp(1L, desc).getLong(1) == -1L)
    val asc = Multimodal.encodeWav(8000,
      Array.tabulate(130)(i => (15 * i).toShort))
    assert(Multimodal.decodeWavAfp(2L, asc).getLong(1) == 0L)
  }

  test("audio fingerprint: planted noise twins stay close; banded pairs recover them") {
    val hams = (0L until 500L).map { id =>
      val a = Multimodal.decodeWavAfp(id, Multimodal.wavFpFixture(id)).getLong(1)
      val b = Multimodal.decodeWavAfp(id,
        Multimodal.wavFpFixture(id, perturb = true)).getLong(1)
      java.lang.Long.bitCount(a ^ b)
    }
    // measured: the +1500-every-5th-sample twin flips 0-5 envelope bits
    assert(hams.max <= 6, s"twin hamming drifted to ${hams.max}")
    val rows = (0L until 50L).flatMap(id => Seq(
      (id, Multimodal.decodeWavAfp(id, Multimodal.wavFpFixture(id)).getLong(1)),
      (id + 1000L, Multimodal.decodeWavAfp(id,
        Multimodal.wavFpFixture(id, perturb = true)).getLong(1))))
    val pairs = Multimodal.nearDupPairs(
        rows.toDF("doc_id", "afp"), "afp", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a >3-bit twin can legitimately miss all four bands (pigeonhole);
    // measured: 49 of these 50 recover
    val hit = (0L until 50L).count(id => pairs.contains((id, id + 1000L)))
    assert(hit >= 48, s"only $hit/50 planted twins recovered")
  }

  test("reencodeWav applies the exact 2-tap low-pass through a real round-trip") {
    val x = Array[Short](1000, -2000, 3000, -32768, 32767)
    val re = Multimodal.reencodeWav(1L, Multimodal.encodeWav(8000, x))
    val r = feats(re)
    assert(r.getInt(1) == 8000 && r.getLong(2) == 5L)
    // y_i = floor((x_i + x_{min(i+1,n-1)})/2) via the shifted form
    val y = Array.tabulate(5) { i =>
      ((x(i) + x(math.min(i + 1, 4)) + 65536) / 2 - 32768).toLong
    }
    assert(r.getLong(3) == y.zipWithIndex.map { case (v, i) => (i + 1) * v }.sum)
  }

  test("spectral fp is gain-invariant; survives the re-encode the envelope fp does not") {
    // exact x2 gain scales every band energy by 4 uniformly -> every
    // cross-product bit decision is unchanged (the log-domain double
    // difference cancels any per-clip gain)
    val n = 200
    val base = Array.tabulate(n)(i =>
      (((7L * 131 + i * 17 + 251) * (7L * 131 + i * 17 + 251) % 16384) - 8192).toShort)
    val doubled = base.map(v => (v * 2).toShort)
    val fp1 = Multimodal.decodeWavSfp(1L, Multimodal.encodeWav(8000, base)).getLong(1)
    val fp2 = Multimodal.decodeWavSfp(1L, Multimodal.encodeWav(8000, doubled)).getLong(1)
    assert(fp1 == fp2)
    // on the fixture corpus: the 2-tap transcode keeps spectral hamming
    // within the banded <=3 pigeonhole guarantee while the envelope fp
    // drifts far beyond the maxDist=6 gate - the reason the kernel exists
    for (id <- 0L until 500L by 20L) {
      val orig = Multimodal.wavFpFixture(id)
      val reenc = Multimodal.reencodeWav(id, orig)
      val sd = java.lang.Long.bitCount(
        Multimodal.decodeWavSfp(id, orig).getLong(1) ^
          Multimodal.decodeWavSfp(id, reenc).getLong(1))
      val ad = java.lang.Long.bitCount(
        Multimodal.decodeWavAfp(id, orig).getLong(1) ^
          Multimodal.decodeWavAfp(id, reenc).getLong(1))
      assert(sd <= 3, s"doc $id spectral hamming $sd")
      assert(ad > 6, s"doc $id envelope hamming $ad unexpectedly small")
    }
  }

  test("decodeWavSfp rejects clips too short to frame") {
    val short = Multimodal.encodeWav(8000, Array.fill[Short](131)(5))
    val e = intercept[IllegalArgumentException](Multimodal.decodeWavSfp(9L, short))
    assert(e.getMessage.contains("need >= 132"))
  }

  test("jlProject is deterministic and pipeline-compatible") {
    val e = Seq(
      (1L, Array.tabulate(64)(i => (i + 1).toFloat)),
      (2L, Array.tabulate(64)(i => (64 - i).toFloat))).toDF("vec_id", "embedding")
    val p = graft.similarity.Similarity.jlProject(e, outDim = 16)
    assert(p.columns.toSeq == Seq("vec_id", "embedding"))
    val a = p.orderBy("vec_id").as[(Long, Seq[Double])].collect()
    val b = graft.similarity.Similarity.jlProject(e, outDim = 16)
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(_._2.length == 16))
    // distinct inputs stay distinct under the projection
    assert(a(0)._2 != a(1)._2)
  }
}
