package graft

import java.io.ByteArrayInputStream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal._

/** Multimodal: real-codec round trips (encoders vs the JDK's ImageIO /
  * AudioSystem decoders), per-partition decode determinism, metadata-only
  * transforms.
  */
class MultimodalSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  private def docs = Seq(
    (0L, "hello world", 11L),
    (1L, "abc", 3L),
    (2L, "a video doc with frames", 23L),
    (5L, "another video here", 18L))
    .toDF("doc_id", "text", "n_chars")

  test("bmp encoder round-trips pixel-exact through javax.imageio") {
    val (id, w, h) = (7L, 20, 18)
    val img = javax.imageio.ImageIO.read(
      new ByteArrayInputStream(MediaCodecs.encodeBmp(id, w, h)))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val got = img.getRGB(x, y) & 0xff
      assert(got == MediaCodecs.pixelValue(id, y.toLong * w + x),
        s"pixel ($x,$y)")
    }
    assert(MediaCodecs.encodeBmp(id, w, h).length ==
      MediaCodecs.bmpByteLen(w, h))
  }

  test("wav encoder round-trips sample-exact through javax.sound.sampled") {
    val (id, n) = (7L, 100)
    val bytes = MediaCodecs.encodeWav(id, n)
    assert(bytes.length == MediaCodecs.wavByteLen(n.toLong))
    val ais = javax.sound.sampled.AudioSystem
      .getAudioInputStream(new ByteArrayInputStream(bytes))
    assert(ais.getFormat.getSampleRate == 8000f)
    val data = ais.readAllBytes()
    assert(data.length == 2 * n)
    for (i <- 0 until n) {
      val s = ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toInt
      assert(s == MediaCodecs.sampleValue(id, i.toLong), s"sample $i")
    }
  }

  test("codec round-trip property: random shapes decode exactly") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 25) {
      val (id, w, h) = (rng.nextInt(10000).toLong,
        1 + rng.nextInt(80), 1 + rng.nextInt(60))
      val img = javax.imageio.ImageIO.read(
        new ByteArrayInputStream(MediaCodecs.encodeBmp(id, w, h)))
      assert(img.getWidth == w && img.getHeight == h, s"dims ($w,$h)")
      // spot-check corners + a random interior pixel (full sweep is the
      // dedicated test above)
      for ((x, y) <- Seq((0, 0), (w - 1, 0), (0, h - 1), (w - 1, h - 1),
          (rng.nextInt(w), rng.nextInt(h)))) {
        assert((img.getRGB(x, y) & 0xff) ==
          MediaCodecs.pixelValue(id, y.toLong * w + x), s"($x,$y) of ($w,$h)")
      }
      val n = rng.nextInt(500)
      val wav = MediaCodecs.encodeWav(id, n)
      assert(wav.length == MediaCodecs.wavByteLen(n.toLong))
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new ByteArrayInputStream(wav))
      val data = ais.readAllBytes()
      assert(data.length == 2 * n)
      if (n > 0) {
        val i = rng.nextInt(n)
        val s = ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toInt
        assert(s == MediaCodecs.sampleValue(id, i.toLong), s"sample $i of $n")
      }
    }
  }

  test("media table is metadata-only with typed meta; encode adds real bytes") {
    val m = Multimodal.mediaTable(docs)
    assert(!m.columns.contains("bytes")) // payload never scanned for metadata work
    val row = m.where(col("media_id") === 0).select("kind", "meta.width").head()
    assert(row.getString(0) == "image") // 0 % 3
    assert(row.getInt(1) == 16 + (11 % 16) * 2) // = 38
    val enc = Multimodal.encodeMedia(m)
    assert(enc.schema("bytes").dataType.typeName == "binary")
    // audio row (doc 1): WAV container size = 44 + 2*(3+16)
    val wavLen = enc.filter(_.kind == "audio").head().bytes.length
    assert(wavLen == 44 + 2 * 19)
  }

  test("decode stats are exact and invariant under repartitioning") {
    val media = Multimodal.encodeMedia(Multimodal.mediaTable(docs))
    val s1 = Multimodal.decodeStats(media).collect()
      .map(s => s.media_id -> s).toMap
    val s2 = Multimodal.decodeStats(media.repartition(3)).collect()
      .map(s => s.media_id -> s).toMap
    assert(s1 == s2) // partitioning must not change decode output
    // doc 0: image 38x38 px (w = 16+(11%16)*2, h = 16+(11%12)*2);
    // recompute stats directly from the generator
    val (w, h) = (38, 38)
    val vals = (0L until w.toLong * h).map(MediaCodecs.pixelValue(0L, _))
    assert(s1(0L) == MediaStats(0L, w.toLong * h,
      vals.map(_.toLong).sum, vals.min.toLong, vals.max.toLong))
    // doc 1: audio, 3+16 samples
    val samples = (0L until 19L).map(MediaCodecs.sampleValue(1L, _))
    assert(s1(1L) == MediaStats(1L, 19L,
      samples.map(_.toLong).sum, samples.min.toLong, samples.max.toLong))
  }

  test("corrupt payloads are quarantined, not thrown; good rows unchanged") {
    val media = Multimodal.encodeMedia(Multimodal.mediaTable(docs))
    val corrupted = media.map(r =>
      if (r.media_id == 1L) r.copy(bytes = r.bytes.take(10)) else r)(
      org.apache.spark.sql.Encoders.product[MediaRecord])
    val outcomes = Multimodal.decodeQuarantine(corrupted).collect()
      .map(o => o.media_id -> o).toMap
    assert(outcomes.size == 4)
    assert(!outcomes(1L).ok && outcomes(1L).err.nonEmpty)
    // good rows carry exactly the clean-path stats
    val clean = Multimodal.decodeStats(media).collect()
      .map(s => s.media_id -> s).toMap
    for (id <- Seq(0L, 2L, 5L)) {
      val (o, s) = (outcomes(id), clean(id))
      assert(o.ok && (o.unit_count, o.unit_sum, o.unit_min, o.unit_max) ==
        ((s.unit_count, s.unit_sum, s.unit_min, s.unit_max)))
    }
  }

  test("a valid WAV in an unsupported format (8-bit PCM) is quarantined, " +
      "never silently decoded to garbage samples") {
    // hand-build a conformant 8-bit mono WAV: the JDK decodes it fine,
    // but the sample loops assume 16-bit LE — the format check must
    // reject it (quarantine path), not emit a wrong fingerprint
    val n = 64
    val b = new Array[Byte](44 + n)
    def putInt(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'; putInt(4, 36 + n)
    b(8) = 'W'; b(9) = 'A'; b(10) = 'V'; b(11) = 'E'
    b(12) = 'f'; b(13) = 'm'; b(14) = 't'; b(15) = ' '; putInt(16, 16)
    b(20) = 1; b(22) = 1 // PCM, mono
    putInt(24, 8000); putInt(28, 8000) // rate, byte rate (1 byte/frame)
    b(32) = 1; b(34) = 8 // block align 1, EIGHT bits per sample
    b(36) = 'd'; b(37) = 'a'; b(38) = 't'; b(39) = 'a'; putInt(40, n)
    val meta = MediaMeta("wav", 0, 0, 0L)
    val eightBit = MediaRecord(99L, "audio", b, meta)

    val media = Multimodal.encodeMedia(Multimodal.mediaTable(docs))
    val withBad = media.union(Seq(eightBit).toDS())
    val outcomes = Multimodal.decodeQuarantine(withBad).collect()
      .map(o => o.media_id -> o).toMap
    assert(!outcomes(99L).ok &&
      outcomes(99L).err.contains("16-bit little-endian"),
      s"expected a format rejection, got ${outcomes(99L)}")
    // and every fixture row (true 16-bit LE mono) still decodes clean
    assert(outcomes.filterKeys(_ != 99L).values.forall(_.ok))
  }

  test("fingerprint bit comparison is exact past the 64-bit product " +
      "overflow point") {
    // blockSum * totalCount at ~45 min of 48 kHz audio overflows a
    // long; the 128-bit comparison must agree with BigInteger math
    import java.math.BigInteger
    val cases = Seq(
      (Long.MaxValue / 3, 200000000L, Long.MaxValue / 5, 300000000L),
      (1L << 40, 1L << 30, (1L << 40) + 1, 1L << 30),
      (123456789012L, 987654321L, 123456789012L, 987654321L),
      (0L, 5L, 1L, 0L))
    for ((a, b, c, d) <- cases) {
      val want = BigInteger.valueOf(a).multiply(BigInteger.valueOf(b))
        .compareTo(BigInteger.valueOf(c).multiply(BigInteger.valueOf(d))) > 0
      assert(ExactCmp.productGreater(a, b, c, d) == want, s"($a,$b,$c,$d)")
    }
  }

  test("frame sampling: one row per everyMs, videos only") {
    val m = Multimodal.mediaTable(docs)
    val frames = Multimodal.sampleFrames(m, 100L)
      .select("media_id", "frame_idx", "frame_ts_ms")
      .as[(Long, Int, Long)].collect().groupBy(_._1)
    // videos are doc_id % 3 == 2: ids 2 and 5
    assert(frames.keySet == Set(2L, 5L))
    // id 2: duration 23*20=460ms -> frames at 0,100,...,400 = 5 frames
    assert(frames(2L).map(_._2).sorted.toSeq == (0 until 5))
    assert(frames(2L).map(_._3).max == 400L)
  }

  test("resize plan touches only metadata") {
    val m = Multimodal.mediaTable(docs)
    val r = Multimodal.resizePlan(m, 224, 224)
    assert(r.select("meta.width", "meta.height").distinct().head() ==
      org.apache.spark.sql.Row(224, 224))
    // other metadata fields ride through unchanged
    assert(r.select("meta.durationMs").as[Long].collect().sorted.toSeq ==
      m.select("meta.durationMs").as[Long].collect().sorted.toSeq)
  }
}
