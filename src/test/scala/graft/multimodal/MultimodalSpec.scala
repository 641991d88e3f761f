package graft.multimodal

import scala.util.Random

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class MultimodalSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Decoded (width, height) of a PNG payload. */
  private def dims(png: Array[Byte]): Option[(Int, Int)] =
    Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png)))
      .map(i => (i.getWidth, i.getHeight))

  private def payload(seed: Int, n: Int): Array[Byte] = {
    val b = new Array[Byte](n); new Random(seed).nextBytes(b); b
  }

  private lazy val media = {
    val rows = Seq(
      Row(1L, "image", payload(1, 1024), 32, 32, null, null),
      Row(2L, "image", payload(2, 4096), 64, 64, null, null),
      Row(3L, "audio", payload(3, 2048), null, null, 16000, 2000L),
      Row(4L, "video", payload(4, 8192), 16, 16, null, 5000L),
      Row(5L, "image", null, 8, 8, null, null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
  }

  test("imageFeatures: schema, determinism, null payload safe") {
    val f = Multimodal.imageFeatures(spark, media, dim = 8)
    assert(f.schema.fieldNames === Array("media_id", "features"))
    val out = f.as[(Long, Seq[Float])].collect().toMap
    assert(out.keySet === Set(1L, 2L, 5L))
    assert(out(1L).length === 8)
    assert(out(5L).forall(_ === 0.0f)) // null payload -> zero features
    // deterministic across runs
    val again = Multimodal.imageFeatures(spark, media, dim = 8)
      .as[(Long, Seq[Float])].collect().toMap
    assert(again === out)
  }

  test("resizeImages updates payload proportionally and metadata exactly") {
    val resized = Multimodal.resizeImages(spark, media, 16, 16)
    val rows = resized.select("media_id", "width", "height", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    // successful resizes get the target dims; the null-payload row (id 5)
    // degrades to empty and must NOT claim them
    assert(Seq(1L, 2L).forall(id =>
      rows(id).getInt(1) == 16 && rows(id).getInt(2) == 16))
    assert(rows(5L).isNullAt(1) && rows(5L).isNullAt(2))
    // 32x32 -> 16x16 quarters the byte budget
    assert(rows(1L).getAs[Array[Byte]](3).length === 256)
  }

  test("sampleVideoFrames fans out one row per frame with index") {
    val frames = Multimodal.sampleVideoFrames(spark, media, numFrames = 4)
    val rows = frames.select("media_id", "frame_idx")
      .as[(Long, Int)].collect().sorted
    assert(rows === Array((4L, 0), (4L, 1), (4L, 2), (4L, 3)))
  }

  test("imageio codec: real PNG decode produces exact grid lumas") {
    // top band pure red (luma .299), bottom pure blue (luma .114)
    val png = ImageCodecs.twoBandPng(16, 16, (255, 0, 0), (0, 0, 255))
    val feats = ImageCodecs.imageFeatures(png, 4)
    assert(feats.length === 4)
    assert(math.abs(feats(0) - 0.299f) < 1e-6, s"top-left ${feats(0)}")
    assert(math.abs(feats(1) - 0.299f) < 1e-6)
    assert(math.abs(feats(2) - 0.114f) < 1e-6, s"bottom-left ${feats(2)}")
    assert(math.abs(feats(3) - 0.114f) < 1e-6)
    // white solid -> luma 1.0 in every cell
    val white = ImageCodecs.imageFeatures(ImageCodecs.solidPng(8, 8, 255, 255, 255), 4)
    assert(white.forall(f => math.abs(f - 1.0f) < 1e-6))
    // non-image payload and null degrade to zeros, not exceptions
    assert(ImageCodecs.imageFeatures(payload(7, 512), 4).forall(_ === 0f))
    assert(ImageCodecs.imageFeatures(null, 4).forall(_ === 0f))
  }

  test("imageio codec: real resize halves dimensions and re-encodes losslessly") {
    val png = ImageCodecs.solidPng(32, 32, 10, 200, 30)
    val half = ImageCodecs.resize(png, 16, 16)
    assert(dims(half) === Some((16, 16)))
    // solid color survives bilinear resample exactly
    val feats = ImageCodecs.imageFeatures(half, 1)
    val expected = (0.299 * 10 + 0.587 * 200 + 0.114 * 30) / 255.0
    assert(math.abs(feats(0) - expected) < 1e-6)
    assert(ImageCodecs.resize(payload(9, 100), 8, 8).isEmpty)
  }

  test("imageio codec: distributed imageFeatures path matches local codec") {
    val pngMedia = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(10L, "image", ImageCodecs.twoBandPng(16, 16, (255, 0, 0), (0, 0, 255)),
          16, 16, null, null),
        Row(11L, "image", ImageCodecs.solidPng(8, 8, 0, 255, 0), 8, 8, null, null)), 2),
      Multimodal.mediaSchema)
    val out = Multimodal.imageFeatures(spark, pngMedia, dim = 4, codec = "imageio")
      .as[(Long, Seq[Float])].collect().toMap
    assert(out(10L) === ImageCodecs.imageFeatures(
      ImageCodecs.twoBandPng(16, 16, (255, 0, 0), (0, 0, 255)), 4).toSeq)
    assert(math.abs(out(11L).head - 0.587f) < 1e-6)
  }

  test("wav codec: real PCM decode yields exact band amplitudes") {
    // amp 8192 -> |s| = 0.25 everywhere in the first half; 4096 -> 0.125
    val wav = AudioCodecs.twoBandSquareWav(4096, 8192, 4096)
    val f = AudioCodecs.audioFeatures(wav, 4)
    assert(f.toSeq === Seq(0.25f, 0.25f, 0.125f, 0.125f))
    // decode roundtrip: sample values survive the WAV container exactly
    val samples = AudioCodecs.decodePcm16(wav).get
    assert(samples.length === 4096)
    assert(samples(0) === 8192 / 32768.0 && samples(1) === -8192 / 32768.0)
    // non-audio payload and null degrade to zeros
    assert(AudioCodecs.audioFeatures(payload(11, 256), 4).forall(_ === 0f))
    assert(AudioCodecs.audioFeatures(null, 4).forall(_ === 0f))
  }

  test("wav codec: distributed audioFeatures path matches local codec") {
    val wavMedia = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(20L, "audio", AudioCodecs.twoBandSquareWav(2048, 16000, 1000),
          null, null, 8000, 256L)), 1),
      Multimodal.mediaSchema)
    val out = Multimodal.audioFeatures(spark, wavMedia, bands = 4, codec = "wav")
      .as[(Long, Seq[Float])].collect().toMap
    assert(out(20L) === AudioCodecs.audioFeatures(
      AudioCodecs.twoBandSquareWav(2048, 16000, 1000), 4).toSeq)
  }

  test("mpng codec: real demux round-trips frames and samples true indices") {
    val frames = (0 until 6).map(f => ImageCodecs.solidPng(4, 4, f * 40, 0, 0))
    val mpng = VideoCodecs.mpngOf(frames)
    // demux round-trip is byte-exact
    val out = VideoCodecs.demux(mpng)
    assert(out.length === 6)
    assert(out.zip(frames).forall { case (a, b) => a.sameElements(b) })
    // sampling 3 of 6 picks true container indices 0, 2, 4
    val sampled = VideoCodecs.sampleFrames(mpng, 3)
    assert(sampled.map(_._1) === IndexedSeq(0, 2, 4))
    assert(sampled.forall { case (i, f) => f.sameElements(frames(i)) })
    // sampled frames actually PNG-decode
    assert(dims(sampled.head._2) === Some((4, 4)))
    // malformed containers degrade to empty, never throw
    assert(VideoCodecs.demux(payload(13, 64)).isEmpty)
    assert(VideoCodecs.demux(null).isEmpty)
    assert(VideoCodecs.demux(mpng.take(10)).isEmpty)
  }

  test("mpng codec: distributed sampleVideoFrames path emits decodable frames") {
    val mpng = VideoCodecs.mpngOf(
      (0 until 4).map(f => ImageCodecs.solidPng(4, 4, 0, f * 60, 0)))
    val vmedia = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(30L, "video", mpng, 4, 4, null, 1000L)), 1),
      Multimodal.mediaSchema)
    val rows = Multimodal.sampleVideoFrames(spark, vmedia, numFrames = 2, codec = "mpng")
      .select("media_id", "frame_idx", "frame")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2)))
    assert(rows.map(_._2).toSeq === Seq(0, 2))
    assert(rows.forall(r => dims(r._3) === Some((4, 4))))
  }

  test("audioFeatures produces band energies for audio rows only") {
    val f = Multimodal.audioFeatures(spark, media, bands = 4)
      .as[(Long, Seq[Float])].collect().toMap
    assert(f.keySet === Set(3L))
    assert(f(3L).length === 4)
    assert(f(3L).forall(_ > 0)) // random bytes have nonzero mean |energy|
  }
}
