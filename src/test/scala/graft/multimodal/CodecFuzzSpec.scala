package graft.multimodal

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Poison-row fuzzing for every real codec: at 100 TB some payloads WILL be
  * garbage, truncated, or bit-flipped, and the codec contract is "degrade,
  * never throw" — a single throwing row would fail its whole task (and with
  * it the stage, 4 retries, then the job). Seeded, so failures reproduce.
  */
class CodecFuzzSpec extends AnyFunSuite {

  private val rnd = new Random(20260812L)
  private val Iters = 400

  private def randomBytes(maxLen: Int): Array[Byte] = {
    val b = new Array[Byte](rnd.nextInt(maxLen))
    rnd.nextBytes(b)
    b
  }

  /** A valid payload, truncated or single-byte-corrupted. */
  private def mangle(valid: Array[Byte]): Array[Byte] =
    rnd.nextInt(3) match {
      case 0 => valid.take(rnd.nextInt(valid.length + 1)) // truncate
      case 1 => // flip one byte
        if (valid.isEmpty) valid
        else {
          val out = valid.clone()
          out(rnd.nextInt(out.length)) = rnd.nextInt(256).toByte
          out
        }
      case _ => valid ++ randomBytes(16) // trailing garbage
    }

  test("image codec never throws on random or mangled payloads") {
    val valid = ImageCodecs.twoBandPng(16, 16, (255, 0, 0), (0, 0, 255))
    (1 to Iters).foreach { _ =>
      val p = if (rnd.nextBoolean()) randomBytes(512) else mangle(valid)
      val f = ImageCodecs.imageFeatures(p, 4)
      assert(f.length === 4 && f.forall(v => !v.isNaN))
      ImageCodecs.resize(p, 8, 8)
    }
  }

  test("audio codec never throws on random or mangled payloads") {
    val valid = AudioCodecs.twoBandSquareWav(256, 8192, 4096)
    (1 to Iters).foreach { _ =>
      val p = if (rnd.nextBoolean()) randomBytes(512) else mangle(valid)
      val f = AudioCodecs.audioFeatures(p, 4)
      assert(f.length === 4 && f.forall(v => !v.isNaN && v >= 0f))
    }
  }

  test("video codec never throws on random or mangled containers") {
    val valid = VideoCodecs.mpngOf(
      (0 until 4).map(f => ImageCodecs.solidPng(4, 4, f * 60, 0, 0)))
    (1 to Iters).foreach { _ =>
      val p = if (rnd.nextBoolean()) randomBytes(512) else mangle(valid)
      val frames = VideoCodecs.demux(p)
      // every demuxed frame must round-trip through the image codec safely
      frames.foreach(f => ImageCodecs.imageFeatures(f, 1))
      VideoCodecs.sampleFrames(p, 3)
    }
  }

  test("gif codec round-trips exactly and never throws on mangled containers") {
    val frames = (0 until 4).map { f =>
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val gr = img.createGraphics()
      gr.setColor(new java.awt.Color(f * 60, f * 60, f * 60))
      gr.fillRect(0, 0, 8, 8)
      gr.dispose()
      img
    }
    val valid = VideoCodecs.animatedGif(frames)
    // palette-lossless round-trip: exact planted gray levels, in order
    assert(VideoCodecs.gifFrames(valid).map(i => i.getRGB(0, 0) & 0xFF)
      === (0 until 4).map(_ * 60))
    (1 to Iters).foreach { _ =>
      val p = if (rnd.nextBoolean()) randomBytes(512) else mangle(valid)
      VideoCodecs.gifFrames(p).foreach(i => i.getRGB(0, 0)) // degrade, never throw
    }
    assert(VideoCodecs.gifFrames(null).isEmpty)
    assert(VideoCodecs.gifFrames(Array.emptyByteArray).isEmpty)
  }

  test("adversarial image headers: gigapixel-claiming PNG is refused before allocation") {
    import java.io.ByteArrayOutputStream
    import java.util.zip.CRC32
    // A structurally VALID png prefix (signature + CRC-correct IHDR) whose
    // header claims w*h far beyond MaxDecodePixels. Without the dimension
    // peek, ImageIO.read allocates w*h pixel buffers up front and dies with
    // OutOfMemoryError (not an Exception) — the one poison shape the random
    // fuzz above cannot produce.
    def pngClaiming(w: Int, h: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      val ihdr = new ByteArrayOutputStream()
      ihdr.write("IHDR".getBytes("US-ASCII"))
      def be32(v: Int): Array[Byte] =
        Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
      ihdr.write(be32(w)); ihdr.write(be32(h))
      ihdr.write(Array[Byte](8, 2, 0, 0, 0)) // depth, RGB, deflate, filter, no interlace
      val body = ihdr.toByteArray
      val crc = new CRC32(); crc.update(body)
      out.write(be32(13)); out.write(body); out.write(be32(crc.getValue.toInt))
      out.toByteArray
    }
    val bomb = pngClaiming(60000, 60000) // 3.6G px, ~14 GiB as ARGB
    assert(ImageCodecs.imageFeatures(bomb, 4).forall(_ == 0f))
    assert(ImageCodecs.resize(bomb, 8, 8).isEmpty)
    // sanity: the guard only rejects OVER-bound dims — a normal image with
    // the same hand-built header path still decodes
    assert(ImageCodecs.resize(ImageCodecs.solidPng(32, 16, 1, 2, 3), 8, 8)
      .nonEmpty)
  }

  test("adversarial video headers: hostile frame counts and lengths stay bounded") {
    import java.nio.ByteBuffer
    def container(n: Int, lens: Seq[Int]): Array[Byte] = {
      val buf = ByteBuffer.allocate(8 + lens.size * 4)
      buf.put("MPNG".getBytes("US-ASCII")).putInt(n)
      lens.foreach(buf.putInt)
      buf.array()
    }
    // claimed frame count far beyond payload; negative and huge lengths —
    // none may allocate unbounded memory or throw
    assert(VideoCodecs.demux(container(Int.MaxValue, Seq(4))).isEmpty)
    assert(VideoCodecs.demux(container(-5, Seq())).isEmpty)
    assert(VideoCodecs.demux(container(1, Seq(-100))).isEmpty)
    assert(VideoCodecs.demux(container(1, Seq(Int.MaxValue))).isEmpty)
    assert(VideoCodecs.demux(container(2, Seq(0, 0))).nonEmpty) // two empty frames: valid
  }
}
