package graft.multimodal

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

/** Real image codecs over the JDK's built-in `javax.imageio` (PNG/JPEG/BMP/
  * GIF — no external dependency). Drop-in behind the same signatures as
  * [[Multimodal.StubCodecs]]: null/undecodable payloads yield zeros/empty,
  * so malformed rows degrade instead of failing the task — at 100 TB some
  * payloads WILL be corrupt, and a poison row must not kill a partition.
  *
  * All methods are pure byte-in/byte-out and thread-safe, so they run
  * unmodified inside `mapPartitions`/UDF executors.
  */
object ImageCodecs {

  // In-memory stream caching for byte-array sources — owned and documented
  // by MediaIo (GraftSession.local calls it explicitly; this covers direct
  // library use of the codecs without that session factory).
  MediaIo.init()

  /** Decode allocation bound: a hostile/corrupt header can claim any WxH
    * and `ImageIO.read` would allocate width*height pixel buffers BEFORE
    * any pixel data is validated — the resulting OutOfMemoryError is not an
    * `Exception` and would kill the executor JVM, breaking the poison-row
    * contract. 64M px (~256 MB ARGB) comfortably covers real photos while
    * keeping a malicious row's allocation bounded. Dimensions are peeked
    * from the header via the reader (no pixel allocation) before decoding.
    */
  private val MaxDecodePixels = 64L * 1024 * 1024

  private def decode(payload: Array[Byte]): Option[BufferedImage] =
    if (payload == null || payload.length == 0) None
    else
      try {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis, true, true)
              val w = reader.getWidth(0).toLong
              val h = reader.getHeight(0).toLong
              if (w <= 0 || h <= 0 || w * h > MaxDecodePixels) None
              else Option(reader.read(0))
            } finally reader.dispose()
          }
        } finally if (iis != null) iis.close()
      } catch { case _: Exception => None }

  /** Rec.601 luma of a packed RGB pixel, in [0, 255]. */
  private def luma(rgb: Int): Double = {
    val r = (rgb >> 16) & 0xff
    val g = (rgb >> 8) & 0xff
    val b = rgb & 0xff
    0.299 * r + 0.587 * g + 0.114 * b
  }

  /** `dim`-cell grid-pooled mean luminance in [0, 1] — a tiny "thumbnail
    * embedding" (the classic dHash/aHash layout): the image splits into a
    * rows×cols grid (rows = floor(sqrt(dim))), cell features are row-major
    * mean luma / 255. Undecodable payload → all-zero vector, same contract
    * as the stub.
    */
  def imageFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    decode(payload).foreach { img =>
      val rows = math.max(1, math.sqrt(dim.toDouble).toInt)
      val cols = math.max(1, (dim + rows - 1) / rows)
      val w = img.getWidth
      val h = img.getHeight
      var cell = 0
      while (cell < dim) {
        val cr = cell / cols
        val cc = cell % cols
        val x0 = cc * w / cols; val x1 = math.max(x0 + 1, (cc + 1) * w / cols)
        val y0 = cr * h / rows; val y1 = math.max(y0 + 1, (cr + 1) * h / rows)
        var sum = 0.0
        var n = 0
        var y = y0
        while (y < y1 && y < h) {
          var x = x0
          while (x < x1 && x < w) {
            sum += luma(img.getRGB(x, y)); n += 1; x += 1
          }
          y += 1
        }
        out(cell) = if (n == 0) 0f else ((sum / n) / 255.0).toFloat
        cell += 1
      }
    }
    out
  }

  /** Real bilinear resize via Graphics2D, re-encoded as PNG (lossless, so a
    * resize to the same dims round-trips pixel-exact).
    */
  def resize(payload: Array[Byte], toW: Int, toH: Int): Array[Byte] =
    decode(payload) match {
      case None => Array.emptyByteArray
      case Some(img) =>
        val dst = new BufferedImage(toW, toH, BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
            RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, toW, toH, null)
        } finally g.dispose()
        encodePng(dst)
    }

  /** Decoded (width, height); None when the payload is not an image. */
  def dimensions(payload: Array[Byte]): Option[(Int, Int)] =
    decode(payload).map(i => (i.getWidth, i.getHeight))

  private def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic single-color PNG — the fixture generator for tests and
    * the oracled decode query: PNG is lossless, so every decoded pixel is
    * exactly (r, g, b) and expected features have a closed form any SQL
    * engine can compute.
    */
  def solidPng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    encodePng(img)
  }

  /** 64-bit average-hash — the classic perceptual fingerprint for
    * image-level near-dup detection (aHash: downscale to an 8×8 luma
    * grid, one bit per cell = cell above the 64-cell mean, row-major
    * MSB-first). Resize/re-encode/minor-edit survivors collide or land
    * within small Hamming distance, so exact-groupBy on the hash (or
    * SimHash-style blocked Hamming search — [[graft.dedup.Dedup]]) turns
    * image dedup into the SAME narrow-row shuffle as text dedup: 8 bytes
    * per image move, never pixels. Undecodable payload → all-zero cells →
    * hash 0, the poison-row contract.
    */
  def aHash64(payload: Array[Byte]): Long = {
    val cells = imageFeatures(payload, 64)
    var sum = 0.0
    var i = 0
    while (i < 64) { sum += cells(i); i += 1 }
    val mean = sum / 64.0
    var h = 0L
    i = 0
    while (i < 64) {
      if (cells(i) > mean) h |= 1L << (63 - i)
      i += 1
    }
    h
  }

  /** Vertical-stripe PNG: equal-width stripes left→right — the fixture
    * whose 8×8 pooled grid has a closed-form per-stripe luma, so aHash
    * bits (stripe above/below the stripe-mean) are integer-decidable by
    * any SQL engine.
    */
  def stripePng(w: Int, h: Int, colors: Seq[(Int, Int, Int)]): Array[Byte] = {
    require(colors.nonEmpty && w % colors.size == 0,
      s"width $w must divide into ${colors.size} stripes")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val packed = colors.map { c =>
      ((c._1 & 0xff) << 16) | ((c._2 & 0xff) << 8) | (c._3 & 0xff)
    }.toArray
    val stripeW = w / colors.size
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, packed(x / stripeW)); x += 1 }
      y += 1
    }
    encodePng(img)
  }

  /** Two-band PNG: top half (r1,g1,b1), bottom half (r2,g2,b2) — gives grid
    * cells DIFFERENT expected lumas, so pooling geometry (not just decode)
    * is oracle-checked.
    */
  def twoBandPng(w: Int, h: Int, rgb1: (Int, Int, Int), rgb2: (Int, Int, Int)): Array[Byte] = {
    stackedStripePng(w, h, Seq(rgb1), Seq(rgb2))
  }

  /** Stacked-stripe PNG: the top half draws `topColors` as equal-width
    * vertical stripes, the bottom half `bottomColors` — the near-dup
    * fixture shape. A single-stripe-set image pools to ONE byte repeated
    * in all 8 rows of the aHash, so its four 16-bit bands are always
    * identical and two DISTINCT hashes can never share a band — banded
    * near-dup candidate generation is structurally unexercisable on it.
    * Two independently-varying halves give hashes whose top and bottom
    * band pairs vary separately, so images sharing a half (with the same
    * overall mean) genuinely collide on those bands while differing in
    * the other half's bits.
    */
  def stackedStripePng(w: Int, h: Int,
      topColors: Seq[(Int, Int, Int)],
      bottomColors: Seq[(Int, Int, Int)]): Array[Byte] = {
    require(topColors.nonEmpty && w % topColors.size == 0,
      s"width $w must divide into ${topColors.size} top stripes")
    require(bottomColors.nonEmpty && w % bottomColors.size == 0,
      s"width $w must divide into ${bottomColors.size} bottom stripes")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    def pack(c: (Int, Int, Int)) =
      ((c._1 & 0xff) << 16) | ((c._2 & 0xff) << 8) | (c._3 & 0xff)
    val top = topColors.map(pack).toArray
    val bot = bottomColors.map(pack).toArray
    val topW = w / topColors.size
    val botW = w / bottomColors.size
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          if (y < h / 2) top(x / topW) else bot(x / botW))
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

}
