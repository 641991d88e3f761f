package graft.multimodal

import java.util.concurrent.atomic.AtomicBoolean

import javax.imageio.ImageIO

/** Single owner of process-wide media-IO configuration.
  *
  * ImageIO's default stream cache is DISK-backed: `createImageInputStream`
  * / `ImageIO.write` on non-File sources spill through a temp file in
  * java.io.tmpdir per call, even though every payload in this engine is
  * already an in-memory byte array. Under 32 executor threads that
  * temp-file churn is the decode bottleneck (observed 3-4x wall on the
  * oracled decode queries, varying with /tmp contention). Memory caching is
  * strictly better for byte-array sources.
  *
  * `setUseCache` is a process-wide JVM flag, so flipping it belongs in ONE
  * clearly-named place rather than as a class-loading side effect scattered
  * across codec objects (round-12 ADVICE): [[graft.GraftSession.local]],
  * which every main builds its session with, calls [[init]] explicitly,
  * and the codec objects call it from their initializers as a
  * belt-and-braces for direct library use. Idempotent and thread-safe.
  */
object MediaIo {
  private val done = new AtomicBoolean(false)

  /** Disable ImageIO's disk-backed stream cache (once per process). */
  def init(): Unit =
    if (done.compareAndSet(false, true)) ImageIO.setUseCache(false)
}
