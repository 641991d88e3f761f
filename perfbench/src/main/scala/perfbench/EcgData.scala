package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded ECG-like series: 140 points per beat, labels 1..5 at the ECG5000
  * class shares (Normal, R-on-T PVC, Supraventricular, PVC, Unclassifiable).
  *
  * Each class is a sum of Gaussian waves (P, Q, R, S, T) with its own
  * positions, widths and amplitudes. Every row draws a time shift, an
  * amplitude scale, a baseline wander and white noise, so classes overlap
  * the way real beats do. The same (rows, seed) always yields the same
  * bytes; [[Fingerprint]] records what was written.
  */
object EcgData {

  val Length = 140

  /** ECG5000 class shares, label i+1 at index i. */
  val Shares: Array[Double] = Array(0.584, 0.353, 0.019, 0.039, 0.005)

  /** White-noise std, frozen after tuning the global tree's size on the
    * elastic workload (see perfbench/README.md).
    */
  val Noise = 0.46

  /** (center, width, amplitude) per wave, per class. */
  private val waves: Array[Array[(Double, Double, Double)]] = Array(
    // 1 Normal: P, Q, tall narrow R, S, broad T
    Array((35.0, 5.0, 0.15), (50.0, 2.0, -0.2), (55.0, 2.5, 1.0), (60.0, 2.5, -0.3), (95.0, 10.0, 0.3)),
    // 2 R-on-T PVC: wide early complex, inverted T riding on it
    Array((48.0, 6.0, 0.9), (62.0, 4.0, -0.5), (75.0, 8.0, -0.4)),
    // 3 Supraventricular: early P, narrow R, early T
    Array((22.0, 4.0, 0.12), (45.0, 2.5, 1.0), (50.0, 2.5, -0.25), (85.0, 9.0, 0.25)),
    // 4 PVC: no P, wide negative complex, discordant T
    Array((58.0, 7.0, -0.8), (70.0, 5.0, 0.4), (105.0, 12.0, 0.35)),
    // 5 Unclassifiable: low-amplitude mixture
    Array((40.0, 6.0, 0.3), (60.0, 3.0, 0.5), (100.0, 14.0, -0.2)))

  final case class Fingerprint(rows: Int, classCounts: Seq[Int], sha256: String) {
    def json: String =
      s"""{"rows": $rows, "class_counts": [${classCounts.mkString(", ")}], "sha256": "$sha256"}"""
  }

  /** Rows per class: rounded shares, remainder to class 1. */
  def classCounts(rows: Int): Array[Int] = {
    val c = Shares.map(s => math.round(s * rows).toInt)
    c(0) += rows - c.sum
    c
  }

  /** `rows` labelled series in a seeded shuffled order; everything drawn
    * from `seed`.
    */
  def generate(rows: Int, seed: Long, noise: Double = Noise): Array[(Int, Array[Double])] = {
    val rng = new SplittableRandom(seed)
    val labels = classCounts(rows).zipWithIndex.flatMap { case (n, i) => Array.fill(n)(i + 1) }
    var i = labels.length - 1
    while (i > 0) { // Fisher-Yates
      val j = rng.nextInt(i + 1)
      val t = labels(i); labels(i) = labels(j); labels(j) = t
      i -= 1
    }
    labels.map(l => (l, beat(l, noise, rng)))
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller from the splittable stream (stable across JVMs)
    val u1 = 1.0 - rng.nextDouble(); val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  private def beat(label: Int, noise: Double, rng: SplittableRandom): Array[Double] = {
    val shift = rng.nextDouble() * 12.0 - 6.0
    val scale = 1.0 + 0.15 * gaussian(rng)
    val wanderAmp = 0.1 * rng.nextDouble()
    val wanderPhase = 2.0 * math.Pi * rng.nextDouble()
    val ws = waves(label - 1)
    Array.tabulate(Length) { t =>
      var v = 0.0
      var k = 0
      while (k < ws.length) {
        val (c, w, a) = ws(k)
        val z = (t - c - shift) / w
        v += a * math.exp(-0.5 * z * z)
        k += 1
      }
      scale * v + wanderAmp * math.sin(2.0 * math.Pi * t / Length + wanderPhase) +
        noise * gaussian(rng)
    }
  }

  /** Header CSV in the layout `Ingestion.readCsv` reads:
    * `label,_c1,...,_c140`, values rounded to 1e-6.
    */
  def writeCsv(path: String, data: Array[(Int, Array[Double])]): Fingerprint = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    val sb = new java.lang.StringBuilder(4096)
    def emit(): Unit = {
      val bytes = sb.toString.getBytes(StandardCharsets.US_ASCII)
      md.update(bytes); out.write(bytes); sb.setLength(0)
    }
    try {
      sb.append("label")
      (1 to Length).foreach(i => sb.append(",_c").append(i))
      sb.append('\n'); emit()
      data.foreach { case (label, ts) =>
        sb.append(label)
        ts.foreach(v => sb.append(',').append(math.rint(v * 1e6) / 1e6))
        sb.append('\n'); emit()
      }
    } finally out.close()
    val counts = (1 to Shares.length).map(l => data.count(_._1 == l))
    Fingerprint(data.length, counts, md.digest().map("%02x".format(_)).mkString)
  }
}
