package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream}
import java.util.SplittableRandom

/** make_blobs points files in the reference's `<x1, x2, …>` format:
  * `k` centres drawn uniformly from [-10, 10]^d, each point a centre
  * plus unit-variance Gaussian noise, written with 8 decimals (the
  * reference's sample files). Rows are made in fixed chunks, each from
  * its own generator seeded by (seed, chunk), so the bytes depend on the
  * seed only, never on the thread count. */
object PointsGen {
  private val ChunkRows = 4096

  def write(path: String, n: Int, d: Int, k: Int, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed)
    val centres = Array.fill(k, d)(rnd.nextDouble(-10.0, 10.0))
    val chunks = (n + ChunkRows - 1) / ChunkRows
    val parts = java.util.stream.IntStream.range(0, chunks).parallel()
      .mapToObj[Array[Byte]] { c =>
        val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + c + 1)
        val buf = new ByteArrayOutputStream(ChunkRows * d * 13)
        val rows = math.min(ChunkRows, n - c * ChunkRows)
        var i = 0
        while (i < rows) {
          val ctr = centres(r.nextInt(k))
          buf.write('<')
          var j = 0
          while (j < d) {
            if (j > 0) { buf.write(','); buf.write(' ') }
            fixed8(buf, ctr(j) + r.nextGaussian())
            j += 1
          }
          buf.write('>')
          buf.write('\n')
          i += 1
        }
        buf.toByteArray
      }.toArray(new Array[Array[Byte]](_))
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    try parts.foreach(p => out.write(p)) finally out.close()
  }

  /** `x` with exactly 8 decimals, rounded half away from zero. */
  private def fixed8(buf: ByteArrayOutputStream, x: Double): Unit = {
    val scaled = math.round(math.abs(x) * 1e8)
    if (x < 0 && scaled != 0) buf.write('-')
    val s = (scaled / 100000000L).toString
    var i = 0
    while (i < s.length) { buf.write(s.charAt(i)); i += 1 }
    buf.write('.')
    val frac = (scaled % 100000000L).toString
    i = frac.length
    while (i < 8) { buf.write('0'); i += 1 }
    i = 0
    while (i < frac.length) { buf.write(frac.charAt(i)); i += 1 }
  }
}
