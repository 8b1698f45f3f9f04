package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

/** Seeded input generators. The same seed gives the same bytes; the
  * program only ever sees the files written here. */
object Gen {

  /** splitmix64 finalizer */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** uniform [0, 1) from a stream position */
  def unif(s: Long): Double = (mix(s) >>> 11).toDouble / (1L << 53).toDouble

  private def stream(seed: Long, idx: Long): Long = mix(mix(seed) ^ idx)

  /** One single-cell event, C×H×W float32 flattened: one to three
    * gaussian blobs placed and sized from (seed, idx), each channel 20%
    * dimmer than the previous, scaled by `gain`, on a noisy background.
    * One event in sixteen is debris: background only, a quarter as
    * bright, for the population filter to drop. */
  def cellPixels(seed: Long, idx: Long, channels: Int, h: Int, w: Int,
      gain: Double): Array[Float] = {
    val s = stream(seed, idx)
    val px = new Array[Float](channels * h * w)
    val debris = (mix(s + 7) & 15) == 0
    val nBlobs = if (debris) 0 else 1 + (mix(s) % 3).toInt.abs
    var b = 0
    while (b < nBlobs) {
      val k = s + 16L * b
      val cy = 10 + unif(k + 1) * (h - 20)
      val cx = 10 + unif(k + 2) * (w - 20)
      val sig = 2.5 + unif(k + 3) * 3.0
      val amp = 100.0 + unif(k + 4) * 150.0
      var c = 0
      while (c < channels) {
        val a = gain * amp * (1.0 - 0.2 * c)
        var r = 0
        while (r < h) {
          var col = 0
          while (col < w) {
            val d2 = (r - cy) * (r - cy) + (col - cx) * (col - cx)
            val i = c * h * w + r * w + col
            px(i) = (px(i) + a * math.exp(-d2 / (2 * sig * sig))).toFloat
            col += 1
          }
          r += 1
        }
        c += 1
      }
      b += 1
    }
    var i = 0
    while (i < px.length) {
      val bg = 4.0 + 3.0 * unif(s + 1000L + i)
      px(i) = (px(i) + (if (debris) bg / 4 else bg)).toFloat
      i += 1
    }
    px
  }

  /** A zarr v2 store in the loader's documented event layout: one
    * (n, C·H·W) little-endian f4 array, zlib chunks of `chunkRows`
    * rows, `.zattrs` with `object_number` and per-record `shape`.
    * Event i gets object number `firstObject + i`. */
  def writeZarr(dir: Path, seed: Long, firstObject: Long, n: Int,
      channels: Int, h: Int, w: Int, gain: Double, chunkRows: Int = 128): Unit = {
    Files.createDirectories(dir)
    val len = channels * h * w
    Files.writeString(dir.resolve(".zarray"),
      s"""{"chunks":[$chunkRows,$len],"compressor":{"id":"zlib","level":1},""" +
        s""""dtype":"<f4","fill_value":0,"filters":null,"order":"C",""" +
        s""""shape":[$n,$len],"zarr_format":2}""")
    val objects = (0 until n).map(i => firstObject + i).mkString(",")
    val shapes = Seq.fill(n)(s"[$channels,$h,$w]").mkString(",")
    Files.writeString(dir.resolve(".zattrs"),
      s"""{"object_number":[$objects],"shape":[$shapes]}""")
    val deflater = new java.util.zip.Deflater(1)
    val tmp = new Array[Byte](1 << 16)
    for (chunk <- 0 until (n + chunkRows - 1) / chunkRows) {
      val bb = ByteBuffer.allocate(chunkRows * len * 4).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until chunkRows) {
        val i = chunk * chunkRows + r
        if (i < n) cellPixels(seed, firstObject + i, channels, h, w, gain)
          .foreach(bb.putFloat)
      }
      deflater.reset()
      deflater.setInput(bb.array())
      deflater.finish()
      val out = new java.io.ByteArrayOutputStream()
      while (!deflater.finished()) out.write(tmp, 0, deflater.deflate(tmp))
      Files.write(dir.resolve(s"$chunk.0"), out.toByteArray)
    }
    deflater.end()
  }

  /** Two-channel field of view as 16-bit planes: channel 0 holds a
    * seeded number of nuclei (`minCells` to `maxCells`), channel 1 a
    * wider, dimmer body around each. Values are integers, as in a
    * 16-bit image. */
  def fovPlanes(seed: Long, view: Int, h: Int, w: Int, minCells: Int,
      maxCells: Int): Array[Array[Float]] = {
    val s = stream(seed, 1000000L + view)
    val nCells = minCells + (mix(s) % (maxCells - minCells + 1)).toInt.abs
    val dapi = new Array[Double](h * w)
    val body = new Array[Double](h * w)
    for (k <- 0 until nCells) {
      val q = s + 16L * k
      val cy = 8 + unif(q + 1) * (h - 16)
      val cx = 8 + unif(q + 2) * (w - 16)
      val rad = 4.0 + unif(q + 3) * 3.0
      val amp = 1500.0 + unif(q + 4) * 1500.0
      for (r <- 0 until h; c <- 0 until w) {
        val d2 = (r - cy) * (r - cy) + (c - cx) * (c - cx)
        dapi(r * w + c) += amp * math.exp(-d2 / (2 * rad * rad))
        body(r * w + c) += 0.4 * amp * math.exp(-d2 / (8 * rad * rad))
      }
    }
    def finish(p: Array[Double], off: Long): Array[Float] =
      Array.tabulate(h * w)(i =>
        math.min(65535.0, math.floor(p(i) + 100.0 + 40.0 * unif(s + off + i))).toFloat)
    Array(finish(dapi, 1L << 20), finish(body, 1L << 21))
  }
}
