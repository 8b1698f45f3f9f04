package perfbench

import graft.core.{Codecs, ImageEvent}
import graft.kernels._
import graft.ops.{Features, Masking, Segmentation}

/** Single-thread, warmed microbench of the per-record ops and the
  * kernels under them, on a fixed sample from the seeded generator:
  * eight 2-channel 48×48 events and two 128×128 fields of view. */
object Micro {

  /** median ns per call over five batches of at least `batchMs`, after
    * a warm-up of at least `warmMs` */
  def nsPerCall(f: () => Any, warmMs: Long = 150, batchMs: Long = 40): Double = {
    var sink = 0
    def loop(ms: Long): (Long, Long) = {
      val t0 = System.nanoTime(); var n = 0L
      while (System.nanoTime() - t0 < ms * 1000000L) { sink += f().hashCode; n += 1 }
      (n, System.nanoTime() - t0)
    }
    loop(warmMs)
    val batches = (0 until 5).map { _ => val (n, dt) = loop(batchMs); dt.toDouble / n }.sorted
    if (sink == 42) System.err.print("")
    batches(2)
  }

  val names = Seq("ch0", "ch1")
  val side = 48
  val fovSide = 128
  val cellDiameter = 12

  def sample(seed: Long): Seq[ImageEvent] = (0 until 8).map { i =>
    ImageEvent.fromPixels(s"micro/$i", i, "g0", Map.empty, 2, side, side,
      Gen.cellPixels(seed, 1L << 40 | i, 2, side, side, 1.0))
  }

  private def perEvent(events: Seq[ImageEvent])(f: ImageEvent => Any): Double =
    nsPerCall(() => events.map(f)) / events.length

  /** ns per event of each op, ns per pixel of each kernel (with the
    * pixels per call beside it), and the encoder round trip */
  def run(seed: Long): Map[String, Double] = {
    val events = sample(seed)
    val circle = events.map(Masking.branchRecord(Masking.Circle, 0, null))
    def feat(types: Seq[String], es: Seq[ImageEvent]) = {
      val lay = Features.layout(names, types)
      perEvent(es)(Features.featureCells(_, names, lay))
    }
    val ops = Map(
      "ops.mask_circle_ns" -> perEvent(events)(Masking.branchRecord(Masking.Circle, 0, null)),
      "ops.mask_li_ns" -> perEvent(events)(
        Masking.branchRecord(Masking.Li(Seq(0.75, 0.75)), 0, null)),
      "ops.mask_otsu_ns" -> perEvent(events)(Masking.branchRecord(Masking.Otsu, 0, null)),
      "ops.mask_spot_ns" -> perEvent(events)(Masking.branchRecord(Masking.Spot(5), 0, null)),
      "ops.feat_shape_ns" -> feat(Seq("shape"), circle),
      "ops.feat_intensity_ns" -> feat(Seq("intensity"), circle),
      "ops.feat_texture_ns" -> feat(Seq("texture"), circle),
      "ops.feat_raw_ns" -> feat(Seq("raw"), events))

    val fovs = (0 until 2).map(v =>
      Gen.fovPlanes(seed + 1, v, fovSide, fovSide, minCells = 2, maxCells = 14)(0))
    val fs = fovSide
    val segmenter = Segmentation.WatershedDapi(cellDiameter)
    val segNs = nsPerCall(() => fovs.map(segmenter.segment(_, fs, fs))) / fovs.length

    val plane = events.head.plane(0)
    val px = plane.length.toDouble
    val t = Thresholds.otsu(plane)
    val mask = plane.map(_ > t)
    val (lo, hi) = Stats.minMax(plane)
    val q = plane.map(v => math.min(14, ((v - lo) / (hi - lo + 1e-9) * 15).toInt))
    val fov = fovs.head
    val fpx = fov.length.toDouble
    val den = Filters.nlMeansDenoise(fov, fs, fs)
    val fg = den.map(_ > Thresholds.otsu(den))
    val dist = Watershed.distanceTransform(fg, fs, fs)
    val markers = Watershed.markersFromPeaks(
      Watershed.peakLocalMax(dist, fs, fs, cellDiameter), fs, fs)
    val negDist = dist.map(-_)
    val kernels = Seq(
      ("otsu", px, () => Thresholds.otsu(plane)),
      ("li", px, () => Thresholds.li(plane)),
      ("label", px, () => Morphology.label(mask, side, side)),
      ("nlmeans", fpx, () => Filters.nlMeansDenoise(fov, fs, fs)),
      ("edt", fpx, () => Watershed.distanceTransform(fg, fs, fs)),
      ("watershed", fpx, () => Watershed.watershed(negDist, fs, fs, markers)),
      ("regionprops", px, () => RegionProps.compute(mask, side, side)),
      ("glcm", px, () => Glcm.meanStdOverAngles(q, side, side, Features.TextureBins, 3)),
      ("median", px, () => Filters.medianDisk(plane, side, side, 5)),
      ("sobel", px, () => Filters.sobel(plane, side, side)))
      .flatMap { case (k, n, f) =>
        Seq(s"kernels.$k" -> nsPerCall(f) / n, s"kernels.${k}_px" -> n)
      }

    val enc = org.apache.spark.sql.catalyst.encoders.encoderFor(Codecs.imageEventEncoder)
    val ser = enc.createSerializer()
    val de = enc.resolveAndBind().createDeserializer()
    val rows = circle.map(ser(_).copy())
    val core = Map(
      "core.encode_ns" -> perEvent(circle)(ser(_).copy()),
      "core.decode_ns" -> nsPerCall(() => rows.map(de(_))) / rows.length)

    ops ++ kernels ++ core + ("ops.segment_ns" -> segNs)
  }

  /** single-thread ns per input event of a lane's per-record work, from
    * the op timings: the baseline of parallel efficiency and overhead */
  def perRecordNs(lane: String, m: Map[String, Double]): Double = {
    lane match {
      case "imaging_aggregate" =>
        m("ops.mask_otsu_ns") + m("ops.mask_li_ns") + 2 * m("ops.feat_intensity_ns") +
          m("ops.feat_raw_ns")
      case _ => 0.0
    }
  }
}
