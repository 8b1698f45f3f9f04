package graft.ops

import graft.core.ImageEvent
import graft.core.Codecs._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Group-wise quantile (min-max) normalization — reference A1 + P3
  * (normalization/quantile_normalization.py:25-89).
  *
  * Scale design (SURVEY.md §2.1-A1): instead of folding whole images
  * into an aggregation buffer, each record first reduces itself to a
  * (channels × 2) extent — masked pixels only when a mask is present,
  * exactly like `combine_extent_partition` — and the group extents
  * come from builtin min/max over the exploded per-channel rows:
  * partial aggregation map-side, one light shuffle of ngroups×C rows,
  * codegen throughout. The tiny result is collected and broadcast
  * back through the executors (the reference's J2 dict broadcast).
  * The per-record pieces ([[extents]], [[keyedMinMax]],
  * [[normalizeRecord]]) are shared with the fused pipeline, which
  * normalizes every branch in one pass.
  */
object Normalization {

  type MinMax = Map[(String, Int), (Double, Double)]

  /** one record's (channel, min, max) over its masked (or all) pixels.
    * Reference parity quirk: combine_extent_partition folds
    * min(acc, np.min(record)) with PYTHON's min, and min(x, NaN)
    * returns x — so a channel with ANY NaN pixel contributes NOTHING
    * (np.min of the whole slice is NaN, which python-min then
    * discards). Empty masked slices and tombstones contribute nothing
    * the same way. */
  def extents(e: ImageEvent): Seq[(Int, Double, Double)] =
    if (!e.hasPixels) Nil
    else {
      val ps = e.planeSize
      (0 until e.channels).flatMap { c =>
        var mn = Double.MaxValue; var mx = Double.MinValue
        var any = false
        var hasNaN = false
        var i = 0
        while (i < ps) {
          if (!e.hasMask || e.mask(c * ps + i) > 0) {
            val v = e.pixels(c * ps + i)
            if (java.lang.Float.isNaN(v)) hasNaN = true
            else {
              if (v < mn) mn = v
              if (v > mx) mx = v
              any = true
            }
          }
          i += 1
        }
        if (any && !hasNaN) Some((c, mn, mx)) else None
      }
    }

  /** per-key (group, channel) → (min, max) for keys 0 until `nKeys`,
    * from rows (key: Int, group, channel, mn, mx) of record [[extents]] */
  def keyedMinMax(rows: DataFrame, nKeys: Int): Array[MinMax] = {
    val byKey = rows.groupBy("key", "group", "channel")
      .agg(min("mn"), max("mx"))
      .collect()
      .groupBy(_.getInt(0))
    Array.tabulate(nKeys)(k => byKey.getOrElse(k, Array.empty).map(r =>
      (r.getString(1), r.getInt(2)) -> (r.getDouble(3), r.getDouble(4))).toMap)
  }

  /** per-group per-channel (min, max) over masked (or all) pixels */
  def groupMinMax(spark: SparkSession, ds: Dataset[ImageEvent]): MinMax = {
    import spark.implicits._
    keyedMinMax(ds.flatMap(e => extents(e).map { case (c, mn, mx) =>
      (0, e.group, c, mn, mx) }).toDF("key", "group", "channel", "mn", "mx"), 1)(0)
  }

  /** (pixels − min) / (max − min) per channel with the group's extents
    * (sample_normalization, quantile_normalization.py:67-89). Missing
    * extents (channel masked empty / all-NaN across the group) fall
    * back to the reference's untouched ±inf foldby init, and the
    * formula applies WITHOUT a zero-span guard — numpy divides by
    * zero: a constant channel normalizes to NaN (v==lo ⟹ 0/0), an
    * empty-extent channel to NaN via -inf/-inf. Guarding either would
    * diverge from sample_normalization (quantile_normalization.py:83-84). */
  def normalizeRecord(minmax: MinMax)(e: ImageEvent): ImageEvent =
    if (!e.hasPixels) e
    else {
      val ps = e.planeSize
      val out = new Array[Float](e.pixels.length)
      var c = 0
      while (c < e.channels) {
        val (lo, hi) = minmax.getOrElse((e.group, c),
          (Double.PositiveInfinity, Double.NegativeInfinity))
        val span = hi - lo
        var i = 0
        while (i < ps) {
          out(c * ps + i) = ((e.pixels(c * ps + i) - lo) / span).toFloat
          i += 1
        }
        c += 1
      }
      e.copy(pixels = out)
    }

  /** Dataset form of [[normalizeRecord]] over `ds`'s own extents.
    * Caches `ds` for its two passes (extents + normalize) and cannot
    * release it itself — the second pass is lazy; the caller's run
    * boundary is the cache scope (Verify/Bench clear between queries). */
  def normalize(spark: SparkSession, ds: Dataset[ImageEvent]): Dataset[ImageEvent] = {
    val cached = ds.cache() // shared subplan: extents + normalize pass
    val bc = spark.sparkContext.broadcast(groupMinMax(spark, cached))
    cached.map(e => normalizeRecord(bc.value)(e))
  }
}
