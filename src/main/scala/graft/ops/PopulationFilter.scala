package graft.ops

import graft.core.ImageEvent
import graft.core.Codecs._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Population threshold filter — reference F2
  * (filter/threshold.py:8-27, wired main.py:214-228): per-record
  * stat = sum of the main channel; population mean/std of that stat;
  * keep records with stat > Φ⁻¹(0.05; μ, σ), tombstone the rest.
  *
  * The aggregate-then-filter shape: stats are one partial+final
  * aggregate (2 doubles per key shuffled), collected back into the row
  * pass — the decorrelated-scalar-subquery plan Catalyst would build
  * for the SQL equivalent (see rel.RelQueries q18). The per-record
  * pieces ([[filterSum]], [[thresholds]], [[keeps]], [[filterRecord]])
  * are shared with the fused pipeline, which filters every branch in
  * one pass.
  */
object PopulationFilter {

  /** Φ⁻¹(0.05) — scipy.stats.norm.ppf(0.05) */
  val Z05 = -1.6448536269514722

  /** per-record stat = sum of channel 0 — the reference hardcodes
    * index 0, not the main channel (filter/threshold.py:8-13:
    * `part[i]["pixels"][0].sum()`) */
  def filterSum(e: ImageEvent): Double = {
    var s = 0.0
    var i = 0
    val ps = e.planeSize
    while (i < ps) { s += e.pixels(i); i += 1 }
    s
  }

  /** keep thresholds μ + Φ⁻¹(0.05)·σ per key 0 until `nKeys`, from
    * `sums` rows (key: Int, s: Double) holding the [[filterSum]] of
    * every pixel-bearing record. σ is the population std (dask.bag.std,
    * ddof=0); a key with no such records keeps everything: −inf. */
  def thresholds(sums: DataFrame, nKeys: Int): Array[Double] = {
    val q5 = Array.fill(nKeys)(Double.NegativeInfinity)
    sums.groupBy("key").agg(avg("s"), stddev_pop("s")).collect().foreach { r =>
      q5(r.getInt(0)) = r.getDouble(1) + Z05 * r.getDouble(2)
    }
    q5
  }

  /** the keep predicate on a record's [[filterSum]] (NaN never passes) */
  def keeps(sum: Double, q5: Double): Boolean = sum > q5

  def filterRecord(q5: Double)(e: ImageEvent): ImageEvent =
    if (!e.hasPixels || keeps(filterSum(e), q5)) e else e.tombstone

  def apply(spark: SparkSession, ds: Dataset[ImageEvent]): Dataset[ImageEvent] = {
    import spark.implicits._
    val cached = ds.cache() // reused: stats pass + predicate pass (main.py:219 persist)
    val q5 = thresholds(cached.filter(_.hasPixels)
      .map(e => (0, filterSum(e))).toDF("key", "s"), 1)(0)
    cached.map(filterRecord(q5))
  }
}
