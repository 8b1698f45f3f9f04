package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** What one operation left behind, as read back by the output check. */
final case class Outcome(rows: Long, columns: Seq[String], digest: String,
    tombstoned: Long)

/** Inputs of one imaging run: the CLI's config file and data paths and
  * the events they hold, one output row each. */
final case class ImagingInput(config: Path, paths: Seq[String], eventsIn: Long)

/** One imaging workload: a seeded input writer and the CLI config it
  * runs. Each operation is one `graft.pipeline.Cli.run` call into a
  * fresh output directory. */
sealed trait Imaging {
  def name: String
  def yaml: String
  /** untimed runs before the measured ones */
  def warmups: Int
  /** measured runs, whatever `--seconds` says */
  def iterations: Int
  /** writes the inputs under `dir`; returns the data paths and the
    * number of events they hold */
  def writeInputs(dir: Path, seed: Long): (Seq[String], Long)
  /** reads the committed output back; `base` is the input directory */
  def readOutput(spark: SparkSession, out: Path, base: String): Outcome

  def prepare(dir: Path, seed: Long): ImagingInput = {
    val (paths, n) = writeInputs(dir.resolve("data"), seed)
    val cfg = dir.resolve(s"$name.yml")
    Files.writeString(cfg, yaml)
    ImagingInput(cfg, paths, n)
  }

  def run(spark: SparkSession, in: ImagingInput, out: Path): Unit =
    graft.pipeline.Cli.run(spark, out.toString, in.config.toString, in.paths)
}

object Imaging {
  val all: Seq[Imaging] = Seq(Aggregate)

  /** Illumination correction, otsu and li branches plus raw, the
    * population filter and quantile normalization over four groups:
    * the aggregate-bearing path with its cached parent, per-branch
    * stats jobs and joins. */
  object Aggregate extends Imaging {
    val name = "imaging_aggregate"
    val events = 128
    val warmups = 1
    val iterations = 2
    val yaml: String =
      s"""load:
         |  format: zarr
         |  regex: '^.+/(?<group>[^/]+)[.]zarr$$'
         |  channels: [0, 1]
         |  channel_names: [DAPI, PI]
         |illumination_correction:
         |  median_filter_size: 15
         |mask:
         |  - name: otsu
         |    method: otsu
         |  - name: li
         |    method: li
         |    smooth: [1, 1]
         |filter:
         |  population: true
         |normalization:
         |  quantile: true
         |feature_extraction:
         |  types: [regions, bbox, intensity]
         |export:
         |  format: parquet
         |""".stripMargin
    val groups = 4
    /** One store per group, named after it, in the reference's
      * `<group>.zarr` layout; store g holds objects g·perGroup until
      * (g+1)·perGroup and is 1 + g/2 times as bright, so group
      * statistics differ. */
    def writeInputs(dir: Path, seed: Long): (Seq[String], Long) = {
      val perGroup = events / groups
      val stores = (0 until groups).map { g =>
        val store = dir.resolve(s"g$g.zarr")
        Gen.writeZarr(store, seed, firstObject = g.toLong * perGroup, perGroup,
          channels = 2, h = 48, w = 48, gain = 1.0 + 0.5 * g)
        store.toString
      }
      (stores, events.toLong)
    }
    def readOutput(spark: SparkSession, out: Path, base: String): Outcome = {
      val o = Check.parquetOutcome(spark, out, base)
      val csv = out.resolve("channel_boundaries.csv")
      require(Files.exists(csv), "channel_boundaries.csv was not written")
      o.copy(digest = Check.md5(o.digest + "\n" + Files.readString(csv)))
    }
  }
}

/** The board slice: registry cells timed around `count()` like
  * `graft.Bench`, in a seed-permuted order. */
object Board {
  val name = "board_slice"
  /** cells ROADMAP directions 1 and 4 target (see README.md for the
    * cells left out and why) */
  val cells: Seq[String] = Seq("d21_lsh_calibration", "p01_pipeline_e2e",
    "p27c_stream_neardup", "s22_index_delete", "s23_index_compact")

  def order(seed: Long): Seq[String] =
    cells.zipWithIndex.sortBy { case (_, i) => Gen.mix(Gen.mix(seed) ^ i) }.map(_._1)
}
