package graft.pipeline

import graft.core.{ImageEvent, Synthetic}
import graft.ops._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** The pipeline driver — the Spark re-expression of the reference's
  * `main()` fold (main.py:143-275):
  *
  * {{{
  * source → repartition → [project] → [illumination-correct]
  *   → [segment] → [sample/limit] → [mask filters]
  *   → one map pass, per record and per branch (each mask branch + raw):
  *     method → border-scrub → bbox → apply
  *     → [population filter] → [normalize] → features
  *   → one wide row per event → coalesce → export
  * }}}
  *
  * Branch concat: the reference concatenates branch feature tables
  * column-wise relying on identical partitioning (main.py:260-268, J3).
  * Here every branch's cells are computed from the same record inside
  * one map, so the concat is column-aligned by construction and the
  * row count is the input's, repeated event keys included. The
  * population filter and normalization need population values; they
  * come from a summary pass before the map (see [[Pipeline.runFused]]).
  */
final case class MaskBranchConfig(
    name: String,
    method: Masking.Method,
    exportPrefix: Option[String] = None,
    /** per-branch feature selection (the reference's
      * feature_extraction: {branch: [types...]} form); None = the
      * pipeline-level featureTypes */
    featureTypes: Option[Seq[String]] = None)

final case class PipelineConfig(
    channelNames: Seq[String],
    mainChannelIndex: Int = 0,
    combinedIndices: Seq[Int] = null,
    /** the reference ALWAYS adds an unmasked "raw" branch (types=
      * ["raw"], prefix "raw") whenever masks are configured
      * (main.py:206: images_dict["raw"] = images) — raw intensity
      * stats per channel on the un-masked pixels */
    rawBranch: Boolean = true,
    projectOp: Option[String] = None,
    illuminationCorrection: Boolean = false,
    illuminationMedianSize: Int = 50,
    illuminationPrecomputed: Option[String] = None,
    segment: Option[Segmentation.SegmentSpec] = None,
    segmentParentChannel: Int = 0,
    sampleK: Option[Int] = None,
    sampleWithReplacement: Boolean = false,
    maskNpyDir: Option[String] = None,
    maskFilters: Seq[Masking.MaskFilter] = Seq.empty,
    branches: Seq[MaskBranchConfig],
    populationFilter: Boolean = false,
    normalize: Boolean = false,
    featureTypes: Seq[String] = Seq("regions", "bbox", "shape", "intensity", "texture"),
    nPartitions: Int = 0)

object Pipeline {

  /** reference prefix rule (main.py:244-246): every mask branch is
    * prefixed by its name; only the mask-LESS config ("no") goes
    * unprefixed. `exportPrefix` still overrides. */
  private def branchPrefix(b: MaskBranchConfig): String =
    b.exportPrefix.getOrElse(if (b.name == "no") null else b.name)

  /** raw branch accompanies every masked config (never the "no" one) */
  private def includeRaw(cfg: PipelineConfig): Boolean =
    cfg.rawBranch && !cfg.branches.forall(_.name == "no")

  /** run the full pipeline on a source dataset → wide feature table */
  def run(spark: SparkSession, source: Dataset[ImageEvent],
      cfg: PipelineConfig): DataFrame =
    runPrepared(spark, prepare(spark, source, cfg), cfg)

  /** [[run]] fused straight into the registry's digest reduction: the
    * wide feature row is never materialized as a PLANNED schema — the
    * single fused map emits (keys..., row_digest, schema_digest)
    * directly via [[graft.rel.Digest.fusedDigester]], collapsing the
    * several-hundred-column encoder + ~5-nodes-per-column digest
    * projection Catalyst was measured spending ~2.3 s/cell planning
    * (p01). Same result as [[graft.rel.Digest.rows]] over [[run]]
    * (DigestSpec and the committed goldens gate that). */
  def runDigested(spark: SparkSession, source: Dataset[ImageEvent],
      cfg: PipelineConfig, keyCols: Seq[String]): DataFrame =
    runFused(spark, prepare(spark, source, cfg), cfg, Some(keyCols))._1

  /** every pre-branch stage (repartition → project → illumination →
    * segment → sample → mask filters) — exposed for callers that
    * inspect or time the processed stream the branches consume. */
  def prepare(spark: SparkSession, source: Dataset[ImageEvent],
      cfg: PipelineConfig): Dataset[ImageEvent] = {
    var ds = if (cfg.nPartitions > 0) source.repartition(cfg.nPartitions) else source

    cfg.projectOp.foreach(op => ds = Projection(ds, op))
    cfg.illuminationPrecomputed match {
      case Some(path) => ds = Illumination.correctPrecomputed(spark, ds, path)
      case None if cfg.illuminationCorrection =>
        ds = Illumination.correct(spark, ds, cfg.illuminationMedianSize)
      case None =>
    }
    cfg.segment.foreach { spec =>
      // the cellpose spec carries its OWN parent channel: exploding
      // events from cfg.segmentParentChannel when the two disagree
      // would read a child-assigned mask channel (cropped fragments)
      // instead of the parent cells
      val parentCh = spec match {
        case cp: Segmentation.CellposeShaped => cp.parentChannelIndex
        case _ => cfg.segmentParentChannel
      }
      ds = spec match {
        case cp: Segmentation.CellposeShaped => Segmentation.segmentCellpose(ds, cp)
        case seg: Segmentation.Segmenter =>
          Segmentation.segment(ds, seg, cfg.segmentParentChannel)
      }
      // K4: side-effect export of the labeled FOV masks
      cfg.maskNpyDir.foreach(dir => ds = graft.export.Export.npyMasks(ds, dir))
      ds = Segmentation.toEvents(ds, parentCh)
    }
    cfg.sampleK.foreach { k =>
      ds = if (cfg.sampleWithReplacement) Sampling.sampleWithReplacement(ds, k)
           else Sampling.sampleExact(ds, k)
    }

    if (cfg.maskFilters.nonEmpty)
      ds = Masking.computeFilters(ds, cfg.maskFilters, cfg.mainChannelIndex)
    ds
  }

  /** branch fan-out + feature extraction over an already-prepared
    * stream (see [[prepare]]) */
  def runPrepared(spark: SparkSession, ds: Dataset[ImageEvent],
      cfg: PipelineConfig): DataFrame =
    runFused(spark, ds, cfg)._1

  /** The one execution path: every chain — each mask branch, plus the
    * unmasked raw branch — runs in ONE map pass over `ds`, producing
    * the full wide row (column-aligned concat, correct by construction:
    * SURVEY.md J3's replacement for the reference's row-order-dependent
    * axis-1 concat, main.py:260-268). Per chain and record:
    * branchRecord → [population filter] → [normalize] → featureCells.
    *
    * The two aggregate stages need population values first. One pass
    * over the cached parent reduces every chain's pixel-bearing records
    * to a small cached (chain, group, filter sum, channel extents)
    * summary; one aggregate over it gives each chain's keep threshold,
    * a second each chain's group extents over the records that
    * threshold keeps. Both are collected and broadcast into the map,
    * so every mask is computed twice per event (summary + map) and no
    * branch table is ever joined.
    *
    * Also returns the first chain's group extents — the ones the CLI
    * exports as channel_boundaries.csv / quantiles.csv — when
    * normalization is on or `withExtents` asks for them. */
  private[pipeline] def runFused(spark: SparkSession, ds: Dataset[ImageEvent],
      cfg: PipelineConfig, digestKeys: Option[Seq[String]] = None,
      withExtents: Boolean = false): (DataFrame, Option[Normalization.MinMax]) = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType, StringType}
    // (prefix, feature types, mask method; None = the unmasked raw branch)
    val chains = cfg.branches.map(b => (branchPrefix(b),
      b.featureTypes.getOrElse(cfg.featureTypes), Option(b.method))) ++
      (if (includeRaw(cfg)) Seq(("raw", Seq("raw"), None)) else Nil)
    val channelNames = cfg.channelNames
    val mainCh = cfg.mainChannelIndex
    val combined = cfg.combinedIndices
    val methods = chains.map(_._3).toArray
    def chainRecord(i: Int, e: ImageEvent): ImageEvent =
      methods(i).fold(e)(m => Masking.branchRecord(m, mainCh, combined)(e))

    val filtered = cfg.populationFilter
    val normalized = cfg.normalize
    val wantExtents = normalized || withExtents
    // chains the summary covers: all when an aggregate stage runs, the
    // first alone when only its extents are exported
    val nSummarized =
      if (filtered || normalized) chains.length else if (withExtents) 1 else 0
    val parent = if (nSummarized > 0) ds.cache() else ds
    val aggregates = if (nSummarized == 0) None else Some {
      import spark.implicits._
      val summary = parent.flatMap { e =>
        (0 until nSummarized).iterator.map(i => (i, chainRecord(i, e)))
          .filter(_._2.hasPixels).map { case (i, r) =>
            (i, r.group, PopulationFilter.filterSum(r), Normalization.extents(r))
          }
      }.cache()
      val q5 =
        if (filtered) PopulationFilter.thresholds(summary.toDF("key", "group", "s", "ex"),
          nSummarized)
        else Array.empty[Double]
      val kept =
        if (filtered) summary.filter(r => PopulationFilter.keeps(r._3, q5(r._1)))
        else summary
      val extents =
        if (wantExtents) Normalization.keyedMinMax(kept.flatMap { case (i, g, _, ex) =>
          ex.map { case (c, mn, mx) => (i, g, c, mn, mx) }
        }.toDF("key", "group", "channel", "mn", "mx"), nSummarized)
        else Array.empty[Normalization.MinMax]
      summary.unpersist(false)
      (q5, extents)
    }
    val bc = aggregates.map(spark.sparkContext.broadcast(_))

    val layouts = chains.map(c => Features.layout(channelNames, c._2)).toArray
    val metaFields = Features.schema(channelNames, cfg.featureTypes, null)
      .fields.take(4)
    val featFields = chains.flatMap { case (p, types, _) =>
      Features.featureNames(channelNames, types).map(n =>
        StructField(Features.renamed(n, p, isLoaderMeta = false), DoubleType))
    }
    val sch = StructType(metaFields ++ featFields)
    // the per-record wide-row assembly (meta ++ every chain's feature
    // cells, in schema field order)
    def rowCells(e: ImageEvent): Array[Any] = {
      val agg = bc.map(_.value)
      val cells = layouts.indices.iterator.flatMap { i =>
        var r = chainRecord(i, e)
        agg.foreach { case (q5, extents) =>
          if (filtered) r = PopulationFilter.filterRecord(q5(i))(r)
          if (normalized) r = Normalization.normalizeRecord(extents(i))(r)
        }
        Features.featureCells(r, channelNames, layouts(i))
      }.toArray
      Array[Any](e.path, e.idx, e.group, e.id) ++ cells
    }
    val table = digestKeys match {
      case None =>
        parent.map(e => org.apache.spark.sql.Row.fromSeq(rowCells(e).toSeq))(
          org.apache.spark.sql.Encoders.row(sch))
      case Some(keys) =>
        // fused digest: the wide row exists only as a transient Array
        // inside the map — the PLANNED schema is keys+2 strings, so
        // Catalyst never analyzes the wide encoder or a per-column
        // digest projection (see Digest.fusedDigester)
        val (schemaDigest, digestFn) = graft.rel.Digest.fusedDigester(sch)
        val byName = sch.fieldNames.zipWithIndex.toMap
        val keyIdx = keys.map(byName(_)).toArray
        val outSch = StructType(
          keys.map(StructField(_, StringType)) ++ Seq(
            StructField("row_digest", StringType),
            StructField("schema_digest", StringType)))
        parent.map({ e =>
          val all = rowCells(e)
          // cast-to-string key semantics of Digest.rows (null stays
          // null; int/long/string render identically to Spark's cast)
          val ks = keyIdx.map { i =>
            val v = all(i); if (v == null) null else v.toString
          }
          org.apache.spark.sql.Row.fromSeq(
            ks.toSeq ++ Seq(digestFn(all), schemaDigest))
        })(org.apache.spark.sql.Encoders.row(outSch)).orderBy(keys.map(col): _*)
    }
    (table, if (wantExtents) aggregates.map(_._2.head) else None)
  }

  /** the reference's own e2e shape (test/data/scip_zarr.yml): synthetic
    * events through two identical circle branches + li + spot, full
    * feature set — used by the e2e spec and the flagship entry. */
  def referenceShape(spark: SparkSession, nEvents: Int = 10,
      digestKeys: Option[Seq[String]] = None): DataFrame = {
    val cfg = PipelineConfig(
      channelNames = Seq("ch0", "ch1", "ch2"),
      mainChannelIndex = 0,
      branches = Seq(
        MaskBranchConfig("circle-1", Masking.Circle),
        MaskBranchConfig("circle-2", Masking.Circle),
        MaskBranchConfig("li", Masking.Li(Seq(0.75, 0.75, 0.75))),
        MaskBranchConfig("spot", Masking.Spot(5))),
      normalize = false,
      featureTypes = Seq("regions", "bbox", "shape", "intensity", "texture"))
    digestKeys match {
      case Some(k) => runDigested(spark, Synthetic.conftest(spark, nEvents),
        cfg, k)
      case None => run(spark, Synthetic.conftest(spark, nEvents), cfg)
    }
  }
}
