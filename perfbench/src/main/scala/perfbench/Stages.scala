package perfbench

import graft.core.ImageEvent
import graft.ops._
import graft.pipeline.{Cli, Pipeline, YamlConfig}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Stage self times of an imaging lane from successive prefix
  * materializations through the public stage functions, each written
  * to the `noop` sink. A stage's self time is its prefix's wall time
  * minus the wall time of the prefix it extends; per-branch stages sum
  * over branches. Export is the full CLI run minus the whole feature
  * table written to `noop`. */
object Stages {

  /** builds the prefix (stage functions may run their aggregate jobs
    * while building) and writes it to `noop`, twice; returns the wall
    * time of the second, so a plan's first compilation is not charged
    * to its stage */
  private def noop(spark: SparkSession, ds: => Dataset[_]): Double =
    (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      ds.toDF().write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }.last

  def selfTimes(spark: SparkSession, in: ImagingInput, cliWall: Double): Map[String, Double] = {
    val root = YamlConfig.normalize(YamlConfig.parse(java.nio.file.Files.readString(in.config)))
    val paths = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance.arrayNode()
    in.paths.foreach(paths.add)
    root.get("load").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("paths", paths)
    val cfg = Cli.parseConfig(root)
    def source = Cli.loadSource(spark, root.get("load"))

    val load = noop(spark, source)
    val illum =
      if (cfg.illuminationCorrection)
        noop(spark, Illumination.correct(spark, source, cfg.illuminationMedianSize)) - load
      else 0.0
    val segment = cfg.segment match {
      case Some(s: Segmentation.Segmenter) =>
        noop(spark, Segmentation.toEvents(
          Segmentation.segment(source, s, cfg.segmentParentChannel),
          cfg.segmentParentChannel)) - load
      case _ => 0.0
    }
    def prepared = Pipeline.prepare(spark, source, cfg)
    val prep = load + illum + segment

    // one chain per mask branch plus the raw branch that rides along
    // with masked configs: (feature types, mask method or None)
    val masked = cfg.branches.filter(_.method != Masking.NoOp)
    val chains = cfg.branches.map(b => (b.featureTypes.getOrElse(cfg.featureTypes),
      Some(b.method).filter(_ != Masking.NoOp))) ++
      (if (masked.nonEmpty) Seq((Seq("raw"), None)) else Nil)
    var mask, popfilter, normalize, features = 0.0
    chains.foreach { case (types, method) =>
      var ds: () => Dataset[ImageEvent] = () => prepared
      var last = prep
      method.foreach { m =>
        ds = () => Masking.branch(prepared, m, cfg.mainChannelIndex, cfg.combinedIndices)
        val t = noop(spark, ds()); mask += t - last; last = t
      }
      if (cfg.populationFilter) {
        val prev = ds; ds = () => PopulationFilter(spark, prev())
        val t = noop(spark, ds()); popfilter += t - last; last = t
      }
      if (cfg.normalize) {
        val prev = ds; ds = () => Normalization.normalize(spark, prev())
        val t = noop(spark, ds()); normalize += t - last; last = t
      }
      val t = noop(spark, Features.extract(ds(), cfg.channelNames, types))
      features += t - last
    }
    val table = noop(spark, Pipeline.runPrepared(spark, prepared, cfg))
    Map("stage.load_s" -> load, "stage.illumination_s" -> illum,
      "stage.segment_s" -> segment, "stage.mask_s" -> mask,
      "stage.popfilter_s" -> popfilter, "stage.normalize_s" -> normalize,
      "stage.features_s" -> features, "stage.export_s" -> (cliWall - table))
  }
}
