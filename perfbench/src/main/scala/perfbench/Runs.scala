package perfbench

import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One iteration of the closed loop: an imaging run, or one pass over
  * the board slice. `heapMb` is the heap it leaves live,
  * `rssMb` the peak RSS. `ops` operations were attempted, `failed` of
  * them threw or failed the output check. */
final case class Iter(wall: Double, cpu: Double, heapMb: Double, rssMb: Double, outMb: Double,
    ops: Int, failed: Int, failures: Seq[String], checkS: Double)

/** A workload set up in a live session. Constructing it is the
  * warm-up; `measure` is the timed closed loop. */
abstract class LaneRun(a: Main.Args, spark: SparkSession, expected: JsonNode) {
  /** events (imaging) or cells (board) per iteration */
  def eventsPerIter: Double
  def iterate(k: Int): Iter
  /** per-layer metrics of one traced operation, and its check failures */
  def traced(): (Seq[(String, (Double, String))], Seq[String])

  /** iterations a run makes even when they outlast `--seconds` */
  def minIters: Int
  def measure(): Seq[Iter] = {
    val end = System.nanoTime() + (a.seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Iter]
    // every iteration starts from a collected heap and an empty cache
    while (out.length < minIters || System.nanoTime() < end) {
      spark.catalog.clearCache()
      System.gc()
      out += iterate(out.length)
    }
    out.toSeq
  }

  /** runs `f` as the measured region: wall, process CPU, the heap it
    * leaves live (taken before the cache is cleared, so what it cached
    * counts) and peak RSS */
  protected def measured(f: => Unit): (Double, Double, Double, Double, Option[Throwable]) = {
    Main.resetPeakRss()
    val c0 = Main.cpuSeconds()
    val t0 = System.nanoTime()
    val err = try { f; None } catch { case scala.util.control.NonFatal(e) => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Main.cpuSeconds() - c0
    val rss = Main.peakRssMb()
    (wall, cpu, Main.liveHeapMb(), rss, err)
  }

  protected def expectedText(k: String): Option[String] =
    Option(expected.get(k)).map(_.asText())

  /** the per-layer metrics common to every lane, from a finished trace */
  protected def layerMetrics(tr: Trace, wall: Double, perRecordNs: Double,
      events: Double): Seq[(String, (Double, String))] = {
    val t = tr.totals
    val cores = a.cores
    Seq(
      "catalyst.analysis_s" -> (t("catalyst.analysis_s"), "s"),
      "catalyst.optimization_s" -> (t("catalyst.optimization_s"), "s"),
      "catalyst.planning_s" -> (t("catalyst.planning_s"), "s"),
      "catalyst.queries" -> (t("catalyst.queries"), "count"),
      "sched.jobs" -> (t("sched.jobs"), "count"),
      "sched.stages" -> (t("sched.stages"), "count"),
      "sched.tasks" -> (t("sched.tasks"), "count"),
      "sched.driver_only_s" -> (tr.driverOnlySeconds(), "s"),
      "sched.idle_core_share" -> (1 - t("slot_s") / (cores * wall), "ratio"),
      "sched.parallel_efficiency" -> (perRecordNs * events / 1e9 / (cores * wall), "ratio"),
      "exec.straggler_s" -> (t("exec.straggler_s"), "s"),
      "exec.task_run_s" -> (t("exec.task_run_s"), "s"),
      "exec.task_cpu_s" -> (t("exec.task_cpu_s"), "s"),
      "exec.gc_s" -> (t("exec.gc_s"), "s"),
      "exec.deser_s" -> (t("exec.deser_s"), "s"),
      "exec.overhead_share" -> (if (perRecordNs == 0 || t("exec.task_cpu_s") == 0) 0.0
        else 1 - perRecordNs * events / 1e9 / t("exec.task_cpu_s"), "ratio"),
      "move.input_mb" -> (t("move.input_mb"), "MB"),
      "move.shuffle_write_mb" -> (t("move.shuffle_write_mb"), "MB"),
      "move.shuffle_read_mb" -> (t("move.shuffle_read_mb"), "MB"),
      "move.spill_mb" -> (t("move.spill_mb"), "MB"),
      "move.result_mb" -> (t("move.result_mb"), "MB"),
      "mem.peak_exec_mb" -> (t("mem.peak_exec_mb"), "MB"),
      "mem.cache_peak_mb" -> (t("mem.cache_peak_mb"), "MB"))
  }

  protected def microMetrics(m: Map[String, Double]): Seq[(String, (Double, String))] =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (v, if (k.endsWith("_px")) "count" else if (k.startsWith("kernels.")) "ns/px" else "ns")
    }

  /** runs `f` with the recorder registered on the session */
  protected def withTrace[T](f: Trace => T): (T, Trace) = {
    val tr = new Trace
    spark.sparkContext.addSparkListener(tr)
    spark.listenerManager.register(tr)
    try {
      val r = f(tr)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      (r, tr)
    } finally {
      spark.sparkContext.removeSparkListener(tr)
      spark.listenerManager.unregister(tr)
    }
  }

  protected def writeTrace(tr: Trace): Unit = {
    java.nio.file.Files.createDirectories(a.traceOut.getParent)
    java.nio.file.Files.writeString(a.traceOut, tr.toJson)
  }
}

/** An imaging lane: each iteration is one CLI run into a fresh output
  * directory, checked and deleted afterwards. */
final class ImagingRun(a: Main.Args, spark: SparkSession, lane: Imaging,
    in: ImagingInput, expected: JsonNode) extends LaneRun(a, spark, expected) {

  def eventsPerIter: Double = in.eventsIn.toDouble
  val minIters: Int = lane.iterations
  private var firstDigest: String = null

  private def out(k: Int): Path = a.root.resolve("out").resolve(s"run$k")

  private def check(k: Int, o: Outcome): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    if (o.rows != in.eventsIn) f += s"rows ${o.rows}, expected ${in.eventsIn}"
    val cols = Check.md5(o.columns.mkString(","))
    expectedText("columns_md5").filter(_ != cols)
      .foreach(e => f += s"column list md5 $cols, expected $e")
    if (firstDigest == null) firstDigest = o.digest
    else if (o.digest != firstDigest) f += s"digest ${o.digest} differs from the run's first ${firstDigest}"
    if (a.seed == Main.DefaultSeed) {
      expectedText("digest").filter(_ != o.digest)
        .foreach(e => f += s"digest ${o.digest}, expected $e for the default seed")
      expectedText("tombstoned").filter(_ != o.tombstoned.toString)
        .foreach(e => f += s"tombstoned ${o.tombstoned}, expected $e for the default seed")
    }
    f.toSeq
  }

  (0 until lane.warmups).foreach { _ =>
    lane.run(spark, in, a.root.resolve("warm"))
    Main.deleteTree(a.root.resolve("warm"))
    spark.catalog.clearCache()
  }

  def iterate(k: Int): Iter = {
    val dir = out(k)
    val (wall, cpu, heap, rss, err) = measured(lane.run(spark, in, dir))
    val bytes = Check.bytesUnder(dir) / 1e6
    val (failures, checkS) = Main.time(err match {
      case Some(e) => Seq(s"run $k threw $e")
      case None =>
        try {
          check(k, lane.readOutput(spark, dir, in.config.getParent.toString))
            .map(s => s"run $k: $s")
        } catch { case scala.util.control.NonFatal(e) => Seq(s"run $k output unreadable: $e") }
    })
    Main.deleteTree(dir)
    Iter(wall, cpu, heap, rss, bytes, 1, if (failures.isEmpty) 0 else 1, failures, checkS)
  }

  def traced(): (Seq[(String, (Double, String))], Seq[String]) = {
    val dir = a.root.resolve("out").resolve("traced")
    // untraced runs on both sides of the traced one are its overhead
    // baseline: the JVM is still getting faster run by run
    def untraced(): Double = {
      val (_, dt) = Main.time(lane.run(spark, in, dir))
      Main.deleteTree(dir)
      spark.catalog.clearCache()
      System.gc()
      dt
    }
    val before = untraced()
    val (wall, tr) = withTrace { tr =>
      tr.beginRun(lane.name)
      val (_, dt) = Main.time(lane.run(spark, in, dir))
      tr.endRun()
      dt
    }
    val o = lane.readOutput(spark, dir, in.config.getParent.toString)
    val failures = check(-1, o).map(s => s"traced run: $s")
    Main.deleteTree(dir)
    writeTrace(tr)
    spark.catalog.clearCache()
    System.gc()
    val after = untraced()
    val stages = Stages.selfTimes(spark, in, (before + after) / 2)
    val micro = Micro.run(a.seed)
    val perRecord = Micro.perRecordNs(lane.name, micro)
    (layerMetrics(tr, wall, perRecord, in.eventsIn.toDouble) ++
      stages.toSeq.sortBy(_._1).map { case (k, v) => k -> (v, "s") } ++
      microMetrics(micro) ++
      Board.cells.map(c => s"cell.${c}_s" -> (0.0, "s")) ++ Seq(
        "pipeline.events_in" -> (in.eventsIn.toDouble, "count"),
        "pipeline.tombstoned" -> (o.tombstoned.toDouble, "count"),
        "pipeline.rows_out" -> (o.rows.toDouble, "count"),
        "trace.overhead_share" -> (wall / ((before + after) / 2) - 1, "ratio")), failures)
  }
}

/** The board slice. Set-up runs every cell once untimed, collecting
  * and digesting its output for the check, which also warms the tables
  * and code the cells use; each iteration then times every cell's
  * `count()` in the seed's order and checks it against the digest pass
  * and expected.json. */
final class BoardRun(a: Main.Args, spark: SparkSession, expected: JsonNode)
    extends LaneRun(a, spark, expected) {

  private val order = Board.order(a.seed)
  def eventsPerIter: Double = order.length.toDouble
  val minIters = 1
  private def query(c: String) = graft.SparkEntry.queries(c)(spark, a.sfDir)
  private def expectedCell(c: String): Option[JsonNode] =
    Option(expected.get("cells")).flatMap(n => Option(n.get(c)))

  /** cell → (rows, digest), or the failure that stopped the digest */
  private val digests: Map[String, Either[String, (Long, String)]] = order.map { c =>
    val d = try Right(Check.frameDigest(query(c)))
      catch { case scala.util.control.NonFatal(e) => Left(s"digest pass threw $e") }
    spark.catalog.clearCache()
    c -> d
  }.toMap

  private val digestFailures: Seq[(String, String)] = order.flatMap { c =>
    digests(c) match {
      case Left(f) => Seq(c -> f)
      case Right((rows, digest)) => expectedCell(c) match {
        case None => Seq(c -> "no expected digest")
        case Some(e) =>
          (if (e.get("rows").asLong() != rows) Seq(c -> s"rows $rows, expected ${e.get("rows")}")
           else Nil) ++
            (if (e.get("digest").asText() != digest)
              Seq(c -> s"digest $digest, expected ${e.get("digest").asText()}") else Nil)
      }
    }
  }

  private val written = new OutputBytes
  spark.sparkContext.addSparkListener(written)

  private val cellTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val passWalls = mutable.ArrayBuffer.empty[Double]

  /** one timed pass, with `tr` recording a run span per cell when
    * given: its iteration record, each cell's count and each failing
    * cell with the reason */
  private def timedPass(tr: Option[Trace] = None): (Iter, Map[String, Long], Seq[(String, String)]) = {
    var wall, cpu, heap, rss, outMb = 0.0
    val counts = mutable.Map.empty[String, Long]
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    order.foreach { c =>
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val b0 = written.bytes.get
      tr.foreach(_.beginRun(c))
      val (dt, cc, h, r, err) = measured { counts(c) = query(c).count() }
      tr.foreach(_.endRun())
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      wall += dt; cpu += cc; heap = math.max(heap, h); rss = math.max(rss, r)
      outMb += (written.bytes.get - b0) / 1e6
      cellTimes.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += dt
      err.foreach(e => failures += c -> s"threw $e")
      digests(c).foreach { case (rows, _) =>
        if (err.isEmpty && rows != counts(c))
          failures += c -> s"count ${counts(c)}, digest pass collected $rows"
      }
      spark.catalog.clearCache()
      System.gc()
    }
    (Iter(wall, cpu, heap, rss, outMb, order.length, 0, Nil, 0.0), counts.toMap, failures.toSeq)
  }

  /** the first iteration also carries the digest pass's failures */
  def iterate(k: Int): Iter = {
    val (it, _, passFailures) = timedPass()
    passWalls += it.wall
    val failures = passFailures ++ (if (k == 0) digestFailures else Nil)
    it.copy(failed = failures.map(_._1).distinct.length,
      failures = failures.map { case (c, f) => s"pass $k $c: $f" })
  }

  def traced(): (Seq[(String, (Double, String))], Seq[String]) = {
    // the measured passes, through the same code without the recorder,
    // are the overhead baseline
    val ((pass, counts, tracedFailures), tr) = withTrace(tr => timedPass(Some(tr)))
    val wall = pass.wall
    val failures = tracedFailures.map { case (c, f) => s"traced pass $c: $f" }
    writeTrace(tr)
    // the kernels run here as a control: they should not move on the board
    (layerMetrics(tr, wall, 0.0, 0.0) ++ microMetrics(Micro.run(a.seed)) ++
      Seq("load", "illumination", "segment", "mask", "popfilter", "normalize", "features",
        "export").map(s => s"stage.${s}_s" -> (0.0, "s")) ++
      Board.cells.map(c => s"cell.${c}_s" -> (cellTimes(c).head, "s")) ++ Seq(
        "pipeline.events_in" -> (order.length.toDouble, "count"),
        "pipeline.tombstoned" -> (0.0, "count"),
        "pipeline.rows_out" -> (counts.values.sum.toDouble, "count"),
        "trace.overhead_share" -> (wall / Main.median(passWalls.toSeq) - 1, "ratio")), failures)
  }
}

/** bytes the board's cells commit through Spark's writers */
final class OutputBytes extends org.apache.spark.scheduler.SparkListener {
  val bytes = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
}
