package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in its own JVM: set up, measure a closed loop with
  * one client for `--seconds`, check every output, and print the
  * result as the last stdout line prefixed with `RESULT `. Launched by
  * run.py, which owns the build, the run's temp root and the leak
  * check. */
object Main {

  /** the seed whose output digests expected.json records */
  val DefaultSeed = 1L

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: Path, cores: Int, spawnMs: Long, expected: Path, traceOut: Path,
      sfDir: String, commit: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("root")), m("cores").toInt, m("spawn-ms").toLong,
      Paths.get(m("expected")), Paths.get(m("trace-out")),
      m("sf"), m("commit"))
  }

  /** reads expected.json and writes the record, result and span files */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  // ---- measurement helpers -------------------------------------------------

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** resets the process's peak RSS (VmHWM), which the record keeps
    * beside `peak_rss_mb`; where /proc refuses, the peak stays the
    * process's lifetime peak */
  def resetPeakRss(): Unit =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); () }
    catch { case _: java.io.IOException => }
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(-1.0)

  private val memoryBean = java.lang.management.ManagementFactory.getMemoryMXBean
  /** the heap the process holds live: used heap after a full
    * collection, taken twice so what Spark's cleaner releases once the
    * first one has found it unreachable is gone by the second */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    memoryBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def loadavg(): Double = Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble

  /** graft.Bench's single-thread spin: one 50M-iteration sample scaled
    * ×20 to its 1e9-iteration calibration */
  def spinCalibration(): Double = {
    def spin(iters: Long): Double = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      val t0 = System.nanoTime()
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    spin(50000000L)
    spin(50000000L) * 20.0
  }

  def median(xs: Seq[Double]): Double = quartiles(xs)._2
  /** first quartile, median, third quartile (Python's
    * statistics.quantiles exclusive method for n ≥ 2) */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    if (s.length == 1) (s.head, s.head, s.head)
    else {
      def q(p: Double): Double = {
        val h = (s.length + 1) * p - 1
        val lo = math.max(0, math.min(s.length - 1, math.floor(h).toInt))
        val hi = math.min(s.length - 1, lo + 1)
        s(lo) + (h - math.floor(h)).max(0) * (s(hi) - s(lo))
      }
      (q(0.25), q(0.5), q(0.75))
    }
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", a.root.resolve("warehouse").toString)
    // each lane gets the session its entry point builds: the CLI's for
    // the imaging lane, graft.Bench's for the board
    val s =
      if (a.workload == Board.name)
        b.withExtensions(new graft.plans.GraftExtensions)
          .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      else b.config("spark.sql.adaptive.enabled", "true").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- entry ----------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val bootS = (System.currentTimeMillis() - a.spawnMs) / 1e3
    val expected: JsonNode = Option(mapper.readTree(a.expected.toFile).get(a.workload))
      .getOrElse(mapper.createObjectNode())
    val env = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "commit" -> a.commit, "nproc" -> a.cores,
      "loadavg_start" -> loadavg(), "cal_1t_sec_start" -> spinCalibration())

    // set-up, three times: session start plus input generation; the
    // last session and inputs are kept
    val lane = Imaging.all.find(_.name == a.workload)
    require(lane.isDefined || a.workload == Board.name, s"unknown workload ${a.workload}")
    var spark: SparkSession = null
    var input: ImagingInput = null
    val setupReps = (0 until 3).map { k =>
      if (spark != null) spark.stop()
      val (_, dt) = time {
        spark = session(a)
        lane.foreach { l =>
          input = l.prepare(a.root.resolve(s"in$k"), a.seed)
          if (k > 0) deleteTree(a.root.resolve(s"in${k - 1}"))
        }
      }
      dt
    }
    val (run, warmS) = time(lane match {
      case Some(l) => new ImagingRun(a, spark, l, input, expected)
      case None => new BoardRun(a, spark, expected)
    })
    val setupS = bootS + median(setupReps) + warmS

    val iters = run.measure()
    val walls = iters.map(_.wall)
    val (layers, tracedFailures) = if (a.trace) run.traced() else (Nil, Nil)
    val failures = iters.flatMap(_.failures) ++ tracedFailures
    val failed = iters.map(_.failed).sum + (if (tracedFailures.nonEmpty) 1 else 0)
    val attempted = iters.map(_.ops).sum + (if (a.trace) 1 else 0)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("wall_s") = (median(walls), "s")
      metrics("events_per_s") = (median(walls.map(run.eventsPerIter / _)), "1/s")
      metrics("cpu_core_s") = (median(iters.map(_.cpu)), "s")
      metrics("peak_rss_mb") = (median(iters.map(_.heapMb)), "MB")
      metrics("output_mb") = (median(iters.map(_.outMb)), "MB")
      metrics("setup_s") = (setupS, "s")
      metrics("ok_ratio") = (1.0 - failed.toDouble / attempted, "ratio")
    } else metrics ++= layers
    env ++= Seq(
      "spark_conf" -> spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" },
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.map(_.toString).toSeq)
    spark.stop()

    val (q1, med, q3) = quartiles(walls)
    env ++= Seq("loadavg_end" -> loadavg(), "cal_1t_sec_end" -> spinCalibration(),
      "boot_s" -> bootS, "setup_reps_s" -> setupReps, "warm_s" -> warmS,
      "wall_s_q1_median_q3" -> Seq(q1, med, q3), "wall_s_samples" -> walls,
      "check_s_samples" -> iters.map(_.checkS),
      "live_heap_mb_samples" -> iters.map(_.heapMb), "vmhwm_mb_samples" -> iters.map(_.rssMb),
      "failures" -> failures.take(20))
    println("RECORD " + mapper.writeValueAsString(env))
    println("RESULT " + mapper.writeValueAsString(mutable.LinkedHashMap[String, Any](
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) })))
  }
}
