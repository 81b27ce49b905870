package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Workload.median

/**
 * One benchmark run of one workload, as a single closed loop: the driver
 * thread makes one call sequence at a time on a local[nproc] session.
 *
 *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *   --metrics <name=unit,...> [--trace-dir <dir>]
 *
 * Set-up (session start, input generation and preparation) runs SetupReps
 * times, each in a fresh session, and reports the median; untimed warm-up
 * iterations follow for half of --seconds. With --trace 0 the loop runs
 * untraced for --seconds and the run reports the end-to-end metrics; with
 * --trace 1 it runs untraced for half the time, then traced for the other
 * half, and reports the per-layer metrics plus the tracing overhead
 * (traced over untraced median iteration time). The last stdout
 * line is the result JSON with exactly the --metrics named (every workload
 * reports every per-layer metric; a layer the workload does not call reads
 * 0); every reading is also printed before it as `perfbench <name> <value>
 * <unit>`.
 */
object Main {

  val SetupReps = 3
  val MinIters = 2

  def newSession(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.openCostInBytes", (128L * 1024 * 1024).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.SparkDefaults.ExcludedRulesKey, graft.SparkDefaults.ExcludedRules)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Closed loop over `wl`; every iteration must return `expected`. */
  final class Loop(wl: Workload, val expected: String) {
    val iterS = mutable.ArrayBuffer[Double]()
    val cpuS = mutable.ArrayBuffer[Double]()
    var attempted = 0L

    /** Closed loop for `seconds` (at least MinIters iterations). */
    def run(seconds: Double, body: () => String): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var n = 0
      while (n < MinIters || System.nanoTime() < deadline) {
        n += 1
        attempted += 1
        val c0 = Jvm.cpuNs()
        val t0 = System.nanoTime()
        try {
          val fp = body()
          iterS += (System.nanoTime() - t0) / 1e9
          cpuS += (Jvm.cpuNs() - c0) / 1e9
          if (fp != expected) wl.failures += s"output fingerprint $fp != $expected"
        } catch {
          case e: Exception => wl.failures += s"iteration failed: $e"
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val nproc = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(work))

    var spark: SparkSession = null
    var wl: Workload = null
    val setupS = mutable.ArrayBuffer[Double]()
    var heapLiveMb = 0.0
    (1 to SetupReps).foreach { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = newSession(nproc, work)
      wl = Workload(name, spark, seed, work, nproc)
      wl.setup()
      setupS += (System.nanoTime() - t0) / 1e9
      // read before any session has been stopped: a stopped session's state
      // is not always collectable yet, which varied the reading by 25 MB
      if (rep == 1) heapLiveMb = Jvm.liveHeapMb()
    }
    val tWarm = System.nanoTime()
    // the JIT keeps compiling the iteration's hot paths for several seconds
    // after the first iterations; measuring before it settles would add its
    // progress to the run-to-run spread
    val expected = wl.iterate()
    new Loop(wl, expected).run(seconds / 2, () => wl.iterate())
    wl.samples.clear()
    val untraced = new Loop(wl, expected)
    val tLoop = System.nanoTime()
    var readings = Seq.empty[Reading]
    if (!traced) {
      untraced.run(seconds, () => wl.iterate())
      wl.finalChecks()
      readings = wl.readings(untraced.iterS.toSeq) ++ Seq(
        Reading("setup_s", median(setupS.toSeq), "s"),
        Reading("iter_s_p50", median(untraced.iterS.toSeq), "s"),
        Reading("cpu_s_per_iter", median(untraced.cpuS.toSeq), "s"),
        Reading("peak_rss_mb", Jvm.statusMb("VmHWM"), "MB"),
        Reading("heap_live_mb", heapLiveMb, "MB"))
    } else {
      untraced.run(seconds / 2, () => wl.iterate())
      wl.finalChecks()
      val tr = new SpanTrace(spark.sparkContext, s"$name-$seed")
      val tracedLoop = new Loop(wl, untraced.expected)
      tracedLoop.run(seconds / 2, () => tr.span("iteration") { wl.iterateTraced(tr) })
      wl.traceProbes(tr)
      val spans = tr.finish()
      untraced.attempted += tracedLoop.attempted
      val iters = math.max(1, tracedLoop.iterS.size)
      def perIter(f: Span => Long): Double = tr.subtree("iteration").map(f(_).toDouble).sum / iters
      readings = wl.layers(tr, iters) ++ Seq(
        Reading("jvm.gc_s", median(tr.named("iteration").map(_.gcS)), "s"),
        Reading("spark.jobs", perIter(_.jobs), "count"),
        Reading("spark.stages", perIter(_.stages), "count"),
        Reading("spark.tasks", perIter(_.tasks), "count"),
        Reading("spark.shuffle_write_bytes", perIter(_.shuffleWriteBytes), "bytes"),
        Reading("spark.spill_bytes", perIter(_.spillBytes), "bytes"),
        Reading("trace.overhead_frac",
          median(tracedLoop.iterS.toSeq) / median(untraced.iterS.toSeq) - 1, "ratio"))
      val traceFile = Paths.get(opts.getOrElse("trace-dir", work), s"trace-$name-seed$seed.json")
      Files.createDirectories(traceFile.getParent)
      Files.write(traceFile, tr.toJson.getBytes("UTF-8"))
      println(s"perfbench spans ${spans.size} written to $traceFile")
    }

    val tEnd = System.nanoTime()
    println(f"perfbench phases_s set-up ${setupS.map(x => f"$x%.2f").mkString("+")} " +
      f"warm-up ${(tLoop - tWarm) / 1e9}%.2f loop+checks ${(tEnd - tLoop) / 1e9}%.2f " +
      s"iterations ${untraced.iterS.map(x => f"$x%.3f").mkString(" ")}")
    val byName = readings.map(r => r.name -> r).toMap
    val metrics = opts("metrics").split(",").toSeq.map(_.split("=", 2)).map { case Array(m, unit) =>
      val v = byName.get(m) match {
        case Some(r) =>
          if (r.unit != unit) wl.failures += s"metric $m is measured in ${r.unit}, declared $unit"
          r.value
        case None =>
          if (!traced) wl.failures += s"end-to-end metric $m is not measured"
          0.0
      }
      (m, v, unit)
    }
    readings.foreach(r => println(f"perfbench ${r.name} ${r.value}%.6g ${r.unit}"))
    val bad = metrics.collect { case (m, v, _) if v.isNaN || v.isInfinite => s"metric $m is not finite" }
    val failures = wl.failures ++ bad
    val attempted = untraced.attempted + wl.checks
    println(f"perfbench failed_frac ${failures.size.toDouble / attempted}%.6g ratio")
    failures.take(10).foreach(f => println(s"perfbench FAILED $f"))
    spark.stop()

    val body = metrics.map { case (m, v, u) =>
      s""""$m": {"value": ${if (v.isNaN || v.isInfinite) -1.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$body}}""")
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
