package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Process-level JVM readings shared by the timed loop and the tracer. */
object Jvm {
  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      val c = b.getCollectionTime
      if (c > 0) t += c
    }
    t
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Heap still in use after a full collection, in MB: what the process
    * retains (cached tables, broadcast automatons, session state). Unlike
    * peak RSS it does not depend on when the collector chose to grow the
    * heap; read right after set-up, it does not depend on how many
    * iterations (each leaves query history in the session) have run. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `VmHWM` (peak resident set) or `VmRSS` of this process, in MB. */
  def statusMb(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** One traced call into a layer. Counters come from the Spark listener and
  * the JVM; they cover only jobs submitted while this span was innermost. */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long,
                 val gc0: Long) {
  var end: Long = -1L
  var gc1: Long = 0L
  var rssMb: Double = 0.0
  var jobs, stages, tasks, shuffleWriteBytes, spillBytes = 0L
  /** max/median task time of each completed stage with at least two tasks */
  val stageSkews = mutable.ArrayBuffer[Double]()

  def durS: Double = (end - start) / 1e9
  def gcS: Double = (gc1 - gc0) / 1e3
}

/** The calls the workloads make go through `span`, traced or not. */
trait Trace {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Trace {
  override def span[T](name: String)(body: => T): T = body
}

/**
 * Spans kept in memory, with a Spark listener the benchmark registers itself.
 * A job is attributed to the span innermost on the driver thread when it was
 * submitted (the span id rides the job's local properties); its stages and
 * tasks follow the job.
 */
final class SpanTrace(sc: SparkContext, val runId: String) extends Trace {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val t0 = System.nanoTime()

  private object Listener extends SparkListener {
    val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val taskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    val events = mutable.ArrayBuffer[(Int, Span => Unit)]()

    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(Key))).map(_.toInt).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      e.stageIds.foreach(id => stageSpan.put(id, s))
      events += ((s, sp => sp.jobs += 1))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val s = Option(stageSpan.get(info.stageId)).map(_.intValue).getOrElse(-1)
      val m = info.taskMetrics
      val wrote = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
      val spill = if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled
      val times = taskMs.remove(info.stageId).getOrElse(mutable.ArrayBuffer[Long]()).sorted
      val skew =
        if (times.length >= 2) Some(times.last.toDouble / math.max(1L, times(times.length / 2)))
        else None
      events += ((s, sp => {
        sp.stages += 1; sp.tasks += info.numTasks
        sp.shuffleWriteBytes += wrote; sp.spillBytes += spill
        skew.foreach(sp.stageSkews += _)
      }))
    }
  }

  sc.addSparkListener(Listener)

  override def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), Jvm.gcMs())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      s.gc1 = Jvm.gcMs()
      s.rssMb = Jvm.statusMb("VmRSS")
      stack = stack.tail
      sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Deliver every pending listener event, attach the counters to their
    * spans and stop listening. Call once, after the last traced call. */
  def finish(): Seq[Span] = {
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    sc.removeSparkListener(Listener)
    Listener.events.foreach { case (id, f) => if (id >= 0 && id < spans.length) f(spans(id)) }
    spans.toSeq
  }

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the part of it its child spans cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.end - s.start - covered) / 1e9
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spans of `name` and every span below them. */
  def subtree(name: String): Seq[Span] = {
    val roots = named(name).map(_.id).toSet
    def under(s: Span): Boolean =
      roots(s.id) || (s.parent >= 0 && under(spans(s.parent)))
    spans.filter(under).toSeq
  }

  def toJson: String = {
    val rows = spans.map { s =>
      val skew = if (s.stageSkews.isEmpty) 0.0 else s.stageSkews.max
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run_id":"$runId",""" +
        f""""start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f,""" +
        f""""dur_s":${s.durS}%.6f,"self_s":${selfS(s)}%.6f,"gc_s":${s.gcS}%.3f,""" +
        f""""rss_mb":${s.rssMb}%.1f,"jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
        f""""shuffle_write_bytes":${s.shuffleWriteBytes},"spill_bytes":${s.spillBytes},""" +
        f""""max_task_skew":$skew%.3f}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}
