package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: everything fired under the job
  * group the tracer sets around the span's call.
  */
final class Counters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleReadB = new AtomicLong
  val shuffleWriteB = new AtomicLong
  val spillB = new AtomicLong
  val inputB = new AtomicLong
  /** Submission time (epoch ms) of the last stage that completed under
    * the group: for a write, the stage that runs the query's final
    * operators and writes the files.
    */
  val lastStageSubmitMs = new AtomicLong
}

/** The one listener of a traced run: maps each stage to the job group
  * its job was submitted under and sums task metrics per group.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Integer, String]()
  val byGroup = new ConcurrentHashMap[String, Counters]()

  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong

  def of(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  /** Wait until the listener has seen a job end for every job it saw
    * start; the bus delivers a job's task ends before its job end, so
    * the counters are then complete. Gives up after `timeoutMs`.
    */
  def awaitIdle(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get < jobsStarted.get && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    jobsEnded.get >= jobsStarted.get
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      of(g).jobs.incrementAndGet()
      j.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(t.stageId)
    val m = t.taskMetrics
    if (g != null && m != null) {
      val c = of(g)
      c.tasks.incrementAndGet()
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillB.addAndGet(m.diskBytesSpilled)
      c.inputB.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.get(s.stageInfo.stageId)
    for (g <- Option(g); sub <- s.stageInfo.submissionTime)
      of(g).lastStageSubmitMs.set(sub)
  }
}

final case class Span(id: Int, name: String, parent: Int, trace: Int,
    startNs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the program. Untraced, a
  * span only times its body; traced, it also runs the body under its
  * own job group so the listener attributes the Spark work to it.
  * Spans stay in memory until [[writeJsonl]].
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val listener: Option[GroupListener] =
    if (on) { val l = new GroupListener; sc.addSparkListener(l); Some(l) } else None
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traceId = 0
  private var nextId = 0

  /** Drop the spans recorded so far (the warm-up's); ids keep counting. */
  def reset(): Unit = spans.clear()

  def newTrace(): Unit = traceId += 1

  def span[T](name: String)(body: => T): (T, Span) = {
    val parent = stack.headOption
    nextId += 1
    val s = Span(nextId, name, parent.map(_.id).getOrElse(0), traceId,
      System.nanoTime())
    if (on) {
      spans += s
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    }
    stack = s :: stack
    try {
      val r = body
      s.endNs = System.nanoTime()
      (r, s)
    } finally {
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (on) parent match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def counters(s: Span): Counters =
    listener.map(_.of(s"span-${s.id}")).getOrElse(new Counters)

  /** Counters of a span and all spans under it. */
  def subtree(s: Span): Seq[Counters] = {
    val kids = spans.filter(_.parent == s.id)
    counters(s) +: kids.toSeq.flatMap(subtree)
  }

  /** Duration minus the part of the span's interval its children cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    for ((a, b) <- kids) {
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e6
  }

  /** Wait for the listener to catch up before the counters are read. */
  def drain(): Boolean = listener.forall(_.awaitIdle(10000))

  def writeJsonl(path: String, header: Map[String, Any]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println(Json(header + ("record" -> "provenance")))
      for (s <- spans) {
        val c = counters(s)
        w.println(Json(Map(
          "record" -> "span", "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "trace" -> s.trace, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "ms" -> s.ms, "self_ms" -> selfMs(s), "jobs" -> c.jobs.get,
          "tasks" -> c.tasks.get, "exec_cpu_s" -> c.cpuNs.get / 1e9,
          "gc_s" -> c.gcMs.get / 1e3, "shuffle_read_mb" -> c.shuffleReadB.get / 1e6,
          "shuffle_write_mb" -> c.shuffleWriteB.get / 1e6,
          "spill_mb" -> c.spillB.get / 1e6, "input_mb" -> c.inputB.get / 1e6)))
      }
    } finally w.close()
  }
}

/** JSON for the benchmark's records, with the json4s that ships with Spark. */
object Json {
  def apply(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
}

/** Distribution helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile that has at least ten samples beyond it,
    * as (percentile, value); None with fewer than eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None else {
      val s = xs.sorted; val i = s.size - 11
      Some((100.0 * (i + 1) / s.size, s(i)))
    }
}

/** Directory sizes for the stored-bytes and file-count metrics. */
object Disk {
  def files(root: java.io.File): Seq[java.io.File] =
    if (!root.exists) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles).toSeq.flatten.flatMap(files)

  def bytes(root: java.io.File): Long = files(root).map(_.length).sum

  /** Data files: no checksum sidecars, no markers. */
  def dataFiles(root: java.io.File): Seq[java.io.File] =
    files(root).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))

  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
    f.delete()
  }
}

object Pools {
  import java.lang.management.{ManagementFactory, MemoryType}
  private def heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetPeak(): Unit = heap.foreach(_.resetPeakUsage())
  def peakMb: Double = heap.map(_.getPeakUsage.getUsed).sum / 1e6
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
