package retrbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** JVM and host counters read at span boundaries. */
object Counters {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime
    else 0L
  }

  /** (steal ticks, total ticks) from the aggregate cpu line of /proc/stat;
    * zeros where the file is absent */
  def cpuTicks: (Long, Long) =
    try {
      val line = Files.readAllLines(Path.of("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** live heap after full collections, with pauses between them so the
    * cleaner threads release what the first collection made unreachable */
  def liveHeapMib: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One traced call: a name, its parent, its wall interval and the Spark
  * work the listener attributed to it (its own and its children's). */
final class Span(val id: Int, val parent: Int, val name: String,
    val phase: String, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var gcMs, jitMs, stealTicks, cpuTicks = 0L
  var jobs, tasks, taskBusyMs, shuffleWriteBytes, spillBytes, resultBytes = 0L
  var driverGapMs = 0.0
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records spans around the benchmark's calls into the engine and
  * attributes Spark jobs to them through a listener it registers itself.
  * Disabled, it only runs the body: the end-to-end runs pay nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val SpanKey = "retrbench.span"
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  var phase = "setup"

  private final class JobRec(val spanProp: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private final class StageAcc {
    var tasks, busyMs, shuffleWrite, spill, result = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageAcc = new ConcurrentHashMap[Int, StageAcc]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new JobRec(prop, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val acc = stageAcc.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.tasks += 1
        if (m != null) {
          acc.busyMs += m.executorRunTime
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          acc.result += m.resultSize
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, open.headOption.map(_.id).getOrElse(-1),
        name, phase, System.nanoTime(), System.currentTimeMillis())
      val (st0, tot0) = Counters.cpuTicks
      val gc0 = Counters.gcMs
      val jit0 = Counters.jitMs
      spans += s
      open ::= s
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcMs = Counters.gcMs - gc0
        s.jitMs = Counters.jitMs - jit0
        val (st1, tot1) = Counters.cpuTicks
        s.stealTicks = st1 - st0
        s.cpuTicks = tot1 - tot0
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Waits for the listener bus, then folds every job into the span that
    * started it and that span's ancestors. A job carries the span id that
    * was set when it was submitted; a job submitted from a pool thread
    * may carry a stale id, so the id is trusted only when the job started
    * inside that span, and otherwise the innermost span open at the job's
    * start takes it. */
  def resolve(): Unit = if (enabled) {
    org.apache.spark.RetrbenchBus.drain(sc)
    val byStart = spans.sortBy(_.startMs)
    def inside(s: Span, t: Long) = t >= s.startMs - 1 && t <= s.endMs + 1
    def owner(j: JobRec): Option[Span] =
      Some(j.spanProp).filter(i => i >= 0 && i < spans.length)
        .map(spans(_)).filter(inside(_, j.startMs))
        .orElse(byStart.filter(inside(_, j.startMs)).lastOption)
    val perJob = mutable.Map[Int, StageAcc]()
    stageAcc.asScala.foreach { case (stage, acc) =>
      Option(stageJob.get(stage)).foreach { job =>
        val t = perJob.getOrElseUpdate(job, new StageAcc)
        t.tasks += acc.tasks; t.busyMs += acc.busyMs
        t.shuffleWrite += acc.shuffleWrite; t.spill += acc.spill
        t.result += acc.result
      }
    }
    val intervals = mutable.Map[Int, ArrayBuffer[(Long, Long)]]()
    jobs.asScala.foreach { case (jobId, j) =>
      var cur = owner(j)
      while (cur.isDefined) {
        val s = cur.get
        s.jobs += 1
        perJob.get(jobId).foreach { a =>
          s.tasks += a.tasks; s.taskBusyMs += a.busyMs
          s.shuffleWriteBytes += a.shuffleWrite; s.spillBytes += a.spill
          s.resultBytes += a.result
        }
        val end = if (j.endMs < 0) s.endMs else j.endMs
        intervals.getOrElseUpdate(s.id, ArrayBuffer()) +=
          (math.max(j.startMs, s.startMs) -> math.min(end, s.endMs))
        cur = if (s.parent >= 0) Some(spans(s.parent)) else None
      }
    }
    spans.foreach { s =>
      val iv = intervals.getOrElse(s.id, ArrayBuffer()).filter(p => p._2 > p._1)
        .sortBy(_._1)
      var covered = 0L
      var curEnd = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, curEnd)
        if (b > from) covered += b - from
        curEnd = math.max(curEnd, b)
      }
      s.driverGapMs = math.max(0.0, s.ms - covered)
    }
  }

  /** one JSON object per span, in start order */
  def writeJsonl(path: Path, header: Map[String, String]): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    sb ++= Json.obj(header.map { case (k, v) => k -> Json.str(v) }.toSeq) += '\n'
    spans.foreach { s =>
      sb ++= Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "phase" -> Json.str(s.phase),
        "start_ms" -> s.startMs.toString, "dur_ms" -> Json.num(s.ms),
        "jobs" -> s.jobs.toString, "tasks" -> s.tasks.toString,
        "task_busy_ms" -> s.taskBusyMs.toString,
        "driver_gap_ms" -> Json.num(s.driverGapMs),
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toString,
        "spill_bytes" -> s.spillBytes.toString,
        "result_bytes" -> s.resultBytes.toString,
        "gc_ms" -> s.gcMs.toString, "jit_ms" -> s.jitMs.toString,
        "steal_ticks" -> s.stealTicks.toString,
        "cpu_ticks" -> s.cpuTicks.toString)) += '\n'
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Just enough JSON writing for flat objects. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
