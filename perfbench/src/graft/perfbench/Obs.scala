package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One traced interval: a call from the benchmark into one layer. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, end: Long)

/** In-memory span recorder. A recorded span runs under a Spark job
  * group of its own, so the [[JobCounts]] listener can charge stages
  * and tasks to the span that caused them. With `on` false only the
  * outermost span of an op sets a job group (for per-op counts) and
  * nothing is recorded.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  /** The job groups each op's spans ran under. */
  val groups = mutable.HashMap.empty[Int, mutable.ArrayBuffer[String]]
  private var nextId = 0
  private var stack: List[(Int, String)] = Nil

  /** Run `f` as span `name` of op `op`; returns its result. */
  def span[T](name: String, op: Int)(f: => T): T = {
    val id = nextId; nextId += 1
    val own = on || stack.isEmpty
    val group = if (own) s"pb-$id" else stack.head._2
    if (own) {
      sc.setJobGroup(group, name, interruptOnCancel = false)
      groups.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += group
    }
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, group) :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (on) spans += Span(id, parent, op, name, t0, t1)
      if (own) stack.headOption match {
        case Some((_, g)) => sc.setJobGroup(g, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Self time (s) of each span: its duration minus the union of its
    * children's intervals.
    */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
          val lo = math.max(a, hi)
          if (b > lo) (acc + (b - lo), b) else (acc, hi)
        }._1
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }

  /** Summed self time of op `op`'s spans named `name`. */
  def selfOf(name: String, op: Int): Double = {
    val self = selfSeconds
    spans.filter(s => s.op == op && s.name == name).map(s => self(s.id)).sum
  }

  /** The spans as JSON lines (ns, relative to the first span). */
  def toJson: String = {
    val base = spans.headOption.map(_.start).getOrElse(0L)
    val self = selfSeconds
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start - base},"end_ns":${s.end - base},"self_s":${self(s.id)}}"""
    }.mkString("", "\n", "\n")
  }
}

/** Stage/task counters per job group, from the listener bus. */
final class JobCounts extends SparkListener {
  final class C {
    var stages, tasks, recordsRead, bytesRead, shuffleWrite, shuffleRead, spill = 0L
    var cpuNs, scanCpuNs = 0L
    /** Task count of the last stage to complete (the write stage of a write job). */
    var lastStage = -1
    var lastStageTasks = 0L
  }
  private val byGroup = mutable.HashMap.empty[String, C]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) e.stageIds.foreach(stageGroup(_) = g)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g =>
      val x = c(g)
      x.stages += 1
      if (e.stageInfo.stageId > x.lastStage) {
        x.lastStage = e.stageInfo.stageId; x.lastStageTasks = e.stageInfo.numTasks
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      val x = c(g)
      x.tasks += 1
      x.cpuNs += m.executorCpuTime
      x.recordsRead += m.inputMetrics.recordsRead
      x.bytesRead += m.inputMetrics.bytesRead
      if (m.inputMetrics.recordsRead > 0) x.scanCpuNs += m.executorCpuTime
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  private def c(g: String) = byGroup.getOrElseUpdate(g, new C)

  /** Counters summed over the given job groups (after [[Bus.drain]]). */
  def sum(groups: Iterable[String]): C = synchronized {
    val out = new C
    groups.flatMap(byGroup.get).foreach { x =>
      out.stages += x.stages; out.tasks += x.tasks
      out.recordsRead += x.recordsRead; out.bytesRead += x.bytesRead
      out.shuffleWrite += x.shuffleWrite
      out.shuffleRead += x.shuffleRead; out.spill += x.spill
      out.cpuNs += x.cpuNs; out.scanCpuNs += x.scanCpuNs
      if (x.lastStage > out.lastStage) { out.lastStage = x.lastStage; out.lastStageTasks = x.lastStageTasks }
    }
    out
  }
}

/** SQL-metric readers over an executed plan, AQE stages included. */
object PlanMetrics {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
  /** Sum of `name` over nodes whose class name ends with `suffix`. */
  def sum(plan: SparkPlan, suffix: String, name: String,
          where: SparkPlan => Boolean = _ => true): Long =
    nodes(plan).filter(n => n.getClass.getSimpleName.endsWith(suffix) && where(n))
      .map(metric(_, name)).sum
}

/** Counts log events that mean a plan or expression left generated code. */
final class CodegenFallbacks {
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property
  val count = new AtomicLong
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val m = String.valueOf(e.getMessage.getFormattedMessage)
      if (m.contains("failed to compile") || m.contains("codegen disabled") ||
          m.contains("falling back to interpreter"))
        count.incrementAndGet()
    }
  }
  def install(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }
}

/** Host and JVM evidence: /proc/stat CPU ticks, GC time, peak RSS. */
object Host {
  final case class Cpu(total: Long, idle: Long, steal: Long)
  def cpu(): Cpu = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      Cpu(f.take(8).sum, f(3) + f(4), if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }
  def stealPct(a: Cpu, b: Cpu): Double = pct(b.steal - a.steal, b.total - a.total)
  def busyPct(a: Cpu, b: Cpu): Double =
    pct((b.total - a.total) - (b.idle - a.idle) - (b.steal - a.steal), b.total - a.total)
  private def pct(n: Long, d: Long): Double = if (d <= 0) 0.0 else 100.0 * n / d

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }
  /** CPU time of the calling thread (s); the client plans on it. */
  def threadCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9

  /** CPU time of the whole JVM (s): every thread, GC and JIT included. */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds of the JVM's live threads by name, digits replaced by
    * `#` so the threads of one pool add up (`/proc/self/task`, names cut
    * at 15 characters, 10 ms ticks).
    */
  def cpuByThreadName(): Map[String, Double] =
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten.flatMap { d =>
      try {
        val s = new String(java.nio.file.Files.readAllBytes(d.toPath.resolve("stat")), "UTF-8")
        val name = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')')).replaceAll("[0-9]+", "#")
        val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
        // fields after the name: state ... utime (12th) stime (13th), in clock ticks
        Some(name -> (f(11).toLong + f(12).toLong) / 100.0)
      } catch { case _: java.io.IOException => None }
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** The `n` thread names that used the most CPU between two readings. */
  def topThreads(a: Map[String, Double], b: Map[String, Double], n: Int): String =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }.toSeq.sortBy(-_._2).take(n)
      .map { case (k, v) => f"'$k'=$v%.2fs" }.mkString(" ")

  /** Driver `VmHWM` in MB (local mode: the executors share this JVM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
