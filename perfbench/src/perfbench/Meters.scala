package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Engine counters summed over every task the session runs while the
  * listener is attached. [[snapshot]] drains the listener bus first, so a
  * reading taken after an action includes all of that action's tasks. */
final class EngineMeter(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, cpuNs, shuffleWrite, spill, gcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  private var attached = false
  def attach(): Unit = synchronized {
    if (!attached) { sc.addSparkListener(this); attached = true }
  }
  def detach(): Unit = synchronized {
    if (attached) { sc.removeSparkListener(this); attached = false }
  }
  attach()

  /** Main-thread time spent waiting for the listener bus to drain. */
  @volatile var drainS = 0.0

  def snapshot(): EngineMeter.Reading = {
    val t = System.nanoTime()
    org.apache.spark.perfbench.ListenerDrain(sc)
    drainS += (System.nanoTime() - t) / 1e9
    EngineMeter.Reading(jobs.get, tasks.get, cpuNs.get / 1e9, shuffleWrite.get,
      spill.get, gcMs.get / 1e3)
  }
}

object EngineMeter {
  final case class Reading(jobs: Long, tasks: Long, cpuS: Double, shuffleWrite: Long,
      spill: Long, gcS: Double) {
    def -(o: Reading): Reading = Reading(jobs - o.jobs, tasks - o.tasks, cpuS - o.cpuS,
      shuffleWrite - o.shuffleWrite, spill - o.spill, gcS - o.gcS)
  }
}

/** Host counters read from /proc: the device I/O queue time of physical
  * disks (/proc/diskstats, weighted milliseconds) and the CPU time the
  * whole machine spent busy (/proc/stat) minus this process's own CPU
  * time — the work of other processes during the run. */
object HostMeter {
  final case class Reading(ioWaitS: Double, busyS: Double, ownCpuS: Double, wallS: Double)

  private def diskWeightedMs(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/diskstats")
      try src.getLines().foldLeft(0L) { (acc, line) =>
        val f = line.trim.split("\\s+")
        if (f.length > 13 && f(2).matches("(vd|sd|xvd|hd)[a-z]+|nvme\\d+n\\d+|mmcblk\\d+"))
          acc + f(13).toLong
        else acc
      } finally src.close()
    } catch { case _: Exception => 0L }

  /** Busy jiffies of all CPUs: user nice system irq softirq steal. */
  private def busyJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case _: Exception => 0L }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def read(): Reading = Reading(diskWeightedMs() / 1e3, busyJiffies() / 100.0,
    os.getProcessCpuTime / 1e9, System.nanoTime() / 1e9)

  /** (io wait s, foreign CPU s, contended) between two readings. A run is
    * contended when other processes used more than an eighth of the CPUs. */
  def between(a: Reading, b: Reading, cpus: Int): (Double, Double, Boolean) = {
    val foreign = math.max(0.0, (b.busyS - a.busyS) - (b.ownCpuS - a.ownCpuS))
    (b.ioWaitS - a.ioWaitS, foreign, foreign > 0.125 * cpus * (b.wallS - a.wallS))
  }

  /** Peak resident set of this JVM (VmHWM) in GB. */
  def peakRssGb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / (1024.0 * 1024.0)).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}

/** One timed call: `parent` is the enclosing span's id (-1 at top level). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans nest by call order on
  * the calling thread; nothing is written until [[write]] at the end. A
  * disabled trace runs the body and records nothing. */
final class Trace(val enabled: Boolean, run: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private var bookkeepingNs = 0L

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val entered = System.nanoTime()
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        done += Span(id, parent, name, start, end, run)
        bookkeepingNs += (start - entered) + (System.nanoTime() - end)
      }
    }

  /** Main-thread time spent recording spans. */
  def bookkeepingS: Double = bookkeepingNs / 1e9

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Seconds of every span named `name`, in call order. */
  def times(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds)

  /** Self time (own duration minus direct children's) summed per name. */
  def selfTimes: Map[String, Double] = {
    val children = done.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    done.groupBy(_.name).view.mapValues(_.map(s =>
      s.seconds - children.getOrElse(s.id, 0.0)).sum).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = spans.map(s =>
      f"""{"run":"${esc(s.run)}","id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
