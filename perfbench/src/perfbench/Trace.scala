package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._

/** Task-metric sums. */
final class Counters {
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spillDisk = new AtomicLong
  val input = new AtomicLong
  def add(te: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = te.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillDisk.addAndGet(m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }
}

/** Whole-process totals, registered in traced and untraced runs alike:
  * the end-to-end shuffle figure needs task metrics either way. */
final class Totals extends SparkListener {
  val c = new Counters
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = c.add(te)
}

/** JVM-side probes: process CPU, collector time, and heap in use after
  * each collection (from GC notifications). */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  // (nanoTime, heap bytes used after a collection), appended by the
  // collector's notification thread
  private val afterGc = mutable.ArrayBuffer.empty[(Long, Long)]
  private lazy val installed: Unit = {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    val l = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if isHeapPool(pool) => u.getUsed }.sum
          afterGc.synchronized { afterGc += ((System.nanoTime(), used)) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ => ()
    }
  }
  private lazy val heapPools: Set[String] = ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private def isHeapPool(name: String) = heapPools.contains(name)

  def install(): Unit = installed

  /** A full collection, waited for until its notification has landed, so
    * windows that start here begin from a known after-GC level. */
  def quiesce(): Unit = {
    val before = afterGc.synchronized(afterGc.size)
    System.gc()
    var waited = 0
    while (afterGc.synchronized(afterGc.size) == before && waited < 2000) {
      Thread.sleep(5); waited += 5
    }
  }

  /** Peak heap in use after GC over [from, to]: the level left by the last
    * collection before `from` and every collection inside the window. */
  def peakAfterGc(from: Long, to: Long): Long = afterGc.synchronized {
    val before = afterGc.lastIndexWhere(_._1 < from)
    val inside = afterGc.iterator.filter(e => e._1 >= from && e._1 <= to).map(_._2)
    (inside ++ (if (before >= 0) Iterator(afterGc(before)._2) else Iterator.empty))
      .foldLeft(0L)(math.max)
  }
}

/** One recorded span. Counters are attributed from the jobs whose job
  * group is this span's id; `driverMs` is the part of the span's wall time
  * during which none of its jobs was running. */
final case class Span(name: String, id: String, parent: String, runId: String,
    startMs: Long, endMs: Long, jobs: Int, tasks: Long, taskCpuMs: Double,
    gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    driverMs: Long, peakHeapBytes: Long, extra: Map[String, Double]) {
  def wallS: Double = (endMs - startMs) / 1000.0
  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val fields = Seq("name" -> q(name), "id" -> q(id), "parent" -> q(parent),
      "run_id" -> q(runId), "start_ms" -> startMs.toString,
      "end_ms" -> endMs.toString, "jobs" -> jobs.toString,
      "tasks" -> tasks.toString, "task_cpu_ms" -> f"$taskCpuMs%.3f",
      "gc_ms" -> gcMs.toString, "shuffle_write_bytes" -> shuffleWriteBytes.toString,
      "spill_bytes" -> spillBytes.toString, "input_bytes" -> inputBytes.toString,
      "driver_ms" -> driverMs.toString, "peak_heap_bytes" -> peakHeapBytes.toString) ++
      extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
    fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
  }
}

/** Outside-in tracer: each span is one Spark job group, set around a call
  * into the library from the benchmark's own code. When `enabled` is false
  * spans only run their body — no listener, no job group. */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean)
    extends SparkListener {

  private final class Open {
    val c = new Counters
    val jobs = new AtomicLong
    // job id -> start ms, and finished (start, end) intervals
    val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val extra = mutable.LinkedHashMap.empty[String, Double]
  }
  private val open = new ConcurrentHashMap[String, Open]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val seq = new AtomicLong
  private var stack: List[String] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  if (enabled) sc.addSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(open.containsKey(_)).foreach { id =>
        jobSpan.put(js.jobId, id)
        js.stageIds.foreach(stageSpan.put(_, id))
        val o = open.get(id)
        o.jobs.incrementAndGet()
        o.jobStart.put(js.jobId, js.time)
      }
  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(je.jobId)).map(open.get).filter(_ != null).foreach { o =>
      val s = o.jobStart.remove(je.jobId)
      if (s != null) o.intervals.add((s.longValue, je.time))
    }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(te.stageId)).map(open.get).filter(_ != null)
      .foreach(_.c.add(te))

  /** Attach a figure to the innermost open span (no-op when disabled). */
  def put(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(id => open.get(id).extra(key) = value)

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = s"$runId-${seq.incrementAndGet()}"
    val parent = stack.headOption.getOrElse("")
    open.put(id, new Open)
    stack = id :: stack
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val gc0 = Jvm.gcMs
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = try body finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
    val t1 = System.currentTimeMillis()
    val n1 = System.nanoTime()
    val gc1 = Jvm.gcMs
    ListenerDrain(sc)
    val o = open.remove(id)
    // a parent's jobs include its children's: hand the intervals up
    stack.headOption.map(open.get).foreach(_.intervals.addAll(o.intervals))
    // time covered by at least one of the span's jobs, clipped to the span
    val iv = o.intervals.asScala.toSeq.map { case (a, b) => (a max t0, b min t1) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    covered += curB - curA
    spans += Span(name, id, parent, runId, t0, t1, o.jobs.get.toInt,
      o.c.tasks.get, o.c.cpuNs.get / 1e6, gc1 - gc0, o.c.shuffleWrite.get,
      o.c.spillDisk.get, o.c.input.get, ((t1 - t0) - covered).max(0L),
      Jvm.peakAfterGc(n0, n1), o.extra.toMap)
    out
  }

  def writeJsonLines(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach(s => w.println(s.toJson)) finally w.close()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
}
