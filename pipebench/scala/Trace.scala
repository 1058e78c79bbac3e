package pipebench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** GC pauses, from the JVM's GC notifications, and post-GC heap
  * occupancy, from the collectors' last GC info. Times are epoch
  * milliseconds, comparable with Spark listener times. */
final class GcWatch {
  final case class Event(startMs: Long, durMs: Long)

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val events = mutable.ArrayBuffer.empty[Event]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gcn = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val info = gcn.getGcInfo
        events.synchronized {
          events += Event(jvmStart + info.getStartTime, info.getDuration)
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def snapshot(): Seq[Event] = events.synchronized(events.toList)

  /** Heap occupancy right after the latest collection, in MB. */
  def lastHeapAfterMb(): Double = {
    val last = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case b: com.sun.management.GarbageCollectorMXBean if b.getLastGcInfo != null =>
        b.getLastGcInfo
    }.maxBy(_.getEndTime)
    last.getMemoryUsageAfterGc.asScala
      .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1e6
  }

  /** GC pause time, in seconds, of collections starting inside the windows. */
  def gcSeconds(windows: Seq[(Long, Long)]): Double =
    snapshot().filter(e => windows.exists { case (a, b) =>
      e.startMs >= a && e.startMs < b }).map(_.durMs).sum / 1e3
}

/** Spans around the program's public calls, with Spark jobs attributed to
  * them. A span sets a local property on the calling thread; threads the
  * call starts (a streaming query's execution thread) inherit it, so their
  * jobs carry the span too. The listener only records; figures are
  * derived once, when the run ends. */
final class Tracer(sc: SparkContext, cores: Int, gc: GcWatch)
    extends SparkListener {
  import Tracer._

  final case class Call(span: String, startMs: Long, endMs: Long)
  final case class Job(call: Int, startMs: Long, var endMs: Long = -1L)
  final class Tasks {
    var runMs = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var outBytes = 0L
    var n = 0L; var failed = 0L; var spillBytes = 0L; var peakMem = 0L
    var stages = 0L
  }

  private val calls = mutable.ArrayBuffer.empty[Call]
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageCall = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.HashMap.empty[Int, Tasks] // by call
  private var untaggedJobs = 0L
  private var open: Option[String] = None // spans do not nest

  def span[A](name: String)(body: => A): A = {
    require(open.isEmpty, s"span $name opened inside ${open.get}")
    val id = calls.synchronized(calls.length)
    val t0 = System.currentTimeMillis()
    open = Some(name)
    sc.setLocalProperty(Prop, id.toString)
    try body
    finally {
      sc.setLocalProperty(Prop, null)
      open = None
      calls.synchronized(calls += Call(name, t0, System.currentTimeMillis()))
    }
  }

  private def callOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Prop))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    callOf(e.properties) match {
      case Some(c) =>
        jobs(e.jobId) = Job(c, e.time)
        e.stageIds.foreach(stageCall(_) = c)
      case None => untaggedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageCall.get(e.stageInfo.stageId).foreach(c =>
        tasks.getOrElseUpdate(c, new Tasks).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageCall.get(e.stageId).foreach { c =>
      val t = tasks.getOrElseUpdate(c, new Tasks)
      t.n += 1
      if (e.reason != Success) t.failed += 1
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.outBytes += m.outputMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Block until the listener has seen the end of every job it saw start. */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = synchronized(jobs.values.count(_.endMs < 0))
    while (pending > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task/stage events of the last job
  }

  def spanCalls: Seq[Call] = calls.synchronized(calls.toList)
  def unattributedJobs: Long = synchronized(untaggedJobs)

  /** Per-span means per call and runtime totals per cycle; names follow
    * BENCHMARK.json's per_layer list. */
  def metrics(cycles: Int): Map[String, Double] = synchronized {
    val cs = spanCalls.zipWithIndex
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (name <- Spans) {
      val mine = cs.filter(_._1.span == name)
      val n = math.max(1, mine.size)
      var wall = 0L; var covered = 0L; var nJobs = 0L
      val agg = new Tasks
      for ((call, id) <- mine) {
        wall += call.endMs - call.startMs
        val js = jobs.values.filter(_.call == id).toSeq
        nJobs += js.size
        covered += unionMs(js.map(j => (math.max(j.startMs, call.startMs),
          math.min(if (j.endMs < 0) call.endMs else j.endMs, call.endMs))))
        tasks.get(id).foreach { t =>
          agg.runMs += t.runMs; agg.cpuNs += t.cpuNs
          agg.shuffleBytes += t.shuffleBytes
        }
      }
      val gcS = gc.gcSeconds(mine.map(c => (c._1.startMs, c._1.endMs)))
      out(s"$name.wall_s") = wall / 1e3 / n
      out(s"$name.driver_s") = (wall - covered) / 1e3 / n
      out(s"$name.task_cpu_s") = agg.cpuNs / 1e9 / n
      out(s"$name.core_idle_share") =
        if (covered == 0) 0.0
        else math.max(0.0, 1.0 - agg.runMs.toDouble / (covered * cores))
      out(s"$name.gc_s") = gcS / n
      out(s"$name.shuffle_mb") = agg.shuffleBytes / 1e6 / n
      out(s"$name.jobs") = nJobs.toDouble / n
    }
    for (name <- Writes) {
      val mine = cs.filter(_._1.span == name)
      out(s"$name.out_mb") = mine.flatMap(c => tasks.get(c._2))
        .map(_.outBytes).sum / 1e6 / math.max(1, mine.size)
    }
    val perCycle = math.max(1, cycles).toDouble
    val all = tasks.values.toSeq
    val nTasks = all.map(_.n).sum
    out("spark.stages") = all.map(_.stages).sum / perCycle
    out("spark.tasks") = nTasks / perCycle
    out("spark.failed_task_share") =
      if (nTasks == 0) 0.0 else all.map(_.failed).sum.toDouble / nTasks
    out("spark.spill_mb") = all.map(_.spillBytes).sum / 1e6 / perCycle
    out("spark.peak_exec_mem_mb") =
      if (all.isEmpty) 0.0 else all.map(_.peakMem).max / 1e6
    out.toMap
  }
}

object Tracer {
  val Prop = "pipebench.span"

  /** Every span the workloads open, one per public call they time. */
  val Spans: Seq[String] = Seq(
    "io.source", "engine.ksearch", "io.kstore_write", "io.kstore_read",
    "engine.cluster", "engine.docs",
    "operators.curate", "operators.neardup", "operators.components",
    "operators.keep", "operators.neardup_index", "operators.curate_append",
    "streaming.neardup", "operators.neardup_screen")

  /** The spans whose calls write artifacts. */
  val Writes: Seq[String] = Seq("io.kstore_write", "engine.docs",
    "operators.curate", "operators.neardup", "operators.components",
    "operators.keep", "operators.neardup_index", "operators.curate_append",
    "streaming.neardup")

  /** Total length of the union of [a, b) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
