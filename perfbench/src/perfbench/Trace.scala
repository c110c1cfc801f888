package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around every public call the benchmark makes. A span
  * has a name, start, end, parent and request id; when tracing is off
  * `span` only runs its body. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextReq = 0L
  var req = 0L

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  /** Epoch millis of a nanoTime reading, to line spans up with Spark's
    * job timestamps. */
  def wallMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** Starts a new request id for the top-level span that follows. */
  def newRequest(): Unit = { nextReq += 1; req = nextReq }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val fs0 = FsStats.snapshot()
      spans += Span(id, name, parent, req, System.nanoTime(), -1L, Map.empty)
      stack = id :: stack
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, name)
      try body
      finally {
        sc.setLocalProperty(SpanProp, prevProp)
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime(),
          fs = FsStats.delta(fs0, FsStats.snapshot()))
      }
    }

  /** Per span name: (calls, total ms, self ms), self = duration minus
    * the part of it that child spans cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(_.durMs).sum
      val self = ss.map { s =>
        s.durMs - covered(children.getOrElse(s.id, Nil).toSeq
          .map(c => (c.start, c.end)), s.start, s.end) / 1e6
      }.sum
      (name, ss.size, total, self)
    }.sortBy(-_._4)
  }

  def topLevel: Seq[Span] = spans.filter(_.parent < 0).toSeq

  def toJson: String = {
    val sb = new StringBuilder("[")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""req":${s.req},"start_ms":${"%.3f".format(wallMs(s.start))},""" +
        s""""end_ms":${"%.3f".format(wallMs(s.end))}""")
      s.fs.foreach { case (k, v) => sb.append(s""","fs_$k":$v""") }
      sb.append("}")
    }
    sb.append("]\n").toString
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  case class Span(id: Int, name: String, parent: Int, req: Long,
      start: Long, end: Long, fs: Map[String, Long]) {
    def durMs: Double = (end - start) / 1e6
  }

  /** Length of the union of `ivs` clipped to [lo, hi). */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var cur = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => a < b }.sortBy(_._1)
      .foreach { case (a, b) =>
        val s = math.max(a, cur)
        if (b > s) { total += b - s; cur = b }
      }
    total
  }
}

/** Bytes every stage reads and writes through the Hadoop FileSystem API
  * on the local `file` scheme (Hadoop's own statistics), and the
  * operations [[CountingRawLocalFs]] counts. */
object FsStats {
  private val keys = Seq("bytesRead", "bytesWritten")

  def snapshot(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
    val s = Option(st.get("file"))
    keys.map(k => k -> s.flatMap(x => Option(x.getLong(k))).map(_.longValue)
      .getOrElse(0L)).toMap ++ Map(
      "readOps" -> CountingRawLocalFs.readOps.get,
      "writeOps" -> CountingRawLocalFs.writeOps.get)
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Jobs, stages and tasks as the scheduler reports them, each job tagged
  * with the span that submitted it. */
final class SparkCounters extends SparkListener {
  case class Job(id: Int, span: String, startMs: Long, var endMs: Long,
      stages: Seq[Int])
  case class Task(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  @volatile var sentinelDone = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanProp)))
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, span, e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      if (j.span == SparkCounters.Sentinel) sentinelDone = true
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }

  /** Waits until every event posted before this call is delivered: the
    * bus delivers in order, so once a marker job's end arrives, so has
    * everything before it. */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(Tracer.SpanProp, SparkCounters.Sentinel)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Tracer.SpanProp, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def realJobs: Seq[Job] =
    jobs.values.asScala.toSeq.filter(_.span != SparkCounters.Sentinel)
      .sortBy(_.id)

  /** stage id -> the span of the job that ran it */
  def stageSpan: Map[Int, String] =
    realJobs.flatMap(j => j.stages.map(_ -> j.span)).toMap

  def realTasks: Seq[Task] = {
    val ss = stageSpan
    tasks.asScala.toSeq.filter(t => ss.contains(t.stage))
  }
}

object SparkCounters { val Sentinel = "perfbench.sentinel" }

/** Largest heap in use after any GC while armed, from GC notifications. */
final class HeapWatch {
  @volatile var armed = false
  @volatile var peakBytes = 0L

  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification,
        hb: AnyRef): Unit =
      if (armed && n.getType == com.sun.management
          .GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[
            javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
          .map(_.getUsed).sum
        if (used > peakBytes) peakBytes = used
      }
  }

  private val beans = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.collect {
      case e: javax.management.NotificationEmitter => e
    }
  beans.foreach(_.addNotificationListener(listener, null, null))

  /** Peak after-GC heap in MB; the current heap if no GC ran. */
  def peakMb: Double = {
    val cur = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    (if (peakBytes > 0) peakBytes else cur) / 1048576.0
  }

  def close(): Unit =
    beans.foreach(b => scala.util.Try(b.removeNotificationListener(listener)))
}

/** Host-noise diagnostics: CPU steal over the run and a fixed
  * single-thread calibration loop, to tell a noisy host from a
  * regression. */
object HostNoise {
  /** (steal, total) jiffies of the aggregate cpu line, if readable. */
  def cpuTimes(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }.toOption

  def stealFrac(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        (s1 - s0).toDouble / (t1 - t0)
      case _ => 0.0
    }

  /** Milliseconds for a fixed integer loop (an LCG, 2^26 steps). */
  def calibrationMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L; var i = 0
    while (i < (1 << 26)) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42) println("") // keeps the loop live
    ms
  }

  /** The loop on one thread, then on every core at once (slowest
    * thread): a host whose cores are shared shows in the second only. */
  def calibration(): (Double, Double) = {
    val one = calibrationMs()
    val n = Runtime.getRuntime.availableProcessors()
    val ms = new Array[Double](n)
    val ts = (0 until n).map(k => new Thread(() => ms(k) = calibrationMs()))
    ts.foreach(_.start()); ts.foreach(_.join())
    (one, ms.max)
  }
}
