package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the seed, the run
  * length, the tracer and counters, and the tallies that end up in the
  * result line. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    trace: Boolean, val work: String) {
  val tracer = new Tracer(trace, spark.sparkContext)
  val counters: Option[SparkCounters] =
    if (trace) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
  val heap = new HeapWatch
  val cpus: Int = spark.sparkContext.defaultParallelism

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** latency of each timed operation, in ns */
  val latencies = mutable.ArrayBuffer.empty[Long]
  var items = 0.0
  var setupSeconds: Seq[Double] = Nil
  var loopStartNs = 0L
  var loopEndNs = 0L
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val diag = mutable.LinkedHashMap.empty[String, Any]

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** One attempted operation: `body` returns its problems (none = ok);
    * an exception is a failure too. */
  def attempt(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try body
      catch { case e: Exception => Seq(s"$what threw ${e.toString.take(400)}") }
    if (problems.nonEmpty) fail(s"$what: ${problems.head}" +
      (if (problems.size > 1) s" (+${problems.size - 1} more)" else ""))
  }

  /** A timed operation: the only code whose time is a latency sample.
    * It is one top-level span with a fresh request id. */
  def timed[T](name: String)(body: => T): T = {
    tracer.newRequest()
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    latencies += System.nanoTime() - t0
    r
  }

  /** Benchmark bookkeeping between operations (checks, cleanup), traced
    * so that top-level spans cover the whole measured window. */
  def untimed[T](name: String)(body: => T): T =
    tracer.span(s"bench.$name")(body)

  /** Runs `step` in a closed loop (one client, the next operation after
    * the previous one completes) until `seconds` have passed and at
    * least `minOps` steps ran. GC peaks count only inside the loop. */
  def closedLoop(minOps: Int)(step: Int => Unit): Unit = {
    heap.armed = true
    loopStartNs = System.nanoTime()
    var i = 0
    while (i < minOps || System.nanoTime() - loopStartNs < seconds * 1000000000L) {
      step(i); i += 1
    }
    loopEndNs = System.nanoTime()
    heap.armed = false
  }

  /** Set-up repeated `n` times into fresh directories; returns the last
    * one's value. Every repetition is timed, earlier ones are deleted. */
  def setup[T](n: Int)(once: String => T)(dispose: (String, T) => Unit): (String, T) = {
    var last: Option[(String, T)] = None
    val times = (0 until n).map { k =>
      last.foreach { case (d, v) => dispose(d, v); Main.deleteTree(Paths.get(d)) }
      val dir = s"$work/setup$k"
      val t0 = System.nanoTime()
      val v = once(dir)
      val s = (System.nanoTime() - t0) / 1e9
      last = Some((dir, v))
      s
    }
    setupSeconds = times
    last.get
  }

  /** Spans named `name` inside the measured loop. */
  def loopSpans(name: String): Seq[Tracer.Span] =
    tracer.spans.filter(s => s.name == name && s.start >= loopStartNs &&
      s.end <= loopEndNs).toSeq
  def spanMs(name: String): Double = loopSpans(name).map(_.durMs).sum
  def spanFs(name: String, key: String): Double =
    loopSpans(name).map(_.fs.getOrElse(key, 0L)).sum.toDouble
}

object Main {

  val workloads = Seq("publish", "serve", "refresh")

  /** Per-layer metric names, in output order. Each workload fills the
    * ones its layers exercise; the rest read 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "Inventory.run.s" -> "s", "Inventory.read_bytes" -> "bytes",
    "Inventory.files" -> "count",
    "Cog.run.s" -> "s", "Cog.task_cpu_s" -> "s", "Cog.task_skew" -> "ratio",
    "Cog.write_bytes" -> "bytes", "Cog.bytes_ratio" -> "ratio",
    "TiffWriter.writeCog.ms_per_mb" -> "ms/MB",
    "TiffIO.readPixels.ms_per_mb" -> "ms/MB",
    "Stac.run.s" -> "s", "Stac.items" -> "count",
    "Stac.write_bytes" -> "bytes",
    "serve.window.ms" -> "ms", "serve.zoom.ms" -> "ms",
    "serve.crop.ms" -> "ms", "serve.zonal.ms" -> "ms",
    "serve.sweep.ms" -> "ms",
    "RangeReader.http_requests_per_req" -> "count",
    "RangeReader.http_bytes_per_req" -> "bytes",
    "CogQuery.tiles_decoded_per_req" -> "count",
    "CogQuery.px_useful_ratio" -> "ratio",
    "spark.jobs_per_req" -> "count", "spark.tasks_per_req" -> "count",
    "spark.driver_ms_per_req" -> "ms",
    "Stac.refreshBatch.s" -> "s",
    "spark.jobs_per_batch" -> "count", "spark.driver_s_per_batch" -> "s",
    "WriFs.read_ops_per_batch" -> "count",
    "WriFs.write_ops_per_batch" -> "count",
    "WriFs.write_bytes_per_batch" -> "bytes",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.driver_s" -> "s",
    "jvm.peak_heap_mb" -> "MB",
    "trace.op_p50_ms" -> "ms", "trace.items_per_s" -> "1/s",
    "trace.top_span_cover" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    require(workloads.contains(workload),
      s"unknown workload $workload; one of ${workloads.mkString(", ")}")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val trace = opts("--trace") == "1"
    val work = opts("--work")
    val traceDir = opts("--trace-dir")

    val cpu0 = HostNoise.cpuTimes()
    val calib0 = HostNoise.calibration()
    val spark = session(work)
    val ctx = new Ctx(spark, seed, seconds, trace, work)
    try {
      workload match {
        case "publish" => Publish.run(ctx)
        case "serve" => Serve.run(ctx)
        case "refresh" => Refresh.run(ctx)
      }
      if (trace) Layers.fill(ctx, workload)
    } catch {
      case e: Exception =>
        ctx.attempted += 1
        ctx.fail(s"$workload aborted: ${e.toString.take(400)}")
        e.printStackTrace()
    }
    val calib1 = HostNoise.calibration()
    ctx.diag("host.steal_frac") = HostNoise.stealFrac(cpu0, HostNoise.cpuTimes())
    ctx.diag("host.calibration_1thread_ms") = Seq(calib0._1, calib1._1)
    ctx.diag("host.calibration_allcores_ms") = Seq(calib0._2, calib1._2)
    ctx.heap.close()
    spark.stop()
    if (trace) writeTrace(ctx, traceDir, workload)

    val lat = ctx.latencies.map(_ / 1e6).sorted.toSeq
    val loopS = ctx.latencies.sum / 1e9
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(ctx.setupSeconds), "s"),
        ("op_p50_ms", quantile(lat, 0.5), "ms"),
        ("items_per_s", if (loopS > 0) ctx.items / loopS else 0.0, "1/s"))
      else {
        ctx.layer("trace.op_p50_ms") = quantile(lat, 0.5)
        ctx.layer("trace.items_per_s") = if (loopS > 0) ctx.items / loopS else 0.0
        ctx.layer("jvm.peak_heap_mb") = ctx.heap.peakMb
        perLayer.map { case (n, u) => (n, ctx.layer.getOrElse(n, 0.0), u) }
      }
    ctx.diag("peak_heap_mb") = ctx.heap.peakMb
    ctx.diag("ops") = lat.size
    ctx.diag("op_ms") = ctx.latencies.map(ns => math.round(ns / 1e5) / 10.0).toSeq
    ctx.diag("failed_frac") =
      if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 0.0
    ctx.diag("setup_s_all") = ctx.setupSeconds
    if (ctx.failures.nonEmpty) ctx.diag("failures") = ctx.failures.toSeq
    val correct = ctx.failed == 0 && ctx.attempted > 0 &&
      metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    println("diagnostics " + json(ctx.diag.toSeq))
    val ms = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${math.max(1L, ctx.attempted)},""" +
      s""""failed":${ctx.failed},"metrics":$ms}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }

  /** Spark as `graft.Bench` configures it: local[nproc], shuffle
    * partitions = nproc, AQE on, UTC, no UI; scratch space under `work`. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def writeTrace(ctx: Ctx, dir: String, workload: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val stem = s"$dir/$workload-seed${ctx.seed}"
    Files.writeString(Paths.get(s"$stem.spans.json"), ctx.tracer.toJson)
    val table = new StringBuilder(
      f"${"span"}%-34s ${"calls"}%6s ${"total_ms"}%12s ${"self_ms"}%12s\n")
    ctx.tracer.selfTimes.foreach { case (n, c, t, s) =>
      table.append(f"$n%-34s $c%6d $t%12.1f $s%12.1f\n")
    }
    Files.writeString(Paths.get(s"$stem.selftime.txt"), table.toString)
    System.err.print(table)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(sorted.size - 1, lo + 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def json(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    "\"" + k + "\":" + jsonValue(v) }.mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    case m: Map[_, _] => json(m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case other => jsonValue(other.toString)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally w.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally w.close()
  }
}
