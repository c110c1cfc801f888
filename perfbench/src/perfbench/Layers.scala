package perfbench

/** Scheduler-level per-layer metrics of a traced run, from the
  * benchmark's own SparkListener and spans. */
object Layers {

  def fill(ctx: Ctx, workload: String): Unit = ctx.counters.foreach { c =>
    c.drain(ctx.spark.sparkContext)
    val t = ctx.tracer
    val (lo, hi) = (t.wallMs(ctx.loopStartNs), t.wallMs(ctx.loopEndNs))
    val jobs = c.realJobs.filter(j => j.startMs >= lo - 1 && j.startMs <= hi + 1)
    val stages = jobs.flatMap(_.stages).toSet
    val tasks = c.realTasks.filter(x => stages.contains(x.stage))
    val ops = t.topLevel.filter(s => s.start >= ctx.loopStartNs &&
      s.end <= ctx.loopEndNs && !s.name.startsWith("bench."))
    val us = (ms: Double) => (ms * 1000).toLong
    val jobIvs = jobs.map(j => (j.startMs * 1000L, j.endMs * 1000L))
    // wall time of each operation while no job ran: driver-side work
    // (planning, catalog reads, collect handling) and scheduling gaps
    val driverMs = ops.map { s =>
      val (a, b) = (us(t.wallMs(s.start)), us(t.wallMs(s.end)))
      ((b - a) - Tracer.covered(jobIvs, a, b)) / 1000.0
    }.sum
    val n = math.max(1, ops.size).toDouble
    val l = ctx.layer
    l("spark.jobs") = jobs.size
    l("spark.tasks") = tasks.size
    l("spark.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    l("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
    l("spark.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum.toDouble
    l("spark.spill_bytes") = tasks.map(_.spill).sum.toDouble
    l("spark.driver_s") = driverMs / 1e3
    val top = t.topLevel.filter(s => s.start >= ctx.loopStartNs &&
      s.end <= ctx.loopEndNs).map(_.durMs).sum
    l("trace.top_span_cover") = top / ((ctx.loopEndNs - ctx.loopStartNs) / 1e6)
    workload match {
      case "serve" =>
        val reqs = n * Serve.CallsPerOp
        l("spark.jobs_per_req") = jobs.size / reqs
        l("spark.tasks_per_req") = tasks.size / reqs
        l("spark.driver_ms_per_req") = driverMs / reqs
      case "refresh" =>
        l("spark.jobs_per_batch") = jobs.size / n
        l("spark.driver_s_per_batch") = driverMs / 1e3 / n
      case _ =>
    }
    // the encode stage: per Cog.run call, its busiest stage's slowest
    // task over its median task — the end-of-stage tail
    val stageSpan = c.stageSpan
    val cogTasks = tasks.filter(x => stageSpan.get(x.stage).contains("Cog.run"))
    if (cogTasks.nonEmpty) {
      val iters = math.max(1, ctx.loopSpans("Cog.run").size)
      l("Cog.task_cpu_s") = cogTasks.map(_.cpuNs).sum / 1e9 / iters
      val skews = jobs.filter(_.span == "Cog.run").flatMap { j =>
        val byStage = cogTasks.filter(x => j.stages.contains(x.stage))
          .groupBy(_.stage).values
        if (byStage.isEmpty) None
        else {
          val d = byStage.maxBy(_.map(_.durMs).sum).map(_.durMs.toDouble).sorted
          Some(d.last / math.max(1.0, Main.quantile(d, 0.5)))
        }
      }
      if (skews.nonEmpty) l("Cog.task_skew") = skews.sum / skews.size
    }
  }
}
