package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. The whole suite runs as
  * two INTERLEAVED passes — every query once, then every query again —
  * and each query reports its minimum across the passes. Back-to-back
  * repeats made the second reading a neighbor of its own warmup's
  * GC/page-cache debt (isolated reruns measured hot queries 3-10x
  * faster than their in-sequence numbers); with a full pass between the
  * two readings, the min is taken across genuinely independent JVM
  * states, and pass-2 runs against a fully JIT-warmed process. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional args restrict the run to the named queries (dev loop);
    // the driver passes none and benches everything.
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }
    // A failed query must be visible, not a fast timing: it is reported as
    // null in the queries map, listed under "errors", and fails the run
    // (non-zero exit) — otherwise breakage improves the benchmark.
    // Hygiene between timed runs: a leaked cache, stale broadcast, or
    // localCheckpoint block from one run must not tax the next one's GC
    // (timings stay independent). clearCache() only drops catalog caches;
    // localCheckpoint blocks register as persistent RDDs and otherwise die
    // only via ContextCleaner GC — unpersist them explicitly so
    // late-running cheap queries don't pay an eviction tax.
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def once(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      val t0 = System.nanoTime()
      val r =
        try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Left(e.getClass.getSimpleName)
        }
      release() // outside the timing window
      r
    }
    val order = selected.keys.toSeq
    def pass(o: Seq[String]): Map[String, Either[String, Double]] =
      o.map(n => n -> once(n, selected(n))).toMap
    // Load-spike insurance: (1) one UNTIMED warmup execution of the
    // first query absorbs the JVM/classloader/codegen cold start that
    // otherwise lands entirely on slot 1's pass-1 reading; (2) pass 2
    // runs in REVERSE order, so an ambient load spike at either end of
    // the run can never hit the same query's both readings — the
    // min-of-two then sees at least one reading from the other end of
    // the timeline.
    order.headOption.foreach(n => once(n, selected(n)))
    val (p1, p2) = (pass(order), pass(order.reverse))
    val results = order.map { n =>
      n -> ((p1(n), p2(n)) match {
        case (Right(a), Right(b)) => Right(math.min(a, b))
        case (a, b) => Left(a.left.toOption.orElse(b.left.toOption).get)
      })
    }
    val qs = results.map {
      case (k, Right(v)) => "\"" + k + "\":" + ms(v)
      case (k, Left(_))  => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, Left(e)) => jsonString(s"$k:$e") }
    val total = results.collect { case (_, Right(v)) => v }.sum
    val errField =
      if (errors.isEmpty) "" else s""","errors":${errors.mkString("[", ",", "]")}"""
    val fullLine =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"$errField}"""
    // The harness captures only a bounded (~4 KB) TAIL of stdout: a
    // 93-query line plus sbt's trailing output overflows it and clips the
    // head, losing "metric"/"value" every time. So: print the full
    // per-query line first (and persist it to a file for humans), then
    // emit a SHORT total-only line LAST — the tail always contains a
    // complete, parseable JSON object.
    // Per-query measurement contract (additions-only): one short,
    // independently parseable JSON line per query AHEAD of the total
    // line, so a line-oriented reader recovers the per-query table even
    // when the single big "queries" map line is clipped.
    results.foreach { case (k, r) => println(queryLine(k, r)) }
    println(fullLine)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] file write failed: $e") }
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"sf":"$sfDir"$errField}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  private def ms(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** `s` as a JSON string literal, quotes, backslashes and control
    * characters escaped. */
  private[graft] def jsonString(s: String): String = "\"" +
    new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance
      .quoteAsString(s)) + "\""

  /** One query's line: its seconds, or null and the error. */
  private[graft] def queryLine(name: String,
      r: Either[String, Double]): String = r match {
    case Right(v) => s"""{"metric":"query","name":"$name","sec":${ms(v)}}"""
    case Left(e) =>
      s"""{"metric":"query","name":"$name","sec":null,"err":${jsonString(e)}}"""
  }
}
