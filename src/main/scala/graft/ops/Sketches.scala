package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cardinality sketching for 100 TB-scale profiling (how many distinct
  * urls/domains/tokens/partkeys) where an exact `count(distinct)` would
  * shuffle the full key universe.
  *
  * The estimator is a deterministic, ENGINE-PORTABLE HyperLogLog-style
  * sketch: a portable integer hash splits into a bucket index and a
  * remainder whose trailing-zero run length feeds the bucket's max — all
  * integer arithmetic, and the final harmonic mean is formed from an
  * integer-scaled sum (`2^(30-M_j)` as exact longs), so a single division
  * at the end is the ONLY floating-point step. Result: bit-identical
  * across partitionings and engines; the DuckDB oracle replays the whole
  * sketch, not just the answer's neighborhood.
  *
  * Scale shape: one narrow map pass, then groupBy(bucket).max — the
  * partial aggregate IS the sketch merge (per-partition (bucket, max)
  * pairs, at most m=64 rows each), so the shuffle carries m rows per
  * partition no matter how many keys flow in. This is the textbook
  * mergeable-sketch property, expressed as a plain Spark aggregate.
  */
object Sketches {

  /** m = 64 buckets (6 bucket bits) over a [0, P) hash, P = 1e9+7,
    * leaving a 24-bit remainder after the bucket split. */
  private val P = 1000000007L
  private val M = 64L
  /** alpha_64 = 0.7213 / (1 + 1.079/64), 6 dp — literal mirrored in SQL. */
  private val Alpha64 = 0.709436

  /** Portable avalanche hash of a long key into [0, P): three rounds of
    * multiply-mod with a high-bit fold (`h + h div 8192`) between rounds.
    * A single multiplicative hash mod a prime leaves lattice structure in
    * the low bits for consecutive keys — fatal for a trailing-zero
    * observable (measured: +64% HLL bias on 1..10k) — while the div-fold
    * mixes high bits back down; after three rounds the estimator tracks a
    * true random hash to within its own std error. Pure integer
    * arithmetic, no overflow (max intermediate ~2.7e18 < 2^63). */
  def portableHash(key: Column): Column = {
    // h >> 13 == h div 8192 on non-negatives (the oracle writes // 8192)
    def fold(h: Column, mult: Long): Column =
      pmod((h + shiftright(h, 13)) * lit(mult), lit(P))
    val h1 = pmod(pmod(key.cast("long"), lit(P)) * lit(2654435761L), lit(P))
    fold(fold(h1, 972663749L), 468703703L)
  }

  /** Scalar twin of [[portableHash]] (bit-identical; spec-pinned) — for
    * the `HllSketch` aggregator's per-row buffer updates (Udafs.scala),
    * where the hash runs outside Catalyst. */
  def portableHashLong(key: Long): Long = {
    var h = java.lang.Math.floorMod(key, P) * 2654435761L % P
    h = (h + (h >> 13)) * 972663749L % P
    h = (h + (h >> 13)) * 468703703L % P
    h
  }

  /** Scalar HLL pieces of the `HllSketch` aggregator: bucket index,
    * rho, and the estimate from a 64-entry max-rho table — each the exact
    * scalar twin of the Column/SQL formulation. */
  private[graft] def bucketOf(h: Long): Int = (h % M).toInt
  private[graft] def rhoOf(h: Long): Long = {
    val w = h / M
    if (w == 0L) 25L
    else java.lang.Long.bitCount((w & -w) - 1L) + 1L
  }
  private[graft] def estimateOf(maxRho: Array[Long]): Double = {
    var s = 0L
    var i = 0
    while (i < maxRho.length) {
      s += (1L << (30L - maxRho(i)).toInt)
      i += 1
    }
    val raw = Alpha64 * (M * M).toDouble * (1L << 30).toDouble / s.toDouble
    BigDecimal(raw).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** HyperLogLog-style distinct-count estimate of `keyCol`, plus the exact
    * count for reference (callers at true scale drop the exact column —
    * it is the expensive thing the sketch replaces).
    *
    * Output: one row — (est_distinct double, exact_distinct long,
    * rel_err double). */
  def hllDistinct(df: DataFrame, keyCol: String): DataFrame = {
    val h = portableHash(col(keyCol))
    val hashed = df.select(h.as("h"))
      .select(pmod(col("h"), lit(M)).as("bucket"), expr(s"h div $M").as("w"))
      // rho = trailing-zero count of w, + 1; w == 0 (no bits) saturates at
      // the full 24-bit remainder width + 1
      .select(col("bucket"),
        when(col("w") === 0L, lit(25L))
          .otherwise(bit_count(col("w").bitwiseAND(-col("w")) - 1L) + 1L)
          .as("rho"))
    val sketch = hashed.groupBy(col("bucket")).agg(max(col("rho")).as("mj"))
    // integer-scaled harmonic sum: present buckets contribute 2^(30-Mj),
    // absent buckets contribute 2^30 each (Mj = 0)
    val est = sketch.agg(
      (sum(expr("shiftleft(1L, cast(30 - mj as int))")) +
        (lit(M) - count(lit(1))) * lit(1L << 30)).as("s_scaled"))
      .select(round(
        lit(Alpha64) * lit(M * M).cast("double") * lit(1L << 30).cast("double") /
          col("s_scaled"), 2).as("est_distinct"))
    val exact = df.agg(countDistinct(col(keyCol)).as("exact_distinct"))
    est.crossJoin(exact)
      .select(col("est_distinct"), col("exact_distinct"),
        round(abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct"), 4).as("rel_err"))
  }

  /** Per-group HLL distinct estimate: one sketch per `groupCol` value.
    * The groupBy(group, bucket).max partial-aggregates map-side, so the
    * shuffle carries at most m=64 rows per (partition, group) no matter
    * how many keys flow in — the per-group cardinality profile (distinct
    * users per event type, distinct urls per domain) a 100 TB pass can
    * afford. Output: (groupCol, est_distinct). */
  def hllDistinctByKey(df: DataFrame, keyCol: String,
      groupCol: String): DataFrame = {
    val hashed = df
      .select(col(groupCol), portableHash(col(keyCol)).as("h"))
      .select(col(groupCol), pmod(col("h"), lit(M)).as("bucket"),
        expr(s"h div $M").as("w"))
      .select(col(groupCol), col("bucket"),
        when(col("w") === 0L, lit(25L))
          .otherwise(bit_count(col("w").bitwiseAND(-col("w")) - 1L) + 1L)
          .as("rho"))
    hashed.groupBy(col(groupCol), col("bucket")).agg(max(col("rho")).as("mj"))
      .groupBy(col(groupCol))
      .agg((sum(expr("shiftleft(1L, cast(30 - mj as int))")) +
        (lit(M) - count(lit(1))) * lit(1L << 30)).as("s_scaled"))
      .select(col(groupCol), round(
        lit(Alpha64) * lit(M * M).cast("double") * lit(1L << 30).cast("double") /
          col("s_scaled"), 2).as("est_distinct"))
  }

  /** Fixed-bin quantile sketch: approximate quantiles from a histogram of
    * `bins` equal-width bins over [lo, hi] — the mergeable alternative to
    * an exact percentile's global sort. The per-bin counts partial-
    * aggregate map-side (the shuffle carries at most `bins` rows per
    * partition — the sketch-merge property), the CDF is a window over the
    * `bins`-row histogram, and each requested quantile reports the upper
    * edge of the first bin whose cumulative count reaches `q * N`.
    * Out-of-range values clamp to the edge bins, so the sketch never
    * drops rows (a value above `hi` still counts toward high quantiles).
    *
    * Every arithmetic step (bin index, edges, the q*N threshold) is the
    * same IEEE double expression on both engines, so the result is
    * engine-exact — the error is the bin width, stated not hidden.
    *
    * Output: one row per requested quantile — (q, bin, est) with est the
    * bin's upper edge. */
  def binnedQuantiles(
      df: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      bins: Int,
      qs: Seq[Double]): DataFrame = {
    require(bins >= 1 && hi > lo, s"need hi > lo and bins >= 1")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1]: $qs")
    val spark = df.sparkSession
    import spark.implicits._
    val width = (hi - lo) / bins
    val hist = df.select(
        least(lit(bins - 1L), greatest(lit(0L),
          floor((col(valueCol).cast("double") - lit(lo)) / lit(width))
            .cast("long"))).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    // the CDF windows are global but their input is the bins-row
    // histogram, bounded by construction — keyed through
    // [[Windows.singlePartitionKey]] so the single partition is
    // intentional in the plan, not the accidental-global-window shape
    // WindowExec WARNs about on every run
    val onePart = Windows.singlePartitionKey(col("bin"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(onePart)
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // total N from a full-frame window over the same bins-row histogram —
    // one corpus scan, not a second aggregate over the input
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(onePart)
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val cdf = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
    qs.toDF("q").crossJoin(broadcast(cdf))
      .filter(col("cum") >= col("q") * col("n"))
      .groupBy(col("q"))
      .agg(min(col("bin")).as("bin"))
      .select(col("q"), col("bin"),
        (lit(lo) + (col("bin") + lit(1L)) * lit(width)).as("est"))
  }

  /** Per-row (j, pos) counter coordinates for a CMS key: row j probes
    * position `portableHash(key + j*salt) mod width`. The row index is
    * folded into the key BEFORE the avalanche rounds, so the d row
    * hashes decorrelate the same way the sketch literature's independent
    * hash functions do — and the whole derivation stays replayable as
    * integer SQL. */
  private val CmsRowSalt = 782000003L
  private def cmsCoords(key: Column, depth: Int, width: Int): Column =
    // pre-mod the key so key + 3*salt can never overflow a long even for
    // keys near Long.MaxValue (ANSI mode would turn wraparound into a
    // runtime error); identity for keys already in [0, P)
    array((0 until depth).map { j =>
      struct(lit(j).as("j"),
        pmod(portableHash(pmod(key, lit(P)) + lit(j * CmsRowSalt)),
          lit(width.toLong)).as("pos"))
    }: _*)

  /** Count-min sketch table over long keys: `depth` x `width` counters
    * as rows (j, pos, cnt). The table is the classic mergeable frequency
    * sketch: counters are plain sums, so per-partition partial
    * aggregation IS the sketch merge, the shuffle carries at most
    * depth*width rows per partition no matter how many keys flow in, and
    * two tables over disjoint corpora union+sum into the table of the
    * whole — the properties that make it THE frequency profile a 100 TB
    * pass can afford. Point estimates (min over rows of the probed
    * counter, [[cmsEstimates]]) overestimate true counts by at most
    * eN/width with probability 1 - (1/2)^depth. */
  def cmsTable(keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, s"need depth >= 1, width >= 2")
    keys
      .select(explode(cmsCoords(col(keyCol).cast("long"), depth, width))
        .as("e"))
      .groupBy(col("e.j").as("j"), col("e.pos").as("pos"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `probe` keys against a [[cmsTable]]: est_cnt =
    * min over the depth rows of the probed counter (0 when a counter was
    * never touched). The table is depth*width rows by construction —
    * broadcast — so probing never shuffles the probe side. */
  def cmsEstimates(probe: DataFrame, keyCol: String, table: DataFrame,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val probeCols = probe.columns.map(col)
    probe
      .select(probeCols :+
        explode(cmsCoords(col(keyCol).cast("long"), depth, width))
          .as("e"): _*)
      .select(probeCols :+ col("e.j").as("j") :+ col("e.pos").as("pos"): _*)
      .join(broadcast(table), Seq("j", "pos"), "left")
      .groupBy(probeCols: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }
}
