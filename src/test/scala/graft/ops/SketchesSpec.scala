package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("hllDistinct estimates within the m=64 error envelope") {
    // HLL with m=64 has std error 1.04/sqrt(64) = 13%; assert a generous
    // 3-sigma band on a 10k-key universe
    val keys = (1L to 10000L).toDF("k")
    val row = Sketches.hllDistinct(keys, "k").head
    val (est, exact) = (row.getDouble(0), row.getLong(1))
    assert(exact == 10000L)
    assert(math.abs(est - exact) / exact < 0.4,
      s"estimate $est too far from $exact")
  }

  test("hllDistinct is insensitive to duplication and partitioning") {
    val keys = (1L to 2000L).toDF("k")
    val dup = keys.union(keys).union(keys).repartition(13)
    val a = Sketches.hllDistinct(keys, "k").head
    val b = Sketches.hllDistinct(dup, "k").head
    assert(a.getDouble(0) == b.getDouble(0),
      "sketch is a pure function of the key SET")
    assert(b.getLong(1) == 2000L)
  }

  test("hllDistinct scales its answer with true cardinality") {
    val small = Sketches.hllDistinct((1L to 100L).toDF("k"), "k").head.getDouble(0)
    val large = Sketches.hllDistinct((1L to 20000L).toDF("k"), "k").head.getDouble(0)
    assert(large > 10 * small, s"est must grow with cardinality: $small vs $large")
  }

  test("binnedQuantiles brackets the exact quantile within one bin width") {
    val xs = (1 to 10000).map(_.toDouble).toDF("x")
    val out = Sketches.binnedQuantiles(xs, "x", lo = 0.0, hi = 10000.0,
        bins = 100, qs = Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getDouble(2)).toMap
    // exact p50 = 5000; bin width 100 -> est is the covering upper edge
    assert(math.abs(out(0.5) - 5000.0) <= 100.0, s"p50 est ${out(0.5)}")
    assert(math.abs(out(0.9) - 9000.0) <= 100.0, s"p90 est ${out(0.9)}")
  }

  test("binnedQuantiles clamps out-of-range values into edge bins") {
    val xs = Seq(-50.0, 1.0, 2.0, 3.0, 1e9).toDF("x")
    val out = Sketches.binnedQuantiles(xs, "x", 0.0, 10.0, 10, Seq(1.0))
      .head
    // q=1.0 must land in the LAST bin (the 1e9 outlier clamps there)
    assert(out.getLong(1) == 9L, s"outlier must clamp to the top bin: $out")
  }

  test("binnedQuantiles is partitioning-invariant (mergeable sketch)") {
    val xs = (1 to 5000).map(_.toDouble).toDF("x")
    val a = Sketches.binnedQuantiles(xs, "x", 0.0, 5000.0, 50, Seq(0.25, 0.75))
      .orderBy($"q").collect().toSeq
    val b = Sketches.binnedQuantiles(xs.repartition(17), "x", 0.0, 5000.0, 50,
      Seq(0.25, 0.75)).orderBy($"q").collect().toSeq
    assert(a == b)
  }

  test("portableHash stays within [0, P) and scatters consecutive keys") {
    val hs = (1L to 1000L).toDF("k")
      .select(Sketches.portableHash($"k").as("h"))
      .agg(min($"h"), max($"h"), countDistinct($"h")).head
    assert(hs.getLong(0) >= 0L && hs.getLong(1) < 1000000007L)
    assert(hs.getLong(2) >= 995L, "avalanche rounds keep collisions rare")
  }

  test("scalar portable hash is the bit-exact twin of the Column version") {
    val ks = Seq(0L, 1L, 42L, 999999L, 1000000007L, Long.MaxValue, -17L)
    val viaCol = ks.toDF("k")
      .select(Sketches.portableHash($"k").as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaCol == ks.map(Sketches.portableHashLong))
  }

  // key stream with a known skewed frequency profile: key i appears i times
  private def cmsKeys = (1L to 50L).flatMap(i => Seq.fill(i.toInt)(i))
    .toDF("k")

  test("CMS estimates never undercount and bound the overcount") {
    val table = Sketches.cmsTable(cmsKeys, "k", depth = 4, width = 256)
    val probe = (1L to 50L).toDF("k")
    val est = Sketches.cmsEstimates(probe, "k", table, depth = 4, width = 256)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = (1L to 50L).sum // total stream length
    (1L to 50L).foreach { i =>
      assert(est(i) >= i, s"CMS undercounted key $i: ${est(i)} < $i")
      // e/width bound with huge slack: at width=256 and N=1275 the
      // expected per-counter noise is ~5; 4 rows of min make >50 absurd
      assert(est(i) - i <= n / 20, s"overcount blowup on $i: ${est(i)}")
    }
  }

  test("CMS tables over corpus halves union+sum into the whole's table") {
    val (a, b) = (cmsKeys.filter($"k" <= 25L), cmsKeys.filter($"k" > 25L))
    val merged = Sketches.cmsTable(a, "k", 4, 64)
      .unionByName(Sketches.cmsTable(b, "k", 4, 64))
      .groupBy($"j", $"pos").agg(sum($"cnt").as("cnt"))
      .orderBy($"j", $"pos").collect().toSeq
    val whole = Sketches.cmsTable(cmsKeys, "k", 4, 64)
      .orderBy($"j", $"pos").collect().toSeq
    assert(merged == whole, "counter sums must merge exactly")
  }

  /** Scalar replay of the CMS coordinate derivation: row j hashes the
    * key (pre-reduced mod P) plus j times the row salt, mod width. */
  private def cmsPosOf(key: Long, j: Int, width: Int): Int =
    (Sketches.portableHashLong(java.lang.Math.floorMod(key, 1000000007L) +
      j * 782000003L) % width).toInt

  test("cmsPosOf is the bit-exact scalar twin of the Column coordinates") {
    val keys = Seq(0L, 1L, 42L, 999999L, 1000000006L, 1000000007L,
      Long.MaxValue, -17L)
    val table = Sketches.cmsTable(keys.toDF("k"), "k", 4, 128).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = keys
      .flatMap(k => (0 until 4).map(j =>
        (j, cmsPosOf(k, j, 128).toLong)))
      .groupBy(identity).map { case (c, v) => c -> v.size.toLong }
    assert(table == expected)
  }

  test("CMS probe of a never-seen key reads 0 through empty counters") {
    // width >> distinct keys so some counters stay untouched; a key
    // hashing into an untouched counter on ANY row estimates 0
    val table = Sketches.cmsTable(Seq(1L).toDF("k"), "k", 4, 4096)
    val est = Sketches.cmsEstimates(
      (100L to 120L).toDF("k"), "k", table, 4, 4096)
    assert(est.filter($"est_cnt" === 0L).count() >= 15L,
      "fresh keys against a 1-key table must mostly read empty counters")
  }
}
