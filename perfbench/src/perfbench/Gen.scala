package perfbench

import java.nio.file.{Files, Paths}

import graft.wri.{Classify, TiffIO, TiffWriter}

/** Seeded inputs for every workload. Everything here is a pure function
  * of the seed: the same seed writes byte-identical files, so the
  * oracle can recompute any pixel instead of reading it back.
  */
object Gen {

  /** One valid layer of the paper's tree: its path under the data root
    * and the classification the paper's rules give that path. */
  case class Layer(idx: Int, rel: String, dataType: String, domain: String,
      dimension: Option[String]) {
    def name: String = rel.substring(rel.lastIndexOf('/') + 1)
    def id: String = name.stripSuffix(".tif")
  }

  val domains: Seq[String] = Classify.domainDirs

  /** The paper's 82 layers (47 indicators, 34 aggregates, 1 final
    * score) in its directory layout. */
  val paperLayers: Seq[Layer] = {
    val final_ = Layer(0, "WRI_score.tif", "final_score", "unknown", None)
    val aggSuffixes = Seq("domain_score", "resilience", "resistance", "status")
    val aggs = (for (s <- aggSuffixes; d <- domains) yield (d, s)).take(34)
      .zipWithIndex.map { case ((d, s), i) =>
        Layer(1 + i, s"$d/${d}_$s.tif", "aggregate", d, Some(s))
      }
    val dims = Seq("resistance", "recovery", "status")
    val inds = (0 until 47).map { i =>
      val d = domains(i % domains.size)
      val dim = dims(i % dims.size)
      Layer(35 + i, s"$d/indicators/${d}_${dim}_$i.tif", "indicator", d,
        Some(dim))
    }
    final_ +: (aggs ++ inds)
  }

  /** FIXTURES.md section 2: paths stage 00 must exclude before reading. */
  val excludedRels: Seq[String] = Seq(
    "water/archive/old_water_resilience.tif",
    "water/indicators_no_mask/water_recovery_0.tif",
    "final_checks/check_status.tif",
    "retro_2024/carbon_status.tif")

  /** A truncated raster under an indicator path: its header read fails. */
  val corruptRel = "species/indicators/species_status_corrupt.tif"

  /** The paper's fixed CONUS grid origin (EPSG:5070, 90 m cells). */
  val geo = TiffIO.GeoInfo(5070, 90.0, 90.0, -5216639.6695348294,
    6199081.688491997)

  // ------------------------------------------------------------------
  // pixels
  // ------------------------------------------------------------------

  /** splitmix64 finalizer: the only source of randomness. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(seed: Long, a: Long, b: Long = 0L): Double =
    (mix(mix(mix(seed) ^ a) ^ b) >>> 11) / (1L << 53).toDouble

  /** Valid-pixel span [lo, hi) of each row: a CONUS-like blob with a
    * wobbly coast that leaves about a third of the cells NaN. Shared by
    * every layer of a seed, as the real layers share one land mask. */
  def maskRows(seed: Long, w: Int, h: Int): Array[(Int, Int)] = {
    val ph = unit(seed, 7) * 2 * math.Pi
    Array.tabulate(h) { y =>
      val t = ((y + 0.5) / h - 0.5) / 0.48
      val half = if (math.abs(t) >= 1) 0.0
        else 0.5 * math.sqrt(1 - t * t) * 0.98 +
          0.02 * StrictMath.sin(10 * math.Pi * (y + 0.5) / h + ph)
      val c = 0.5 + 0.015 * StrictMath.cos(6 * math.Pi * (y + 0.5) / h + ph)
      val lo = math.max(0, math.round((c - half) * w).toInt)
      val hi = math.min(w, math.round((c + half) * w).toInt)
      (lo, math.max(lo, hi))
    }
  }

  /** Level-0 pixels of layer `idx`: a smooth 0-1 field plus noise of
    * amplitude 0.02, NaN outside the mask. Row-major. */
  def pixels(seed: Long, idx: Int, w: Int, h: Int): Array[Float] = {
    val fx = 0.5 + 1.5 * unit(seed, idx, 1)
    val fy = 0.5 + 1.5 * unit(seed, idx, 2)
    val px = unit(seed, idx, 3); val py = unit(seed, idx, 4)
    val sx = Array.tabulate(w)(x =>
      StrictMath.sin(2 * math.Pi * (fx * x / w + px)))
    val sx2 = Array.tabulate(w)(x =>
      StrictMath.sin(2 * math.Pi * (3.0 * x / w + py)))
    val cy = Array.tabulate(h)(y =>
      StrictMath.cos(2 * math.Pi * (fy * y / h + py)))
    val rows = maskRows(seed, w, h)
    val out = new Array[Float](w * h)
    val noiseKey = mix(seed * 31 + idx)
    var y = 0
    while (y < h) {
      val (lo, hi) = rows(y)
      var x = 0
      while (x < w) {
        out(y * w + x) =
          if (x < lo || x >= hi) Float.NaN
          else {
            val n = (mix(noiseKey ^ (y.toLong << 32 | x)) >>> 11) /
              (1L << 53).toDouble
            val v = 0.5 + 0.3 * sx(x) * cy(y) + 0.15 * sx2(x) +
              0.04 * (n - 0.5)
            math.min(1.0, math.max(0.0, v)).toFloat
          }
        x += 1
      }
      y += 1
    }
    out
  }

  /** The writer's documented NaN-aware 2x2 AVERAGE step: the mean of
    * the non-NaN cells among the (in-bounds) 2x2 parents, in double,
    * rounded to float; NaN when all parents are NaN. */
  def average2x2(w: Int, h: Int, px: Array[Float]): (Int, Int, Array[Float]) = {
    val nw = math.max(1, (w + 1) / 2); val nh = math.max(1, (h + 1) / 2)
    val out = new Array[Float](nw * nh)
    for (y <- 0 until nh; x <- 0 until nw) {
      var sum = 0.0; var n = 0
      for (dy <- 0 until 2; dx <- 0 until 2) {
        val sx = 2 * x + dx; val sy = 2 * y + dy
        if (sx < w && sy < h) {
          val v = px(sy * w + sx)
          if (!v.isNaN) { sum += v; n += 1 }
        }
      }
      out(y * nw + x) = if (n == 0) Float.NaN else (sum / n).toFloat
    }
    (nw, nh, out)
  }

  // ------------------------------------------------------------------
  // trees
  // ------------------------------------------------------------------

  private def put(path: String)(write: String => Unit): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    write(path)
  }

  /** Junk bytes for paths stage 00 must never open, and a corrupt
    * raster whose header read fails. */
  def writeFixtures(dataDir: String): Unit = {
    excludedRels.foreach(r =>
      put(s"$dataDir/$r")(p => Files.write(Paths.get(p), Array[Byte](1, 2, 3))))
    put(s"$dataDir/$corruptRel")(p =>
      Files.write(Paths.get(p), Array.fill[Byte](64)(0x7f)))
  }

  /** Writes `layers` as w x h single-band Float32 GeoTIFFs under
    * `dataDir`, plus the excluded and corrupt fixtures. Returns the
    * source bytes written for the valid layers. */
  def writeRasterTree(dataDir: String, seed: Long, layers: Seq[Layer],
      w: Int, h: Int): Long =
    writeRasterTree(dataDir, layers, w, h, l => pixels(seed, l.idx, w, h))

  /** The same tree from pixels computed beforehand, so that timing it
    * times the GeoTIFF writes and not the generator. */
  def writeRasterTree(dataDir: String, layers: Seq[Layer], w: Int, h: Int,
      px: Layer => Array[Float]): Long = {
    writeFixtures(dataDir)
    layers.map { l =>
      val p = s"$dataDir/${l.rel}"
      put(p)(TiffWriter.writeGeoTiff(_, w, h, px(l), geo))
      Files.size(Paths.get(p))
    }.sum
  }

  /** The paper-shaped header-only layer the refresh workload publishes:
    * full 52,355 x 57,865 header values with a stub payload. */
  val paperW = 52355
  val paperH = 57865

  def writeHeaderLayer(path: String,
      g: TiffIO.GeoInfo = geo): Unit =
    put(path)(TiffWriter.writeHeaderFixture(_, paperW, paperH, g))
}
