package graft.wri

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CogQuerySpec extends SparkSpec {
  import spark.implicits._

  private lazy val root =
    java.nio.file.Files.createTempDirectory("cogquery").toString
  private lazy val inputs =
    Fixtures.writeCogInputs(root, n = 2, w = 192, h = 128)
  private lazy val cogDir = {
    val dir = s"$root/cogs"
    Cog.run(spark, inputs.toDF("filepath", "cog_filename"), dir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    dir
  }

  test("a ModelTiepoint anchoring a non-(0,0) pixel backs out to the " +
      "same raster origin — external GeoTIFFs are legal GeoTIFFs") {
    val cog = s"$cogDir/${inputs.head._2}"
    val prefix = {
      val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cog))
      java.util.Arrays.copyOf(all, math.min(all.length, 16 * 1024))
    }
    val (resX, resY, xmin, ymax) = TiffIO.geoTransformFromPrefix(prefix)
    // locate the tiepoint value array by its x ordinate, then re-anchor
    // it at pixel (i=2, j=3): a correct reader must back the moved
    // tiepoint out to the SAME top-left corner
    val bb = java.nio.ByteBuffer.wrap(prefix)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val xOff = (0 until prefix.length - 8).find(o =>
      bb.getDouble(o) == xmin).get
    val tieStart = xOff - 24 // (i, j, k) precede (x, y, z)
    assert(bb.getDouble(tieStart) == 0.0 && bb.getDouble(tieStart + 8) == 0.0)
    bb.putDouble(tieStart, 2.0)
    bb.putDouble(tieStart + 8, 3.0)
    bb.putDouble(xOff, xmin + 2.0 * resX)
    bb.putDouble(xOff + 8, ymax - 3.0 * resY)
    val (resX2, resY2, xmin2, ymax2) = TiffIO.geoTransformFromPrefix(prefix)
    assert(resX2 == resX && resY2 == resY &&
      xmin2 == xmin && ymax2 == ymax,
      s"re-anchored tiepoint drifted: ($xmin2, $ymax2) vs ($xmin, $ymax)")
  }

  test("a re-anchored source tiepoint: readHeader agrees with the prefix " +
      "geotransform, and Cog.run writes the COG at the same origin") {
    val dir = java.nio.file.Files.createTempDirectory("reanchor")
    val src = dir.resolve("src.tif")
    val (resX, resY) = (90.0, 90.0)
    val (xmin, ymax) = (Model.Expected.xmin, Model.Expected.ymax)
    TiffWriter.writeGeoTiff(src.toString, 48, 40,
      Array.tabulate(48 * 40)(_.toFloat),
      TiffIO.GeoInfo(Model.Expected.epsg, resX, resY, xmin, ymax))
    // move the tiepoint to pixel (i=2, j=3) with the model point that
    // keeps the raster where it was
    val bytes = java.nio.file.Files.readAllBytes(src)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val xOff = (0 until bytes.length - 8).find(o =>
      bb.getDouble(o) == xmin).get
    val tieStart = xOff - 24 // (i, j, k) precede (x, y, z)
    bb.putDouble(tieStart, 2.0)
    bb.putDouble(tieStart + 8, 3.0)
    bb.putDouble(xOff, xmin + 2.0 * resX)
    bb.putDouble(xOff + 8, ymax - 3.0 * resY)
    java.nio.file.Files.write(src, bytes)
    val h = TiffIO.readHeader(src.toString)
    val (_, _, gx, gy) = TiffIO.geoTransformFromPrefix(bytes.take(16 * 1024))
    assert((h.xmin, h.ymax) == ((gx, gy)),
      s"readHeader origin (${h.xmin}, ${h.ymax}) vs prefix ($gx, $gy)")
    assert(math.abs(h.xmin - xmin) < 1e-6 && math.abs(h.ymax - ymax) < 1e-6,
      s"re-anchored tiepoint shifted the extent: (${h.xmin}, ${h.ymax})")
    val out = dir.resolve("cogs").toString
    val status = Cog.run(spark,
      Seq((src.toString, "src.tif")).toDF("filepath", "cog_filename"), out,
      TiffWriter.CogOptions(blockSize = 32)).collect()
    assert(status.map(_.getAs[String]("status")).toSeq == Seq("written"))
    val c = TiffIO.readHeader(s"$out/src.tif")
    assert((c.xmin, c.ymax) == ((h.xmin, h.ymax)),
      s"COG origin (${c.xmin}, ${c.ymax}) vs source (${h.xmin}, ${h.ymax})")
  }

  test("window stats equal a full-raster decode of the same window") {
    val out = CogQuery.windowStats(spark, cogDir, inputs.map(_._2),
        x0 = 70, y0 = 30, winW = 48, winH = 48)
      .collect().map(r => r.getAs[String]("layer") -> r).toMap
    inputs.foreach { case (src, name) =>
      // independent formulation: decode the WHOLE source raster and fold
      // the window directly — the range-read path must agree exactly
      val (h, px) = TiffIO.readPixels(src)
      var nValid = 0L; var nNan = 0L; var sum = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      for (y <- 30 until 78; x <- 70 until 118) {
        val v = px(y * h.width + x)
        if (java.lang.Float.isNaN(v)) nNan += 1
        else {
          val vs = Math.round(v.toDouble * 10000)
          nValid += 1; sum += vs
          mn = math.min(mn, vs); mx = math.max(mx, vs)
        }
      }
      val r = out(name)
      assert(r.getAs[Long]("n_valid") == nValid && r.getAs[Long]("n_nan") == nNan)
      assert(r.getAs[Long]("vs_sum") == sum)
      assert(r.getAs[Long]("vs_min") == mn && r.getAs[Long]("vs_max") == mx)
    }
  }

  test("economy: only the intersecting tiles are fetched, a bounded " +
      "fraction of the file") {
    val r = CogQuery.windowStats(spark, cogDir, inputs.map(_._2).take(1),
      x0 = 70, y0 = 30, winW = 48, winH = 48).collect().head
    // 192x128 at 32px tiles = 6x4 = 24; window [70,118)x[30,78) touches
    // tile cols 2-3 and rows 0-2 = 6 tiles
    assert(r.getAs[Long]("tiles_total") == 24L)
    assert(r.getAs[Long]("tiles_read") == 6L,
      s"expected 6 tiles, read ${r.getAs[Long]("tiles_read")}")
    // prefix + 6/24 of the tile data: far below the whole file (the
    // pyramid levels alone add ~33% the window never touches)
    assert(r.getAs[Long]("bytes_read") < r.getAs[Long]("file_bytes"),
      s"read ${r.getAs[Long]("bytes_read")} of ${r.getAs[Long]("file_bytes")}")
  }

  test("a single-tile window reads exactly one tile") {
    val r = CogQuery.windowStats(spark, cogDir, inputs.map(_._2).take(1),
      x0 = 33, y0 = 33, winW = 8, winH = 8).collect().head
    assert(r.getAs[Long]("tiles_read") == 1L)
  }

  test("a window entirely outside the raster reads no tiles, counts " +
      "nothing") {
    val r = CogQuery.windowStats(spark, cogDir, inputs.map(_._2).take(1),
      x0 = 500, y0 = 500, winW = 10, winH = 10).collect().head
    assert(r.getAs[Long]("tiles_read") == 0L)
    assert(r.getAs[Long]("n_valid") == 0L && r.getAs[Long]("n_nan") == 0L)
    assert(r.isNullAt(r.fieldIndex("vs_min")))
  }

  test("overview-level stats equal a full decode + scalar nearest " +
      "downsample of the same window") {
    // NEAREST-resampled pyramid: level-1 pixel (x, y) = source (2x, 2y)
    val nnDir = {
      val out = s"$root/nn_cogs"
      Cog.run(spark, inputs.toDF("filepath", "cog_filename"), out,
        TiffWriter.CogOptions(blockSize = 32,
          resampling = TiffIO.Nearest)).count()
      out
    }
    val got = CogQuery.windowStats(spark, nnDir, inputs.map(_._2),
        x0 = 10, y0 = 5, winW = 40, winH = 25, level = 1)
      .collect().map(r => r.getAs[String]("layer") -> r).toMap
    inputs.foreach { case (src, name) =>
      val (h, px) = TiffIO.readPixels(src)
      var nValid = 0L; var nNan = 0L; var sum = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      for (y <- 5 until 30; x <- 10 until 50) {
        val v = px((y * 2) * h.width + (x * 2))
        if (java.lang.Float.isNaN(v)) nNan += 1
        else {
          val vs = Math.round(v.toDouble * 10000)
          nValid += 1; sum += vs
          mn = math.min(mn, vs); mx = math.max(mx, vs)
        }
      }
      val r = got(name)
      assert(r.getAs[Long]("n_valid") == nValid &&
        r.getAs[Long]("n_nan") == nNan && r.getAs[Long]("vs_sum") == sum &&
        r.getAs[Long]("vs_min") == mn && r.getAs[Long]("vs_max") == mx,
        s"level-1 drift for $name")
    }
    // asking past the pyramid depth fails loudly
    intercept[org.apache.spark.SparkException] {
      CogQuery.windowStats(spark, nnDir, inputs.map(_._2).take(1),
        x0 = 0, y0 = 0, winW = 4, winH = 4, level = 64).collect()
    }
  }

  test("window stats over scheme-qualified file:// URIs match plain " +
      "local paths (Hadoop FileSystem read path)") {
    val local = CogQuery.windowStats(spark, cogDir, inputs.map(_._2),
      x0 = 70, y0 = 30, winW = 48, winH = 48).collect()
      .map(r => r.getAs[String]("layer") -> r.toSeq).toMap
    val viaUri = CogQuery.windowStats(spark, s"file://$cogDir",
      inputs.map(_._2), x0 = 70, y0 = 30, winW = 48, winH = 48).collect()
      .map(r => r.getAs[String]("layer") -> r.toSeq).toMap
    assert(viaUri == local)
  }

  /** Minimal HTTP server over `dir`: honors `Range: bytes=a-b` with 206
    * (the hosted-COG contract) unless `ignoreRange`, in which case every
    * GET returns 200 + the whole body — the misbehaving-server case. */
  /** The shared [[TestHttp]] fixture; `requests` records GET paths only
    * (the fetch-count economy assertions must not count HEAD probes). */
  private def withHttpServer[T](dir: String, ignoreRange: Boolean = false,
      requests: Option[java.util.concurrent.ConcurrentLinkedQueue[String]] =
        None)(
      f: String => T): T =
    TestHttp.withHttpServer(dir, ignoreRange = ignoreRange,
      gets = requests)(f)

  test("window stats over HTTP range requests match the local read — " +
      "the reference's hosted-COG serving mode") {
    val local = CogQuery.windowStats(spark, cogDir, inputs.map(_._2),
      x0 = 70, y0 = 30, winW = 48, winH = 48).collect()
      .map(r => r.getAs[String]("layer") -> r.toSeq).toMap
    withHttpServer(cogDir) { base =>
      val viaHttp = CogQuery.windowStats(spark, base, inputs.map(_._2),
        x0 = 70, y0 = 30, winW = 48, winH = 48).collect()
        .map(r => r.getAs[String]("layer") -> r.toSeq).toMap
      assert(viaHttp == local)
    }
  }

  test("a server that ignores Range is rejected loudly — never a silent " +
      "whole-file download") {
    withHttpServer(cogDir, ignoreRange = true) { base =>
      val e = intercept[org.apache.spark.SparkException] {
        CogQuery.windowStats(spark, base, inputs.map(_._2).take(1),
          x0 = 0, y0 = 0, winW = 8, winH = 8).collect()
      }
      assert(e.getMessage.contains("Range") ||
        Option(e.getCause).exists(_.getMessage.contains("Range")))
    }
  }

  test("geo window: a CRS bounding box maps to exactly the pixel window " +
      "its cells intersect — identical to the pixel form") {
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    // box fractionally off the 90 m grid: cells x [70, 118), y [30, 78)
    val geo = CogQuery.windowStatsGeo(spark, cogDir, inputs.map(_._2),
        minx = gx + 70.2 * 90.0, maxx = gx + 117.9 * 90.0,
        miny = gy - 77.5 * 90.0, maxy = gy - 30.7 * 90.0)
      .collect().map(r => r.getAs[String]("layer") -> r.toSeq).toMap
    val px = CogQuery.windowStats(spark, cogDir, inputs.map(_._2),
        x0 = 70, y0 = 30, winW = 48, winH = 48)
      .collect().map(r => r.getAs[String]("layer") -> r.toSeq).toMap
    assert(geo == px, "geo box drifted from its pixel-window equivalent")
  }

  test("geo window: a box west/north of the raster clamps; one wholly " +
      "outside reads zero tiles") {
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    // overhangs the top-left corner: clamps to cells [0, 3) x [0, 2)
    val clamped = CogQuery.windowStatsGeo(spark, cogDir,
        inputs.map(_._2).take(1),
        minx = gx - 500.0, maxx = gx + 2.5 * 90.0,
        miny = gy - 1.5 * 90.0, maxy = gy + 700.0)
      .collect().head
    assert(clamped.getAs[Long]("n_valid") + clamped.getAs[Long]("n_nan")
      == 3L * 2L)
    assert(clamped.getAs[Long]("tiles_read") == 1L)
    // wholly south-east of the raster: nothing read, nothing counted
    val outside = CogQuery.windowStatsGeo(spark, cogDir,
        inputs.map(_._2).take(1),
        minx = gx + 500.0 * 90.0, maxx = gx + 510.0 * 90.0,
        miny = gy - 900.0 * 90.0, maxy = gy - 890.0 * 90.0)
      .collect().head
    assert(outside.getAs[Long]("tiles_read") == 0L &&
      outside.getAs[Long]("n_valid") == 0L &&
      outside.isNullAt(outside.fieldIndex("vs_min")))
  }

  test("geo zoom-out: a CRS box at level 1 equals its pixel-window " +
      "twin on the overview grid") {
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    val nnDir = {
      val out = s"$root/nn_geo_cogs"
      Cog.run(spark, inputs.toDF("filepath", "cog_filename"), out,
        TiffWriter.CogOptions(blockSize = 32,
          resampling = TiffIO.Nearest)).count()
      out
    }
    // level-1 cells are 180 m; box fractionally off that grid maps to
    // level-1 pixels x [10, 50), y [5, 30)
    val geo = CogQuery.windowStatsGeo(spark, nnDir, inputs.map(_._2),
        minx = gx + 10.3 * 180.0, maxx = gx + 49.8 * 180.0,
        miny = gy - 29.1 * 180.0, maxy = gy - 5.2 * 180.0,
        level = 1)
      .collect().map(r => r.getAs[String]("layer") -> r.toSeq).toMap
    val px = CogQuery.windowStats(spark, nnDir, inputs.map(_._2),
        x0 = 10, y0 = 5, winW = 40, winH = 25, level = 1)
      .collect().map(r => r.getAs[String]("layer") -> r.toSeq).toMap
    assert(geo == px, "geo level-1 box drifted from its pixel twin")
  }

  test("geo window over HTTP matches local — the geotransform rides the " +
      "same single prefix request") {
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    val local = CogQuery.windowStatsGeo(spark, cogDir, inputs.map(_._2),
        minx = gx + 70.2 * 90.0, maxx = gx + 117.9 * 90.0,
        miny = gy - 77.5 * 90.0, maxy = gy - 30.7 * 90.0)
      .collect().map(r => r.getAs[String]("layer") -> r.toSeq).toMap
    withHttpServer(cogDir) { base =>
      val viaHttp = CogQuery.windowStatsGeo(spark, base, inputs.map(_._2),
          minx = gx + 70.2 * 90.0, maxx = gx + 117.9 * 90.0,
          miny = gy - 77.5 * 90.0, maxy = gy - 30.7 * 90.0)
        .collect().map(r => r.getAs[String]("layer") -> r.toSeq).toMap
      assert(viaHttp == local)
    }
  }

  test("edge clipping: a window past the raster edge stays in bounds") {
    val r = CogQuery.windowStats(spark, cogDir, inputs.map(_._2).take(1),
      x0 = 180, y0 = 120, winW = 100, winH = 100).collect().head
    // only the 12x8 in-raster corner is counted
    assert(r.getAs[Long]("n_valid") + r.getAs[Long]("n_nan") == 12L * 8L)
    assert(r.getAs[Long]("tiles_read") == 1L)
  }

  test("zonal batch: per-window stats equal the one-window geo call, a " +
      "disjoint window reports zero, tile COALESCING fetches each " +
      "union tile exactly once (measured over HTTP), and HTTP == local") {
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    // A: cells x [70, 118) y [30, 78) -> tile cols 2..3, rows 0..2 (6)
    // B: cells x [60, 81)  y [50, 71) -> tile cols 1..2, rows 1..2 (4)
    // A and B SHARE tiles (1,2) and (2,2): union 8, per-window sum 10
    val wA = (1L, gx + 70.2 * 90.0, gy - 77.5 * 90.0,
      gx + 117.9 * 90.0, gy - 30.7 * 90.0)
    val wB = (2L, gx + 60.4 * 90.0, gy - 70.9 * 90.0,
      gx + 80.9 * 90.0, gy - 50.1 * 90.0)
    val wC = (3L, gx + 5000 * 90.0, gy - 70.9 * 90.0,
      gx + 5010 * 90.0, gy - 50.1 * 90.0) // wholly outside the raster
    val windows = Seq(wA, wB, wC)
    val layers = inputs.map(_._2)
    val zonal = CogQuery.zonalStatsGeo(spark, cogDir, layers, windows)
      .collect()
      .map(r => (r.getAs[String]("layer"), r.getAs[Long]("window_id")) -> r)
      .toMap
    assert(zonal.size == layers.size * windows.size,
      "one row per layer x window")
    for ((id, minx, miny, maxx, maxy) <- Seq(wA, wB); layer <- layers) {
      val single = CogQuery.windowStatsGeo(spark, cogDir, Seq(layer),
        minx, miny, maxx, maxy).collect().head
      val z = zonal((layer, id))
      for (c <- Seq("n_valid", "n_nan", "vs_sum"))
        assert(z.getAs[Long](c) == single.getAs[Long](c),
          s"$layer window $id drifted on $c")
      assert(z.getAs[Any]("vs_min") == single.getAs[Any]("vs_min") &&
        z.getAs[Any]("vs_max") == single.getAs[Any]("vs_max"),
        s"$layer window $id drifted on min/max")
    }
    val far = zonal((layers.head, 3L))
    assert(far.getAs[Long]("tiles_read") == 0L &&
      far.getAs[Long]("n_valid") == 0L &&
      far.getAs[Any]("vs_min") == null,
      "a window outside the raster must cost and count nothing")
    // per-window accounting reports LOGICAL tiles (6 and 4) even though
    // the physical fetch coalesces the shared ones
    assert(zonal((layers.head, 1L)).getAs[Long]("tiles_read") == 6L &&
      zonal((layers.head, 2L)).getAs[Long]("tiles_read") == 4L)
    // the physical economy, measured at the server: per layer exactly
    // 1 prefix GET + 8 union tiles — NOT the 10 per-window tile folds
    val reqs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withHttpServer(cogDir, requests = Some(reqs)) { base =>
      val viaHttp = CogQuery.zonalStatsGeo(spark, base, layers, windows)
        .collect()
        .map(r => (r.getAs[String]("layer"), r.getAs[Long]("window_id")) ->
          r.toSeq).toMap
      assert(viaHttp ==
        zonal.view.mapValues(_.toSeq).toMap,
        "zonal over HTTP drifted from the local read")
      import scala.jdk.CollectionConverters._
      val perLayer = reqs.asScala.toSeq.groupBy(identity)
        .view.mapValues(_.size).toMap
      for (layer <- layers)
        assert(perLayer.get(s"/$layer").contains(9),
          s"expected 1 prefix + 8 union-tile fetches for $layer, got " +
            s"${perLayer.get(s"/$layer")} — a shared tile must be " +
            "fetched ONCE, not once per window")
    }
  }

  test("map algebra: the derived COG is a real COG (tiled, pyramid, " +
      "geo-anchored like its inputs), every pixel equals the in-memory " +
      "weighted combine with NaN mask propagation, and a grid-mismatched " +
      "input refuses loudly") {
    val out = s"$root/derived_combo.tif"
    val targets = inputs.zipWithIndex.map { case ((_, n), i) =>
      (n, s"$cogDir/$n", (i + 1).toDouble) }
    val stat = CogQuery.mapAlgebra(spark, targets, out,
      TiffWriter.CogOptions(blockSize = 32)).collect().head
    assert(stat.getAs[Int]("width") == 192 &&
      stat.getAs[Int]("height") == 128 &&
      stat.getAs[Long]("tiles") == 24, stat.toString) // 6x4 32px tiles
    // the output honors the full COG contract: tiled, carries a
    // pyramid, and georeferences exactly like its inputs
    val h = TiffIO.readHeader(out)
    assert(h.tiled && h.isCogLayout, "derived output is not a COG")
    val prefix = {
      val all = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out))
      java.util.Arrays.copyOf(all, math.min(all.length, 16 * 1024))
    }
    assert(TiffIO.levelLayoutsFromPrefix(prefix).length >= 2,
      "derived output carries no overview pyramid")
    val inPrefix = {
      val all = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$cogDir/${inputs.head._2}"))
      java.util.Arrays.copyOf(all, math.min(all.length, 16 * 1024))
    }
    assert(TiffIO.geoTransformFromPrefix(prefix) ==
      TiffIO.geoTransformFromPrefix(inPrefix),
      "derived output drifted off the input grid")
    // pixel-exact: out = 1*layer_0 + 2*layer_1 (double accumulation,
    // float32 store), NaN wherever EITHER input is NaN
    val (h0, px0) = TiffIO.readPixels(s"$cogDir/${inputs(0)._2}")
    val (_, px1) = TiffIO.readPixels(s"$cogDir/${inputs(1)._2}")
    val (_, pxOut) = TiffIO.readPixels(out)
    var k = 0
    while (k < h0.width * h0.height) {
      val expected =
        if (px0(k).isNaN || px1(k).isNaN) Float.NaN
        else (1.0 * px0(k).toDouble + 2.0 * px1(k).toDouble).toFloat
      assert(java.lang.Float.compare(expected, pxOut(k)) == 0,
        s"pixel $k: expected $expected got ${pxOut(k)}")
      k += 1
    }
    // the mask-TOLERANT mode: weighted mean over PRESENT inputs —
    // NaN only where every input is NaN (here: never, masks are
    // disjoint), value = (1*v0 + 2*v1) / 3 or the single present term
    val outMean = s"$root/derived_mean.tif"
    CogQuery.mapAlgebra(spark, targets, outMean,
      TiffWriter.CogOptions(blockSize = 32), combine = "wmean").count()
    val (_, pxMean) = TiffIO.readPixels(outMean)
    k = 0
    while (k < h0.width * h0.height) {
      var acc = 0.0; var accW = 0.0
      if (!px0(k).isNaN) { acc += 1.0 * px0(k).toDouble; accW += 1.0 }
      if (!px1(k).isNaN) { acc += 2.0 * px1(k).toDouble; accW += 2.0 }
      val expected =
        if (accW == 0.0) Float.NaN else (acc / accW).toFloat
      assert(java.lang.Float.compare(expected, pxMean(k)) == 0,
        s"wmean pixel $k: expected $expected got ${pxMean(k)}")
      k += 1
    }
    // a 96x64 input against the 192x128 grid refuses with the grids
    // named — map algebra never silently resamples
    val badSrc = Fixtures.writeCogInputs(s"$root/bad", n = 1)
    val badDir = s"$root/bad_cogs"
    Cog.run(spark, badSrc.toDF("filepath", "cog_filename"), badDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val e = intercept[IllegalArgumentException] {
      CogQuery.mapAlgebra(spark,
        targets.take(1) :+ (("small", s"$badDir/layer_0.tif", 1.0)),
        s"$root/derived_bad.tif")
    }
    assert(e.getMessage.contains("grid-aligned"), e.getMessage)
  }

  private def prefixOf(path: String): Array[Byte] = {
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    java.util.Arrays.copyOf(all, math.min(all.length, 16 * 1024))
  }

  test("resampleToGrid: identity regrid round-trips pixels exactly, a " +
      "shifted/smaller source lands NN-exact with NaN past its edge, " +
      "resample-then-combine equals combining a pre-aligned twin, and " +
      "a cross-CRS source refuses loudly") {
    val conf = spark.sparkContext.hadoopConfiguration
    val refPath = s"$cogDir/${inputs.head._2}"
    val (resX, resY, gx, gy) = TiffIO.geoTransformFromPrefix(
      prefixOf(refPath))
    // --- identity: same grid in, byte-identical pixels out
    val idOut = s"$root/resample_identity.tif"
    val stat = CogQuery.resampleToGrid(spark, s"$cogDir/${inputs(1)._2}",
      refPath, idOut, TiffWriter.CogOptions(blockSize = 32))
      .collect().head
    assert(stat.getAs[Int]("width") == 192 &&
      stat.getAs[Int]("height") == 128 &&
      stat.getAs[Long]("tiles") == 24, stat.toString)
    val (_, idPx) = TiffIO.readPixels(idOut)
    val (_, srcIdPx) = TiffIO.readPixels(s"$cogDir/${inputs(1)._2}")
    var k = 0
    while (k < idPx.length) {
      assert(java.lang.Float.compare(idPx(k), srcIdPx(k)) == 0,
        s"identity resample changed pixel $k")
      k += 1
    }
    // the derived raster is a real COG on the reference grid
    assert(TiffIO.levelLayoutsFromPrefix(prefixOf(idOut)).length >= 2,
      "resampled output carries no overview pyramid")
    assert(TiffIO.geoTransformFromPrefix(prefixOf(idOut)) ==
      (resX, resY, gx, gy), "resampled output drifted off the ref grid")
    // --- shifted + smaller source: 160x100 at origin +(20px, 10px)
    val (sw, sh) = (160, 100)
    val srcPx = Array.tabulate(sw * sh)(j =>
      if (j % 13 == 0) Float.NaN else ((j * 3) % 101) / 7.0f)
    val shifted = s"$root/resample_src_shifted.tif"
    TiffWriter.writeCog(shifted, sw, sh, srcPx,
      TiffIO.GeoInfo(Model.Expected.epsg, resX, resY,
        gx + 20 * resX, gy - 10 * resY),
      TiffWriter.CogOptions(blockSize = 32), conf)
    // mapAlgebra refuses the misaligned pair and names the remediation
    val mis = intercept[IllegalArgumentException] {
      CogQuery.mapAlgebra(spark, Seq(("ref", refPath, 1.0),
        ("shifted", shifted, 2.0)), s"$root/derived_mis.tif")
    }
    assert(mis.getMessage.contains("resample"), mis.getMessage)
    // resample onto the ref grid: NN with the pixel-center floor map —
    // an INDEPENDENT reimplementation here, vs the verb's tile walk
    val aligned = s"$root/resample_src_aligned.tif"
    CogQuery.resampleToGrid(spark, shifted, refPath, aligned,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val (_, alPx) = TiffIO.readPixels(aligned)
    val twinPx = Array.tabulate(192 * 128) { j =>
      val (x, y) = (j % 192, j / 192)
      val sx = math.floor(((x + 0.5) * resX - 20 * resX) / resX).toInt
      val sy = math.floor(((y + 0.5) * resY - 10 * resY) / resY).toInt
      if (sx < 0 || sx >= sw || sy < 0 || sy >= sh) Float.NaN
      else srcPx(sy * sw + sx)
    }
    k = 0
    while (k < alPx.length) {
      assert(java.lang.Float.compare(alPx(k), twinPx(k)) == 0,
        s"NN pixel $k: expected ${twinPx(k)} got ${alPx(k)}")
      k += 1
    }
    // resample-then-combine == combining a hand-built pre-aligned twin
    val twinCog = s"$root/resample_twin.tif"
    TiffWriter.writeCog(twinCog, 192, 128, twinPx,
      TiffIO.GeoInfo(Model.Expected.epsg, resX, resY, gx, gy),
      TiffWriter.CogOptions(blockSize = 32), conf)
    CogQuery.mapAlgebra(spark, Seq(("ref", refPath, 1.0),
      ("aligned", aligned, 2.0)), s"$root/combine_via_resample.tif",
      TiffWriter.CogOptions(blockSize = 32)).count()
    CogQuery.mapAlgebra(spark, Seq(("ref", refPath, 1.0),
      ("twin", twinCog, 2.0)), s"$root/combine_via_twin.tif",
      TiffWriter.CogOptions(blockSize = 32)).count()
    val (_, viaResample) = TiffIO.readPixels(s"$root/combine_via_resample.tif")
    val (_, viaTwin) = TiffIO.readPixels(s"$root/combine_via_twin.tif")
    k = 0
    while (k < viaResample.length) {
      assert(java.lang.Float.compare(viaResample(k), viaTwin(k)) == 0,
        s"combine drifted at pixel $k")
      k += 1
    }
    // --- a COARSER source (2x the cell size) samples each source cell
    // into its 2x2 output block — the decimation direction reversed
    val (cw, ch) = (96, 64)
    val coarsePx = Array.tabulate(cw * ch)(j => (j % 97).toFloat)
    val coarse = s"$root/resample_src_coarse.tif"
    TiffWriter.writeCog(coarse, cw, ch, coarsePx,
      TiffIO.GeoInfo(Model.Expected.epsg, 2 * resX, 2 * resY, gx, gy),
      TiffWriter.CogOptions(blockSize = 32), conf)
    val coarseOut = s"$root/resample_coarse_out.tif"
    CogQuery.resampleToGrid(spark, coarse, refPath, coarseOut,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val (_, coPx) = TiffIO.readPixels(coarseOut)
    k = 0
    while (k < coPx.length) {
      val (x, y) = (k % 192, k / 192)
      val sx = math.floor((x + 0.5) * resX / (2 * resX)).toInt
      val sy = math.floor((y + 0.5) * resY / (2 * resY)).toInt
      val expected =
        if (sx >= cw || sy >= ch) Float.NaN else coarsePx(sy * cw + sx)
      assert(java.lang.Float.compare(coPx(k), expected) == 0,
        s"coarse NN pixel $k: expected $expected got ${coPx(k)}")
      k += 1
    }
    // --- CRS discipline: a 4326-labelled source against the 5070 ref
    // refuses (regrid is not reprojection), and mapAlgebra refuses a
    // same-grid cross-CRS pair too
    val otherCrs = s"$root/resample_src_4326.tif"
    TiffWriter.writeCog(otherCrs, 192, 128, srcIdPx,
      TiffIO.GeoInfo(4326, resX, resY, gx, gy),
      TiffWriter.CogOptions(blockSize = 32), conf)
    val crsErr = intercept[IllegalArgumentException] {
      CogQuery.resampleToGrid(spark, otherCrs, refPath,
        s"$root/resample_crs_bad.tif")
    }
    assert(crsErr.getMessage.contains("CRS") &&
      crsErr.getMessage.contains("4326"), crsErr.getMessage)
    val crsCombineErr = intercept[IllegalArgumentException] {
      CogQuery.mapAlgebra(spark, Seq(("ref", refPath, 1.0),
        ("other", otherCrs, 1.0)), s"$root/derived_crs_bad.tif")
    }
    assert(crsCombineErr.getMessage.contains("CRS"),
      crsCombineErr.getMessage)
  }

  test("resampleToGrid bilinear: identity still round-trips bytes (all " +
      "weights collapse), a half-pixel-shifted source lands as the " +
      "EXACT two-neighbor average vs an independent reimplementation " +
      "(NaN propagating only on positive-weight neighbors), the valid " +
      "footprint equals nearest's, and an unknown method refuses") {
    val conf = spark.sparkContext.hadoopConfiguration
    val refPath = s"$cogDir/${inputs.head._2}"
    val (resX, resY, gx, gy) = TiffIO.geoTransformFromPrefix(
      prefixOf(refPath))
    // --- identity: bilinear on the same grid == byte-identical pixels
    val idOut = s"$root/bilinear_identity.tif"
    CogQuery.resampleToGrid(spark, s"$cogDir/${inputs(1)._2}", refPath,
      idOut, TiffWriter.CogOptions(blockSize = 32),
      method = "bilinear").count()
    val (_, idPx) = TiffIO.readPixels(idOut)
    val (_, srcIdPx) = TiffIO.readPixels(s"$cogDir/${inputs(1)._2}")
    var k = 0
    while (k < idPx.length) {
      assert(java.lang.Float.compare(idPx(k), srcIdPx(k)) == 0,
        s"identity bilinear changed pixel $k")
      k += 1
    }
    // --- half-pixel X shift: every output value is the exact 0.5/0.5
    // average of its two x-neighbors; the y axis is ALIGNED, so the
    // zero-weight y+1 row must never be sampled (a NaN there must not
    // poison the value)
    val (sw, sh) = (160, 100)
    val srcPx = Array.tabulate(sw * sh)(j =>
      if (j % 13 == 0) Float.NaN else ((j * 3) % 101) / 7.0f)
    val shifted = s"$root/bilinear_src_halfpx.tif"
    TiffWriter.writeCog(shifted, sw, sh, srcPx,
      TiffIO.GeoInfo(Model.Expected.epsg, resX, resY,
        gx + 20.5 * resX, gy - 10 * resY),
      TiffWriter.CogOptions(blockSize = 32), conf)
    val out = s"$root/bilinear_out.tif"
    CogQuery.resampleToGrid(spark, shifted, refPath, out,
      TiffWriter.CogOptions(blockSize = 32), method = "bilinear").count()
    val (_, biPx) = TiffIO.readPixels(out)
    // independent reimplementation: shift-only arithmetic (no origins),
    // the provably-exact values the hoisted-origin kernel must equal
    def at(sx: Int, sy: Int): Double =
      srcPx(math.max(0, math.min(sh - 1, sy)) * sw +
        math.max(0, math.min(sw - 1, sx))).toDouble
    val twinPx = Array.tabulate(192 * 128) { j =>
      val (x, y) = (j % 192, j / 192)
      val u = ((x + 0.5) * resX - 20.5 * resX) / resX
      val vy = ((y + 0.5) * resY - 10 * resY) / resY
      if (math.floor(u) < 0 || math.floor(u) >= sw ||
          math.floor(vy) < 0 || math.floor(vy) >= sh) Float.NaN
      else {
        val fx = u - 0.5; val x0 = math.floor(fx).toInt; val wx = fx - x0
        val fy = vy - 0.5; val y0 = math.floor(fy).toInt; val wy = fy - y0
        val r0 =
          if (wx == 0.0) at(x0, y0)
          else at(x0, y0) * (1.0 - wx) + at(x0 + 1, y0) * wx
        val v =
          if (wy == 0.0) r0
          else {
            val r1 =
              if (wx == 0.0) at(x0, y0 + 1)
              else at(x0, y0 + 1) * (1.0 - wx) + at(x0 + 1, y0 + 1) * wx
            r0 * (1.0 - wy) + r1 * wy
          }
        v.toFloat
      }
    }
    k = 0
    while (k < biPx.length) {
      assert(java.lang.Float.compare(biPx(k), twinPx(k)) == 0,
        s"bilinear pixel $k: expected ${twinPx(k)} got ${biPx(k)}")
      k += 1
    }
    // spot-check the semantics the hash can hide: an interior pixel is
    // the plain average of its two x-neighbors
    locally {
      val (x, y) = (30, 30)
      val jL = (y - 10) * sw + (x - 21)
      if (!srcPx(jL).isNaN && !srcPx(jL + 1).isNaN)
        assert(java.lang.Float.compare(biPx(y * 192 + x),
          (srcPx(jL).toDouble * 0.5 + srcPx(jL + 1).toDouble * 0.5)
            .toFloat) == 0)
    }
    // --- footprint parity: the outside-the-source mask is METHOD-
    // INDEPENDENT (bilinear adds NaNs only where a positive-weight
    // neighbor is NaN — never past nearest's footprint)
    val nnOut = s"$root/bilinear_vs_nn.tif"
    CogQuery.resampleToGrid(spark, shifted, refPath, nnOut,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val (_, nnPx) = TiffIO.readPixels(nnOut)
    k = 0
    while (k < biPx.length) {
      assert(!(nnPx(k).isNaN ^ biPx(k).isNaN) ||
        (nnPx(k).isNaN || {
          val (x, y) = (k % 192, k / 192)
          val jL = (y - 10) * sw + (x - 21)
          srcPx(jL).isNaN || srcPx(jL + 1).isNaN
        }),
        s"pixel $k: bilinear NaN outside the strict-propagation rule")
      k += 1
    }
    // --- unknown method refuses, naming the offender
    val err = intercept[IllegalArgumentException] {
      CogQuery.resampleToGrid(spark, shifted, refPath,
        s"$root/bilinear_bad.tif", method = "cubic")
    }
    assert(err.getMessage.contains("cubic"), err.getMessage)
  }

  test("CRS discipline hardening: the USER-DEFINED GeoKey sentinel " +
      "(32767) refuses in both mapAlgebra and resampleToGrid — equal " +
      "sentinels are not equal projections — and resampleToGrid " +
      "refuses a contradictory epsg parameter like mapAlgebra does") {
    val conf = spark.sparkContext.hadoopConfiguration
    val refPath = s"$cogDir/${inputs.head._2}"
    val (resX, resY, gx, gy) = TiffIO.geoTransformFromPrefix(
      prefixOf(refPath))
    val px = Array.tabulate(192 * 128)(j => (j % 97).toFloat)
    // two same-grid rasters BOTH stamped with the user-defined
    // sentinel: under the old equality check they "match"
    val ud1 = s"$root/crs_userdef_1.tif"
    val ud2 = s"$root/crs_userdef_2.tif"
    Seq(ud1, ud2).foreach { p =>
      TiffWriter.writeCog(p, 192, 128, px,
        TiffIO.GeoInfo(32767, resX, resY, gx, gy),
        TiffWriter.CogOptions(blockSize = 32), conf)
    }
    val ma = intercept[IllegalArgumentException] {
      CogQuery.mapAlgebra(spark, Seq(("a", ud1, 1.0), ("b", ud2, 1.0)),
        s"$root/crs_userdef_combined.tif")
    }
    assert(ma.getMessage.contains("32767"), ma.getMessage)
    val rs = intercept[IllegalArgumentException] {
      CogQuery.resampleToGrid(spark, ud1, ud2,
        s"$root/crs_userdef_resampled.tif")
    }
    assert(rs.getMessage.contains("32767"), rs.getMessage)
    // a caller-passed epsg that contradicts the rasters' own code
    // refuses on the resample path exactly like the combine path
    val contra = intercept[IllegalArgumentException] {
      CogQuery.resampleToGrid(spark, s"$cogDir/${inputs(1)._2}", refPath,
        s"$root/crs_contra.tif", epsg = 4326)
    }
    assert(contra.getMessage.contains("contradicts"), contra.getMessage)
  }
}
