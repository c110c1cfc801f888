package graft.wri

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The windowed stats verbs ([[CogQuery.windowStats]],
  * [[CogQuery.windowStatsGeo]], [[CogQuery.zonalStatsGeo]]) share one
  * tile fold, so comparing them with each other proves nothing about
  * it. Here each is checked against a brute-force fold over a
  * whole-raster decode of the source, on seeded random pixel windows
  * that overlap each other, hang partly off the raster or lie wholly
  * outside it, at level 0 and at level 1 (a NEAREST pyramid, so
  * level-1 pixel (x, y) is source pixel (2x, 2y)). */
class CogWindowPropertySpec extends SparkSpec {
  import spark.implicits._

  private lazy val root =
    java.nio.file.Files.createTempDirectory("cogwindowprop").toString
  private lazy val inputs =
    Fixtures.writeCogInputs(root, n = 1, w = 192, h = 128)
  private lazy val cogDir = {
    val dir = s"$root/cogs"
    Cog.run(spark, inputs.toDF("filepath", "cog_filename"), dir,
      TiffWriter.CogOptions(blockSize = 32,
        resampling = TiffIO.Nearest)).count()
    dir
  }

  /** (x0, y0, w, h) on a wl x hl grid: inside, across an edge (a
    * negative origin included), or wholly outside. */
  private def windowGen(wl: Int, hl: Int): Gen[(Int, Int, Int, Int)] = {
    val size = Gen.choose(1, 70)
    val inside = for {
      x <- Gen.choose(0, wl - 1); y <- Gen.choose(0, hl - 1)
      w <- size; h <- size
    } yield (x, y, math.min(w, wl - x), math.min(h, hl - y))
    val across = for {
      x <- Gen.choose(-60, wl - 1); y <- Gen.choose(-60, hl - 1)
      w <- size; h <- size
    } yield (x, y, w, h)
    val outside = for {
      x <- Gen.choose(wl, wl + 50); y <- Gen.choose(-50, hl + 50)
      w <- size; h <- size
    } yield (x, y, w, h)
    Gen.frequency(3 -> inside, 4 -> across, 1 -> outside)
  }

  /** (n_valid, n_nan, vs_sum, vs_min, vs_max, tiles_read). */
  private type Stats = (Long, Long, Long, Option[Long], Option[Long], Long)

  private def statsOf(r: Row): Stats = {
    def opt(c: String) =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    (r.getAs[Long]("n_valid"), r.getAs[Long]("n_nan"),
      r.getAs[Long]("vs_sum"), opt("vs_min"), opt("vs_max"),
      r.getAs[Long]("tiles_read"))
  }

  test("windowStats, windowStatsGeo and zonalStatsGeo equal a " +
      "brute-force fold over the whole decoded raster on 48 seeded " +
      "windows at levels 0 and 1, bytes_read included") {
    val (src, name) = inputs.head
    for (level <- Seq(0, 1)) {
      val cog = s"$cogDir/$name"
      val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cog))
      val prefix = java.util.Arrays.copyOf(all, math.min(all.length, 16384))
      val lv = TiffIO.levelLayoutsFromPrefix(prefix)(level)
      val (resX0, resY0, gx, gy) = TiffIO.geoTransformFromPrefix(prefix)
      val (resX, resY) = (resX0 * (1 << level), resY0 * (1 << level))
      val (h0, px) = TiffIO.readPixels(src)
      assert(lv.width == h0.width >> level && lv.height == h0.height >> level)
      def value(x: Int, y: Int): Float =
        px((y << level) * h0.width + (x << level))
      val windows = Gen.listOfN(24, windowGen(lv.width, lv.height))
        .apply(Gen.Parameters.default, Seed(1000L + level)).get
      assert(windows.exists { case (x, y, w, h) =>
        x >= lv.width || y >= lv.height || x + w <= 0 || y + h <= 0 })
      assert(windows.exists { case (x, y, w, h) =>
        x < 0 || y < 0 || x + w > lv.width || y + h > lv.height })
      // the brute force: every pixel of the clamped window, one by one
      def expected(x0: Int, y0: Int, w: Int, h: Int): (Stats, Long) = {
        val (xLo, xHi) = (math.max(0, x0), math.min(lv.width, x0 + w))
        val (yLo, yHi) = (math.max(0, y0), math.min(lv.height, y0 + h))
        var nValid = 0L; var nNan = 0L; var sum = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        for (y <- yLo until yHi; x <- xLo until xHi) {
          val v = value(x, y)
          if (v.isNaN) nNan += 1
          else {
            val vs = Math.round(v.toDouble * 10000)
            nValid += 1; sum += vs
            mn = math.min(mn, vs); mx = math.max(mx, vs)
          }
        }
        val tiles =
          if (xLo >= xHi || yLo >= yHi) Seq.empty
          else for {
            r <- yLo / lv.tileHeight to (yHi - 1) / lv.tileHeight
            c <- xLo / lv.tileWidth to (xHi - 1) / lv.tileWidth
          } yield r * ((lv.width + lv.tileWidth - 1) / lv.tileWidth) + c
        ((nValid, nNan, sum, if (nValid == 0) None else Some(mn),
          if (nValid == 0) None else Some(mx), tiles.size.toLong),
          prefix.length + tiles.map(lv.tileByteCounts(_)).sum)
      }
      // the box whose pixel-is-area cells are exactly the window
      def box(x0: Int, y0: Int, w: Int, h: Int) =
        (gx + (x0 + 0.25) * resX, gy - (y0 + h - 0.25) * resY,
          gx + (x0 + w - 0.25) * resX, gy - (y0 + 0.25) * resY)
      val zonal = CogQuery.zonalStatsGeo(spark, cogDir, Seq(name),
          windows.zipWithIndex.map { case ((x, y, w, h), i) =>
            val (minx, miny, maxx, maxy) = box(x, y, w, h)
            (i.toLong, minx, miny, maxx, maxy)
          }, level = level)
        .collect().map(r => r.getAs[Long]("window_id") -> statsOf(r)).toMap
      assert(zonal.size == windows.size)
      windows.zipWithIndex.foreach { case ((x, y, w, h), i) =>
        val (want, wantBytes) = expected(x, y, w, h)
        val at = s"$name level $level window ($x, $y) ${w}x$h"
        assert(zonal(i.toLong) == want, s"zonalStatsGeo, $at")
        val (minx, miny, maxx, maxy) = box(x, y, w, h)
        val geo = CogQuery.windowStatsGeo(spark, cogDir, Seq(name),
          minx, miny, maxx, maxy, level = level).collect().head
        assert(statsOf(geo) == want, s"windowStatsGeo, $at")
        assert(geo.getAs[Long]("bytes_read") == wantBytes &&
          geo.getAs[Long]("file_bytes") == all.length, s"bytes, $at")
        // the pixel form takes non-negative origins only
        if (x >= 0 && y >= 0) {
          val pxRow = CogQuery.windowStats(spark, cogDir, Seq(name),
            x, y, w, h, level = level).collect().head
          assert(pxRow.toSeq == geo.toSeq, s"windowStats, $at")
        }
      }
    }
  }
}
