package graft.wri

import java.io.{BufferedOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder, FloatBuffer}
import org.apache.hadoop.conf.Configuration

/** Single-band Float32 GeoTIFF writers: a plain strip-based writer (test
  * fixtures; stage-00 inputs) and a Cloud-Optimized GeoTIFF writer
  * (SURVEY §2.1 S7) replacing the reference's `gdal_translate -of COG`
  * subprocess (`01b:93-99`, options grid
  * `experiments/test_cog_settings_benchmark.R:38-44`).
  *
  * COG layout written: header, full IFD chain (main image first, then
  * overviews, every IFD + external values ahead of any pixel data), then
  * tile payloads with overview tiles before full-resolution tiles so
  * remote readers can fetch previews with small range requests. Overview
  * pyramid: successive 2x downsampling until max(w,h) <= blockSize,
  * AVERAGE (NaN-aware) or NEAREST resampling.
  */
object TiffWriter {
  import TiffIO._

  private case class Tag(id: Int, typ: Int, values: Seq[Long], dbl: Seq[Double] = Nil) {
    def count: Int = if (typ == 12) dbl.length else values.length
    def byteLen: Int = count * (typ match {
      case 3 => 2; case 4 => 4; case 12 => 8; case 2 => 1; case _ => 1
    })
  }

  case class CogOptions(
      blockSize: Int = 512,
      compression: Compression = Deflate,
      predictor: Int = 1,
      resampling: Resampling = Average,
      withOverviews: Boolean = true,
      // BigTIFF (magic 43, 8-byte offsets): required for outputs >4 GB;
      // the reference's BIGTIFF=YES sweep option maps here
      bigTiff: Boolean = false)

  /** Header-only fixture: declares arbitrary dimensions with a stub pixel
    * payload. The inventory stage reads ONLY headers (`utils.R:169-175`,
    * "no value sampling"), so tests can exercise full-scale header values
    * (52355x57865, the fixed CONUS extent) without 12 GB of pixels. */
  def writeHeaderFixture(path: String, width: Int, height: Int,
      geo: GeoInfo, conf: Configuration = WriFs.defaultConf): Unit =
    writeTiff(path, Seq(Level(width, height, width, height,
      Seq(Array[Byte](0, 0, 0, 0)))), geo, Uncompressed, 1, tiled = false,
      conf = conf)

  /** Plain (non-COG) GeoTIFF: one uncompressed strip per image. */
  def writeGeoTiff(path: String, width: Int, height: Int,
      pixels: Array[Float], geo: GeoInfo,
      conf: Configuration = WriFs.defaultConf): Unit = {
    require(pixels.length == width * height)
    val data = new Array[Byte](pixels.length * 4)
    floatView(data).put(pixels)
    val levels = Seq(Level(width, height, width, height, Seq(data)))
    writeTiff(path, levels, geo, Uncompressed, 1, tiled = false, conf = conf)
  }

  /** Cloud-Optimized GeoTIFF with overview pyramid. */
  def writeCog(path: String, width: Int, height: Int, pixels: Array[Float],
      geo: GeoInfo, opts: CogOptions = CogOptions(),
      conf: Configuration = WriFs.defaultConf): Unit = {
    require(pixels.length == width * height)
    val bs = opts.blockSize
    // build pyramid
    var lvls = List((width, height, pixels))
    if (opts.withOverviews) {
      var (w, h, px) = lvls.head
      while (math.max(w, h) > bs) {
        val (nw, nh, npx) = downsample(w, h, px, opts.resampling)
        lvls = (nw, nh, npx) :: lvls
        w = nw; h = nh; px = npx
      }
      lvls = lvls.reverse // full-res first
    }
    val levels = lvls.map { case (w, h, px) =>
      val tilesX = (w + bs - 1) / bs; val tilesY = (h + bs - 1) / bs
      val tiles = for (ty <- 0 until tilesY; tx <- 0 until tilesX) yield {
        // edge tiles copy only their in-image part; the padding stays the
        // allocation's zeros
        val raw = new Array[Byte](bs * bs * 4)
        val tile = floatView(raw)
        val x0 = tx * bs; val y0 = ty * bs
        val cols = math.min(bs, w - x0); val rows = math.min(bs, h - y0)
        var y = 0
        while (y < rows) {
          tile.put(y * bs, px, (y0 + y) * w + x0, cols)
          y += 1
        }
        compress(applyPredictor(raw, opts.predictor, bs, bs), opts.compression)
      }
      Level(w, h, bs, bs, tiles)
    }
    writeTiff(path, levels, geo, opts.compression, opts.predictor,
      tiled = true, big = opts.bigTiff, conf = conf)
  }

  /** Little-endian Float32 view of a pixel byte buffer. */
  private def floatView(bytes: Array[Byte]): FloatBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()

  /** NaN-aware 2x downsample, one output row per [[downsampleRow]] call. */
  private def downsample(w: Int, h: Int, px: Array[Float],
      r: Resampling): (Int, Int, Array[Float]) = {
    val nw = math.max(1, (w + 1) / 2); val nh = math.max(1, (h + 1) / 2)
    val out = new Array[Float](nw * nh)
    var y = 0
    while (y < nh) {
      val lower = if (2 * y + 1 < h) px else null
      downsampleRow(r, w, px, 2 * y * w, lower, (2 * y + 1) * w, out, y * nw)
      y += 1
    }
    (nw, nh, out)
  }

  /** One overview row of `(w + 1) / 2` pixels into `out` at `outAt`
    * from two parent rows of width `w`, `upper` at `upperAt` and `lower`
    * at `lowerAt`; `lower` is null for an odd parent's last row.
    * NEAREST takes each 2x2 cell's top-left pixel. AVERAGE is the mean
    * of the cell's in-image non-NaN pixels (NaN if none), summed in
    * double in row-major order: upper left, upper right, lower left,
    * lower right.
    * Each value goes to a local before the store: HotSpot cannot compile
    * a loop on-stack while an array store is pending on the operand
    * stack, and would leave it interpreted until its method had been
    * called many times. */
  private def downsampleRow(r: Resampling, w: Int,
      upper: Array[Float], upperAt: Int, lower: Array[Float], lowerAt: Int,
      out: Array[Float], outAt: Int): Unit = {
    val nw = (w + 1) / 2
    var x = 0
    r match {
      case Nearest =>
        while (x < nw) {
          val v = upper(upperAt + 2 * x)
          out(outAt + x) = v
          x += 1
        }
      case Average =>
        while (x < nw) {
          val sx = 2 * x
          val right = sx + 1 < w
          var sum = 0.0; var n = 0
          var v = upper(upperAt + sx)
          if (!v.isNaN) { sum += v; n += 1 }
          if (right) {
            v = upper(upperAt + sx + 1)
            if (!v.isNaN) { sum += v; n += 1 }
          }
          if (lower != null) {
            v = lower(lowerAt + sx)
            if (!v.isNaN) { sum += v; n += 1 }
            if (right) {
              v = lower(lowerAt + sx + 1)
              if (!v.isNaN) { sum += v; n += 1 }
            }
          }
          val mean = if (n == 0) Float.NaN else (sum / n).toFloat
          out(outAt + x) = mean
          x += 1
        }
    }
  }

  private case class Level(w: Int, h: Int, tw: Int, th: Int,
      tiles: Seq[Array[Byte]])

  /** Two-pass layout: [header][IFD chain][external values][tile data],
    * overview tile payloads before full-res payloads (COG ordering).
    * `big` switches to the BigTIFF layout (16-byte header, 20-byte
    * entries, 8-byte counts/offsets/next pointers, 8-byte inline limit). */
  private def writeTiff(path: String, levels: Seq[Level], geo: GeoInfo,
      comp: Compression, predictor: Int, tiled: Boolean,
      big: Boolean = false,
      conf: Configuration = WriFs.defaultConf): Unit = {
    val inlineMax = if (big) 8 else 4
    val entrySize = if (big) 20 else 12

    def tagsFor(li: Int, l: Level, dataOffsets: Seq[Long]): Seq[Tag] = {
      val base = Seq(
        Tag(256, 4, Seq(l.w)), Tag(257, 4, Seq(l.h)),
        Tag(258, 3, Seq(32)), Tag(259, 3, Seq(comp.code)),
        Tag(262, 3, Seq(1)), Tag(277, 3, Seq(1)),
        Tag(339, 3, Seq(3))) ++
        (if (predictor != 1) Seq(Tag(317, 3, Seq(predictor))) else Nil) ++
        (if (li > 0) Seq(Tag(254, 4, Seq(1))) else Nil) ++
        (if (tiled)
          Seq(Tag(322, 3, Seq(l.tw)), Tag(323, 3, Seq(l.th)),
            Tag(324, 4, dataOffsets), Tag(325, 4, l.tiles.map(_.length.toLong)))
        else
          Seq(Tag(278, 4, Seq(l.h)), Tag(273, 4, dataOffsets),
            Tag(279, 4, l.tiles.map(_.length.toLong)))) ++
        (if (li == 0) Seq(
          Tag(33550, 12, Nil, Seq(geo.resX, geo.resY, 0.0)),
          Tag(33922, 12, Nil, Seq(0, 0, 0, geo.xmin, geo.ymax, 0)),
          // GeoKeyDirectory: version 1.1.0, 3 keys:
          // 1024 GTModelType=1 (projected), 1025 RasterType=1 (PixelIsArea),
          // 3072 ProjectedCRS = epsg
          Tag(34735, 3, Seq(1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1,
            3072, 0, 1, geo.epsg)))
        else Nil)
      base.sortBy(_.id)
    }

    // ---- pass 1: sizes ----
    val nTags = levels.zipWithIndex.map { case (l, i) =>
      tagsFor(i, l, l.tiles.map(_ => 0L)).length
    }
    val headerSize = if (big) 16L else 8L
    val ifdSizes =
      if (big) nTags.map(n => 8L + n * 20L + 8L)
      else nTags.map(n => 2L + n * 12L + 4L)
    val ifdOffsets = ifdSizes.scanLeft(headerSize)(_ + _).init
    val externalStart = headerSize + ifdSizes.sum
    // external bytes per IFD (same order as tags)
    var extCursor = externalStart
    val extOffsets: Seq[Map[Int, Long]] = levels.zipWithIndex.map { case (l, i) =>
      tagsFor(i, l, l.tiles.map(_ => 0L)).flatMap { t =>
        if (t.byteLen <= inlineMax) None
        else {
          val off = extCursor
          extCursor += t.byteLen
          // 2-byte alignment
          if (extCursor % 2 == 1) extCursor += 1
          Some(t.id -> off)
        }
      }.toMap
    }
    val dataStart = extCursor
    // data layout: overview levels (last..1) then full-res level 0
    val dataOrder: Seq[Int] =
      (levels.indices.drop(1).reverse) ++ Seq(0)
    var dataCursor = dataStart
    val tileOffsets: Map[Int, Seq[Long]] = dataOrder.map { li =>
      val offs = levels(li).tiles.map { t =>
        val o = dataCursor; dataCursor += t.length; o
      }
      li -> offs
    }.toMap

    // ---- pass 2: write ----
    // sink through the filesystem the path's own scheme names — the
    // write is strictly sequential, so any Hadoop OutputStream works
    val out = new DataOutputStream(new BufferedOutputStream(
      WriFs.create(path, conf)))
    try {
      def writeShort(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def writeInt(v: Long): Unit = {
        out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
        out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
      }
      def writeLong(v: Long): Unit = { writeInt(v & 0xffffffffL); writeInt((v >>> 32) & 0xffffffffL) }
      def writeOffset(v: Long): Unit = if (big) writeLong(v) else writeInt(v)
      // header
      if (big) {
        out.write('I'); out.write('I'); writeShort(43)
        writeShort(8); writeShort(0); writeLong(ifdOffsets.head)
      } else {
        out.write('I'); out.write('I'); writeShort(42); writeInt(ifdOffsets.head)
      }
      // IFDs
      levels.zipWithIndex.foreach { case (l, i) =>
        val tags = tagsFor(i, l, tileOffsets(i))
        if (big) writeLong(tags.length.toLong) else writeShort(tags.length)
        tags.foreach { t =>
          writeShort(t.id); writeShort(t.typ)
          if (big) writeLong(t.count.toLong) else writeInt(t.count.toLong)
          if (t.byteLen <= inlineMax) {
            // inline values, little-endian, padded to the value-field width
            val b = ByteBuffer.allocate(inlineMax).order(ByteOrder.LITTLE_ENDIAN)
            t.typ match {
              case 3 => t.values.foreach(v => b.putShort(v.toShort))
              case 4 => t.values.foreach(v => b.putInt(v.toInt))
              case 12 => t.dbl.foreach(b.putDouble)
              case _ =>
            }
            out.write(b.array())
          } else writeOffset(extOffsets(i)(t.id))
        }
        writeOffset(if (i + 1 < levels.length) ifdOffsets(i + 1) else 0L)
      }
      // external values (recompute same order as pass 1)
      var cursor = externalStart
      levels.zipWithIndex.foreach { case (l, i) =>
        tagsFor(i, l, tileOffsets(i)).foreach { t =>
          if (t.byteLen > inlineMax) {
            val b = ByteBuffer.allocate(t.byteLen).order(ByteOrder.LITTLE_ENDIAN)
            t.typ match {
              case 3 => t.values.foreach(v => b.putShort(v.toShort))
              case 4 => t.values.foreach(v => b.putInt(v.toInt))
              case 12 => t.dbl.foreach(b.putDouble)
              case _ =>
            }
            out.write(b.array())
            cursor += t.byteLen
            if (cursor % 2 == 1) { out.write(0); cursor += 1 }
          }
        }
      }
      // tile data
      dataOrder.foreach(li => levels(li).tiles.foreach(out.write))
    } finally out.close()
  }
}
