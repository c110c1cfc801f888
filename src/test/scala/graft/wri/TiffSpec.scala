package graft.wri

import org.scalatest.funsuite.AnyFunSuite
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.lang.Float.{floatToIntBits, floatToRawIntBits}

class TiffSpec extends AnyFunSuite {
  import TiffIO._

  private val geo = GeoInfo(5070, 90.0, 90.0,
    Model.Expected.xmin, Model.Expected.ymax)

  private def tmp(name: String): String =
    Files.createTempDirectory("tiffspec").resolve(name).toString

  private def testPixels(w: Int, h: Int): Array[Float] =
    Array.tabulate(w * h)(i => (i % 97) * 1.5f - 20f)

  test("LZW codec round-trips arbitrary bytes") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 5, 256, 4096, 70000)) {
      val data = new Array[Byte](n); rnd.nextBytes(data)
      val enc = LzwCodec.encode(data)
      assert(LzwCodec.decode(enc, n).toSeq == data.toSeq, s"n=$n")
    }
    // compressible data should actually compress
    val rep = Array.fill[Byte](10000)(42)
    assert(LzwCodec.encode(rep).length < 2000)
  }

  test("predictors 2 and 3 round-trip") {
    val w = 17; val h = 5
    val raw = new Array[Byte](w * h * 4)
    new scala.util.Random(3).nextBytes(raw)
    for (p <- Seq(1, 2, 3)) {
      val f = TiffIO.applyPredictor(raw, p, w, h)
      assert(TiffIO.undoPredictor(f, p, w, h).toSeq == raw.toSeq, s"p=$p")
    }
  }

  test("plain GeoTIFF write -> header read (F11 fields)") {
    val p = tmp("plain.tif")
    val px = testPixels(40, 30)
    TiffWriter.writeGeoTiff(p, 40, 30, px, geo)
    val h = readHeader(p)
    assert(h.width == 40 && h.height == 30)
    assert(h.bands == 1 && h.datatype == "FLT4S")
    assert(h.epsg.contains(5070))
    assert(h.resX == 90.0 && h.resY == 90.0)
    assert(h.xmin == Model.Expected.xmin && h.ymax == Model.Expected.ymax)
    assert(math.abs(h.xmax - (Model.Expected.xmin + 40 * 90.0)) < 1e-9)
    assert(h.overviewCount == 0)
    val (_, back) = readPixels(p)
    assert(back.toSeq == px.toSeq)
  }

  for (comp <- Seq(Uncompressed, Deflate, Lzw, Zstd); pred <- Seq(1, 2, 3)) {
    test(s"COG round-trip comp=$comp predictor=$pred") {
      val p = tmp(s"cog_${comp}_$pred.tif")
      val w = 70; val hh = 50
      val px = testPixels(w, hh)
      TiffWriter.writeCog(p, w, hh, px, geo,
        TiffWriter.CogOptions(blockSize = 32, compression = comp,
          predictor = pred))
      val h = readHeader(p)
      assert(h.width == w && h.height == hh && h.tiled)
      assert(h.tileWidth == 32 && h.compression == comp.code)
      // 70x50 with 32px blocks: 70->35->18 => 2 overview levels
      assert(h.overviewCount == 2, s"overviews=${h.overviewCount}")
      assert(h.isCogLayout, "IFD chain must precede all pixel data")
      val (_, back) = readPixels(p)
      assert(back.toSeq == px.toSeq)
    }
  }

  test("COG conformance: one prefix read locates every level; tiles are range-readable") {
    val p = tmp("stream.tif")
    val w = 512; val hh = 384
    val px = testPixels(w, hh)
    TiffWriter.writeCog(p, w, hh, px, geo,
      TiffWriter.CogOptions(blockSize = 64, compression = Lzw, predictor = 3))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))

    // range request #1: the first 16 KB must contain the complete IFD
    // chain + every tag array (tile offsets/counts for all levels)
    val prefix = bytes.take(16 * 1024)
    val layouts = levelLayoutsFromPrefix(prefix)
    assert(layouts.length == 4, s"levels=${layouts.length}") // 512->256->128->64
    assert(layouts.head.width == w && layouts.head.height == hh)
    assert(layouts.last.width == 64 && layouts.last.height == 48)
    // strictly header-first: every tile byte of every level sits after the
    // whole header block the prefix parse consumed
    val h = readHeader(p)
    assert(h.isCogLayout)
    assert(layouts.flatMap(_.tileOffsets).min >= h.ifdChainEnd,
      "tile data interleaved with the IFD chain")

    // range request #2: fetch ONLY the smallest overview's tiles
    val small = layouts.last
    val overviewPixels = small.tileOffsets.zip(small.tileByteCounts).map {
      case (off, n) =>
        decodeLevelTile(small, bytes.slice(off.toInt, (off + n).toInt))
    }
    assert(overviewPixels.length == 1) // 64x48 fits one 64x64 tile
    val valid = for (y <- 0 until 48; x <- 0 until 64)
      yield overviewPixels.head(y * 64 + x)
    assert(valid.forall(v => !v.isNaN && v >= px.min && v <= px.max),
      "overview pixels out of source range")
    // economy: the overview fetch reads a small fraction of the file
    assert(small.tileByteCounts.sum < bytes.length / 4,
      s"overview fetch ${small.tileByteCounts.sum} of ${bytes.length}")

    // random access: one full-res tile fetched by range decodes to exactly
    // its source block
    val full = layouts.head
    val t0 = decodeLevelTile(full,
      bytes.slice(full.tileOffsets.head.toInt,
        (full.tileOffsets.head + full.tileByteCounts.head).toInt))
    for (y <- 0 until 64; x <- 0 until 64)
      assert(t0(y * 64 + x) == px(y * w + x), s"full-res tile drift at ($x,$y)")

    // a prefix that cannot hold the chain must fail loudly, not misparse
    intercept[IllegalArgumentException] {
      levelLayoutsFromPrefix(bytes.take(64))
    }
  }

  test("BigTIFF COG round-trips (magic 43, 8-byte offsets)") {
    val p = tmp("big.tif")
    val w = 70; val hh = 50
    val px = testPixels(w, hh)
    TiffWriter.writeCog(p, w, hh, px, geo,
      TiffWriter.CogOptions(blockSize = 32, compression = Deflate,
        predictor = 2, bigTiff = true))
    // magic must actually be 43
    val headBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)).take(4)
    assert(headBytes(2) == 43 && headBytes(3) == 0)
    val h = readHeader(p)
    assert(h.width == w && h.height == hh && h.tiled)
    assert(h.epsg.contains(5070) && h.overviewCount == 2)
    assert(h.isCogLayout)
    val (_, back) = readPixels(p)
    assert(back.toSeq == px.toSeq)
  }

  test("COG with NaN nodata averages NaN-aware") {
    val p = tmp("nan.tif")
    val px = Array.fill(64 * 64)(Float.NaN)
    px(0) = 8f; px(1) = 4f // first 2x2 block has two valid cells
    TiffWriter.writeCog(p, 64, 64, px, geo,
      TiffWriter.CogOptions(blockSize = 32))
    val h = readHeader(p)
    assert(h.overviewCount == 1)
    val (_, back) = readPixels(p)
    assert(back(0) == 8f && back.count(!_.isNaN) == 2)
  }

  /** Brute-force 2x overview of one level: every output pixel from its
    * 2x2 parent cell, clipped to the parent. NEAREST is the top-left
    * pixel; AVERAGE the double-summed mean of the non-NaN pixels in
    * row-major order, NaN when there are none. */
  private def oracleOverview(w: Int, h: Int, px: Array[Float],
      r: Resampling): (Int, Int, Array[Float]) = {
    val nw = (w + 1) / 2; val nh = (h + 1) / 2
    val out = Array.tabulate(nw * nh) { i =>
      val x = i % nw; val y = i / nw
      val cell = for (dy <- 0 to 1; dx <- 0 to 1
        if 2 * x + dx < w && 2 * y + dy < h)
        yield px((2 * y + dy) * w + 2 * x + dx)
      r match {
        case Nearest => cell.head
        case Average =>
          val valid = cell.filterNot(_.isNaN)
          if (valid.isEmpty) Float.NaN
          else (valid.foldLeft(0.0)(_ + _) / valid.length).toFloat
      }
    }
    (nw, nh, out)
  }

  /** Seeded pixels with NaN holes: an all-NaN 2x2 cell at the origin,
    * NaN in every other pixel of the last column and of the last row
    * (so the cells that hang over an odd edge mix NaN and values), NaN
    * and -0.0 sprinkled, and magnitudes from 1e-2 to 1e5 so the double
    * sum matters. */
  private def holedPixels(w: Int, h: Int, seed: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    val px = Array.fill(w * h) {
      rnd.nextInt(10) match {
        case 0 => Float.NaN
        case 1 => -0.0f
        case k => (rnd.nextGaussian() * math.pow(10, k - 4)).toFloat
      }
    }
    for (y <- 0 until math.min(2, h); x <- 0 until math.min(2, w))
      px(y * w + x) = Float.NaN
    for (y <- 0 until h by 2) px(y * w + w - 1) = Float.NaN
    for (x <- 0 until w by 2) px((h - 1) * w + x) = Float.NaN
    px
  }

  /** Every level of a COG decoded through the prefix layouts and
    * per-tile decode, cropped to the level's size. Tile padding must be
    * zero bits. */
  private def decodeLevels(bytes: Array[Byte]): Seq[(Int, Int, Array[Float])] =
    levelLayoutsFromPrefix(bytes).map { l =>
      val across = (l.width + l.tileWidth - 1) / l.tileWidth
      val px = new Array[Float](l.width * l.height)
      l.tileOffsets.zip(l.tileByteCounts).zipWithIndex.foreach {
        case ((off, n), t) =>
          val tile = decodeLevelTile(l, bytes.slice(off.toInt, (off + n).toInt))
          val x0 = (t % across) * l.tileWidth
          val y0 = (t / across) * l.tileHeight
          for (y <- 0 until l.tileHeight; x <- 0 until l.tileWidth) {
            val v = tile(y * l.tileWidth + x)
            if (x0 + x < l.width && y0 + y < l.height)
              px((y0 + y) * l.width + x0 + x) = v
            else assert(floatToRawIntBits(v) == 0,
              s"padding at tile $t ($x,$y)")
          }
      }
      (l.width, l.height, px)
    }

  for (r <- Seq(Average, Nearest)) {
    test(s"every overview level is bit-exact against a scalar oracle ($r)") {
      val sizes = Seq((1, 1, 1), (3, 5, 1), (33, 17, 16), (70, 50, 16))
      for ((w, h, bs) <- sizes) {
        val px = holedPixels(w, h, w * 31 + h)
        val p = tmp(s"pyramid_${r}_${w}x$h.tif")
        TiffWriter.writeCog(p, w, h, px, geo,
          TiffWriter.CogOptions(blockSize = bs, predictor = 3, resampling = r))
        var want = List((w, h, px))
        while (math.max(want.head._1, want.head._2) > bs) {
          val (lw, lh, lpx) = want.head
          want = oracleOverview(lw, lh, lpx, r) :: want
        }
        val got = decodeLevels(Files.readAllBytes(Paths.get(p)))
        assert(got.length == want.length, s"${w}x$h levels")
        got.zip(want.reverse).zipWithIndex.foreach {
          case (((gw, gh, gpx), (ww, wh, wpx)), li) =>
            assert((gw, gh) == ((ww, wh)), s"${w}x$h level $li size")
            val bad = gpx.indices.find(i =>
              floatToIntBits(gpx(i)) != floatToIntBits(wpx(i)))
            assert(bad.isEmpty, s"${w}x$h level $li pixel ${bad.map(i =>
              s"$i: ${gpx(i)} != ${wpx(i)}")}")
        }
      }
    }
  }

  test("writer output bytes are pinned (SHA-256)") {
    // uncompressed, so the hashes pin the layout, pyramid values and tile
    // padding without depending on the zlib build
    def sha256(p: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(Paths.get(p))).map("%02x".format(_)).mkString
    val px = holedPixels(70, 50, 7)
    val cog = tmp("pinned_cog.tif")
    TiffWriter.writeCog(cog, 70, 50, px, geo, TiffWriter.CogOptions(
      blockSize = 16, compression = Uncompressed, predictor = 3))
    assert(sha256(cog) ==
      "e4914e8364196d880ef66161240a42be6f7e7a0ece25b28a74b71539f17a1831")
    val plain = tmp("pinned_plain.tif")
    TiffWriter.writeGeoTiff(plain, 70, 50, px, geo)
    assert(sha256(plain) ==
      "1661ee498be53a04323c10b27a2f4b5998d531c8842780da8128abf9072e828b")
  }

  test("readHeader and the prefix views agree on strip, tiled, BigTIFF " +
      "and header-fixture files") {
    val strip = tmp("agree_strip.tif")
    TiffWriter.writeGeoTiff(strip, 40, 30, testPixels(40, 30), geo)
    val cog = tmp("agree_cog.tif")
    TiffWriter.writeCog(cog, 70, 50, testPixels(70, 50), geo,
      TiffWriter.CogOptions(blockSize = 32))
    val big = tmp("agree_big.tif")
    TiffWriter.writeCog(big, 70, 50, testPixels(70, 50), geo,
      TiffWriter.CogOptions(blockSize = 32, bigTiff = true))
    val fixture = tmp("agree_fixture.tif")
    TiffWriter.writeHeaderFixture(fixture, 52355, 57865, geo)
    for (p <- Seq(strip, cog, big, fixture)) {
      val h = readHeader(p)
      val prefix = Files.readAllBytes(Paths.get(p)).take(16 * 1024)
      val l0 = levelLayoutsFromPrefix(prefix).head
      assert((l0.width, l0.height) == (h.width, h.height), p)
      assert((l0.tileWidth, l0.tileHeight) == (h.tileWidth, h.tileHeight), p)
      assert(levelLayoutsFromPrefix(prefix).length == h.overviewCount + 1, p)
      assert(geoTransformFromPrefix(prefix) ==
        ((h.resX, h.resY, h.xmin, h.ymax)), p)
      assert(epsgFromPrefix(prefix) == h.epsg && h.epsg.contains(5070), p)
    }
  }

  /** The same classic TIFF in big-endian (MM) byte order: the header,
    * every IFD entry and every external value array are rewritten; the
    * pixel bytes are kept. Handles the SHORT, LONG and DOUBLE tags the
    * writer emits. */
  private def toBigEndian(le: Array[Byte]): Array[Byte] = {
    val in = ByteBuffer.wrap(le).order(ByteOrder.LITTLE_ENDIAN)
    val out = ByteBuffer.wrap(le.clone()).order(ByteOrder.BIG_ENDIAN)
    out.put(0, 'M'.toByte).put(1, 'M'.toByte).putShort(2, in.getShort(2))
    var ifd = in.getInt(4)
    out.putInt(4, ifd)
    while (ifd != 0) {
      val n = in.getShort(ifd).toInt
      out.putShort(ifd, n.toShort)
      for (i <- 0 until n) {
        val e = ifd + 2 + 12 * i
        val typ = in.getShort(e + 2).toInt
        val count = in.getInt(e + 4)
        out.putShort(e, in.getShort(e)).putShort(e + 2, typ.toShort)
          .putInt(e + 4, count)
        val size = typ match { case 3 => 2; case 4 => 4; case 12 => 8 }
        val at =
          if (size * count <= 4) e + 8
          else { out.putInt(e + 8, in.getInt(e + 8)); in.getInt(e + 8) }
        for (k <- 0 until count) size match {
          case 2 => out.putShort(at + 2 * k, in.getShort(at + 2 * k))
          case 4 => out.putInt(at + 4 * k, in.getInt(at + 4 * k))
          case 8 => out.putDouble(at + 8 * k, in.getDouble(at + 8 * k))
        }
      }
      val nextAt = ifd + 2 + 12 * n
      ifd = in.getInt(nextAt)
      out.putInt(nextAt, ifd)
    }
    out.array()
  }

  test("a big-endian (MM) header reads through readHeader; readPixels " +
      "refuses it, naming the byte order") {
    val le = tmp("le_fixture.tif")
    TiffWriter.writeHeaderFixture(le, 52355, 57865, geo)
    val mm = tmp("mm_fixture.tif")
    Files.write(Paths.get(mm), toBigEndian(Files.readAllBytes(Paths.get(le))))
    assert(readHeader(mm) == readHeader(le))
    val e = intercept[IllegalArgumentException](readPixels(mm))
    assert(e.getMessage.contains("byte order"), e.getMessage)
  }
}
