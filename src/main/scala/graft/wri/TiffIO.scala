package graft.wri

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.immutable.ArraySeq
import java.util.zip.{Deflater, Inflater}

/** Pure-JVM GeoTIFF I/O (SURVEY §2.1 S2/S7, §2.7 F11).
  *
  * Implements exactly the subset the WRI pipeline needs — single-band
  * Float32 rasters with the GeoTIFF tags the reference reads
  * (`utils.R:175-214`: dims, resolution, extent, EPSG, datatype) — plus a
  * Cloud-Optimized-GeoTIFF writer (tiled, compressed, overview pyramid,
  * header-first IFD layout) standing in for the reference's
  * `gdal_translate -of COG` subprocess (`01b:93-99`). No GDAL dependency.
  *
  * TIFF 6.0 structure from the public Adobe TIFF 6.0 specification;
  * GeoTIFF keys from OGC GeoTIFF 1.1 (public).
  */
object TiffIO {

  // tag ids
  private val TImageWidth = 256
  private val TImageLength = 257
  private val TBitsPerSample = 258
  private val TCompression = 259
  private val TPhotometric = 262
  private val TStripOffsets = 273
  private val TSamplesPerPixel = 277
  private val TRowsPerStrip = 278
  private val TStripByteCounts = 279
  private val TPredictor = 317
  private val TTileWidth = 322
  private val TTileLength = 323
  private val TTileOffsets = 324
  private val TTileByteCounts = 325
  private val TSampleFormat = 339
  private val TModelPixelScale = 33550
  private val TModelTiepoint = 33922
  private val TGeoKeyDirectory = 34735

  sealed trait Compression { def code: Int }
  case object Uncompressed extends Compression { val code = 1 }
  case object Lzw extends Compression { val code = 5 }
  case object Deflate extends Compression { val code = 8 }
  case object Zstd extends Compression { val code = 50000 } // GDAL's ZSTD code

  sealed trait Resampling
  case object Nearest extends Resampling
  case object Average extends Resampling

  case class GeoInfo(epsg: Int, resX: Double, resY: Double,
      xmin: Double, ymax: Double)

  /** Everything the inventory stage needs from a header (no pixel read). */
  case class Header(
      width: Int, height: Int, bands: Int,
      bitsPerSample: Int, sampleFormat: Int,
      compression: Int, tiled: Boolean,
      tileWidth: Int, tileHeight: Int,
      resX: Double, resY: Double,
      xmin: Double, ymax: Double,
      epsg: Option[Int],
      overviewCount: Int,
      // for the COG structural check: highest tile/strip data offset of the
      // first IFD vs position of the last IFD — COG = all IFDs before data
      ifdChainEnd: Long, firstDataOffset: Long) {
    def xmax: Double = xmin + width * resX
    def ymin: Double = ymax - height * resY
    def datatype: String =
      if (bitsPerSample == 32 && sampleFormat == 3) "FLT4S"
      else s"B${bitsPerSample}F$sampleFormat"
    def isCogLayout: Boolean = ifdChainEnd <= firstDataOffset
    def geo: GeoInfo = GeoInfo(epsg.getOrElse(0), resX, resY, xmin, ymax)
  }

  // ---------------------------------------------------------------------
  // Directory decoder
  // ---------------------------------------------------------------------

  /** Where directory bytes come from: `(offset, length) => bytes`. A
    * [[RangeReader]] backs [[readHeader]], the whole in-memory object
    * backs [[readPixels]], and a bounded header prefix backs the
    * range-read API ([[HeaderPrefix]]). */
  private type ByteSource = (Long, Int) => Array[Byte]

  private def arraySource(bytes: Array[Byte], pastEnd: => String): ByteSource =
    (off, len) => {
      if (off < 0 || len < 0 || off + len > bytes.length)
        throw new IllegalArgumentException(pastEnd)
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    }

  /** One IFD entry: type, count, the raw value field (inline values) and
    * that field read as a pointer (the offset of an external array). */
  private case class Entry(typ: Int, count: Long, field: Array[Byte],
      valueOffset: Long)

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 6 | 7 => 1
    case 3 | 8 => 2
    case 4 | 9 | 11 => 4
    case 5 | 10 | 12 | 16 | 17 => 8 // incl. BigTIFF LONG8/SLONG8
    case _ => 1
  }

  /** One IFD with typed tag access. Values resolve on demand through the
    * byte source, so a header read fetches only the arrays it asks for. */
  private final class Ifd(src: ByteSource, order: ByteOrder,
      entries: Map[Int, Entry], val next: Long, val end: Long) {
    def has(tag: Int): Boolean = entries.contains(tag)

    private def values(e: Entry): ByteBuffer = {
      val size = typeSize(e.typ) * e.count
      ByteBuffer.wrap(
        if (size <= e.field.length) e.field
        else src(e.valueOffset, size.toInt)).order(order)
    }

    /** Integer values of `tag`; empty when the tag is absent. */
    def longs(tag: Int): IndexedSeq[Long] =
      entries.get(tag).fold(IndexedSeq.empty[Long]) { e =>
        val b = values(e)
        val n = e.count.toInt
        ArraySeq.unsafeWrapArray(e.typ match {
          case 1 | 2 | 6 | 7 => Array.tabulate(n)(i => b.get(i) & 0xffL)
          case 3 | 8 => Array.tabulate(n)(i => b.getShort(i * 2) & 0xffffL)
          case 4 | 9 => Array.tabulate(n)(i => b.getInt(i * 4) & 0xffffffffL)
          case 16 | 17 => Array.tabulate(n)(i => b.getLong(i * 8))
          case t => throw new IllegalArgumentException(
            s"tag $tag: type $t is not an integer type")
        })
      }

    def int(tag: Int, default: Int): Int =
      longs(tag).headOption.fold(default)(_.toInt)

    /** DOUBLE values of `tag`; None when the tag is absent. */
    def doubles(tag: Int): Option[IndexedSeq[Double]] =
      entries.get(tag).map { e =>
        require(e.typ == 12, s"tag $tag: expected DOUBLE, got type ${e.typ}")
        val b = values(e)
        ArraySeq.unsafeWrapArray(
          Array.tabulate(e.count.toInt)(i => b.getDouble(i * 8)))
      }

    def tiled: Boolean = has(TTileOffsets)
    /** Tile offsets and byte counts, or strip ones for a strip image. */
    def blockOffsets: IndexedSeq[Long] =
      longs(if (tiled) TTileOffsets else TStripOffsets)
    def blockByteCounts: IndexedSeq[Long] =
      longs(if (tiled) TTileByteCounts else TStripByteCounts)
  }

  /** The header's byte order and the IFD chain (head = full image, then
    * overviews), read only as far as a caller walks it. */
  private final class Directory(val order: ByteOrder, val ifds: LazyList[Ifd]) {
    def ifd0: Ifd = ifds.head
  }

  /** Longest IFD chain followed (a bound on cyclic next pointers). */
  private val MaxIfds = 64

  /** The one TIFF/BigTIFF directory parser, in the header's byte order. */
  private def decodeDirectory(src: ByteSource): Directory = {
    val head = src(0L, 16)
    val order = (head(0).toChar, head(1).toChar) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException("not a TIFF (byte order)")
    }
    val hb = ByteBuffer.wrap(head).order(order)
    val magic = hb.getShort(2).toInt
    if (magic != 42 && magic != 43)
      throw new IllegalArgumentException(s"not a TIFF (magic $magic)")
    // BigTIFF (magic 43): 8-byte counts and pointers, 20-byte entries
    val big = magic == 43
    val ptr = if (big) 8 else 4
    val countSize = if (big) 8 else 2
    val entrySize = if (big) 20 else 12
    def pointer(b: ByteBuffer, at: Int): Long =
      if (big) b.getLong(at) else b.getInt(at) & 0xffffffffL
    def readIfd(off: Long): Ifd = {
      val cb = ByteBuffer.wrap(src(off, countSize)).order(order)
      val n = if (big) cb.getLong(0).toInt else cb.getShort(0) & 0xffff
      val b = ByteBuffer.wrap(src(off + countSize, n * entrySize + ptr))
        .order(order)
      val entries = (0 until n).map { i =>
        val at = i * entrySize
        val fieldAt = at + entrySize - ptr
        (b.getShort(at) & 0xffff) -> Entry(b.getShort(at + 2) & 0xffff,
          if (big) b.getLong(at + 4) else b.getInt(at + 4) & 0xffffffffL,
          java.util.Arrays.copyOfRange(b.array, fieldAt, fieldAt + ptr),
          pointer(b, fieldAt))
      }.toMap
      new Ifd(src, order, entries, pointer(b, n * entrySize),
        off + countSize + n * entrySize + ptr)
    }
    val first = pointer(hb, if (big) 8 else 4)
    if (first == 0) throw new IllegalArgumentException("no IFD")
    new Directory(order, LazyList.unfold(first) { off =>
      if (off == 0) None
      else { val ifd = readIfd(off); Some((ifd, ifd.next)) }
    }.take(MaxIfds))
  }

  // ---------------------------------------------------------------------
  // Facts derived from a decoded directory, each in one place
  // ---------------------------------------------------------------------

  private def header(d: Directory): Header = {
    val ifd0 = d.ifd0
    val offsets = ifd0.blockOffsets
    val (resX, resY, xmin, ymax) =
      geoTransform(ifd0).getOrElse((0.0, 0.0, 0.0, 0.0))
    Header(
      width = ifd0.int(TImageWidth, 0), height = ifd0.int(TImageLength, 0),
      bands = ifd0.int(TSamplesPerPixel, 1),
      bitsPerSample = ifd0.int(TBitsPerSample, 1),
      sampleFormat = ifd0.int(TSampleFormat, 1),
      compression = ifd0.int(TCompression, 1),
      tiled = ifd0.tiled,
      tileWidth = ifd0.int(TTileWidth, 0),
      tileHeight = ifd0.int(TTileLength, 0),
      resX = resX, resY = resY, xmin = xmin, ymax = ymax,
      epsg = epsg(ifd0),
      overviewCount = d.ifds.length - 1,
      ifdChainEnd = d.ifds.map(_.end).max,
      firstDataOffset = if (offsets.isEmpty) Long.MaxValue else offsets.min)
  }

  private def levelLayout(ifd: Ifd): LevelLayout =
    LevelLayout(ifd.int(TImageWidth, 0), ifd.int(TImageLength, 0),
      ifd.int(TTileWidth, 0), ifd.int(TTileLength, 0),
      ifd.int(TCompression, 1), ifd.int(TPredictor, 1),
      ifd.blockOffsets, ifd.blockByteCounts)

  /** (resX, resY, xmin, ymax) from ModelPixelScale and ModelTiepoint;
    * None unless both are present. A ModelTiepoint anchors raster cell
    * (i, j) at model (x, y), and the anchored pixel is not necessarily
    * (0, 0): GDAL writes (0, 0), other producers may not. The tiepoint is
    * backed out to the raster's top-left corner through the pixel scale:
    * xmin = x - i*resX, ymax = y + j*resY (y grows downward in pixels). */
  private def geoTransform(
      ifd0: Ifd): Option[(Double, Double, Double, Double)] =
    for {
      scale <- ifd0.doubles(TModelPixelScale)
      tie <- ifd0.doubles(TModelTiepoint)
    } yield {
      require(scale.length >= 2 && tie.length >= 5,
        s"malformed geo tags: scale=${scale.length}, tiepoint=${tie.length}")
      val (i, j, x, y) = (tie(0), tie(1), tie(3), tie(4))
      (scale(0), scale(1), x - i * scale(0), y + j * scale(1))
    }

  /** The ProjectedCRS EPSG code: GeoKey 3072 of the GeoKeyDirectory
    * (groups of 4 shorts after a 4-short header). None when the file
    * carries no directory or no projected-CRS key. */
  private def epsg(ifd0: Ifd): Option[Int] =
    ifd0.longs(TGeoKeyDirectory).drop(4).grouped(4).collectFirst {
      case Seq(3072L, _, _, v) => v.toInt
    }

  /** Pixel decoding reads little-endian samples only. */
  private def requireLittleEndian(d: Directory): Unit =
    require(d.order == ByteOrder.LITTLE_ENDIAN,
      "big-endian (MM) byte order: pixel decoding reads little-endian " +
        "(II) TIFFs only")

  /** One strip or tile: decompress, undo the predictor, read w*h floats. */
  private[wri] def decodeBlock(bytes: Array[Byte], compression: Int,
      predictor: Int, w: Int, h: Int): Array[Float] = {
    val raw = undoPredictor(decompress(bytes, compression, w * h * 4),
      predictor, w, h)
    val out = new Array[Float](w * h)
    ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
      .get(out)
    out
  }

  // ---------------------------------------------------------------------
  // Reader
  // ---------------------------------------------------------------------

  /** Reads only the header bytes of a GeoTIFF (never pixel payloads),
    * resolving bare/local paths against the default filesystem. */
  def readHeader(path: String): Header = readHeader(path, WriFs.defaultConf)

  /** Scheme-agnostic header read: the same bounded reads (magic, IFD
    * chain, tag value arrays — KBs, never pixels), issued through
    * [[RangeReader]] so the inventory stage reads headers wherever the
    * rasters live — local disk, `hdfs://`, any Hadoop scheme, or the
    * reference's hosted-raster HTTP serving mode (`README.md:329-335`),
    * where each bounded read is one `Range: bytes=a-b` request. */
  def readHeader(path: String,
      conf: org.apache.hadoop.conf.Configuration): Header = {
    val r = RangeReader.open(path, conf)
    try header(decodeDirectory { (off, len) =>
      val b = new Array[Byte](len)
      r.readFully(off, b)
      b
    }) finally r.close()
  }

  /** Reads the full single-band Float32 pixel payload (small files /
    * tests / COG re-encode input). Handles strips and tiles; NONE, LZW,
    * DEFLATE and ZSTD compression; predictors 1/2/3. */
  def readPixels(path: String): (Header, Array[Float]) =
    readPixels(path, WriFs.defaultConf)

  /** Scheme-agnostic full decode: one [[RangeReader]] read of the whole
    * object (this path exists for small files / tests / COG re-encode
    * input — windowed production reads go through [[CogQuery]]). */
  def readPixels(path: String,
      conf: org.apache.hadoop.conf.Configuration): (Header, Array[Float]) = {
    val bytes = {
      val r = RangeReader.open(path, conf)
      try {
        require(r.length <= Int.MaxValue.toLong,
          s"$path too large for a full in-memory decode: ${r.length} bytes")
        val b = new Array[Byte](r.length.toInt)
        r.readFully(0L, b)
        b
      } finally r.close()
    }
    val d = decodeDirectory(arraySource(bytes,
      s"$path: the directory points past the end of the file"))
    val h = header(d)
    requireLittleEndian(d)
    require(h.bands == 1 && h.bitsPerSample == 32 && h.sampleFormat == 3,
      s"only single-band Float32 supported, got $h")
    val l = levelLayout(d.ifd0)
    // a strip is a full-width block of RowsPerStrip rows
    val (bw, bh) =
      if (h.tiled) (l.tileWidth, l.tileHeight)
      else (h.width, math.max(1L, math.min(h.height.toLong,
        d.ifd0.longs(TRowsPerStrip).headOption.getOrElse(Long.MaxValue)))
        .toInt)
    val across = (h.width + bw - 1) / bw
    val out = new Array[Float](h.width * h.height)
    l.tileOffsets.indices.foreach { i =>
      val x0 = (i % across) * bw
      val y0 = (i / across) * bh
      // tiles are padded to full blocks; the last strip may be short
      val rows = if (h.tiled) bh else math.min(bh, h.height - y0)
      val off = l.tileOffsets(i).toInt
      val px = decodeBlock(
        bytes.slice(off, off + l.tileByteCounts(i).toInt),
        l.compression, l.predictor, bw, rows)
      val cols = math.min(bw, h.width - x0)
      var y = 0
      while (y < math.min(rows, h.height - y0)) {
        System.arraycopy(px, y * bw, out, (y0 + y) * h.width + x0, cols)
        y += 1
      }
    }
    (h, out)
  }

  // ---------------------------------------------------------------------
  // COG range-read contract
  // ---------------------------------------------------------------------

  /** Tile layout of one pyramid level, as locatable from a header prefix. */
  case class LevelLayout(
      width: Int, height: Int, tileWidth: Int, tileHeight: Int,
      compression: Int, predictor: Int,
      tileOffsets: IndexedSeq[Long], tileByteCounts: IndexedSeq[Long])

  /** One bounded header prefix (range request #1), decoded once. The COG
    * streaming contract: the prefix must contain the complete IFD chain
    * and every referenced tag array, so a reader can locate any level's
    * tiles and fetch exactly those byte ranges. A read past the prefix's
    * end throws `IllegalArgumentException` — the file violates
    * header-first layout for this prefix size. */
  private[wri] final class HeaderPrefix(bytes: Array[Byte]) {
    private val dir = decodeDirectory(arraySource(bytes,
      s"prefix of ${bytes.length} bytes does not cover the IFD chain " +
        "— file is not header-first range-readable at this size"))

    val length: Int = bytes.length

    /** One layout per IFD in chain order (head = full image, last =
      * smallest overview). */
    lazy val layouts: Seq[LevelLayout] = {
      requireLittleEndian(dir)
      dir.ifds.map(levelLayout).toList
    }

    /** (resX, resY, xmin, ymax) of the full-resolution image — the
      * geotransform that places a CRS window onto the pixel grid. */
    lazy val geoTransform: (Double, Double, Double, Double) =
      TiffIO.geoTransform(dir.ifd0).getOrElse(throw new IllegalArgumentException(
        "no ModelPixelScale/ModelTiepoint in header prefix — not a " +
          "georeferenced TIFF"))

    lazy val epsg: Option[Int] = TiffIO.epsg(dir.ifd0)
  }

  /** Every level's tile layout from one header prefix (see
    * [[HeaderPrefix]]); throws if the prefix does not cover the chain. */
  def levelLayoutsFromPrefix(prefix: Array[Byte]): Seq[LevelLayout] =
    new HeaderPrefix(prefix).layouts

  /** (resX, resY, xmin, ymax) of the full-resolution image from the same
    * bounded header prefix as [[levelLayoutsFromPrefix]], so a geographic
    * query costs no extra range request. Throws if ModelPixelScale or
    * ModelTiepoint is absent. */
  def geoTransformFromPrefix(
      prefix: Array[Byte]): (Double, Double, Double, Double) =
    new HeaderPrefix(prefix).geoTransform

  /** The ProjectedCRS EPSG code (GeoKey 3072) from the same bounded
    * header prefix as [[levelLayoutsFromPrefix]] — None when the file
    * carries no GeoKeyDirectory (or no projected-CRS key), so callers
    * can distinguish "unlabelled" from any real code. */
  def epsgFromPrefix(prefix: Array[Byte]): Option[Int] =
    new HeaderPrefix(prefix).epsg

  /** Decode one fetched tile of a level (decompress + undo predictor);
    * returns tileWidth*tileHeight floats (edge tiles include padding). */
  def decodeLevelTile(l: LevelLayout, tileBytes: Array[Byte]): Array[Float] =
    decodeBlock(tileBytes, l.compression, l.predictor, l.tileWidth,
      l.tileHeight)

  // ---------------------------------------------------------------------
  // Compression codecs
  // ---------------------------------------------------------------------

  private[wri] def compress(data: Array[Byte], c: Compression): Array[Byte] = c match {
    case Uncompressed => data
    case Deflate =>
      val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
      d.setInput(data); d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    case Zstd => com.github.luben.zstd.Zstd.compress(data, 9)
    case Lzw => LzwCodec.encode(data)
  }

  private[wri] def decompress(data: Array[Byte], code: Int, expected: Int): Array[Byte] =
    code match {
      case 1 => data
      case 8 | 32946 =>
        val inf = new Inflater()
        inf.setInput(data)
        val out = new Array[Byte](expected)
        var off = 0
        while (!inf.finished() && off < expected)
          off += inf.inflate(out, off, expected - off)
        inf.end(); out
      case 50000 => com.github.luben.zstd.Zstd.decompress(data, expected)
      case 5 => LzwCodec.decode(data, expected)
      case c => throw new IllegalArgumentException(s"compression $c")
    }

  /** TIFF predictors for Float32 samples: 2 = horizontal differencing on
    * the 32-bit sample values, 3 = floating-point byte-split predictor
    * (split float bytes into per-byte planes then diff) — both per the
    * TIFF/GDAL conventions. */
  private[wri] def applyPredictor(raw: Array[Byte], predictor: Int,
      w: Int, h: Int): Array[Byte] = predictor match {
    case 1 => raw
    case 2 =>
      val bb = ByteBuffer.wrap(raw.clone()).order(ByteOrder.LITTLE_ENDIAN)
      val out = ByteBuffer.allocate(raw.length).order(ByteOrder.LITTLE_ENDIAN)
      var y = 0
      while (y < h) {
        var prev = 0
        var x = 0
        while (x < w) {
          val v = bb.getInt((y * w + x) * 4)
          out.putInt((y * w + x) * 4, v - prev); prev = v; x += 1
        }
        y += 1
      }
      out.array()
    case 3 =>
      // byte-split: row of w floats -> 4 planes of w bytes, then
      // horizontal diff over the plane-concatenated row
      val out = new Array[Byte](raw.length)
      var y = 0
      while (y < h) {
        val rowOff = y * w * 4
        var i = 0
        while (i < w) {
          var b = 0
          while (b < 4) {
            // little-endian in memory; planes ordered high byte first
            out(rowOff + b * w + i) = raw(rowOff + i * 4 + (3 - b)); b += 1
          }
          i += 1
        }
        var j = w * 4 - 1
        while (j > 0) {
          out(rowOff + j) = (out(rowOff + j) - out(rowOff + j - 1)).toByte
          j -= 1
        }
        y += 1
      }
      out
    case p => throw new IllegalArgumentException(s"predictor $p")
  }

  private[wri] def undoPredictor(raw: Array[Byte], predictor: Int,
      w: Int, h: Int): Array[Byte] = predictor match {
    case 1 => raw
    case 2 =>
      val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      val out = ByteBuffer.allocate(raw.length).order(ByteOrder.LITTLE_ENDIAN)
      var y = 0
      while (y < h) {
        var acc = 0
        var x = 0
        while (x < w) {
          acc += bb.getInt((y * w + x) * 4)
          out.putInt((y * w + x) * 4, acc); x += 1
        }
        y += 1
      }
      out.array()
    case 3 =>
      val out = new Array[Byte](raw.length)
      val tmp = raw.clone()
      var y = 0
      while (y < h) {
        val rowOff = y * w * 4
        var j = 1
        while (j < w * 4) {
          tmp(rowOff + j) = (tmp(rowOff + j) + tmp(rowOff + j - 1)).toByte
          j += 1
        }
        var i = 0
        while (i < w) {
          var b = 0
          while (b < 4) {
            out(rowOff + i * 4 + (3 - b)) = tmp(rowOff + b * w + i); b += 1
          }
          i += 1
        }
        y += 1
      }
      out
    case p => throw new IllegalArgumentException(s"predictor $p")
  }
}
