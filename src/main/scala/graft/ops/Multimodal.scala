package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns next to typed metadata, and decode/feature-extraction
  * runs per-partition on executors.
  *
  * All three dedicated decode paths are REAL, no codec libraries needed:
  * image via `javax.imageio` (PNG/BMP/GIF/JPEG, [[decodeImage]]), audio
  * via `javax.sound.sampled` (WAV/PCM, [[decodeWav]]), and video via a
  * RIFF/AVI container parser + per-frame `javax.imageio` JPEG decode for
  * the MJPEG codec ([[parseAviFrames]]). Only the generic
  * `extractFeatures` demo keeps `fakeDecodeFeatures` — a deterministic
  * byte fold standing in for an arbitrary external feature extractor so
  * the q40 plumbing stays hermetic and oracle-checkable.
  */
object Multimodal {

  /** A blob row as it would arrive from `binaryFile` or a media table. */
  case class MediaRow(doc_id: Long, modality: String, payload: Array[Byte])

  /** Extracted features: one row per media asset. */
  case class MediaFeatures(
      doc_id: Long,
      modality: String,
      n_bytes: Long,
      // STUB: stands in for decoded width/height/duration/etc.
      checksum: Long,
      feature: Array[Float])

  /** Attach a binary payload column to a text table (simulates media blobs
    * with deterministic bytes so tests are hermetic). */
  def withBlob(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio"))
        .otherwise(lit("video")).as("modality"),
      col("text").cast("binary").as("payload"))

  /** STUB decoder: a real implementation would hand `payload` to an image
    * or audio codec here. The Spark-side contract (executed per partition,
    * byte-array in, fixed-width float feature out) is the real thing. */
  private[ops] def fakeDecodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var acc = 1125899906842597L // deterministic FNV-ish fold
    var i = 0
    while (i < payload.length) {
      acc = acc * 31 + (payload(i) & 0xff); i += 1
      out(i % dim) += ((acc >>> 16) & 0xffff) / 65536.0f
    }
    out
  }

  /** Partition-parallel feature extraction: the batch shape a
    * mapInPandas/Arrow UDF would use, expressed as a typed mapPartitions
    * (one decoder init per partition, streaming over rows). Image rows
    * whose payload is a decodable image get REAL pixel-derived features
    * (`javax.imageio` decode + per-stripe luminance); anything else falls
    * back to the deterministic byte-fold stub. */
  def extractFeatures(spark: SparkSession, blobs: DataFrame, dim: Int = 8): Dataset[MediaFeatures] = {
    import spark.implicits._
    blobs.select(col("doc_id"), col("modality"), col("payload")).as[MediaRow]
      .mapPartitions { rows =>
        // per-partition decoder/codec initialization would happen here
        rows.map { r =>
          var crc = 7L
          r.payload.foreach(b => crc = (crc * 31 + (b & 0xff)) % 1000000007L)
          val feature =
            if (r.modality == "image")
              decodeImage(r.payload).map(imageStripeFeatures(_, dim))
                .getOrElse(fakeDecodeFeatures(r.payload, dim))
            else fakeDecodeFeatures(r.payload, dim)
          MediaFeatures(r.doc_id, r.modality, r.payload.length.toLong, crc,
            feature)
        }
      }
  }

  // ---- real image decode (javax.imageio) ----------------------------------

  /** REAL decode: any ImageIO-supported container (PNG, BMP, GIF, JPEG).
    * Undecodable bytes yield None — error-as-data, never a task failure. */
  private[ops] def decodeImage(payload: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(payload)))
    catch { case _: Exception => None }

  /** One bulk sRGB read of the whole image, row-major. Bit-identical to
    * per-pixel `getRGB(x, y)` (same default-sRGB ColorModel conversion,
    * per the BufferedImage contract) but one JNI-free array pass instead
    * of a ColorModel round-trip per pixel — decode-stats kernels were
    * measured dominated by the per-call conversion, not the decode. */
  private[ops] def rgbRows(img: BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)

  /** Mean luminance per vertical stripe of a decoded image — a fixed-width
    * feature vector derived from actual pixels. */
  private[ops] def imageStripeFeatures(img: BufferedImage, dim: Int): Array[Float] = {
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    val w = img.getWidth
    val px = rgbRows(img)
    // stripe of column x is row-invariant: precompute the x -> stripe map
    val stripe = Array.tabulate(w)(x => (x.toLong * dim / w).toInt)
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      val lum = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
      val s = stripe(i % w)
      sums(s) += lum; counts(s) += 1
      i += 1
    }
    Array.tabulate(dim)(i =>
      if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat)
  }

  /** Deterministic synthetic PNG fixture: pixel (x, y) of document d has
    * channels r = (7d+13x+31y) mod 256, g = (11d+17x+5y) mod 256,
    * b = (3d+23x+29y) mod 256 — pure integer functions of the data, and
    * PNG is lossless, so decoded pixel statistics are replayable by the
    * DuckDB oracle without any image library (q69). */
  def syntheticImageBytes(docId: Long, w: Int = 16, h: Int = 16): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // same per-pixel integers as the setRGB(x, y, ...) loop this replaces,
    // landed in one bulk write instead of a ColorModel call per pixel
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((7 * docId + 13 * x + 31 * y) % 256).toInt
        val g = ((11 * docId + 17 * x + 5 * y) % 256).toInt
        val b = ((3 * docId + 23 * x + 29 * y) % 256).toInt
        px(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** REAL nearest-neighbor resize over a decoded image: output pixel
    * (x, y) samples source pixel (floor(x*W/w2), floor(y*H/h2)) — the
    * standard NN resampling rule, applied to actual decoded pixels. */
  private[ops] def nearestResize(img: BufferedImage, w2: Int,
      h2: Int): BufferedImage = {
    val out = new BufferedImage(w2, h2, BufferedImage.TYPE_INT_RGB)
    val w = img.getWidth
    val src = rgbRows(img)
    val dst = new Array[Int](w2 * h2)
    // source column of output x is row-invariant: precompute it once
    val sxs = Array.tabulate(w2)(x => (x.toLong * w / w2).toInt)
    var y = 0
    while (y < h2) {
      val rowOff = (y.toLong * img.getHeight / h2).toInt * w
      var x = 0
      while (x < w2) {
        dst(y * w2 + x) = src(rowOff + sxs(x))
        x += 1
      }
      y += 1
    }
    out.setRGB(0, 0, w2, h2, dst, 0, w2)
    out
  }

  case class ResizeStats(doc_id: Long, src_w: Int, src_h: Int,
      out_w: Int, out_h: Int, mean_r: Double, mean_g: Double, mean_b: Double)

  /** Decode + REAL resize + stats over the image slice: the PNG fixture
    * decodes losslessly, nearest-neighbor downsampling picks exact
    * source pixels, and the channel means over the resized grid are
    * exact rationals of the generator pattern at the sampled
    * coordinates — so the whole decode-resize-aggregate chain replays
    * analytically in the oracle. One wrong sampled coordinate or one
    * mis-decoded pixel and the hash breaks. */
  def imageResizeStats(spark: SparkSession, docs: DataFrame,
      w: Int = 16, h: Int = 16, outW: Int = 8, outH: Int = 8): Dataset[ResizeStats] = {
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val img = decodeImage(syntheticImageBytes(id, w, h))
            .getOrElse(throw new IllegalStateException(
              s"fixture PNG for doc $id failed to decode"))
          val small = nearestResize(img, outW, outH)
          var sr = 0L; var sg = 0L; var sb = 0L
          val px = rgbRows(small)
          var i = 0
          while (i < px.length) {
            val rgb = px(i)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            i += 1
          }
          val n = outW.toLong * outH
          ResizeStats(id, w, h, outW, outH,
            sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
        }
      }
  }

  case class ImageStats(doc_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Image-decode statistics over the image-modality slice of a document
    * table: each executor task GENERATES the synthetic PNG fixture for its
    * rows, runs the real `javax.imageio` decode, and folds exact integer
    * channel sums over the decoded pixels. The means are exact rationals
    * (integer sums / pixel count), so they compare bit-for-bit with the
    * oracle's analytic replay of the generator pattern. */
  def imageDecodeStats(spark: SparkSession, docs: DataFrame,
      w: Int = 16, h: Int = 16): Dataset[ImageStats] = {
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val img = decodeImage(syntheticImageBytes(id, w, h))
            .getOrElse(throw new IllegalStateException(
              s"fixture PNG for doc $id failed to decode"))
          var sr = 0L; var sg = 0L; var sb = 0L
          val px = rgbRows(img)
          var i = 0
          while (i < px.length) {
            val rgb = px(i)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            i += 1
          }
          val n = img.getWidth.toLong * img.getHeight
          ImageStats(id, img.getWidth, img.getHeight,
            sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
        }
      }
  }

  // ---- real audio decode (javax.sound.sampled) ----------------------------

  /** Deterministic synthetic WAV fixture (RIFF + 16-bit mono PCM):
    * sample i of document d is `((37d + 73i) mod 4096) - 2048` — a pure
    * integer function of the data, and PCM is lossless, so decoded
    * sample statistics are replayable by the DuckDB oracle without any
    * audio library (q87, the audio twin of [[syntheticImageBytes]]). */
  def syntheticWavBytes(docId: Long, sampleRate: Int = 8000,
      n: Int = 256): Array[Byte] = {
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (((docId * 37 + i.toLong * 73) % 4096) - 2048).toShort
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16) // block align, bits/sample
    bb.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    bb.array()
  }

  /** REAL decode: `javax.sound.sampled.AudioSystem` parses the container
    * and format, and the PCM frames are materialized as 16-bit samples.
    * Undecodable bytes yield None — error-as-data, never a task failure. */
  private[ops] def decodeWav(payload: Array[Byte])
      : Option[(Int, Array[Short])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
      else {
        val bytes = ais.readAllBytes()
        val out = new Array[Short](bytes.length / 2)
        var i = 0
        if (fmt.isBigEndian)
          while (i < out.length) {
            out(i) = (((bytes(2 * i) & 0xff) << 8) | (bytes(2 * i + 1) & 0xff)).toShort
            i += 1
          }
        else
          while (i < out.length) {
            out(i) = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort
            i += 1
          }
        Some((fmt.getSampleRate.toInt, out))
      }
    } catch { case _: Exception => None }

  case class AudioStats(doc_id: Long, sample_rate: Int, n_samples: Long,
      rms: Double, zero_crossings: Long)

  /** Audio-decode statistics over the audio-modality slice: each executor
    * task generates the WAV fixture for its rows, runs the REAL
    * javax.sound decode, and folds exact integer sums over the decoded
    * samples. RMS is sqrt of an exact integer sum of squares and the
    * zero-crossing count is pure integer work, so both compare
    * bit-for-bit with the oracle's analytic replay of the generator. */
  def audioDecodeStats(spark: SparkSession, docs: DataFrame,
      sampleRate: Int = 8000, n: Int = 256): Dataset[AudioStats] = {
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 1).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (rate, samples) =
            decodeWav(syntheticWavBytes(id, sampleRate, n))
              .getOrElse(throw new IllegalStateException(
                s"fixture WAV for doc $id failed to decode"))
          var sumSq = 0L; var zc = 0L
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong
            sumSq += v * v
            if (i > 0 && samples(i - 1).toLong * v < 0) zc += 1
            i += 1
          }
          AudioStats(id, rate, samples.length.toLong,
            math.sqrt(sumSq.toDouble / samples.length), zc)
        }
      }
  }

  // ---- real video decode (RIFF/AVI container + MJPEG frames) ---------------

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** RIFF chunk: fourcc + LE size + body + pad byte when odd (AVI chunks
    * are word-aligned; the pad is not counted in the size field). */
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] =
    fcc(id) ++ le32(body.length) ++ body ++
      (if ((body.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])

  private def riffList(listType: String, body: Array[Byte]): Array[Byte] =
    riffChunk("LIST", fcc(listType) ++ body)

  /** Deterministic synthetic MJPEG-in-AVI fixture: document d carries
    * `3 + d mod 4` JPEG frames of `(16 + 8·(d mod 5)) × (16 + 8·(d mod 4))`
    * uniform mid-gray (128,128,128) pixels. Frame geometry and count are
    * pure integer functions of doc_id, and uniform 128 is the one image
    * that round-trips BIT-EXACTLY through any compliant JPEG codec (the
    * level shift zeroes every DCT coefficient, and R=G=B=128 maps to
    * Y=Cb=Cr=128 exactly because the color-matrix rows sum to 1), so the
    * decoded statistics are replayable by the DuckDB oracle with no image
    * library (q89, the video sibling of [[syntheticImageBytes]]).
    *
    * The container is a spec-conformant AVI: LIST hdrl (avih + LIST strl
    * (strh 'vids'/'MJPG' + strf BITMAPINFOHEADER)), LIST movi with one
    * '00dc' chunk per frame, and an idx1 index — the same RIFF discipline
    * as the WAV writer above.
    */
  /** Executor-local memo of the uniform-gray frame JPEG per geometry:
    * only 5 x 4 distinct (w, h) combinations exist across all doc ids, so
    * each JVM pays the (deterministic) ImageIO encode once per geometry
    * instead of once per row — the DECODE under test still runs per
    * frame per row. Bounded at 20 entries by construction. */
  private val fixtureJpegByGeometry =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Byte]]()

  private def uniformGrayJpeg(w: Int, h: Int): Array[Byte] =
    fixtureJpegByGeometry.computeIfAbsent((w.toLong << 32) | h, _ => {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, 0x808080); x += 1 }
        y += 1
      }
      val jout = new ByteArrayOutputStream()
      ImageIO.write(img, "jpg", jout)
      jout.toByteArray
    })

  def syntheticAviBytes(docId: Long): Array[Byte] = {
    val nFrames = (3 + docId % 4).toInt
    val w = (16 + 8 * (docId % 5)).toInt
    val h = (16 + 8 * (docId % 4)).toInt
    val jpeg = uniformGrayJpeg(w, h) // frames are identical by construction
    val avih = le32(100000) ++ le32(0) ++ le32(0) ++ le32(0x10) ++ // 10 fps, HASINDEX
      le32(nFrames) ++ le32(0) ++ le32(1) ++ le32(jpeg.length) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fcc("vids") ++ fcc("MJPG") ++ le32(0) ++ le16(0) ++ le16(0) ++
      le32(0) ++ le32(1) ++ le32(10) ++ le32(0) ++ le32(nFrames) ++ // scale 1, rate 10
      le32(jpeg.length) ++ le32(10000) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      fcc("MJPG") ++ le32(w * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = riffList("hdrl",
      riffChunk("avih", avih) ++
        riffList("strl", riffChunk("strh", strh) ++ riffChunk("strf", strf)))
    val frameChunk = riffChunk("00dc", jpeg)
    val movi = riffList("movi",
      Array.concat(Seq.fill(nFrames)(frameChunk): _*))
    // idx1 offsets are relative to the 'movi' fourcc (the common AVI 1.0
    // convention): the first chunk header sits 4 bytes past it.
    val idx1 = riffChunk("idx1",
      Array.concat((0 until nFrames).map(i =>
        fcc("00dc") ++ le32(0x10) ++ le32(4 + i * frameChunk.length) ++
          le32(jpeg.length)): _*))
    val body = fcc("AVI ") ++ hdrl ++ movi ++ idx1
    fcc("RIFF") ++ le32(body.length) ++ body
  }

  /** REAL container parse: walks the RIFF chunk tree, descends into
    * 'movi' (and 'rec ') LISTs, and returns the compressed payload of
    * every video frame chunk (`##dc`/`##db`) in stream order. Malformed
    * bytes yield None — error-as-data, never a task failure. */
  private[ops] def parseAviFrames(payload: Array[Byte]): Option[Vector[Array[Byte]]] =
    try {
      def fourcc(off: Int) = new String(payload, off, 4, "US-ASCII")
      def leInt(off: Int): Int =
        (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8) |
          ((payload(off + 2) & 0xff) << 16) | ((payload(off + 3) & 0xff) << 24)
      if (payload.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
        None
      else {
        val frames = Vector.newBuilder[Array[Byte]]
        def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
          var off = start
          while (off + 8 <= end) {
            val id = fourcc(off)
            val sz = leInt(off + 4)
            if (sz < 0 || off + 8 + sz > end)
              throw new IllegalArgumentException(s"chunk $id overruns parent")
            if (id == "LIST") {
              val listType = fourcc(off + 8)
              walk(off + 12, off + 8 + sz,
                inMovi || listType == "movi" || listType == "rec ")
            } else if (inMovi && sz > 0 &&
                (id.endsWith("dc") || id.endsWith("db"))) {
              frames += java.util.Arrays.copyOfRange(payload, off + 8, off + 8 + sz)
            }
            off += 8 + sz + (sz & 1)
          }
        }
        walk(12, math.min(payload.length, 8 + leInt(4)), inMovi = false)
        val fs = frames.result()
        if (fs.isEmpty) None else Some(fs)
      }
    } catch { case _: Exception => None }

  /** Index-only AVI read: walks the TOP-LEVEL chunk list (each sibling —
    * including the entire `movi` payload — is skipped in one O(1) hop
    * from its size field), locates `idx1`, and resolves every video
    * frame chunk (`##dc`/`##db`) to the absolute byte range of its
    * compressed payload. Handles both idx1 offset conventions: relative
    * to the `movi` fourcc (AVI 1.0) and absolute file offsets — each
    * entry is validated against the chunk fourcc it claims to point at.
    * Malformed input yields None (error-as-data), same as
    * [[parseAviFrames]].
    *
    * This is the video analog of the COG range-read contract (reference
    * README.md:329-335: serve byte ranges, never whole assets): a
    * k-frame sample touches O(header + index + k·frame) bytes of a
    * video, not O(total video) — on object storage those are k range
    * GETs instead of a full-object read. */
  private[ops] def parseAviIndex(payload: Array[Byte]): Option[Vector[(Int, Int)]] =
    try {
      def fourcc(off: Int) = new String(payload, off, 4, "US-ASCII")
      def leInt(off: Int): Int =
        (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8) |
          ((payload(off + 2) & 0xff) << 16) | ((payload(off + 3) & 0xff) << 24)
      if (payload.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
        None
      else {
        val end = math.min(payload.length, 8 + leInt(4))
        var moviPos = -1 // offset of the 'movi' fourcc itself
        var idxOff = -1; var idxEnd = -1
        var off = 12
        while (off + 8 <= end) {
          val id = fourcc(off)
          val sz = leInt(off + 4)
          if (sz < 0 || off + 8 + sz > end)
            throw new IllegalArgumentException(s"chunk $id overruns file")
          if (id == "LIST" && sz >= 4 && fourcc(off + 8) == "movi")
            moviPos = off + 8
          else if (id == "idx1") { idxOff = off + 8; idxEnd = off + 8 + sz }
          off += 8 + sz + (sz & 1)
        }
        if (moviPos < 0 || idxOff < 0) None
        else {
          val ranges = Vector.newBuilder[(Int, Int)]
          var e = idxOff
          while (e + 16 <= idxEnd) {
            val id = fourcc(e)
            if (id.endsWith("dc") || id.endsWith("db")) {
              val ofs = leInt(e + 8)
              val sz = leInt(e + 12)
              val rel = moviPos + ofs // AVI 1.0: relative to 'movi' fourcc
              val hdr =
                if (rel + 8 <= end && fourcc(rel) == id) rel
                else if (ofs + 8 <= end && fourcc(ofs) == id) ofs // absolute
                else throw new IllegalArgumentException(
                  s"idx1 entry for $id resolves to no matching chunk")
              if (sz < 0 || hdr + 8 + sz > end)
                throw new IllegalArgumentException(s"idx1 range for $id overruns")
              ranges += ((hdr + 8, sz))
            }
            e += 16
          }
          val rs = ranges.result()
          if (rs.isEmpty) None else Some(rs)
        }
      }
    } catch { case _: Exception => None }

  /** Decode exactly one indexed frame from its byte range. */
  private[ops] def decodeFrameAt(payload: Array[Byte],
      range: (Int, Int)): Option[BufferedImage] =
    decodeImage(java.util.Arrays.copyOfRange(payload, range._1,
      range._1 + range._2))

  case class FrameSample(doc_id: Long, frame_idx: Int, n_frames: Long,
      width: Int, height: Int, mean_lum: Double)

  /** Frame sampling over the video slice via the idx1 index: each doc
    * decodes only its first, middle, and last frame — the index gives
    * their byte ranges without walking `movi`, so cost per doc is
    * O(3 frames) regardless of video length. Contrast [[videoDecodeStats]],
    * which decodes every frame. The three indices are distinct for every
    * fixture (n >= 3), and the decoded stats replay analytically in the
    * oracle exactly as q89's do. */
  def videoFrameSample(spark: SparkSession, docs: DataFrame): Dataset[FrameSample] = {
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 2).select(col("doc_id")).as[Long]
      .flatMap { id =>
        val bytes = syntheticAviBytes(id)
        val index = parseAviIndex(bytes).getOrElse(
          throw new IllegalStateException(s"fixture AVI for doc $id has no idx1"))
        val n = index.length
        Vector(0, n / 2, n - 1).distinct.map { i =>
          val img = decodeFrameAt(bytes, index(i)).getOrElse(
            throw new IllegalStateException(s"frame $i of doc $id failed to decode"))
          var sumRgb = 0L
          val pxs = rgbRows(img)
          var j = 0
          while (j < pxs.length) {
            val rgb = pxs(j)
            sumRgb += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            j += 1
          }
          FrameSample(id, i, n.toLong, img.getWidth, img.getHeight,
            sumRgb.toDouble / (3.0 * pxs.length))
        }
      }
  }

  case class VideoStats(doc_id: Long, n_frames: Long, width: Int, height: Int,
      total_pixels: Long, mean_lum: Double)

  /** Video-decode statistics over the video-modality slice: each executor
    * task generates the MJPEG-in-AVI fixture for its rows, parses the
    * REAL RIFF container, decodes every frame through the REAL
    * `javax.imageio` JPEG path, and folds exact integer channel sums over
    * the decoded pixels of every frame. Frame count, geometry, and the
    * uniform-gray mean are all pure integer functions of doc_id, so the
    * result compares bit-for-bit with the oracle's analytic replay — a
    * frame dropped, a chunk misparsed, or one pixel read wrong and the
    * hash breaks. */
  def videoDecodeStats(spark: SparkSession, docs: DataFrame): Dataset[VideoStats] = {
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 2).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val frames = parseAviFrames(syntheticAviBytes(id))
            .getOrElse(throw new IllegalStateException(
              s"fixture AVI for doc $id failed to parse"))
          var w = -1; var h = -1
          var sumRgb = 0L; var px = 0L
          frames.foreach { fb =>
            val img = decodeImage(fb).getOrElse(
              throw new IllegalStateException(
                s"MJPEG frame for doc $id failed to decode"))
            if (w < 0) { w = img.getWidth; h = img.getHeight }
            else require(img.getWidth == w && img.getHeight == h,
              s"frame geometry drift in doc $id")
            val pxs = rgbRows(img)
            var i = 0
            while (i < pxs.length) {
              val rgb = pxs(i)
              sumRgb += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              i += 1
            }
            px += pxs.length
          }
          VideoStats(id, frames.length.toLong, w, h, px,
            sumRgb.toDouble / (3.0 * px))
        }
      }
  }
}
