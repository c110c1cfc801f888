package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)

  test("withBlob produces binary payload + modality metadata") {
    val b = Multimodal.withBlob(docs)
    assert(b.schema("payload").dataType.typeName == "binary")
    val mods = b.select("modality").distinct().collect().map(_.getString(0)).toSet
    assert(mods == Set("image", "audio", "video"))
  }

  test("extractFeatures: n_bytes matches text length, checksum deterministic") {
    val feats = Multimodal.extractFeatures(spark, Multimodal.withBlob(docs))
    val joined = feats.toDF().join(docs, "doc_id")
      .select(col("n_bytes"), length(col("text")).cast("long").as("tl"),
        col("checksum"))
    assert(joined.filter(col("n_bytes") =!= col("tl")).count() == 0)
    // run twice -> identical checksums (stub decoder is deterministic)
    val c1 = feats.toDF().select("doc_id", "checksum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c2 = Multimodal.extractFeatures(spark,
        Multimodal.withBlob(docs.repartition(3)))
      .toDF().select("doc_id", "checksum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c1 == c2) // partitioning must not change per-row results
  }

  test("real PNG decode round-trips the synthetic fixture exactly") {
    val png = Multimodal.syntheticImageBytes(6L, 16, 16)
    // a real PNG container: magic bytes + decodable by javax.imageio
    assert(png.take(4).sameElements(
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
    val img = Multimodal.decodeImage(png).get
    assert(img.getWidth == 16 && img.getHeight == 16)
    // losslessness: every decoded pixel equals the generator pattern
    for (y <- 0 until 16; x <- 0 until 16) {
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == ((7 * 6 + 13 * x + 31 * y) % 256))
      assert(((rgb >> 8) & 0xff) == ((11 * 6 + 17 * x + 5 * y) % 256))
      assert((rgb & 0xff) == ((3 * 6 + 23 * x + 29 * y) % 256))
    }
    // undecodable bytes are error-as-data, not a crash
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
  }

  test("imageDecodeStats means equal the analytic pattern means") {
    val got = Multimodal.imageDecodeStats(spark, docs.limit(40)).collect()
    assert(got.nonEmpty)
    got.foreach { s =>
      def mean(f: (Int, Int) => Long): Double =
        (for (y <- 0 until 16; x <- 0 until 16) yield f(x, y)).sum / 256.0
      assert(s.mean_r == mean((x, y) => (7 * s.doc_id + 13 * x + 31 * y) % 256))
      assert(s.mean_g == mean((x, y) => (11 * s.doc_id + 17 * x + 5 * y) % 256))
      assert(s.mean_b == mean((x, y) => (3 * s.doc_id + 23 * x + 29 * y) % 256))
    }
  }

  test("extractFeatures uses decoded pixels for real image payloads") {
    import spark.implicits._
    val blobs = Seq((6L, "image", Multimodal.syntheticImageBytes(6L, 16, 16)))
      .toDF("doc_id", "modality", "payload")
    val feat = Multimodal.extractFeatures(spark, blobs, dim = 4)
      .collect().head.feature
    // expected: per-stripe mean luminance of the decoded fixture
    val img = Multimodal.decodeImage(
      Multimodal.syntheticImageBytes(6L, 16, 16)).get
    val expect = Multimodal.imageStripeFeatures(img, 4)
    assert(feat.sameElements(expect))
    // and it differs from the byte-fold stub (proves the real path ran)
    val stub = Multimodal.extractFeatures(spark,
        blobs.withColumn("modality", lit("audio")), dim = 4)
      .collect().head.feature
    assert(!feat.sameElements(stub))
  }

  test("feature vector has the requested fixed width") {
    val f = Multimodal.extractFeatures(spark,
      Multimodal.withBlob(docs.limit(5)), dim = 8).collect()
    assert(f.forall(_.feature.length == 8))
  }

  test("WAV fixture decodes through javax.sound to the generator samples") {
    val bytes = Multimodal.syntheticWavBytes(5L, sampleRate = 8000, n = 256)
    val Some((rate, samples)) = Multimodal.decodeWav(bytes)
    assert(rate == 8000 && samples.length == 256)
    val expect = Array.tabulate(256)(i =>
      (((5L * 37 + i.toLong * 73) % 4096) - 2048).toShort)
    assert(samples.sameElements(expect))
  }

  test("undecodable audio bytes yield None, not a task failure") {
    assert(Multimodal.decodeWav("not a wav".getBytes).isEmpty)
    assert(Multimodal.decodeWav(Array.empty[Byte]).isEmpty)
  }

  test("AVI fixture is a real RIFF container with per-frame JPEG chunks") {
    val avi = Multimodal.syntheticAviBytes(8L) // nFrames=3+0=3, w=16+8*3=40, h=16
    assert(new String(avi.take(4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    val frames = Multimodal.parseAviFrames(avi).get
    assert(frames.length == 3)
    // every extracted frame chunk is a standalone JPEG (SOI marker) that
    // the real javax.imageio path decodes at the formula geometry
    frames.foreach { f =>
      assert((f(0) & 0xff) == 0xff && (f(1) & 0xff) == 0xd8)
      val img = Multimodal.decodeImage(f).get
      assert(img.getWidth == 40 && img.getHeight == 16)
    }
  }

  test("uniform mid-gray frames round-trip JPEG bit-exactly") {
    val frames = Multimodal.parseAviFrames(Multimodal.syntheticAviBytes(2L)).get
    val img = Multimodal.decodeImage(frames.head).get
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      assert((img.getRGB(x, y) & 0xffffff) == 0x808080)
  }

  test("malformed AVI bytes yield None, not a task failure") {
    assert(Multimodal.parseAviFrames("not an avi".getBytes).isEmpty)
    assert(Multimodal.parseAviFrames(Array.empty[Byte]).isEmpty)
    // truncated mid-chunk: header claims more bytes than present
    val avi = Multimodal.syntheticAviBytes(2L)
    assert(Multimodal.parseAviFrames(avi.take(avi.length / 2)).isEmpty)
    // a RIFF that is not an AVI (the WAV fixture) carries no frames
    assert(Multimodal.parseAviFrames(Multimodal.syntheticWavBytes(2L)).isEmpty)
  }

  test("videoDecodeStats folds exact stats over all decoded frames") {
    import spark.implicits._
    val ids = Seq(2L, 5L, 11L, 14L).toDF("doc_id") // doc_id % 3 == 2 -> video
    val rows = Multimodal.videoDecodeStats(spark, ids).collect()
      .map(r => r.doc_id -> r).toMap
    assert(rows.keySet == Set(2L, 5L, 11L, 14L))
    rows.values.foreach { r =>
      val (nf, w, h) =
        (3 + r.doc_id % 4, (16 + 8 * (r.doc_id % 5)).toInt, (16 + 8 * (r.doc_id % 4)).toInt)
      assert(r.n_frames == nf)
      assert(r.width == w && r.height == h)
      assert(r.total_pixels == nf * w * h)
      assert(r.mean_lum == 128.0) // exact: uniform 128 survives JPEG
    }
  }

  test("parseAviIndex resolves the byte range of every frame without movi") {
    for (id <- Seq(2L, 5L, 8L, 11L)) {
      val avi = Multimodal.syntheticAviBytes(id)
      val index = Multimodal.parseAviIndex(avi).get
      val walked = Multimodal.parseAviFrames(avi).get
      assert(index.length == walked.length)
      // each indexed range must slice out exactly the frame the full
      // container walk extracts — same bytes, same order
      index.zip(walked).foreach { case ((off, len), frame) =>
        assert(java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(avi, off, off + len), frame))
      }
    }
  }

  test("parseAviIndex accepts absolute idx1 offsets too") {
    val avi = Multimodal.syntheticAviBytes(2L)
    val rel = Multimodal.parseAviIndex(avi).get
    // rewrite every idx1 entry offset from movi-relative to absolute
    // (both conventions exist in the wild); the resolver must detect it
    val abs = avi.clone()
    def leInt(off: Int): Int =
      (abs(off) & 0xff) | ((abs(off + 1) & 0xff) << 8) |
        ((abs(off + 2) & 0xff) << 16) | ((abs(off + 3) & 0xff) << 24)
    def putLe(off: Int, v: Int): Unit = {
      abs(off) = v.toByte; abs(off + 1) = (v >> 8).toByte
      abs(off + 2) = (v >> 16).toByte; abs(off + 3) = (v >> 24).toByte
    }
    // locate idx1 at top level and shift each entry by the movi fourcc pos
    var moviPos = -1; var idxOff = -1; var idxEnd = -1
    var off = 12
    while (off + 8 <= abs.length) {
      val id = new String(abs, off, 4, "US-ASCII")
      val sz = leInt(off + 4)
      if (id == "LIST" && new String(abs, off + 8, 4, "US-ASCII") == "movi")
        moviPos = off + 8
      if (id == "idx1") { idxOff = off + 8; idxEnd = off + 8 + sz }
      off += 8 + sz + (sz & 1)
    }
    var e = idxOff
    while (e + 16 <= idxEnd) { putLe(e + 8, leInt(e + 8) + moviPos); e += 16 }
    assert(Multimodal.parseAviIndex(abs).get == rel)
  }

  test("parseAviIndex rejects malformed input as None") {
    assert(Multimodal.parseAviIndex("not an avi".getBytes).isEmpty)
    assert(Multimodal.parseAviIndex(Array.empty[Byte]).isEmpty)
    val avi = Multimodal.syntheticAviBytes(2L)
    assert(Multimodal.parseAviIndex(avi.take(avi.length / 2)).isEmpty)
    assert(Multimodal.parseAviIndex(Multimodal.syntheticWavBytes(2L)).isEmpty)
  }

  test("videoFrameSample decodes only first/middle/last via the index") {
    import spark.implicits._
    val ids = Seq(2L, 5L, 11L, 14L).toDF("doc_id")
    val rows = Multimodal.videoFrameSample(spark, ids).collect()
      .groupBy(_.doc_id)
    assert(rows.keySet == Set(2L, 5L, 11L, 14L))
    rows.foreach { case (id, rs) =>
      val n = 3 + id % 4
      assert(rs.map(_.frame_idx).sorted.toSeq ==
        Seq(0, (n / 2).toInt, (n - 1).toInt))
      rs.foreach { r =>
        assert(r.n_frames == n)
        assert(r.width == 16 + 8 * (id % 5) && r.height == 16 + 8 * (id % 4))
        assert(r.mean_lum == 128.0)
      }
    }
  }

  test("nearestResize samples floor-scaled source coordinates exactly") {
    val img = Multimodal.decodeImage(Multimodal.syntheticImageBytes(6L)).get
    // 16 -> 8: output (x, y) must be source (2x, 2y)
    val half = Multimodal.nearestResize(img, 8, 8)
    for (y <- 0 until 8; x <- 0 until 8)
      assert(half.getRGB(x, y) == img.getRGB(2 * x, 2 * y))
    // 16 -> 7 (non-integer ratio): source coord is floor(i*16/7)
    val odd = Multimodal.nearestResize(img, 7, 7)
    for (y <- 0 until 7; x <- 0 until 7)
      assert(odd.getRGB(x, y) == img.getRGB(x * 16 / 7, y * 16 / 7))
    // upscale 16 -> 20 repeats pixels, never reads out of bounds
    val up = Multimodal.nearestResize(img, 20, 20)
    for (y <- 0 until 20; x <- 0 until 20)
      assert(up.getRGB(x, y) == img.getRGB(x * 16 / 20, y * 16 / 20))
  }

  test("imageResizeStats means equal the pattern at sampled coordinates") {
    import spark.implicits._
    val rows = Multimodal.imageResizeStats(spark, Seq(0L, 6L, 9L).toDF("doc_id"))
      .collect().map(r => r.doc_id -> r).toMap
    assert(rows.keySet == Set(0L, 6L, 9L))
    rows.foreach { case (id, r) =>
      def mean(a: Long, bx: Long, by: Long): Double =
        (for (y <- 0 until 8; x <- 0 until 8)
          yield ((a * id + bx * (2 * x) + by * (2 * y)) % 256).toDouble)
          .sum / 64.0
      assert(r.mean_r == mean(7, 13, 31))
      assert(r.mean_g == mean(11, 17, 5))
      assert(r.mean_b == mean(3, 23, 29))
    }
  }

  test("audioDecodeStats folds exact stats over decoded samples") {
    import spark.implicits._
    val one = Seq(1L).toDF("doc_id") // doc_id % 3 == 1 -> audio slice
    val r = Multimodal.audioDecodeStats(spark, one).collect().head
    val samples = Array.tabulate(256)(i => ((37L + i.toLong * 73) % 4096) - 2048)
    val sumSq = samples.map(v => v * v).sum
    val zc = samples.sliding(2).count(p => p(0) * p(1) < 0)
    assert(r.sample_rate == 8000 && r.n_samples == 256L)
    assert(math.abs(r.rms - math.sqrt(sumSq.toDouble / 256)) < 1e-12)
    assert(r.zero_crossings == zc.toLong)
  }
}
