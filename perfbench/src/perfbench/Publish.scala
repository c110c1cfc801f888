package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.wri.{Cog, Inventory, Model, Stac, TiffIO, TiffWriter}

/** `publish`: one full stage 00 -> 01 -> 02 run per operation over the
  * paper's 82 layers. Encode-bound: Cog/TiffWriter do most of the work.
  */
object Publish {

  /** 1852 x 2048 scaled by 0.266: the paper's aspect ratio, two tiles
    * down at the default 512-px block and one overview level. */
  val W = 492
  val H = 544
  val WarmEncodes = 300

  case class Stage00(rows: Seq[Row], meta: DataFrame)

  /** Stage 00, materialized on the driver as the metadata table stages
    * 01 and 02 read. Reduced-size layers cannot match the fixed CONUS
    * extent, so the rows routed on are those whose header read worked. */
  def stage00(ctx: Ctx, dataDir: String): Stage00 = {
    val rows = ctx.tracer.span("Inventory.run") {
      Inventory.run(ctx.spark, dataDir).raw.collect().toSeq
    }
    val ok = rows.filter(_.getAs[Boolean]("success"))
    Stage00(rows, ctx.spark.createDataFrame(ok.asJava, Model.layerMetaSchema))
  }

  /** Problems with a stage-00 result over a tree written by
    * [[Gen.writeRasterTree]] with `layers`. */
  def checkStage00(rows: Seq[Row], layers: Seq[Gen.Layer],
      dataDir: String): Seq[String] = {
    val (ok, bad) = rows.partition(_.getAs[Boolean]("success"))
    val okPaths = ok.map(_.getAs[String]("filepath")).sorted
    val want = layers.map(l => s"$dataDir/${l.rel}").sorted
    val listed = rows.map(_.getAs[String]("filepath"))
    Seq(
      if (okPaths == want) None
      else Some(s"valid rows ${okPaths.size}, expected ${want.size}"),
      if (bad.map(_.getAs[String]("filepath")) == Seq(s"$dataDir/${Gen.corruptRel}"))
        None
      else Some(s"failed header reads: ${bad.map(_.getAs[String]("filepath"))}"),
      Gen.excludedRels.find(r => listed.contains(s"$dataDir/$r"))
        .map(r => s"excluded path $r reached stage 00 output"),
      ok.map(_.getAs[String]("assumption_error")).distinct match {
        case Seq("Extent mismatch") => None
        case errs => Some(s"assumption errors $errs, expected only the " +
          "extent mismatch of reduced-size layers")
      }
    ).flatten
  }

  def checkStatus(status: Seq[Row], layers: Seq[Gen.Layer]): Seq[String] = {
    val got = status.map(r => r.getAs[String]("cog_filename") ->
      r.getAs[String]("status")).sorted
    val want = layers.map(_.name -> "written").sorted
    if (got == want) Nil
    else Seq(s"COG status ${got.filter(_._2 != "written").take(3)}; " +
      s"${got.size} rows for ${want.size} layers")
  }

  def checkItems(itemsDir: String, layers: Seq[Gen.Layer]): Seq[String] = {
    val ids = Stac.listItemIds(itemsDir)
    val want = layers.map(_.id).sorted
    if (ids == want) Nil else Seq(s"STAC items ${ids.size}, expected ${want.size}")
  }

  /** Each COG's level 0 decodes identical to its seeded source, NaN
    * cells included. */
  def checkCogPixels(ctx: Ctx, cogDir: String, layers: Seq[Gen.Layer],
      px: Map[Int, Array[Float]], w: Int, h: Int): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    try {
      layers.map { l =>
        pool.submit(() => {
          val (hd, got) = TiffIO.readPixels(s"$cogDir/${l.name}")
          val want = px(l.idx)
          if (hd.width != w || hd.height != h) Some(s"${l.name} is ${hd.width}x${hd.height}")
          else {
            val bad = want.indices.find(i =>
              java.lang.Float.floatToIntBits(want(i)) !=
                java.lang.Float.floatToIntBits(got(i)))
            bad.map(i => s"${l.name} pixel $i: ${got(i)} != ${want(i)}")
          }
        })
      }.flatMap(_.get())
    } finally pool.shutdown()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val layers = Gen.paperLayers
    // set-up times the GeoTIFF writes of the input tree; the pixels are
    // generated before it
    val px = layers.map(l => l.idx -> Gen.pixels(ctx.seed, l.idx, W, H)).toMap
    val (srcDir, srcBytes) = ctx.setup(5) { dir =>
      Gen.writeRasterTree(s"$dir/data", layers, W, H, l => px(l.idx))
    }((_, _) => ())
    val dataDir = s"$srcDir/data"

    // untimed warm-up. Tiny encodes without overviews, each decoded
    // again, get the tile fill, predictor, codec, write and decode paths
    // compiled; one pass of the three stages over a small tree pays
    // Spark's class loading and codegen. The overview loop stays as a
    // fresh pipeline JVM has it: it cannot be compiled on-stack ("OSR
    // starts with non-empty stack"), so it runs interpreted until
    // `writeCog` has reached it about 100 times. The pass's 6 layers plus
    // the first operation's 82 stay below that, so the first operation
    // pays that cost in every JVM.
    val warm = s"${ctx.work}/warm"
    Files.createDirectories(Paths.get(warm))
    val tiny = Gen.pixels(ctx.seed, 0, 40, 40)
    (0 until WarmEncodes).foreach { _ =>
      TiffWriter.writeCog(s"$warm/tiny.tif", 40, 40, tiny, Gen.geo,
        TiffWriter.CogOptions(blockSize = 16, withOverviews = false))
      TiffIO.readPixels(s"$warm/tiny.tif")
    }
    val warmLayers = layers.take(6)
    Gen.writeRasterTree(s"$warm/data", warmLayers, W, H, l => px(l.idx))
    val w00 = stage00(ctx, s"$warm/data")
    Cog.run(spark, w00.meta, s"$warm/out/cogs").collect()
    Stac.run(spark, w00.meta, s"$warm/out/stac")
    Main.deleteTree(Paths.get(warm))

    var prev: Option[String] = None
    var listed = 0
    val stageMs = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    ctx.closedLoop(minOps = 1) { i =>
      val out = s"${ctx.work}/out$i"
      val t = new Array[Long](4)
      val (s00, status) = ctx.timed("publish.op") {
        t(0) = System.nanoTime()
        val s00 = stage00(ctx, dataDir)
        t(1) = System.nanoTime()
        val status = ctx.tracer.span("Cog.run") {
          Cog.run(spark, s00.meta, s"$out/cogs").collect().toSeq
        }
        t(2) = System.nanoTime()
        ctx.tracer.span("Stac.run") { Stac.run(spark, s00.meta, s"$out/stac") }
        t(3) = System.nanoTime()
        (s00, status)
      }
      stageMs += (1 to 3).map(k => math.round((t(k) - t(k - 1)) / 1e6))
      ctx.items += layers.size
      listed = s00.rows.size
      ctx.untimed("check") {
        ctx.attempt(s"publish iteration $i") {
          checkStage00(s00.rows, layers, dataDir) ++
            checkStatus(status, layers) ++
            checkItems(s"$out/stac/collections/${Model.collectionId}/items", layers)
        }
      }
      ctx.untimed("cleanup") { prev.foreach(p => Main.deleteTree(Paths.get(p))) }
      prev = Some(out)
    }
    val last = prev.get
    val cogBytes = layers.map(l => Files.size(Paths.get(s"$last/cogs/${l.name}"))).sum
    ctx.attempt("publish COG pixels") {
      checkCogPixels(ctx, s"$last/cogs", layers, px, W, H)
    }
    ctx.diag("stage_ms_00_01_02") = stageMs.toSeq
    ctx.diag("cog_bytes_ratio") = cogBytes.toDouble / srcBytes
    ctx.diag("source_mb_per_op") = srcBytes / 1048576.0
    ctx.diag("publish_mb_s") = srcBytes / 1048576.0 *
      ctx.latencies.size / (ctx.latencies.sum / 1e9)
    if (ctx.tracer.enabled) layerMetrics(ctx, dataDir, layers, listed, srcBytes, cogBytes)
  }

  private def layerMetrics(ctx: Ctx, dataDir: String, layers: Seq[Gen.Layer],
      listed: Int, srcBytes: Long, cogBytes: Long): Unit = {
    val n = ctx.loopSpans("publish.op").size.toDouble
    val l = ctx.layer
    l("Inventory.run.s") = ctx.spanMs("Inventory.run") / 1e3 / n
    l("Inventory.read_bytes") = ctx.spanFs("Inventory.run", "bytesRead") / n
    l("Inventory.files") = listed
    l("Cog.run.s") = ctx.spanMs("Cog.run") / 1e3 / n
    l("Cog.write_bytes") = ctx.spanFs("Cog.run", "bytesWritten") / n
    l("Cog.bytes_ratio") = cogBytes.toDouble / srcBytes
    l("Stac.run.s") = ctx.spanMs("Stac.run") / 1e3 / n
    l("Stac.items") = layers.size
    l("Stac.write_bytes") = ctx.spanFs("Stac.run", "bytesWritten") / n
    // serial calls on a sample of layers split decode from encode
    val sample = layers.take(4)
    val mb = sample.map(x => Files.size(Paths.get(s"$dataDir/${x.rel}"))).sum / 1048576.0
    val scratch = s"${ctx.work}/serial"
    Files.createDirectories(Paths.get(scratch))
    var readNs = 0L; var writeNs = 0L
    sample.foreach { x =>
      val t0 = System.nanoTime()
      val (h, px) = ctx.tracer.span("TiffIO.readPixels") {
        TiffIO.readPixels(s"$dataDir/${x.rel}")
      }
      val t1 = System.nanoTime()
      ctx.tracer.span("TiffWriter.writeCog") {
        TiffWriter.writeCog(s"$scratch/${x.name}", h.width, h.height, px, Gen.geo)
      }
      readNs += t1 - t0; writeNs += System.nanoTime() - t1
    }
    l("TiffIO.readPixels.ms_per_mb") = readNs / 1e6 / mb
    l("TiffWriter.writeCog.ms_per_mb") = writeNs / 1e6 / mb
  }
}
