package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.wri.{Cog, CogQuery, Model, Stac}

/** `serve`: consumer requests against a catalog that set-up publishes
  * once, its COGs hosted over loopback HTTP. Bound by range reads, tile
  * decode and per-call Spark overhead; no encoding.
  *
  * One operation is the consumer step of ROADMAP item 2's end-to-end
  * run: one `getLayerData` crop, then one zonal batch. Their shapes
  * follow the repo's own descriptions of the two asks: the crop is the
  * reference client's `get_layer` return value (SURVEY.md, a raster to
  * analyze) over one layer; the zonal batch is a region table of
  * [[Regions]] windows over every layer in one job (the `zonalStatsGeo`
  * doc, SCALE.md's 1000-window zonal row).
  */
object Serve {

  /** 1852 x 2048 scaled by 3/8: the paper's aspect ratio, 2 x 2 tiles at
    * the default 512-px block, one overview level. */
  val W = 694
  val H = 768
  val BlockSize = 512
  /** every tenth paper layer: 9 items */
  val layers: Seq[Gen.Layer] = Gen.paperLayers.filter(_.idx % 10 == 0)

  /** Windows in a zonal request's region table. */
  val Regions = 1000
  /** Consumer calls in one operation: the crop and the zonal batch. */
  val CallsPerOp = 2
  /** Enough operations for a steady median: about 15 s of measuring,
    * where `--seconds` alone would give 5. */
  val MinOps = 12
  /** Requests of each other consumer call the traced run times after
    * the loop, for their per-layer latencies. */
  val SampleRequests = 3

  case class Hosted(server: RangeServer, itemsDir: String, cogDir: String,
      bbox: Seq[Double])

  def publishHosted(ctx: Ctx, dir: String): Hosted = {
    Gen.writeRasterTree(s"$dir/data", ctx.seed, layers, W, H)
    val s00 = Publish.stage00(ctx, s"$dir/data")
    val status = Cog.run(ctx.spark, s00.meta, s"$dir/cogs").collect().toSeq
    val bad = Publish.checkStatus(status, layers)
    require(bad.isEmpty, s"serve set-up: ${bad.mkString("; ")}")
    Stac.run(ctx.spark, s00.meta, s"$dir/stac", hostedProbe = _ => true)
    val itemsDir = s"$dir/stac/collections/${Model.collectionId}/items"
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(Paths.get(s"$itemsDir/${layers.head.id}.json")))
    val bbox = (0 until 4).map(i => doc.get("bbox").get(i).asDouble)
    Hosted(new RangeServer(s"$dir/cogs", ctx.cpus), itemsDir, s"$dir/cogs", bbox)
  }

  /** A seeded region table: admin-region-like pixel windows
    * (id, x0, y0, x1, y1) at level 0, mostly small, a few large, placed
    * anywhere on the grid and overlapping where they fall. */
  def regionTable(seed: Long): IndexedSeq[(Long, Int, Int, Int, Int)] = {
    val rnd = new java.util.Random(Gen.mix(seed ^ 0x20a1L))
    (0 until Regions).map { k =>
      val u = rnd.nextDouble(); val v = rnd.nextDouble()
      val (ww, wh) = (8 + (u * u * 120).toInt, 8 + (v * v * 120).toInt)
      val (x0, y0) = (rnd.nextInt(W - ww + 1), rnd.nextInt(H - wh + 1))
      (k.toLong, x0, y0, x0 + ww, y0 + wh)
    }
  }

  private def stat(r: Row): Oracle.Stat = Oracle.Stat(
    r.getAs[Long]("n_valid"), r.getAs[Long]("n_nan"), r.getAs[Long]("vs_sum"),
    Option(r.getAs[java.lang.Long]("vs_min")).map(_.longValue),
    Option(r.getAs[java.lang.Long]("vs_max")).map(_.longValue))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (_, hosted) = ctx.setup(3)(dir => publishHosted(ctx, dir))((_, h) =>
      h.server.close())
    val base = Some(hosted.server.base)
    val itemsDir = hosted.itemsDir
    try {
      val pyr = layers.map(l => l.idx -> Oracle.pyramid(
        W, H, Gen.pixels(ctx.seed, l.idx, W, H), BlockSize)).toMap
      val regions = regionTable(ctx.seed)
      val zonalWant = layers.map { l =>
        l.name -> regions.map { case (_, x0, y0, x1, y1) =>
          Oracle.stats(pyr(l.idx)(0), x0, y0, x1, y1) }
      }.toMap
      val g0 = pyr(layers.head.idx)(0)
      val zonalBoxes = regions.map { case (k, x0, y0, x1, y1) =>
        val (a, b, c, d) = Oracle.box(g0, g0, x0, y0, x1, y1)
        (k, a, b, c, d)
      }
      val rnd = new java.util.Random(Gen.mix(ctx.seed ^ 0x5e57eL))
      def pick(n: Int) = rnd.nextInt(n)
      def layer() = layers(pick(layers.size))
      var usefulPx = 0L

      def crop(): Unit = {
        val l = layer(); val g = pyr(l.idx)(0)
        val (ww, wh) = (480 + pick(64), 480 + pick(64))
        val (x0, y0) = (pick(W - ww + 1), pick(H - wh + 1))
        val (minx, miny, maxx, maxy) = Oracle.box(g, g, x0, y0, x0 + ww, y0 + wh)
        val r = ctx.tracer.span("Stac.getLayerData") {
          Stac.getLayerData(spark, itemsDir, l.id, minx, miny, maxx, maxy,
            hrefBase = base)
            .agg(count(lit(1)), count(col("vs")), sum(col("vs")),
              min(col("vs")), max(col("vs"))).collect().head
        }
        ctx.untimed("check") {
          usefulPx += r.getLong(0)
          ctx.attempt(s"crop ${l.id} [$x0,${x0 + ww})x[$y0,${y0 + wh})") {
            val want = Oracle.stats(g, x0, y0, x0 + ww, y0 + wh)
            val got = Oracle.Stat(r.getLong(1), r.getLong(0) - r.getLong(1),
              if (r.isNullAt(2)) 0L else r.getLong(2),
              Option(r.get(3)).map(_.asInstanceOf[Long]),
              Option(r.get(4)).map(_.asInstanceOf[Long]))
            Oracle.diff("crop", want, got).toSeq
          }
        }
      }

      def zonal(): Unit = {
        val rows = ctx.tracer.span("CogQuery.zonalStatsGeo") {
          CogQuery.zonalStatsGeo(spark, hosted.server.base, layers.map(_.name),
            zonalBoxes).collect().toSeq
        }
        ctx.untimed("check") {
          usefulPx += rows.map(r => r.getAs[Long]("n_valid") + r.getAs[Long]("n_nan")).sum
          ctx.attempt(s"zonal ${regions.size} windows x ${layers.size} layers") {
            val got = rows.map(r => (r.getAs[String]("layer"),
              r.getAs[Long]("window_id")) -> stat(r)).toMap
            if (got.size != layers.size * regions.size) Seq(s"${rows.size} rows")
            else for {
              l <- layers; k <- regions.indices
              d <- Oracle.diff(s"${l.name} window $k", zonalWant(l.name)(k),
                got((l.name, k.toLong)))
            } yield d
          }
        }
      }

      // two untimed operations pay class loading, codegen and the JIT of
      // both paths
      (0 until 2).foreach { _ => crop(); zonal() }
      val srv = hosted.server
      val (r0, t0, by0) = (srv.requests.get, srv.tileRequests.get, srv.bytesSent.get)
      usefulPx = 0L
      ctx.closedLoop(minOps = MinOps) { _ =>
        ctx.timed("serve.op") { crop(); zonal() }
      }
      val n = ctx.latencies.size.toDouble
      ctx.items = CallsPerOp * n
      ctx.diag("requests_per_op") = Map("crop" -> 1, "zonal" -> 1)
      ctx.diag("zonal_windows") = regions.size
      ctx.diag("zonal_layers") = layers.size
      ctx.diag("working_set_mb") = layers.map(l =>
        Files.size(Paths.get(s"${hosted.cogDir}/${l.name}"))).sum / 1048576.0
      ctx.diag("http_threads") = ctx.cpus
      if (ctx.tracer.enabled) {
        val l = ctx.layer
        val reqs = CallsPerOp * n
        l("serve.crop.ms") = ctx.spanMs("Stac.getLayerData") / n
        l("serve.zonal.ms") = ctx.spanMs("CogQuery.zonalStatsGeo") / n
        val tiles = (srv.tileRequests.get - t0).toDouble
        l("RangeReader.http_requests_per_req") = (srv.requests.get - r0) / reqs
        l("RangeReader.http_bytes_per_req") = (srv.bytesSent.get - by0) / reqs
        // every fetched tile is decoded once
        l("CogQuery.tiles_decoded_per_req") = tiles / reqs
        l("CogQuery.px_useful_ratio") =
          usefulPx / math.max(1.0, tiles * BlockSize * BlockSize)
        sample(ctx, hosted, pyr, rnd)
      }
    } finally hosted.server.close()
  }

  /** The traced run's other consumer calls, after the loop: window stats
    * at level 0 over 1-4 tiles, the same call at the overview level over
    * a broad box, and the catalog-wide sweep. Checked like the loop's. */
  private def sample(ctx: Ctx, hosted: Hosted,
      pyr: Map[Int, IndexedSeq[Oracle.Grid]], rnd: java.util.Random): Unit = {
    val spark = ctx.spark
    val base = Some(hosted.server.base)
    def pick(n: Int) = rnd.nextInt(n)
    def timeMs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    def native(lv: Int): Double = {
      val l = layers(pick(layers.size)); val g = pyr(l.idx); val gl = g(lv)
      val (x0, y0, x1, y1) =
        if (lv == 0) {
          val (ww, wh) = (32 + pick(480), 32 + pick(480))
          val (a, b) = (pick(W - ww + 1), pick(H - wh + 1))
          (a, b, a + ww, b + wh)
        } else (pick(40), pick(40), gl.w - pick(40), gl.h - pick(40))
      val (minx, miny, maxx, maxy) = Oracle.box(g(0), gl, x0, y0, x1, y1)
      var rows = Seq.empty[Row]
      val ms = timeMs {
        rows = ctx.tracer.span("Stac.getLayerNative") {
          Stac.getLayerNative(spark, hosted.itemsDir, l.id, minx, miny, maxx,
            maxy, hrefBase = base, level = lv).collect().toSeq
        }
      }
      ctx.attempt(s"native ${l.id} [$x0,$x1)x[$y0,$y1)@$lv") {
        val tiles = Oracle.tilesTouched(gl, BlockSize, x0, y0, x1, y1)
        if (rows.size != 1) Seq(s"${rows.size} rows")
        else Oracle.diff("stats", Oracle.stats(gl, x0, y0, x1, y1),
          stat(rows.head)).toSeq ++
          (if (rows.head.getAs[Long]("tiles_read") == tiles) None
           else Some(s"tiles_read ${rows.head.getAs[Long]("tiles_read")} != $tiles"))
      }
      ms
    }
    def sweep(): Double = {
      val b = hosted.bbox
      var rows = Seq.empty[Row]
      val ms = timeMs {
        rows = ctx.tracer.span("Stac.catalogWindowStats") {
          Stac.catalogWindowStats(spark, hosted.itemsDir, b(0) - 1, b(1) - 1,
            b(2) + 1, b(3) + 1, hrefBase = base, level = 1).collect().toSeq
        }
      }
      ctx.attempt("sweep") {
        val got = rows.map(r => r.getAs[String]("layer") -> stat(r)).toMap
        if (got.keySet != layers.map(_.id).toSet)
          Seq(s"sweep layers ${got.keySet.toSeq.sorted.take(4)}...")
        else layers.flatMap { l =>
          val g1 = pyr(l.idx)(1)
          Oracle.diff(s"sweep ${l.id}", Oracle.stats(g1, 0, 0, g1.w, g1.h),
            got(l.id))
        }
      }
      ms
    }
    def mean(f: => Double): Double =
      Seq.fill(SampleRequests)(f).sum / SampleRequests
    ctx.layer("serve.window.ms") = mean(native(0))
    ctx.layer("serve.zoom.ms") = mean(native(1))
    ctx.layer("serve.sweep.ms") = mean(sweep())
  }
}
