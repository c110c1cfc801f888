package graft.wri

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.Row
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The round-9 seam: the WHOLE pipeline (not just the COG query) runs
  * over scheme-qualified URIs and hosted-raster HTTP — stage 00 header
  * scans via RangeReader, stage 01/02 sinks via the Hadoop FileSystem
  * API — plus the HttpRangeReader robustness contract (redirects,
  * Content-Range validation, whole-object 200, transient-error retry).
  */
class RemoteIoSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("wriremote").toString
  private lazy val dataDir = Fixtures.writeInventoryTree(root)

  /** Configurable HTTP stub over `dir` — the shared [[TestHttp]]
    * fixture (one implementation for every hosted-read spec). */
  private def withHttpServer[T](dir: String,
      ignoreRange: Boolean = false,
      failFirstN: Int = 0,
      throttleFirstN: Int = 0,
      contentRangeSkew: Long = 0L,
      redirectTo: Option[String] = None,
      requested: Option[java.util.concurrent.ConcurrentLinkedQueue[String]] =
        None)(f: String => T): T =
    TestHttp.withHttpServer(dir, ignoreRange, failFirstN, throttleFirstN,
      contentRangeSkew, redirectTo, requested)(f)

  /** Relative paths of every fixture file under the data dir. */
  private def relPaths(base: String): Seq[String] = {
    val b = Paths.get(base)
    val s = Files.walk(b)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => b.relativize(p).toString).toSeq.sorted
    finally s.close()
  }

  private def byFilename(rows: Array[Row]): Map[String, Map[String, Any]] =
    rows.map { r =>
      r.getAs[String]("filename") ->
        r.schema.fieldNames.filterNot(_ == "filepath")
          .map(n => n -> r.getAs[Any](n)).toMap
    }.toMap

  test("stage 00 over a scheme-qualified file:// data dir equals plain " +
      "local paths") {
    val plain = Inventory.run(spark, dataDir)
    val viaUri = Inventory.run(spark, s"file://$dataDir")
    // binaryFile normalizes both to the same file: URIs, and the
    // header reads resolve through the scheme — identical rows out
    assert(viaUri.raw.collect().map(_.toString).sorted.toSeq ==
      plain.raw.collect().map(_.toString).sorted.toSeq)
    assert(viaUri.consistent.count() == plain.consistent.count())
  }

  test("HTTP-backed inventory: header scans over Range requests match " +
      "the local run field-for-field; excluded layers cost zero requests") {
    val local = byFilename(Inventory.run(spark, dataDir).raw.collect())
    val requested = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withHttpServer(dataDir, requested = Some(requested)) { base =>
      val urls = relPaths(dataDir).map(rel => s"$base/$rel")
      val hosted = byFilename(Inventory.runOverUrls(spark, urls).raw.collect())
      assert(hosted.keySet == local.keySet)
      hosted.foreach { case (name, fields) =>
        assert(fields == local(name), s"field drift for $name over HTTP")
      }
      // the exclude filter ran before ANY raster I/O: no request — not
      // even a HEAD — ever left for an excluded layer
      val excludedHits = requested.asScala.filter(p =>
        p.contains("/archive/") || p.contains("/indicators_no_mask/") ||
          p.contains("/final_checks/"))
      assert(excludedHits.isEmpty, s"excluded layers were fetched: " +
        excludedHits.mkString(", "))
    }
  }

  test("stage 01 + 02 sink through the Hadoop FileSystem API: COGs and " +
      "STAC documents land under a file:// output root") {
    import spark.implicits._
    val inputs = Fixtures.writeCogInputs(root)
    val meta = inputs.toDF("filepath", "cog_filename")
    val outDir = s"file://$root/cogs_uri"
    val s1 = Cog.summary(Cog.run(spark, meta, outDir)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == Map("written" -> 4L))
    // the written COG is valid, read back through the same scheme
    val h = TiffIO.readHeader(s"$outDir/layer_0.tif")
    assert(h.tiled && h.isCogLayout)
    // rerun skips via the scheme-resolved listing (idempotence)
    val s2 = Cog.summary(Cog.run(spark, meta, outDir)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s2 == Map("skipped" -> 4L))
    // bytes identical to a plain-local encode (no .crc sidecars either)
    val localDir = s"$root/cogs_plain"
    Cog.run(spark, meta, localDir).count()
    val viaUri = Files.readAllBytes(Paths.get(s"$root/cogs_uri/layer_0.tif"))
    val viaLocal = Files.readAllBytes(Paths.get(s"$localDir/layer_0.tif"))
    assert(java.util.Arrays.equals(viaUri, viaLocal))
    assert(!Files.exists(Paths.get(s"$root/cogs_uri/.layer_0.tif.crc")))

    // stage 02 under file://: items + collection + catalog land and parse
    val inv = Inventory.run(spark, dataDir)
    val stacRoot = s"file://$root/stac_uri"
    val items = Stac.run(spark, inv.consistent, stacRoot)
    assert(items.count() == 5)
    val mapper = new ObjectMapper()
    val item = mapper.readTree(Files.readString(Paths.get(
      s"$root/stac_uri/collections/${Model.collectionId}/items/WRI_score.json")))
    assert(item.get("id").asText == "WRI_score")
    assert(mapper.readTree(Files.readString(Paths.get(
      s"$root/stac_uri/catalog.json"))).get("id").asText == "wri-catalog")
    val coll = mapper.readTree(Files.readString(Paths.get(
      s"$root/stac_uri/collections/${Model.collectionId}/collection.json")))
    assert(coll.findValues("rel").asScala.exists(_.asText == "item"))
  }

  test("catalog QA sweep: assets validate over HTTP via hrefBase, and a " +
      "broken asset surfaces as data, not an exception") {
    import spark.implicits._
    val qaRoot = Files.createTempDirectory("wriqa").toString
    val inputs = Fixtures.writeCogInputs(qaRoot, n = 3, w = 96, h = 64)
    val cid = Model.collectionId
    val stacRoot = s"$qaRoot/stac"
    val cogDir = s"$stacRoot/collections/$cid/cogs"
    Cog.run(spark, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    val consistent = inputs.map(_._2).toDF("cog_filename").select(
      org.apache.spark.sql.functions.col("cog_filename"),
      org.apache.spark.sql.functions.lit(5070).as("crs_epsg"),
      org.apache.spark.sql.functions.lit("indicator").as("data_type"),
      org.apache.spark.sql.functions.lit("water").as("wri_domain"),
      org.apache.spark.sql.functions.lit("status").as("wri_dimension"),
      org.apache.spark.sql.functions.lit(gx).as("extent_xmin"),
      org.apache.spark.sql.functions.lit(gx + 96 * 90.0).as("extent_xmax"),
      org.apache.spark.sql.functions.lit(gy - 64 * 90.0).as("extent_ymin"),
      org.apache.spark.sql.functions.lit(gy).as("extent_ymax"))
    val itemsDir = s"$stacRoot/collections/$cid/items"
    Stac.writeItems(Stac.buildItems(spark, consistent), itemsDir)
    // local sweep: everything streams, tiles, and georeferences
    val local = Stac.validateAssets(spark, itemsDir).collect()
      .map(r => r.getAs[String]("item_id") -> r).toMap
    assert(local.size == 3 && local.values.forall(_.getAs[Boolean]("ok")),
      local.values.map(_.toString).mkString("\n"))
    // hosted sweep: relative hrefs resolve against the SERVED base —
    // validating what clients will actually fetch
    withHttpServer(stacRoot) { base =>
      val hosted = Stac.validateAssets(spark, itemsDir,
          hrefBase = Some(s"$base/collections/$cid/items")).collect()
      assert(hosted.length == 3 && hosted.forall(_.getAs[Boolean]("ok")))
      assert(hosted.forall(_.getAs[String]("href").startsWith("../cogs/")))
    }
    // a truncated asset (cannot stream) is an error ROW for that item;
    // the sweep of the rest is unaffected
    val victim = Paths.get(s"$cogDir/layer_1.tif")
    val bytes = Files.readAllBytes(victim)
    Files.write(victim, bytes.take(100))
    val after = Stac.validateAssets(spark, itemsDir).collect()
      .map(r => r.getAs[String]("item_id") -> r).toMap
    assert(!after("layer_1").getAs[Boolean]("ok"))
    assert(after("layer_1").getAs[String]("error") != null)
    assert(after("layer_0").getAs[Boolean]("ok") &&
      after("layer_2").getAs[Boolean]("ok"))
    Files.write(victim, bytes) // restore for any later reuse
  }

  test("get_layer consumes the catalog end-to-end: a HOSTED layer " +
      "streams its window over HTTP ranges and equals the local read; " +
      "the client contract answers a non-hosted layer with an " +
      "informative error; an uncovered box answers empty without " +
      "touching any raster") {
    import spark.implicits._
    val glRoot = Files.createTempDirectory("wrigetlayer").toString
    val inputs = Fixtures.writeCogInputs(glRoot, n = 2, w = 96, h = 64)
    val cid = Model.collectionId
    val stacRoot = s"$glRoot/stac"
    val cogDir = s"$stacRoot/collections/$cid/cogs"
    Cog.run(spark, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    import org.apache.spark.sql.functions.{col, lit}
    val consistent = inputs.map(_._2).toDF("cog_filename").select(
      col("cog_filename"), lit(5070).as("crs_epsg"),
      lit("indicator").as("data_type"), lit("water").as("wri_domain"),
      lit("status").as("wri_dimension"),
      lit(gx).as("extent_xmin"), lit(gx + 96 * 90.0).as("extent_xmax"),
      lit(gy - 64 * 90.0).as("extent_ymin"), lit(gy).as("extent_ymax"))
    val itemsDir = s"$stacRoot/collections/$cid/items"
    // layer_0 is HOSTED, layer_1 is not — the injectable probe is the
    // is_hosted branch the consumer must honor
    Stac.writeItems(Stac.buildItems(spark, consistent,
      hostedProbe = _ == "layer_0.tif"), itemsDir)
    val (minx, miny) = (gx + 10.3 * 90.0, gy - 50.7 * 90.0)
    val (maxx, maxy) = (gx + 80.6 * 90.0, gy - 5.2 * 90.0)
    def statsOf(df: org.apache.spark.sql.DataFrame): Seq[Any] = {
      val r = df.select(col("n_valid"), col("n_nan"), col("vs_sum"),
        col("vs_min"), col("vs_max")).head()
      r.toSeq
    }
    val direct = statsOf(CogQuery.windowStatsGeo(spark, cogDir,
      Seq("layer_0.tif"), minx, miny, maxx, maxy))
    // the DATA crop read directly from the local file, as the HTTP
    // baseline (layer_0 is hosted, so its catalog href is an absolute
    // publisher URL — the direct read is the honest local truth)
    val dataLocal = CogQuery.readWindowGeo(spark, cogDir,
        Seq("layer_0.tif"), minx, miny, maxx, maxy)
      .orderBy(org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y"))
      .select("x", "y", "vs")
      .collect().map(_.toSeq).toSeq
    assert(dataLocal.nonEmpty, "the data crop read no pixels")
    val requested = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withHttpServer(cogDir, requested = Some(requested)) { base =>
      val viaCatalog = Stac.getLayerNative(spark, itemsDir, "layer_0",
        minx, miny, maxx, maxy, hrefBase = Some(base), hostedOnly = true)
      assert(statsOf(viaCatalog) == direct,
        "the catalog-routed HTTP read drifted from the direct local read")
      val paths = requested.asScala.toSet
      assert(paths == Set("/layer_0.tif"),
        s"the hosted read must stream ONLY the requested layer: $paths")
      // the crop itself streams over ranges too and matches the local
      // pixel rows exactly — the reference's get_layer returns DATA
      val dataHttp = Stac.getLayerData(spark, itemsDir, "layer_0",
          minx, miny, maxx, maxy, hrefBase = Some(base),
          hostedOnly = true)
        .orderBy(org.apache.spark.sql.functions.col("x"),
          org.apache.spark.sql.functions.col("y"))
        .select("x", "y", "vs")
        .collect().map(_.toSeq).toSeq
      assert(dataHttp == dataLocal,
        "the hosted data crop drifted from the local crop")
    }
    // the 4326 form (the fedex call shape) agrees with the native form
    // over its projected box and actually reads pixels — the fixture
    // extent sits at the reference's far-north corner, whose WGS84
    // image is near (173.7 E, 54.8 N)
    val (qLon0, qLat0, qLon1, qLat1) = (173.60, 54.70, 173.85, 54.92)
    val (fx0, fy0, fx1, fy1) = Geo.forwardBox(qLon0, qLat0, qLon1, qLat1)
    val via4326 = Stac.getLayer(spark, itemsDir, "layer_1",
      qLon0, qLat0, qLon1, qLat1)
    val viaNative = Stac.getLayerNative(spark, itemsDir, "layer_1",
      fx0, fy0, fx1, fy1)
    assert(via4326.collect().toSeq == viaNative.collect().toSeq,
      "getLayer(4326) must equal getLayerNative over its forwardBox")
    assert(via4326.head().getAs[Long]("n_valid") > 0,
      "the 4326 query box missed the fixture raster entirely")
    // non-hosted + the client contract: an informative error, never a
    // broken read (the fedex behavior for local-only layers)
    val e = intercept[IllegalArgumentException] {
      Stac.getLayerNative(spark, itemsDir, "layer_1",
        minx, miny, maxx, maxy, hostedOnly = true)
    }
    assert(e.getMessage.contains("layer_1") &&
      e.getMessage.contains("not hosted"), e.getMessage)
    // producer-side (hostedOnly=false) the same layer reads locally
    val local1 = Stac.getLayerNative(spark, itemsDir, "layer_1",
      minx, miny, maxx, maxy)
    assert(local1.count() == 1 &&
      local1.head().getAs[Long]("n_valid") > 0)
    // an unknown layer fails loudly, naming what IS in the catalog
    val missing = intercept[IllegalArgumentException] {
      Stac.getLayerNative(spark, itemsDir, "no_such_layer",
        minx, miny, maxx, maxy)
    }
    assert(missing.getMessage.contains("no_such_layer") &&
      missing.getMessage.contains("layer_0"), missing.getMessage)
    // a window 450 km east of the extent: the catalog bbox search says
    // no — zero rows, zero raster opens
    val far = Stac.getLayerNative(spark, itemsDir, "layer_0",
      gx + 5000 * 90.0, miny, gx + 5100 * 90.0, maxy)
    assert(far.isEmpty, "an uncovered box must answer empty")
  }

  test("getLayerData's catalog resolve runs no Spark job, and a " +
      "refreshCatalog between two calls is visible to the second") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val rRoot = Files.createTempDirectory("wriresolve").toString
    val inputs = Fixtures.writeCogInputs(rRoot, n = 2, w = 96, h = 64)
    val stacRoot = s"$rRoot/stac"
    val cogDir = s"$stacRoot/collections/${Model.collectionId}/cogs"
    Cog.run(spark, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    def meta(files: Seq[String]) = files.toDF("cog_filename").select(
      col("cog_filename"), lit(5070).as("crs_epsg"),
      lit("indicator").as("data_type"), lit("water").as("wri_domain"),
      lit("status").as("wri_dimension"),
      lit(gx).as("extent_xmin"), lit(gx + 96 * 90.0).as("extent_xmax"),
      lit(gy - 64 * 90.0).as("extent_ymin"), lit(gy).as("extent_ymax"),
      col("cog_filename").as("filepath"), col("cog_filename").as("filename"))
    val itemsDir = s"$stacRoot/collections/${Model.collectionId}/items"
    Stac.run(spark, meta(Seq("layer_0.tif")), stacRoot)
    val (minx, miny) = (gx + 10.3 * 90.0, gy - 50.7 * 90.0)
    val (maxx, maxy) = (gx + 80.6 * 90.0, gy - 5.2 * 90.0)
    // job ids are sequential: the gap between two marker jobs counts
    // every job submitted in between
    val sc = spark.sparkContext
    def marker(): Int = {
      val f = sc.parallelize(Seq(1), 1).countAsync()
      f.get()
      f.jobIds.head
    }
    def jobsDuring(body: => Any): Int = {
      val a = marker(); body; marker() - a - 1
    }
    // an uncovered box: the call is the resolve alone
    assert(jobsDuring(Stac.getLayerData(spark, itemsDir, "layer_0",
      gx + 5000 * 90.0, miny, gx + 5100 * 90.0, maxy)) == 0)
    // a covered box: the resolve plus the crop's one header job
    assert(jobsDuring(Stac.getLayerData(spark, itemsDir, "layer_0",
      minx, miny, maxx, maxy)) == 1)
    val e = intercept[IllegalArgumentException] {
      Stac.getLayerData(spark, itemsDir, "layer_1", minx, miny, maxx, maxy)
    }
    assert(e.getMessage.contains("not in the catalog"), e.getMessage)
    Stac.refreshCatalog(spark, meta(Seq("layer_0.tif", "layer_1.tif")),
      stacRoot)
    def pixels(df: org.apache.spark.sql.DataFrame) =
      df.select("x", "y", "vs").collect().map(_.toSeq).toSeq
        .sortBy(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Int]))
    val viaCatalog = pixels(Stac.getLayerData(spark, itemsDir, "layer_1",
      minx, miny, maxx, maxy))
    assert(viaCatalog.nonEmpty && viaCatalog == pixels(CogQuery.readWindowGeo(
      spark, cogDir, Seq("layer_1.tif"), minx, miny, maxx, maxy)))
  }

  test("authenticated range reads: a token-protected mirror 401s the " +
      "bare reader with the conf key named, and the SAME consumer verbs " +
      "succeed once the per-host auth header is configured") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val aRoot = Files.createTempDirectory("wriauth").toString
    val inputs = Fixtures.writeCogInputs(aRoot, n = 1, w = 96, h = 64)
    val cid = Model.collectionId
    val stacRoot = s"$aRoot/stac"
    val cogDir = s"$stacRoot/collections/$cid/cogs"
    Cog.run(spark, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    val consistent = inputs.map(_._2).toDF("cog_filename").select(
      col("cog_filename"), lit(5070).as("crs_epsg"),
      lit("indicator").as("data_type"), lit("water").as("wri_domain"),
      lit("status").as("wri_dimension"),
      lit(gx).as("extent_xmin"), lit(gx + 96 * 90.0).as("extent_xmax"),
      lit(gy - 64 * 90.0).as("extent_ymin"), lit(gy).as("extent_ymax"))
    val itemsDir = s"$stacRoot/collections/$cid/items"
    Stac.writeItems(Stac.buildItems(spark, consistent,
      hostedProbe = _ => true), itemsDir)
    val (minx, miny) = (gx + 10.3 * 90.0, gy - 50.7 * 90.0)
    val (maxx, maxy) = (gx + 80.6 * 90.0, gy - 5.2 * 90.0)
    val localStats = CogQuery.windowStatsGeo(spark, cogDir,
        Seq("layer_0.tif"), minx, miny, maxx, maxy)
      .select("n_valid", "vs_sum").head().toSeq
    val bearer = "Authorization" -> "Bearer sesame-42"
    TestHttp.withHttpServer(cogDir, requireAuth = Some(bearer)) { base =>
      // bare reader: 401 names the per-host conf key, no retry loop
      val e = intercept[IllegalArgumentException] {
        new HttpRangeReader(s"$base/layer_0.tif").length
      }
      assert(e.getMessage.contains("401") &&
        e.getMessage.contains("graft.http.auth.header.127.0.0.1"),
        e.getMessage)
      // a configured-but-wrong credential reports the rejection as a
      // credential problem, not a missing-conf problem
      val bad = intercept[IllegalArgumentException] {
        new HttpRangeReader(s"$base/layer_0.tif",
          headers = Seq("Authorization" -> "Bearer wrong")).length
      }
      assert(bad.getMessage.contains("rejected it"), bad.getMessage)
      // the consumer verb without the conf dies on the auth failure
      // (wrapped by the task; the root message survives)
      val verbErr = intercept[Exception] {
        Stac.getLayerNative(spark, itemsDir, "layer_0",
          minx, miny, maxx, maxy, hrefBase = Some(base),
          hostedOnly = true).count()
      }
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse(""))).mkString(" | ")
      assert(rootMsg(verbErr).contains("401"), rootMsg(verbErr).take(400))
      // with the per-host conf set, the SAME verbs stream the window —
      // auth is transport, not semantics: stats equal the local read
      val hconf = spark.sparkContext.hadoopConfiguration
      val key = s"${RangeReader.AuthHeaderPrefix}127.0.0.1"
      hconf.set(key, s"${bearer._1}: ${bearer._2}")
      try {
        val viaAuth = Stac.getLayerNative(spark, itemsDir, "layer_0",
            minx, miny, maxx, maxy, hrefBase = Some(base),
            hostedOnly = true)
          .select("n_valid", "vs_sum").head().toSeq
        assert(viaAuth == localStats,
          "the authenticated HTTP read drifted from the local read")
        val crop = Stac.getLayerData(spark, itemsDir, "layer_0",
          minx, miny, maxx, maxy, hrefBase = Some(base),
          hostedOnly = true)
        assert(crop.count() > 0, "the authenticated crop read no pixels")
      } finally hconf.unset(key)
    }
  }

  test("auth-header conf parsing: the value is one 'Name: value' header " +
      "scoped to its host — other hosts get nothing, a malformed value " +
      "refuses naming the key, and colons in the value survive") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set(s"${RangeReader.AuthHeaderPrefix}data.example.org",
      "Authorization: Bearer a:b:c")
    assert(RangeReader.authHeaderFor(
      "https://data.example.org/x.tif", conf) ==
      Seq("Authorization" -> "Bearer a:b:c"),
      "value colons must survive the one name/value split")
    assert(RangeReader.authHeaderFor(
      "https://other.example.org/x.tif", conf).isEmpty,
      "a credential must never apply to a host it was not scoped to")
    conf.set(s"${RangeReader.AuthHeaderPrefix}bad.example.org",
      "no-colon-here")
    val e = intercept[IllegalArgumentException] {
      RangeReader.authHeaderFor("http://bad.example.org/y", conf)
    }
    assert(e.getMessage.contains("bad.example.org"), e.getMessage)
  }

  test("the catalog-target resolve is capped loudly: a select-everything " +
      "filter over an over-cap catalog refuses with remediation BEFORE " +
      "opening any raster, instead of collecting the catalog silently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val capRoot = Files.createTempDirectory("wricap").toString
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    val consistent = (0 until 5).map(i => s"cap_$i.tif").toDF("cog_filename")
      .select(col("cog_filename"), lit(5070).as("crs_epsg"),
        lit("indicator").as("data_type"), lit("water").as("wri_domain"),
        lit("status").as("wri_dimension"),
        lit(gx).as("extent_xmin"), lit(gx + 96 * 90.0).as("extent_xmax"),
        lit(gy - 64 * 90.0).as("extent_ymin"), lit(gy).as("extent_ymax"))
    val itemsDir = s"$capRoot/items"
    // items only, NO rasters behind them — if the refusal came after
    // target resolution, the read would die on a missing file instead
    Stac.writeItems(Stac.buildItems(spark, consistent), itemsDir)
    sys.props("graft.stac.maxCatalogTargets") = "3"
    try {
      val e = intercept[IllegalArgumentException] {
        Stac.catalogWindowStats(spark, itemsDir,
          173.60, 54.70, 173.85, 54.92).count()
      }
      assert(e.getMessage.contains("narrow the filter"), e.getMessage)
    } finally sys.props -= "graft.stac.maxCatalogTargets"
    // a filter that pins the match set under the cap resolves fine (and
    // then fails on the absent raster — proving the cap check ran FIRST
    // above, on the same catalog)
    sys.props("graft.stac.maxCatalogTargets") = "3"
    try {
      val ok = Stac.catalogWindowStats(spark, itemsDir,
        173.60, 54.70, 173.85, 54.92,
        filter = col("item_id").isin("cap_0", "cap_1"))
      val err = intercept[Exception] { ok.count() }
      assert(!err.getMessage.contains("narrow the filter"))
    } finally sys.props -= "graft.stac.maxCatalogTargets"
  }

  // ---- HttpRangeReader robustness contract -----------------------------

  private lazy val cogFile = {
    val inputs = Fixtures.writeCogInputs(root)
    inputs.head._1
  }

  test("transient connection failures are retried with backoff — two " +
      "dead connections, then success") {
    withHttpServer(Paths.get(cogFile).getParent.toString, failFirstN = 2) {
      base =>
        val r = new HttpRangeReader(
          s"$base/${Paths.get(cogFile).getFileName}", maxAttempts = 4)
        val buf = new Array[Byte](16)
        r.readFully(0, buf)
        assert((buf(0) & 0xff) == 0x49 && (buf(1) & 0xff) == 0x49)
    }
  }

  test("throttle statuses (503) are retried like dead connections — " +
      "one SlowDown, then success") {
    withHttpServer(Paths.get(cogFile).getParent.toString,
        throttleFirstN = 1) { base =>
      val r = new HttpRangeReader(
        s"$base/${Paths.get(cogFile).getFileName}", maxAttempts = 3)
      val buf = new Array[Byte](16)
      r.readFully(0, buf)
      assert((buf(0) & 0xff) == 0x49 && (buf(1) & 0xff) == 0x49)
    }
  }

  test("retries are bounded: a server that always dies surfaces the " +
      "IOException after maxAttempts") {
    withHttpServer(Paths.get(cogFile).getParent.toString, failFirstN = 99) {
      base =>
        intercept[java.io.IOException] {
          new HttpRangeReader(
            s"$base/${Paths.get(cogFile).getFileName}", maxAttempts = 2)
            .length
        }
    }
  }

  test("a 206 whose Content-Range does not match the requested offsets " +
      "is rejected before any byte is trusted") {
    withHttpServer(Paths.get(cogFile).getParent.toString,
        contentRangeSkew = 8) { base =>
      val r = new HttpRangeReader(s"$base/${Paths.get(cogFile).getFileName}")
      val e = intercept[IllegalArgumentException] {
        r.readFully(100, new Array[Byte](16))
      }
      assert(e.getMessage.contains("answered"), e.getMessage)
    }
  }

  test("a credential never rides a redirect: with auth headers set, ANY " +
      "redirect is refused naming the target instead of auto-followed " +
      "(auto-follow would re-send the bearer to whatever host Location " +
      "names)") {
    withHttpServer(Paths.get(cogFile).getParent.toString,
        redirectTo = Some("http://elsewhere.invalid")) { base =>
      val e = intercept[IllegalArgumentException] {
        new HttpRangeReader(s"$base/${Paths.get(cogFile).getFileName}",
          headers = Seq("Authorization" -> "Bearer secret")).length
      }
      assert(e.getMessage.contains("elsewhere.invalid"), e.getMessage)
    }
  }

  test("a redirect the client cannot follow fails loudly, naming the " +
      "target URL") {
    withHttpServer(Paths.get(cogFile).getParent.toString,
        redirectTo = Some("https://moved.invalid")) { base =>
      val e = intercept[IllegalArgumentException] {
        new HttpRangeReader(s"$base/${Paths.get(cogFile).getFileName}")
          .length
      }
      assert(e.getMessage.contains("https://moved.invalid"), e.getMessage)
    }
  }

  test("a 200 is accepted exactly when the requested range IS the whole " +
      "object — and still rejected for partial ranges") {
    val dir = Paths.get(cogFile).getParent.toString
    val name = Paths.get(cogFile).getFileName.toString
    val whole = Files.readAllBytes(Paths.get(cogFile))
    withHttpServer(dir, ignoreRange = true) { base =>
      val r = new HttpRangeReader(s"$base/$name")
      val buf = new Array[Byte](whole.length)
      r.readFully(0, buf) // whole object: 200 is a legitimate answer
      assert(java.util.Arrays.equals(buf, whole))
      val e = intercept[IllegalArgumentException] {
        r.readFully(0, new Array[Byte](whole.length - 1))
      }
      assert(e.getMessage.contains("Range"), e.getMessage)
    }
  }

  test("every request carries Accept-Encoding: identity (raw-byte " +
      "arithmetic is the contract)") {
    val headers = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      headers.add(
        Option(exchange.getRequestHeaders.getFirst("Accept-Encoding"))
          .getOrElse("<none>"))
      exchange.getResponseHeaders.set("Content-Length", "4")
      exchange.sendResponseHeaders(200, -1)
      exchange.close()
    })
    server.start()
    try {
      val r = new HttpRangeReader(
        s"http://127.0.0.1:${server.getAddress.getPort}/x")
      assert(r.length == 4L)
      assert(headers.asScala.nonEmpty &&
        headers.asScala.forall(_ == "identity"))
    } finally server.stop(0)
  }

  test("every HEAD and GET the range reader sends announces " +
      "Connection: close, and a configured auth header still rides along") {
    val dir = Paths.get(cogFile).getParent.toString
    val name = Paths.get(cogFile).getFileName.toString
    val bearer = "Authorization" -> "Bearer close-7"
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    TestHttp.withHttpServer(dir, requireAuth = Some(bearer),
        connection = Some(seen)) { base =>
      val url = s"$base/$name"
      // requireAuth answers 401 to any request without the bearer, so
      // each call succeeding shows the header rode along
      assert(new HttpRangeReader(url, headers = Seq(bearer)).length ==
        Files.size(Paths.get(cogFile)))
      val r = new HttpRangeReader(url, headers = Seq(bearer))
      r.readPrefix(1024)
      r.readFully(100, new Array[Byte](16))
    }
    val got = seen.asScala.toSeq
    assert(got.map(_._1).sorted == Seq("GET", "GET", "HEAD"), got)
    assert(got.forall(_._2.equalsIgnoreCase("close")), got)
  }

  test("an open plus its header prefix is ONE request, the length comes " +
      "with it, and a crop's chunk tasks fetch only tiles; a file shorter " +
      "than the prefix reads whole from a clamped 206 and from a 200") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wrioneopen").toString
    Cog.run(spark, Fixtures.writeCogInputs(dir, n = 1)
        .toDF("filepath", "cog_filename"), s"$dir/cogs",
      TiffWriter.CogOptions(blockSize = 32)).count()
    val cog = "layer_0.tif"
    val whole = Files.readAllBytes(Paths.get(s"$dir/cogs/$cog"))
    Files.write(Paths.get(s"$dir/cogs/short.bin"), whole.take(100))
    val requested = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withHttpServer(s"$dir/cogs", requested = Some(requested)) { base =>
      val r = new HttpRangeReader(s"$base/$cog")
      assert(java.util.Arrays.equals(r.readPrefix(1024), whole.take(1024)))
      assert(r.length == whole.length.toLong)
      assert(requested.size == 1, requested)
      // clamped 206: the server shortens the range to the object
      val s = new HttpRangeReader(s"$base/short.bin")
      assert(java.util.Arrays.equals(s.readPrefix(1024), whole.take(100)))
      assert(s.length == 100L && requested.size == 2, requested)
      // a crop: the header job's one prefix request, then only the
      // window's tile ranges — no HEAD and no second prefix read
      requested.clear()
      val gx = -5216639.6695348294
      val gy = 6199081.688491997
      val (minx, miny, maxx, maxy) =
        (gx + 10.3 * 90.0, gy - 50.7 * 90.0, gx + 80.6 * 90.0, gy - 5.2 * 90.0)
      val crop = CogQuery.readWindowGeo(spark, base, Seq(cog),
        minx, miny, maxx, maxy).collect()
      val local = CogQuery.windowStatsGeo(spark, s"$dir/cogs", Seq(cog),
        minx, miny, maxx, maxy).head()
      assert(local.getAs[Long]("tiles_read") > 1L)
      assert(crop.length.toLong ==
        local.getAs[Long]("n_valid") + local.getAs[Long]("n_nan"))
      assert(requested.size.toLong == 1L + local.getAs[Long]("tiles_read"),
        requested)
    }
    withHttpServer(s"$dir/cogs", ignoreRange = true) { base =>
      // a 200 whose body fits the prefix is the whole object: accepted
      val s = new HttpRangeReader(s"$base/short.bin")
      assert(java.util.Arrays.equals(s.readPrefix(1024), whole.take(100)))
      assert(s.length == 100L)
      // a 200 larger than the prefix means Range was ignored: refused
      val e = intercept[IllegalArgumentException] {
        new HttpRangeReader(s"$base/$cog").readPrefix(1024)
      }
      assert(e.getMessage.contains("Range"), e.getMessage)
    }
  }

  test("the built-in hosting probe has auth parity with the range " +
      "reader: against a 401-rejecting mirror it probes hosted with " +
      "the per-host conf set and unhosted without it — and it never " +
      "follows redirects") {
    val cogDir = s"$root/probe_cogs"
    Files.createDirectories(Paths.get(cogDir))
    Files.write(Paths.get(s"$cogDir/layer_0.tif"), Array[Byte](1, 2, 3))
    val bearer = "Authorization" -> "Bearer probe-77"
    TestHttp.withHttpServer(cogDir, requireAuth = Some(bearer)) { base =>
      val baseUrl = s"$base/"
      val hconf = spark.sparkContext.hadoopConfiguration
      val key = s"${RangeReader.AuthHeaderPrefix}127.0.0.1"
      // without the conf: error->false stays the probe contract — the
      // token-protected mirror reads as unhosted, never as a crash
      assert(!Stac.knbProbe(spark, baseUrl)("layer_0.tif"),
        "an unauthenticated probe against a 401 mirror claimed hosted")
      hconf.set(key, s"${bearer._1}: ${bearer._2}")
      try {
        // with the conf: the SAME built-in probe presents the header —
        // through the spark factory (broadcast conf, the production
        // wiring), so the credential reaches wherever the probe runs
        val probe = Stac.knbProbe(spark, baseUrl)
        assert(probe("layer_0.tif"),
          "the configured credential did not reach the hosting probe")
        assert(!probe("absent.tif"),
          "a 404 must still probe unhosted, credential or not")
      } finally hconf.unset(key)
    }
    // redirect discipline: a mirror that answers 3xx probes UNHOSTED
    // even with a credential configured — the probe must never follow
    // Location (auto-follow would re-present the header to whatever
    // host the mirror names)
    TestHttp.withHttpServer(cogDir,
      redirectTo = Some("https://elsewhere.example.org/")) { base =>
      val hconf = spark.sparkContext.hadoopConfiguration
      val key = s"${RangeReader.AuthHeaderPrefix}127.0.0.1"
      hconf.set(key, "Authorization: Bearer probe-77")
      try assert(!Stac.knbProbe(spark, s"$base/")("layer_0.tif"),
        "the probe followed a redirect")
      finally hconf.unset(key)
    }
  }

  test("credential scoping: a port-scoped conf key wins over the bare " +
      "host key and never rides other ports; a configured credential " +
      "refuses plain http:// to a non-loopback host (cleartext guard)") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set(s"${RangeReader.AuthHeaderPrefix}data.example.org",
      "Authorization: Bearer host-wide")
    conf.set(s"${RangeReader.AuthHeaderPrefix}data.example.org:8443",
      "Authorization: Bearer port-scoped")
    assert(RangeReader.authHeaderFor(
      "https://data.example.org:8443/x.tif", conf) ==
      Seq("Authorization" -> "Bearer port-scoped"),
      "the port-scoped key must win on its port")
    assert(RangeReader.authHeaderFor(
      "https://data.example.org:9000/x.tif", conf) ==
      Seq("Authorization" -> "Bearer host-wide"),
      "other ports fall back to the bare host key")
    assert(RangeReader.authHeaderFor(
      "https://data.example.org/x.tif", conf) ==
      Seq("Authorization" -> "Bearer host-wide"))
    // port-ONLY scoping: with no bare-host key, the other ports get
    // nothing at all
    val confPortOnly = new org.apache.hadoop.conf.Configuration(false)
    confPortOnly.set(s"${RangeReader.AuthHeaderPrefix}data.example.org:8443",
      "Authorization: Bearer port-scoped")
    assert(RangeReader.authHeaderFor(
      "https://data.example.org:9000/x.tif", confPortOnly).isEmpty,
      "a port-scoped credential rode a different port")
    // cleartext guard: plain http to a non-loopback host REFUSES (naming
    // the key) rather than putting the bearer on the wire — or silently
    // dropping it into a misleading 401
    val clear = intercept[IllegalArgumentException] {
      RangeReader.authHeaderFor("http://data.example.org/x.tif", conf)
    }
    assert(clear.getMessage.contains("cleartext") &&
      clear.getMessage.contains("data.example.org"), clear.getMessage)
    // loopback http stays allowed — local test servers are the one
    // legitimate cleartext case
    val confLoop = new org.apache.hadoop.conf.Configuration(false)
    confLoop.set(s"${RangeReader.AuthHeaderPrefix}127.0.0.1",
      "Authorization: Bearer local")
    assert(RangeReader.authHeaderFor(
      "http://127.0.0.1:8000/x.tif", confLoop) ==
      Seq("Authorization" -> "Bearer local"))
    // the guard is not textual-prefix dupable: a DNS name whose first
    // label is "127" is a REMOTE host, and an uppercase scheme is the
    // same cleartext transport (schemes are case-insensitive)
    val conf127 = new org.apache.hadoop.conf.Configuration(false)
    conf127.set(s"${RangeReader.AuthHeaderPrefix}127.data.example.org",
      "Authorization: Bearer sneaky")
    val fakeLoop = intercept[IllegalArgumentException] {
      RangeReader.authHeaderFor(
        "http://127.data.example.org/x.tif", conf127)
    }
    assert(fakeLoop.getMessage.contains("cleartext"), fakeLoop.getMessage)
    val upper = intercept[IllegalArgumentException] {
      RangeReader.authHeaderFor("HTTP://data.example.org/x.tif", conf)
    }
    assert(upper.getMessage.contains("cleartext"), upper.getMessage)
  }
}
