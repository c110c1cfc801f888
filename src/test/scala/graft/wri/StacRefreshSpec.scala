package graft.wri

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Stac.refreshCatalog]] legs the DuckDB oracle cannot see: untouched
  * files keep their bytes AND mtimes (the rsync/CDN no-op property),
  * orphans survive un-pruned by default, and the collection document
  * tracks the post-delta item set. */
class StacRefreshSpec extends SparkSpec {
  import spark.implicits._

  private val gx = -5216639.6695348294
  private val gy = 6199081.688491997

  private def consistentOf(layers: Seq[(String, Double)]): DataFrame =
    layers.toDF("cog_filename", "shift").select(
      col("cog_filename"), lit(5070).as("crs_epsg"),
      lit("indicator").as("data_type"), lit("water").as("wri_domain"),
      lit("status").as("wri_dimension"),
      lit(gx).as("extent_xmin"),
      (lit(gx + 96 * 90.0) + col("shift")).as("extent_xmax"),
      lit(gy - 64 * 90.0).as("extent_ymin"), lit(gy).as("extent_ymax"),
      col("cog_filename").as("filepath"),
      col("cog_filename").as("filename"))

  /** A file-arrival stream of the `.tif` files under `dir`, as the
    * (path, length) rows [[Stac.refreshBatch]] takes. Column pruning
    * keeps the binaryFile source's `content` out of the plan. */
  private def arrivals(dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.readStream.format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", "*.tif")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("length"))
  }

  /** Spark jobs `body` submits. Job ids are sequential, so the gap
    * between two marker jobs counts every job started in between. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    def marker(): Int = {
      val f = sc.parallelize(Seq(1), 1).countAsync()
      f.get()
      f.jobIds.head
    }
    val a = marker(); body; marker() - a - 1
  }

  /** A header-only GeoTIFF fixture at `base`/`rel`; returns its path. */
  private def putLayer(base: String, rel: String): String = {
    import Model.Expected
    val p = java.nio.file.Paths.get(base, rel)
    java.nio.file.Files.createDirectories(p.getParent)
    TiffWriter.writeHeaderFixture(p.toString, Fixtures.W, Fixtures.H,
      TiffIO.GeoInfo(Expected.epsg, Expected.resX, Expected.resY, gx, gy))
    p.toString
  }

  /** (path, length) rows for `paths`, the batch [[Stac.refreshBatch]]
    * takes. */
  private def batchOf(paths: Seq[String]): DataFrame =
    paths.map(p => (p, new java.io.File(p).length)).toDF("path", "length")

  test("refreshCatalog commits only the delta: unchanged files keep " +
      "their mtime, changed documents rewrite, orphans report (and " +
      "only prune on request), and the collection tracks the result") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_refresh").toString
    val itemsDir = s"$root/collections/${Model.collectionId}/items"
    Stac.run(spark, consistentOf(Seq(
      "keep.tif" -> 0.0, "drift.tif" -> 0.0, "gone.tif" -> 0.0)), root)
    val keepFile = new java.io.File(s"$itemsDir/keep.json")
    val driftFile = new java.io.File(s"$itemsDir/drift.json")
    val (keepM, driftBytes) =
      (keepFile.lastModified(),
        java.nio.file.Files.readAllBytes(driftFile.toPath).toSeq)
    Thread.sleep(1100) // local-fs mtime granularity can be a second
    val next = consistentOf(Seq(
      "keep.tif" -> 0.0, "drift.tif" -> 900.0, "fresh.tif" -> 0.0))
    // default: orphans are REPORTED, never deleted
    val audit = Stac.refreshCatalog(spark, next, root)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(audit == Map("keep" -> "unchanged", "drift" -> "rewritten",
      "fresh" -> "written", "gone" -> "orphaned"), audit.toString)
    assert(new java.io.File(s"$itemsDir/gone.json").exists(),
      "an orphan was deleted without pruneOrphans")
    assert(keepFile.lastModified() == keepM,
      "an unchanged item document was rewritten (mtime moved) — " +
        "catalog syncs would re-ship every file")
    assert(java.nio.file.Files.readAllBytes(driftFile.toPath).toSeq
      != driftBytes, "a changed item document was not rewritten")
    // idempotent: a second refresh with the same table is all-unchanged
    val again = Stac.refreshCatalog(spark, next, root, pruneOrphans = true)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == Map("keep" -> "unchanged", "drift" -> "unchanged",
      "fresh" -> "unchanged", "gone" -> "pruned"), again.toString)
    assert(!new java.io.File(s"$itemsDir/gone.json").exists())
    // the rebuilt collection links exactly the surviving items
    val coll = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        s"$root/collections/${Model.collectionId}/collection.json")),
      "UTF-8")
    assert(coll.contains("fresh.json") && !coll.contains("gone.json"),
      "collection.json does not track the post-delta item set")
  }

  test("a refresh that FLIPS an item's hosted status is surfaced " +
      "distinctly in the audit — a CI run that omits the build-time " +
      "hostedProbe must not read as an ordinary rewrite") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_refresh_hosted").toString
    val meta = consistentOf(Seq("host.tif" -> 0.0, "plain.tif" -> 0.0))
    Stac.run(spark, meta, root, hostedProbe = _ == "host.tif")
    // with the SAME probe the refresh is a no-op — the documented
    // contract: pass the build-time probe on refresh
    val same = Stac.refreshCatalog(spark, meta, root,
        hostedProbe = _ == "host.tif")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(same.values.forall(_ == "unchanged"), same.toString)
    // the probe-omitting refresh: host.tif silently demotes — the
    // audit must NAME the hosted-status flip, not bury it in
    // "rewritten"
    val audit = Stac.refreshCatalog(spark, meta, root)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(audit == Map("host" -> "rewritten(is_hosted)",
      "plain" -> "unchanged"), audit.toString)
  }

  test("streaming catalog refresh: file arrivals become catalog updates " +
      "— two micro-batches (new layer + re-delivered layer) end equal " +
      "to the batch twin over the final tree, and a replayed batch is " +
      "a no-op") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_stream").toString
    val dataDir = s"$root/data"
    // batch 1: an aggregate + an indicator (its first delivery)
    putLayer(dataDir, "air_quality/air_quality_domain_score.tif")
    putLayer(dataDir, "water/indicators/flow_recovery_v1.tif")
    val stacRoot = s"$root/stac"
    val itemsDir = s"$stacRoot/collections/${Model.collectionId}/items"
    // each arrival batch runs refreshBatch — the per-upload-batch unit
    val q = arrivals(dataDir).writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Stac.refreshBatch(batch, id, s"$root/meta", stacRoot, _ => false)
      }
      .start()
    try {
      q.processAllAvailable()
      assert(Stac.listItemIds(itemsDir) ==
        Seq("air_quality_domain_score", "flow_recovery_v1"))
      val flowV1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths
        .get(s"$itemsDir/flow_recovery_v1.json")).toSeq
      // batch 2: a NEW layer arrives, and flow_recovery_v1 is
      // RE-DELIVERED from a new path (re-uploads land as new files) —
      // its domain classification changes, so the document must follow
      putLayer(dataDir, "livelihoods/indicators/jobs_resistance_v1.tif")
      putLayer(dataDir, "carbon/indicators/flow_recovery_v1.tif")
      q.processAllAvailable()
      assert(Stac.listItemIds(itemsDir) ==
        Seq("air_quality_domain_score", "flow_recovery_v1",
          "jobs_resistance_v1"))
      assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths
        .get(s"$itemsDir/flow_recovery_v1.json")).toSeq != flowV1,
        "the re-delivered layer's document did not follow the delivery")
    } finally q.stop()
    // the streamed catalog equals the BATCH twin over the final tree
    // (the state a hand rerun of 02b would see after the uploads)
    val twinData = s"$root/twin_data"
    putLayer(twinData, "air_quality/air_quality_domain_score.tif")
    putLayer(twinData, "carbon/indicators/flow_recovery_v1.tif")
    putLayer(twinData, "livelihoods/indicators/jobs_resistance_v1.tif")
    val twinRoot = s"$root/twin_stac"
    Stac.run(spark, Inventory.run(spark, twinData).consistent, twinRoot)
    val twinItems = s"$twinRoot/collections/${Model.collectionId}/items"
    Stac.listItemIds(twinItems).foreach { id =>
      val a = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$itemsDir/$id.json")), "UTF-8")
      val b = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$twinItems/$id.json")), "UTF-8")
      assert(a == b, s"streamed item $id drifted from the batch twin")
    }
    // replay safety: the SAME micro-batch body run twice with one batch
    // id (the post-crash foreachBatch contract) leaves store and
    // catalog byte-identical — overwrite landing + delta refresh
    val replay = batchOf(Seq(
      s"$dataDir/livelihoods/indicators/jobs_resistance_v1.tif"))
    Stac.refreshBatch(replay, 99L, s"$root/meta", stacRoot,
      _ => false)
    val mtimes = Stac.listItemIds(itemsDir).map(id =>
      id -> new java.io.File(s"$itemsDir/$id.json").lastModified).toMap
    Thread.sleep(1100) // local-fs mtime granularity
    Stac.refreshBatch(replay, 99L, s"$root/meta", stacRoot,
      _ => false)
    Stac.listItemIds(itemsDir).foreach { id =>
      assert(new java.io.File(s"$itemsDir/$id.json").lastModified ==
        mtimes(id), s"replaying a micro-batch rewrote item $id")
    }
  }

  /** The flat rows the item documents under `itemsDir` hold, parsed
    * with Jackson: the oracle [[Stac.readItems]] must match. */
  private def documentRows(itemsDir: String): Set[org.apache.spark.sql.Row] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Stac.listItemIds(itemsDir).map { id =>
      val j = mapper.readTree(new java.io.File(s"$itemsDir/$id.json"))
      val p = j.path("properties")
      val b = j.path("bbox")
      org.apache.spark.sql.Row(j.path("id").asText, j.path("collection").asText,
        p.path("datetime").asText, p.path("data_type").asText,
        p.path("wri_domain").asText, p.path("wri_dimension").asText,
        p.path("is_hosted").asBoolean,
        b.get(0).asDouble, b.get(1).asDouble, b.get(2).asDouble,
        b.get(3).asDouble, j.path("assets").path("data").path("href").asText)
    }.toSet
  }

  test("readItems answers from the item documents alone: after a " +
      "publish, a refresh and an out-of-band writeItems it returns " +
      "exactly the documents' rows, and no publish verb writes a " +
      "second copy of the catalog") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_read_items").toString
    val itemsDir = s"$root/collections/${Model.collectionId}/items"
    def check(step: String, ids: Set[String]): Unit = {
      val got = Stac.readItems(spark, itemsDir).collect().toSet
      assert(got.map(_.getString(0)) == ids, s"$step: ${got.map(_.getString(0))}")
      assert(got == documentRows(itemsDir),
        s"$step: readItems drifted from the documents")
    }
    Stac.run(spark, consistentOf(Seq("a.tif" -> 0.0, "b.tif" -> 0.0)), root)
    check("publish", Set("a", "b"))
    Stac.refreshCatalog(spark, consistentOf(Seq(
      "a.tif" -> 0.0, "b.tif" -> 900.0, "c.tif" -> 0.0)), root)
    check("refresh", Set("a", "b", "c"))
    Stac.writeItems(Stac.buildItems(spark,
      consistentOf(Seq("d.tif" -> 0.0))), itemsDir)
    check("out-of-band writeItems", Set("a", "b", "c", "d"))
    val collection = new java.io.File(itemsDir).getParentFile
    assert(collection.list().sorted.toSeq == Seq("collection.json", "items"),
      s"the publish verbs left more than the documents: " +
        collection.list().mkString(", "))
  }

  test("readItems equals Spark's JSON file scan of the item documents: " +
      "a malformed document, a wrong-typed bbox, names starting with _ " +
      "or . and a .json.tmp, an empty and a missing directory") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_read_oracle").toString
    val itemsDir = s"$root/collections/${Model.collectionId}/items"
    Stac.writeItems(Stac.buildItems(spark, consistentOf(Seq(
      "a.tif" -> 0.0, "b.tif" -> 900.0)), hostedProbe = _ == "a.tif"),
      itemsDir)
    val doc = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$itemsDir/a.json"))
    def put(name: String, text: String): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$itemsDir/$name"), text)
    put("malformed.json", doc.take(doc.length / 2))
    put("wrongbbox.json", doc.replace("\"id\" : \"a\"", "\"id\" : \"wb\"")
      .replaceFirst("(?s)\"bbox\" : \\[.*?\\]", "\"bbox\" : \"west\""))
    put("_hidden.json", doc.replace("\"id\" : \"a\"", "\"id\" : \"u\""))
    put(".hidden.json", doc.replace("\"id\" : \"a\"", "\"id\" : \"d\""))
    put("c.json.tmp", doc.replace("\"id\" : \"a\"", "\"id\" : \"t\""))
    assert(doc.contains("\"id\" : \"a\"") &&
      !java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$itemsDir/wrongbbox.json")).contains("\"bbox\" : ["))
    // the file-source scan readItems replaced, rebuilt as the oracle
    val docSchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(
        StructField("id", StringType),
        StructField("collection", StringType),
        StructField("bbox", ArrayType(DoubleType)),
        StructField("properties", StructType(Seq(
          StructField("datetime", StringType),
          StructField("data_type", StringType),
          StructField("wri_domain", StringType),
          StructField("wri_dimension", StringType),
          StructField("is_hosted", BooleanType)))),
        StructField("assets", StructType(Seq(
          StructField("data", StructType(Seq(
            StructField("href", StringType)))))))))
    }
    def scan(dir: String): DataFrame =
      spark.read.schema(docSchema).option("multiLine", "true")
        .json(s"$dir/*.json")
        .select(
          col("id").as("item_id"),
          col("collection"),
          col("properties.datetime").as("datetime"),
          col("properties.data_type").as("data_type"),
          col("properties.wri_domain").as("wri_domain"),
          col("properties.wri_dimension").as("wri_dimension"),
          col("properties.is_hosted").as("is_hosted"),
          col("bbox")(0).as("bbox_w"), col("bbox")(1).as("bbox_s"),
          col("bbox")(2).as("bbox_e"), col("bbox")(3).as("bbox_n"),
          col("assets.data.href").as("href"))
    val want = scan(itemsDir)
    val got = Stac.readItems(spark, itemsDir)
    assert(got.schema == want.schema, got.schema.treeString)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))
    assert(rows(got) == rows(want))
    val ids = rows(got).map(_.head).toSet
    assert(Set[Any]("a", "b").subsetOf(ids) &&
      (ids & Set[Any]("u", "d", "t")).isEmpty, ids)
    // an empty and a missing directory: the old read's listing gate
    // answered both with an empty table of the same shape
    val empty = s"$root/empty"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    for (dir <- Seq(empty, s"$root/missing")) {
      val r = Stac.readItems(spark, dir)
      assert(r.schema == want.schema && r.isEmpty, dir)
    }
    // one item-document predicate: a pruning refresh deletes the two
    // documents it does not plan (malformed, wrongbbox) and keeps the
    // names readItems skips; then the listing, the collection's
    // rel=item links and readItems name the same items
    val audit = Stac.refreshCatalog(spark, consistentOf(Seq(
      "a.tif" -> 0.0, "b.tif" -> 900.0)), root,
      hostedProbe = _ == "a.tif", pruneOrphans = true)
      .as[(String, String)].collect().toMap
    assert(audit == Map("a" -> "unchanged", "b" -> "unchanged",
      "malformed" -> "pruned", "wrongbbox" -> "pruned"), audit)
    for (n <- Seq("_hidden.json", ".hidden.json", "c.json.tmp"))
      assert(new java.io.File(s"$itemsDir/$n").isFile, s"$n was swept")
    val readIds = Stac.readItems(spark, itemsDir).select("item_id")
      .as[String].collect().sorted.toSeq
    val links = {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(itemsDir).getParentFile
          .toPath.resolve("collection.json").toFile)
        .path("links").elements().asScala
        .filter(_.path("rel").asText == "item")
        .map(_.path("href").asText).toSeq
    }
    assert(readIds == Seq("a", "b"), readIds)
    assert(Stac.listItemIds(itemsDir) == readIds)
    assert(links == readIds.map(id => s"items/$id.json"), links)
  }

  test("Stac.run builds each item once: the hosting probe runs exactly " +
      "once per item across the whole publish") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_probe_once").toString
    val calls = spark.sparkContext.longAccumulator("stac_probe_calls")
    val items = Stac.run(spark, consistentOf(Seq(
      "a.tif" -> 0.0, "b.tif" -> 0.0, "c.tif" -> 0.0)), root,
      hostedProbe = { _ => calls.add(1); true })
    assert(calls.value == 3L, s"${calls.value} probe calls for 3 items")
    // the returned rows are local: acting on them probes nothing again
    assert(items.count() == 3L)
    assert(items.filter(col("is_hosted")).count() == 3L)
    assert(calls.value == 3L,
      s"${calls.value} probe calls after counting Stac.run's result")
    assert(Stac.listItemIds(
      s"$root/collections/${Model.collectionId}/items") ==
      Seq("a", "b", "c"))
  }

  test("refreshCatalog releases every block it persists: the persistent " +
      "RDD count is the same before the refresh and after its audit is " +
      "collected, for a local and for a checkpointed metadata table") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_refresh_release").toString
    val sc = spark.sparkContext
    Stac.run(spark, consistentOf(Seq("a.tif" -> 0.0)), root)
    Seq(consistentOf(Seq("a.tif" -> 0.0, "b.tif" -> 0.0)),
        consistentOf(Seq("a.tif" -> 900.0, "c.tif" -> 0.0)).repartition(2))
      .foreach { meta =>
        val before = sc.getPersistentRDDs.size
        val audit = Stac.refreshCatalog(spark, meta, root).collect()
        assert(audit.nonEmpty)
        assert(sc.getPersistentRDDs.size == before,
          s"refreshCatalog left ${sc.getPersistentRDDs.size - before} " +
            "persisted RDD(s) behind")
      }
    // refreshBatch, without and then with a compaction (threshold 2:
    // the second batch's landing makes two batch partitions and folds)
    val data = s"$root/data"
    Seq(
      "water/indicators/flow_recovery_v1.tif" -> "without",
      "air_quality/air_quality_domain_score.tif" -> "with"
    ).zipWithIndex.foreach { case ((rel, compaction), id) =>
      val before = sc.getPersistentRDDs.size
      Stac.refreshBatch(batchOf(Seq(putLayer(data, rel))), id.toLong,
        s"$root/meta", root, _ => false, 2)
      assert(sc.getPersistentRDDs.size == before,
        s"refreshBatch $compaction a compaction left " +
          s"${sc.getPersistentRDDs.size - before} persisted RDD(s) behind")
    }
    assert(new java.io.File(s"$root/meta/compacted").list().toSeq ==
      Seq("gen-1"), "the second batch did not compact")
  }

  test("the refresh path's Spark jobs: an all-unchanged refreshCatalog " +
      "over a local table runs no write job, and a non-compacting " +
      "refreshBatch runs a pinned number of jobs") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_refresh_jobs").toString
    val meta = consistentOf(Seq("a.tif" -> 0.0, "b.tif" -> 0.0))
    Stac.run(spark, meta, root)
    // the classification collect, and the collection summary's two
    // (its aggregate's shuffle stage, then the result)
    var audit = Array.empty[(String, String)]
    assert(jobsDuring {
      audit = Stac.refreshCatalog(spark, meta, root)
        .as[(String, String)].collect()
    } == 3)
    assert(audit.toMap == Map("a" -> "unchanged", "b" -> "unchanged"),
      audit.toSeq)
    // the header scan's two (an adaptive query stage, then the collect),
    // the landing, latest-wins' two (the window's shuffle stage, then
    // the collect), the classification, the one changed document's
    // write and the collection summary's two
    val data = s"$root/data"
    val stacRoot = s"$root/stream"
    Stac.refreshBatch(batchOf(Seq(putLayer(data,
      "water/indicators/flow_recovery_v1.tif"))), 0L, s"$root/meta",
      stacRoot, _ => false)
    assert(jobsDuring {
      Stac.refreshBatch(batchOf(Seq(putLayer(data,
        "air_quality/air_quality_domain_score.tif"))), 1L, s"$root/meta",
        stacRoot, _ => false)
    } == 9)
    assert(Stac.listItemIds(
      s"$stacRoot/collections/${Model.collectionId}/items") ==
      Seq("air_quality_domain_score", "flow_recovery_v1"))
  }

  test("streaming refresh over an AUTHENTICATED mirror: micro-batch " +
      "header scans and hosting probes present the per-host credential " +
      "from inside foreachBatch, and the streamed hosted catalog " +
      "equals the batch twin built over the same URLs") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_stream_auth").toString
    val dataDir = s"$root/data"
    val rels = Seq(
      "air_quality/air_quality_domain_score.tif",
      "water/indicators/flow_recovery_v1.tif",
      "livelihoods/indicators/jobs_resistance_v1.tif")
    putLayer(dataDir, rels.head); putLayer(dataDir, rels(1))
    // the FLAT hosted mirror the probe HEADs (production probes
    // base + cog_filename, not the delivery tree's nested layout) —
    // token-protected like the delivery mirror
    val hostedDir = s"$root/hosted"
    rels.foreach(rel => putLayer(hostedDir, rel.split('/').last))
    val bearer = "Authorization" -> "Bearer stream-auth-9"
    graft.wri.TestHttp.withHttpServer(dataDir,
        requireAuth = Some(bearer)) { base =>
    graft.wri.TestHttp.withHttpServer(hostedDir,
        requireAuth = Some(bearer)) { hostedBase =>
      val hconf = spark.sparkContext.hadoopConfiguration
      val key = s"${RangeReader.AuthHeaderPrefix}127.0.0.1"
      // without the conf, the 401 header scans surface as ERROR ROWS
      // (the stage-00 validation-as-data discipline — each error names
      // the conf key via HttpRangeReader's refusal) and ZERO items
      // land; only the credential makes the identical batch publish,
      // so the positive legs below prove it reached the executors
      Stac.refreshBatch(
        Seq((s"$base/${rels.head}", 4096L)).toDF("path", "length"),
        0L, s"$root/meta_bare", s"$root/stac_bare", _ => false)
      assert(Stac.listItemIds(
        s"$root/stac_bare/collections/${Model.collectionId}/items")
        .isEmpty,
        "an unauthenticated micro-batch landed catalog items")
      hconf.set(key, s"${bearer._1}: ${bearer._2}")
      try {
        // the real stream: arrivals land locally (a binaryFile source
        // cannot list an HTTP mirror), each micro-batch's paths map to
        // their mirror URLs, and refreshBatch — the documented
        // composable unit — runs the identical landing/refresh body.
        // Header scans AND the hosting probe then range-read/HEAD the
        // 401-protected server from inside foreachBatch.
        val probe = Stac.knbProbe(spark, s"$hostedBase/")
        val stacRoot = s"$root/stac"
        val q = arrivals(dataDir)
          .select(
            regexp_replace(col("path"),
              "^file:" + java.util.regex.Pattern.quote(dataDir),
              base).as("path"),
            col("length"))
          .writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
              id: Long) =>
            Stac.refreshBatch(batch, id, s"$root/meta", stacRoot, probe)
          }
          .start()
        val itemsDir = s"$stacRoot/collections/${Model.collectionId}/items"
        try {
          q.processAllAvailable()
          assert(Stac.listItemIds(itemsDir) ==
            Seq("air_quality_domain_score", "flow_recovery_v1"))
          putLayer(dataDir, rels(2)) // micro-batch 2
          q.processAllAvailable()
          assert(Stac.listItemIds(itemsDir).size == 3)
        } finally q.stop()
        // every streamed item probed HOSTED — the credential reached
        // the probes that ran inside the micro-batch
        val streamed = Stac.readItems(spark, itemsDir)
        assert(streamed.filter(!col("is_hosted")).count() == 0,
          "a layer probed unhosted despite the configured credential")
        // …and the whole catalog equals the batch twin built over the
        // SAME authenticated URLs
        val twinRoot = s"$root/twin"
        Stac.run(spark,
          Inventory.runOverUrls(spark, rels.map(r => s"$base/$r"))
            .consistent, twinRoot, hostedProbe = probe)
        val twinItems = s"$twinRoot/collections/${Model.collectionId}/items"
        Stac.listItemIds(twinItems).foreach { id =>
          val a = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$itemsDir/$id.json")), "UTF-8")
          val b = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$twinItems/$id.json")), "UTF-8")
          assert(a == b, s"streamed authenticated item $id drifted " +
            "from the batch twin")
        }
      } finally hconf.unset(key)
    }}
  }

  test("a FOREIGN delete that lands after the refresh classified the " +
      "document (before the listing) is repaired: the vanished document " +
      "is rewritten byte-identical from the plan") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_foreign_delete").toString
    val itemsDir = s"$root/collections/${Model.collectionId}/items"
    // ONE partition ordered keep, also: the task classifies keep before
    // it builds also, so keep reads "unchanged" and only then vanishes
    val meta = consistentOf(Seq("keep.tif" -> 0.0, "also.tif" -> 0.0))
      .coalesce(1)
    Stac.run(spark, meta, root)
    val keepBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$itemsDir/keep.json")).toSeq
    // the hostedProbe runs INSIDE phase 1, so its call for also.tif is
    // the foreign delete landing between keep's classification and the
    // post-write listing. The hook signals through the FILESYSTEM: Spark
    // serializes the closure per task even in local mode, so caller-side
    // mutable state would be a per-task copy
    val markerPath = s"$root/delete_fired.marker" // String: Path is
    val keepPath = s"$itemsDir/keep.json"         // not serializable
    val audit = Stac.refreshCatalog(spark, meta, root,
        hostedProbe = { f =>
          if (f == "also.tif" && java.nio.file.Files.deleteIfExists(
              java.nio.file.Paths.get(keepPath)))
            java.nio.file.Files.createFile(
              java.nio.file.Paths.get(markerPath))
          false
        })
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(audit == Map("keep" -> "unchanged", "also" -> "unchanged"),
      audit.toString)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(markerPath)),
      "the interleaving hook never fired")
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$itemsDir/keep.json")).toSeq == keepBytes,
      "the mid-refresh foreign delete was not repaired")
    assert(Stac.readItems(spark, itemsDir)
      .filter(col("item_id") === "keep").count() == 1)
  }

  test("metadata-store compaction: the streaming store folds to one " +
      "latest-wins generation once the batch-partition count hits the " +
      "threshold, the catalog equals the never-compacted twin " +
      "byte-for-byte, and replaying an already-FOLDED batch id is " +
      "still a no-op") {
    def drive(threshold: Int): (String, String) = {
      val root = java.nio.file.Files
        .createTempDirectory(s"meta_compact_$threshold").toString
      val data = s"$root/data"
      val stacRoot = s"$root/stac"
      // four micro-batches, one per threshold boundary, including a
      // RE-DELIVERY whose domain changes across the fold boundary —
      // latest-wins must survive the fold
      Stac.refreshBatch(batchOf(Seq(
          putLayer(data, "water/indicators/flow_recovery_v1.tif"),
          putLayer(data, "air_quality/air_quality_domain_score.tif"))),
        0L, s"$root/meta", stacRoot, _ => false, threshold)
      Stac.refreshBatch(batchOf(Seq(
          putLayer(data, "livelihoods/indicators/jobs_resistance_v1.tif"))),
        1L, s"$root/meta", stacRoot, _ => false, threshold)
      // at threshold 2 the folds fire inside the batch-1 and batch-3
      // calls (landing first, then the count check) — so the
      // re-delivery below lands AFTER a fold and its winner must
      // outrank the folded generation's batch-0 row
      Stac.refreshBatch(batchOf(Seq(
          putLayer(data, "carbon/indicators/flow_recovery_v1.tif"))),
        2L, s"$root/meta", stacRoot, _ => false, threshold)
      Stac.refreshBatch(batchOf(Seq(
          putLayer(data, "biodiversity/indicators/habitat_stability_v1.tif"))),
        3L, s"$root/meta", stacRoot, _ => false, threshold)
      (root, s"$stacRoot/collections/${Model.collectionId}/items")
    }
    val (rootC, itemsC) = drive(2) // compacts (twice, at batches 2 and 3)
    val (rootU, itemsU) = drive(0) // compaction disabled
    // the folded store is BOUNDED; the unfolded one holds every batch
    def batchDirs(root: String) =
      new java.io.File(s"$root/meta").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).length
    assert(batchDirs(rootU) == 4, s"twin landed ${batchDirs(rootU)} dirs")
    assert(batchDirs(rootC) <= 2,
      s"compaction left ${batchDirs(rootC)} batch partitions standing")
    assert(new java.io.File(s"$rootC/meta/compacted").listFiles()
      .count(_.getName.startsWith("gen-")) == 1,
      "compaction did not leave exactly the newest generation")
    // identical catalogs — compaction is invisible to the items
    assert(Stac.listItemIds(itemsC) == Stac.listItemIds(itemsU))
    Stac.listItemIds(itemsC).foreach { id =>
      val a = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$itemsC/$id.json")), "UTF-8")
      val b = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$itemsU/$id.json")), "UTF-8")
      assert(a == b, s"item $id drifted under compaction")
    }
    // the re-delivered layer's winner crossed the fold: batch 2 wins
    assert(Stac.readItems(spark, itemsC)
      .filter(col("item_id") === "flow_recovery_v1")
      .select("wri_domain").as[String].head() == "carbon",
      "latest-wins regressed across the fold")
    // replaying a FOLDED batch id (0 was folded into the generation):
    // the landing recreates batch=0, latest-wins still answers from
    // the generation's newer winners, and no document moves
    val replay = batchOf(Seq(
      s"$rootC/data/water/indicators/flow_recovery_v1.tif"))
    val mtimes = Stac.listItemIds(itemsC).map(id =>
      id -> new java.io.File(s"$itemsC/$id.json").lastModified).toMap
    Thread.sleep(1100) // local-fs mtime granularity
    Stac.refreshBatch(replay, 0L, s"$rootC/meta", s"$rootC/stac",
      _ => false, 2)
    Stac.listItemIds(itemsC).foreach { id =>
      assert(new java.io.File(s"$itemsC/$id.json").lastModified ==
        mtimes(id), s"replaying a folded micro-batch rewrote item $id")
    }
    assert(Stac.readItems(spark, itemsC)
      .filter(col("item_id") === "flow_recovery_v1")
      .select("wri_domain").as[String].head() == "carbon",
      "a folded batch's replay outranked the generation's newer winner")
  }

  test("an EMPTY metadata table refuses the refresh BEFORE touching " +
      "anything — an upstream outage reading zero rows cannot gut a " +
      "published catalog through pruneOrphans") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_refresh_empty").toString
    val itemsDir = s"$root/collections/${Model.collectionId}/items"
    Stac.run(spark, consistentOf(Seq("keep.tif" -> 0.0)), root)
    val e = intercept[IllegalArgumentException] {
      Stac.refreshCatalog(spark,
        consistentOf(Seq("keep.tif" -> 0.0)).limit(0), root,
        pruneOrphans = true)
    }
    assert(e.getMessage.contains("EMPTY"), e.getMessage)
    assert(new java.io.File(s"$itemsDir/keep.json").exists(),
      "an empty refresh destroyed catalog items before refusing")
    // nor does it create anything: refused against a root that holds no
    // catalog yet, the root stays empty
    val fresh = java.nio.file.Files.createTempDirectory("stac_refresh_none")
    intercept[IllegalArgumentException] {
      Stac.refreshCatalog(spark,
        consistentOf(Seq("keep.tif" -> 0.0)).limit(0), fresh.toString)
    }
    val created = java.nio.file.Files.walk(fresh).toArray.toSeq
      .filter(_ != fresh)
    assert(created.isEmpty,
      s"a refused refresh created paths: ${created.mkString(", ")}")
  }
}
