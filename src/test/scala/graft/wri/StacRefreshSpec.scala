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
    import Model.Expected
    val root = java.nio.file.Files
      .createTempDirectory("stac_stream").toString
    val dataDir = s"$root/data"
    val validGeo = TiffIO.GeoInfo(Expected.epsg, Expected.resX,
      Expected.resY, gx, gy)
    def putLayer(base: String, rel: String): Unit = {
      val p = java.nio.file.Paths.get(base, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      TiffWriter.writeHeaderFixture(p.toString,
        Fixtures.W, Fixtures.H, validGeo)
    }
    // batch 1: an aggregate + an indicator (its first delivery)
    putLayer(dataDir, "air_quality/air_quality_domain_score.tif")
    putLayer(dataDir, "water/indicators/flow_recovery_v1.tif")
    val stacRoot = s"$root/stac"
    val itemsDir = s"$stacRoot/collections/${Model.collectionId}/items"
    val q = Stac.streamingCatalogRefresh(spark, dataDir,
      s"$root/meta", stacRoot, s"$root/ckpt")
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
    import spark.implicits._
    val replay = Seq(
      s"$dataDir/livelihoods/indicators/jobs_resistance_v1.tif")
      .map(p => (p, new java.io.File(p).length))
      .toDF("path", "length")
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

  test("the parquet catalog sidecar: after a publish, consumer reads " +
      "serve from the columnar mirror and equal the JSON scan row-for-" +
      "row; a refresh re-mirrors; an out-of-band item write falls back " +
      "to the scan instead of answering stale") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_sidecar").toString
    val itemsDir = s"$root/collections/${Model.collectionId}/items"
    Stac.run(spark, consistentOf(Seq("a.tif" -> 0.0, "b.tif" -> 0.0)), root)
    val viaSidecar = Stac.readItems(spark, itemsDir)
    assert(viaSidecar.inputFiles.nonEmpty &&
      viaSidecar.inputFiles.forall(_.contains("/_catalog/gen-")),
      s"readItems did not serve from the sidecar after a publish: " +
        viaSidecar.inputFiles.mkString(", "))
    val scan = Stac.readItemsScan(spark, itemsDir)
    assert(viaSidecar.schema == scan.schema,
      s"mirror schema drifted: ${viaSidecar.schema} vs ${scan.schema}")
    assert(viaSidecar.collect().toSet == scan.collect().toSet,
      "mirror rows drifted from the JSON documents")
    // a delta refresh re-mirrors: the sidecar tracks the NEW state
    Thread.sleep(1100) // local-fs mtime granularity for the fingerprint
    Stac.refreshCatalog(spark, consistentOf(Seq(
      "a.tif" -> 0.0, "b.tif" -> 900.0, "c.tif" -> 0.0)), root)
    val after = Stac.readItems(spark, itemsDir)
    assert(after.inputFiles.forall(_.contains("/_catalog/gen-")),
      "post-refresh reads fell off the sidecar")
    assert(after.collect().toSet ==
      Stac.readItemsScan(spark, itemsDir).collect().toSet,
      "post-refresh mirror drifted from the documents")
    assert(after.filter(col("item_id") === "c").count() == 1)
    // out-of-band mutation (writeItems, no sidecar update): the
    // fingerprint mismatches and readItems answers from the honest scan
    Stac.writeItems(Stac.buildItems(spark,
      consistentOf(Seq("d.tif" -> 0.0))), itemsDir)
    val fb = Stac.readItems(spark, itemsDir)
    assert(fb.inputFiles.exists(_.endsWith(".json")),
      "an out-of-band item write was answered from the stale sidecar")
    assert(fb.filter(col("item_id") === "d").count() == 1,
      "the fallback scan missed the out-of-band item")
  }

  test("streaming refresh over an AUTHENTICATED mirror: micro-batch " +
      "header scans and hosting probes present the per-host credential " +
      "from inside foreachBatch, and the streamed hosted catalog " +
      "equals the batch twin built over the same URLs") {
    import Model.Expected
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files
      .createTempDirectory("stac_stream_auth").toString
    val dataDir = s"$root/data"
    val validGeo = TiffIO.GeoInfo(Expected.epsg, Expected.resX,
      Expected.resY, gx, gy)
    def putLayer(rel: String): Unit = {
      val p = java.nio.file.Paths.get(dataDir, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      TiffWriter.writeHeaderFixture(p.toString,
        Fixtures.W, Fixtures.H, validGeo)
    }
    val rels = Seq(
      "air_quality/air_quality_domain_score.tif",
      "water/indicators/flow_recovery_v1.tif",
      "livelihoods/indicators/jobs_resistance_v1.tif")
    putLayer(rels.head); putLayer(rels(1))
    // the FLAT hosted mirror the probe HEADs (production probes
    // base + cog_filename, not the delivery tree's nested layout) —
    // token-protected like the delivery mirror
    val hostedDir = s"$root/hosted"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(hostedDir))
    rels.foreach { rel =>
      TiffWriter.writeHeaderFixture(
        s"$hostedDir/${rel.split('/').last}", Fixtures.W, Fixtures.H,
        validGeo)
    }
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
        val binarySchema = StructType(Seq(
          StructField("path", StringType),
          StructField("modificationTime", TimestampType),
          StructField("length", LongType),
          StructField("content", BinaryType)))
        val probe = Stac.knbProbe(spark, s"$hostedBase/")
        val stacRoot = s"$root/stac"
        val q = spark.readStream.format("binaryFile")
          .schema(binarySchema)
          .option("pathGlobFilter", "*.tif")
          .option("recursiveFileLookup", "true")
          .load(dataDir)
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
          putLayer(rels(2)) // micro-batch 2
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

  test("mirror-backed refresh: starting from a fresh sidecar, the " +
      "delta classification joins against the mirror's doc column " +
      "(zero item opens) and produces the IDENTICAL audit and bytes " +
      "as the file-reading twin; the sidecar then rebuilds " +
      "incrementally and equals a from-scratch document scan") {
    def publish(suffix: String): (String, String) = {
      val root = java.nio.file.Files
        .createTempDirectory(s"stac_mirror_$suffix").toString
      Stac.run(spark, consistentOf(Seq(
        "keep.tif" -> 0.0, "drift.tif" -> 0.0, "gone.tif" -> 0.0)), root)
      (root, s"$root/collections/${Model.collectionId}/items")
    }
    val (rootA, itemsA) = publish("a") // refreshes THROUGH the mirror
    val (rootB, itemsB) = publish("b") // manifest hidden → file compare
    val mB = java.nio.file.Paths.get(Stac.sidecarRoot(itemsB),
      "manifest.json")
    java.nio.file.Files.move(mB, mB.resolveSibling("manifest.hidden"))
    val next = Seq("keep.tif" -> 0.0, "drift.tif" -> 900.0,
      "fresh.tif" -> 0.0)
    val auditA = Stac.refreshCatalog(spark, consistentOf(next), rootA,
      pruneOrphans = true).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val auditB = Stac.refreshCatalog(spark, consistentOf(next), rootB,
      pruneOrphans = true).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(auditA == Map("keep" -> "unchanged", "drift" -> "rewritten",
      "fresh" -> "written", "gone" -> "pruned"), auditA.toString)
    assert(auditA == auditB,
      s"mirror-backed classification drifted from the file-reading " +
        s"twin: $auditA vs $auditB")
    Stac.listItemIds(itemsA).foreach { id =>
      val a = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$itemsA/$id.json")), "UTF-8")
      val b = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$itemsB/$id.json")), "UTF-8")
      assert(a == b, s"item $id differs between the mirror-backed and " +
        "file-backed refresh")
    }
    // the incrementally rebuilt generation == a from-scratch scan,
    // including the doc column the NEXT refresh will compare against
    val mirrored = Stac.readItems(spark, itemsA)
    assert(mirrored.inputFiles.forall(_.contains("/_catalog/gen-")),
      "the incremental rebuild did not leave a live mirror")
    assert(mirrored.collect().toSet ==
      Stac.readItemsScan(spark, itemsA).collect().toSet,
      "the incremental generation drifted from the documents")
    assert(Stac.readItemDocsScan(spark, itemsA).collect().toSet ==
      spark.read.parquet(mirrored.inputFiles.head
        .replaceAll("/[^/]*$", "")).collect().toSet,
      "the incremental generation's doc rows drifted from a full scan")
  }

  test("the incremental sidecar rebuild REFUSES to trust the previous " +
      "generation when the directory moved out-of-band while the " +
      "refresh ran — it falls back to the full document scan and the " +
      "mirror still converges to the live directory") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_mirror_race").toString
    val itemsDir = s"$root/collections/${Model.collectionId}/items"
    Stac.run(spark, consistentOf(Seq("a.tif" -> 0.0, "b.tif" -> 0.0)), root)
    val conf = spark.sparkContext.hadoopConfiguration
    val stat0 = Stac.itemsStatList(itemsDir, conf)
    val mirror0 = spark.read.parquet(
      s"${Stac.sidecarRoot(itemsDir)}/gen-1")
    // a foreign writer lands c.json AFTER stat0 was taken (simulating
    // the mid-refresh interleaving) — the membership check must reject
    // the incremental path, and the fallback scan must pick c up
    Stac.writeItems(Stac.buildItems(spark,
      consistentOf(Seq("c.tif" -> 0.0))), itemsDir)
    val changed = Stac.buildItems(spark, consistentOf(Seq("b.tif" -> 900.0)))
      .select(col("item_id"), col("json"))
    changed.collect().foreach { r =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$itemsDir/${r.getString(0)}.json"),
        r.getString(1))
    }
    Stac.writeCatalogSidecarDelta(spark, itemsDir, mirror0, stat0,
      changed, Set("b"), Set.empty)
    val served = Stac.readItems(spark, itemsDir)
    assert(served.inputFiles.forall(_.contains("/_catalog/gen-")),
      "the fallback rebuild did not leave a live mirror")
    assert(served.collect().toSet ==
      Stac.readItemsScan(spark, itemsDir).collect().toSet,
      "the post-race mirror drifted from the documents — the foreign " +
        "write was lost")
    assert(served.filter(col("item_id") === "c").count() == 1,
      "the foreign item is missing from the rebuilt mirror")
  }

  test("a FOREIGN delete that lands while a mirror-backed refresh is " +
      "classifying (after the freshness check, before the writes) is " +
      "repaired: the vanished document is rewritten from the plan and " +
      "the sidecar converges to the live directory") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_mirror_repair").toString
    val itemsDir = s"$root/collections/${Model.collectionId}/items"
    val meta = consistentOf(Seq("keep.tif" -> 0.0, "also.tif" -> 0.0))
    Stac.run(spark, meta, root)
    val keepBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$itemsDir/keep.json")).toSeq
    // the hostedProbe runs INSIDE phase 1 — i.e. after the refresh has
    // already judged the mirror fresh — so a probe that deletes
    // keep.json is exactly the mid-flight foreign delete the mirror
    // path cannot see (it compares against the mirror's doc column,
    // never the live file). The hook must be idempotent and signal
    // through the FILESYSTEM: Spark serializes the closure per task
    // even in local mode, so driver-side mutable state would be a
    // per-task copy
    val markerPath = s"$root/delete_fired.marker" // String: Path is
    val keepPath = s"$itemsDir/keep.json"         // not serializable
    val audit = Stac.refreshCatalog(spark, meta, root,
        hostedProbe = { _ =>
          if (java.nio.file.Files.deleteIfExists(
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
    // the repair restored the byte-identical document...
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$itemsDir/keep.json")).toSeq == keepBytes,
      "the mid-refresh foreign delete was not repaired")
    // ...and the sidecar did NOT cement the broken directory: the
    // stability check sees the repair write and rebuilds from the
    // documents, so mirror == scan afterwards
    val served = Stac.readItems(spark, itemsDir)
    assert(served.collect().toSet ==
      Stac.readItemsScan(spark, itemsDir).collect().toSet,
      "the post-repair mirror drifted from the documents")
    assert(served.filter(col("item_id") === "keep").count() == 1)
  }

  test("a generation written before the doc column existed still " +
      "refreshes correctly: the mirror-backed compare declines it, the " +
      "file-reading path runs, and the NEXT generation carries docs") {
    val root = java.nio.file.Files
      .createTempDirectory("stac_mirror_nodoc").toString
    val itemsDir = s"$root/collections/${Model.collectionId}/items"
    Stac.run(spark, consistentOf(Seq("a.tif" -> 0.0, "b.tif" -> 0.0)), root)
    // rewrite gen-1 without `doc` (the pre-column layout), keeping the
    // manifest hash valid (items untouched)
    val gen1 = s"${Stac.sidecarRoot(itemsDir)}/gen-1"
    val noDoc = spark.read.parquet(gen1).drop("doc").collect()
    val schema = spark.read.parquet(gen1).drop("doc").schema
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(noDoc: _*)), schema)
      .coalesce(1).write.mode("overwrite").parquet(gen1)
    // ...and the manifest to the pre-flag form too: old code wrote
    // {"gen", "hash"} with no "doc" field. Generation and manifest
    // always commit together, so the pre-column layout means BOTH are
    // old — a doc-flagged manifest pointing at a docless generation is
    // unreachable without out-of-band surgery.
    val manifestPath = java.nio.file.Paths.get(
      s"${Stac.sidecarRoot(itemsDir)}/manifest.json")
    val mf = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(manifestPath))
    java.nio.file.Files.writeString(manifestPath,
      s"""{"gen": ${mf.path("gen").asLong()}, """ +
        s""""hash": "${mf.path("hash").asText()}"}""")
    Thread.sleep(1100) // local-fs mtime granularity
    val audit = Stac.refreshCatalog(spark, consistentOf(Seq(
      "a.tif" -> 0.0, "b.tif" -> 900.0)), root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(audit == Map("a" -> "unchanged", "b" -> "rewritten"),
      audit.toString)
    val m = Stac.readItems(spark, itemsDir)
    assert(m.inputFiles.forall(_.contains("/_catalog/gen-")) &&
      m.collect().toSet ==
        Stac.readItemsScan(spark, itemsDir).collect().toSet,
      "the migration refresh did not leave a fresh doc-carrying mirror")
    assert(spark.read.parquet(m.inputFiles.head.replaceAll("/[^/]*$", ""))
      .columns.contains("doc"),
      "the rebuilt generation still lacks the doc column")
  }

  test("metadata-store compaction: the streaming store folds to one " +
      "latest-wins generation once the batch-partition count hits the " +
      "threshold, the catalog equals the never-compacted twin " +
      "byte-for-byte, and replaying an already-FOLDED batch id is " +
      "still a no-op") {
    import Model.Expected
    def putLayer(base: String, rel: String): String = {
      val p = java.nio.file.Paths.get(base, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      TiffWriter.writeHeaderFixture(p.toString, Fixtures.W, Fixtures.H,
        TiffIO.GeoInfo(Expected.epsg, Expected.resX, Expected.resY,
          gx, gy))
      p.toString
    }
    def drive(threshold: Int): (String, String) = {
      val root = java.nio.file.Files
        .createTempDirectory(s"meta_compact_$threshold").toString
      val data = s"$root/data"
      def batchOf(paths: Seq[String]) =
        paths.map(p => (p, new java.io.File(p).length))
          .toDF("path", "length")
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
    val replay = Seq(
      s"$rootC/data/water/indicators/flow_recovery_v1.tif")
      .map(p => (p, new java.io.File(p).length)).toDF("path", "length")
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
