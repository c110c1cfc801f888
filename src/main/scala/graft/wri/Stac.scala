package graft.wri

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 02 — STAC catalog/collection/items (SURVEY §3.3;
  * `02b_make_stac_all.R`). Items are built per-row on executors; the
  * collection and catalog are O(1) driver-side documents assembled from
  * tiny aggregates (A3/A4 distinct summaries).
  *
  * The hosting probe (S10, `02b:86-103`) is injectable so tests stay
  * hermetic (SURVEY §7.4 risk 6); `knbProbe` is the production HEAD
  * check.
  */
object Stac {
  import Model._

  /** How many catalog items one consumer call may resolve to driver-side
    * targets before refusing loudly (overridable via system property for
    * the over-cap spec only — the lockWaitMs precedent). */
  private def maxCatalogTargets: Int =
    sys.props.get("graft.stac.maxCatalogTargets").map(_.toInt)
      .getOrElse(65536)

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.wri.Stac")

  /** Production HTTP HEAD probe (5s timeout, any error -> false). No
    * credential rides this overload — against a token-protected mirror
    * every layer probes `is_hosted=false`; use [[knbProbe(spark)*]] (or
    * the conf overload) so the probe presents the SAME per-host header
    * as every range read. */
  def knbProbe(filename: String): Boolean =
    knbProbe(filename, knbBaseUrl, WriFs.defaultConf)

  /** Auth-aware HEAD probe factory — the production `hostedProbe` to
    * hand [[run]]/[[refreshCatalog]]/[[streamingCatalogRefresh]]. The
    * session's Hadoop conf (which carries the per-host
    * [[RangeReader.AuthHeaderPrefix]] credentials) is broadcast once,
    * so the returned closure presents the credential on WHICHEVER
    * executor runs the probe — the exact transport parity
    * HttpRangeReader has: same conf key, same one-host scoping, and
    * redirects are never followed (so a credential can never ride a
    * Location header to another host). `baseUrl` defaults to the
    * production mirror; specs point it at a local server. */
  def knbProbe(spark: SparkSession,
      baseUrl: String = knbBaseUrl): String => Boolean = {
    val confBc = WriFs.confBroadcast(spark)
    val base = baseUrl
    (filename: String) => knbProbe(filename, base, confBc.value.value)
  }

  /** One probe against `baseUrl` + `filename` under `conf`'s auth
    * contract. Error -> false stays the probe's contract (an unhosted
    * layer is data, not an exception) — but an auth REJECTION without a
    * configured credential is logged loudly naming the conf key, so a
    * token-protected mirror reads as "set the key", never as a silent
    * catalog-wide `is_hosted=false`. */
  def knbProbe(filename: String, baseUrl: String,
      conf: Configuration): Boolean = {
    val url = baseUrl + filename
    try {
      val headers = RangeReader.authHeaderFor(url, conf)
      val client = java.net.http.HttpClient.newBuilder()
        .followRedirects(java.net.http.HttpClient.Redirect.NEVER)
        .connectTimeout(java.time.Duration.ofSeconds(5)).build()
      val reqB = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(url))
        .method("HEAD", java.net.http.HttpRequest.BodyPublishers.noBody())
        .timeout(java.time.Duration.ofSeconds(5))
      headers.foreach { case (n, v) => reqB.header(n, v) }
      val code = client.send(reqB.build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      if ((code == 401 || code == 403) && headers.isEmpty) {
        val host = java.net.URI.create(url).getHost
        log.warn(s"hosting probe $url -> $code and no credential is " +
          s"configured — set ${RangeReader.AuthHeaderPrefix}$host to " +
          "'Authorization: Bearer <token>' or every layer on this " +
          "mirror will probe is_hosted=false")
      }
      code >= 200 && code < 300
    } catch { case _: Exception => false }
  }

  case class ItemInput(
      cog_filename: String, crs_epsg: Int, data_type: String,
      wri_domain: String, wri_dimension: Option[String],
      extent_xmin: Double, extent_xmax: Double,
      extent_ymin: Double, extent_ymax: Double)

  /** Per-item STAC JSON rows: (item_id, is_hosted, json). */
  def buildItems(spark: SparkSession, consistent: DataFrame,
      hostedProbe: String => Boolean = _ => false): DataFrame = {
    import spark.implicits._
    val probe = hostedProbe // serializable capture
    consistent.select(
        col("cog_filename"), col("crs_epsg"), col("data_type"),
        col("wri_domain"), col("wri_dimension"),
        col("extent_xmin"), col("extent_xmax"),
        col("extent_ymin"), col("extent_ymax"))
      .as[ItemInput]
      .mapPartitions { it =>
        val mapper = new ObjectMapper()
        it.map { in =>
          val hosted = probe(in.cog_filename)
          val id = in.cog_filename.replaceAll("\\.[^.]*$", "")
          (id, hosted, itemJson(mapper, in, id, hosted))
        }
      }.toDF("item_id", "is_hosted", "json")
  }

  private def itemJson(mapper: ObjectMapper, in: ItemInput, id: String,
      hosted: Boolean): String = {
    val s = Geo.extentToStacSpatial(
      in.extent_xmin, in.extent_xmax, in.extent_ymin, in.extent_ymax)
    val root = mapper.createObjectNode()
    root.put("stac_version", "1.0.0")
    root.putArray("stac_extensions")
      .add("https://stac-extensions.github.io/projection/v1.1.0/schema.json")
    root.put("type", "Feature")
    root.put("id", id)
    root.put("collection", collectionId)
    val geom = root.putObject("geometry")
    geom.put("type", "Polygon")
    val ring = geom.putArray("coordinates").addArray()
    s.ring.foreach { case (lon, lat) =>
      val pt = ring.addArray()
      pt.add(Geo.round4(lon)); pt.add(Geo.round4(lat))
    }
    val bbox = root.putArray("bbox")
    s.bbox.foreach(v => bbox.add(Geo.round4(v)))
    val props = root.putObject("properties")
    props.put("datetime", itemDatetime)
    props.put("proj:code", s"EPSG:${in.crs_epsg}")
    props.put("data_type", in.data_type)
    props.put("wri_domain", in.wri_domain)
    in.wri_dimension match {
      case Some(d) => props.put("wri_dimension", d)
      case None => props.putNull("wri_dimension") // null, never "NA"
    }
    props.put("is_hosted", hosted)
    val asset = root.putObject("assets").putObject("data")
    asset.put("href",
      if (hosted) knbBaseUrl + in.cog_filename
      else s"../cogs/${in.cog_filename}")
    asset.put("type", "image/tiff; application=geotiff; profile=cloud-optimized")
    asset.putArray("roles").add("data") // stays an array (auto_unbox parity)
    asset.put("title", "COG")
    val links = root.putArray("links")
    def link(rel: String, href: String, typ: String): Unit = {
      val l = links.addObject()
      l.put("rel", rel); l.put("href", href); l.put("type", typ)
    }
    link("self", s"$id.json", "application/geo+json")
    link("root", "../../../catalog.json", "application/json")
    link("parent", "../collection.json", "application/json")
    link("collection", "../collection.json", "application/json")
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Write item files (skip-if-exists, `02b:197-205`); returns count
    * written. Each item lands through [[WriFs.atomicWriteString]] —
    * the same replace discipline as [[refreshCatalog]] — so a reader
    * concurrent with even the FIRST publish sees a complete document
    * or none (the sibling `.json.tmp` never matches the item glob). */
  def writeItems(items: DataFrame, itemsDir: String,
      overwrite: Boolean = false): Long = {
    val spark = items.sparkSession
    WriFs.mkdirs(itemsDir, spark.sparkContext.hadoopConfiguration)
    val confBc = WriFs.confBroadcast(spark)
    val dir = itemsDir
    val ow = overwrite
    items.select("item_id", "json").foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val conf = confBc.value.value
        rows.foreach { r =>
          val p = s"$dir/${r.getString(0)}.json"
          if (ow || !WriFs.exists(p, conf))
            WriFs.atomicWriteString(WriFs.fs(p, conf),
              new org.apache.hadoop.fs.Path(p), r.getString(1))
        }
    }
    items.count()
  }

  /** Collection document (A3/A4 summaries computed as Spark aggregates,
    * collected as tiny scalars). The first-row extent (P9), the domain
    * summary and the blank-filtered dimension summary all come from ONE
    * aggregation job — they are three tiny scalars over the same table,
    * and a refresh (hence every streaming micro-batch) pays this
    * driver-side latency per call. */
  def collectionJson(consistent: DataFrame, itemIds: Seq[String]): String = {
    val mapper = new ObjectMapper()
    val summary = consistent.agg(
        // P9 first-row extent: the row with the MIN filepath, exactly
        // the old orderBy(filepath).limit(1) (filepaths are unique)
        min_by(struct(col("extent_xmin"), col("extent_xmax"),
          col("extent_ymin"), col("extent_ymax")), col("filepath"))
          .as("first"),
        sort_array(collect_set(col("wri_domain"))).as("domains"),
        sort_array(collect_set(when(trim(col("wri_dimension")) =!= "",
          col("wri_dimension")))).as("dims"))
      .collect().head
    require(!summary.isNullAt(0), "Metadata is empty") // fail fast (`02b:125`)
    val first = summary.getStruct(0)
    val s = Geo.extentToStacSpatial(
      first.getDouble(0), first.getDouble(1),
      first.getDouble(2), first.getDouble(3))
    val domains = summary.getSeq[String](1)
    val dims = summary.getSeq[String](2)

    val root = mapper.createObjectNode()
    root.put("stac_version", "1.0.0")
    root.putArray("stac_extensions")
      .add("https://stac-extensions.github.io/projection/v1.1.0/schema.json")
    root.put("type", "Collection")
    root.put("id", collectionId)
    root.put("title", "WRI ignitR Dataset")
    root.put("description", "WRI raster layers (COGs)")
    root.put("license", "proprietary")
    val extent = root.putObject("extent")
    val sb = extent.putObject("spatial").putArray("bbox").addArray()
    s.bbox.foreach(v => sb.add(Geo.round4(v)))
    val ti = extent.putObject("temporal").putArray("interval").addArray()
    ti.add(itemDatetime); ti.add(itemDatetime)
    val sums = root.putObject("summaries")
    val dt = sums.putArray("data_type")
    Seq("aggregate", "final_score", "indicator").foreach(dt.add)
    val dom = sums.putArray("wri_domain"); domains.foreach(dom.add)
    val dim = sums.putArray("wri_dimension"); dims.foreach(dim.add)
    sums.putArray("proj:code").add("EPSG:5070")
    val links = root.putArray("links")
    def link(rel: String, href: String, typ: String): Unit = {
      val l = links.addObject()
      l.put("rel", rel); l.put("href", href); l.put("type", typ)
    }
    link("self", "collection.json", "application/json")
    link("root", "../../catalog.json", "application/json")
    link("parent", "../../catalog.json", "application/json")
    itemIds.sorted.foreach(id =>
      link("item", s"items/$id.json", "application/geo+json"))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def catalogJson: String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("stac_version", "1.0.0")
    root.put("type", "Catalog")
    root.put("id", "wri-catalog")
    root.put("title", "WRI Wildfire Resilience Index")
    root.put("description",
      "WRI raster layers as Cloud Optimized GeoTIFFs (COGs)")
    val links = root.putArray("links")
    val self = links.addObject()
    self.put("rel", "self"); self.put("href", "catalog.json")
    self.put("type", "application/json")
    val child = links.addObject()
    child.put("rel", "child")
    child.put("href", s"collections/$collectionId/collection.json")
    child.put("type", "application/json")
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** STAC item read-back — the catalog's QUERY surface (S9 extended
    * from "list the ids" to "query the documents"): every item JSON
    * under `itemsDir` parses into one FLAT row with an explicit schema
    * (nothing inferred — the `02b:112-123` schema discipline), so a
    * client filters the catalog by domain/dimension/extent/hosting with
    * ordinary column predicates instead of walking JSON files. The
    * documents are pretty-printed (one per file), hence multiLine; the
    * read goes through whatever filesystem — or none: the JSON source
    * is Spark's own — the path's scheme names, and at catalog scale the
    * per-file parse fans out across executors like every other stage. */
  /** The flat row shape [[readItems]] yields — ONE schema shared by the
    * JSON scan and the parquet sidecar mirror, so a consumer never sees
    * which source answered. */
  private[wri] val itemsFlatSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("item_id", StringType), StructField("collection", StringType),
      StructField("datetime", StringType), StructField("data_type", StringType),
      StructField("wri_domain", StringType),
      StructField("wri_dimension", StringType),
      StructField("is_hosted", BooleanType),
      StructField("bbox_w", DoubleType), StructField("bbox_s", DoubleType),
      StructField("bbox_e", DoubleType), StructField("bbox_n", DoubleType),
      StructField("href", StringType)))
  }

  /** [[itemsFlatSchema]] + the raw document text — the doc-carrying
    * mirror generation's shape, stated explicitly so a mirror read
    * costs ZERO schema-inference jobs (a footer-read job per call was
    * measured as a real slice of every streaming micro-batch's driver
    * latency). */
  private[wri] val itemsFlatSchemaWithDoc: org.apache.spark.sql.types.StructType =
    itemsFlatSchema.add(org.apache.spark.sql.types.StructField(
      "doc", org.apache.spark.sql.types.StringType))

  def readItems(spark: SparkSession, itemsDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    // ONE directory listing answers both questions below (emptiness
    // and the mirror fingerprint) — listings are the object-store
    // billable call, so a verb must not pay two per lookup
    val stats = itemsStatList(itemsDir, conf)
    // an empty catalog is an empty result, not an unmatched-glob error
    if (stats.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        itemsFlatSchema)
    // prefer the parquet sidecar mirror when it provably reflects the
    // CURRENT item directory (manifest hash == the one listing above —
    // no file opens); any out-of-band mutation mismatches the hash and
    // the honest per-document JSON scan answers instead
    readSidecarManifest(itemsDir, conf) match {
      case Some((gen, hash, _))
          if hash == stateHashOf(stats) &&
            WriFs.exists(s"${sidecarRoot(itemsDir)}/gen-$gen", conf) =>
        spark.read.schema(itemsFlatSchema)
          .parquet(s"${sidecarRoot(itemsDir)}/gen-$gen")
      case _ => readItemsScan(spark, itemsDir)
    }
  }

  /** The per-document JSON scan behind [[readItems]] — always correct,
    * O(items) file opens; the sidecar exists so hot consumer verbs skip
    * it. */
  private[wri] def readItemsScan(spark: SparkSession,
      itemsDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
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
    spark.read.schema(schema).option("multiLine", "true")
      .json(s"$itemsDir/*.json")
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
  }

  // --------------------------------------------------------------------
  // Parquet catalog sidecar — the consumer-verb fast path
  //
  // Every consumer verb (getLayer / getLayerData / catalogWindowStats /
  // validateAssets / stacQuery) resolves targets through [[readItems]];
  // the JSON scan behind it opens EVERY item document per call — at a
  // 10k-item catalog that is 10k file opens to answer one lookup. The
  // publish verbs ([[run]] / [[refreshCatalog]], hence every streaming
  // micro-batch) therefore maintain a columnar MIRROR of the flat item
  // rows next to the items dir:
  //
  //   <collection>/_catalog/manifest.json   (atomic replace — the commit)
  //   <collection>/_catalog/gen-<n>/        (parquet, [[itemsFlatSchema]]
  //                                          + a `doc` column: the raw
  //                                          document text, so a refresh
  //                                          can byte-compare against
  //                                          the mirror instead of
  //                                          re-opening every item file)
  //
  // The manifest records the generation AND a fingerprint of the item
  // directory the generation mirrors (name+len+mtime of every item file
  // — ONE directory listing to verify, zero file opens). [[readItems]]
  // serves from the generation only while the fingerprint still matches
  // the live directory, so a hand-edited / out-of-band-written item
  // silently falls back to the per-document scan instead of answering
  // stale. Commit order makes the mirror transactional: the generation
  // dir is fully written BEFORE the manifest atomically flips to it,
  // and a manifest is only published if the directory fingerprint is
  // STILL what the mirrored rows were read under (a concurrent publish
  // in the gap skips the flip — readers just keep scanning JSON).
  // --------------------------------------------------------------------

  /** Sidecar root NEXT TO the items dir — never inside it, so nothing
    * here can match the `*.json` item glob or the item listing. */
  def sidecarRoot(itemsDir: String): String =
    new org.apache.hadoop.fs.Path(itemsDir).getParent.toString + "/_catalog"

  private def sidecarManifest(itemsDir: String): String =
    s"${sidecarRoot(itemsDir)}/manifest.json"

  /** Per-file (name, length, mtime) of every `<id>.json` in the item
    * directory — ONE listing, no file opens. The unit both the
    * fingerprint and the incremental-rebuild stability check build on:
    * atomic item replaces are fresh renames, so a rewrite moves mtime
    * and a membership change moves the name set. */
  private[wri] def itemsStatList(itemsDir: String,
      conf: Configuration): Seq[(String, Long, Long)] = {
    val fs = WriFs.fs(itemsDir, conf)
    val p = new org.apache.hadoop.fs.Path(itemsDir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
      .sortBy(_._1)
  }

  private[wri] def stateHashOf(stats: Seq[(String, Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(stats.map { case (n, l, m) => s"$n:$l:$m" }
      .mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Fingerprint of the live item directory (hash of [[itemsStatList]]);
    * either a rewrite or a membership change mismatches a manifest
    * recorded against the previous state.
    *
    * Honest limit: the fingerprint is (name, length, mtime) — an
    * out-of-band rewrite that keeps the byte length AND lands inside
    * one mtime-granularity tick of the mirrored state (1 s on many
    * local filesystems) is invisible to it, the same blindspot rsync's
    * default quick-check has. Publishes through this module always
    * move the clock (atomic replace = fresh temp file), so the gap is
    * only reachable by a foreign same-second writer; use the publish
    * verbs, not hand edits, on a live catalog. */
  private[wri] def itemsStateHash(itemsDir: String,
      conf: Configuration): String =
    stateHashOf(itemsStatList(itemsDir, conf))

  /** (generation, items-state hash, doc-column flag) from the sidecar
    * manifest; None when absent or unreadable (either means: scan
    * JSON). The `doc` flag records that the generation carries the raw
    * document column with the KNOWN [[itemsFlatSchemaWithDoc]] shape —
    * manifests written before the flag existed read as false and take
    * the schema-inferring compatibility path. */
  private def readSidecarManifest(itemsDir: String,
      conf: Configuration): Option[(Long, String, Boolean)] = {
    val p = sidecarManifest(itemsDir)
    if (!WriFs.exists(p, conf)) None
    else scala.util.Try {
      val node = new ObjectMapper().readTree(WriFs.readString(p, conf))
      (node.path("gen").asLong(), node.path("hash").asText(),
        node.path("doc").asBoolean(false))
    }.toOption
  }

  /** The per-document scan the sidecar GENERATIONS are built from:
    * [[readItemsScan]]'s flat columns PLUS the raw document text
    * (`doc`), read as one whole-text row per file and parsed with the
    * same inner schema. The `doc` column is what lets a later refresh
    * byte-compare its rebuilt items against the mirror instead of
    * re-opening every live document. */
  private[wri] def readItemDocsScan(spark: SparkSession,
      itemsDir: String): DataFrame = {
    val docs = spark.read.format("text").option("wholetext", "true")
      .load(s"$itemsDir/*.json")
      .select(col("value").as("doc"))
    flattenItemDocs(docs)
  }

  /** (doc) → itemsFlatSchema columns + doc; the single parse used by
    * both the full sidecar rebuild and the incremental delta path, so
    * a generation's rows are identical however they were produced. */
  private def flattenItemDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
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
    docs.select(from_json(col("doc"), schema).as("j"), col("doc"))
      .select(
        col("j.id").as("item_id"),
        col("j.collection").as("collection"),
        col("j.properties.datetime").as("datetime"),
        col("j.properties.data_type").as("data_type"),
        col("j.properties.wri_domain").as("wri_domain"),
        col("j.properties.wri_dimension").as("wri_dimension"),
        col("j.properties.is_hosted").as("is_hosted"),
        col("j.bbox")(0).as("bbox_w"), col("j.bbox")(1).as("bbox_s"),
        col("j.bbox")(2).as("bbox_e"), col("j.bbox")(3).as("bbox_n"),
        col("j.assets.data.href").as("href"),
        col("doc"))
  }

  /** The fresh, doc-carrying mirror — Some only when the manifest's
    * fingerprint matches `liveHash` (the caller's already-taken
    * directory listing — no second LIST here) AND the generation
    * carries the `doc` column (generations written before the column
    * existed fall back to the scan path and age out on their next
    * rebuild). */
  private def freshMirrorWithDocs(spark: SparkSession, itemsDir: String,
      conf: Configuration, liveHash: String): Option[DataFrame] =
    readSidecarManifest(itemsDir, conf) match {
      case Some((gen, hash, docKnown))
          if hash == liveHash &&
            WriFs.exists(s"${sidecarRoot(itemsDir)}/gen-$gen", conf) =>
        if (docKnown)
          // manifest vouches for the doc column: read with the stated
          // schema — zero footer-inference jobs on this hot refresh path
          Some(spark.read.schema(itemsFlatSchemaWithDoc)
            .parquet(s"${sidecarRoot(itemsDir)}/gen-$gen"))
        else {
          val df = spark.read.parquet(s"${sidecarRoot(itemsDir)}/gen-$gen")
          if (df.columns.contains("doc")) Some(df) else None
        }
      case _ => None
    }

  /** Write `rows` as the next generation and atomically flip the
    * manifest to it — but only if the directory fingerprint is STILL
    * `hash` after the parquet write (a concurrent publisher in the gap
    * skips the flip; readers keep scanning JSON until ITS sidecar write
    * lands). Generations older than the previous are pruned best-effort
    * — the previous is kept one cycle so a reader that loaded the old
    * manifest moments ago still finds its files. */
  private def commitSidecarGeneration(spark: SparkSession,
      itemsDir: String, conf: Configuration, hash: String,
      rows: DataFrame): Unit = {
    val root = sidecarRoot(itemsDir)
    val prev = readSidecarManifest(itemsDir, conf)
    val gen = prev.map(_._1).getOrElse(0L) + 1
    val genDir = s"$root/gen-$gen"
    rows
      .coalesce(1) // catalog metadata: thousands of tiny rows, one file
      .write.mode("overwrite").parquet(genDir)
    if (itemsStateHash(itemsDir, conf) == hash) {
      atomicDoc(sidecarManifest(itemsDir),
        s"""{"gen": $gen, "hash": "$hash", "doc": true}""", conf)
      val fs = WriFs.fs(root, conf)
      WriFs.listNames(root, conf)
        .filter(_.startsWith("gen-"))
        .flatMap(n => scala.util.Try(n.stripPrefix("gen-").toLong).toOption
          .map(n -> _))
        .filter(_._2 < gen - 1)
        .foreach { case (n, _) =>
          scala.util.Try(
            fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true))
        }
    }
  }

  /** Rebuild the sidecar mirror from the live item documents and flip
    * the manifest to it. Called by the publish verbs after their item
    * writes land; safe to call any time (it reads ONLY the documents). */
  def writeCatalogSidecar(spark: SparkSession, itemsDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!WriFs.listNames(itemsDir, conf).exists(_.endsWith(".json"))) return
    // fingerprint FIRST: the manifest must describe the directory state
    // the mirrored rows were read under, not whatever it drifted to
    // while the parquet write ran
    val hash = itemsStateHash(itemsDir, conf)
    // steady-state no-op: an all-unchanged refresh leaves every item
    // file untouched (the delta discipline), so the standing mirror
    // still fingerprint-matches — skip the rebuild (this is what keeps
    // the per-micro-batch sidecar cost at zero for quiet catalogs)
    if (readSidecarManifest(itemsDir, conf).exists(_._2 == hash)) return
    commitSidecarGeneration(spark, itemsDir, conf, hash,
      readItemDocsScan(spark, itemsDir))
  }

  /** The INCREMENTAL sidecar rebuild a refresh uses when it started
    * from a fresh mirror: next generation = the previous generation's
    * rows minus the ids the refresh changed or pruned, plus the changed
    * documents it already holds in memory — zero item-file opens, so a
    * streaming micro-batch's sidecar cost is O(delta) document parses
    * plus one small parquet write instead of O(catalog) JSON opens.
    *
    * Exactness guard: the previous generation's untouched rows are only
    * valid if nothing ELSE moved those files while the refresh ran, so
    * the post-refresh listing must (a) have exactly the expected
    * membership (stat0 − pruned + changed) and (b) carry byte-identical
    * (len, mtime) stats for every file the refresh did not write. Any
    * mismatch falls back to the full document scan — correct for every
    * interleaving, merely slower. */
  private[wri] def writeCatalogSidecarDelta(spark: SparkSession,
      itemsDir: String, mirror0: DataFrame,
      stat0: Seq[(String, Long, Long)], changed: DataFrame,
      changedIds: Set[String], prunedIds: Set[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (changedIds.isEmpty && prunedIds.isEmpty) return // mirror still fresh
    val stat1 = itemsStatList(itemsDir, conf)
    val changedNames = changedIds.map(_ + ".json")
    val prunedNames = prunedIds.map(_ + ".json")
    val expected = stat0.map(_._1).toSet -- prunedNames ++ changedNames
    val stat0ByName = stat0.map(s => s._1 -> s).toMap
    val untouchedStable = stat1
      .filterNot(s => changedNames.contains(s._1))
      .forall(s => stat0ByName.get(s._1).contains(s))
    if (stat1.map(_._1).toSet != expected || !untouchedStable) {
      writeCatalogSidecar(spark, itemsDir) // foreign writes — full scan
      return
    }
    // anti-join, not an IN-list: a refresh that rewrote everything has
    // an O(catalog) delta, and a million inlined literals is a plan,
    // not a predicate (the small-delta common case broadcasts anyway)
    import spark.implicits._
    val gone = (changedIds ++ prunedIds).toSeq.toDF("item_id")
    val rows = mirror0.join(gone, Seq("item_id"), "left_anti")
      .unionByName(flattenItemDocs(changed.select(col("json").as("doc"))))
    commitSidecarGeneration(spark, itemsDir, conf, stateHashOf(stat1), rows)
  }

  /** Catalog search over [[readItems]] rows: items whose bbox
    * INTERSECTS [lonMin, lonMax] x [latMin, latMax] (the standard STAC
    * bbox-overlap test: disjoint iff one box lies wholly past the
    * other on either axis). A plain filter, so Catalyst pushes it into
    * the item scan. */
  def bboxIntersects(lonMin: Double, latMin: Double, lonMax: Double,
      latMax: Double): org.apache.spark.sql.Column =
    !(col("bbox_e") < lonMin || col("bbox_w") > lonMax ||
      col("bbox_n") < latMin || col("bbox_s") > latMax)

  case class AssetStatus(
      item_id: String, href: String, ok: Boolean,
      levels: Int, tile_width: Int, tile_height: Int,
      width: Int, height: Int, cog_bytes: Long, error: Option[String])

  /** The reference's pre-upload quality checks (`README.md:331-335`:
    * overviews exist, block tiling is present, streaming access works)
    * as ONE distributed catalog sweep: every item's data asset opens
    * through [[RangeReader]] (local path, Hadoop scheme, or the hosted
    * HTTP mode), a single bounded prefix must yield the complete
    * pyramid layout — the streaming test: if the prefix can't locate
    * every level's tiles, clients can't range-read the file — level 0
    * must be tiled, the pyramid must actually carry overviews, and the
    * geotransform must parse. Failures are DATA, not exceptions
    * (first-failure-wins message, the P7 validation discipline), so one
    * broken asset never kills the sweep of an 82-layer catalog.
    *
    * Relative hrefs (`../cogs/x.tif`) resolve against the item
    * directory — or against `hrefBase` when given (e.g. the hosted
    * serving root, to validate what CLIENTS will fetch rather than the
    * local staging copy); absolute/scheme-qualified hrefs are used
    * as-is. One task per item; items are independent. */
  def validateAssets(spark: SparkSession, itemsDir: String,
      hrefBase: Option[String] = None,
      prefixBytes: Int = 16 * 1024): DataFrame = {
    import spark.implicits._
    val confBc = WriFs.confBroadcast(spark)
    val base = hrefBase.getOrElse(itemsDir)
    readItems(spark, itemsDir).select(col("item_id"), col("href"))
      .as[(String, String)]
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.map { case (id, href) =>
          val resolved = resolveHref(href, base)
          try {
            CogQuery.withPrefix(resolved, conf, prefixBytes) { (r, prefix) =>
              val layouts = prefix.layouts
              val l0 = layouts.head
              val err =
                if (l0.tileWidth <= 0) Some("not tiled — not a COG")
                else if (layouts.length < 2) Some("no overview pyramid")
                else scala.util.Try(prefix.geoTransform)
                  .failed.toOption.map(e => s"geotransform: ${e.getMessage}")
              AssetStatus(id, href, err.isEmpty, layouts.length,
                l0.tileWidth, l0.tileHeight, l0.width, l0.height, r.length,
                err)
            }
          } catch {
            case e: Exception =>
              AssetStatus(id, href, ok = false, 0, 0, 0, 0, 0, 0L,
                Some(e.toString))
          }
        }
      }.toDF()
  }

  case class DocStatus(file: String, item_id: Option[String], ok: Boolean,
      error: Option[String])

  /** STAC 1.0.0 STRUCTURAL conformance of the emitted item documents —
    * the `stac-validator` step the reference plans (`README.md:248-250`)
    * but never built, as one distributed sweep: every `*.json` under
    * `itemsDir` is parsed and checked against the Item spec's
    * structural requirements (STAC 1.0.0 item-spec, public), failures
    * as DATA with first-failure-wins messages (the P7 cascade
    * discipline — one malformed document never kills the sweep of an
    * 82-layer catalog). [[validateAssets]] answers "can clients stream
    * the rasters"; this answers "are the documents a STAC toolchain
    * will accept":
    *
    *  - `type` must be `"Feature"`, `stac_version` must be `"1.0.0"`,
    *    `id` a non-empty string;
    *  - `geometry` must be present (GeoJSON object or null); when
    *    non-null it needs `type` + `coordinates`, and `bbox` becomes
    *    REQUIRED — 4 or 6 numbers, south <= north (west > east is legal:
    *    the antimeridian wrap this dataset actually exercises);
    *  - `properties` must carry `datetime` — null only when
    *    `start_datetime`/`end_datetime` stand in;
    *  - every link needs `rel` + `href`; every asset needs `href`;
    *    a set `collection` field requires a `rel="collection"` link;
    *  - bbox/geometry CONSISTENCY: every ring position must lie inside
    *    the bbox (to the 4-decimal serialization rounding; longitude
    *    containment is skipped for wrapped boxes).
    *
    * One task per document; documents are independent. */
  def validateDocuments(spark: SparkSession, itemsDir: String,
      tolerance: Double = 1e-4): DataFrame = {
    import spark.implicits._
    val confBc = WriFs.confBroadcast(spark)
    val files = WriFs.listNames(itemsDir,
      spark.sparkContext.hadoopConfiguration)
      .filter(_.endsWith(".json")).sorted
    spark.createDataset(files).mapPartitions { it =>
      val mapper = new ObjectMapper()
      val conf = confBc.value.value
      it.map(name => validateItemDoc(mapper, conf, itemsDir, name,
        tolerance))
    }.toDF()
  }

  private def validateItemDoc(mapper: ObjectMapper, conf: Configuration,
      itemsDir: String, file: String, tol: Double): DocStatus = {
    import com.fasterxml.jackson.databind.JsonNode
    import scala.jdk.CollectionConverters._
    try {
      val root = mapper.readTree(
        WriFs.readString(s"$itemsDir/$file", conf))
      val id = Option(root.path("id").asText(null)).filter(_.nonEmpty)
      def num(n: JsonNode): Boolean = n.isNumber
      val geometry = root.path("geometry")
      val bbox = root.path("bbox")
      val props = root.path("properties")
      val links = root.path("links")
      val assets = root.path("assets")
      def bboxVals: Seq[Double] =
        bbox.elements.asScala.map(_.asDouble).toSeq
      // the ordered cascade: first failure wins (P7)
      def firstError: Option[String] = {
        if (!root.isObject) return Some("document is not a JSON object")
        if (root.path("type").asText("") != "Feature")
          return Some("type must be 'Feature'")
        if (root.path("stac_version").asText("") != "1.0.0")
          return Some("stac_version must be '1.0.0'")
        if (id.isEmpty) return Some("id must be a non-empty string")
        if (geometry.isMissingNode)
          return Some("geometry is required (object or null)")
        if (!geometry.isNull) {
          if (!geometry.isObject ||
            !geometry.path("type").isTextual ||
            !geometry.path("coordinates").isArray)
            return Some("geometry must carry type and coordinates")
          if (!bbox.isArray)
            return Some("bbox is required when geometry is non-null")
          val b = bboxVals
          if ((b.length != 4 && b.length != 6) ||
            !bbox.elements.asScala.forall(num))
            return Some("bbox must hold 4 or 6 numbers")
          val (south, north) =
            if (b.length == 4) (b(1), b(3)) else (b(1), b(4))
          if (south > north)
            return Some("bbox south exceeds north")
        }
        if (!props.isObject) return Some("properties must be an object")
        val dt = props.path("datetime")
        if (dt.isMissingNode)
          return Some("properties.datetime is required")
        if (dt.isNull &&
          !(props.path("start_datetime").isTextual &&
            props.path("end_datetime").isTextual))
          return Some("null datetime requires start_datetime and " +
            "end_datetime")
        if (!links.isArray) return Some("links must be an array")
        links.elements.asScala.zipWithIndex.foreach { case (l, i) =>
          if (!l.path("rel").isTextual || !l.path("href").isTextual)
            return Some(s"link $i must carry rel and href")
        }
        if (!assets.isObject) return Some("assets must be an object")
        assets.fields.asScala.foreach { e =>
          if (!e.getValue.path("href").isTextual)
            return Some(s"asset '${e.getKey}' must carry href")
        }
        if (root.path("collection").isTextual &&
          !links.elements.asScala.exists(
            _.path("rel").asText("") == "collection"))
          return Some("collection is set but no rel='collection' link")
        // bbox/geometry consistency over every position in the tree
        if (!geometry.isNull && bbox.isArray) {
          val b = bboxVals
          val (w, s, e, n) =
            if (b.length == 4) (b(0), b(1), b(2), b(3))
            else (b(0), b(1), b(3), b(4))
          val wrapped = w > e // legal antimeridian crossing
          def positions(node: JsonNode): Iterator[Seq[Double]] =
            if (node.isArray && node.elements.asScala.forall(num))
              Iterator.single(
                node.elements.asScala.map(_.asDouble).toSeq)
            else if (node.isArray)
              node.elements.asScala.flatMap(positions)
            else Iterator.empty
          positions(geometry.path("coordinates")).foreach { p =>
            if (p.length >= 2) {
              val (lon, lat) = (p(0), p(1))
              if (lat < s - tol || lat > n + tol ||
                (!wrapped && (lon < w - tol || lon > e + tol)))
                // Locale.ROOT: this message is oracle-compared, and a
                // comma-decimal default locale must not change it
                return Some(String.format(java.util.Locale.ROOT,
                  "geometry position (%.4f, %.4f) outside bbox",
                  Double.box(lon), Double.box(lat)))
            }
          }
        }
        None
      }
      val err = firstError
      DocStatus(file, id, err.isEmpty, err)
    } catch {
      case e: Exception =>
        DocStatus(file, None, ok = false,
          Some(s"unreadable: ${e.getMessage}"))
    }
  }

  /** Asset-href resolution, shared by [[validateAssets]] and the
    * [[getLayer]] family: absolute or scheme-qualified hrefs pass
    * through; relative ones (`../cogs/x.tif`) resolve against `base`. */
  private[wri] def resolveHref(href: String, base: String): String =
    if (href.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*") || href.startsWith("/"))
      href
    else java.net.URI.create(base.replace(" ", "%20") + "/")
      .resolve(href).toString

  /** `get_layer` — the reference's ENTIRE downstream consumption story
    * (`README.md:300-308`: the fedex client's one call) as one verb:
    * read the layer's STAC item from the catalog, intersect the query
    * box with the item's bbox, branch on `is_hosted` — a hosted asset
    * streams through HTTP range requests from the serving root, a
    * local one reads its staging path, and `hostedOnly = true`
    * reproduces the client-side contract exactly (a non-hosted layer
    * is an INFORMATIVE ERROR, never a broken read: fedex runs on user
    * machines that cannot see the producer's filesystem) — then answer
    * window stats over exactly the intersecting tiles
    * ([[CogQuery.windowStatsGeoAt]]: one header prefix + O(window
    * tiles) byte ranges, whatever the raster size).
    *
    * The query box arrives in WGS84 lon/lat degrees (the STAC bbox
    * convention and the fedex call shape, `bbox = c(-122, 37, -121,
    * 38)`); the raster grid speaks EPSG:5070 meters, so the box
    * forward-projects through [[Geo.forwardBox]] (edge-densified
    * Snyder forward Albers) before the tile mapping. A box the catalog
    * says the layer does not cover answers EMPTY (zero rows) without
    * opening the raster — catalog metadata is the first pruning level,
    * the same prune-before-data discipline as the stores' directory
    * layouts. An unknown layer id fails loudly, naming what IS there.
    *
    * `hrefBase` applies to HOSTED items only: it re-roots the asset by
    * filename onto the given serving root (a mirror, or a hermetic
    * test server) — hosted hrefs are absolute publisher URLs, so plain
    * base-resolution would never rewrite them; non-hosted items always
    * resolve against the item directory. */
  def getLayer(spark: SparkSession, itemsDir: String, layer: String,
      lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
      hrefBase: Option[String] = None, hostedOnly: Boolean = false,
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame = {
    val (minx, miny, maxx, maxy) =
      Geo.forwardBox(lonMin, latMin, lonMax, latMax)
    layerStatsImpl(spark, itemsDir, lonMin, latMin, lonMax, latMax,
      minx, miny, maxx, maxy, col("item_id") === layer, hrefBase,
      hostedOnly, expect = Some(layer), scale, prefixBytes, level)
  }

  /** [[getLayer]] with the WINDOW in the raster's own EPSG:5070 meters
    * ([[CogQuery.windowStatsGeo]]'s contract — no projection in the
    * window mapping, so fractional-cell boxes replay analytically);
    * the catalog-search box is the window's WGS84 image
    * ([[Geo.extentToStacSpatial]], the same corner rule the item
    * bboxes were written with). */
  def getLayerNative(spark: SparkSession, itemsDir: String, layer: String,
      minx: Double, miny: Double, maxx: Double, maxy: Double,
      hrefBase: Option[String] = None, hostedOnly: Boolean = false,
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame = {
    val sp = Geo.extentToStacSpatial(minx, maxx, miny, maxy)
    layerStatsImpl(spark, itemsDir,
      sp.bbox(0), sp.bbox(1), sp.bbox(2), sp.bbox(3),
      minx, miny, maxx, maxy, col("item_id") === layer, hrefBase,
      hostedOnly, expect = Some(layer), scale, prefixBytes, level)
  }

  /** The catalog-WIDE consumption sweep: window stats for EVERY item
    * passing `filter` whose bbox intersects the WGS84 search box, in
    * ONE job — one task per matching layer, each reading only its own
    * window tiles (the [[CogQuery]] fan-out shape: a 1000-layer
    * catalog spreads across executors like the encode stage did). */
  def catalogWindowStats(spark: SparkSession, itemsDir: String,
      lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
      filter: org.apache.spark.sql.Column = lit(true),
      hrefBase: Option[String] = None, hostedOnly: Boolean = false,
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame = {
    val (minx, miny, maxx, maxy) =
      Geo.forwardBox(lonMin, latMin, lonMax, latMax)
    layerStatsImpl(spark, itemsDir, lonMin, latMin, lonMax, latMax,
      minx, miny, maxx, maxy, filter, hrefBase, hostedOnly,
      expect = None, scale, prefixBytes, level)
  }

  /** The DATA half of the consumption story: [[getLayerNative]] answers
    * stats, this hands the client the CROP itself — the reference's
    * `get_layer` returns a raster object to analyze, and a Spark
    * client's raster object is a DataFrame of pixels ((layer, x, y,
    * vs), [[CogQuery.readWindowGeoAt]]'s fixed-point rows). Same
    * catalog route: bbox search, the is_hosted href branch with
    * `hostedOnly`'s informative error, uncovered boxes answer empty
    * without opening the raster. The window is in the raster's CRS
    * meters; compose with [[Geo.forwardBox]] for a WGS84 ask. */
  def getLayerData(spark: SparkSession, itemsDir: String, layer: String,
      minx: Double, miny: Double, maxx: Double, maxy: Double,
      hrefBase: Option[String] = None, hostedOnly: Boolean = false,
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame = {
    import spark.implicits._
    val sp = Geo.extentToStacSpatial(minx, maxx, miny, maxy)
    val targets = resolveLayerTargets(spark, itemsDir,
      sp.bbox(0), sp.bbox(1), sp.bbox(2), sp.bbox(3),
      col("item_id") === layer, hrefBase, hostedOnly,
      expect = Some(layer))
    if (targets.isEmpty)
      Seq.empty[(String, Int, Int, Option[Long])]
        .toDF("layer", "x", "y", "vs")
    else CogQuery.readWindowGeoAt(spark, targets, minx, miny, maxx, maxy,
      scale, prefixBytes, level)
  }

  /** The shared catalog-route resolver: bbox search over the item
    * documents, the is_hosted href branch (with `hostedOnly`'s
    * informative error and `hrefBase`'s mirror re-root), unknown-layer
    * loud failure. Returns (layer, resolvedPath) targets — EMPTY when
    * the catalog says no item covers the box, so the caller answers
    * empty without opening any raster. */
  private def resolveLayerTargets(spark: SparkSession, itemsDir: String,
      lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
      filter: org.apache.spark.sql.Column, hrefBase: Option[String],
      hostedOnly: Boolean, expect: Option[String]): Seq[(String, String)] = {
    // catalog METADATA read: one row per matching item (an 82-layer —
    // or 10k-layer — catalog is a driver-sized table by construction;
    // the rasters behind it are what must never be collected). The
    // collect is CAPPED loudly: the limit bounds what ever reaches the
    // driver, so a pathological million-item catalog under a
    // select-everything filter refuses with the remediation named
    // instead of silently materializing a million rows.
    val cap = maxCatalogTargets
    val rows = readItems(spark, itemsDir).filter(filter)
      .select(col("item_id"), col("is_hosted"), col("href"),
        bboxIntersects(lonMin, latMin, lonMax, latMax).as("covers"))
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"more than $cap catalog items match the filter at $itemsDir — " +
        "layer targets resolve on the driver and a match set this " +
        "large is a select-everything filter, not a layer lookup; " +
        "narrow the filter (item_id / domain predicates), or sweep " +
        "the catalog in filtered batches")
    expect.foreach { name =>
      require(rows.nonEmpty,
        s"layer '$name' is not in the catalog at $itemsDir; available " +
          s"items: ${listItemIds(itemsDir,
            spark.sparkContext.hadoopConfiguration).take(24)
            .mkString(", ")}")
    }
    rows.filter(r => java.lang.Boolean.TRUE.equals(r.get(3))).toSeq
      .map { r =>
        val (id, href) = (r.getString(0), r.getString(2))
        val hosted = java.lang.Boolean.TRUE.equals(r.get(1))
        if (hostedOnly && !hosted)
          throw new IllegalArgumentException(
            s"layer '$id' is not hosted (is_hosted=false): its asset " +
              s"lives at '$href' on the producer's filesystem. Query " +
              "the producer-side catalog (hostedOnly=false) or publish " +
              "the layer to the serving root first — the client " +
              "contract answers non-hosted layers with this error, " +
              "never a broken read.")
        val resolved =
          if (hosted) hrefBase match {
            // re-root the asset BY FILENAME onto the given serving
            // root: hosted hrefs are absolute publisher URLs, and a
            // consumer pointing at a mirror (or a hermetic test
            // server) needs the same object under its own base
            case Some(b) =>
              resolveHref(href.substring(href.lastIndexOf('/') + 1), b)
            case None => resolveHref(href, itemsDir)
          }
          else resolveHref(href, itemsDir)
        (id, resolved)
      }
  }

  private def layerStatsImpl(spark: SparkSession, itemsDir: String,
      lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
      minx: Double, miny: Double, maxx: Double, maxy: Double,
      filter: org.apache.spark.sql.Column, hrefBase: Option[String],
      hostedOnly: Boolean, expect: Option[String], scale: Long,
      prefixBytes: Int, level: Int): DataFrame = {
    import spark.implicits._
    val targets = resolveLayerTargets(spark, itemsDir,
      lonMin, latMin, lonMax, latMax, filter, hrefBase, hostedOnly,
      expect)
    if (targets.isEmpty)
      spark.emptyDataset[CogQuery.CogWindowStat].toDF()
    else CogQuery.windowStatsGeoAt(spark, targets, minx, miny, maxx, maxy,
      scale, prefixBytes, level)
  }

  /** JSON-directory re-scan (S9): item ids from the files on disk —
    * whichever filesystem `itemsDir`'s scheme names. */
  def listItemIds(itemsDir: String,
      conf: Configuration = WriFs.defaultConf): Seq[String] =
    WriFs.listNames(itemsDir, conf)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).sorted

  /** Required-column assert (`02b:112-123`): fail fast, by name. */
  def assertRequired(meta: DataFrame): Unit = {
    val required = Seq("filepath", "filename", "extent_xmin", "extent_xmax",
      "extent_ymin", "extent_ymax", "crs_epsg", "data_type", "wri_domain",
      "wri_dimension", "cog_filename")
    val missing = required.filterNot(meta.columns.contains)
    require(missing.isEmpty,
      s"Metadata missing required columns: ${missing.mkString(", ")}")
  }

  /** CI-style catalog REGENERATION (`README.md:250` — "CI/CD for
    * regenerating STAC when data updates"; the reference planned it,
    * never built it): recompute item documents from the CURRENT
    * `consistent` table and commit only the DELTA —
    *
    *  - a NEW layer's item is written;
    *  - a CHANGED layer's item is REWRITTEN (byte-compared against the
    *    on-disk document — [[run]]'s skip-if-exists rerun semantics
    *    would silently keep a stale document when a layer's extent or
    *    classification moved, which is exactly the drift a CI refresh
    *    exists to catch);
    *  - an UNCHANGED layer's file is never touched (byte-identical
    *    documents keep their mtimes — rsync/CDN sync stays no-op);
    *  - an ORPHANED document (no row in `consistent` anymore) is
    *    deleted when `pruneOrphans = true`, else reported;
    *  - the collection + catalog documents are rebuilt from the
    *    post-delta item listing (the S9 dir re-scan, so items from
    *    out-of-band runs still link).
    *
    * Two phases, and the split is load-bearing for CLUSTER execution:
    * phase 1 (distributed, READ-ONLY) builds every item and classifies
    * it against the on-disk document — a retried or speculative task
    * re-reads and re-classifies identically, so the audit is exact
    * whatever the scheduler does; phase 2 applies the delta writes
    * through the ATOMIC replace primitive (tmp+rename / single PUT), so
    * a speculative duplicate write of the same bytes can never expose a
    * torn document to a concurrent catalog reader. A side-effecting
    * classify-and-write single pass would misreport a retried task's
    * items as "unchanged" and tear under speculation. Only the audit
    * (one row per item) and the orphan id listing are driver-sized.
    *
    * Safety rail: an EMPTY `consistent` table refuses up front —
    * upstream outages read as zero rows, and a zero-row refresh with
    * `pruneOrphans = true` would otherwise classify every on-disk item
    * an orphan and gut the published catalog before any later
    * non-empty assert fired. Returns the audit: (item_id, action) with
    * action in written / rewritten / rewritten(is_hosted) / unchanged /
    * pruned / orphaned — the `(is_hosted)` variant marks a rewrite that
    * FLIPS an item's hosted status, because `hostedProbe` defaults to
    * `_ => false` here exactly as in [[run]]: a CI refresh that omits
    * the probe the catalog was built with demotes every hosted item,
    * and that regression must read differently in the audit than an
    * ordinary metadata rewrite. Pass the SAME hostedProbe on refresh
    * as at build time. */
  def refreshCatalog(spark: SparkSession, consistentIn: DataFrame,
      stacRoot: String, hostedProbe: String => Boolean = _ => false,
      pruneOrphans: Boolean = false): DataFrame = {
    import spark.implicits._
    assertRequired(consistentIn)
    // ONE materialization of the metadata table: this verb reads it
    // three times (the emptiness gate, the item build, the collection
    // summary), and the streaming caller hands in a
    // window-over-the-accumulated-store plan that would otherwise
    // recompute the store read + latest-wins shuffle per action
    // (measured: 3 identical window jobs per micro-batch). Catalog
    // metadata is bounded — O(layers) rows, the size class the audit
    // collect below already assumes — so the checkpoint is small; its
    // blocks are released before returning (bench/guardrail hygiene).
    // ...unless the input is already a driver-materialized LocalRelation
    // (hand-built metadata tables in fixtures/CI): re-evaluating one is
    // free, and the checkpoint would only add a job.
    val alreadyLocal = consistentIn.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val consistent =
      if (alreadyLocal) consistentIn else consistentIn.localCheckpoint(true)
    // release handle: the checkpointed blocks are found by walking THIS
    // DataFrame's own RDD lineage to its first persisted ancestor — a
    // global persistent-RDD-set diff would also capture (and unpersist)
    // anything another thread persisted concurrently
    val ckptRdd: Option[org.apache.spark.rdd.RDD[_]] =
      if (alreadyLocal) None
      else {
        def persisted(r: org.apache.spark.rdd.RDD[_])
            : Option[org.apache.spark.rdd.RDD[_]] =
          if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
            Some(r)
          else r.dependencies.iterator.map(d => persisted(d.rdd))
            .collectFirst { case Some(x) => x }
        persisted(consistent.rdd)
      }
    try {
    val itemsDir = s"$stacRoot/collections/$collectionId/items"
    val conf = spark.sparkContext.hadoopConfiguration
    val confBc = WriFs.confBroadcast(spark)
    val dir = itemsDir
    // the pre-refresh directory stats: the incremental sidecar rebuild
    // verifies against these that nothing but this refresh's own writes
    // moved while it ran
    val stat0 = itemsStatList(itemsDir, conf)
    val mirror0 = freshMirrorWithDocs(spark, itemsDir, conf,
      stateHashOf(stat0))
    // a HOSTED-STATUS change is surfaced distinctly: a CI refresh run
    // with a different (or defaulted) hostedProbe than the build flips
    // is_hosted on every item — reported as plain "rewritten" that is a
    // SILENT hosted-status regression of the published catalog; named,
    // it is one grep in the audit
    def classify(mapper: ObjectMapper, old: String, json: String): String =
      if (old == json) "unchanged"
      else if (scala.util.Try(mapper.readTree(old)
            .path("properties").path("is_hosted").asBoolean())
          .toOption.exists(_ != mapper.readTree(json)
            .path("properties").path("is_hosted").asBoolean()))
        "rewritten(is_hosted)"
      else "rewritten"
    // phase 1: distributed read-only classification (retry-exact).
    // When the refresh starts from a fresh mirror the old documents are
    // byte-compared against the mirror's `doc` column — a metadata join,
    // ZERO item-file opens; otherwise each task reads the live file.
    val built = buildItems(spark, consistent, hostedProbe)
      .select(col("item_id"), col("json"))
    val plan = (mirror0 match {
      case Some(m) =>
        built.join(m.select(col("item_id"), col("doc")),
            Seq("item_id"), "left")
          .select(col("item_id"), col("json"), col("doc"))
          .mapPartitions { rows =>
            val mapper = new ObjectMapper()
            rows.map { r =>
              val (id, json) = (r.getString(0), r.getString(1))
              val action =
                if (r.isNullAt(2)) "written"
                else classify(mapper, r.getString(2), json)
              (id, action, json)
            }
          }
      case None =>
        built.mapPartitions { rows =>
          val c = confBc.value.value
          val mapper = new ObjectMapper()
          rows.map { r =>
            val (id, json) = (r.getString(0), r.getString(1))
            val p = s"$dir/$id.json"
            val action =
              if (!WriFs.exists(p, c)) "written"
              else classify(mapper, WriFs.readString(p, c), json)
            (id, action, json)
          }
        }
    }).toDF("item_id", "action", "json").localCheckpoint(true)
    val audit = plan.select(col("item_id"), col("action"))
    // id→action, collected once (from the checkpoint the line above
    // already materialized): drives the EMPTINESS GATE below, the orphan
    // sweep, AND tells the incremental sidecar rebuild which documents
    // this refresh wrote (ids and one-word actions — bounded catalog
    // metadata, the same size class as the listing below)
    val actions = audit.as[(String, String)].collect()
    // the gate rides the collect instead of its own isEmpty job: items
    // are built 1:1 from metadata rows (buildItems is a mapPartitions),
    // so zero planned items ⟺ an empty metadata table — and nothing has
    // been written yet (phase 1 is read-only classification)
    require(actions.nonEmpty,
      s"refreshCatalog at $stacRoot: the metadata table is EMPTY — an " +
        "upstream outage reads as zero layers, and refreshing a " +
        "published catalog to zero items (pruning everything) is never " +
        "a delta; fix the upstream read first")
    // created only past the gate: a refused refresh leaves no new path
    WriFs.mkdirs(itemsDir, conf)
    // phase 2: apply the delta, atomic replace per document (idempotent
    // and torn-read-free under retries/speculation)
    plan.filter(col("action") =!= "unchanged")
      .foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
          val c = confBc.value.value
          rows.foreach { r =>
            val p = new org.apache.hadoop.fs.Path(
              s"$dir/${r.getString(0)}.json")
            WriFs.atomicWriteString(WriFs.fs(p.toString, c), p,
              r.getString(2))
          }
      }
    val current = actions.map(_._1).toSet
    // ONE post-write listing serves the foreign-delete repair, the
    // orphan sweep, and the collection links — a second/third LIST of
    // a 10k-item directory is what an object store bills for
    val listedIds = listItemIds(itemsDir, conf)
    // the mirror-backed classification never opens the live files, so
    // a FOREIGN delete of an item between the freshness check and here
    // would otherwise survive as "unchanged" with no document on disk
    // (the file-reading arm self-heals this case as "written") —
    // repair from the plan's own json, which holds every current item
    val missing = current -- listedIds.toSet
    if (missing.nonEmpty) {
      log.warn(s"refreshCatalog at $stacRoot: ${missing.size} " +
        s"current item document(s) vanished out-of-band during the " +
        s"refresh (${missing.toSeq.sorted.take(5).mkString(", ")}" +
        s"${if (missing.size > 5) ", ..." else ""}) — rewriting them")
      plan.filter(col("item_id").isInCollection(missing.toSeq))
        .select(col("item_id"), col("json"))
        .as[(String, String)].collect().foreach { case (id, json) =>
          val p = new org.apache.hadoop.fs.Path(s"$itemsDir/$id.json")
          WriFs.atomicWriteString(WriFs.fs(p.toString, conf), p, json)
        }
    }
    val orphanRows = listedIds.filterNot(current)
      .map { id =>
        if (pruneOrphans) {
          WriFs.fs(s"$itemsDir/$id.json", conf)
            .delete(new org.apache.hadoop.fs.Path(s"$itemsDir/$id.json"),
              false)
          (id, "pruned")
        } else (id, "orphaned")
      }
    val prunedIds = orphanRows.collect { case (id, "pruned") => id }.toSet
    val ids = (listedIds.toSet ++ missing -- prunedIds).toSeq.sorted
    // the collection/catalog documents get the SAME atomic replace as
    // the items: they are rewritten on every refresh, and a concurrent
    // catalog reader must never observe a torn root document
    atomicDoc(s"$stacRoot/collections/$collectionId/collection.json",
      collectionJson(consistent, ids), conf)
    atomicDoc(s"$stacRoot/catalog.json", catalogJson, conf)
    // the refresh is the WRITE side of the consumer verbs' fast path:
    // re-mirror the (possibly just-changed) item rows into the parquet
    // sidecar so lookups stop paying O(items) JSON opens. A refresh
    // that STARTED from a fresh mirror rebuilds it incrementally from
    // the delta it just wrote (zero item-file opens); without one it
    // pays the full document scan once, and every later refresh rides
    // the mirror it leaves behind.
    mirror0 match {
      case Some(m) =>
        val changedIds = actions.collect {
          case (id, a) if a != "unchanged" => id }.toSet
        // a foreign-delete repair rewrote "unchanged" documents, so
        // their stats moved — the delta writer's stability check will
        // see that and fall back to the full scan, which is exactly
        // right after an out-of-band interleaving
        writeCatalogSidecarDelta(spark, itemsDir, m, stat0,
          plan.filter(col("action") =!= "unchanged")
            .select(col("item_id"), col("json")),
          changedIds, prunedIds)
      case None => writeCatalogSidecar(spark, itemsDir)
    }
    audit.unionByName(orphanRows.toDF("item_id", "action"))
    } finally ckptRdd.foreach(_.unpersist(blocking = false))
  }

  /** Full stage 02: items + collection + catalog under stacRoot. */
  def run(spark: SparkSession, consistent: DataFrame, stacRoot: String,
      hostedProbe: String => Boolean = _ => false): DataFrame = {
    assertRequired(consistent)
    val items = buildItems(spark, consistent, hostedProbe)
    val itemsDir = s"$stacRoot/collections/$collectionId/items"
    writeItems(items, itemsDir)
    // S9: crawl the items directory (not the in-memory DF) for the
    // collection's rel=item links, exactly like the reference's dir_ls
    // re-scan (`02b:312-322`) — picks up items from earlier runs too
    val conf = spark.sparkContext.hadoopConfiguration
    val ids = listItemIds(itemsDir, conf)
    atomicDoc(s"$stacRoot/collections/$collectionId/collection.json",
      collectionJson(consistent, ids), conf)
    atomicDoc(s"$stacRoot/catalog.json", catalogJson, conf)
    writeCatalogSidecar(spark, itemsDir)
    items
  }

  /** Atomic replace of one driver-written catalog document. */
  private def atomicDoc(path: String, content: String,
      conf: Configuration): Unit =
    WriFs.atomicWriteString(WriFs.fs(path, conf),
      new org.apache.hadoop.fs.Path(path), content)

  /** The reference's operational loop — "rerun 02b after uploads to
    * refresh hosting status" (`scripts/02b_make_stac_all.R:28-31`) — as
    * the FILE-ARRIVAL-TRIGGERED stream SURVEY §2.8 maps it onto:
    * `readStream(binaryFile)` over the data directory, and each
    * micro-batch of newly arrived rasters runs stage 00 over exactly
    * those files, lands their metadata in an accumulating store, and
    * replays [[refreshCatalog]] over the accumulated table. The
    * operator stops rerunning 02b by hand; uploads become catalog
    * updates.
    *
    * Composition, not new machinery — each piece is the already-oracled
    * batch verb:
    *
    *  - the micro-batch inventory is [[Inventory.runListed]] (the same
    *    classify -> exclude -> header-read -> validate pipeline; only
    *    CONSISTENT rows enter the metadata store);
    *  - the metadata store is one parquet dir per micro-batch
    *    (`metaDir/batch=<id>`, written with OVERWRITE — a replayed
    *    micro-batch after a crash rewrites the same directory with the
    *    same rows, the foreachBatch idempotent-sink discipline);
    *  - a RE-DELIVERED layer (same `cog_filename` arriving again from a
    *    new path — re-uploads land as new files) resolves LATEST-WINS:
    *    the highest batch id's row feeds the refresh, so the catalog
    *    tracks the newest delivery exactly like a hand rerun of 02b
    *    over the post-upload tree;
    *  - the catalog commit is [[refreshCatalog]] itself (delta
    *    classification, atomic replaces, is_hosted-flip surfacing) with
    *    `pruneOrphans = false` ALWAYS: a streaming metadata store only
    *    ever accumulates — absence from one micro-batch is not deletion
    *    evidence, so orphan pruning stays the batch verb's decision.
    *
    * Returns the started query; the caller owns its lifecycle
    * (`processAllAvailable`/`awaitTermination`/`stop`). At 100 TB the
    * shape holds: each micro-batch costs O(new files) header reads
    * fanned across executors, the store grows by metadata rows only,
    * and the refresh rewrites only changed documents. After the first
    * micro-batch leaves a mirror behind, each later batch rides it:
    * the delta byte-compare joins against the sidecar's `doc` column
    * and the sidecar itself rebuilds incrementally from the delta, so
    * a micro-batch opens NO catalog documents — its item-file I/O is
    * exactly the documents it writes. The remaining O(catalog) tail is
    * row-level (the compare join, the collection summary aggregate,
    * one small parquet rewrite), measured in SCALE.md's slope table
    * per 200-upload batch as the catalog grows to 1000 items. */
  def streamingCatalogRefresh(spark: SparkSession, dataDir: String,
      metaDir: String, stacRoot: String, checkpointDir: String,
      hostedProbe: String => Boolean = _ => false,
      compactThreshold: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // the binaryFile source's FIXED schema, stated explicitly — a
    // streaming file source refuses to infer
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val stream = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.tif")
      .option("recursiveFileLookup", "true")
      .load(dataDir)
      // path + length only: column pruning keeps `content` out of the
      // plan — stage 00 is header-economy reads, never whole rasters
      .select(col("path"), col("length"))
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        refreshBatch(batch, batchId, metaDir, stacRoot, hostedProbe,
          compactThreshold)
      }
      .start()
  }

  /** One micro-batch of [[streamingCatalogRefresh]] — public because it
    * IS the composable unit: a caller with its own stream (a queue
    * consumer, an upload webhook) drives this body per delivery batch
    * and gets the identical landing/latest-wins/refresh semantics;
    * replaying a batch id is a byte no-op (the replay spec and the
    * wri_stream_refresh oracle both pin it). `batch` carries (path,
    * length) rows for the newly arrived rasters. */
  def refreshBatch(batch: DataFrame, batchId: Long,
      metaDir: String, stacRoot: String,
      hostedProbe: String => Boolean,
      compactThreshold: Int = 64): Unit = {
    val spark = batch.sparkSession
    val listed = batch.select(
        regexp_replace(col("path"), "^file:", "").as("filepath"),
        col("length"))
      .select(col("filepath"), col("length"),
        Classify.dataType(col("filepath")).as("data_type"))
      .filter(col("data_type") =!= "exclude")
    // cached across the emptiness probe and the landing write — the
    // inventory stage reads every batch file's header, and recomputing
    // it for the second action would pay that I/O twice per micro-batch
    val consistent = Inventory.runListed(spark, listed, None).consistent
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // idempotent landing: the batch's rows live under their OWN dir,
      // rewritten whole on replay — appends would double-count a
      // replayed micro-batch. An all-inconsistent (or all-excluded)
      // batch lands nothing: an empty parquet dir would poison the
      // accumulated read (no footer to infer from), and absence is the
      // honest record.
      if (!consistent.isEmpty)
        consistent.write.mode("overwrite")
          .parquet(s"$metaDir/batch=$batchId")
    } finally consistent.unpersist()
    val conf = spark.sparkContext.hadoopConfiguration
    // the store stays BOUNDED over the stream's life: once the number
    // of per-batch partitions reaches the threshold, fold them (plus
    // any previous fold) into one latest-wins generation — without
    // this, micro-batch N reads N partitions and the refresh cost
    // grows with the total uploads EVER, not the catalog
    if (compactThreshold > 0 &&
        WriFs.listNames(metaDir, conf)
          .count(_.startsWith("batch=")) >= compactThreshold)
      compactMetaStore(spark, metaDir)
    if (WriFs.listNames(metaDir, conf).exists(_.startsWith("batch=")) ||
        compactedGens(metaDir, conf).nonEmpty) {
      val latest = latestWins(accumulatedMeta(spark, metaDir, conf))
        .drop("batch")
      refreshCatalog(spark, latest, stacRoot, hostedProbe,
        pruneOrphans = false)
      ()
    }
  }

  /** The compacted generations under `metaDir/compacted`, as
    * (dirName, generation) sorted by generation. */
  private def compactedGens(metaDir: String,
      conf: Configuration): Seq[(String, Long)] =
    WriFs.listNames(s"$metaDir/compacted", conf)
      .filter(_.startsWith("gen-"))
      .flatMap(n => scala.util.Try(n.stripPrefix("gen-").toLong).toOption
        .map(n -> _))
      .sortBy(_._2)

  /** Every metadata row the store currently holds: the per-batch
    * partitions (batch as the hive partition column) unioned with the
    * compacted generations (batch as a data column). Duplicates across
    * the two forms are IDENTICAL rows (a replayed batch re-lands the
    * same deterministic header-scan rows its compacted winners came
    * from), so latest-wins over the union is exact whether or not a
    * compaction's source deletes completed. */
  private def accumulatedMeta(spark: SparkSession, metaDir: String,
      conf: Configuration): DataFrame = {
    // The store's schema is CODE-DEFINED (the landing writes
    // [[Inventory.validated]]'s layerMetaSchema projection; compaction
    // appends the winning batch id) — state it explicitly so neither
    // read pays a footer-inference job. Measured: the per-micro-batch
    // driver latency was dominated by small non-job work, and schema
    // inference was a recurring slice of it (one distributed
    // footer-read job per spark.read.parquet per refresh). All fields
    // nullable, matching what inference yielded.
    val storeSchema = org.apache.spark.sql.types.StructType(
      (Model.layerMetaSchema.fields.map(_.copy(nullable = true)) :+
        org.apache.spark.sql.types.StructField("batch",
          org.apache.spark.sql.types.LongType)).toIndexedSeq)
    // batch is NUMERIC by contract: typed long in the explicit schema
    // (and cast defensively below) so latest-wins never depends on
    // partitionColumnTypeInference — with inference off the inferred
    // column is a string and "9" lexically outranks "10", silently
    // regressing the catalog to an older delivery
    val batches =
      if (WriFs.listNames(metaDir, conf).exists(_.startsWith("batch=")))
        Some(spark.read.option("basePath", metaDir)
          .schema(storeSchema)
          .parquet(s"$metaDir/batch=*")
          .withColumn("batch", col("batch").cast("long")))
      else None
    val gens = compactedGens(metaDir, conf)
      .map { case (n, _) => s"$metaDir/compacted/$n" } match {
        case Seq() => None
        case paths => Some(spark.read.schema(storeSchema).parquet(paths: _*))
      }
    (batches, gens) match {
      case (Some(b), Some(g)) => b.unionByName(g)
      case (Some(b), None) => b
      case (None, Some(g)) => g
      case (None, None) =>
        sys.error(s"accumulatedMeta at $metaDir: the store is empty")
    }
  }

  /** Latest-wins across the accumulated store: a re-delivered
    * cog_filename's newest batch (then lexically-last path, for two
    * deliveries inside ONE batch) is the row that feeds the refresh.
    * The `batch` column is KEPT on the winners — compaction persists
    * it so later batches (and replays of folded ones) still order
    * correctly against the folded winners. */
  private def latestWins(all: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cog_filename"))
      .orderBy(col("batch").desc, col("filepath").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Fold the metadata store to its latest-wins winners: one pass over
    * every per-batch partition and previous generation, one new
    * `compacted/gen-<n>` holding ONE row per cog_filename (its winning
    * batch id preserved), then best-effort deletion of the folded
    * sources. Crash-safe by construction, not by protocol: the new
    * generation's rows are a latest-wins-equivalent superset-summary of
    * what it folded, and duplicates between a generation and an
    * undeleted (or later replayed) batch partition are identical rows —
    * so a crash at ANY point leaves a store whose latest-wins answer is
    * unchanged, and the next compaction simply folds the leftovers.
    * A replay of an already-folded batch id re-lands its partition and
    * the window resolves it against the generation's winners exactly as
    * it would have against the original partitions.
    *
    * At scale this is what keeps the streaming loop O(catalog): the
    * store holds |layers| + |batches since last fold| rows instead of
    * every upload ever, and each micro-batch's accumulated read opens a
    * handful of files. Returns a one-row audit:
    * (gen, folded_batches, folded_gens, layers). */
  def compactMetaStore(spark: SparkSession, metaDir: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val batchDirs = WriFs.listNames(metaDir, conf)
      .filter(_.startsWith("batch="))
    val gens = compactedGens(metaDir, conf)
    require(batchDirs.nonEmpty || gens.nonEmpty,
      s"compactMetaStore at $metaDir: the store is empty — nothing to " +
        "compact (land at least one batch first)")
    val winners = latestWins(accumulatedMeta(spark, metaDir, conf))
      .coalesce(1) // one row per layer: catalog metadata, one file
      .localCheckpoint(true) // materialize BEFORE any source is deleted
    val gen = gens.map(_._2).maxOption.getOrElse(0L) + 1
    winners.write.mode("overwrite")
      .parquet(s"$metaDir/compacted/gen-$gen")
    val fs = WriFs.fs(metaDir, conf)
    (batchDirs.map(n => s"$metaDir/$n") ++
      gens.map { case (n, _) => s"$metaDir/compacted/$n" })
      .foreach { p =>
        scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(p), true))
      }
    Seq((gen, batchDirs.size.toLong, gens.size.toLong, winners.count()))
      .toDF("gen", "folded_batches", "folded_gens", "layers")
  }
}
