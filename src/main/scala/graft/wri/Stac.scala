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
    * hand [[run]]/[[refreshCatalog]]/[[refreshBatch]]. The
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

  /** Write item files (skip-if-exists, `02b:197-205`) in one job, so
    * the hosting probe inside `items` runs once per item, and hand back
    * the (item_id, is_hosted, json) rows that job was given — item
    * documents are catalog metadata, driver-sized. Each item lands
    * through [[WriFs.atomicWriteString]] — the same replace discipline
    * as [[refreshCatalog]] — so a reader concurrent with even the FIRST
    * publish sees a complete document or none (the sibling `.json.tmp`
    * is not an item document to [[readItems]]). */
  def writeItems(items: DataFrame,
      itemsDir: String): Seq[(String, Boolean, String)] = {
    val spark = items.sparkSession
    import spark.implicits._
    WriFs.mkdirs(itemsDir, spark.sparkContext.hadoopConfiguration)
    val confBc = WriFs.confBroadcast(spark)
    val dir = itemsDir
    items.select("item_id", "is_hosted", "json")
      .as[(String, Boolean, String)].mapPartitions { rows =>
        val conf = confBc.value.value
        rows.map { case row @ (id, _, json) =>
          val p = s"$dir/$id.json"
          if (!WriFs.exists(p, conf))
            WriFs.atomicWriteString(WriFs.fs(p, conf),
              new org.apache.hadoop.fs.Path(p), json)
          row
        }
      }.collect().toSeq
  }

  /** Collection document (A3/A4 summaries computed as Spark aggregates,
    * collected as tiny scalars). The first-row extent (P9), the domain
    * summary and the blank-filtered dimension summary all come from ONE
    * aggregation job — they are three tiny scalars over the same table,
    * and every refresh (hence every upload batch) pays this
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

  /** The fields of an item document that [[readItems]] flattens. */
  private val itemDocSchema = {
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

  /** STAC item read-back — the catalog's QUERY surface (S9 extended
    * from "list the ids" to "query the documents"): every item JSON
    * under `itemsDir` parses into one FLAT row with an explicit schema
    * (nothing inferred — the `02b:112-123` schema discipline), so a
    * client filters the catalog by domain/dimension/extent/hosting with
    * ordinary column predicates instead of walking JSON files.
    *
    * The documents are read on the DRIVER (one listing, then one
    * [[WriFs.readString]] per [[isItemDoc]] name — the file set Spark's
    * JSON source would scan) and
    * parsed by Spark's own JSON parser (`from_json`) over a local
    * relation. Catalyst then evaluates filters, projections and limits
    * over the result on the driver, so a catalog lookup runs no Spark
    * job. The trade: the reads are no longer fanned out across
    * executors. That is right at the paper's 82 items and at SCALE's
    * 1,000; a remote-store catalog of far more items would need
    * parallel reads. The item documents are the catalog's only copy, so
    * a document written by any route is what the next read answers. */
  def readItems(spark: SparkSession, itemsDir: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    WriFs.listNames(itemsDir, conf).filter(isItemDoc)
      .sorted.map(n => WriFs.readString(s"$itemsDir/$n", conf))
      .toDF("doc")
      .select(from_json(col("doc"), itemDocSchema).as("d"))
      .select(
        col("d.id").as("item_id"),
        col("d.collection").as("collection"),
        col("d.properties.datetime").as("datetime"),
        col("d.properties.data_type").as("data_type"),
        col("d.properties.wri_domain").as("wri_domain"),
        col("d.properties.wri_dimension").as("wri_dimension"),
        col("d.properties.is_hosted").as("is_hosted"),
        col("d.bbox")(0).as("bbox_w"), col("d.bbox")(1).as("bbox_s"),
        col("d.bbox")(2).as("bbox_e"), col("d.bbox")(3).as("bbox_n"),
        col("d.assets.data.href").as("href"))
  }

  /** Catalog search over [[readItems]] rows: items whose bbox
    * INTERSECTS [lonMin, lonMax] x [latMin, latMax] (the standard STAC
    * bbox-overlap test: disjoint iff one box lies wholly past the
    * other on either axis). A plain column predicate, so Catalyst
    * evaluates it with the rest of the catalog read. */
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
    * but never built, as one distributed sweep: every [[isItemDoc]]
    * file under `itemsDir` is parsed and checked against the Item spec's
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
      .filter(isItemDoc).sorted
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
    WriFs.listNames(itemsDir, conf).filter(isItemDoc)
      .map(_.stripSuffix(".json")).sorted

  /** An item document's file name: `*.json` not starting with `.` or
    * `_` (the hidden-file rule of Spark's file sources). Every listing
    * of an items directory filters through it, so a file the consumer
    * verbs skip is never linked from the collection or pruned. */
  private def isItemDoc(name: String): Boolean =
    name.endsWith(".json") && !name.startsWith(".") && !name.startsWith("_")

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
    * items as "unchanged" and tear under speculation. Phase 1's rows
    * (one per item, with its document) are collected, so only catalog
    * metadata is ever driver-sized.
    *
    * `consistent` is evaluated twice, once for the items and once for
    * the collection summary, as in [[run]]; a caller whose table is
    * costly to recompute hands in a local one (as [[refreshBatch]]
    * does).
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
  def refreshCatalog(spark: SparkSession, consistent: DataFrame,
      stacRoot: String, hostedProbe: String => Boolean = _ => false,
      pruneOrphans: Boolean = false): DataFrame = {
    import spark.implicits._
    assertRequired(consistent)
    val itemsDir = s"$stacRoot/collections/$collectionId/items"
    val conf = spark.sparkContext.hadoopConfiguration
    val confBc = WriFs.confBroadcast(spark)
    val dir = itemsDir
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
    // phase 1: distributed read-only classification (retry-exact), each
    // task byte-comparing against the live document; its (item_id,
    // action, json) rows are collected once — one row per item, the
    // same size class as the listing below — and drive the emptiness
    // gate, the delta writes, the foreign-delete repair and the audit
    val plan = buildItems(spark, consistent, hostedProbe)
      .select(col("item_id"), col("json")).as[(String, String)]
      .mapPartitions { rows =>
        val c = confBc.value.value
        val mapper = new ObjectMapper()
        rows.map { case (id, json) =>
          val p = s"$dir/$id.json"
          val action =
            if (!WriFs.exists(p, c)) "written"
            else classify(mapper, WriFs.readString(p, c), json)
          (id, action, json)
        }
      }.collect()
    // items are built 1:1 from metadata rows (buildItems is a
    // mapPartitions), so zero planned items ⟺ an empty metadata table —
    // and nothing has been written yet (phase 1 is read-only)
    require(plan.nonEmpty,
      s"refreshCatalog at $stacRoot: the metadata table is EMPTY — an " +
        "upstream outage reads as zero layers, and refreshing a " +
        "published catalog to zero items (pruning everything) is never " +
        "a delta; fix the upstream read first")
    // created only past the gate: a refused refresh leaves no new path
    WriFs.mkdirs(itemsDir, conf)
    // phase 2: apply the delta, atomic replace per document (idempotent
    // and torn-read-free under retries/speculation); an all-unchanged
    // refresh runs no write job
    val changed = plan.collect {
      case (id, action, json) if action != "unchanged" => (id, json)
    }
    if (changed.nonEmpty)
      spark.sparkContext.parallelize(changed.toSeq,
          math.min(changed.length, spark.sparkContext.defaultParallelism))
        .foreachPartition { rows =>
          val c = confBc.value.value
          rows.foreach { case (id, json) =>
            val p = new org.apache.hadoop.fs.Path(s"$dir/$id.json")
            WriFs.atomicWriteString(WriFs.fs(p.toString, c), p, json)
          }
        }
    val current = plan.map(_._1).toSet
    // ONE post-write listing serves the foreign-delete repair, the
    // orphan sweep, and the collection links — a second/third LIST of
    // a 10k-item directory is what an object store bills for
    val listedIds = listItemIds(itemsDir, conf)
    // a FOREIGN delete of an item after its task classified it would
    // otherwise survive as "unchanged" with no document on disk —
    // repair from the plan's own json, which holds every current item
    val missing = current -- listedIds.toSet
    if (missing.nonEmpty) {
      log.warn(s"refreshCatalog at $stacRoot: ${missing.size} " +
        s"current item document(s) vanished out-of-band during the " +
        s"refresh (${missing.toSeq.sorted.take(5).mkString(", ")}" +
        s"${if (missing.size > 5) ", ..." else ""}) — rewriting them")
      plan.filter(r => missing(r._1)).foreach { case (id, _, json) =>
        atomicDoc(s"$itemsDir/$id.json", json, conf)
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
    (plan.toSeq.map(r => (r._1, r._2)) ++ orphanRows)
      .toDF("item_id", "action")
  }

  /** Full stage 02: items + collection + catalog under stacRoot. */
  def run(spark: SparkSession, consistent: DataFrame, stacRoot: String,
      hostedProbe: String => Boolean = _ => false): DataFrame = {
    import spark.implicits._
    assertRequired(consistent)
    val itemsDir = s"$stacRoot/collections/$collectionId/items"
    // a local result: an action on it never re-runs buildItems (and so
    // never re-sends the hosting probe)
    val items = writeItems(buildItems(spark, consistent, hostedProbe),
      itemsDir).toDF("item_id", "is_hosted", "json")
    // S9: crawl the items directory (not the in-memory DF) for the
    // collection's rel=item links, exactly like the reference's dir_ls
    // re-scan (`02b:312-322`) — picks up items from earlier runs too
    val conf = spark.sparkContext.hadoopConfiguration
    val ids = listItemIds(itemsDir, conf)
    atomicDoc(s"$stacRoot/collections/$collectionId/collection.json",
      collectionJson(consistent, ids), conf)
    atomicDoc(s"$stacRoot/catalog.json", catalogJson, conf)
    items
  }

  /** Atomic replace of one driver-written catalog document. */
  private def atomicDoc(path: String, content: String,
      conf: Configuration): Unit =
    WriFs.atomicWriteString(WriFs.fs(path, conf),
      new org.apache.hadoop.fs.Path(path), content)

  /** One upload batch of the reference's operational loop — "rerun 02b
    * after uploads to refresh hosting status"
    * (`scripts/02b_make_stac_all.R:28-31`): stage 00 over exactly the
    * newly arrived rasters, their metadata landed in an accumulating
    * store, and [[refreshCatalog]] replayed over the accumulated table.
    * `batch` carries (path, length) rows for the arrivals; any delivery
    * loop (a `foreachBatch` over a file-arrival stream, a queue
    * consumer, an upload webhook) calls this once per batch.
    *
    * Composition, not new machinery — each piece is the already-oracled
    * batch verb:
    *
    *  - the inventory is [[Inventory.runListed]]; only CONSISTENT rows
    *    enter the metadata store;
    *  - the store is one parquet dir per batch (`metaDir/batch=<id>`,
    *    written with OVERWRITE — replaying a batch id rewrites the same
    *    directory with the same rows, and the refresh then changes no
    *    document: the replay spec and the wri_stream_refresh oracle both
    *    pin it);
    *  - a RE-DELIVERED layer (same `cog_filename` from a new path)
    *    resolves LATEST-WINS: the highest batch id's row feeds the
    *    refresh, as a hand rerun of 02b over the post-upload tree would;
    *  - the catalog commit is [[refreshCatalog]] with
    *    `pruneOrphans = false` ALWAYS: the store only accumulates, so
    *    absence from one batch is not deletion evidence.
    *
    * The batch's consistent rows and the latest-wins winners are each
    * collected once (one row per layer), so no action recomputes
    * them and no block is cached. */
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
    // the header scan runs once: its rows land from the driver
    val (landed, consistent) = collected(
      Inventory.runListed(spark, listed, None).consistent)
    // idempotent landing: the batch's rows live under their OWN dir,
    // rewritten whole on replay — appends would double-count a
    // replayed batch. An all-inconsistent (or all-excluded) batch lands
    // nothing: an empty parquet dir would poison the accumulated read
    // (no footer to infer from), and absence is the honest record.
    if (landed.nonEmpty)
      consistent.coalesce(1).write.mode("overwrite")
        .parquet(s"$metaDir/batch=$batchId")
    val conf = spark.sparkContext.hadoopConfiguration
    // the store stays BOUNDED over the loop's life: once the number of
    // per-batch partitions reaches the threshold, fold them (plus any
    // previous fold) into one latest-wins generation — without this,
    // batch N reads N partitions and the refresh cost grows with the
    // total uploads EVER, not the catalog
    if (compactThreshold > 0 &&
        WriFs.listNames(metaDir, conf)
          .count(_.startsWith("batch=")) >= compactThreshold)
      compactMetaStore(spark, metaDir)
    if (WriFs.listNames(metaDir, conf).exists(_.startsWith("batch=")) ||
        compactedGens(metaDir, conf).nonEmpty) {
      val (_, latest) = collected(latestWins(accumulatedMeta(spark,
        metaDir, conf)).drop("batch"))
      refreshCatalog(spark, latest, stacRoot, hostedProbe,
        pruneOrphans = false)
      ()
    }
  }

  /** `df` evaluated once: its rows, and a driver-local frame over
    * them that any number of later actions read without a recompute. */
  private def collected(df: DataFrame)
      : (Array[org.apache.spark.sql.Row], DataFrame) = {
    val rows = df.collect()
    (rows, df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema))
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
    // read pays a footer-inference job. Measured: the per-batch
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
    * The `batch` column is KEPT on the winners — compaction writes it
    * so later batches (and replays of folded ones) still order
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
    * At scale this is what keeps the refresh loop O(catalog): the
    * store holds |layers| + |batches since last fold| rows instead of
    * every upload ever, and each batch's accumulated read opens a
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
    // collected BEFORE any source is deleted: one row per layer
    val (rows, winners) = collected(latestWins(accumulatedMeta(spark,
      metaDir, conf)))
    val gen = gens.map(_._2).maxOption.getOrElse(0L) + 1
    winners.coalesce(1).write.mode("overwrite")
      .parquet(s"$metaDir/compacted/gen-$gen")
    val fs = WriFs.fs(metaDir, conf)
    (batchDirs.map(n => s"$metaDir/$n") ++
      gens.map { case (n, _) => s"$metaDir/compacted/$n" })
      .foreach { p =>
        scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(p), true))
      }
    Seq((gen, batchDirs.size.toLong, gens.size.toLong,
        rows.length.toLong))
      .toDF("gen", "folded_batches", "folded_gens", "layers")
  }
}
