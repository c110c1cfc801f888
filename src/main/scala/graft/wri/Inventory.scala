package graft.wri

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 00 — layer inventory (SURVEY §3.1; `00b_extract_metadata_all.R`).
  *
  * Spark shape: binaryFile listing -> pure classification projections ->
  * exclude filter BEFORE any raster I/O (the reference's own pushdown,
  * `00b:68-74`) -> anti-join against the resume ledger (J1) -> header
  * read via mapPartitions (S2; header-only, pixels never enter the plan)
  * -> validation cascade (P6/P7) -> consistent/inconsistent split
  * (`00b:161-177`).
  *
  * At scale: the listing parallelizes across executors; header reads are
  * ~KB-sized reads per file; the only shuffles are the optional resume
  * anti-join and final write coalesce.
  */
object Inventory {
  import Model._

  /** File listing + classification columns; no raster I/O yet. */
  def listAndClassify(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tif")
      .option("recursiveFileLookup", "true")
      .load(dataDir)
      .select(
        // strip the file: URI scheme so classification sees plain paths
        regexp_replace(col("path"), "^file:", "").as("filepath"),
        col("length"))
      .select(
        col("filepath"), col("length"),
        Classify.dataType(col("filepath")).as("data_type"))
      // cheap predicate BEFORE expensive header reads (P5)
      .filter(col("data_type") =!= "exclude")

  case class RawHeader(
      filepath: String, file_size_mb: Option[Double],
      nrows: Option[Int], ncols: Option[Int], nlayers: Option[Int],
      resolution_x: Option[Double], resolution_y: Option[Double],
      crs_epsg: Option[Int],
      extent_xmin: Option[Double], extent_xmax: Option[Double],
      extent_ymin: Option[Double], extent_ymax: Option[Double],
      datatype: Option[String], success: Boolean, error: Option[String])

  /** Header extraction as error-as-data rows (`utils.R:176-213`):
    * failures never throw, they become success=false rows routed to the
    * inconsistent split. */
  def withHeaders(spark: SparkSession, listed: DataFrame): DataFrame = {
    import spark.implicits._
    // headers are read where the task runs, through RangeReader — the
    // same bounded-read seam as CogQuery, so the scan stage works over
    // local disk, any Hadoop scheme, or hosted-raster HTTP alike
    val confBc = WriFs.confBroadcast(spark)
    val headers = listed.select(col("filepath"), col("length")).as[(String, Long)]
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.map { case (fp, len) =>
          try {
            val h = TiffIO.readHeader(fp, conf)
            RawHeader(fp,
              Some(math.round(len / 1024.0 / 1024.0 * 100) / 100.0),
              Some(h.height), Some(h.width), Some(h.bands),
              Some(h.resX), Some(h.resY), h.epsg,
              Some(h.xmin), Some(h.xmax), Some(h.ymin), Some(h.ymax),
              Some(h.datatype), success = true, None)
          } catch {
            case e: Exception =>
              RawHeader(fp, None, None, None, None, None, None, None,
                None, None, None, None, None, success = false,
                Some(e.toString))
          }
        }
      }.toDF()
    listed.drop("length").join(headers, Seq("filepath"))
  }

  /** Classification + validation columns on top of raw headers. */
  def validated(df: DataFrame): DataFrame = {
    val err = Classify.assumptionError(
      col("crs_epsg"), col("resolution_x"), col("resolution_y"),
      col("extent_xmin"), col("extent_xmax"),
      col("extent_ymin"), col("extent_ymax"))
    df
      .withColumn("filename", Classify.basename(col("filepath")))
      .withColumn("wri_domain", Classify.domain(col("filepath")))
      .withColumn("wri_dimension",
        Classify.dimension(col("data_type"), col("filename")))
      .withColumn("cog_filename", Classify.cogFilename(col("filepath")))
      .withColumn("assumption_error", when(col("success"), err))
      .withColumn("passes_assumptions",
        when(col("success"), col("assumption_error").isNull))
      .select(layerMetaSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  case class InventoryResult(
      raw: DataFrame, consistent: DataFrame, inconsistent: DataFrame)

  /** CSV sinks with the reference's split semantics (S5/S6;
    * `00b:161-177`): consistent CSV always; raw + inconsistent only when
    * problems exist. Parquet is the canonical store; CSV is the
    * reference-compatible export. */
  def writeOutputs(result: InventoryResult, metadataDir: String): Unit = {
    WriFs.mkdirs(metadataDir,
      result.raw.sparkSession.sparkContext.hadoopConfiguration)
    def csv(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$metadataDir/$name")
    csv(result.consistent, "all_layers_consistent.csv")
    val problems = result.inconsistent.limit(1).count() > 0 ||
      result.raw.filter(!col("success")).limit(1).count() > 0
    if (problems) {
      csv(result.raw, "all_layers_raw.csv")
      csv(result.inconsistent, "all_layers_inconsistent.csv")
    }
  }

  /** CSV source with the explicit inventory schema — nothing inferred
    * (S4; schema discipline per `02b:112-123`). */
  def readMetaCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(layerMetaSchema).option("header", "true").csv(path)

  /** Fail fast on duplicate COG keys (A2; `02b:128-131`). */
  def assertUniqueCogFilenames(meta: DataFrame): Unit = {
    val dup = meta.groupBy(col("cog_filename")).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"Duplicate cog_filename (cannot use as unique COG ID): " +
        dup.headOption.map(_.getString(0)).getOrElse(""))
  }

  /** Full stage 00 over a data directory; `resumeFrom` optionally holds a
    * previously-written raw table for skip-processed semantics (J1). */
  def run(spark: SparkSession, dataDir: String,
      resumeFrom: Option[DataFrame] = None): InventoryResult =
    runListed(spark, listAndClassify(spark, dataDir), resumeFrom)

  /** Stage 00 over HOSTED rasters — the reference's actual serving mode
    * (`README.md:329-335`): the "files" are URLs, sizes come from one
    * HEAD-equivalent [[RangeReader]] open per URL, and the header reads
    * are bounded HTTP range requests. Classification sees the URL path,
    * so the same directory conventions apply. `hdfs://`-style URLs work
    * identically (RangeReader resolves non-HTTP schemes through the
    * Hadoop FileSystem API). */
  def runOverUrls(spark: SparkSession, urls: Seq[String],
      resumeFrom: Option[DataFrame] = None): InventoryResult = {
    import spark.implicits._
    val confBc = WriFs.confBroadcast(spark)
    // classification + exclude FIRST, on the URL strings alone — an
    // excluded layer never costs even its HEAD request (P5 discipline)
    val listed = spark.createDataset(urls).toDF("filepath")
      .select(col("filepath"),
        Classify.dataType(col("filepath")).as("data_type"))
      .filter(col("data_type") =!= "exclude")
      .as[(String, String)]
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.map { case (url, dt) =>
          val r = RangeReader.open(url, conf)
          try (url, r.length, dt) finally r.close()
        }
      }
      .toDF("filepath", "length", "data_type")
    runListed(spark, listed, resumeFrom)
  }

  /** The shared tail of [[run]]/[[runOverUrls]]: resume anti-join,
    * header extraction, validation, consistent/inconsistent split.
    * Public so callers that already HOLD a listing — e.g.
    * [[Stac.refreshBatch]], whose upload batch IS a (filepath, length)
    * set — can run stage 00 over it without a directory re-scan; `listed0` needs (filepath, length, data_type)
    * with excluded rows already filtered (the [[listAndClassify]]
    * shape). */
  def runListed(spark: SparkSession, listed0: DataFrame,
      resumeFrom: Option[DataFrame]): InventoryResult = {
    val listed = resumeFrom match {
      case Some(prev) =>
        listed0.join(prev.select("filepath"), Seq("filepath"), "left_anti")
      case None => listed0
    }
    val raw = validated(withHeaders(spark, listed))
    val successful = raw.filter(col("success"))
    InventoryResult(
      raw = raw,
      consistent = successful.filter(col("passes_assumptions")),
      inconsistent = successful.filter(!col("passes_assumptions")))
  }
}
