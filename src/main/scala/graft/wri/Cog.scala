package graft.wri

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 01 — COG conversion (SURVEY §3.2; `01b_make_cog_all.R`).
  *
  * Spark shape: metadata DF -> left-anti join vs. the output listing
  * (idempotent skip-if-exists, J4) -> per-file encode in mapPartitions
  * (the task boundary replaces the reference's gdal_translate subprocess
  * boundary; the encoder runs in-JVM) -> per-row status log table ->
  * groupBy(status).count() (A5: counters as data, not mutable state).
  *
  * Files are independent, so this scales linearly with executors —
  * inter-file parallelism replacing the reference's intra-file
  * NUM_THREADS=50 (`scripts/README.md:184-190`).
  *
  * All reads/sinks resolve through each path's own scheme ([[WriFs]] /
  * [[RangeReader]]): sources and `outDir` may live on local disk,
  * `hdfs://`, or any registered filesystem — the encode stage runs
  * where the rasters live.
  */
object Cog {

  case class CogStatus(cog_filename: String, status: String,
      out_size_mb: Option[Double], error: Option[String],
      // A6 band statistics (NaN-aware min/max, as GDAL records in COG
      // metadata — `meta.json:90-97`), computed during the encode pass
      band_min: Option[Double], band_max: Option[Double])

  /** Convert every consistent layer to a COG under outDir. Returns the
    * per-file status log. */
  def run(spark: SparkSession, consistent: DataFrame, outDir: String,
      opts: TiffWriter.CogOptions = TiffWriter.CogOptions()): DataFrame = {
    import spark.implicits._
    val driverConf = spark.sparkContext.hadoopConfiguration
    WriFs.mkdirs(outDir, driverConf)
    // executors resolve source/sink filesystems from each path's own
    // scheme; the session's Hadoop configuration rides in a broadcast
    val confBc = WriFs.confBroadcast(spark)

    // idempotent resume: skip outputs that already exist (anti-join vs a
    // listing rather than per-row fs checks, SURVEY §2.2 P10)
    val existing = WriFs.listNames(outDir, driverConf)
    val existingDf = spark.createDataset(existing.toIndexedSeq).toDF("cog_filename")
    val todo = consistent.select("filepath", "cog_filename")
      .join(existingDf, Seq("cog_filename"), "left_anti")
      .select("filepath", "cog_filename") // join moves the key first

    val skipped = consistent.select("cog_filename")
      .join(existingDf, Seq("cog_filename"), "left_semi")
      .as[String].map(f => CogStatus(f, "skipped", None, None, None, None))

    val done = todo.as[(String, String)].mapPartitions { it =>
      val conf = confBc.value.value
      it.map { case (src, cogName) =>
        val dst = s"$outDir/$cogName"
        try {
          if (!WriFs.exists(src, conf))
            CogStatus(cogName, "missing_input", None, None, None, None)
          else {
            val px = encode(src, dst, opts, conf)
            var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
            var i = 0
            while (i < px.length) {
              val v = px(i)
              if (!v.isNaN) { if (v < mn) mn = v; if (v > mx) mx = v }
              i += 1
            }
            val stats = if (mn <= mx) (Some(mn), Some(mx)) else (None, None)
            val mb = WriFs.size(dst, conf) / 1024.0 / 1024.0
            CogStatus(cogName, "written",
              Some(math.round(mb * 100) / 100.0), None, stats._1, stats._2)
          }
        } catch {
          case e: Exception =>
            CogStatus(cogName, "failed", None, Some(e.toString), None, None)
        }
      }
    }
    done.union(skipped).toDF()
  }

  /** One source re-encoded as a COG at its own georeferencing; returns
    * the decoded source pixels. */
  private def encode(src: String, dst: String, opts: TiffWriter.CogOptions,
      conf: Configuration): Array[Float] = {
    val (h, px) = TiffIO.readPixels(src, conf)
    TiffWriter.writeCog(dst, h.width, h.height, px, h.geo, opts, conf)
    px
  }

  /** Status summary (reference's written/skipped/missing/failed tallies,
    * `01b:117-123`). */
  def summary(statusLog: DataFrame): DataFrame =
    statusLog.groupBy(col("status")).agg(count(lit(1)).as("n"))
      .orderBy(col("status"))

  /** The benchmark settings grid (`experiments/test_cog_settings_benchmark
    * .R:38-44`, SURVEY §2.3 J2): full cartesian product as a crossJoin of
    * literal dims. */
  def settingsGrid(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val compress = Seq("DEFLATE", "ZSTD", "LZW").toDF("COMPRESS")
    val predictor = Seq(2, 3).toDF("PREDICTOR")
    val block = Seq(256, 512).toDF("BLOCKSIZE")
    val bigtiff = Seq("IF_SAFER", "YES").toDF("BIGTIFF")
    val resampling = Seq("NEAREST", "AVERAGE").toDF("RESAMPLING")
    compress.crossJoin(predictor).crossJoin(block)
      .crossJoin(bigtiff).crossJoin(resampling)
  }

  /** Run the settings sweep over one input raster, timing each encode
    * (replaces `experiments/test_cog_settings_benchmark.R`). */
  def settingsSweep(spark: SparkSession, srcPath: String, outDir: String): DataFrame = {
    import spark.implicits._
    WriFs.mkdirs(outDir, spark.sparkContext.hadoopConfiguration)
    val confBc = WriFs.confBroadcast(spark)
    settingsGrid(spark)
      .as[(String, Int, Int, String, String)]
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.map { case (comp, pred, block, bigtiff, resamp) =>
          val c: TiffIO.Compression = comp match {
            case "DEFLATE" => TiffIO.Deflate
            case "ZSTD" => TiffIO.Zstd
            case "LZW" => TiffIO.Lzw
          }
          val r: TiffIO.Resampling =
            if (resamp == "AVERAGE") TiffIO.Average else TiffIO.Nearest
          val out = s"$outDir/cog_${comp}_${pred}_${block}_${bigtiff}_$resamp.tif"
          val t0 = System.nanoTime()
          val status = try {
            encode(srcPath, out, TiffWriter.CogOptions(block, c, pred, r,
              bigTiff = bigtiff == "YES"), conf)
            "ok"
          } catch { case e: Exception => s"failed: ${e.getMessage}" }
          val secs = (System.nanoTime() - t0) / 1e9
          val size = if (WriFs.exists(out, conf)) WriFs.size(out, conf)
            else 0L
          (out, status, comp, pred, block, bigtiff, resamp, secs, size)
        }
      }
      .toDF("out_cog", "status", "COMPRESS", "PREDICTOR", "BLOCKSIZE",
        "BIGTIFF", "RESAMPLING", "seconds", "bytes")
  }
}
