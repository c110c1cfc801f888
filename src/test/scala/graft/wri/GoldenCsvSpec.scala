package graft.wri

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The reference's committed 82-row inventory CSV is the ground truth for
  * the classification pipeline: re-derive data_type / wri_domain /
  * wri_dimension / cog_filename from the filepath column alone and
  * compare every row. */
class GoldenCsvSpec extends SparkSpec {

  private val goldenCsv =
    "/root/reference/metadata/all_layers_consistent.csv"

  test("classification reproduces all 82 golden rows from filepath alone") {
    val golden = spark.read.option("header", "true").csv(ReferenceGolden(goldenCsv))
      .select("filepath", "filename", "data_type", "wri_domain",
        "wri_dimension", "cog_filename")
    assert(golden.count() == 82)
    val derived = golden.select(
      col("filepath"),
      col("data_type").as("g_dt"),
      col("wri_domain").as("g_dom"),
      col("wri_dimension").as("g_dim"),
      col("cog_filename").as("g_cog"),
      Classify.dataType(col("filepath")).as("m_dt"),
      Classify.domain(col("filepath")).as("m_dom"),
      Classify.dimension(Classify.dataType(col("filepath")),
        Classify.basename(col("filepath"))).as("m_dim"),
      Classify.cogFilename(col("filepath")).as("m_cog"))
    val bad = derived.filter(
      col("g_dt") =!= col("m_dt") ||
      col("g_dom") =!= col("m_dom") ||
      col("g_cog") =!= col("m_cog") ||
      // R writes NA for null dimensions in the CSV
      coalesce(col("m_dim"), lit("NA")) =!= col("g_dim"))
      .collect()
    assert(bad.isEmpty,
      "mismatched rows:\n" + bad.map(_.toString).mkString("\n"))
  }

  test("validation passes for the golden header values") {
    // the CSV's own extent/res/epsg values must pass the assumption check
    val golden = spark.read.option("header", "true").csv(ReferenceGolden(goldenCsv))
      .select(
        col("crs_epsg").cast("int").as("crs_epsg"),
        col("resolution_x").cast("double").as("rx"),
        col("resolution_y").cast("double").as("ry"),
        col("extent_xmin").cast("double").as("x0"),
        col("extent_xmax").cast("double").as("x1"),
        col("extent_ymin").cast("double").as("y0"),
        col("extent_ymax").cast("double").as("y1"))
    val failed = golden.withColumn("err",
      Classify.assumptionError(col("crs_epsg"), col("rx"), col("ry"),
        col("x0"), col("x1"), col("y0"), col("y1")))
      .filter(col("err").isNotNull).count()
    assert(failed == 0)
  }
}
