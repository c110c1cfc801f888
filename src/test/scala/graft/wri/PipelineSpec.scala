package graft.wri

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end stage 00 -> 01 -> 02 over synthetic fixtures, with the
  * stage-02 item compared field-wise against the reference's committed
  * golden (`stac/collections/wri_ignitR/items/WRI_score.json`). */
class PipelineSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("wripipe").toString
  private lazy val dataDir = Fixtures.writeInventoryTree(root)
  private lazy val inv = Inventory.run(spark, dataDir)

  test("stage 00: consistent/inconsistent/error split (validation-as-data)") {
    val raw = inv.raw.collect()
    // excluded files never reach the header reader: 12 files on disk,
    // 3 excluded -> 9 rows
    assert(raw.length == 9, s"raw=${raw.map(_.getAs[String]("filepath")).mkString(",")}")
    assert(inv.consistent.count() == 5)
    val incon = inv.inconsistent.collect()
      .map(r => r.getAs[String]("filename") -> r.getAs[String]("assumption_error"))
      .toMap
    assert(incon("c_status_epsg.tif") == "EPSG mismatch (4326)")
    assert(incon("c_status_res.tif") == "Resolution mismatch (30x30)")
    assert(incon("c_status_extent.tif") == "Extent mismatch")
    val failed = raw.filter(!_.getAs[Boolean]("success"))
    assert(failed.length == 1 &&
      failed.head.getAs[String]("filename") == "sp_status_corrupt.tif")
  }

  test("stage 00: classification fields on the consistent split") {
    val byName = inv.consistent.collect()
      .map(r => r.getAs[String]("filename") -> r).toMap
    val wri = byName("WRI_score.tif")
    assert(wri.getAs[String]("data_type") == "final_score")
    assert(wri.getAs[String]("wri_domain") == "unknown")
    assert(wri.getAs[String]("wri_dimension") == null)
    val job = byName("jobs_resistance_v1.tif")
    assert(job.getAs[String]("data_type") == "indicator")
    assert(job.getAs[String]("wri_domain") == "livelihoods")
    assert(job.getAs[String]("wri_dimension") == "resistance")
    assert(wri.getAs[Int]("nrows") == Fixtures.H)
    assert(math.abs(
      wri.getAs[Double]("extent_xmax") - -504689.66953482945) < 1e-4)
  }

  test("stage 00: resume anti-join skips processed files") {
    val again = Inventory.run(spark, dataDir, resumeFrom = Some(inv.raw))
    assert(again.raw.count() == 0)
  }

  test("stage 01: COG conversion with status log + skip-if-exists") {
    val inputs = Fixtures.writeCogInputs(root)
    import spark.implicits._
    val meta = inputs.toDF("filepath", "cog_filename")
    val outDir = s"$root/cogs"
    val log1 = Cog.run(spark, meta, outDir)
    val s1 = Cog.summary(log1).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == Map("written" -> 4L))
    // outputs are valid COGs
    val h = TiffIO.readHeader(s"$outDir/layer_0.tif")
    assert(h.tiled && h.isCogLayout && h.compression == TiffIO.Deflate.code)
    // rerun: everything skipped (idempotent)
    val s2 = Cog.summary(Cog.run(spark, meta, outDir)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s2 == Map("skipped" -> 4L))
    // pixel fidelity through the COG
    val (_, orig) = TiffIO.readPixels(inputs.head._1)
    val (_, cog) = TiffIO.readPixels(s"$outDir/layer_0.tif")
    assert(orig.indices.forall(i =>
      orig(i) == cog(i) || (orig(i).isNaN && cog(i).isNaN)))
  }

  test("stage 02: item JSON matches the reference golden field-for-field") {
    val items = Stac.run(spark, inv.consistent, s"$root/stac",
      hostedProbe = _ => true) // golden item is the hosted variant
    assert(items.count() == 5)
    val mapper = new ObjectMapper()
    val mine = mapper.readTree(Files.readString(
      Paths.get(s"$root/stac/collections/wri_ignitR/items/WRI_score.json")))
    val golden = mapper.readTree(ReferenceGolden.read(Paths.get(
      "/root/reference/stac/collections/wri_ignitR/items/WRI_score.json")))
    assert(mine == golden,
      s"item JSON mismatch:\nmine:  $mine\ngolden:$golden")
  }

  test("stage 02: collection core fields match the golden") {
    val mapper = new ObjectMapper()
    val mine = mapper.readTree(Files.readString(Paths.get(
      s"$root/stac/collections/wri_ignitR/collection.json")))
    val golden = mapper.readTree(ReferenceGolden.read(Paths.get(
      "/root/reference/stac/collections/wri_ignitR/collection.json")))
    for (f <- Seq("stac_version", "type", "id", "title", "description",
        "license", "extent"))
      assert(mine.get(f) == golden.get(f), s"field $f differs")
    assert(mine.at("/summaries/data_type") == golden.at("/summaries/data_type"))
    assert(mine.at("/summaries/proj:code") == golden.at("/summaries/proj:code"))
    // catalog exists and is parseable
    assert(mapper.readTree(Files.readString(
      Paths.get(s"$root/stac/catalog.json"))).get("id").asText == "wri-catalog")
  }

  test("stage 00: CSV sink/source round-trip with the split semantics") {
    val metaDir = s"$root/metadata"
    Inventory.writeOutputs(inv, metaDir)
    // problems exist (corrupt + inconsistent files) -> all three outputs
    for (n <- Seq("all_layers_consistent.csv", "all_layers_raw.csv",
        "all_layers_inconsistent.csv"))
      assert(Files.isDirectory(Paths.get(s"$metaDir/$n")), s"$n missing")
    val back = Inventory.readMetaCsv(spark, s"$metaDir/all_layers_consistent.csv")
    assert(back.count() == inv.consistent.count())
    // CSV reads are always nullable; names + types must match
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Model.layerMetaSchema.map(f => (f.name, f.dataType)))
    val wri = back.filter(org.apache.spark.sql.functions.col("filename") ===
      "WRI_score.tif").head()
    assert(wri.getAs[String]("data_type") == "final_score")
    assert(wri.getAs[Int]("crs_epsg") == 5070)
  }

  test("duplicate cog_filename fails fast (A2)") {
    Inventory.assertUniqueCogFilenames(inv.consistent) // no throw
    val dup = inv.consistent.union(inv.consistent)
    val e = intercept[IllegalArgumentException] {
      Inventory.assertUniqueCogFilenames(dup)
    }
    assert(e.getMessage.contains("Duplicate cog_filename"))
  }

  test("stage 01: status log records NaN-aware band min/max (A6)") {
    val inputs = Fixtures.writeCogInputs(root)
    import spark.implicits._
    val meta = inputs.toDF("filepath", "cog_filename")
    val log = Cog.run(spark, meta, s"$root/cogs_stats")
      .filter(org.apache.spark.sql.functions.col("status") === "written")
      .collect()
    assert(log.nonEmpty)
    log.foreach { r =>
      val mn = r.getAs[Double]("band_min"); val mx = r.getAs[Double]("band_max")
      assert(!mn.isNaN && !mx.isNaN && mn <= mx)
    }
  }

  test("collection item links come from crawling the items dir (S9)") {
    val ids = Stac.listItemIds(s"$root/stac/collections/wri_ignitR/items")
    assert(ids.size == 5 && ids == ids.sorted)
    assert(Stac.listItemIds(s"$root/nonexistent").isEmpty)
  }

  test("readItems parses the written catalog back; an empty catalog is " +
      "an empty result, not an unmatched-glob error") {
    val items = Stac.readItems(spark,
      s"$root/stac/collections/wri_ignitR/items")
    assert(items.count() == 5)
    val wri = items.filter(
      org.apache.spark.sql.functions.col("item_id") === "WRI_score").head()
    assert(wri.getAs[String]("data_type") == "final_score" &&
      wri.getAs[Boolean]("is_hosted") &&
      math.abs(wri.getAs[Double]("bbox_w") - -146.2082) < 1e-9)
    val empty = Stac.readItems(spark, s"$root/no_such_catalog")
    assert(empty.count() == 0 && empty.columns.length == 12)
  }

  test("settings grid is the full 48-config cartesian product") {
    val g = Cog.settingsGrid(spark)
    assert(g.count() == 48)
    assert(g.distinct().count() == 48)
  }

  test("settings sweep encodes one raster under every config") {
    val inputs = Fixtures.writeCogInputs(root)
    val sweep = Cog.settingsSweep(spark, inputs.head._1, s"$root/sweep")
      .collect()
    assert(sweep.length == 48)
    assert(sweep.forall(_.getAs[String]("status") == "ok"),
      sweep.filter(_.getAs[String]("status") != "ok").mkString(";"))
    assert(sweep.forall(_.getAs[Long]("bytes") > 0))
  }
}
