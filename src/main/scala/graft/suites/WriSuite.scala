package graft.suites

import graft.{Q, Tables}
import graft.wri.{Classify, Cog, CogQuery, Fixtures, Inventory, Stac, TiffIO, TiffWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WRI geospatial pipeline surface (SURVEY §2/§3): classification
  * projections (oracle-checked against DuckDB on synthesized paths), the
  * encoder settings grid (oracle-checked cross join), and the three
  * pipeline stages over self-generated GeoTIFF fixtures (rows-only; the
  * deep checks incl. golden STAC JSON equality live in
  * graft.wri.PipelineSpec).
  */
object WriSuite {

  lazy val all: Seq[Q] = Seq(
    Q("wri_classify", wriClassify, Some(wriClassifySql)),
    Q("wri_settings_grid", wriGrid, Some(wriGridSql)),
    Q("wri_inventory", wriInventory, Some(wriInventorySql)),
    Q("wri_cog_pipeline", wriCog, Some(wriCogSql)),
    Q("wri_cog_window_stats", wriCogWindow, Some(wriCogWindowSql)),
    Q("wri_cog_geo_window_stats", wriCogGeoWindow, Some(wriCogGeoWindowSql)),
    Q("wri_cog_overview_stats", wriCogOverview, Some(wriCogOverviewSql)),
    Q("wri_stac_items", wriStac, Some(wriStacSql)),
    Q("wri_stac_query", wriStacQuery, Some(wriStacQuerySql)),
    Q("wri_catalog_qa", wriCatalogQa, Some(wriCatalogQaSql)),
    Q("wri_get_layer", wriGetLayer, Some(wriGetLayerSql)),
    Q("wri_stac_conformance", wriStacConformance, Some(wriStacConformanceSql)),
    Q("wri_zonal_stats", wriZonalStats, Some(wriZonalStatsSql)),
    Q("wri_refresh_catalog", wriRefreshCatalog, Some(wriRefreshCatalogSql)),
    Q("wri_read_window", wriReadWindow, Some(wriReadWindowSql)),
    Q("wri_map_algebra", wriMapAlgebra, Some(wriMapAlgebraSql)),
    Q("wri_map_algebra_mean", wriMapAlgebraMean, Some(wriMapAlgebraMeanSql)),
    Q("wri_resample_combine", wriResampleCombine, Some(wriResampleCombineSql)),
    Q("wri_resample_bilinear", wriResampleBilinear, Some(wriResampleBilinearSql)),
    Q("wri_stream_refresh", wriStreamRefresh, Some(wriStreamRefreshSql)),
    Q("wri_meta_compact", wriMetaCompact, Some(wriMetaCompactSql))
  )

  /** §2.8's built mapping as an ORACLE row — the catalog refresh's
    * per-upload-batch body ([[Stac.refreshBatch]]) driven
    * deterministically: batch 0 delivers two layers, batch 1 delivers
    * a NEW layer and RE-DELIVERS an existing one from a new path (its
    * domain classification moves water -> carbon), then batch 1
    * REPLAYS — the post-crash foreachBatch contract. The catalog read
    * back through [[Stac.readItems]] must show exactly the latest
    * deliveries: an append-instead-of-overwrite landing, a wrong
    * latest-wins order, or a non-idempotent replay changes a row and
    * breaks the hash. The legs a row hash cannot see (a file-arrival
    * stream driving refreshBatch through foreachBatch, batch-twin byte
    * equality, mtime no-ops) live in StacRefreshSpec; the fixture
    * resets every run, so replays of the QUERY are deterministic too. */
  /** [[Stac.compactMetaStore]] as an ORACLE row: four micro-batches at
    * compactThreshold=2, so the store folds to a latest-wins generation
    * TWICE mid-stream (inside the batch-1 and batch-3 calls) — with a
    * re-delivery whose winner must outrank a FOLDED generation row
    * (water -> carbon across the first fold), and a replay of an
    * already-folded batch id as the last act (the post-crash
    * foreachBatch contract against a compacted store). The catalog
    * read back must show exactly the latest deliveries: a fold that
    * drops a winner, keeps a loser, or lets a replayed old batch
    * outrank the generation's newer rows changes a row and breaks the
    * hash. Store-shape legs (bounded partition count, single surviving
    * generation, byte-equality to the never-compacted twin) live in
    * StacRefreshSpec. NO upfront reset: the final rows are independent
    * of generation numbering — on a warm store every landing is a
    * deterministic overwrite, the folds fold the standing generation
    * plus the re-landed batches to the same winners, and the catalog
    * converges to the identical rows through the cheap all-unchanged
    * path (re-running the query IS the warm-store fold exercise). */
  private def wriMetaCompact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = s"$fixtureRoot/meta_compact"
    val dataDir = s"$root/data"
    def put(rel: String): String = {
      val p = java.nio.file.Paths.get(dataDir, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      TiffWriter.writeHeaderFixture(p.toString,
        Fixtures.W, Fixtures.H,
        TiffIO.GeoInfo(graft.wri.Model.Expected.epsg,
          graft.wri.Model.Expected.resX, graft.wri.Model.Expected.resY,
          qaGx, qaGy))
      p.toString
    }
    def batchOf(paths: Seq[String]): DataFrame =
      paths.map(p => (p, new java.io.File(p).length)).toDF("path", "length")
    val stacRoot = s"$root/stac"
    val b0 = Seq(
      put("water/indicators/flow_recovery_v1.tif"),
      put("air_quality/air_quality_domain_score.tif"))
    Stac.refreshBatch(batchOf(b0), 0L, s"$root/meta", stacRoot,
      _ => false, compactThreshold = 2)
    Stac.refreshBatch(batchOf(Seq(
        put("livelihoods/indicators/jobs_resistance_v1.tif"))),
      1L, s"$root/meta", stacRoot, _ => false, compactThreshold = 2)
    Stac.refreshBatch(batchOf(Seq(
        put("carbon/indicators/flow_recovery_v1.tif"))),
      2L, s"$root/meta", stacRoot, _ => false, compactThreshold = 2)
    Stac.refreshBatch(batchOf(Seq(
        put("biodiversity/indicators/habitat_status_v1.tif"))),
      3L, s"$root/meta", stacRoot, _ => false, compactThreshold = 2)
    // replay of batch 0 — folded two generations ago; its re-landed
    // rows must lose to the generation's newer carbon winner
    Stac.refreshBatch(batchOf(b0.take(1)), 0L, s"$root/meta", stacRoot,
      _ => false, compactThreshold = 2)
    Stac.readItems(s,
        s"$stacRoot/collections/${graft.wri.Model.collectionId}/items")
      .select(col("item_id"), col("data_type"), col("wri_domain"),
        col("wri_dimension"), col("is_hosted"))
      .orderBy(col("item_id"))
  }

  private val wriMetaCompactSql =
    """SELECT * FROM (VALUES
      |  ('air_quality_domain_score', 'aggregate', 'air_quality',
      |    'domain_score', false),
      |  ('flow_recovery_v1', 'indicator', 'carbon', 'recovery', false),
      |  ('habitat_status_v1', 'indicator', 'biodiversity', 'status',
      |    false),
      |  ('jobs_resistance_v1', 'indicator', 'livelihoods', 'resistance',
      |    false)
      |) t(item_id, data_type, wri_domain, wri_dimension, is_hosted)
      |ORDER BY item_id""".stripMargin

  private def wriStreamRefresh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NO upfront reset: every fixture write below is a deterministic
    // overwrite and every refreshBatch replay is a byte no-op by
    // contract, so a repeated run (bench pass 2) lands on the identical
    // catalog through the cheap all-unchanged path — re-running the
    // query IS the replay-idempotence exercise, and the oracle hash
    // pins that it converges to the same rows either way
    val root = s"$fixtureRoot/stream_refresh"
    val dataDir = s"$root/data"
    def put(rel: String): String = {
      val p = java.nio.file.Paths.get(dataDir, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      TiffWriter.writeHeaderFixture(p.toString,
        Fixtures.W, Fixtures.H,
        TiffIO.GeoInfo(graft.wri.Model.Expected.epsg,
          graft.wri.Model.Expected.resX, graft.wri.Model.Expected.resY,
          qaGx, qaGy))
      p.toString
    }
    def batchOf(paths: Seq[String]): DataFrame =
      paths.map(p => (p, new java.io.File(p).length)).toDF("path", "length")
    val stacRoot = s"$root/stac"
    val b0 = batchOf(Seq(
      put("air_quality/air_quality_domain_score.tif"),
      put("water/indicators/flow_recovery_v1.tif")))
    Stac.refreshBatch(b0, 0L, s"$root/meta", stacRoot, _ => false)
    val b1 = batchOf(Seq(
      put("livelihoods/indicators/jobs_resistance_v1.tif"),
      put("carbon/indicators/flow_recovery_v1.tif")))
    Stac.refreshBatch(b1, 1L, s"$root/meta", stacRoot, _ => false)
    // the replay: same batch id, same rows — must change nothing
    Stac.refreshBatch(b1, 1L, s"$root/meta", stacRoot, _ => false)
    Stac.readItems(s,
        s"$stacRoot/collections/${graft.wri.Model.collectionId}/items")
      .select(col("item_id"), col("data_type"), col("wri_domain"),
        col("wri_dimension"), col("is_hosted"))
      .orderBy(col("item_id"))
  }

  private val wriStreamRefreshSql =
    """SELECT * FROM (VALUES
      |  ('air_quality_domain_score', 'aggregate', 'air_quality',
      |    'domain_score', false),
      |  ('flow_recovery_v1', 'indicator', 'carbon', 'recovery', false),
      |  ('jobs_resistance_v1', 'indicator', 'livelihoods', 'resistance',
      |    false)
      |) t(item_id, data_type, wri_domain, wri_dimension, is_hosted)
      |ORDER BY item_id""".stripMargin

  /** [[wriMapAlgebra]]'s mask-TOLERANT twin (`combine = "wmean"`): the
    * weighted mean over the PRESENT inputs — the scoring rule for
    * layers whose nodata masks do not coincide. The fixture masks are
    * disjoint by construction ((j+i)%13 hits one layer per pixel at
    * most), so every window pixel has >= 3 present inputs and the
    * oracle replays num/den exactly: absent layers contribute +0 to
    * both sums, which is IEEE-exact against the skip-the-term Scala
    * fold. n_nan must be ZERO — the property that separates wmean from
    * wsum, whose oracle NULLs every masked pixel. */
  private def wriMapAlgebraMean(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inputs = Fixtures.writeCogInputs(s"$fixtureRoot/winq",
      n = 4, w = 192, h = 128)
    val cogDir = s"$fixtureRoot/winq_cogs"
    Cog.run(s, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val out = s"$fixtureRoot/derived/wri_score_mean.tif"
    CogQuery.mapAlgebra(s,
      inputs.map(_._2).zipWithIndex.map { case (n, i) =>
        (n, s"$cogDir/$n", (i + 1).toDouble) },
      out, TiffWriter.CogOptions(blockSize = 32),
      combine = "wmean").count()
    CogQuery.windowStatsGeoAt(s, Seq(("wri_score_mean.tif", out)),
        minx = qaGx + 25.4 * 90.0, maxx = qaGx + 102.2 * 90.0,
        miny = qaGy - 58.3 * 90.0, maxy = qaGy - 7.6 * 90.0)
      .select(col("layer"), col("n_valid"), col("n_nan"),
        col("vs_sum"), col("vs_min"), col("vs_max"))
  }

  private val wriMapAlgebraMeanSql =
    """WITH px AS (
      |  SELECT (y.range * 192 + x.range) AS j
      |  FROM range(25, 103) x, range(7, 59) y),
      |v AS (SELECT
      |    CAST(round(CAST(CAST(
      |      ( (CASE WHEN j % 13 = 0 THEN 0
      |           ELSE 1 * CAST(CAST((j * 3) % 101 AS REAL) / CAST(7 AS REAL) AS DOUBLE) END)
      |      + (CASE WHEN (j + 1) % 13 = 0 THEN 0
      |           ELSE 2 * CAST(CAST((j * 4) % 101 AS REAL) / CAST(7 AS REAL) AS DOUBLE) END)
      |      + (CASE WHEN (j + 2) % 13 = 0 THEN 0
      |           ELSE 3 * CAST(CAST((j * 5) % 101 AS REAL) / CAST(7 AS REAL) AS DOUBLE) END)
      |      + (CASE WHEN (j + 3) % 13 = 0 THEN 0
      |           ELSE 4 * CAST(CAST((j * 6) % 101 AS REAL) / CAST(7 AS REAL) AS DOUBLE) END) )
      |      /
      |      ( (CASE WHEN j % 13 = 0 THEN 0 ELSE 1 END)
      |      + (CASE WHEN (j + 1) % 13 = 0 THEN 0 ELSE 2 END)
      |      + (CASE WHEN (j + 2) % 13 = 0 THEN 0 ELSE 3 END)
      |      + (CASE WHEN (j + 3) % 13 = 0 THEN 0 ELSE 4 END) )
      |    AS REAL) AS DOUBLE) * 10000) AS BIGINT) AS vs
      |  FROM px)
      |SELECT 'wri_score_mean.tif' AS layer,
      |  CAST(count(vs) AS BIGINT) AS n_valid,
      |  CAST(count(*) - count(vs) AS BIGINT) AS n_nan,
      |  CAST(sum(vs) AS BIGINT) AS vs_sum,
      |  CAST(min(vs) AS BIGINT) AS vs_min,
      |  CAST(max(vs) AS BIGINT) AS vs_max
      |FROM v""".stripMargin

  /** Multi-layer map algebra ([[CogQuery.mapAlgebra]] — the science
    * step the WRI layers came from: indicators -> aggregates -> final
    * score): the four fixture layers combine as `Σ (i+1)·layer_i` in
    * input order (double accumulation, NaN mask propagation), the
    * derived COG is written through the stage-01 writer, and the oracle
    * replays the weighted sum analytically over the standard fractional
    * window — pinning the combine arithmetic, the float32 store
    * rounding, AND the written COG's tile/geo layout in one hash (the
    * stats ride the usual header-prefix + tile-range read of the
    * OUTPUT file). */
  private def wriMapAlgebra(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inputs = Fixtures.writeCogInputs(s"$fixtureRoot/winq",
      n = 4, w = 192, h = 128)
    val cogDir = s"$fixtureRoot/winq_cogs"
    Cog.run(s, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val out = s"$fixtureRoot/derived/wri_score_derived.tif"
    CogQuery.mapAlgebra(s,
      inputs.map(_._2).zipWithIndex.map { case (n, i) =>
        (n, s"$cogDir/$n", (i + 1).toDouble) },
      out, TiffWriter.CogOptions(blockSize = 32)).count()
    CogQuery.windowStatsGeoAt(s, Seq(("wri_score_derived.tif", out)),
        minx = qaGx + 25.4 * 90.0, maxx = qaGx + 102.2 * 90.0,
        miny = qaGy - 58.3 * 90.0, maxy = qaGy - 7.6 * 90.0)
      .select(col("layer"), col("n_valid"), col("n_nan"),
        col("vs_sum"), col("vs_min"), col("vs_max"))
  }

  /** The grid-mismatch REMEDIATION path end-to-end
    * ([[CogQuery.resampleToGrid]] → [[CogQuery.mapAlgebra]]): one layer
    * arrives on a deliberately OFFSET grid (160x100 at +20px/+10px,
    * the re-delivery [[CogQuery.mapAlgebra]] refuses outright), gets
    * NN-regridded onto layer_0's grid, then combined 1*layer_0 +
    * 2*resampled into a derived COG whose window stats the oracle
    * replays analytically: per output cell the source pixel is the
    * exact index shift (x-20, y-10), NaN above the source's top edge
    * (y < 10) and wherever either input's fixture mask hits — a wrong
    * NN mapping, a mis-stamped geotransform on the derived file, or an
    * out-of-range read changes a value and breaks the hash. */
  private def wriResampleCombine(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inputs = Fixtures.writeCogInputs(s"$fixtureRoot/winq",
      n = 4, w = 192, h = 128)
    val cogDir = s"$fixtureRoot/winq_cogs"
    Cog.run(s, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val refCog = s"$cogDir/layer_0.tif"
    // the offset delivery: layer_0's value family on a shifted grid
    val (sw, sh) = (160, 100)
    val srcPx = Array.tabulate(sw * sh)(j =>
      if (j % 13 == 0) Float.NaN else ((j * 3) % 101) / 7.0f)
    val src = s"$fixtureRoot/derived/resample_src.tif"
    TiffWriter.writeCog(src, sw, sh, srcPx,
      TiffIO.GeoInfo(graft.wri.Model.Expected.epsg, 90.0, 90.0,
        qaGx + 20 * 90.0, qaGy - 10 * 90.0),
      TiffWriter.CogOptions(blockSize = 32))
    val aligned = s"$fixtureRoot/derived/resample_aligned.tif"
    CogQuery.resampleToGrid(s, src, refCog, aligned,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val out = s"$fixtureRoot/derived/wri_resample_derived.tif"
    CogQuery.mapAlgebra(s, Seq(("layer_0.tif", refCog, 1.0),
      ("aligned", aligned, 2.0)), out,
      TiffWriter.CogOptions(blockSize = 32)).count()
    CogQuery.windowStatsGeoAt(s, Seq(("wri_resample_derived.tif", out)),
        minx = qaGx + 25.4 * 90.0, maxx = qaGx + 102.2 * 90.0,
        miny = qaGy - 58.3 * 90.0, maxy = qaGy - 7.6 * 90.0)
      .select(col("layer"), col("n_valid"), col("n_nan"),
        col("vs_sum"), col("vs_min"), col("vs_max"))
  }

  /** [[CogQuery.resampleToGrid]]'s BILINEAR kernel as an oracle: the
    * same 160x100 value family delivered on a HALF-pixel-shifted x
    * grid (origin +20.5 px) with the y axis aligned — so every output
    * value inside the footprint is the exact 0.5/0.5 average of its
    * two x-neighbors and the zero-weight y row is never sampled. The
    * oracle replays that average analytically (double halves sum
    * exactly, float32 store, fixed-point stats through the written
    * COG's own range reads); NULL wherever EITHER positive-weight
    * neighbor is NaN or the center falls above the source (y < 10) —
    * a kernel that samples the wrong neighbor, miscomputes a weight,
    * lets the zero-weight row poison a value, or rounds the origin
    * difference through the projected magnitude changes a row and
    * breaks the hash. */
  private def wriResampleBilinear(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inputs = Fixtures.writeCogInputs(s"$fixtureRoot/winq",
      n = 4, w = 192, h = 128)
    val cogDir = s"$fixtureRoot/winq_cogs"
    Cog.run(s, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val refCog = s"$cogDir/layer_0.tif"
    val (sw, sh) = (160, 100)
    val srcPx = Array.tabulate(sw * sh)(j =>
      if (j % 13 == 0) Float.NaN else ((j * 3) % 101) / 7.0f)
    val src = s"$fixtureRoot/derived/resample_bilin_src.tif"
    TiffWriter.writeCog(src, sw, sh, srcPx,
      TiffIO.GeoInfo(graft.wri.Model.Expected.epsg, 90.0, 90.0,
        qaGx + 20.5 * 90.0, qaGy - 10 * 90.0),
      TiffWriter.CogOptions(blockSize = 32))
    val aligned = s"$fixtureRoot/derived/resample_bilin_aligned.tif"
    CogQuery.resampleToGrid(s, src, refCog, aligned,
      TiffWriter.CogOptions(blockSize = 32), method = "bilinear").count()
    CogQuery.windowStatsGeoAt(s, Seq(("resample_bilinear.tif", aligned)),
        minx = qaGx + 25.4 * 90.0, maxx = qaGx + 102.2 * 90.0,
        miny = qaGy - 58.3 * 90.0, maxy = qaGy - 7.6 * 90.0)
      .select(col("layer"), col("n_valid"), col("n_nan"),
        col("vs_sum"), col("vs_min"), col("vs_max"))
  }

  private val wriResampleBilinearSql =
    """WITH px AS (
      |  SELECT x.range AS x, y.range AS y
      |  FROM range(25, 103) x, range(7, 59) y),
      |v AS (SELECT
      |    CASE WHEN y < 10 THEN NULL
      |         WHEN ((y - 10) * 160 + (x - 21)) % 13 = 0 THEN NULL
      |         WHEN ((y - 10) * 160 + (x - 20)) % 13 = 0 THEN NULL
      |      ELSE CAST(round(CAST(CAST(
      |          CAST(CAST((((y - 10) * 160 + (x - 21)) * 3) % 101 AS REAL)
      |              / CAST(7 AS REAL) AS DOUBLE) * 0.5
      |        + CAST(CAST((((y - 10) * 160 + (x - 20)) * 3) % 101 AS REAL)
      |              / CAST(7 AS REAL) AS DOUBLE) * 0.5
      |        AS REAL) AS DOUBLE) * 10000) AS BIGINT)
      |    END AS vs
      |  FROM px)
      |SELECT 'resample_bilinear.tif' AS layer,
      |  CAST(count(vs) AS BIGINT) AS n_valid,
      |  CAST(count(*) - count(vs) AS BIGINT) AS n_nan,
      |  CAST(sum(vs) AS BIGINT) AS vs_sum,
      |  CAST(min(vs) AS BIGINT) AS vs_min,
      |  CAST(max(vs) AS BIGINT) AS vs_max
      |FROM v""".stripMargin

  private val wriResampleCombineSql =
    """WITH px AS (
      |  SELECT x.range AS x, y.range AS y
      |  FROM range(25, 103) x, range(7, 59) y),
      |v AS (SELECT
      |    CASE WHEN (y * 192 + x) % 13 = 0 THEN NULL
      |         WHEN y < 10 THEN NULL
      |         WHEN ((y - 10) * 160 + (x - 20)) % 13 = 0 THEN NULL
      |      ELSE CAST(round(CAST(CAST(
      |          1 * CAST(CAST(((y * 192 + x) * 3) % 101 AS REAL)
      |              / CAST(7 AS REAL) AS DOUBLE)
      |        + 2 * CAST(CAST((((y - 10) * 160 + (x - 20)) * 3) % 101 AS REAL)
      |              / CAST(7 AS REAL) AS DOUBLE)
      |        AS REAL) AS DOUBLE) * 10000) AS BIGINT)
      |    END AS vs
      |  FROM px)
      |SELECT 'wri_resample_derived.tif' AS layer,
      |  CAST(count(vs) AS BIGINT) AS n_valid,
      |  CAST(count(*) - count(vs) AS BIGINT) AS n_nan,
      |  CAST(sum(vs) AS BIGINT) AS vs_sum,
      |  CAST(min(vs) AS BIGINT) AS vs_min,
      |  CAST(max(vs) AS BIGINT) AS vs_max
      |FROM v""".stripMargin

  private val wriMapAlgebraSql =
    """WITH px AS (
      |  SELECT (y.range * 192 + x.range) AS j
      |  FROM range(25, 103) x, range(7, 59) y),
      |v AS (SELECT
      |    CASE WHEN j % 13 = 0 OR (j + 1) % 13 = 0
      |           OR (j + 2) % 13 = 0 OR (j + 3) % 13 = 0 THEN NULL
      |      ELSE CAST(round(CAST(CAST(
      |          1 * CAST(CAST((j * 3) % 101 AS REAL) / CAST(7 AS REAL) AS DOUBLE)
      |        + 2 * CAST(CAST((j * 4) % 101 AS REAL) / CAST(7 AS REAL) AS DOUBLE)
      |        + 3 * CAST(CAST((j * 5) % 101 AS REAL) / CAST(7 AS REAL) AS DOUBLE)
      |        + 4 * CAST(CAST((j * 6) % 101 AS REAL) / CAST(7 AS REAL) AS DOUBLE)
      |        AS REAL) AS DOUBLE) * 10000) AS BIGINT)
      |    END AS vs
      |  FROM px)
      |SELECT 'wri_score_derived.tif' AS layer,
      |  CAST(count(vs) AS BIGINT) AS n_valid,
      |  CAST(count(*) - count(vs) AS BIGINT) AS n_nan,
      |  CAST(sum(vs) AS BIGINT) AS vs_sum,
      |  CAST(min(vs) AS BIGINT) AS vs_min,
      |  CAST(max(vs) AS BIGINT) AS vs_max
      |FROM v""".stripMargin

  /** The DATA half of the consumer story ([[Stac.getLayerData]] →
    * [[CogQuery.readWindowGeoAt]]): the client asks the CATALOG for a
    * crop and gets the pixels themselves — (layer, x, y, vs) fixed-
    * point rows, one task per (layer, tile). The oracle replays the
    * fixture generator pixel-for-pixel over the fractional box's cells
    * x in [25, 45), y in [7, 20): a wrong tile offset, decode,
    * geotransform, or in-window clip changes a row and breaks the
    * hash. */
  private def wriReadWindow(s: SparkSession, d: String): DataFrame = {
    val itemsDir = stageQaCatalog(s)
    Seq("layer_0", "layer_3").map { id =>
      Stac.getLayerData(s, itemsDir, id,
        minx = qaGx + 25.4 * 90.0, miny = qaGy - 19.3 * 90.0,
        maxx = qaGx + 44.2 * 90.0, maxy = qaGy - 7.6 * 90.0)
    }.reduce(_.unionByName(_))
      .orderBy(col("layer"), col("x"), col("y"))
  }

  private val wriReadWindowSql =
    """SELECT 'layer_' || i AS layer,
      |  CAST(x.range AS INTEGER) AS x, CAST(y.range AS INTEGER) AS y,
      |  CASE WHEN ((y.range * 192 + x.range) + i) % 13 = 0 THEN NULL
      |    ELSE CAST(round(CAST(CAST(((y.range * 192 + x.range) * (i + 3))
      |           % 101 AS REAL) / CAST(7 AS REAL) AS DOUBLE) * 10000)
      |      AS BIGINT) END AS vs
      |FROM (VALUES (0), (3)) t(i), range(25, 45) x, range(7, 20) y
      |ORDER BY layer, x, y""".stripMargin

  /** The CI regeneration verb ([[Stac.refreshCatalog]] —
    * `README.md:250`): a catalog built from table A refreshes against
    * table B where one layer is untouched (file never rewritten), one
    * layer's extent moved (document rewritten — run()'s skip-if-exists
    * would have kept the stale one), one layer is new (written), and
    * one layer disappeared (pruned). The audit is the oracle surface;
    * the fixture resets itself every run, so replays are
    * deterministic. */
  private def wriRefreshCatalog(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = s"$fixtureRoot/refresh"
    val conf = s.sparkContext.hadoopConfiguration
    graft.wri.WriFs.fs(root, conf)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    def consistentOf(layers: Seq[(String, Double)]): DataFrame =
      layers.toDF("cog_filename", "shift").select(
        col("cog_filename"), lit(5070).as("crs_epsg"),
        lit("indicator").as("data_type"), lit("water").as("wri_domain"),
        lit("status").as("wri_dimension"),
        lit(qaGx).as("extent_xmin"),
        (lit(qaGx + 96 * 90.0) + col("shift")).as("extent_xmax"),
        lit(qaGy - 64 * 90.0).as("extent_ymin"),
        lit(qaGy).as("extent_ymax"),
        // assertRequired needs filepath/filename columns
        col("cog_filename").as("filepath"),
        col("cog_filename").as("filename"))
    Stac.run(s, consistentOf(Seq(
      "keep.tif" -> 0.0, "drift.tif" -> 0.0, "gone.tif" -> 0.0)), root)
    Stac.refreshCatalog(s, consistentOf(Seq(
        "keep.tif" -> 0.0, "drift.tif" -> 900.0, "fresh.tif" -> 0.0)),
      root, pruneOrphans = true)
      .orderBy(col("item_id"))
  }

  private val wriRefreshCatalogSql =
    """SELECT * FROM (VALUES
      |  ('drift', 'rewritten'),
      |  ('fresh', 'written'),
      |  ('gone', 'pruned'),
      |  ('keep', 'unchanged')
      |) t(item_id, action) ORDER BY item_id""".stripMargin

  /** The consumption end of the COG pipeline ([[CogQuery.windowStats]]):
    * a 48x48 pixel window over four written 192x128 COGs (32px tiles),
    * answered by ONE header-prefix range read plus exactly the 6 of 24
    * full-res tiles the window intersects — the streaming-access
    * discipline the reference publishes COGs for. The oracle replays the
    * fixture generator analytically over the same window (the q134
    * pattern): every decoded pixel's scaled-integer value must match the
    * generator's, so a wrong tile offset, decode, predictor, or window
    * clip breaks the hash. Economy (tiles_read/bytes_read) is asserted
    * in CogQuerySpec — DuckDB cannot see file layout. */
  private def wriCogWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inputs = Fixtures.writeCogInputs(s"$fixtureRoot/winq",
      n = 4, w = 192, h = 128)
    val cogDir = s"$fixtureRoot/winq_cogs"
    // eager: the status DF is lazy, the files must exist before the
    // window reads (idempotent — reruns take the skip path)
    Cog.run(s, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    CogQuery.windowStats(s, cogDir, inputs.map(_._2),
        x0 = 70, y0 = 30, winW = 48, winH = 48)
      .select(col("layer"), col("n_valid"), col("n_nan"),
        col("vs_sum"), col("vs_min"), col("vs_max"))
      .orderBy(col("layer"))
  }

  /** The GEOGRAPHIC form of the window query
    * ([[CogQuery.windowStatsGeo]]): the window arrives as a CRS
    * bounding box in the raster's own EPSG:5070 meters — how the
    * reference's clients actually address the catalog — and the
    * geotransform that places it on the pixel grid parses from the
    * same single header prefix. The box below is built fractionally
    * off the 90 m cell grid (x cells 25.4 .. 102.2, y cells 7.6 ..
    * 58.3), so the pixel-is-area floor/ceil mapping must land exactly
    * on cells x in [25, 103), y in [7, 59) — which is what the oracle
    * replays; a wrong geotransform parse, axis flip, or rounding rule
    * shifts the window and breaks the hash. */
  private def wriCogGeoWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inputs = Fixtures.writeCogInputs(s"$fixtureRoot/winq",
      n = 4, w = 192, h = 128)
    val cogDir = s"$fixtureRoot/winq_cogs"
    Cog.run(s, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    // the fixture geotransform (Fixtures.writeCogInputs): 90 m cells
    // anchored at the reference's CONUS extent corner
    val gx = -5216639.6695348294
    val gy = 6199081.688491997
    CogQuery.windowStatsGeo(s, cogDir, inputs.map(_._2),
        minx = gx + 25.4 * 90.0, maxx = gx + 102.2 * 90.0,
        miny = gy - 58.3 * 90.0, maxy = gy - 7.6 * 90.0)
      .select(col("layer"), col("n_valid"), col("n_nan"),
        col("vs_sum"), col("vs_min"), col("vs_max"))
      .orderBy(col("layer"))
  }

  private val wriCogGeoWindowSql =
    """WITH px AS (
      |  SELECT i.range AS i,
      |    (y.range * 192 + x.range) AS j
      |  FROM range(0, 4) i, range(25, 103) x, range(7, 59) y),
      |v AS (SELECT i,
      |    CASE WHEN (j + i) % 13 = 0 THEN NULL
      |      ELSE CAST(round(CAST(CAST((j * (i + 3)) % 101 AS REAL)
      |             / CAST(7 AS REAL) AS DOUBLE) * 10000) AS BIGINT)
      |    END AS vs
      |  FROM px)
      |SELECT 'layer_' || i || '.tif' AS layer,
      |  CAST(count(vs) AS BIGINT) AS n_valid,
      |  CAST(count(*) - count(vs) AS BIGINT) AS n_nan,
      |  CAST(sum(vs) AS BIGINT) AS vs_sum,
      |  CAST(min(vs) AS BIGINT) AS vs_min,
      |  CAST(max(vs) AS BIGINT) AS vs_max
      |FROM v GROUP BY i ORDER BY layer""".stripMargin

  /** The ZOOM-OUT path ([[CogQuery.windowStats]] at level 1): a coarse
    * window answered from the 96x64 OVERVIEW tiles of
    * NEAREST-resampled 192x128 COGs — the query never touches full-res
    * data, which is what the pyramid exists for. Nearest overviews
    * sample source pixel (2x, 2y) (TiffWriter's downsample rule), so
    * the oracle replays the generator at the strided coordinates — the
    * q134 resize discipline applied to the pyramid: a wrong level
    * layout, tile fetch, or stride breaks the hash. */
  private def wriCogOverview(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inputs = Fixtures.writeCogInputs(s"$fixtureRoot/winq",
      n = 4, w = 192, h = 128)
    val cogDir = s"$fixtureRoot/winq_nn_cogs"
    Cog.run(s, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32,
        resampling = TiffIO.Nearest)).count()
    CogQuery.windowStats(s, cogDir, inputs.map(_._2),
        x0 = 35, y0 = 10, winW = 35, winH = 30, level = 1)
      .select(col("layer"), col("n_valid"), col("n_nan"),
        col("vs_sum"), col("vs_min"), col("vs_max"))
      .orderBy(col("layer"))
  }

  private val wriCogOverviewSql =
    """WITH px AS (
      |  SELECT i.range AS i,
      |    ((y.range * 2) * 192 + (x.range * 2)) AS j
      |  FROM range(0, 4) i, range(35, 70) x, range(10, 40) y),
      |v AS (SELECT i,
      |    CASE WHEN (j + i) % 13 = 0 THEN NULL
      |      ELSE CAST(round(CAST(CAST((j * (i + 3)) % 101 AS REAL)
      |             / CAST(7 AS REAL) AS DOUBLE) * 10000) AS BIGINT)
      |    END AS vs
      |  FROM px)
      |SELECT 'layer_' || i || '.tif' AS layer,
      |  CAST(count(vs) AS BIGINT) AS n_valid,
      |  CAST(count(*) - count(vs) AS BIGINT) AS n_nan,
      |  CAST(sum(vs) AS BIGINT) AS vs_sum,
      |  CAST(min(vs) AS BIGINT) AS vs_min,
      |  CAST(max(vs) AS BIGINT) AS vs_max
      |FROM v GROUP BY i ORDER BY layer""".stripMargin

  private val wriCogWindowSql =
    """WITH px AS (
      |  SELECT i.range AS i,
      |    (y.range * 192 + x.range) AS j
      |  FROM range(0, 4) i, range(70, 118) x, range(30, 78) y),
      |v AS (SELECT i,
      |    CASE WHEN (j + i) % 13 = 0 THEN NULL
      |      ELSE CAST(round(CAST(CAST((j * (i + 3)) % 101 AS REAL)
      |             / CAST(7 AS REAL) AS DOUBLE) * 10000) AS BIGINT)
      |    END AS vs
      |  FROM px)
      |SELECT 'layer_' || i || '.tif' AS layer,
      |  CAST(count(vs) AS BIGINT) AS n_valid,
      |  CAST(count(*) - count(vs) AS BIGINT) AS n_nan,
      |  CAST(sum(vs) AS BIGINT) AS vs_sum,
      |  CAST(min(vs) AS BIGINT) AS vs_min,
      |  CAST(max(vs) AS BIGINT) AS vs_max
      |FROM v GROUP BY i ORDER BY layer""".stripMargin

  /** Pseudo raster paths synthesized from the documents table so the
    * classification exprs (P1-P4) get a DuckDB-verifiable surface. */
  private def pathsDf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") % 6 === 0,
        concat(lit("data/"), col("source"), lit("/indicators/"),
          col("source"), lit("_resistance_x.tif")))
        .when(col("doc_id") % 6 === 1,
          concat(lit("data/water/"), col("source"), lit("_domain_score.tif")))
        .when(col("doc_id") % 6 === 2,
          concat(lit("data/"), col("source"), lit("/archive/"),
            col("source"), lit("_resilience.tif")))
        .when(col("doc_id") % 6 === 3, lit("data/WRI_score.tif"))
        .when(col("doc_id") % 6 === 4,
          concat(lit("data/livelihoods/indicators_no_mask/"), col("source"),
            lit("_recovery_no_mask.tif")))
        .otherwise(concat(lit("data/misc/"), col("source"),
          lit("_unclassified.tif")))
        .as("path"))

  private def wriClassify(s: SparkSession, d: String): DataFrame =
    pathsDf(s, d).select(
        col("doc_id"), col("path"),
        Classify.dataType(col("path")).as("data_type"),
        Classify.domain(col("path")).as("wri_domain"),
        Classify.dimension(Classify.dataType(col("path")),
          Classify.basename(col("path"))).as("wri_dimension"),
        Classify.cogFilename(col("path")).as("cog_filename"))
      .orderBy(col("doc_id"))

  private val wriClassifySql: String = {
    val domainWhens = Classify.domainDirs.map(dd =>
      s"WHEN list_contains(parts, '$dd') THEN '$dd'").mkString("\n      ")
    val nameWhens = Classify.domainDirs.map(dd =>
      s"WHEN contains(parts[-1], '$dd') THEN '$dd'").mkString("\n      ")
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 6 AS INT)
       |      WHEN 0 THEN 'data/' || source || '/indicators/' || source || '_resistance_x.tif'
       |      WHEN 1 THEN 'data/water/' || source || '_domain_score.tif'
       |      WHEN 2 THEN 'data/' || source || '/archive/' || source || '_resilience.tif'
       |      WHEN 3 THEN 'data/WRI_score.tif'
       |      WHEN 4 THEN 'data/livelihoods/indicators_no_mask/' || source || '_recovery_no_mask.tif'
       |      ELSE 'data/misc/' || source || '_unclassified.tif' END AS path
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, path, string_split(path, '/') AS parts,
       |    CASE WHEN regexp_matches(path, '/retro_|/archive/|/final_checks/') THEN 'exclude'
       |         WHEN regexp_matches(path, '/indicators/') THEN 'indicator'
       |         WHEN regexp_matches(path, 'WRI_score\\.tif$$') THEN 'final_score'
       |         WHEN regexp_matches(path, '_(domain_score|resilience|resistance|status)\\.tif$$') THEN 'aggregate'
       |         ELSE 'exclude' END AS data_type
       |  FROM p)
       |SELECT doc_id, path, data_type,
       |  CASE WHEN list_position(parts, 'indicators') > 1
       |         THEN parts[list_position(parts, 'indicators') - 1]
       |      $domainWhens
       |      $nameWhens
       |      ELSE 'unknown' END AS wri_domain,
       |  CASE WHEN data_type = 'indicator' THEN
       |         CASE WHEN regexp_matches(parts[-1], '_resistance_') THEN 'resistance'
       |              WHEN regexp_matches(parts[-1], '_recovery_') THEN 'recovery'
       |              WHEN regexp_matches(parts[-1], '_status_') THEN 'status' END
       |       WHEN data_type = 'aggregate' THEN
       |         CASE WHEN contains(parts[-1], 'domain_score') THEN 'domain_score'
       |              WHEN contains(parts[-1], 'resilience') THEN 'resilience'
       |              WHEN contains(parts[-1], 'resistance') THEN 'resistance'
       |              WHEN contains(parts[-1], 'status') THEN 'status' END
       |  END AS wri_dimension,
       |  CASE WHEN regexp_matches(path, '/indicators_no_mask/')
       |       THEN regexp_replace(parts[-1], '\\.[^.]*$$', '') || '_no_mask.tif'
       |       ELSE regexp_replace(parts[-1], '\\.[^.]*$$', '') || '.tif'
       |  END AS cog_filename
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Encoder settings grid (J2 cross join; 48 configs). */
  private def wriGrid(s: SparkSession, d: String): DataFrame =
    Cog.settingsGrid(s).orderBy(col("COMPRESS"), col("PREDICTOR"),
      col("BLOCKSIZE"), col("BIGTIFF"), col("RESAMPLING"))

  private val wriGridSql =
    """SELECT * FROM (VALUES ('DEFLATE'), ('ZSTD'), ('LZW')) c("COMPRESS")
      |CROSS JOIN (VALUES (2), (3)) p("PREDICTOR")
      |CROSS JOIN (VALUES (256), (512)) b("BLOCKSIZE")
      |CROSS JOIN (VALUES ('IF_SAFER'), ('YES')) g("BIGTIFF")
      |CROSS JOIN (VALUES ('NEAREST'), ('AVERAGE')) r("RESAMPLING")
      |ORDER BY "COMPRESS", "PREDICTOR", "BLOCKSIZE", "BIGTIFF", "RESAMPLING"""".stripMargin

  // fixture roots are per-JVM singletons so repeated query runs reuse them
  private lazy val fixtureRoot: String =
    java.nio.file.Files.createTempDirectory("wri_fixtures").toString

  /** Stage 00 over self-generated fixtures. The fixture tree is
    * deterministic (no temp-path-dependent columns are selected), so the
    * oracle is a VALUES pin of the golden classification/validation
    * output — the deep structural checks live in PipelineSpec. */
  private def wriInventory(s: SparkSession, d: String): DataFrame = {
    val dataDir = Fixtures.writeInventoryTree(fixtureRoot)
    Inventory.run(s, dataDir).raw
      .select(col("filename"), col("data_type"), col("wri_domain"),
        col("wri_dimension"), col("success"),
        // tri-state as string: NULL boolean columns hash differently
        // across engines' parquet/pandas null encodings
        col("passes_assumptions").cast("string").as("passes_assumptions"),
        col("assumption_error"))
      .orderBy(col("filename"))
  }

  private val wriInventorySql =
    """SELECT * FROM (VALUES
      |  ('WRI_score.tif', 'final_score', 'unknown', NULL, true, 'true', NULL),
      |  ('air_quality_domain_score.tif', 'aggregate', 'air_quality', 'domain_score', true, 'true', NULL),
      |  ('c_status_epsg.tif', 'indicator', 'carbon', 'status', true, 'false', 'EPSG mismatch (4326)'),
      |  ('c_status_extent.tif', 'indicator', 'carbon', 'status', true, 'false', 'Extent mismatch'),
      |  ('c_status_res.tif', 'indicator', 'carbon', 'status', true, 'false', 'Resolution mismatch (30x30)'),
      |  ('flow_recovery_v1.tif', 'indicator', 'water', 'recovery', true, 'true', NULL),
      |  ('jobs_resistance_v1.tif', 'indicator', 'livelihoods', 'resistance', true, 'true', NULL),
      |  ('sp_status_corrupt.tif', 'indicator', 'species', 'status', false, NULL, NULL),
      |  ('water_resilience.tif', 'aggregate', 'water', 'resilience', true, 'true', NULL)
      |) t(filename, data_type, wri_domain, wri_dimension, success,
      |    passes_assumptions, assumption_error)
      |ORDER BY filename""".stripMargin

  /** Stage 01 over small real rasters: encode + status summary
    * (deterministic fixture set -> VALUES pin). */
  private def wriCog(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inputs = Fixtures.writeCogInputs(fixtureRoot)
    val meta = inputs.toDF("filepath", "cog_filename")
    val out = java.nio.file.Files.createTempDirectory("wri_cogs").toString
    Cog.summary(Cog.run(s, meta, out))
  }

  private val wriCogSql =
    """SELECT 'written' AS status, CAST(4 AS BIGINT) AS n"""

  /** Stage 02 over the fixture inventory (hermetic probe = false). The
    * pinned json_len doubles as a structural golden: any drift in the
    * emitted STAC item JSON changes the length. */
  private def wriStac(s: SparkSession, d: String): DataFrame = {
    val dataDir = Fixtures.writeInventoryTree(fixtureRoot)
    val consistent = Inventory.run(s, dataDir).consistent
    Stac.buildItems(s, consistent)
      .select(col("item_id"), col("is_hosted"), length(col("json")).as("json_len"))
      .orderBy(col("item_id"))
  }

  private val wriStacSql =
    """SELECT * FROM (VALUES
      |  ('WRI_score', false, 1263),
      |  ('air_quality_domain_score', false, 1320),
      |  ('flow_recovery_v1', false, 1286),
      |  ('jobs_resistance_v1', false, 1300),
      |  ('water_resilience', false, 1288)
      |) t(item_id, is_hosted, json_len) ORDER BY item_id""".stripMargin

  /** The catalog's CONSUMPTION end ([[Stac.readItems]]): the item
    * documents written by stage 02 parse back — explicit schema, one
    * flat row per item — and a STAC-style search (bbox intersection +
    * domain predicate) runs as ordinary column filters. The oracle
    * replays the expected catalog analytically: classification fields
    * from the fixture tree's path conventions, the shared CONUS bbox
    * west edge from the inverse-Albers golden (a wrong write, parse,
    * flatten, or intersection rule changes the row set or a value and
    * breaks the hash). The 'unknown'-domain final score is filtered
    * out; a disjoint probe box proves the intersection test can say
    * no. */
  private def wriStacQuery(s: SparkSession, d: String): DataFrame = {
    val dataDir = Fixtures.writeInventoryTree(fixtureRoot)
    val consistent = Inventory.run(s, dataDir).consistent
    val stacRoot = s"$fixtureRoot/stacq"
    val itemsDir = s"$stacRoot/collections/${graft.wri.Model.collectionId}/items"
    // items only — the collection/catalog documents are stage-02 work
    // the SEARCH doesn't need (they get their own golden checks)
    Stac.writeItems(Stac.buildItems(s, consistent), itemsDir)
    val items = Stac.readItems(s, itemsDir)
    val conus = items
      .filter(Stac.bboxIntersects(-130.0, 25.0, -60.0, 50.0))
      .filter(col("wri_domain") =!= "unknown")
    val disjoint = items
      .filter(Stac.bboxIntersects(-179.0, -60.0, -160.0, -50.0))
    conus.join(disjoint.select(col("item_id")), Seq("item_id"),
        "left_anti") // no-op: proves the disjoint box matched nothing
      .select(col("item_id"), col("data_type"), col("wri_domain"),
        col("wri_dimension"), col("is_hosted"), col("bbox_w"), col("href"))
      .orderBy(col("item_id"))
  }

  /** The reference's pre-upload quality gate (`README.md:331-335`) as a
    * distributed sweep ([[Stac.validateAssets]]): a small catalog is
    * staged — four real COGs + their item documents — and every asset
    * must stream (one prefix read yields the whole pyramid), be tiled,
    * carry overviews, and georeference. The oracle pins the exact
    * pyramid geometry the writer must produce for 192x128 at 32 px
    * blocks: 4 levels (downsample while max(w,h) > blockSize), 32 px
    * tiles — a writer or prefix-parser drift changes a value and
    * breaks the hash. The broken-asset path (error-as-data) is spec
    * territory (RemoteIoSpec): DuckDB cannot truncate a file. */
  // the shared QA-catalog fixture anchors (90 m cells at the reference
  // CONUS corner — Fixtures.writeCogInputs' geotransform)
  private val qaGx = -5216639.6695348294
  private val qaGy = 6199081.688491997

  /** Stage the small consumable catalog ONCE per JVM — four real COGs
    * plus their item documents — and return its items directory. Both
    * the QA sweep and the get_layer consumer run against it. */
  private def stageQaCatalog(s: SparkSession): String = {
    import s.implicits._
    val root = s"$fixtureRoot/qa"
    val inputs = Fixtures.writeCogInputs(root, n = 4, w = 192, h = 128)
    val cid = graft.wri.Model.collectionId
    val stacRoot = s"$root/stac"
    val cogDir = s"$stacRoot/collections/$cid/cogs"
    Cog.run(s, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val consistent = inputs.map(_._2).toDF("cog_filename").select(
      col("cog_filename"), lit(5070).as("crs_epsg"),
      lit("indicator").as("data_type"), lit("water").as("wri_domain"),
      lit("status").as("wri_dimension"),
      lit(qaGx).as("extent_xmin"),
      lit(qaGx + 192 * 90.0).as("extent_xmax"),
      lit(qaGy - 128 * 90.0).as("extent_ymin"),
      lit(qaGy).as("extent_ymax"))
    val itemsDir = s"$stacRoot/collections/$cid/items"
    Stac.writeItems(Stac.buildItems(s, consistent), itemsDir)
    itemsDir
  }

  private def wriCatalogQa(s: SparkSession, d: String): DataFrame = {
    val itemsDir = stageQaCatalog(s)
    Stac.validateAssets(s, itemsDir)
      .select(col("item_id"), col("ok"), col("levels"),
        col("tile_width"), col("width"), col("height"))
      .orderBy(col("item_id"))
  }

  private val wriCatalogQaSql =
    """SELECT * FROM (VALUES
      |  ('layer_0', true, 4, 32, 192, 128),
      |  ('layer_1', true, 4, 32, 192, 128),
      |  ('layer_2', true, 4, 32, 192, 128),
      |  ('layer_3', true, 4, 32, 192, 128)
      |) t(item_id, ok, levels, tile_width, width, height)
      |ORDER BY item_id""".stripMargin

  /** The catalog CONSUMER ([[Stac.getLayerNative]] — the reference's
    * `get_layer` story, `README.md:300-308`): each layer is answered
    * STRAIGHT FROM THE CATALOG — bbox search over the item documents,
    * asset-href resolution, the is_hosted branch (these items are
    * local: hrefs resolve against the item directory), then window
    * stats over exactly the intersecting tiles. Same fractional
    * 90 m-cell box as wri_cog_geo_window_stats, so the oracle replays
    * the fixture generator analytically over cells x in [25, 103),
    * y in [7, 59) — a wrong search, resolve, branch, geotransform, or
    * tile fetch breaks the hash. The HTTP-hosted leg and the
    * informative non-hosted error are RemoteIoSpec territory (DuckDB
    * cannot serve ranges). */
  private def wriGetLayer(s: SparkSession, d: String): DataFrame = {
    val itemsDir = stageQaCatalog(s)
    Seq("layer_0", "layer_1", "layer_2", "layer_3").map { id =>
      Stac.getLayerNative(s, itemsDir, id,
        minx = qaGx + 25.4 * 90.0, miny = qaGy - 58.3 * 90.0,
        maxx = qaGx + 102.2 * 90.0, maxy = qaGy - 7.6 * 90.0)
    }.reduce(_.unionByName(_))
      .select(col("layer"), col("n_valid"), col("n_nan"),
        col("vs_sum"), col("vs_min"), col("vs_max"))
      .orderBy(col("layer"))
  }

  /** The ZONAL batch ([[CogQuery.zonalStatsGeo]]): 100 fractional
    * 90 m-cell windows x 4 layers answered in ONE job — per layer the
    * union of window tiles is fetched once (tile-coalesced), and every
    * window folds its own integer-exact stats. Windows are laid on a
    * 10x10 grid of fractional offsets, so the pixel-is-area floor/ceil
    * mapping lands window (wi, wj) exactly on cells
    * x in [7wi+2, 7wi+8), y in [5wj+1, 5wj+6) — which the oracle
    * replays from the fixture generator; a wrong coalesce (a tile
    * folded twice into a window, or a window into the wrong tile)
    * breaks counts and sums alike. */
  private def wriZonalStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inputs = Fixtures.writeCogInputs(s"$fixtureRoot/winq",
      n = 4, w = 192, h = 128)
    val cogDir = s"$fixtureRoot/winq_cogs"
    Cog.run(s, inputs.toDF("filepath", "cog_filename"), cogDir,
      TiffWriter.CogOptions(blockSize = 32)).count()
    val windows = for (wi <- 0 until 10; wj <- 0 until 10) yield (
      (wi * 10 + wj).toLong,
      qaGx + (2.3 + 7.0 * wi) * 90.0, qaGy - (1.6 + 5.0 * wj + 3.9) * 90.0,
      qaGx + (2.3 + 7.0 * wi + 5.4) * 90.0, qaGy - (1.6 + 5.0 * wj) * 90.0)
    CogQuery.zonalStatsGeo(s, cogDir, inputs.map(_._2), windows)
      .select(col("layer"), col("window_id"), col("n_valid"),
        col("n_nan"), col("vs_sum"), col("vs_min"), col("vs_max"))
      .orderBy(col("layer"), col("window_id"))
  }

  private val wriZonalStatsSql =
    """WITH cells AS (
      |  SELECT i.range AS i,
      |    wi.range * 10 + wj.range AS window_id,
      |    ((wj.range * 5 + 1 + dy.range) * 192
      |      + (wi.range * 7 + 2 + dx.range)) AS j
      |  FROM range(0, 4) i, range(0, 10) wi, range(0, 10) wj,
      |       range(0, 6) dx, range(0, 5) dy),
      |v AS (SELECT i, window_id,
      |    CASE WHEN (j + i) % 13 = 0 THEN NULL
      |      ELSE CAST(round(CAST(CAST((j * (i + 3)) % 101 AS REAL)
      |             / CAST(7 AS REAL) AS DOUBLE) * 10000) AS BIGINT)
      |    END AS vs
      |  FROM cells)
      |SELECT 'layer_' || i || '.tif' AS layer,
      |  CAST(window_id AS BIGINT) AS window_id,
      |  CAST(count(vs) AS BIGINT) AS n_valid,
      |  CAST(count(*) - count(vs) AS BIGINT) AS n_nan,
      |  CAST(sum(vs) AS BIGINT) AS vs_sum,
      |  CAST(min(vs) AS BIGINT) AS vs_min,
      |  CAST(max(vs) AS BIGINT) AS vs_max
      |FROM v GROUP BY i, window_id ORDER BY layer, window_id""".stripMargin

  /** STAC 1.0.0 structural conformance ([[Stac.validateDocuments]] —
    * the stac-validator step of `README.md:248-250`): two spec-clean
    * emitted items validate green, and four seeded-invalid documents
    * (missing bbox under non-null geometry, wrong stac_version, an
    * href-less link, a ring position outside its bbox) each surface as
    * an error ROW with its first-failure message — error-as-data, so
    * one malformed document never kills the catalog sweep. */
  private def wriStacConformance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val itemsDir = s"$fixtureRoot/conformance/items"
    val consistent = Seq("alpha.tif", "beta.tif").toDF("cog_filename")
      .select(
        col("cog_filename"), lit(5070).as("crs_epsg"),
        lit("indicator").as("data_type"), lit("water").as("wri_domain"),
        lit("status").as("wri_dimension"),
        lit(qaGx).as("extent_xmin"),
        lit(qaGx + 96 * 90.0).as("extent_xmax"),
        lit(qaGy - 64 * 90.0).as("extent_ymin"),
        lit(qaGy).as("extent_ymax"))
    Stac.writeItems(Stac.buildItems(s, consistent), itemsDir)
    val conf = s.sparkContext.hadoopConfiguration
    graft.wri.WriFs.writeString(s"$itemsDir/broken_nobbox.json",
      """{"type":"Feature","stac_version":"1.0.0","id":"broken_nobbox",
        |"geometry":{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]},
        |"properties":{"datetime":"2024-01-01T00:00:00Z"},
        |"links":[],"assets":{}}""".stripMargin, conf)
    graft.wri.WriFs.writeString(s"$itemsDir/broken_version.json",
      """{"type":"Feature","stac_version":"0.9.0","id":"broken_version",
        |"geometry":null,"properties":{"datetime":"2024-01-01T00:00:00Z"},
        |"links":[],"assets":{}}""".stripMargin, conf)
    graft.wri.WriFs.writeString(s"$itemsDir/broken_link.json",
      """{"type":"Feature","stac_version":"1.0.0","id":"broken_link",
        |"geometry":null,"properties":{"datetime":"2024-01-01T00:00:00Z"},
        |"links":[{"rel":"self"}],"assets":{}}""".stripMargin, conf)
    graft.wri.WriFs.writeString(s"$itemsDir/broken_geom.json",
      """{"type":"Feature","stac_version":"1.0.0","id":"broken_geom",
        |"geometry":{"type":"Polygon","coordinates":[[[0,0],[5,0.5],[1,1],[0,0]]]},
        |"bbox":[0,0,1,1],
        |"properties":{"datetime":"2024-01-01T00:00:00Z"},
        |"links":[],"assets":{}}""".stripMargin, conf)
    Stac.validateDocuments(s, itemsDir)
      .select(col("file"), col("item_id"), col("ok"), col("error"))
      .orderBy(col("file"))
  }

  private val wriStacConformanceSql =
    """SELECT * FROM (VALUES
      |  ('alpha.json', 'alpha', true, NULL),
      |  ('beta.json', 'beta', true, NULL),
      |  ('broken_geom.json', 'broken_geom', false,
      |    'geometry position (5.0000, 0.5000) outside bbox'),
      |  ('broken_link.json', 'broken_link', false,
      |    'link 0 must carry rel and href'),
      |  ('broken_nobbox.json', 'broken_nobbox', false,
      |    'bbox is required when geometry is non-null'),
      |  ('broken_version.json', 'broken_version', false,
      |    'stac_version must be ''1.0.0''')
      |) t(file, item_id, ok, error) ORDER BY file""".stripMargin

  private val wriGetLayerSql =
    """WITH px AS (
      |  SELECT i.range AS i,
      |    (y.range * 192 + x.range) AS j
      |  FROM range(0, 4) i, range(25, 103) x, range(7, 59) y),
      |v AS (SELECT i,
      |    CASE WHEN (j + i) % 13 = 0 THEN NULL
      |      ELSE CAST(round(CAST(CAST((j * (i + 3)) % 101 AS REAL)
      |             / CAST(7 AS REAL) AS DOUBLE) * 10000) AS BIGINT)
      |    END AS vs
      |  FROM px)
      |SELECT 'layer_' || i AS layer,
      |  CAST(count(vs) AS BIGINT) AS n_valid,
      |  CAST(count(*) - count(vs) AS BIGINT) AS n_nan,
      |  CAST(sum(vs) AS BIGINT) AS vs_sum,
      |  CAST(min(vs) AS BIGINT) AS vs_min,
      |  CAST(max(vs) AS BIGINT) AS vs_max
      |FROM v GROUP BY i ORDER BY layer""".stripMargin

  private val wriStacQuerySql =
    """SELECT item_id, data_type, wri_domain, wri_dimension, is_hosted,
      |  CAST(bbox_w AS DOUBLE) AS bbox_w, href
      |FROM (VALUES
      |  ('air_quality_domain_score', 'aggregate', 'air_quality',
      |    'domain_score', false, -146.2082,
      |    '../cogs/air_quality_domain_score.tif'),
      |  ('flow_recovery_v1', 'indicator', 'water', 'recovery', false,
      |    -146.2082, '../cogs/flow_recovery_v1.tif'),
      |  ('jobs_resistance_v1', 'indicator', 'livelihoods', 'resistance',
      |    false, -146.2082, '../cogs/jobs_resistance_v1.tif'),
      |  ('water_resilience', 'aggregate', 'water', 'resilience', false,
      |    -146.2082, '../cogs/water_resilience.tif')
      |) t(item_id, data_type, wri_domain, wri_dimension, is_hosted,
      |    bbox_w, href) ORDER BY item_id""".stripMargin
}
