package graft.wri

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Windowed raster stats over written COGs, answered through the
  * range-read contract — the CONSUMPTION end of the reference pipeline
  * (its COGs exist precisely so clients can stream sub-windows without
  * downloading whole rasters; `README.md:329-335` checks exactly this
  * streaming access).
  *
  * Per layer: ONE bounded prefix read parses every pyramid level's tile
  * layout ([[TiffIO.levelLayoutsFromPrefix]] — the "single HEAD + first
  * 16 KB" COG discipline), the full-resolution tiles intersecting the
  * requested pixel window are computed from that layout, and ONLY those
  * tiles are fetched by byte range and decoded
  * ([[TiffIO.decodeLevelTile]]). A window over an N-tile raster reads
  * O(window tiles) bytes no matter how large the raster — the same
  * economics as q129's idx1-indexed video frame sampling.
  *
  * Windows address the raster either in PIXEL coordinates
  * ([[windowStats]]) or as a CRS bounding box ([[windowStatsGeo]]) —
  * the latter is how the reference's clients actually ask (an extent in
  * EPSG:5070 meters, not a tile index); the geotransform that places
  * the box onto the pixel grid parses from the SAME header prefix
  * ([[TiffIO.geoTransformFromPrefix]]), so the geographic form costs no
  * extra range request.
  *
  * Statistics are engine-exact: each decoded float is scaled to an
  * integer (`round(v * scale)` as a long, the q99/q124 fixed-point
  * discipline), so sums/mins/maxes are deterministic in any summation
  * order and a DuckDB oracle can replay them to the bit. NaN pixels (the
  * raster nodata convention) are counted, never aggregated.
  *
  * Scale shape: one task per layer file (mapPartitions over layer
  * names); layers are independent, so a 1000-layer catalog fans out
  * across executors exactly like the Cog.run encode stage.
  */
object CogQuery {

  case class CogWindowStat(
      layer: String,
      tiles_total: Long, tiles_read: Long,
      bytes_read: Long, file_bytes: Long,
      n_valid: Long, n_nan: Long,
      vs_sum: Long, vs_min: Option[Long], vs_max: Option[Long])

  /** The shared per-layer fold: fetch + decode exactly the tiles of
    * `layouts(level)` that intersect the half-open pixel window
    * [x0, xEnd) x [y0, yEnd) (already in that level's grid; may lie
    * partly or fully outside the raster — it is clamped here), and
    * aggregate scaled-integer stats. `prefixLen` counts toward
    * bytes_read (the one header range request already paid). */
  private def statsOverWindow(name: String, raf: RangeReader,
      prefixLen: Int, layouts: Seq[TiffIO.LevelLayout],
      level: Int, x0: Int, y0: Int, xEnd: Int, yEnd: Int,
      scale: Long): CogWindowStat = {
    require(level < layouts.length,
      s"$name has ${layouts.length} levels, requested $level")
    val full = layouts(level)
    val tw = full.tileWidth
    val th = full.tileHeight
    require(tw > 0 && th > 0, s"$name is not tiled — not a COG")
    val tilesAcross = (full.width + tw - 1) / tw
    val tilesDown = (full.height + th - 1) / th
    val xLo = math.max(0, x0); val xHi = math.min(full.width, xEnd)
    val yLo = math.max(0, y0); val yHi = math.min(full.height, yEnd)
    var tilesRead = 0L
    var bytesRead = prefixLen.toLong
    var nValid = 0L
    var nNan = 0L
    var vsSum = 0L
    var vsMin = Long.MaxValue
    var vsMax = Long.MinValue
    if (xLo < xHi && yLo < yHi) {
      val c0 = xLo / tw; val c1 = (xHi - 1) / tw
      val r0 = yLo / th; val r1 = (yHi - 1) / th
      var r = r0
      while (r <= r1) {
        var c = c0
        while (c <= c1) {
          val t = r * tilesAcross + c
          val cnt = full.tileByteCounts(t).toInt
          val buf = new Array[Byte](cnt)
          raf.readFully(full.tileOffsets(t), buf) // range req #2..k
          tilesRead += 1
          bytesRead += cnt
          val px = TiffIO.decodeLevelTile(full, buf)
          val pxLo = math.max(xLo, c * tw)
          val pxHi = math.min(xHi, (c + 1) * tw)
          val pyLo = math.max(yLo, r * th)
          val pyHi = math.min(yHi, (r + 1) * th)
          var y = pyLo
          while (y < pyHi) {
            var x = pxLo
            while (x < pxHi) {
              val v = px((y - r * th) * tw + (x - c * tw))
              if (java.lang.Float.isNaN(v)) nNan += 1
              else {
                val vs = Math.round(v.toDouble * scale)
                nValid += 1
                vsSum += vs
                if (vs < vsMin) vsMin = vs
                if (vs > vsMax) vsMax = vs
              }
              x += 1
            }
            y += 1
          }
          c += 1
        }
        r += 1
      }
    }
    CogWindowStat(name, tilesAcross.toLong * tilesDown, tilesRead,
      bytesRead, raf.length, nValid, nNan, vsSum,
      if (nValid == 0) None else Some(vsMin),
      if (nValid == 0) None else Some(vsMax))
  }

  case class CogZonalStat(
      layer: String, window_id: Long, tiles_read: Long,
      n_valid: Long, n_nan: Long,
      vs_sum: Long, vs_min: Option[Long], vs_max: Option[Long])

  /** ZONAL stats — thousands of CRS windows per layer in ONE job (the
    * catalog client's real ask: per-admin-region statistics over every
    * layer, not one window per call). One task per layer; within a
    * task every window maps onto the pixel grid from the one header
    * prefix, the needed tiles are COALESCED — each tile the union of
    * windows touches is fetched and decoded exactly ONCE, in
    * file-offset order (sequential ranges, the friendliest shape for
    * HTTP/object-store reads) — and every window's integer-exact
    * accumulator folds the pixels of its intersection with that tile.
    * Cost per layer: one prefix + O(union-of-window tiles) bytes,
    * however many windows ask; overlapping windows stop costing
    * duplicate fetches, which is exactly where the one-window-per-call
    * form degenerates ([[windowStatsGeo]] re-reads a shared tile once
    * PER WINDOW).
    *
    * `windows` is (window_id, minx, miny, maxx, maxy) in the raster's
    * CRS; it ships to executors ONCE as a broadcast (not per-task in
    * the closure — at 64 layers x a large region table, closure
    * shipping would multiply the bytes by the task count) and is
    * bounded loudly — zonal window lists are region tables
    * (thousands), not data. Windows wholly outside the raster report
    * zero counts (`tiles_read = 0`). Output: one row per layer x
    * window. */
  def zonalStatsGeo(spark: SparkSession, cogDir: String,
      layers: Seq[String],
      windows: Seq[(Long, Double, Double, Double, Double)],
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame = {
    import spark.implicits._
    require(layers.nonEmpty, "no layers to query")
    require(windows.nonEmpty, "no windows to query")
    require(windows.size <= 1000000,
      s"${windows.size} windows is data-sized, not a region table — " +
        "the list is broadcast whole to every executor and folded " +
        "per-layer in memory; shard the window list")
    require(scale >= 1, s"scale must be >= 1: $scale")
    require(level >= 0, s"level must be >= 0: $level")
    windows.foreach { case (id, minx, miny, maxx, maxy) =>
      require(maxx > minx && maxy > miny,
        s"window $id must be non-empty: x [$minx, $maxx], y [$miny, $maxy]")
    }
    // reclaimed by the ContextCleaner with the result's lineage (an
    // eager destroy here would break the lazy DataFrame); bounded by
    // the window cap above
    val winBc = spark.sparkContext.broadcast(windows)
    withReaderAt(spark, layers.map(n => (n, s"$cogDir/$n")), prefixBytes) {
      (name, raf, prefix) =>
        zonalOverWindows(name, raf, prefix, winBc.value, scale, level)
    }.flatMap(identity).toDF()
  }

  /** Parse the header prefix into the level's grid: (all layouts, the
    * level layout, resX, resY, originX, originY) with the level-0 cell
    * size scaled to `level`'s grid (exact powers of two for the
    * writer's own pyramids). ONE implementation for every geographic
    * verb — the mapping rule is oracle-load-bearing. */
  private def geoGrid(name: String, prefix: TiffIO.HeaderPrefix,
      level: Int): (Seq[TiffIO.LevelLayout], TiffIO.LevelLayout,
        Double, Double, Double, Double) = {
    val layouts = prefix.layouts
    require(level < layouts.length,
      s"$name has ${layouts.length} levels, requested $level")
    val (resX0, resY0, gx, gy) = prefix.geoTransform
    val l0 = layouts.head
    val lv = layouts(level)
    (layouts, lv, resX0 * l0.width.toDouble / lv.width,
      resY0 * l0.height.toDouble / lv.height, gx, gy)
  }

  /** The floor/ceil pixel-is-area mapping of one CRS box onto the grid
    * — every pixel whose cell intersects the box, as UNCLAMPED
    * half-open bounds (x0, xEnd, y0, yEnd); callers clamp. */
  private def boxToPixels(resX: Double, resY: Double, gx: Double,
      gy: Double, minx: Double, miny: Double, maxx: Double,
      maxy: Double): (Int, Int, Int, Int) =
    (math.floor((minx - gx) / resX).toInt,
      math.ceil((maxx - gx) / resX).toInt,
      math.floor((gy - maxy) / resY).toInt,
      math.ceil((gy - miny) / resY).toInt)

  private def zonalOverWindows(name: String, raf: RangeReader,
      prefix: TiffIO.HeaderPrefix,
      windows: Seq[(Long, Double, Double, Double, Double)],
      scale: Long, level: Int): Seq[CogZonalStat] = {
    val (_, full, resX, resY, gx, gy) = geoGrid(name, prefix, level)
    val tw = full.tileWidth
    val th = full.tileHeight
    require(tw > 0 && th > 0, s"$name is not tiled — not a COG")
    val tilesAcross = (full.width + tw - 1) / tw
    // per-window accumulator over its clamped pixel rect (the same
    // floor/ceil pixel-is-area mapping as windowStatsGeo)
    class Acc(val id: Long, val xLo: Int, val xHi: Int,
        val yLo: Int, val yHi: Int) {
      var tiles = 0L; var nValid = 0L; var nNan = 0L
      var vsSum = 0L; var vsMin = Long.MaxValue; var vsMax = Long.MinValue
    }
    val accs = windows.map { case (id, minx, miny, maxx, maxy) =>
      val (x0, xEnd, y0, yEnd) =
        boxToPixels(resX, resY, gx, gy, minx, miny, maxx, maxy)
      new Acc(id, math.max(0, x0), math.min(full.width, xEnd),
        math.max(0, y0), math.min(full.height, yEnd))
    }
    // the COALESCING step: tile -> every window that touches it
    val byTile = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Acc]]
    accs.foreach { a =>
      if (a.xLo < a.xHi && a.yLo < a.yHi) {
        var r = a.yLo / th
        while (r <= (a.yHi - 1) / th) {
          var c = a.xLo / tw
          while (c <= (a.xHi - 1) / tw) {
            byTile.getOrElseUpdate(r * tilesAcross + c,
              scala.collection.mutable.ArrayBuffer.empty[Acc]) += a
            c += 1
          }
          r += 1
        }
      }
    }
    // fetch each needed tile ONCE, in offset order (sequential ranges)
    byTile.toSeq.sortBy { case (t, _) => full.tileOffsets(t) }
      .foreach { case (t, ws) =>
        val cnt = full.tileByteCounts(t).toInt
        val buf = new Array[Byte](cnt)
        raf.readFully(full.tileOffsets(t), buf)
        val px = TiffIO.decodeLevelTile(full, buf)
        val c = t % tilesAcross; val r = t / tilesAcross
        ws.foreach { a =>
          a.tiles += 1
          val pxLo = math.max(a.xLo, c * tw)
          val pxHi = math.min(a.xHi, (c + 1) * tw)
          val pyLo = math.max(a.yLo, r * th)
          val pyHi = math.min(a.yHi, (r + 1) * th)
          var y = pyLo
          while (y < pyHi) {
            var x = pxLo
            while (x < pxHi) {
              val v = px((y - r * th) * tw + (x - c * tw))
              if (java.lang.Float.isNaN(v)) a.nNan += 1
              else {
                val vs = Math.round(v.toDouble * scale)
                a.nValid += 1
                a.vsSum += vs
                if (vs < a.vsMin) a.vsMin = vs
                if (vs > a.vsMax) a.vsMax = vs
              }
              x += 1
            }
            y += 1
          }
        }
      }
    accs.map(a => CogZonalStat(name, a.id, a.tiles, a.nValid, a.nNan,
      a.vsSum,
      if (a.nValid == 0) None else Some(a.vsMin),
      if (a.nValid == 0) None else Some(a.vsMax)))
  }

  /** The DATA form of the consumption verbs — the reference's
    * `get_layer` hands the CLIENT a raster crop to analyze, not just
    * statistics. Every pixel of the CRS box comes back as a row:
    * (layer, x, y, vs) with `x`/`y` the level's absolute pixel
    * coordinates and `vs` the `round(value * scale)` integer (NULL for
    * NaN/nodata pixels) — the same fixed-point discipline as the stats
    * verbs, so downstream arithmetic is deterministic and an engine
    * oracle replays it to the bit; divide by `scale` for floats.
    *
    * Scale shape — deliberately DIFFERENT from the stats verbs: stats
    * reduce to one row per layer, so one task per layer is right; a
    * DATA read is output-heavy, so the unit of work is one (layer,
    * TILE) pair — the tile list per layer comes from one header-prefix
    * job, then every needed tile decodes in its own task and emits
    * only its in-window pixels. A 10k x 10k crop over 64 layers fans
    * out across the cluster instead of serializing behind 64 tasks,
    * and no task ever holds more than one decoded tile. Tiles are
    * grouped into per-task CHUNKS of [[ReadChunkTiles]] so one reader
    * open + one header-prefix read amortizes over the chunk instead
    * of repeating per tile — fan-out granularity stays tile-scale,
    * header overhead drops by the chunk factor (8 tiles/task: a
    * 64-tile layer costs 8 header reads, not 64, while still fanning
    * 8-wide). SCALE-pinned: the 16-layer 2048x2048 crop (67M pixel
    * rows, 128 chunk tasks) answers in single-digit seconds at sf0.1
    * (SCALE.md `cog_crop_16layers_2k`). */
  def readWindowGeo(spark: SparkSession, cogDir: String,
      layers: Seq[String],
      minx: Double, miny: Double, maxx: Double, maxy: Double,
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame =
    readWindowGeoAt(spark, layers.map(n => (n, s"$cogDir/$n")),
      minx, miny, maxx, maxy, scale, prefixBytes, level)

  /** [[readWindowGeo]] over explicit (layer, path) targets — the form
    * the catalog consumer needs ([[Stac.getLayerData]]). */
  def readWindowGeoAt(spark: SparkSession,
      targets: Seq[(String, String)],
      minx: Double, miny: Double, maxx: Double, maxy: Double,
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame = {
    import spark.implicits._
    require(targets.nonEmpty, "no layers to read")
    require(maxx > minx && maxy > miny,
      s"box must be non-empty: x [$minx, $maxx], y [$miny, $maxy]")
    require(scale >= 1, s"scale must be >= 1: $scale")
    require(level >= 0, s"level must be >= 0: $level")
    // job 1 (one small task per layer): header prefix -> this layer's
    // pixel window and the tile ids it intersects, chunked. Each chunk
    // carries ITS OWN path, so duplicate layer labels (two targets with
    // one name) stay correct-by-construction — no name->path lookup.
    val perChunk = withReaderAt(spark, targets, prefixBytes) {
      (name, _, prefix) =>
        val (_, full, resX, resY, gx, gy) = geoGrid(name, prefix, level)
        val tw = full.tileWidth; val th = full.tileHeight
        require(tw > 0 && th > 0, s"$name is not tiled — not a COG")
        val tilesAcross = (full.width + tw - 1) / tw
        val (x0, xEnd, y0, yEnd) =
          boxToPixels(resX, resY, gx, gy, minx, miny, maxx, maxy)
        val xLo = math.max(0, x0); val xHi = math.min(full.width, xEnd)
        val yLo = math.max(0, y0); val yHi = math.min(full.height, yEnd)
        if (xLo >= xHi || yLo >= yHi)
          Seq.empty[(String, Int, Int, Int, Int, Seq[Int])]
        else (for {
          r <- yLo / th to (yHi - 1) / th
          c <- xLo / tw to (xHi - 1) / tw
        } yield r * tilesAcross + c)
          .grouped(ReadChunkTiles)
          .map(ts => (name, xLo, xHi, yLo, yHi, ts.toSeq)).toSeq
    }.collect().toSeq // chunk plans: metadata-sized, in target order
    val chunkPlans = targets.zip(perChunk).flatMap {
      case ((_, path), chunks) =>
        chunks.map { case (name, xLo, xHi, yLo, yHi, ts) =>
          (name, path, xLo, xHi, yLo, yHi, ts)
        }
    }
    if (chunkPlans.isEmpty)
      return Seq.empty[(String, Int, Int, Option[Long])]
        .toDF("layer", "x", "y", "vs")
    // job 2 (one task per chunk): ONE reader open + ONE prefix read
    // amortize over the chunk's tiles; decode one tile at a time and
    // emit its in-window pixels
    val confBc = WriFs.confBroadcast(spark)
    spark.createDataset(chunkPlans)
      .repartition(math.min(chunkPlans.size,
        spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        it.flatMap { case (name, path, xLo, xHi, yLo, yHi, ts) =>
          withPrefix(path, confBc.value.value, prefixBytes) { (raf, prefix) =>
            val full = prefix.layouts(level)
            val tw = full.tileWidth; val th = full.tileHeight
            val tilesAcross = (full.width + tw - 1) / tw
            ts.flatMap { t =>
              val buf = new Array[Byte](full.tileByteCounts(t).toInt)
              raf.readFully(full.tileOffsets(t), buf)
              val px = TiffIO.decodeLevelTile(full, buf)
              val c = t % tilesAcross; val r = t / tilesAcross
              for {
                y <- math.max(yLo, r * th) until
                  math.min(yHi, (r + 1) * th)
                x <- math.max(xLo, c * tw) until
                  math.min(xHi, (c + 1) * tw)
              } yield {
                val v = px((y - r * th) * tw + (x - c * tw))
                (name, x, y,
                  if (java.lang.Float.isNaN(v)) None
                  else Some(Math.round(v.toDouble * scale)))
              }
            }
          }
        }
      }.toDF("layer", "x", "y", "vs")
  }

  /** Tiles per [[readWindowGeoAt]] task: one reader open + one header
    * prefix amortize over this many tile fetches, while fan-out stays
    * near tile granularity. */
  private val ReadChunkTiles = 8

  case class MapAlgebraStat(out: String, width: Int, height: Int,
      tiles: Long, n_valid: Long, n_nan: Long)

  /** Multi-layer MAP ALGEBRA — the upstream science step the WRI layers
    * themselves came from (the reference's data model: indicators
    * combine into domain aggregates, aggregates into the final WRI
    * score; `/root/reference/README.md` §Data model): N grid-aligned
    * input COGs -> per-pixel weighted sum -> one derived COG written
    * through the same [[TiffWriter.writeCog]] contract as stage 01, so
    * the output is immediately consumable by every query verb and
    * publishable to the catalog.
    *
    * Semantics (oracle-pinned), chosen by `combine`:
    *  - `"wsum"` (default): `out = Σ wᵢ·vᵢ` accumulated in DOUBLE in
    *    input order, stored as float32; a pixel where ANY input is NaN
    *    is NaN (strict mask propagation — an aggregate must not
    *    fabricate values where an indicator abstains);
    *  - `"wmean"`: `out = Σ wᵢ·vᵢ / Σ wᵢ` over the PRESENT (non-NaN)
    *    inputs only — the mask-tolerant scoring rule for layers whose
    *    nodata masks do NOT coincide (a score from the indicators that
    *    exist there); NaN only where every input is NaN.
    *
    * Scale shape — three jobs, each the right granularity:
    *  1. one small task per INPUT: header prefix -> grid signature;
    *     inputs must share width/height/tile grid/geotransform AND CRS
    *     exactly (refused loudly otherwise — resampling is a different
    *     verb: [[resampleToGrid]]); the derived COG is stamped with the
    *     inputs' shared EPSG code (the `epsg` parameter only labels
    *     inputs that carry no GeoKey of their own);
    *  2. one task per TILE CHUNK: reads this chunk's tiles from EVERY
    *     input by byte range ([[ReadChunkTiles]] tiles per task, k
    *     range reads per tile for k inputs) and combines — an 82-input
    *     final-score pass over a large grid fans out across the cluster
    *     at tile granularity instead of serializing behind one writer;
    *  3. ONE writer task: the combined tiles shuffle to a single
    *     assembler that writes the COG (+ pyramid) — the same
    *     one-raster-in-memory unit as a [[Cog.run]] encode task, which
    *     is the writer's own memory shape; the combine stage above is
    *     where the parallelism lives.
    *
    * Returns one stat row: (out, width, height, tiles, n_valid, n_nan). */
  def mapAlgebra(spark: SparkSession,
      inputs: Seq[(String, String, Double)],
      outPath: String,
      opts: TiffWriter.CogOptions = TiffWriter.CogOptions(),
      epsg: Int = Model.Expected.epsg,
      prefixBytes: Int = 16 * 1024,
      combine: String = "wsum"): DataFrame = {
    import spark.implicits._
    require(inputs.nonEmpty, "no input layers to combine")
    require(combine == "wsum" || combine == "wmean",
      s"combine must be 'wsum' or 'wmean': '$combine'")
    val wmean = combine == "wmean"
    // job 1: grid signatures, one small task per input
    val grids = withReaderAt(spark,
      inputs.map(t => (t._1, t._2)), prefixBytes)(gridSignature)
      .collect().toSeq
    val ref = grids.head
    grids.foreach { g =>
      require((g._2, g._3, g._4, g._5, g._6, g._7, g._8, g._9) ==
        (ref._2, ref._3, ref._4, ref._5, ref._6, ref._7, ref._8, ref._9),
        s"input '${g._1}' grid (${g._2}x${g._3} tiles ${g._4}x${g._5}) " +
          s"does not match '${ref._1}' (${ref._2}x${ref._3} tiles " +
          s"${ref._4}x${ref._5}) — map algebra needs grid-aligned " +
          "inputs; resample first (resampleToGrid)")
      // the CRS is part of the grid: equal pixel indices in two
      // different projections are different places on Earth, and the
      // output is stamped with ONE code — combining across codes would
      // silently mislabel the derived raster's georeferencing
      require(g._10 == ref._10,
        s"input '${g._1}' CRS (EPSG:${g._10.getOrElse("<unlabelled>")}) " +
          s"does not match '${ref._1}' " +
          s"(EPSG:${ref._10.getOrElse("<unlabelled>")}) — map algebra " +
          "needs one shared CRS; reproject first")
    }
    // GeoKey 32767 is the USER-DEFINED sentinel, not a CRS code: two
    // rasters in two different custom projections both carry 32767, so
    // sentinel equality proves nothing — refuse rather than combine
    // possibly-different projections under a fake match
    require(!ref._10.contains(32767),
      "inputs carry a USER-DEFINED CRS (ProjectedCSTypeGeoKey = 32767): " +
        "equal sentinels do not mean equal projections — write real " +
        "EPSG codes into the rasters before combining")
    // the output inherits the inputs' SHARED code when they carry one;
    // a caller-passed epsg that contradicts it is refused, not obeyed —
    // the parameter only labels inputs that carry no GeoKey themselves
    val outEpsg = ref._10.getOrElse(epsg)
    ref._10.foreach { e =>
      require(epsg == Model.Expected.epsg || epsg == e,
        s"epsg parameter ($epsg) contradicts the inputs' own CRS " +
          s"(EPSG:$e) — drop the parameter (the inputs' code wins) or " +
          "reproject the inputs")
    }
    val (w, h, tw, th) = (ref._2, ref._3, ref._4, ref._5)
    require(tw > 0 && th > 0, s"'${ref._1}' is not tiled — not a COG")
    val (resX, resY, gx, gy) = (ref._6, ref._7, ref._8, ref._9)
    val tilesAcross = (w + tw - 1) / tw
    val tilesDown = (h + th - 1) / th
    // .toList, not .toSeq: grouped() over a Range yields Range slices,
    // which the Dataset encoder rejects
    val chunks = (0 until tilesAcross * tilesDown)
      .grouped(ReadChunkTiles).map(_.toList).toList
    val paths = inputs.map(_._2)
    val wts = inputs.map(_._3).toArray
    val confBc = WriFs.confBroadcast(spark)
    // job 2: one task per tile chunk — k range reads per tile, combine
    val combined = spark.createDataset(chunks)
      .repartition(math.min(chunks.size,
        spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.flatMap { ts =>
          val readers = paths.map(p => RangeReader.open(p, conf))
          try {
            val layouts = readers.map(readPrefix(_, prefixBytes).layouts.head)
            ts.map { t =>
              val pxs = readers.lazyZip(layouts).map { (r, full) =>
                val buf = new Array[Byte](full.tileByteCounts(t).toInt)
                r.readFully(full.tileOffsets(t), buf)
                TiffIO.decodeLevelTile(full, buf)
              }.toIndexedSeq
              val out = new Array[Float](tw * th)
              var k = 0
              while (k < out.length) {
                var nan = false
                var acc = 0.0
                var accW = 0.0
                var i = 0
                while (i < pxs.length) {
                  val v = pxs(i)(k)
                  if (java.lang.Float.isNaN(v)) nan = true
                  else { acc += wts(i) * v.toDouble; accW += wts(i) }
                  i += 1
                }
                out(k) =
                  if (wmean) {
                    if (accW == 0.0) Float.NaN else (acc / accW).toFloat
                  } else if (nan) Float.NaN
                  else acc.toFloat
                k += 1
              }
              (t, out)
            }
          } finally readers.foreach(_.close())
        }
      }
    // job 3: one assembler/writer task — the Cog.run task memory unit
    assembleDerivedCog(combined, w, h, tw, th, outPath,
      TiffIO.GeoInfo(outEpsg, resX, resY, gx, gy), opts, confBc)
  }

  /** Job-3 shape shared by the derived-COG verbs ([[mapAlgebra]],
    * [[resampleToGrid]]): the combined (tileIndex, pixels) rows shuffle
    * to ONE assembler task that mosaics the raster and writes the COG
    * (+ pyramid) — the same one-raster-in-memory unit as a [[Cog.run]]
    * encode task; the upstream per-tile stage is where the parallelism
    * lives. Returns the one-row stat frame. */
  private def assembleDerivedCog(
      combined: org.apache.spark.sql.Dataset[(Int, Array[Float])],
      w: Int, h: Int, tw: Int, th: Int, outPath: String,
      geo: TiffIO.GeoInfo, opts: TiffWriter.CogOptions,
      confBc: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.SerializableWritable[
          org.apache.hadoop.conf.Configuration]]): DataFrame = {
    val spark = combined.sparkSession
    import spark.implicits._
    val (ww, hh, ttw, tth) = (w, h, tw, th)
    val (oPath, oGeo, oOpts) = (outPath, geo, opts)
    combined.repartition(1).mapPartitions { it =>
      val conf = confBc.value.value
      val px = new Array[Float](ww * hh)
      val across = (ww + ttw - 1) / ttw
      var tiles = 0L
      it.foreach { case (t, tilePx) =>
        tiles += 1
        val c = t % across; val r = t / across
        val xHi = math.min(ww, (c + 1) * ttw)
        val yHi = math.min(hh, (r + 1) * tth)
        var y = r * tth
        while (y < yHi) {
          var x = c * ttw
          while (x < xHi) {
            px(y * ww + x) = tilePx((y - r * tth) * ttw + (x - c * ttw))
            x += 1
          }
          y += 1
        }
      }
      TiffWriter.writeCog(oPath, ww, hh, px, oGeo, oOpts, conf)
      var nValid = 0L; var nNan = 0L
      var k = 0
      while (k < px.length) {
        if (java.lang.Float.isNaN(px(k))) nNan += 1 else nValid += 1
        k += 1
      }
      Iterator.single(MapAlgebraStat(oPath, ww, hh, tiles, nValid, nNan))
    }.toDF()
  }

  /** How many DECODED source tiles one resample task keeps at once —
    * output tiles in a chunk are adjacent, so covering source tiles
    * repeat heavily; past the cap the least-recently-used is dropped
    * and at worst re-fetched (range reads are idempotent). 64 tiles of
    * 256x256 Float32 is ~16 MB — the task memory bound that makes the
    * shape safe at any raster size. */
  private val ResampleTileCacheCap = 64

  /** REGRID of one COG onto a reference layer's exact grid
    * (geotransform + dimensions + tiling) — the remediation verb
    * behind [[mapAlgebra]]'s grid-mismatch refusal: the day one layer
    * arrives on a shifted origin / different resolution / different
    * size, `resampleToGrid(src, ref)` derives an aligned twin and the
    * combine proceeds. Same-CRS only by contract (equal codes checked
    * from both headers' GeoKeys): regridding never reprojects, because
    * a pixel-index mapping between two CRSs is not a grid shift —
    * reprojection is [[Geo]]'s business end-to-end, not a side effect
    * here. (The reference pipeline asserts one uniform grid and never
    * resamples — `00b_create_cogs.R:40-48`; this verb exists so that
    * assertion has an actionable remediation instead of a dead end.)
    *
    * `method` picks the kernel. "nearest" (default — categorical and
    * masked data): each OUTPUT pixel takes the source pixel whose cell
    * contains the output pixel's center (pixel-is-area floor mapping,
    * the [[boxToPixels]] convention). "bilinear" (continuous fields):
    * the 4-neighbor weighted average at the output center's fractional
    * source coordinates — zero-weight neighbors are never sampled (an
    * exactly-aligned axis cannot be poisoned by a NaN it has no weight
    * on), a positive-weight NaN neighbor propagates strictly (the
    * [[mapAlgebra]] wsum discipline), and edge neighbors clamp
    * (half-pixel edge extension). Both methods share the SAME validity
    * footprint — centers whose NN cell falls outside the source are
    * NaN, so switching kernels never grows or shrinks a layer's
    * extent, and resampling never invents data past the edge.
    * Identity grids round-trip bytes exactly under BOTH methods (all
    * weights collapse to the center pixel).
    *
    * Scale shape — the [[mapAlgebra]] three-job pattern:
    *  1. one small task per input: header prefix -> grid signature +
    *     CRS for source and reference (reference pixels are never
    *     read — only its header prefix);
    *  2. one task per OUTPUT tile chunk: computes which source tiles
    *     cover the chunk's pixel centers, range-reads exactly those,
    *     and samples — with an LRU decoded-tile cache capped at
    *     [[ResampleTileCacheCap]] so task memory stays bounded no
    *     matter how the grids shear against each other;
    *  3. ONE writer task ([[assembleDerivedCog]]).
    *
    * Returns one stat row: (out, width, height, tiles, n_valid, n_nan). */
  def resampleToGrid(spark: SparkSession,
      srcPath: String, refPath: String, outPath: String,
      opts: TiffWriter.CogOptions = TiffWriter.CogOptions(),
      epsg: Int = Model.Expected.epsg,
      prefixBytes: Int = 16 * 1024,
      method: String = "nearest"): DataFrame = {
    import spark.implicits._
    require(method == "nearest" || method == "bilinear",
      s"unknown resample method '$method' — expected 'nearest' " +
        "(categorical/masked data) or 'bilinear' (continuous fields)")
    // job 1: grid signatures — source and reference, one task each
    val sigs = withReaderAt(spark,
      Seq(("src", srcPath), ("ref", refPath)), prefixBytes)(gridSignature)
      .collect()
    val src = sigs.find(_._1 == "src").get
    val ref = sigs.find(_._1 == "ref").get
    require(src._10 == ref._10,
      s"source CRS (EPSG:${src._10.getOrElse("<unlabelled>")}) does not " +
        s"match reference (EPSG:${ref._10.getOrElse("<unlabelled>")}) — " +
        "resampleToGrid regrids within ONE CRS; reproject first")
    // GeoKey 32767 = user-defined: sentinel equality proves nothing
    // about the actual projections (same refusal as mapAlgebra)
    require(!src._10.contains(32767),
      "rasters carry a USER-DEFINED CRS (ProjectedCSTypeGeoKey = " +
        "32767): equal sentinels do not mean equal projections — " +
        "write real EPSG codes into the rasters before regridding")
    require(ref._4 > 0 && ref._5 > 0,
      s"reference '$refPath' is not tiled — not a COG")
    require(src._4 > 0 && src._5 > 0,
      s"source '$srcPath' is not tiled — not a COG")
    require(src._6 > 0 && src._7 > 0 && ref._6 > 0 && ref._7 > 0,
      "both rasters need positive pixel resolutions")
    // the output inherits the rasters' shared code when they carry one;
    // a caller-passed epsg that contradicts it is refused, not obeyed —
    // the mapAlgebra contract, applied consistently
    val outEpsg = src._10.getOrElse(epsg)
    src._10.foreach { e =>
      require(epsg == Model.Expected.epsg || epsg == e,
        s"epsg parameter ($epsg) contradicts the rasters' own CRS " +
          s"(EPSG:$e) — drop the parameter (the rasters' code wins) " +
          "or reproject the inputs")
    }
    val (w, h, tw, th) = (ref._2, ref._3, ref._4, ref._5)
    val (resX, resY, gx, gy) = (ref._6, ref._7, ref._8, ref._9)
    val (sw, sh) = (src._2, src._3)
    val (sResX, sResY, sGx, sGy) = (src._6, src._7, src._8, src._9)
    val tilesAcross = (w + tw - 1) / tw
    val tilesDown = (h + th - 1) / th
    // .toList, not .toSeq: grouped() over a Range yields Range slices,
    // which the Dataset encoder rejects
    val chunks = (0 until tilesAcross * tilesDown)
      .grouped(ReadChunkTiles).map(_.toList).toList
    val confBc = WriFs.confBroadcast(spark)
    val sp = srcPath
    val pfx = prefixBytes
    val bilinear = method == "bilinear"
    // job 2: one task per OUTPUT tile chunk — sample from the covering
    // source tiles only
    val sampled = spark.createDataset(chunks)
      .repartition(math.min(chunks.size,
        spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.flatMap { ts =>
          withPrefix(sp, conf, pfx) { (reader, prefix) =>
            val sl = prefix.layouts.head
            val sAcross = (sl.width + sl.tileWidth - 1) / sl.tileWidth
            // LRU decoded-source-tile cache, bounded
            val cache = new java.util.LinkedHashMap[Int, Array[Float]](
              ResampleTileCacheCap, 0.75f, true) {
              override def removeEldestEntry(
                  e: java.util.Map.Entry[Int, Array[Float]]): Boolean =
                size() > ResampleTileCacheCap
            }
            def srcTile(t: Int): Array[Float] = {
              val got = cache.get(t)
              if (got != null) got
              else {
                val buf = new Array[Byte](sl.tileByteCounts(t).toInt)
                reader.readFully(sl.tileOffsets(t), buf)
                val px = TiffIO.decodeLevelTile(sl, buf)
                cache.put(t, px)
                px
              }
            }
            ts.map { t =>
              val c = t % tilesAcross; val r = t / tilesAcross
              val out = new Array[Float](tw * th)
              java.util.Arrays.fill(out, Float.NaN)
              val xHi = math.min(w, (c + 1) * tw)
              val yHi = math.min(h, (r + 1) * th)
              // per-axis NN index maps, computed once per tile: output
              // center -> source pixel (floor = pixel-is-area). BOTH
              // methods share this as the validity footprint — nearest
              // and bilinear differ in VALUE, never in mask, so a
              // method switch cannot grow or shrink a layer's extent.
              // The origin DIFFERENCE is hoisted and subtracted first:
              // (gx - sGx) between two nearby projected origins is an
              // exact double (Sterbenz), so a whole- or half-pixel grid
              // shift yields exact integer / half-integer source
              // coordinates — folding the origins into the per-pixel
              // sum instead would round through the ~1e6-meter origin
              // magnitude and could push an exact cell boundary (or an
              // exact bilinear weight) off by an ulp
              val dgx = gx - sGx
              val dgy = sGy - gy
              val sxOf = Array.tabulate(xHi - c * tw) { dx =>
                math.floor(
                  (dgx + (c * tw + dx + 0.5) * resX) / sResX).toInt
              }
              val syOf = Array.tabulate(yHi - r * th) { dy =>
                math.floor(
                  (dgy + (r * th + dy + 0.5) * resY) / sResY).toInt
              }
              if (!bilinear) {
                var dy = 0
                while (dy < syOf.length) {
                  val sy = syOf(dy)
                  if (sy >= 0 && sy < sh) {
                    val sty = sy / sl.tileHeight
                    var dx = 0
                    while (dx < sxOf.length) {
                      val sx = sxOf(dx)
                      if (sx >= 0 && sx < sw) {
                        val stx = sx / sl.tileWidth
                        val px = srcTile(sty * sAcross + stx)
                        out(dy * tw + dx) = px(
                          (sy - sty * sl.tileHeight) * sl.tileWidth +
                            (sx - stx * sl.tileWidth))
                      }
                      dx += 1
                    }
                  }
                  dy += 1
                }
              } else {
                // bilinear: output center -> FRACTIONAL source pixel-
                // center coords (fx = u - 0.5, so weight 0 means the
                // center lands exactly on a source column/row).
                // Zero-weight neighbors are never sampled — a NaN
                // there must not poison an exactly-aligned value (the
                // identity-grid regrid stays byte-exact); a NaN
                // neighbor with positive weight propagates strictly,
                // the mapAlgebra wsum discipline. Edge neighbors clamp
                // (half-pixel edge extension), inside the shared NN
                // validity mask above.
                val x0a = new Array[Int](sxOf.length)
                val wxa = new Array[Double](sxOf.length)
                var i = 0
                while (i < sxOf.length) {
                  val u = (dgx + (c * tw + i + 0.5) * resX) / sResX
                  val fx = u - 0.5
                  val x0 = math.floor(fx)
                  x0a(i) = x0.toInt; wxa(i) = fx - x0
                  i += 1
                }
                val y0a = new Array[Int](syOf.length)
                val wya = new Array[Double](syOf.length)
                i = 0
                while (i < syOf.length) {
                  val u = (dgy + (r * th + i + 0.5) * resY) / sResY
                  val fy = u - 0.5
                  val y0 = math.floor(fy)
                  y0a(i) = y0.toInt; wya(i) = fy - y0
                  i += 1
                }
                def at(sx: Int, sy: Int): Double = {
                  val cx = math.max(0, math.min(sw - 1, sx))
                  val cy = math.max(0, math.min(sh - 1, sy))
                  val stx = cx / sl.tileWidth
                  val sty = cy / sl.tileHeight
                  srcTile(sty * sAcross + stx)(
                    (cy - sty * sl.tileHeight) * sl.tileWidth +
                      (cx - stx * sl.tileWidth)).toDouble
                }
                var dy = 0
                while (dy < syOf.length) {
                  if (syOf(dy) >= 0 && syOf(dy) < sh) {
                    val y0 = y0a(dy); val wy = wya(dy)
                    var dx = 0
                    while (dx < sxOf.length) {
                      if (sxOf(dx) >= 0 && sxOf(dx) < sw) {
                        val x0 = x0a(dx); val wx = wxa(dx)
                        val r0 =
                          if (wx == 0.0) at(x0, y0)
                          else at(x0, y0) * (1.0 - wx) +
                            at(x0 + 1, y0) * wx
                        val v =
                          if (wy == 0.0) r0
                          else {
                            val r1 =
                              if (wx == 0.0) at(x0, y0 + 1)
                              else at(x0, y0 + 1) * (1.0 - wx) +
                                at(x0 + 1, y0 + 1) * wx
                            r0 * (1.0 - wy) + r1 * wy
                          }
                        out(dy * tw + dx) = v.toFloat
                      }
                      dx += 1
                    }
                  }
                  dy += 1
                }
              }
              (t, out)
            }
          }
        }
      }
    // job 3: one assembler/writer task
    assembleDerivedCog(sampled, w, h, tw, th, outPath,
      TiffIO.GeoInfo(outEpsg, resX, resY, gx, gy), opts, confBc)
  }

  /** Range request #1: the bounded header prefix of an open reader,
    * decoded once. */
  private[wri] def readPrefix(raf: RangeReader,
      prefixBytes: Int): TiffIO.HeaderPrefix = {
    val prefix =
      new Array[Byte](math.min(raf.length, prefixBytes.toLong).toInt)
    raf.readFully(0L, prefix)
    new TiffIO.HeaderPrefix(prefix)
  }

  /** Opens `path`, reads its header prefix and runs `f` on the open
    * reader and the decoded prefix; the reader closes when `f` returns. */
  private[wri] def withPrefix[T](path: String, conf: Configuration,
      prefixBytes: Int)(f: (RangeReader, TiffIO.HeaderPrefix) => T): T = {
    val raf = RangeReader.open(path, conf)
    try f(raf, readPrefix(raf, prefixBytes)) finally raf.close()
  }

  /** One task per (label, path) target; `f` sees the label (reported as
    * the output's `layer`), the open reader, and the header prefix. */
  private def withReaderAt[T](spark: SparkSession,
      targets: Seq[(String, String)], prefixBytes: Int)(
      f: (String, RangeReader, TiffIO.HeaderPrefix) => T)(
      implicit enc: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] = {
    import spark.implicits._
    val confBc = WriFs.confBroadcast(spark)
    spark.createDataset(targets).mapPartitions { it =>
      it.map { case (name, path) =>
        withPrefix(path, confBc.value.value, prefixBytes)(f(name, _, _))
      }
    }
  }

  /** (label, width, height, tileWidth, tileHeight, resX, resY, originX,
    * originY, EPSG) of a raster's full-resolution grid — the signature
    * [[mapAlgebra]] and [[resampleToGrid]] compare before combining. */
  private def gridSignature(name: String, raf: RangeReader,
      prefix: TiffIO.HeaderPrefix) = {
    val full = prefix.layouts.head
    val (resX, resY, gx, gy) = prefix.geoTransform
    (name, full.width, full.height, full.tileWidth, full.tileHeight,
      resX, resY, gx, gy, prefix.epsg)
  }

  /** Stats of the pixel window [x0, x0+winW) x [y0, y0+winH) for each
    * named COG under `cogDir`, values scaled by `scale` before integer
    * aggregation. `level` selects the pyramid level to read (0 = full
    * resolution, 1+ = overviews — the ZOOM-OUT path: a coarse query
    * reads the small overview tiles and never touches full-res data,
    * which is why COGs carry pyramids at all); the window coordinates
    * are in THAT level's pixel grid. `prefixBytes` is the size of the
    * single header range request (the COG contract: it must cover the
    * whole IFD chain — [[TiffIO.levelLayoutsFromPrefix]] throws loudly
    * if not).
    *
    * `cogDir` may be a local path, any Hadoop scheme (`file://`,
    * `hdfs://`, ...), or an `http(s)://` base URL — each layer opens
    * through [[RangeReader]], so the prefix+tile byte-range economy is
    * identical whether the raster sits on local disk, a cluster
    * filesystem, or behind the reference's hosted-COG HTTP serving
    * mode. The session's Hadoop configuration rides to executors in a
    * broadcast so scheme credentials/settings resolve there too. */
  def windowStats(spark: SparkSession, cogDir: String, layers: Seq[String],
      x0: Int, y0: Int, winW: Int, winH: Int,
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame = {
    import spark.implicits._
    require(x0 >= 0 && y0 >= 0 && winW > 0 && winH > 0,
      s"window must be non-empty and non-negative: ($x0,$y0) ${winW}x$winH")
    require(scale >= 1, s"scale must be >= 1: $scale")
    require(level >= 0, s"level must be >= 0: $level")
    require(layers.nonEmpty, "no layers to query")
    withReaderAt(spark, layers.map(n => (n, s"$cogDir/$n")), prefixBytes) {
      (name, raf, prefix) =>
        statsOverWindow(name, raf, prefix.length, prefix.layouts, level,
          x0, y0, x0 + winW, y0 + winH, scale)
    }.toDF()
  }

  /** Stats of the CRS bounding box [minx, maxx] x [miny, maxy] (the
    * raster's own projected coordinates — EPSG:5070 meters for the WRI
    * catalog) for each named COG under `cogDir`: the way the
    * reference's clients actually address rasters. The geotransform
    * parses from the SAME single header prefix as the tile layout, so
    * the geographic form costs no extra range request; the box maps to
    * the pixel grid under the pixel-is-area convention — every pixel
    * whose cell intersects the box is included:
    * `x0 = floor((minx - gx) / resX)`, `xEnd = ceil((maxx - gx) /
    * resX)` (and the y axis mirrored from the top edge), clamped to the
    * raster. A box wholly outside the raster reads zero tiles and
    * reports zero counts. `level` selects the pyramid level — the
    * geographic ZOOM-OUT path: the geotransform names the level-0
    * grid, so level L's cell size scales by `width0 / widthL` per axis
    * (exact powers of two for the writer's own pyramids) and the same
    * floor/ceil mapping runs on that coarser grid; a broad box at a
    * deep level reads a handful of overview tiles and never touches
    * full-res data. */
  def windowStatsGeo(spark: SparkSession, cogDir: String,
      layers: Seq[String],
      minx: Double, miny: Double, maxx: Double, maxy: Double,
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame = {
    require(layers.nonEmpty, "no layers to query")
    windowStatsGeoAt(spark, layers.map(n => (n, s"$cogDir/$n")),
      minx, miny, maxx, maxy, scale, prefixBytes, level)
  }

  /** [[windowStatsGeo]] over explicit (layer, path) targets — the form a
    * CATALOG consumer needs, where each item's asset href resolves to
    * its own location (a hosted HTTP URL, a local staging path) instead
    * of `cogDir/<name>`. Same economics: one prefix read + only the
    * intersecting tiles per target. */
  def windowStatsGeoAt(spark: SparkSession, targets: Seq[(String, String)],
      minx: Double, miny: Double, maxx: Double, maxy: Double,
      scale: Long = 10000L, prefixBytes: Int = 16 * 1024,
      level: Int = 0): DataFrame = {
    import spark.implicits._
    require(maxx > minx && maxy > miny,
      s"box must be non-empty: x [$minx, $maxx], y [$miny, $maxy]")
    require(scale >= 1, s"scale must be >= 1: $scale")
    require(level >= 0, s"level must be >= 0: $level")
    require(targets.nonEmpty, "no layers to query")
    withReaderAt(spark, targets, prefixBytes) {
      (name, raf, prefix) =>
        val (layouts, _, resX, resY, gx, gy) = geoGrid(name, prefix, level)
        val (x0, xEnd, y0, yEnd) =
          boxToPixels(resX, resY, gx, gy, minx, miny, maxx, maxy)
        statsOverWindow(name, raf, prefix.length, layouts, level,
          x0, y0, xEnd, yEnd, scale)
    }.toDF()
  }
}
