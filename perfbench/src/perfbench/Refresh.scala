package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.wri.{Model, Stac}

/** `refresh`: the paper's "rerun 02b after uploads" loop. Each operation
  * is one upload batch through `Stac.refreshBatch` against an 82-item
  * catalog of paper-shaped header-only layers. No pixel I/O: header
  * reads, small-document writes, sidecar upkeep and many small jobs.
  */
object Refresh {

  /** Low enough that `compactMetaStore` folds the store every second
    * batch (batch 0 of set-up counts), so every run compacts at least
    * twice. */
  val CompactThreshold = 2
  /** Enough batches for a steady median; the first batch on the copied
    * catalog is the slowest. */
  val MinBatches = 5

  /** What the catalog should say about one item: latest delivery wins. */
  case class Want(dataType: String, domain: String, dimension: Option[String])

  private val dims = Seq("resistance", "recovery", "status")

  /** Lists `files` as the (path, length) rows a file-arrival source
    * hands `refreshBatch`. */
  private def batchDf(ctx: Ctx, files: Seq[String]) = {
    import ctx.spark.implicits._
    files.map(f => (f, Files.size(Paths.get(f)))).toDF("path", "length")
  }

  private def tifsUnder(dir: String): Seq[String] = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator.asScala.map(_.toString).filter(_.endsWith(".tif")).toSeq.sorted
    finally w.close()
  }

  /** Writes the 82 paper-shaped layers plus the stage-00 fixtures and
    * publishes them as batch 0. */
  def publishInitial(ctx: Ctx, dir: String): Unit = {
    Gen.paperLayers.foreach(l => Gen.writeHeaderLayer(s"$dir/data/${l.rel}"))
    Gen.writeFixtures(s"$dir/data")
    Stac.refreshBatch(batchDf(ctx, tifsUnder(s"$dir/data")), 0L,
      s"$dir/meta", s"$dir/stac", _ => false, CompactThreshold)
  }

  /** The item documents on disk: id -> text. */
  private def items(itemsDir: String): Map[String, String] =
    Stac.listItemIds(itemsDir).map(id =>
      id -> Files.readString(Paths.get(s"$itemsDir/$id.json"))).toMap

  def run(ctx: Ctx): Unit = {
    val (golden, _) = ctx.setup(3)(dir => publishInitial(ctx, dir))((_, _) => ())
    val run = s"${ctx.work}/run"
    Main.copyTree(Paths.get(golden), Paths.get(run))
    val stac = s"$run/stac"
    val meta = s"$run/meta"
    val itemsDir = s"$stac/collections/${Model.collectionId}/items"
    val want = mutable.LinkedHashMap.empty[String, Want]
    Gen.paperLayers.foreach(l => want(l.id) = Want(l.dataType, l.domain, l.dimension))
    val rnd = new java.util.Random(Gen.mix(ctx.seed ^ 0x4ef4e5L))
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val mapper = new ObjectMapper()
    var before = items(itemsDir)
    val batchItems = mutable.ArrayBuffer.empty[Int]

    ctx.closedLoop(minOps = MinBatches) { i =>
      val b = i + 1
      val up = s"$run/data/uploads/b$b"
      // a batch: 3 new layers, 2 re-deliveries under another domain
      // (rewritten), 1 identical re-delivery (unchanged), and files that
      // must not land: wrong CRS, corrupt, excluded
      val files = ctx.untimed("upload") {
        val indicators = want.toSeq.filter(_._2.dataType == "indicator")
        val news = (0 until 3).map { j =>
          val d = pick(Gen.domains); val dim = pick(dims)
          val name = s"${d}_${dim}_u${b}x$j"
          want(name) = Want("indicator", d, Some(dim))
          s"$up/$d/indicators/$name.tif"
        }
        val moved = scala.util.Random.javaRandomToRandom(rnd)
          .shuffle(indicators).take(3)
        val redelivered = moved.zipWithIndex.map { case ((id, w), k) =>
          val d = if (k < 2) pick(Gen.domains.filter(_ != w.domain)) else w.domain
          want(id) = w.copy(domain = d)
          s"$up/$d/indicators/$id.tif"
        }
        (news ++ redelivered).foreach(p => Gen.writeHeaderLayer(p))
        val d = pick(Gen.domains)
        Gen.writeHeaderLayer(s"$up/$d/indicators/${d}_status_bad$b.tif",
          Gen.geo.copy(epsg = 4326))
        Files.write(Files.createDirectories(Paths.get(s"$up/$d/indicators"))
          .resolve(s"${d}_recovery_corrupt$b.tif"), Array.fill[Byte](64)(0x7f))
        Gen.writeHeaderLayer(s"$up/archive/${d}_status_old$b.tif")
        tifsUnder(up)
      }
      val df = batchDf(ctx, files)
      ctx.timed("refresh.op") {
        ctx.tracer.span("Stac.refreshBatch") {
          Stac.refreshBatch(df, b.toLong, meta, stac, _ => false, CompactThreshold)
        }
      }
      ctx.untimed("check") {
        val after = items(itemsDir)
        val changed = after.count { case (id, doc) => !before.get(id).contains(doc) }
        batchItems += changed
        before = after
        // 3 new items and 2 moved ones are written; the rest stay as-is
        ctx.attempt(s"refresh batch $b") {
          if (changed == 5) Nil else Seq(s"$changed item documents changed, expected 5")
        }
      }
    }
    ctx.items = batchItems.sum.toDouble

    ctx.attempt("refresh final catalog") {
      val docs = before.map { case (id, d) => id -> mapper.readTree(d) }
      val got = docs.map { case (id, d) =>
        val p = d.get("properties")
        id -> Want(p.get("data_type").asText, p.get("wri_domain").asText,
          Option(p.get("wri_dimension")).filterNot(_.isNull).map(_.asText))
      }
      val itemProblems =
        if (got.keySet != want.keySet)
          Seq(s"items ${got.size}, expected ${want.size}: missing " +
            s"${(want.keySet -- got.keySet).take(3)}, extra ${(got.keySet -- want.keySet).take(3)}")
        else want.toSeq.collect { case (id, w) if got(id) != w =>
          s"$id: expected $w, got ${got(id)}" }
      val coll = mapper.readTree(Files.readString(Paths.get(
        s"$stac/collections/${Model.collectionId}/collection.json")))
      val sums = coll.get("summaries")
      def arr(k: String) = sums.get(k).elements.asScala.map(_.asText).toSeq
      val wantDomains = want.values.map(_.domain).toSeq.distinct.sorted
      val wantDims = want.values.flatMap(_.dimension).toSeq.distinct.sorted
      itemProblems ++
        (if (arr("wri_domain") == wantDomains) None
         else Some(s"collection domains ${arr("wri_domain")} != $wantDomains")) ++
        (if (arr("wri_dimension") == wantDims) None
         else Some(s"collection dimensions ${arr("wri_dimension")} != $wantDims"))
    }
    // compaction numbers its generations; the setup store had none
    val compactions = Option(Paths.get(s"$meta/compacted").toFile.list())
      .toSeq.flatten.flatMap(n => n.stripPrefix("gen-").toLongOption).maxOption
      .getOrElse(0L)
    ctx.attempt("refresh compactions") {
      if (compactions >= 2) Nil else Seq(s"$compactions compactions, expected >= 2")
    }
    ctx.diag("batches") = batchItems.size
    ctx.diag("compactions") = compactions
    ctx.diag("items_final") = before.size

    if (ctx.tracer.enabled) {
      val n = batchItems.size.toDouble
      val l = ctx.layer
      l("Stac.refreshBatch.s") = ctx.spanMs("Stac.refreshBatch") / 1e3 / n
      l("WriFs.read_ops_per_batch") = ctx.spanFs("Stac.refreshBatch", "readOps") / n
      l("WriFs.write_ops_per_batch") = ctx.spanFs("Stac.refreshBatch", "writeOps") / n
      l("WriFs.write_bytes_per_batch") = ctx.spanFs("Stac.refreshBatch", "bytesWritten") / n
    }
  }
}
