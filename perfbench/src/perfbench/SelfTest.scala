package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration

import graft.wri.{CogQuery, TiffWriter, WriFs}

/** The benchmark's own tests: seeded inputs are reproducible, and the
  * oracle agrees with the program on a tiny raster and catches a wrong
  * answer. Prints one PASS/FAIL line per test; exits 1 on any failure. */
object SelfTest {

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val w = Files.walk(dir)
    try w.iterator.asScala.filter(Files.isRegularFile(_)).map(p =>
      dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val work = Files.createDirectories(Paths.get(args(0), "selftest"))
    var ok = true
    def test(name: String)(body: => Boolean): Unit = {
      val passed = try body catch { case e: Exception =>
        System.err.println(e); false }
      ok &= passed
      println(s"${if (passed) "PASS" else "FAIL"} $name")
    }
    try {
      val layers = Gen.paperLayers.take(3)
      def tree(tag: String, seed: Long): Map[String, Seq[Byte]] = {
        val d = work.resolve(tag)
        Gen.writeRasterTree(d.toString, seed, layers, 96, 80)
        files(d)
      }
      val a = tree("a", 7); val b = tree("b", 7); val c = tree("c", 8)
      test("the same seed writes byte-identical inputs")(a == b && a.size == 3 + 5)
      test("another seed writes different pixels")(
        layers.forall(l => a(l.rel) != c(l.rel)))
      test("about a third of the cells are NaN") {
        val px = Gen.pixels(7, 0, Publish.W, Publish.H)
        val f = px.count(_.isNaN).toDouble / px.length
        f > 0.25 && f < 0.42
      }

      // run with trace-conf/ on the classpath: the counting file scheme
      test("one atomic document write counts as 2 write ops (create, rename)") {
        val p = work.resolve("doc.json").toString
        val fs = WriFs.fs(p, new Configuration())
        val w0 = CountingRawLocalFs.writeOps.get
        WriFs.atomicWriteString(fs, new org.apache.hadoop.fs.Path(p), "{}")
        CountingRawLocalFs.writeOps.get - w0 == 2 &&
          Files.readString(Paths.get(p)) == "{}"
      }

      // a tiny COG with three levels and several tiles per level
      val (w, h, bs) = (300, 260, 128)
      val px = Gen.pixels(11, 5, w, h)
      val cogDir = work.resolve("cog").toString
      Files.createDirectories(Paths.get(cogDir))
      TiffWriter.writeCog(s"$cogDir/t.tif", w, h, px, Gen.geo,
        TiffWriter.CogOptions(blockSize = bs))
      val pyr = Oracle.pyramid(w, h, px, bs)
      val spark = Main.session(work.toString)
      try {
        val windows = Seq((0, 0, 0, w, h), (0, 17, 33, 140, 120),
          (0, 250, 200, 80, 90), (1, 5, 7, 100, 60), (2, 0, 0, 75, 65))
        val answers = windows.map { case (lv, x0, y0, ww, wh) =>
          val r = CogQuery.windowStats(spark, cogDir, Seq("t.tif"), x0, y0,
            ww, wh, level = lv).collect().head
          val got = Oracle.Stat(r.getAs[Long]("n_valid"), r.getAs[Long]("n_nan"),
            r.getAs[Long]("vs_sum"),
            Option(r.getAs[java.lang.Long]("vs_min")).map(_.longValue),
            Option(r.getAs[java.lang.Long]("vs_max")).map(_.longValue))
          val g = pyr(lv)
          (got, Oracle.stats(g, x0, y0, x0 + ww, y0 + wh),
            r.getAs[Long]("tiles_read"),
            Oracle.tilesTouched(g, bs, x0, y0, x0 + ww, y0 + wh))
        }
        test("the writer's pyramid has the oracle's level count")(pyr.size == 3)
        test("the oracle agrees with CogQuery.windowStats at every level")(
          answers.forall { case (got, want, t, wt) =>
            Oracle.diff("w", want, got).isEmpty && t == wt })
        test("the oracle rejects a wrong sum")(answers.forall { case (got, want, _, _) =>
          Oracle.diff("w", want, got.copy(sum = got.sum + 1)).nonEmpty })
        test("the oracle rejects a wrong NaN count")(answers.forall { case (got, want, _, _) =>
          Oracle.diff("w", want, got.copy(nNan = got.nNan + 1)).nonEmpty })
        test("the oracle rejects an answer from other pixels") {
          val other = px.clone()
          val i = px.indexWhere(!_.isNaN)
          other(i) = other(i) + 0.5f
          val g = Oracle.Grid(w, h, other)
          Oracle.diff("w", Oracle.stats(g, 0, 0, w, h), answers.head._1).nonEmpty
        }
      } finally spark.stop()
    } finally Main.deleteTree(work)
    System.exit(if (ok) 0 else 1)
  }
}
