package graft.wri

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The COG encoder's loops must be compilable on-stack (OSR) by HotSpot:
  * a stage-01 run encodes each overview level once per file, so a loop
  * the JIT refuses to enter mid-method runs interpreted for the whole
  * first run of every fresh pipeline JVM. A child JVM encodes with
  * `-XX:+PrintCompilation`; any `graft.` method the JIT skips for a
  * non-empty OSR stack fails the spec. */
class EncoderJitSpec extends AnyFunSuite {

  test("no graft. method is skipped for a non-empty stack at OSR entry") {
    val dir = Files.createTempDirectory("encoderjit")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val proc = new ProcessBuilder(java.toString, "-XX:+PrintCompilation",
        "-cp", System.getProperty("java.class.path"),
        EncoderJitMain.getClass.getName.stripSuffix("$"), dir.toString)
      .redirectErrorStream(true).start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toVector
    val exit = proc.waitFor()
    Files.list(dir).iterator.asScala.foreach(Files.delete)
    Files.delete(dir)
    assert(exit == 0, lines.takeRight(20).mkString("\n"))
    assert(lines.contains(EncoderJitMain.Done),
      lines.takeRight(20).mkString("\n"))
    assert(lines.exists(_.contains("graft.wri.TiffWriter")),
      "PrintCompilation shows no encoder method at all")
    val skipped = lines.filter(l => l.contains("graft.") &&
      (l.contains("OSR starts with non-empty stack") ||
        l.contains("stack not empty at OSR entry point")))
    assert(skipped.isEmpty, skipped.mkString("\n"))
  }
}

/** Child of [[EncoderJitSpec]]: encodes a 1024 x 1024 COG with overviews
  * three times in each resampling mode into the directory `args(0)`. */
object EncoderJitMain {
  val Done = "encoder-jit: done"

  def main(args: Array[String]): Unit = {
    val n = 1024
    val px = Array.tabulate(n * n)(i =>
      if (i % 13 == 0) Float.NaN else (i % 251).toFloat)
    val geo = TiffIO.GeoInfo(5070, 90.0, 90.0, 0.0, 0.0)
    for (r <- Seq(TiffIO.Average, TiffIO.Nearest); i <- 0 until 3)
      TiffWriter.writeCog(s"${args(0)}/jit_${r}_$i.tif", n, n, px, geo,
        TiffWriter.CogOptions(blockSize = 128, resampling = r))
    println(Done)
  }
}
