package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** Dev dispatches only its eight tools: any other name, or none, prints
  * the usage line and exits non-zero before a Spark session starts. */
class DevSpec extends AnyFunSuite {

  private def runDev(args: String*): (Int, Vector[String]) = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val proc = new ProcessBuilder((Seq(java.toString,
        "-cp", System.getProperty("java.class.path"), "graft.Dev") ++ args)
        : _*).redirectErrorStream(true).start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toVector
    (proc.waitFor(), lines)
  }

  test("an unknown or missing tool name prints the usage line and exits " +
      "non-zero") {
    val usage = "usage: runMain graft.Dev " +
      "<plans|scalemd|qiso|qjobs|iplan|planfile|benchdiff|qrun> " +
      "[sfDir] [args...]"
    for (args <- Seq(Seq("minhash"), Seq("bogus", "/nonexistent"), Nil)) {
      val (exit, lines) = runDev(args: _*)
      assert(exit != 0, s"$args: ${lines.mkString("\n")}")
      assert(lines.contains(usage), s"$args: ${lines.mkString("\n")}")
    }
  }
}
