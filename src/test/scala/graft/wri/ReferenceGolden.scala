package graft.wri

import java.nio.file.{Files, Path, Paths}
import org.scalatest.Assertions.fail

/** Goldens committed in the reference pipeline's checkout, which this
  * repository does not vendor yet. A test that reads one fails with a
  * message naming the missing file until the file is copied into
  * `src/test/resources`. */
object ReferenceGolden {
  def apply(path: String): String = {
    if (!Files.isRegularFile(Paths.get(path)))
      fail(s"reference golden $path is missing: it lives in the " +
        "reference checkout and must be vendored into src/test/resources")
    path
  }

  def read(path: Path): String = Files.readString(Paths.get(apply(path.toString)))
}
