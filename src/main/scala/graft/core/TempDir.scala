package graft.core

import java.nio.file.{Files, Path}
import java.util.Comparator

/** A scratch directory under the system temp dir that lives exactly as
  * long as `f`: created before, deleted with everything in it after,
  * whether `f` returns or throws. Anything `f` hands back must no longer
  * read from the directory (collect first).
  */
object TempDir {
  def apply[A](prefix: String)(f: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir)
    finally {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
  }
}
