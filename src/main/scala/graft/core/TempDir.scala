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
    finally delete(dir)
  }

  /** A scratch directory that lives as long as the JVM: for fixtures a
    * session writes once and reuses. One shutdown hook deletes every
    * such directory when the JVM exits. */
  def forJvm(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    jvmDirs.synchronized { jvmDirs += dir }
    dir
  }

  private lazy val jvmDirs = {
    val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
    sys.addShutdownHook(dirs.synchronized(dirs.filter(Files.exists(_)).foreach(delete)))
    dirs
  }

  private def delete(dir: Path): Unit = {
    val paths = Files.walk(dir)
    try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}
