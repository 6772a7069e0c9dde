package graft.engine

import java.nio.file.Path
import org.apache.commons.io.FileUtils

/** Temp dirs deleted when the JVM exits — not before: a session-wide
  * cache (`SharedStore`) or a later spec in the same JVM may still
  * read them. One registry, one shutdown hook.
  */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(dirs.forEach(FileUtils.deleteQuietly(_)))

  /** Register `dir` for deletion at JVM exit; returns it. */
  def deleteOnExit(dir: Path): Path = { dirs.add(dir.toFile); dir }
}
