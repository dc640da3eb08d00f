package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Temp directories for registry entries and operators that write a
  * table, an index or a line drop: each is deleted with everything
  * under it when the JVM exits (`deleteOnExit` would only remove it
  * empty). */
object TempDirs {

  /** Directories [[tempDir]] made, deleted at JVM exit. */
  private val exitDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => exitDirs.forEach(d => deleteTree(d))))

  /** A fresh temp directory named `prefix…`, deleted at JVM exit: the
    * one way `src/main` makes a temp directory. */
  private[graft] def tempDir(prefix: String): Path = {
    exitHook
    val dir = Files.createTempDirectory(prefix)
    exitDirs.add(dir)
    dir
  }

  /** Delete `root` and everything under it, deepest paths first; a
    * missing `root` is a no-op. */
  private[graft] def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala.toVector)
      paths.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
    }
}
