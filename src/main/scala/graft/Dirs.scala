package graft

import java.nio.file.{Files, Path}

/** Local directory housekeeping for work and snapshot dirs. */
object Dirs {
  private lazy val temps = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => q.forEach(deleteTree(_))))
    q
  }

  /** Delete `root` and everything below it, children first. */
  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** A new directory in the JVM's temp directory, deleted with
    * everything below it when the JVM exits (`File.deleteOnExit` skips
    * a non-empty directory). */
  def temp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    temps.add(d)
    d.toString
  }
}
