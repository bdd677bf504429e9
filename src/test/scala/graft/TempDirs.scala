package graft

import java.nio.file.{Files, Path}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Workdirs for a spec: `tmpdir(prefix)` makes one in the system temp
  * directory, and all of them are deleted, recursively, after the spec's
  * last test (`File.deleteOnExit` skips a non-empty directory). */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  protected def tmpdir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try super.afterAll() finally made.forEach(d => Dirs.deleteTree(d))
}
