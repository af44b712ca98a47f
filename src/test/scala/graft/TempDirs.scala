package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories for a suite's stores, deleted when the suite ends, so
  * a test run holds at most one suite's stores on disk at a time. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(dir => FileUtils.deleteQuietly(dir.toFile))
}
