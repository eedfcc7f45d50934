package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Hands out temp directories to a suite's tests and deletes them,
  * recursively, once the whole suite has run (a test may hand a
  * directory to a later one, so nothing is deleted earlier). */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val handedOut =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh directory under the system temp dir, named `prefix…`. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    handedOut.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally handedOut.forEach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
      ()
    }
}
