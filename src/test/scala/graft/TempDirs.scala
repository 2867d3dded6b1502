package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for one suite. Every directory a spec asks for
  * lives under a single root per suite, made on first use under
  * `java.io.tmpdir` and deleted with all its contents when the suite
  * ends, so a test run leaves nothing behind (`deleteOnExit` cannot
  * remove a non-empty directory).
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private var suiteRoot: Option[Path] = None

  /** A new, empty directory whose name starts with `prefix`. */
  protected def tempDir(prefix: String): Path = synchronized {
    val root = suiteRoot.getOrElse {
      val r = Files.createTempDirectory(s"graft-spec-${getClass.getSimpleName}-")
      suiteRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix)
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      // quietly: a file a stopped stream still held must not abort the suite
      suiteRoot.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
      suiteRoot = None
    }
}
