package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories that live as long as the suite: each one made by
  * [[tempDir]] is deleted, with everything under it, after the suite's
  * last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = ArrayBuffer.empty[Path]

  def tempDir(prefix: String): Path = synchronized {
    val dir = Files.createTempDirectory(prefix)
    made += dir
    dir
  }

  override def afterAll(): Unit =
    try synchronized {
      made.foreach { dir =>
        if (Files.exists(dir)) {
          val walk = Files.walk(dir)
          try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
          finally walk.close()
        }
      }
      made.clear()
    } finally super.afterAll()
}
