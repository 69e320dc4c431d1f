package graft

import org.scalatest.{Outcome, TestSuite}

/** Temp directories that live for one test: [[tempDir]] makes one under
  * the JVM temp dir, and every directory a test made is deleted when the
  * test ends, whether it passed or failed.
  */
trait TempDirs extends TestSuite {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    made.add(dir)
    dir
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally
      while (!made.isEmpty)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(made.poll()))
}
