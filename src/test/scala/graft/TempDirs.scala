package graft

/** Temp dirs of one spec, deleted by `deleteAll` in its `afterAll`. */
final class TempDirs {
  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A new temp dir's path. */
  def apply(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs += d
    d.toString
  }

  def deleteAll(): Unit = dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
}
