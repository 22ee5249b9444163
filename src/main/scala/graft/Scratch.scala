package graft

/** Scratch space that must not outlive the JVM. */
object Scratch {

  /** A fresh directory under java.io.tmpdir whose tree is deleted when the
    * JVM exits. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toString
  }
}
