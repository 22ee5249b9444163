package graft

/** Scratch space that must not outlive the JVM. */
object Scratch {

  /** This JVM's directory for operator-written trees (the bucketed and
    * partitioned layout tables, xml_dir_ingest's file tree): shared by the
    * queries of one JVM, never by two JVMs. */
  lazy val root: String = tempDir("graft_scratch_")

  /** A fresh directory under java.io.tmpdir whose tree is deleted when the
    * JVM exits. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toString
  }
}
