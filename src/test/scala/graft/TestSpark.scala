package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide, lazy). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  /** One root for every spec's scratch directories, deleted with all it
    * holds when the test JVM exits (the suite runs forked, so the hook
    * runs at the end of every `sbt test`). */
  private lazy val tempRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-specs")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      SessionMemo.delete(root.toString)))
    root
  }

  /** A fresh, existing directory under the per-JVM root. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tempRoot, prefix)
}
