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

  /** A fresh writable copy of every table in the sf0.001 fixture dir. */
  def fixtureCopy(): String = {
    val dir = tempDir("fixture-copy")
    new java.io.File(Sf0001).listFiles.foreach { f =>
      val to = dir.resolve(f.getName)
      java.nio.file.Files.copy(f.toPath, to)
      to.toFile.setWritable(true)
    }
    dir.toString
  }

  /** Replace `dir`/`name`.parquet with `f` of its current rows, written
    * as one part file under a staging dir first. `inPlace` truncates
    * and rewrites the same file; otherwise the new file is moved over
    * the old path. */
  def rewriteTable(dir: String, name: String, inPlace: Boolean)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val staging = tempDir("rewrite").resolve(name).toString
    f(graft.sources.Tables.parquet(spark, s"$dir/$name.parquet"))
      .coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get.toPath
    val target = java.nio.file.Paths.get(dir, s"$name.parquet")
    if (inPlace) java.nio.file.Files.write(target, java.nio.file.Files.readAllBytes(part))
    else java.nio.file.Files.move(part, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
