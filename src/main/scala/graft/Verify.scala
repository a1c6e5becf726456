package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    SparkEntry.selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Dedup/similarity queries persist intermediates; don't let cache
      // pinning accumulate across the 43-query sweep.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + JsonUtil.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Dataset provenance: which parquet GENERATION this dump ran against
    // (per-table byte size + newest mtime). compare.py folds it into the
    // artifact's _meta so a no-oracle row-count shift across sweeps is
    // attributable (dataset regeneration vs replan — the r8 q_knn_graph
    // 51 762 → 60 000 lesson).
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val prov = tables.flatMap { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      if (!f.exists) None
      else {
        val parts =
          if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty)
          else Array(f)
        val sz = parts.map(_.length).sum
        val mt = (f.lastModified +: parts.map(_.lastModified)).max
        Some(s"${q(t)}: {\"bytes\": $sz, \"mtime_ms\": $mt}")
      }
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/provenance.json"),
      s"""{"sf_dir": ${q(sfDir)}, "tables": $prov}""")
    // Recall cross-checks for the rows-only approximate operators — a
    // driver-visible artifact (outDir + repo root); never allowed to fail
    // the correctness dump itself. SPARK_GRAFT_SKIP_EXTRAS=1 elides them:
    // the extras' exact twins (brute-force ANN, all-pairs cosine) are
    // verify-scale by contract — at sf10 a subset correctness run would
    // otherwise stall on truths the operators exist to avoid computing.
    if (!sys.env.get("SPARK_GRAFT_SKIP_EXTRAS").contains("1"))
      try VerifyExtras.writeJson(spark, sfDir,
        Seq(s"$outDir/verify_extras.json", "VERIFY_EXTRAS.json"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] extras failed: ${e.getMessage}") }
    spark.stop()
  }
}
