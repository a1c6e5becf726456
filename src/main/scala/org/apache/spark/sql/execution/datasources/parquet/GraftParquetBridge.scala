package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** The data schema Spark's parquet inference would give a path, read on
  * the driver. `spark.read.parquet(p)` without a schema infers it with
  * one Spark job (`ParquetFileFormat.mergeSchemasInParallel`) that reads
  * a single footer when schemas are not merged. This reads that same
  * footer here: the file `ParquetUtils.inferSchema` picks from Spark's
  * own leaf listing sorted by path (`_common_metadata`, else `_metadata`,
  * else the first data file), converted by `ParquetFileFormat.readSchema`
  * under the session's conversion settings. Package-private members are
  * why this lives in Spark's package, like `GraftBridge`.
  */
object GraftParquetBridge {

  /** None where Spark's own inference must run instead: a missing path
    * (or a glob) or a path with no file, where Spark raises its own
    * error, or a data column that shares its name with a partition
    * column, which Spark types from the directory names. */
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] = {
    val hp = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = hp.getFileSystem(conf)
    if (!fs.exists(hp)) None
    else {
      val index = new InMemoryFileIndex(spark, Seq(fs.makeQualified(hp)),
        Map.empty, None)
      val leaves = index.allFiles().sortBy(_.getPath.toString)
      def named(n: String) = leaves.find(_.getPath.getName == n)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val resolver = spark.sessionState.conf.resolver
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
        .flatMap { f =>
          val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS))
          ParquetFileFormat.readSchema(Seq(footer), spark)
        }
        .filterNot(s => index.partitionSchema.exists(p =>
          s.exists(f => resolver(f.name, p.name))))
    }
  }
}
