package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet table loaders for the star schema described in TESTDATA.md.
  *
  * The reference fetches tables as CSV strings through a Snowflake cursor
  * (reference: tools/snowflake_tool.py:146-165); here every table is a
  * columnar parquet scan so Catalyst can push filters/projections into the
  * file source — at 100 TB the scan reads only the referenced columns.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads as a
    // raw long (spark.sql.legacy.parquet.nanosAsLong, set by GraftSession);
    // truncate nanos→micros like DuckDB/Arrow do when downcasting.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema Spark would infer is read from the same footer on the driver
    * ([[org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge]])
    * and passed to `spark.read.schema`, so the load itself starts no
    * Spark job. Nothing is memoized: every call lists the path afresh,
    * so a replaced file is read as it is now. Where the bridge declines
    * (a glob, a missing or empty path) Spark infers, and raises its own
    * errors. Reads that merge schemas need every footer and keep
    * Spark's job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
      .inferredSchema(spark, path)
      .fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  /** CSV table load with an EXPLICIT schema — the reference's warehouse
    * dumps arrive as headered CSV (tools/snowflake_tool.py:146-165 renders
    * cursor results to CSV text). Schema inference is banned at scale: it
    * costs an extra full pass over 100 TB and silently narrows types on
    * skewed samples, so callers must pass the schema (usually from
    * [[graft.script.SchemaCatalog]] metadata). FAILFAST so a malformed
    * row surfaces as an error, not a silent null row. */
  def loadCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("mode", "FAILFAST")
      .csv(path)

  /** JSON-lines load with an EXPLICIT schema (same no-inference rule as
    * [[loadCsv]]; a schema also lets Spark prune unreferenced fields
    * during parsing). */
  def loadJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("mode", "FAILFAST")
      .json(path)

  /** Lenient JSONL load with corrupt-record QUARANTINE — the production
    * complement to [[loadJsonl]]'s FAILFAST: a 100 TB ingest always
    * contains malformed rows, and the two wrong answers are failing the
    * whole job on row 10^12 (FAILFAST) or silently nulling bad rows
    * (default PERMISSIVE). This returns the well-formed rows AND routes
    * the raw text of every malformed line to `quarantinePath` for
    * offline triage, so the ingest is total AND nothing is lost.
    *
    * JSONL is line-delimited, so the ingest reads the file as TEXT and
    * parses each line with `from_json` carrying a corrupt-record field —
    * semantically the per-line parse `spark.read.json` does
    * (multiLine=false, same JacksonParser), but free of the JSON file
    * reader's corrupt-column-only-projection restriction, which an
    * earlier persist-based formulation only dodged circumstantially
    * (it failed in fresh sessions). No persist, no cache to leak across
    * an ingest loop; blank lines are skipped like the native reader.
    * The quarantine write happens eagerly so callers can't drop it by
    * never actioning a second frame, and it APPENDS — the documented
    * usage is an ingest loop over many files sharing one quarantine
    * directory, where overwrite would silently destroy every earlier
    * file's triage set ("nothing is lost" is the whole contract; a
    * replayed ingest can duplicate quarantine rows — at-least-once). */
  def loadJsonlQuarantine(spark: SparkSession, path: String,
                          schema: org.apache.spark.sql.types.StructType,
                          quarantinePath: String): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not already contain _corrupt_record")
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "_corrupt_record")
    def parsedLines = spark.read.text(path)
      .filter(trim(col("value")) =!= "")
      .withColumn("__j", from_json(col("value"), withCorrupt, opts))
    parsedLines
      .filter(col("__j._corrupt_record").isNotNull)
      .select(col("value").as("raw"))
      .write.mode("append").text(quarantinePath)
    parsedLines
      .filter(col("__j._corrupt_record").isNull)
      .select(schema.fieldNames.map(f => col(s"__j.$f").as(f)).toSeq: _*)
  }

  /** ORC table load — the format the reference's HIVE side actually
    * stores (its HQL scripts run over ORC warehouse tables; the parquet
    * loaders model the Snowflake/lake side). Spark's native ORC reader
    * pushes filters and prunes columns exactly like parquet
    * (spark.sql.orc.filterPushdown defaults on), so the diff engine runs
    * unchanged over a genuine Hive layout. */
  def loadOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Bounded table preview — the reference's `fetch_table` (tools/
    * snowflake_tool.py:152-158: `SELECT * FROM t LIMIT 10` → CSV), the
    * triage tool an operator runs constantly. `limit(n)` plans as a
    * LocalLimit directly over the scan: Spark stops consuming input once
    * n rows are produced, so previewing a 100 TB table reads a handful of
    * row groups, never the table. */
  def preview(spark: SparkSession, dir: String, name: String, n: Int = 10): DataFrame =
    load(spark, dir, name).limit(n)

  /** Preview rendered as a headered CSV string — the reference tool's
    * exact output shape. Driver-side by construction (n rows). Nested
    * columns (array/struct/map) render as JSON and binary as base64 —
    * Row.toString would yield 'WrappedArray(...)'/'[B@...' cells. */
  def previewCsv(spark: SparkSession, dir: String, name: String, n: Int = 10): String = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}
    val raw = preview(spark, dir, name, n)
    val df = raw.select(raw.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType | _: StructType | _: MapType => to_json(col(f.name)).as(f.name)
        case BinaryType => base64(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
    def cell(v: Any): String = v match {
      case null => ""
      case other =>
        val s = other.toString
        if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
    }
    // Header cells go through the same escaping as data cells — a
    // renamed column containing ',' or '"' would otherwise desync the
    // header's column count from the rows.
    (df.columns.map(cell(_)).mkString(",") +:
      df.collect().map(_.toSeq.map(cell).mkString(","))).mkString("\n")
  }
}
