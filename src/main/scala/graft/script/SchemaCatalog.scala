package graft.script

/** Schema metadata catalog backing script expansion (SURVEY.md §2 #37).
  *
  * Mirrors the reference's metadata model (reference:
  * tools/script_expansion_tool.py:38-110 and resources/prod-gcp/
  * schema_table.csv / schema_column.csv): tables resolve to ids, columns
  * carry a numeric type id, and physical-layer prefixes (udm_s_,
  * delta_stage_, ...) fall back to the logical table.
  *
  * Deliberately driver-side plain Scala: the catalog is small metadata
  * consulted while *generating* distributed plans; putting it in a
  * DataFrame would just add collect() round-trips.
  */
final case class ColumnMeta(name: String, typeId: Int, primaryKey: Boolean,
                            primaryTimestamp: Boolean = false) {
  /** Type-id mapping (reference: script_expansion_tool.py:55-65). */
  def typeName: String = ColumnMeta.TypeMap.getOrElse(typeId, "Unknown Type")
}

object ColumnMeta {
  val TypeMap: Map[Int, String] = Map(
    0 -> "INTEGER", 1 -> "LONG", 2 -> "STRING",
    3 -> "DOUBLE", 4 -> "BOOLEAN", 5 -> "DECIMAL")
}

/** Operating-mode configuration (reference: tools/snowflake_tool.py:14-20):
  * TESTING resolves both logical schemas to the SANDBOX schema and appends
  * an `_RK` suffix to physical table names (snowflake_tool.py:42, applied
  * to both the table and its DELTA_STAGE twin in the mismatch-proc call);
  * production resolves DW / DW_HIVE_INC with bare names. */
final case class DwValidationConfig(mode: String = "TESTING") {
  // Mode is validated, not defaulted: an unrecognized string silently
  // meaning "production" would fail unsafe in exactly the direction
  // TESTING mode exists to prevent (a typo'd config targeting DW).
  private val normalizedMode = mode.trim.toUpperCase
  require(Set("TESTING", "PRODUCTION").contains(normalizedMode),
    s"mode must be TESTING or PRODUCTION, got '$mode'")
  val testing: Boolean = normalizedMode == "TESTING"
  val dwSchema: String = if (testing) "SANDBOX" else "DW"
  val hiveSchema: String = if (testing) "SANDBOX" else "DW_HIVE_INC"
  val tableSuffix: String = if (testing) "_RK" else ""
  /** Physical (mode-suffixed) table name. */
  def physicalName(table: String): String = s"$table$tableSuffix"
  def dwTable(table: String): String = s"$dwSchema.${physicalName(table)}"
  /** The mismatch proc's staged-delta twin (snowflake_tool.py:47). */
  def deltaStageName(table: String): String = s"DELTA_STAGE_${physicalName(table)}"
}

final class SchemaCatalog(tables: Map[String, String],
                          columns: Map[String, Seq[ColumnMeta]]) {

  /** Physical-layer prefixes that resolve to the logical table
    * (reference: script_expansion_tool.py:98). */
  private val FallbackPrefixes = Seq("udm_sf_", "udm_s_", "delta_stage_", "delta_udm_", "udm_pv_", "udm_")

  def tableId(tableName: String): Option[String] = {
    val n = tableName.trim.toLowerCase
    // TESTING-mode physical names carry the _RK suffix
    // ([[DwValidationConfig.tableSuffix]]); strip it like the layer
    // prefixes so mode-suffixed names resolve to the logical table.
    val candidates = n +: (if (n.endsWith("_rk")) Seq(n.dropRight(3)) else Nil)
    candidates.view.flatMap { c =>
      tables.get(c).orElse {
        FallbackPrefixes.collectFirst {
          case p if c.startsWith(p) && tables.contains(c.stripPrefix(p)) =>
            tables(c.stripPrefix(p))
        }
      }
    }.headOption
  }

  def columnsFor(tableName: String): Seq[ColumnMeta] =
    tableId(tableName).flatMap(columns.get).getOrElse(
      throw new NoSuchElementException(
        s"Schema definition for table '$tableName' not found"))

  def primaryKeys(tableName: String): Seq[String] =
    columnsFor(tableName).filter(_.primaryKey).map(_.name)

  /** Per-table audit-column exclusions — the reference's actual operating
    * mode: its mismatch proc is COMPARE_MISMATCH_IGNORE_EXCLUDED_COL
    * (reference: tools/snowflake_tool.py:41-52; exclusion list configured
    * warehouse-side), and its merge scripts' md5 compares exclude the same
    * audit set (`~TenantId,SourceSystemID,Source,Batch,RowCreated,
    * RowModified,ID`). Here: the standard audit names present in the
    * table, plus any primary_timestamp-flagged column. */
  def excludedColumns(tableName: String): Seq[String] =
    columnsFor(tableName).filter(c =>
      SchemaCatalog.StandardAuditColumns.contains(c.name.toLowerCase) ||
        c.primaryTimestamp).map(_.name)
}

object SchemaCatalog {

  /** The reference's standard audit columns (lowercased), excluded from
    * every data compare. */
  val StandardAuditColumns: Set[String] =
    Set("tenantid", "sourcesystemid", "source", "batch", "rowcreated", "rowmodified")

  /** Naive-CSV rows as header-keyed maps: header cells trimmed, short rows
    * padded with "", empty input → no rows. Shared by every lines-based
    * loader here (quoted-field CSVs go through [[fromCsvFiles]] instead). */
  private def csvRows(lines: Seq[String]): Seq[Map[String, String]] =
    lines match {
      case head +: tail =>
        val header = head.split(",", -1).map(_.trim)
        tail.map { line =>
          val cells = line.split(",", -1)
          header.zipWithIndex.map { case (h, i) =>
            h -> (if (i < cells.length) cells(i).trim else "")
          }.toMap
        }
      case _ => Seq.empty
    }

  /** Build from CSV lines shaped like the reference's schema_table.csv
    * (table_id,...,name at index 4) and schema_column.csv
    * (column_id,display_name,name,primary_key,primary_timestamp,type,...,tableId). */
  def fromCsv(tableCsv: Seq[String], columnCsv: Seq[String]): SchemaCatalog = {
    val tables = csvRows(tableCsv).flatMap { r =>
      val name = r.getOrElse("name", "").toLowerCase
      if (name.nonEmpty) Some(name -> r.getOrElse("table_id", "")) else None
    }.toMap
    val cols = csvRows(columnCsv).flatMap { r =>
      val name = r.getOrElse("name", "")
      if (name.isEmpty) None
      else Some(r.getOrElse("tableId", "") -> ColumnMeta(name,
        r.getOrElse("type", "").toIntOption.getOrElse(-1),
        r.getOrElse("primary_key", "") == "1",
        r.getOrElse("primary_timestamp", "") == "1"))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    new SchemaCatalog(tables, cols)
  }

  /** Load from reference-shaped CSV files (schema_table.csv /
    * schema_column.csv) through the Spark CSV source — header-aware,
    * quote-tolerant (the reference's availability column embeds quoted
    * JSON), so real metadata exports load unchanged. */
  def fromCsvFiles(spark: org.apache.spark.sql.SparkSession,
                   tableCsvPath: String, columnCsvPath: String): SchemaCatalog = {
    import org.apache.spark.sql.functions.col
    val t = spark.read.option("header", "true").csv(tableCsvPath)
      .select(col("name"), col("table_id")).collect()
    val c = spark.read.option("header", "true").csv(columnCsvPath)
      .select(col("tableId"), col("name"), col("type"), col("primary_key"),
        col("primary_timestamp")).collect()
    val tables = t.flatMap { r =>
      Option(r.getString(0)).map(_.trim.toLowerCase).filter(_.nonEmpty)
        .map(_ -> Option(r.getString(1)).getOrElse("").trim)
    }.toMap
    val cols = c.flatMap { r =>
      val name = Option(r.getString(1)).getOrElse("").trim
      if (name.isEmpty) None
      else Some(Option(r.getString(0)).getOrElse("").trim -> ColumnMeta(name,
        Option(r.getString(2)).getOrElse("").trim.toIntOption.getOrElse(-1),
        Option(r.getString(3)).getOrElse("").trim == "1",
        Option(r.getString(4)).getOrElse("").trim == "1"))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    new SchemaCatalog(tables, cols)
  }

  /** Tenant registry row (reference: resources/prod-gcp/tenant.csv —
    * per-tenant mapper sizing used to plan pipeline resources). */
  final case class TenantMeta(tenantId: String, active: Boolean,
                              mapperCores: Int, mapperMemory: String,
                              tenantName: String, mapperPod: String)

  /** Parse reference-shaped tenant.csv lines
    * (tenant_id,active,mapper_cores,mapper_memory,tenant_name,mapper_pod). */
  def tenantsFromCsv(lines: Seq[String]): Map[String, TenantMeta] =
    csvRows(lines).flatMap { r =>
      val id = r.getOrElse("tenant_id", "")
      if (id.isEmpty) None
      else Some(id -> TenantMeta(id,
        r.getOrElse("active", "") == "1",
        r.getOrElse("mapper_cores", "").toIntOption.getOrElse(0),
        r.getOrElse("mapper_memory", ""),
        r.getOrElse("tenant_name", ""),
        r.getOrElse("mapper_pod", "")))
    }.toMap

  /** In-memory catalog for tests / embedded use. */
  def inMemory(entries: (String, Seq[ColumnMeta])*): SchemaCatalog = {
    val ids = entries.map(_._1).zipWithIndex.map { case (n, i) => n.toLowerCase -> i.toString }
    new SchemaCatalog(ids.toMap,
      ids.map(_._2).zip(entries.map(_._2)).toMap)
  }
}
