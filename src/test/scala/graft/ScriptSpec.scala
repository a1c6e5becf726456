package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.script._

class ScriptSpec extends AnyFunSuite {

  private val catalog = SchemaCatalog.inMemory(
    "customer" -> Seq(
      ColumnMeta("ID", 2, primaryKey = true),
      ColumnMeta("Email", 2, primaryKey = false),
      ColumnMeta("c_emailHash", 2, primaryKey = false),
      ColumnMeta("Age", 1, primaryKey = false)))

  private val expander = new ScriptExpander(catalog)

  test("expands default template to the upper-cased column list") {
    assert(expander.expand("SELECT ${columns:customer::%1$s} FROM t") ==
      "SELECT ID, EMAIL, C_EMAILHASH, AGE FROM t")
  }

  test("applies exclusions and alias templates") {
    assert(expander.expand("SELECT ${columns:customer:~c_emailHash,Age:c.%1$s AS %1$s} FROM t") ==
      "SELECT c.ID AS ID, c.EMAIL AS EMAIL FROM t")
  }

  test("prefix fallback resolves physical-layer names; unknown patterns pass through") {
    assert(expander.expand("${columns:udm_s_customer::%1$s}") == "ID, EMAIL, C_EMAILHASH, AGE")
    assert(expander.expand("${columns:nosuch::%1$s}") == "${columns:nosuch::%1$s}")
    assert(expander.expand("${notcolumns:customer}") == "${notcolumns:customer}")
  }

  test("type map and primary keys follow the reference metadata model") {
    assert(catalog.columnsFor("customer").map(_.typeName) ==
      Seq("STRING", "STRING", "STRING", "LONG"))
    assert(catalog.primaryKeys("customer") == Seq("ID"))
  }

  private val C = HiveToSnowflakeConverter

  test("converts the reference's non-main example (rules 1/4/5/9/28)") {
    val in =
      """INSERT INTO TABLE udm_customer
        |SELECT ${columns:customer::c.%1$s AS %1$s}
        |FROM (
        |  SELECT ${columns:customer:~c_emailHash:c.%1$s AS %1$s}
        |    ,CASE WHEN COALESCE(TRIM(Email),'') <> '' THEN reflect('org.apache.commons.codec.digest.DigestUtils', 'sha256Hex', lower(TRIM(Email)))
        |       ELSE c_emailHash END AS c_emailHash
        |  FROM udm_s_customer c
        |) c;""".stripMargin
    val out = C.convert(in)
    assert(out.contains("INSERT OVERWRITE INTO delta_stage_customer (${columns:customer::%1$s})"))
    assert(out.contains("SHA2_HEX(lower(TRIM(Email)))"))
    assert(out.contains("FROM delta_udm_customer c"))
    assert(!out.contains("SET MD5Source")) // not a main script
  }

  test("main script gets MD5Source injection and TABLE(\\$MD5Source) join (rules 15/16)") {
    val in =
      """INSERT INTO TABLE udm_c_currency
        |SELECT 1 FROM (
        |  SELECT map_keys (collect_max_one (COALESCE(x,''), RowModified))[0] AS x
        |  FROM udm_s_c_currency
        |) sparse
        |LEFT OUTER JOIN udm_c_currency dw on sparse.ID = dw.ID;""".stripMargin
    val out = C.convert(in)
    assert(out.contains("SET MD5Source='PUBLIC.c_currency';"))
    assert(out.contains("LEFT OUTER JOIN TABLE($MD5Source) dw"))
    assert(out.contains("FROM delta_udm_c_currency"))
  }

  test("scalar-function rules 7/8/10/11/12/14/21/22/26/34/36") {
    val cases = Seq(
      "locate('a', x)" -> "position('a', x)",
      // rule 8 then rule 25 (double→single quotes) applies to the survivor
      "reflect(\"java.net.URLDecoder\", \"decode\", \"VALUE\",\"UTF-8\")" -> "decodeurl('VALUE')",
      "hash(v)" -> "hashcode(v)",
      "LCASE(v)" -> "LOWER(v)",
      "INSTR(v, '_')" -> "position('_', v)",
      "unix_timestamp()*1000" -> "CURRENT_TIMESTAMP()",
      "SPLIT(col,'_')[2]" -> "SPLIT_PART(col,'_',3)",
      "${hiveconf:MyVar}" -> "$MyVar",
      "IF(a,b,c)" -> "IFF(a,b,c)",
      "sc.RowModified + 1" -> "DATEADD(second, 1, sc.RowModified)",
      "to_date(from_unixtime(floor(ts/1000)))" -> "DATE(ts)")
    cases.foreach { case (in, want) =>
      val got = C.convert(in)
      assert(got == want, s"convert($in) = $got, want $want")
    }
  }

  test("rules 19/20/23: hint and SET stripping, tuple SET rewrite") {
    assert(C.convert("SELECT /*+ MAPJOIN(t) */ 1") == "SELECT  1")
    assert(C.convert("SET mapred.reduce.tasks=4;\nSELECT 1") == "SELECT 1")
    assert(C.convert("SET  Vals = ('a', 'b');") == "SET  Vals = 'a,b';")
  }

  test("rules 25/29: double-quote literals and temp-table creates") {
    assert(C.convert("SELECT \"abc\" FROM t") == "SELECT 'abc' FROM t")
    assert(C.convert("CREATE TABLE tmp_tbl_x AS SELECT 1") ==
      "CREATE OR REPLACE TEMPORARY TABLE tmp_tbl_x AS SELECT 1")
    assert(C.convert("CREATE TABLE customers AS SELECT 1") ==
      "CREATE TABLE customers AS SELECT 1") // non-tbl names untouched
  }

  test("rule 6: comments pass through verbatim; rule 25 respects quote context") {
    // Commented lines keep double quotes, function names, table refs.
    val script = "-- expects \"prod\" config; see CREATE TABLE old_tbl note\nSELECT \"abc\" FROM t"
    assert(C.convert(script) ==
      "-- expects \"prod\" config; see CREATE TABLE old_tbl note\nSELECT 'abc' FROM t")
    // Double quotes inside a single-quoted literal are untouched.
    assert(C.convert("SELECT 'he said \"hi\"' FROM t") ==
      "SELECT 'he said \"hi\"' FROM t")
    // Escaped content is left alone rather than corrupted.
    assert(C.convert("SELECT \"a\\'b\" FROM t") == "SELECT \"a\\'b\" FROM t")
    // Schema-qualified temp tables convert too.
    assert(C.convert("CREATE TABLE mydb.tmp_tbl AS SELECT 1") ==
      "CREATE OR REPLACE TEMPORARY TABLE mydb.tmp_tbl AS SELECT 1")
  }

  test("tenantsFromCsv tolerates truncated rows, padded headers, empty input") {
    assert(SchemaCatalog.tenantsFromCsv(Seq.empty).isEmpty)
    val t = SchemaCatalog.tenantsFromCsv(Seq(
      "tenant_id, active, mapper_cores, mapper_memory, tenant_name, mapper_pod",
      "1031,1",
      "1026,1,32,50g,Roots,pod_1026"))
    assert(t("1031").mapperCores == 0 && t("1031").mapperPod == "")
    assert(t("1026").mapperCores == 32)
  }

  test("tenant registry parses reference-shaped tenant.csv") {
    val t = SchemaCatalog.tenantsFromCsv(Seq(
      "tenant_id,active,mapper_cores,mapper_memory,tenant_name,mapper_pod",
      "1031,1,256,50g,Biglots(churn),pod_1031",
      "1026,0,32,50g,Roots(churn),pod_1026"))
    assert(t("1031").mapperCores == 256 && t("1031").active)
    assert(!t("1026").active && t("1026").mapperPod == "pod_1026")
  }

  test("rule 13: canonical collect_max_one block rewrites to TO_NUMBER_CUSTOM form") {
    val block =
      """CASE WHEN map_values (collect_max_one (COALESCE(%1$s,''),CASE WHEN %1$s IS NULL then 0L else RowModified END))[0]= 0L THEN NULL
        |     ELSE map_keys (collect_max_one (COALESCE(%1$s,''),CASE WHEN %1$s IS NULL then 0L else RowModified END))[0] END AS %1$s}""".stripMargin
    val out = C.convert(block)
    assert(out.contains("SUBSTRING(MAX(CONCAT(TO_NUMBER_CUSTOM(RowModified)"))
    assert(!out.contains("collect_max_one"))
  }

  test("rule 27: bare CONCAT(RowModified,…) argmax block rewrites to TO_NUMBER_CUSTOM form") {
    // The reference's rule-27 source spelling (script_converter_tool.py:77-85):
    // a script already in SUBSTRING(MAX(CONCAT(RowModified,…))) form but
    // missing TO_NUMBER_CUSTOM.
    val block =
      """${columns:c_currency:~ID,RowCreated,RowModified,Batch:
        |    SUBSTRING(MAX(CONCAT(RowModified,IF(COALESCE(%1$s,'') = '',NULL,%1$s))),14) AS %1$s:
        |    CAST(CAST(SUBSTRING(MAX(CONCAT(RowModified,CAST(%1$s AS int))),14) AS int) AS boolean) AS %1$s:
        |    SUBSTRING(MAX(CONCAT(RowModified,%1$s)),14) AS %1$s:
        |    CAST(SUBSTRING(MAX(CONCAT(RowModified,%1$s)),14) AS double) AS %1$s:
        |    CAST(SUBSTRING(MAX(CONCAT(RowModified,%1$s)),14) AS decimal(18,4)) AS %1$s
        |}""".stripMargin
    val out = C.convert(block)
    assert(out.contains("SUBSTRING(MAX(CONCAT(TO_NUMBER_CUSTOM(RowModified)"))
    assert(!out.contains("CONCAT(RowModified,"))
    assert(!out.contains("decimal(18,4)")) // target's 5th variant is double
    // The bare spelling also marks a main script (rule 15 detection).
    assert(C.isMainScript(block))
  }

  test("rule 32: date-column * 1000 scaling is stripped; rule 14 still wins") {
    val out = C.convert(
      "SELECT c_conversionDate * 1000 AS d1, sc.RowModified* 1000 AS d2,\n" +
        "  date_added * 1000 AS d3, EVENT_DATE * 1000 AS d4,\n" +
        "  amount * 1000 AS not_a_date, UNIX_TIMESTAMP()*1000 AS now_ms FROM t")
    assert(out.contains("c_conversionDate AS d1"))
    assert(out.contains("sc.RowModified AS d2"))
    assert(out.contains("date_added AS d3"))
    assert(out.contains("EVENT_DATE AS d4")) // ALL-CAPS segments must match too
    // Capital runs inside mixed-case names stay whole: loadDATE → [load, DATE].
    assert(C.convert("SELECT loadDATE * 1000 AS d5 FROM t").contains("loadDATE AS d5"))
    // Acronym→Word boundary splits: IDDate → [ID, Date].
    assert(C.convert("SELECT IDDate * 1000 AS d6 FROM t").contains("IDDate AS d6"))
    assert(out.contains("amount * 1000 AS not_a_date")) // non-date untouched
    assert(out.contains("CURRENT_TIMESTAMP() AS now_ms"))
  }

  test("rule 32 never corrupts names where 'date' is only an embedded substring") {
    // 'update'/'candidate' END with the substring "date"; a naive
    // contains-check strips their * 1000 and silently changes arithmetic
    // by 1000x.
    val out = C.convert(
      "SELECT update_count * 1000 AS a, UpdateCount * 1000 AS b,\n" +
        "  candidate_score * 1000 AS c, consolidated * 1000 AS d FROM t")
    assert(out.contains("update_count * 1000 AS a"))
    assert(out.contains("UpdateCount * 1000 AS b"))
    assert(out.contains("candidate_score * 1000 AS c"))
    assert(out.contains("consolidated * 1000 AS d"))
  }

  test("rule 27 match never scans past its template block's closing brace") {
    // First block is MALFORMED (no decimal(18,4) tail); a later block has
    // one. A dotall match would span both blocks plus the SQL between
    // them; the brace-bounded body must leave the malformed block and the
    // intervening SQL untouched.
    val script =
      """${columns:e:~ID:
        |    SUBSTRING(MAX(CONCAT(RowModified,IF(COALESCE(%1$s,'') = '',NULL,%1$s))),14) AS %1$s:
        |    CAST(SUBSTRING(MAX(CONCAT(RowModified,%1$s)),14) AS double) AS %1$s
        |}
        |,MIN(RowCreated) AS RowCreated
        |,${columns:e:~ID:
        |    SUBSTRING(MAX(CONCAT(RowModified,IF(COALESCE(%1$s,'') = '',NULL,%1$s))),14) AS %1$s:
        |    CAST(SUBSTRING(MAX(CONCAT(RowModified,%1$s)),14) AS decimal(18,4)) AS %1$s
        |}""".stripMargin
    val out = C.convert(script)
    assert(out.contains("MIN(RowCreated) AS RowCreated"))
    // Malformed first block passes through (its IF got rule 26'd to IFF).
    assert(out.contains("CONCAT(RowModified,IFF(COALESCE(%1$s,'') = '',NULL,%1$s))"))
  }

  test("nested same-name calls convert through the fixpoint pass") {
    val out = C.convert("SELECT SPLIT(SPLIT(c,' ')[0],'-')[1] AS x FROM t")
    assert(out.contains("SPLIT_PART(SPLIT_PART(c,' ',1),'-',2)"), out)
    val out2 = C.convert("SELECT INSTR(SPLIT(c,'_')[0], 'a') AS y FROM t")
    assert(out2.contains("position('a', SPLIT_PART(c,'_',1))"), out2)
  }

  test("lexer safety: call rewrites, renames, and comments honor BOTH quote forms") {
    import HiveToSnowflakeConverter.convert
    // a quoted paren inside a call argument is data, not call structure
    assert(convert("SELECT IF(INSTR(col,'(') > 0, 1, 0) FROM t")
      == "SELECT IFF(position('(', col) > 0, 1, 0) FROM t")
    // the paren-aware rewrites never fire inside string literals
    assert(convert("SELECT 'see INSTR(a,b) docs' AS h FROM t")
      == "SELECT 'see INSTR(a,b) docs' AS h FROM t")
    assert(convert("SELECT 'x INSTR(a,b) y INSTR(c,d) z' FROM t")
      == "SELECT 'x INSTR(a,b) y INSTR(c,d) z' FROM t")
    // double-quoted Hive literals: renames don't corrupt the content,
    // rule 25 still converts the quotes
    assert(convert("SELECT \"run IF(x)\" AS doc FROM t")
      == "SELECT 'run IF(x)' AS doc FROM t")
    // '--' inside a double-quoted literal is data, not a comment — the
    // rest of the line still converts
    assert(convert("SELECT \"a--b\" AS x FROM udm_customer")
      == "SELECT 'a--b' AS x FROM PUBLIC.customer")
  }

  test("main-script classification ignores commented-out argmax patterns") {
    val in =
      """-- legacy: map_keys (collect_max_one (COALESCE(x,''), RowModified))[0]
        |INSERT INTO TABLE udm_customer
        |SELECT 1 FROM udm_s_customer
        |LEFT OUTER JOIN udm_customer dw on 1=1;""".stripMargin
    assert(!C.isMainScript(in))
    val out = C.convert(in)
    assert(!out.contains("SET MD5Source")) // the comment must not flip it
    assert(!out.contains("TABLE($MD5Source)"))
  }

  test("rules 15/16 join rewrite is literal-protected") {
    val in =
      """INSERT INTO TABLE udm_c_currency
        |SELECT map_keys (collect_max_one (COALESCE(x,''), RowModified))[0] AS x,
        |  'fix LEFT OUTER JOIN PUBLIC.c_currency later' AS note
        |FROM udm_s_c_currency
        |LEFT OUTER JOIN udm_c_currency dw on 1=1;""".stripMargin
    val out = C.convert(in)
    assert(out.contains("LEFT OUTER JOIN TABLE($MD5Source) dw"))
    // the string literal's join phrase is DATA and stays verbatim
    assert(out.contains("'fix LEFT OUTER JOIN PUBLIC.c_currency later'"))
  }

  test("rule 23 tuple collapse is quote-aware: items containing ')' convert") {
    val out = C.convert("SET Codes = ('a)b','c');\nSELECT 1;")
    assert(out.contains("SET Codes = 'a)b,c';"))
  }

  test("rule 16 guard: an existing SET MD5Source in any legal spelling wins") {
    import HiveToSnowflakeConverter.convert
    val script =
      """set MD5Source = 'DW.c_currency';
        |SELECT collect_max_one(a, b) FROM x;
        |INSERT OVERWRITE TABLE udm_currency SELECT 1;""".stripMargin
    val out = convert(script)
    assert(!out.contains("Added MD5Source"),
      s"should not prepend a second SET:\n$out")
  }

  test("lexer safety: '--' and function names inside string literals are data") {
    // '--' inside a literal must not mask the rest of the line from rules.
    val a = C.convert("WHERE note = 'see--note' AND flag = IF(x,1,0)")
    assert(a.contains("'see--note'"))
    assert(a.contains("IFF(x,1,0)"), a)
    // Rename rules must not mutate literal content.
    val b = C.convert("SELECT 'run IF(x) then hash(y)' AS doc, IF(a,b,c) AS e")
    assert(b.contains("'run IF(x) then hash(y)'"), b)
    assert(b.contains("IFF(a,b,c)"))
    // A real comment still passes through verbatim.
    val c = C.convert("-- keep IF( as is\nSELECT IF(a,b,c)")
    assert(c.contains("-- keep IF( as is"))
    assert(c.contains("IFF(a,b,c)"))
  }

  test("suggester helpers: file pairing, column search, context window") {
    assert(ScriptSnippets.extractSuffix("nw_customer_PRE_300.hql", "nw_")
      .contains("customer_PRE_300"))
    assert(ScriptSnippets.matchFilePairs(
      Seq("nw_customer_PRE_300.hql", "nw_orphan.hql", "readme.md"),
      Seq("sf_dw_customer_PRE_300.sql", "sf_dw_other.sql")) ==
      Seq(("nw_customer_PRE_300.hql", "sf_dw_customer_PRE_300.sql")))
    assert(ScriptSnippets.findColumn("c_emailHash", "SELECT C_EMAILHASH FROM t"))
    assert(!ScriptSnippets.findColumn("c_email", "SELECT c_emailHash FROM t"))
    val sql = (1 to 10).map(i => s"line $i").updated(5, "SELECT target_col").mkString("\n")
    val snip = ScriptSnippets.extractRelevantSql(sql, "target_col", contextLines = 2)
    assert(snip == "line 4\nline 5\nSELECT target_col\nline 7\nline 8")
  }

  test("fromCsvFiles loads reference-shaped metadata through the CSV source") {
    val dir = TestSpark.tempDir("graft-cat")
    val tPath = dir.resolve("schema_table.csv")
    val cPath = dir.resolve("schema_column.csv")
    java.nio.file.Files.writeString(tPath,
      """table_id,active,display_name,immutable,name,partition_type,step,visible,tenant_id,display_resource_key,availability
        |43,1,customer,,customer,NONE,default,1,0,$customer,[]
        |""".stripMargin)
    java.nio.file.Files.writeString(cPath,
      """column_id,display_name,name,primary_key,primary_timestamp,type,tenant_id,tableId,availability,category,display_resource_key
        |1,ID,ID,1,0,2,1089,43,"[""LOOKUP""]",,$id
        |2,Age,Age,0,0,1,1089,43,null,,$age
        |""".stripMargin)
    val cat = SchemaCatalog.fromCsvFiles(TestSpark.spark, tPath.toString, cPath.toString)
    assert(cat.primaryKeys("customer") == Seq("ID"))
    assert(cat.columnsFor("udm_s_customer").map(c => (c.name, c.typeName)) ==
      Seq(("ID", "STRING"), ("Age", "LONG")))
  }

  test("TESTING-mode config: SANDBOX schemas, _RK suffix, delta-stage twin (snowflake_tool.py:14-20,42)") {
    val testing = DwValidationConfig()
    assert(testing.testing)
    assert(testing.dwSchema == "SANDBOX" && testing.hiveSchema == "SANDBOX")
    assert(testing.physicalName("customer") == "customer_RK")
    assert(testing.dwTable("customer") == "SANDBOX.customer_RK")
    assert(testing.deltaStageName("customer") == "DELTA_STAGE_customer_RK")
    val prod = DwValidationConfig("PRODUCTION")
    assert(!prod.testing)
    assert(prod.dwSchema == "DW" && prod.hiveSchema == "DW_HIVE_INC")
    assert(prod.physicalName("customer") == "customer")
    assert(prod.deltaStageName("customer") == "DELTA_STAGE_customer")
  }

  test("DwValidationConfig accepts case/space variants and rejects typos") {
    assert(DwValidationConfig("testing").testing)
    assert(!DwValidationConfig(" Production ").testing)
    // an unrecognized mode must NOT silently mean production (that would
    // fail unsafe toward DW) — it must refuse
    intercept[IllegalArgumentException](DwValidationConfig("Test"))
    intercept[IllegalArgumentException](DwValidationConfig(""))
  }

  test("catalog resolves TESTING-mode _RK names like layer prefixes") {
    val cat = SchemaCatalog.inMemory(
      "customer" -> Seq(ColumnMeta("ID", 2, primaryKey = true)))
    assert(cat.tableId("customer_RK") == cat.tableId("customer"))
    assert(cat.tableId("customer_RK").nonEmpty)
    assert(cat.tableId("udm_s_customer_rk") == cat.tableId("customer"))
    assert(cat.primaryKeys("CUSTOMER_rk") == Seq("ID"))
    assert(cat.tableId("nope_rk").isEmpty)
  }
}
