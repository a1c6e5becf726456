package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Hive/Snowflake scalar-function surface the reference's conversion
  * rules enumerate (reference: tools/script_converter_tool.py:31-95).
  *
  * Each is a `Column` combinator over Spark's codegen'd built-ins — no Scala
  * UDFs in the hot path, so every expression stays inside whole-stage
  * codegen and is usable at 100 TB.
  */
object HiveFunctions {

  /** Hive `locate(substr, str)` / `INSTR(str, substr)` / Snowflake
    * `position(substr, str)` (converter rules 7 and 12). 1-based, 0 when
    * absent — exactly Spark's `locate`. */
  def hlocate(substr: String, str: Column): Column = locate(substr, str)

  /** Hive `SPLIT(col, sep)[n]` (0-based) ≡ Snowflake
    * `SPLIT_PART(col, sep, n+1)` (converter rule 21). `part` is 1-based
    * here, matching SPLIT_PART. Empty string when out of range; NULL in →
    * NULL out (both warehouses propagate NULL — an `''` for NULL input
    * would corrupt fingerprints built over nullable columns). */
  def splitPart(col: Column, sep: String, part: Int): Column = {
    // part < 1 has no Hive SPLIT()[n] counterpart (n = part−1 would be
    // negative) — Snowflake raises for 0 and means LAST-element for
    // negatives; silently returning '' for every row would corrupt any
    // fingerprint built over the column. Refuse loudly at build time.
    require(part >= 1, s"part must be >= 1 (got $part): negative " +
      "SPLIT_PART indexing is not supported; index from the front")
    // element_at is 1-based; out-of-range raises under ANSI, so guard via
    // array size — keeps SPLIT_PART's "empty string past the end" contract.
    val arr = split(col, java.util.regex.Pattern.quote(sep))
    when(size(arr) >= part, element_at(arr, part))
      .when(col.isNotNull, lit(""))
    // no otherwise: NULL input falls through to NULL
  }

  /** Hive `LCASE` ≡ `LOWER` (converter rule 11). */
  def lcase(col: Column): Column = lower(col)

  /** Hive `IF(cond, a, b)` ≡ Snowflake `IFF` (converter rule 26). */
  def iff(cond: Column, ifTrue: Column, ifFalse: Column): Column =
    when(cond, ifTrue).otherwise(ifFalse)

  /** `reflect('org.apache.commons.codec.digest.DigestUtils','sha256Hex',x)`
    * ≡ Snowflake `SHA2_HEX(x)` (converter rule 9) — natively `sha2(x,256)`,
    * codegen'd, no reflection on the executor hot path. */
  def sha256hex(col: Column): Column = sha2(col, 256)

  /** Hive `find_in_set(item, csvList)` (converter rule 35 keeps it verbatim
    * on the Snowflake side too): 1-based index of `item` in the
    * comma-separated `list`, 0 if absent. */
  def findInSet(item: Column, csvList: Column): Column =
    array_position(split(csvList, ","), item).cast("int")

  /** Hive `unix_timestamp()*1000` — epoch millis of a timestamp column
    * (the reference multiplies to millis everywhere; converter rules 14/32/36
    * strip the *1000 on the Snowflake side). */
  def epochMillis(ts: Column): Column = (unix_timestamp(ts) * 1000L)

  /** Hive `to_date(from_unixtime(floor(ms/1000)))` ≡ Snowflake `DATE(ms)`
    * (converter rule 36). */
  def msToDate(ms: Column): Column =
    to_date(timestamp_seconds(floor(ms / 1000).cast("long")))

  /** Row fingerprint used for change detection across warehouse sides:
    * `md5(concat(COALESCE(CAST(col AS STRING),'NULL') ...))` over the
    * non-audit columns (reference: resources/scripts HQL md5 pattern and
    * tools/script_converter_tool.py:169-170, 209-210).
    *
    * Columns are pipe-joined after a NULL→'NULL' sentinel so the hash is
    * positional and null-aware. Doubles must be pre-normalized by the caller
    * (e.g. to integral cents) if the hash is compared against another
    * engine's rendering of floats.
    */
  def rowHash(cols: Seq[Column]): Column =
    md5(concat_ws("|", cols.map(c => coalesce(c.cast("string"), lit("NULL"))): _*))

  /** Injective row fingerprint: each column is hashed BEFORE joining, so a
    * '|' inside a value or a literal 'NULL' string can never alias across
    * columns or against the null sentinel (the reference's plain-concat
    * pattern above has both collisions). This is what the discrepancy
    * engine uses internally; [[rowHash]] stays for reference parity. */
  def rowHashSafe(cols: Seq[Column]): Column =
    md5(concat_ws("|", cols.map(c => coalesce(md5(c.cast("string")), lit("N"))): _*))

  /** 128-bit row fingerprint for INTERNAL change detection (TableDiff,
    * sparseDwMerge): two independent xxhash64 lanes over per-column
    * pre-hashes, as a 16-byte struct.
    *
    * Same aliasing guarantees as [[rowHashSafe]] but Spark-native: xxhash64
    * folds raw column bytes under whole-stage codegen — no cast-to-string,
    * no md5, and the shuffle payload is a 16-byte struct instead of a
    * 32-char hex UTF8String (~3× CPU and ~4× hash-payload bytes saved on
    * every diffed row; at 100 TB the fingerprint pass dominates the
    * map side). Design notes:
    *  - Bare `xxhash64(c1, …, cn)` SKIPS null columns (the fold leaves the
    *    seed untouched), so `(x, NULL)` and `(NULL, x)` alias. Each column
    *    is therefore pre-hashed WITH its position (`xxhash64(lit(i), c)`),
    *    which is total (never null) and position-injective.
    *  - Two lanes (second seeded with a distinct leading literal) give
    *    2^-128 per-pair collision odds — same regime as the md5 chain;
    *    a 10^10-row diff stays collision-free with overwhelming odds.
    * NOT portable across engines (xxhash64 is Spark's spelling) — oracle
    * parity never depends on fingerprint VALUES, only on equality, and
    * [[rowHash]] remains the reference's portable md5 rendering. */
  def rowFingerprint(cols: Seq[Column]): Column =
    // Zero compare columns (a pure-key link table with everything
    // excluded): constant fingerprint, like md5('') before it — present
    // on both sides, never mismatched.
    if (cols.isEmpty) struct(lit(42L).as("h1"), lit(42L).as("h2"))
    else {
      val pre = cols.zipWithIndex.map { case (c, i) => xxhash64(lit(i), c) }
      struct(xxhash64(pre: _*).as("h1"), xxhash64((lit(-1L) +: pre): _*).as("h2"))
    }

  /** True iff the type contains a MapType anywhere — xxhash64 refuses
    * those (maps are unordered, so their hash would be
    * representation-dependent), where the old md5-over-cast-string chain
    * accepted them. */
  private def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Column prepared for [[rowFingerprint]]: map-bearing columns fall back
    * to their string rendering (the legacy md5-chain behavior — stable
    * per stored entry order, which is also what the old chain hashed);
    * everything else hashes raw bytes under codegen. */
  private[graft] def fingerprintInput(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
    if (containsMap(dt)) c.cast("string") else c

  /** Schema-aware [[rowFingerprint]]: use this form when the frame may
    * carry map columns (generic warehouse tables do). */
  def rowFingerprint(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Column =
    rowFingerprint(cols.map(c => fingerprintInput(col(c), df.schema(c).dataType)))

  /** Hive UDAF `collect_max_one(value, rank)` (converter rule 13): the value
    * paired with the max rank — i.e. per-column argmax. The reference's
    * Snowflake rewrite is `SUBSTRING(MAX(CONCAT(ts, val)), 14)`; in Spark
    * this is natively `max_by`, a single-pass declarative aggregate with
    * map-side partial aggregation (no string concat trick needed).
    *
    * Matches the sentinel semantics of rule 13 — a non-NULL value beats a
    * NULL value regardless of rank — via an explicit has-value field
    * rather than a rank-0 sentinel: a sentinel is only minimal until a
    * real rank is NULL or negative, where struct(0, NULL) would beat
    * struct(NULL/-3, 'a') and null out the aggregate (exactly what the
    * Snowflake rewrite's MAX-over-CONCAT, which skips NULLs, never does).
    * Ties on rank resolve to the larger value (deterministic across
    * retries/partitionings — plain max_by is tie-unstable, which would
    * break verify reruns); a NULL rank orders below every real rank.
    *
    * `rank` is used AS-IS (any orderable type): pass
    * `struct(ts, event_id)` for composite ranks — packing a composite
    * order into one long (`unix_millis*1e6 + id`) aliases across
    * millisecond buckets as soon as ids reach the multiplier, silently
    * selecting a non-latest row at scale.
    */
  def collectMaxOne(value: Column, rank: Column): Column =
    max(struct(when(value.isNull, 0).otherwise(1).as("has"),
      rank.as("r"), value.as("v"))).getField("v")

  /** Snowflake-side `TO_NUMBER_CUSTOM(ts)` (converter rule 13's rewrite
    * target): the timestamp as a fixed-width 13-digit epoch-millis string,
    * so string ordering equals time ordering. */
  def toNumberCustom(ts: Column): Column =
    lpad(unix_millis(ts).cast("string"), 13, "0")

  /** The reference's Snowflake argmax idiom
    * `SUBSTRING(MAX(CONCAT(TO_NUMBER_CUSTOM(ts), value)), 14)`
    * (converter rule 13) — equivalent to [[collectMaxOne]] for string
    * values (proven in HiveFunctionsSpec). Kept for drop-in parity;
    * prefer collectMaxOne (typed, no string round-trip). */
  def argmaxByConcat(value: Column, ts: Column): Column =
    substring(max(concat(toNumberCustom(ts), value)), 14, Int.MaxValue)

  /** Deterministic string hash ("hashcode", converter rule 10): Spark's
    * codegen'd Murmur3 hash — stable across JVMs/partitions. (Rule 10 maps
    * Hive `hash` to Snowflake `hashcode`; neither side promises the other's
    * exact values, only a stable deterministic hash.) */
  def hashcode(col: Column): Column = hash(col)
}
