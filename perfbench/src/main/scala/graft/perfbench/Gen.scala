package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ValidationRound.DriftSpec

/** Seeded inputs for the workloads, and the ground-truth ledger every
  * answer is checked against.
  *
  * The seed picks every generated value, the perturbed keys, the
  * injected rows, the mutated columns, the corpus copies and the batch
  * boundaries; input sizes depend only on `scale`. Inputs are written
  * as parquet straight from the driver (no Spark job), plus two
  * schema-metadata CSVs; the program under test only reads those files.
  */
object Gen {

  // ---- parquet output -------------------------------------------------

  /** A column type: its parquet declaration. */
  sealed abstract class Kind(val parquet: String)
  case object I64 extends Kind("int64")
  case object I32 extends Kind("int32")
  case object Str extends Kind("binary %s (STRING)")
  case object Dbl extends Kind("double")
  /** Days since the epoch. */
  case object Day extends Kind("int32 %s (DATE)")
  /** Microseconds since the epoch, UTC. */
  case object Ts extends Kind("int64 %s (TIMESTAMP(MICROS,true))")

  /** Generated rows under named, typed columns. */
  final case class Table(cols: Seq[(String, Kind)], rows: IndexedSeq[Array[Any]]) {
    def idx(name: String): Int = cols.indexWhere(_._1 == name)
  }

  /** Writes `t` as a parquet directory of `files` files, as a warehouse
    * export would arrive. */
  def writeParquet(dir: String, t: Table, files: Int): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      t.cols.map { case (n, k) =>
        val decl = if (k.parquet.contains("%s")) k.parquet.format(n) else s"${k.parquet} $n"
        s"optional $decl;"
      }.mkString("message t { ", " ", " }"))
    val groups = new SimpleGroupFactory(schema)
    val conf = new org.apache.hadoop.conf.Configuration()
    Files.createDirectories(Paths.get(dir))
    val chunk = math.max(1, (t.rows.size + files - 1) / files)
    t.rows.grouped(chunk).zipWithIndex.foreach { case (part, i) =>
      val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/part-$i.parquet")).withType(schema)
        .withConf(conf).build()
      try part.foreach { r =>
        val g = groups.newGroup()
        t.cols.zipWithIndex.foreach { case ((n, _), c) => r(c) match {
          case null => ()
          case v: Long => g.add(n, v)
          case v: Int => g.add(n, v)
          case v: Double => g.add(n, v)
          case v: String => g.add(n, Binary.fromString(v))
          case v => throw new IllegalArgumentException(s"$n: unsupported value $v")
        }}
        w.write(g)
      } finally w.close()
    }
  }

  // ---- catalog -------------------------------------------------------

  /** Row counts of the generated base tables at `scale` (1.0 is the
    * benchmark size; the smoke test uses a small fraction). */
  final case class Sizes(orders: Int, lineitem: Int, customer: Int, events: Int)

  def sizes(scale: Double): Sizes = {
    def n(base: Int) = math.max(200, (base * scale).toInt)
    Sizes(orders = n(10000), lineitem = n(40000), customer = n(2000), events = n(10000))
  }

  /** Driver-side seeded hash, for choices that must not depend on
    * generation order. */
  def xx(seed: Long, salt: String): Long =
    scala.util.hashing.MurmurHash3.stringHash(s"$seed:$salt").toLong

  private def rng(seed: Long, salt: String) = new java.util.SplittableRandom(seed * 1000003L ^ xx(seed, salt))

  private val Epoch1992 = LocalDate.of(1992, 1, 1).toEpochDay.toInt
  private def month(day: Int) = LocalDate.ofEpochDay(day).toString.take(7)
  private val Micros = 1000000L
  private def tsOf(text: String) =
    java.time.LocalDateTime.parse(text).toEpochSecond(java.time.ZoneOffset.UTC) * Micros

  def orders(seed: Long, salt: String, n: Int): Table = {
    val r = rng(seed, salt)
    val status = Seq("F", "O", "P")
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Table(Seq("o_orderkey" -> I64, "o_custkey" -> I64, "o_orderstatus" -> Str,
      "o_totalprice_cents" -> I64, "o_orderdate" -> Day, "o_orderpriority" -> Str,
      "o_ordermonth" -> Str),
      (0 until n).map { i =>
        val day = Epoch1992 + r.nextInt(2400)
        Array[Any](i * 4L + 1, 1L + r.nextInt(15000), status(r.nextInt(3)),
          90000L + r.nextInt(50000000), day, prio(r.nextInt(5)), month(day))
      })
  }

  /** Lineitem with a composite key that is unique by construction (four
    * lines per order) and an audit column stamped `modified`. */
  def lineitem(seed: Long, salt: String, n: Int, modified: String): Table = {
    val r = rng(seed, salt)
    val stamp = tsOf(modified)
    Table(Seq("l_orderkey" -> I64, "l_linenumber" -> I32, "l_quantity" -> I32,
      "l_price_cents" -> I64, "l_returnflag" -> Str, "l_shipmonth" -> Str,
      "row_modified" -> Ts),
      (0 until n).map { i =>
        Array[Any]((i / 4) * 4L + 1, i % 4 + 1, 1 + r.nextInt(50), 100L + r.nextInt(10000000),
          Seq("A", "N", "R")(r.nextInt(3)), month(Epoch1992 + r.nextInt(2500)), stamp)
      })
  }

  def customer(seed: Long, salt: String, n: Int): Table = {
    val r = rng(seed, salt)
    val seg = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    Table(Seq("c_custkey" -> I64, "c_name" -> Str, "c_nationkey" -> I32,
      "c_acctbal_cents" -> I64, "c_mktsegment" -> Str),
      (0 until n).map { i =>
        Array[Any](i + 1L, f"Customer#$i%09d", r.nextInt(25),
          r.nextInt(1100000) - 100000L, seg(r.nextInt(5)))
      })
  }

  /** 28 days of traffic from 2024-01-01T00:00:00Z. */
  def events(seed: Long, salt: String, n: Int): Table = {
    val r = rng(seed, salt)
    val types = Seq("click", "view", "buy", "search", "share")
    Table(Seq("event_id" -> I64, "ts" -> Ts, "user_id" -> I64, "event_type" -> Str,
      "value" -> Dbl, "event_day" -> Str),
      (0 until n).map { i =>
        val day = r.nextInt(28)
        val secs = 1704067200L + day * 86400L + r.nextInt(86400)
        Array[Any](i + 1L, secs * Micros, 1L + r.nextInt(5000), types(r.nextInt(5)),
          math.round((1.0 - math.log(1.0 - r.nextDouble()) * 100.0) * 100) / 100.0,
          LocalDate.of(2024, 1, 1).plusDays(day).toString)
      })
  }

  /** A seeded change to one column of a mutated row; it always changes
    * the value. */
  final case class Mutator(column: String, f: Any => Any)

  /** One ledger entry: a touched key, what happened to it, and the
    * mutated column (null unless mutated). */
  final case class Touch(kind: String, pk: String, column: String)

  /** Injected rows move their first key column past every generated key. */
  val InjectShift = 1000000000L

  /** The key rendering TableDiff uses: the raw key for one column, the
    * ':'-joined key for a composite one. */
  private def pkString(row: Array[Any], pkIdx: Seq[Int]): String =
    pkIdx.map(row(_).toString).mkString(":")

  /** Derive the SF side of a pair from its Hive side: rows in `scope`
    * are dropped, mutated in one seeded column, or kept and re-injected
    * under a shifted key, each with its stated probability. Returns the
    * SF side and the ledger of every touched key. */
  def perturb(seed: Long, pair: String, hive: Table, pks: Seq[String],
              scope: Array[Any] => Boolean, pDrop: Double, pMut: Double,
              pInject: Double, muts: Seq[Mutator]): (Table, Seq[Touch]) = {
    val r = rng(seed, s"$pair:perturb")
    val pkIdx = pks.map(hive.idx)
    val ledger = Seq.newBuilder[Touch]
    val sf = hive.rows.flatMap { row =>
      val x = if (scope(row)) r.nextDouble() else 2.0
      if (x < pDrop) {
        ledger += Touch("dropped", pkString(row, pkIdx), null)
        Nil
      } else if (x < pDrop + pMut) {
        val m = muts(r.nextInt(muts.size))
        val c = hive.idx(m.column)
        val out = row.clone()
        out(c) = m.f(row(c))
        ledger += Touch("mutated", pkString(row, pkIdx), m.column)
        Seq(out)
      } else if (x < pDrop + pMut + pInject) {
        val inj = row.clone()
        inj(pkIdx.head) = row(pkIdx.head).asInstanceOf[Long] + InjectShift
        ledger += Touch("injected", pkString(inj, pkIdx), null)
        Seq(row, inj)
      } else Seq(row)
    }
    (hive.copy(rows = sf), ledger.result())
  }

  /** One generated pair, as the catalog declares it. */
  final case class PairDef(name: String, pks: Seq[String],
                           exclude: Seq[String] = Nil,
                           partCol: Option[String] = None,
                           drift: Option[DriftSpec] = None,
                           anomaly: Option[(Seq[String], String)] = None)

  /** What the ledger says a validation round must report for a pair. */
  final case class Truth(status: String, nHive: Long, nSf: Long,
                         hiveOnly: Long, sfOnly: Long, disc: Long) {
    def discrepancies: Long = hiveOnly + sfOnly + disc
  }

  /** A generated catalog: where the two sides live, the pair
    * declarations, the ledger's expected report rows, the mutated
    * (key, column) cells of every single-key pair (the probe targets)
    * and the schema CSVs. */
  final case class Catalog(hiveDir: String, sfDir: String, pairs: Seq[PairDef],
                           truth: Map[String, Truth],
                           mutatedCells: Map[String, Seq[(Long, String)]],
                           tableCsv: String, columnCsv: String)

  /** Probe candidates kept per single-key pair. */
  private val ProbeKeys = 48

  def catalog(dir: String, seed: Long, scale: Double): Catalog = {
    val sz = sizes(scale)
    val hiveDir = s"$dir/hive"
    val sfDir = s"$dir/sf"
    // The drifted partitions of the partition-triaged pair.
    val months = (0 until 3).map(i =>
      month(Epoch1992 + 31 * Math.floorMod(xx(seed, s"drift-month:$i"), 78L).toInt)).toSet

    /** A pair's two sides and its ledger (None: the sides are equal). */
    final case class Built(p: PairDef, hive: Table, sf: Table, ledger: Option[Seq[Touch]])
    def perturbed(p: PairDef, h: Table, scope: Array[Any] => Boolean, pDrop: Double,
                  pMut: Double, pInject: Double, muts: Mutator*): Built = {
      val (sf, ledger) = perturb(seed, p.name, h, p.pks, scope, pDrop, pMut, pInject, muts)
      Built(p, h, sf, Some(ledger))
    }
    val built = Seq(
      { val p = PairDef("orders_triaged", Seq("o_orderkey"), partCol = Some("o_ordermonth"),
          drift = Some(DriftSpec("o_totalprice_cents", sketch = true)))
        val h = orders(seed, p.name, sz.orders)
        val m = h.idx("o_ordermonth")
        perturbed(p, h, row => months.contains(row(m).asInstanceOf[String]),
          0.02, 0.03, 0.02,
          Mutator("o_totalprice_cents", v => v.asInstanceOf[Long] + 100),
          Mutator("o_orderpriority", _ => "DISCREPANT")) },
      { val p = PairDef("events_clean", Seq("event_id"), partCol = Some("event_day"),
          drift = Some(DriftSpec("value")), anomaly = Some((Seq("event_type"), "ts")))
        val h = events(seed, p.name, sz.events)
        Built(p, h, h, None) },
      { // The audit column differs on every row; the pair excludes it.
        val p = PairDef("lineitem_comp", Seq("l_orderkey", "l_linenumber"),
          exclude = Seq("row_modified"))
        val h = lineitem(seed, p.name, sz.lineitem, "2024-01-01T00:00:00")
        val later = lineitem(seed, p.name, sz.lineitem, "2024-06-30T12:00:00")
        val (sf, ledger) = perturb(seed, p.name, later, p.pks, _ => true, 0.004, 0.006,
          0.003, Seq(Mutator("l_quantity", v => v.asInstanceOf[Int] + 1),
            Mutator("l_returnflag", _ => "X")))
        Built(p, h, sf, Some(ledger)) },
      { // A retyped column: the gate fails the pair before any data is read.
        val p = PairDef("customer_schema", Seq("c_custkey"))
        val h = customer(seed, p.name, sz.customer)
        val c = h.idx("c_acctbal_cents")
        Built(p, h, Table(h.cols.updated(c, "c_acctbal_cents" -> Dbl),
          h.rows.map(r => r.updated(c, r(c).asInstanceOf[Long].toDouble))), None) })

    built.foreach { b =>
      assertUniqueKeys(b.p, "hive", b.hive)
      assertUniqueKeys(b.p, "sf", b.sf)
      writeParquet(s"$hiveDir/${b.p.name}.parquet", b.hive, files = 4)
      writeParquet(s"$sfDir/${b.p.name}.parquet", b.sf, files = 4)
    }
    val ledger = built.flatMap(b => b.ledger.toSeq.flatten.map(b.p.name -> _))
    Files.write(Paths.get(dir, "ledger.csv"), ("pair,kind,pk,column" +: ledger.map {
      case (p, t) => s"$p,${t.kind},${t.pk},${Option(t.column).getOrElse("")}" })
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val cells = built.filter(b => b.ledger.isDefined && b.p.pks.size == 1).map { b =>
      b.p.name -> b.ledger.get.filter(_.kind == "mutated")
        .sortBy(t => xx(seed, t.pk)).take(ProbeKeys).map(t => (t.pk.toLong, t.column))
    }.toMap
    val truth = built.map { b =>
      def c(kind: String) = b.ledger.toSeq.flatten.count(_.kind == kind).toLong
      val (d, m, i) = (c("dropped"), c("mutated"), c("injected"))
      b.p.name -> (
        if (b.hive.cols != b.sf.cols) Truth("schema_drift", 0, 0, 0, 0, 0)
        else Truth(if (b.p.partCol.isDefined && d + m + i == 0) "clean" else "diffed",
          b.hive.rows.size, b.sf.rows.size, d, i, m))
    }.toMap
    val (tableCsv, columnCsv) = writeSchemaCsvs(s"$dir/meta", built.map(b => (b.p, b.hive)))
    Catalog(hiveDir, sfDir, built.map(_.p), truth, cells, tableCsv, columnCsv)
  }

  /** Every side must have a unique, non-null key before any answer
    * depends on it (the ledger counts one row per key). */
  private def assertUniqueKeys(p: PairDef, side: String, t: Table): Unit = {
    val pkIdx = p.pks.map(t.idx)
    val nulls = t.rows.count(r => pkIdx.exists(r(_) == null))
    val dups = t.rows.iterator.map(pkString(_, pkIdx)).toSeq.groupBy(identity)
      .collect { case (k, v) if v.size > 1 => k }.take(3)
    require(nulls == 0 && dups.isEmpty,
      s"${p.name} ($side): generated keys are not unique and non-null: " +
        s"$nulls null keys, duplicates ${dups.mkString(", ")}")
  }

  /** Reference-shaped schema metadata (schema_table.csv /
    * schema_column.csv) for every pair, read by the agent's PK question. */
  private def writeSchemaCsvs(dir: String, pairs: Seq[(PairDef, Table)]): (String, String) = {
    Files.createDirectories(Paths.get(dir))
    val tables = "table_id,name" +: pairs.zipWithIndex.map { case ((p, _), i) =>
      s"${100 + i},${p.name}" }
    val columns = "tableId,name,type,primary_key,primary_timestamp" +:
      pairs.zipWithIndex.flatMap { case ((p, t), i) =>
        t.cols.map { case (c, _) =>
          val pk = if (p.pks.contains(c)) 1 else 0
          s"${100 + i},$c,2,$pk,0"
        }
      }
    def put(name: String, lines: Seq[String]): String = {
      val path = Paths.get(dir, name)
      Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      path.toString
    }
    (put("schema_table.csv", tables), put("schema_column.csv", columns))
  }

  // ---- metrics history ----------------------------------------------

  /** The TableDiff.metrics columns a round records in the MetricsStore. */
  val MetricsCols: Seq[String] = Seq("table_name", "total_record_count_hive",
    "total_record_count_sf", "hive_only_count", "sf_only_count",
    "data_discrepancy_count", "hive_only_pk_values", "sf_only_pk_values",
    "data_discrepancy_pk_values")

  /** Round 1 of the validation history: an earlier seeded state of the
    * catalog, in which one table was not yet validated. The run records
    * round 2 from its report. Returns the expected round-over-round
    * trend per table. */
  def metricsHistory(spark: SparkSession, path: String, seed: Long,
                     cat: Catalog): Map[String, String] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val names = cat.pairs.map(_.name)
    val absent = names(rnd.nextInt(names.size))
    val prev = names.filter(_ != absent).map { n =>
      val t = cat.truth(n)
      def jitter(v: Long) = math.max(0L, v + rnd.nextInt(7) - 3)
      n -> t.copy(hiveOnly = jitter(t.hiveOnly), sfOnly = jitter(t.sfOnly),
        disc = jitter(t.disc))
    }
    val schema = StructType(MetricsCols.map(c => StructField(c,
      if (c.endsWith("_count") || c.startsWith("total_")) LongType else StringType)))
    graft.MetricsStore.appendMetrics(spark.createDataFrame(java.util.Arrays.asList(
      prev.map { case (n, t) => Row(n, t.nHive, t.nSf, t.hiveOnly, t.sfOnly, t.disc,
        "", "", "") }: _*), schema), path, 1L)
    val before = prev.toMap
    names.map { n =>
      val cur = cat.truth(n).discrepancies
      n -> (before.get(n) match {
        case None => "appeared"
        case Some(p) if cur < p.discrepancies => "improved"
        case Some(p) if cur > p.discrepancies => "regressed"
        case _ => "flat"
      })
    }.toMap
  }

  // ---- curation corpus ------------------------------------------------

  private val Stops = Seq("the", "data")

  /** Writes a seeded corpus arriving as monotone batches (doc ids
    * increase across batches) as `batch_<i>`, and `bench`, the benchmark
    * suite decontamination protects, under `dir`. Returns the ledger's
    * cumulative funnel, stages 0-5: (stage_ord, stage, n_docs, n_tokens).
    *
    * Base documents pass both gates unless drawn to fail (three lines
    * fail C4 and Gopher; a brace fails C4). Exact copies and SHORTER
    * near-duplicate copies of passing, uncontaminated documents arrive
    * after their originals, so history dominance holds: the folded
    * state must equal the full chain over the union, and the ledger
    * knows which stage drops every document. */
  def corpus(dir: String, seed: Long, scale: Double,
             nBatches: Int): Seq[(Int, String, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val nBase = math.max(40, (160 * scale).toInt)
    val vocab = {
      val r = new scala.util.Random(7L)
      Vector.fill(600)(Iterator.continually(r.nextPrintableChar())
        .filter(_.isLower).take(3 + r.nextInt(6)).mkString)
    }
    def line(): String =
      (Stops ++ Vector.fill(8 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size))))
        .mkString(" ") + "."
    final case class Doc(pos: Double, lang: String, lines: Seq[String], kind: String) {
      def text: String = lines.mkString("\n")
      /** CurationRound's token count: space-separated fields. */
      def tokens: Long = text.count(_ == ' ') + 1L
    }
    val langs = Seq("de", "en", "es", "zh", "fr")
    val base = (0 until nBase).map { i =>
      val roll = rnd.nextDouble()
      val lang = langs(rnd.nextInt(langs.size))
      if (roll < 0.06) Doc(i, lang, Vector.fill(3)(line()), "short")
      else {
        val lines = Vector.fill(6 + rnd.nextInt(4))(line())
        if (roll > 0.97) Doc(i, lang, lines :+ "config { nested } block", "brace")
        else Doc(i, lang, lines, "pass")
      }
    }
    val passing = rnd.shuffle(base.filter(_.kind == "pass"))
    val nCopies = passing.size / 10
    val quoted = passing.take(math.max(1, passing.size / 30))
    val sources = passing.drop(quoted.size)
    def later(d: Doc) = d.pos + 0.5 + rnd.nextDouble() * (nBase - d.pos)
    val exact = sources.take(nCopies).map(d => Doc(later(d), d.lang, d.lines, "exact"))
    val near = sources.slice(nCopies, 2 * nCopies)
      .map(d => Doc(later(d), d.lang, d.lines.dropRight(1), "near"))
    val quotedPos = quoted.map(_.pos).toSet
    val docs = (base ++ exact ++ near).sortBy(_.pos)

    // The stage each kind of document leaves at.
    def keptThrough(d: Doc): Int = d.kind match {
      case "short" | "brace" => 0
      case "exact" => 2
      case "near" => 3
      case _ if quotedPos.contains(d.pos) => 4
      case _ => 5
    }
    val stages = Seq("total", "c4_gate", "gopher_gate", "dedup_exact", "dedup_near",
      "decontaminate")
    val funnel = stages.zipWithIndex.map { case (name, k) =>
      val in = docs.filter(keptThrough(_) >= k)
      (k, name, in.size.toLong, in.map(_.tokens).sum)
    }

    val cuts = (0 +: (1 until nBatches).map(b =>
      (docs.size * (b + rnd.nextDouble() * 0.4 - 0.2) / nBatches).toInt) :+ docs.size).sorted
    val rows = docs.zipWithIndex.map { case (d, id) => Array[Any](id.toLong, d.lang, d.text) }
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), b) =>
      writeParquet(s"$dir/batch_$b.parquet",
        Table(Seq("doc_id" -> I64, "lang" -> Str, "text" -> Str), rows.slice(lo, hi)), files = 1)
    }
    writeParquet(s"$dir/bench.parquet", Table(Seq("doc_id" -> I64, "text" -> Str),
      quoted.zipWithIndex.map { case (d, i) =>
        Array[Any](900000L + i, d.lines.take(4).mkString("\n")) }), files = 1)
    funnel
  }
}
