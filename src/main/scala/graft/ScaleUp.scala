package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic scale-factor step-up: replicate an sf directory `factor`×
  * into a larger one, preserving every distributional property the operator
  * suite depends on while keeping output sizes LINEAR in the factor.
  *
  * Replica `r` (0-based; replica 0 is the identity) is derived from the
  * source rows as follows:
  *
  *   - Every entity key (custkey, orderkey, partkey, suppkey, event id,
  *     user id, doc id, vec id) is offset by `r * KeyStride`, with foreign
  *     keys offset by the SAME stride — so intra-replica join structure is
  *     exactly the source's, and replicas never join to each other.
  *     `nation`/`region` (and their FK columns) are genuine dimensions and
  *     stay fixed.
  *   - Document text is passed through a per-replica letter PERMUTATION
  *     (a seeded Fisher-Yates shuffle of [a-z], applied case-preserving
  *     via translate; digits/punct/whitespace fixed). The map is
  *     injective on tokens and length-preserving, so within a replica
  *     every dedup/quality/packing statistic (shingle sets, Jaccard,
  *     line census, token counts, length histograms) is exactly the
  *     source corpus's — while ACROSS replicas token images collide only
  *     when two independent permutations agree on every character of a
  *     token (≈26^-len, negligible beyond 1-2 chars), so near-duplicate
  *     structure grows linearly instead of the quadratic blow-up naive
  *     text copying would cause (every doc would gain factor-1 exact
  *     twins; pair outputs would grow factor²). An earlier letter
  *     ROTATION had period 26 and capped the factor; permutations
  *     support factor 100 (sf0.1 → sf10) in one run.
  *   - Embeddings get a per-replica ±1 sign mask (deterministic in
  *     (replica, dim)). Multiplying by ±1 is IEEE-exact, and
  *     dot(s∘x, s∘y) = dot(x, y) term-for-term, so within-replica cosine
  *     structure is BIT-preserved; across replicas the masks decorrelate
  *     dot products toward 0 (random-sign sum, E=0, σ≈‖x‖‖y‖/√d), so ANN
  *     and near-dup candidate structure also grows linearly.
  *
  * Everything is a per-row projection — no shuffle except the final
  * round-robin repartition that yields a realistic multi-file layout
  * (scans of the stepped-up directory parallelize across tasks the way a
  * warehouse table's file manifest does).
  */
object ScaleUp {

  /** Key offset between replicas. Far above any source key (sf0.1 keys top
    * out ~6e5) yet small enough that `factor` replicas plus the fixtures'
    * +1e8 injected-key offset stay well inside Long. */
  val KeyStride = 1000000000L

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Seeded Fisher-Yates permutation of [a-z] for a replica; identity
    * for replica 0. splitmix64 drives the draws, so the permutation is a
    * pure function of the replica index — distinct replicas get
    * independent permutations (two agreeing entirely has probability
    * 1/26! ≈ 2.5e-27; per-character agreement is 1/26, which is what
    * bounds cross-replica token collisions). */
  def permutationFor(replica: Int): String =
    if (replica == 0) Lower
    else {
      val arr = Lower.toCharArray
      var state = replica.toLong * 0x9E3779B97F4A7C15L
      def next(): Long = {
        state += 0x9E3779B97F4A7C15L
        var z = state
        z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
        z ^= (z >>> 27); z *= 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      var i = arr.length - 1
      while (i >= 1) {
        val j = java.lang.Math.floorMod(next(), (i + 1).toLong).toInt
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }

  /** Per-replica injective letter permutation; identity for replica 0.
    * Case classes are preserved (tokenizers and regex character classes
    * see identical structure), token lengths are preserved (n_chars,
    * length histograms, packing offsets all carry over unchanged). */
  def permuteText(c: Column, replica: Int): Column =
    if (replica == 0) c
    else {
      val p = permutationFor(replica)
      translate(c, Lower + Upper, p + p.toUpperCase)
    }

  /** Deterministic ±1 mask for (replica, dim): splitmix64-style bit mix so
    * neighbouring replicas decorrelate. Replica 0 is all +1 (identity). */
  def signMask(replica: Int, dim: Int): Array[Float] =
    if (replica == 0) Array.fill(dim)(1.0f)
    else Array.tabulate(dim) { i =>
      var z = replica.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
      z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
      z ^= (z >>> 27); z *= 0x94D049BB133111EBL
      z ^= (z >>> 31)
      if ((z & 1L) == 0L) 1.0f else -1.0f
    }

  /** Elementwise sign flip as a codegen'd zip_with over a literal mask. */
  def flipSigns(c: Column, replica: Int, dim: Int): Column = {
    val mask = array(signMask(replica, dim).map(s => lit(s)): _*)
    zip_with(c, mask, (x, s) => x * s).cast("array<float>")
  }

  private def offset(c: String, r: Int): Column =
    (col(c) + lit(r * KeyStride)).as(c)

  /** One replica of one table (replica 0 ≡ the source projection). */
  def replica(df: DataFrame, table: String, r: Int, embDim: Int): DataFrame =
    table match {
      case "region" | "nation" => df
      case "customer" => df.select(offset("c_custkey", r), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      case "supplier" => df.select(offset("s_suppkey", r), col("s_name"),
        col("s_nationkey"), col("s_acctbal"))
      case "part" => df.select(offset("p_partkey", r), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
      case "orders" => df.select(offset("o_orderkey", r), offset("o_custkey", r),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      case "lineitem" => df.select(offset("l_orderkey", r), offset("l_partkey", r),
        offset("l_suppkey", r), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      case "events" => df.select(offset("event_id", r), col("ts"),
        offset("user_id", r), col("event_type"), col("value"), col("props"))
      case "documents" => df.select(offset("doc_id", r),
        permuteText(col("text"), r).as("text"), col("lang"), col("source"),
        col("n_chars"))
      case "embeddings" => df.select(offset("vec_id", r),
        flipSigns(col("embedding"), r, embDim).as("embedding"), col("label"))
      case other => sys.error(s"unknown table $other")
    }

  /** All `factor` replicas of a table, unioned. */
  def scaled(df: DataFrame, table: String, factor: Int, embDim: Int): DataFrame =
    if (table == "region" || table == "nation") df
    else (0 until factor).map(r => replica(df, table, r, embDim))
      .reduce(_ unionByName _)

  val AllTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Output file counts: big fact tables fan out so downstream scans
    * parallelize across tasks; dimensions stay single-file. */
  private def files(table: String, factor: Int): Int = table match {
    case "region" | "nation" => 1
    case "lineitem" | "events" | "orders" => 4 * factor
    case _ => math.max(2, factor)
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1 && factor.toLong * KeyStride < Long.MaxValue / 4)
    // Seeded permutations alias only at probability 1/26! per replica
    // pair, so large single-run factors are safe. COMPOSING runs is
    // still refused by construction elsewhere: a second run over stepped
    // output would collide key offsets ((r1+r2)·stride repeats across
    // replica pairs, producing duplicate PKs) — always scale from the
    // ORIGINAL source directory in one run.
    val spark = GraftSession.forMain()
    val embDim = Tables.load(spark, srcDir, "embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    AllTables.foreach { t =>
      val src = Tables.load(spark, srcDir, t)
      val out = scaled(src, t, factor, embDim).repartition(files(t, factor))
      out.write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
      println(s"[scaleup] $t -> $dstDir/$t.parquet")
    }
    spark.stop()
  }
}
