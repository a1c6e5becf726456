package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.types.StringType

import graft.functions.{DotProductExpr, MinHashSigExpr, ShinglesExpr, SimHash64Expr, UrlDecodeExpr}

/** SparkSessionExtensions entry point: makes graft's custom Catalyst
  * expressions available to pure-SQL users —
  *   spark.sql.extensions=graft.GraftExtensions
  * registers `decodeurl(s)` (reference converter rule 8's custom
  * function), `dot_product(a, b)`, and the text-dedup primitives
  * `word_shingles(toks, n)`, `minhash_sig(shs, k)`, `simhash64(toks)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Literal-int argument of a SQL call (shingle size, hash count). */
  private def intArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
                     name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** Arity guard: a wrong-arg-count SQL call should name the function and
    * its expected signature, not surface a bare IndexOutOfBoundsException
    * from exprs(i). */
  private def checkArity(fn: String, signature: String,
                         exprs: Seq[_], expected: Int): Unit =
    if (exprs.length != expected) throw new IllegalArgumentException(
      s"$fn expects $expected argument(s): $fn($signature); got ${exprs.length}")

  override def apply(e: SparkSessionExtensions): Unit = {
    val strArr = org.apache.spark.sql.types.ArrayType(StringType)
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ShinglesExpr].getName, "word_shingles"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          checkArity("word_shingles", "tokens, n", exprs, 2)
          ShinglesExpr(Cast(exprs(0), strArr), intArg(exprs(1), "n"))
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sig"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[MinHashSigExpr].getName, "minhash_sig"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          checkArity("minhash_sig", "shingles, numHashes", exprs, 2)
          MinHashSigExpr(Cast(exprs(0), strArr), intArg(exprs(1), "numHashes"))
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[SimHash64Expr].getName, "simhash64"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          checkArity("simhash64", "tokens", exprs, 1)
          SimHash64Expr(Cast(exprs.head, strArr))
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("decodeurl"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[UrlDecodeExpr].getName, "decodeurl"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          checkArity("decodeurl", "s", exprs, 1)
          UrlDecodeExpr(Cast(exprs.head, StringType))
        }))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("dot_product"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DotProductExpr].getName, "dot_product"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          checkArity("dot_product", "a, b", exprs, 2)
          // Cast to array<double> like the DataFrame path's asDouble:
          // DotProductExpr reads doubles out of ArrayData, so a float[]
          // argument (the embeddings table!) would misread or throw.
          import org.apache.spark.sql.types.{ArrayType, DoubleType}
          val dbl = ArrayType(DoubleType)
          DotProductExpr(Cast(exprs(0), dbl), Cast(exprs(1), dbl))
        }))
  }
}

/** Canonical session factory for graft deployments: UTC, AQE, right-sized
  * shuffle partitions, nanos-tolerant parquet reads, extensions installed. */
object GraftSession {
  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // BoundedMinK udafs aggregate via ObjectHashAggregate; the default
      // 128-group sort fallback is far too eager for <= K-element buffers.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE's per-query-stage jobs multiply driver round-trips on
      // fixed-cost-bound suites; r16/r17 measured whether that tax is
      // real (it was not — see OPTIMIZATION_r17.md). A runtime SQL conf:
      // an A/B sets it with spark.conf.set.
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's coalescing floor (default 1 MB) collapses a small shuffle
      // output to 1-2 partitions BY BYTES, blind to downstream fan-out:
      // a bucket table of a few MB whose next stage double-explodes
      // into millions of candidate pairs (LSH buckets, prefix-blocked
      // levenshtein, shingle posting lists) then runs that CPU-heavy
      // stage on one or two cores. 128 KB keeps small-but-expensive
      // post-shuffle stages parallel (measured at sf0.1:
      // q_dedup_editdist 4.2 s -> 1.0 s, q_rolling_salted 1.7 -> 0.9,
      // 16-query subset total 0.88x). At production shuffle sizes
      // partitions are advisory-sized (64 MB+) and this floor never
      // binds — a small-input floor, not a local-mode tune (guide
      // §2.2). A runtime SQL conf: deployments retune it with
      // spark.conf.set, no rebuild.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "131072")
      // The generated-class cache defaults to 100 entries; a workload
      // cycling through this library's ~60-query surface evicts
      // constantly and re-Janinos every plan (~40% wall-time overhead
      // measured on interleaved sweeps). JVM-global, so it must be set
      // before the first codegen compile.
      .config("spark.sql.codegen.cache.maxEntries", "5000")

  /** The session every `graft.*` main runs on: `local[SPARK_GRAFT_CPUS]`
    * with as many shuffle partitions and no UI. The default of 32 is the
    * bench contract — the runner does not set SPARK_GRAFT_CPUS, and a
    * default of 4 once made a whole bench round a quarter-width run. */
  def forMain(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
