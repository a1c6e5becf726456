package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: prints per-query physical-plan health — shuffle count,
  * broadcast usage, whole-stage-codegen coverage, parquet pushdown — so
  * plan regressions are visible without reading full explains.
  * Usage: runMain graft.ExplainAudit [sfDir] [query...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.forMain(logLevel = "ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      def n(pat: String) = pat.r.findAllIn(plan).length
      // Formatted explain prints each node ONCE as a detail header
      // "(id) NodeName" at line start; counting those (not substrings)
      // avoids double-counting tree lines and BroadcastExchange matching
      // "Exchange". SinglePartition appears on the node's Arguments line.
      def node(nameRx: String) = n("""(?m)^\(\d+\) """ + nameRx + """\b""")
      // Only Exchange nodes print a SinglePartition Arguments line (the
      // header and Arguments are separated by Input/Output lines).
      val singlePart = n("""(?m)^Arguments: SinglePartition""")
      val summary = Seq(
        s"shuffles=${node("Exchange") - singlePart}",
        s"singlePart=$singlePart",
        s"broadcasts=${node("BroadcastExchange")}",
        s"codegenNodes=${n("\\[codegen id : ")}",
        s"scans=${node("Scan parquet")}",
        s"pushedFilters=${n("PushedFilters: \\[[^\\]]")}",
        // Anti-pattern flags: a global ordered limit funnels every
        // partition's top-K through one task; a cartesian product that
        // isn't a broadcast NLJ is a scale bug.
        s"takeOrdered=${node("TakeOrderedAndProject")}",
        s"cartesian=${node("CartesianProduct")}"
      ).mkString(" ")
      println(f"$name%-26s $summary")
      if (sys.env.contains("SPARK_GRAFT_FULL_PLAN")) println(plan)
    }
    spark.stop()
  }
}
