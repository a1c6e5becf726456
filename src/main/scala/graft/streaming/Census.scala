package graft.streaming

/** The state shape of an ADDITIVE census: a monitor's `*State` builder
  * writes one row per `keys` combination carrying the `values` counts
  * or sums, and disjoint batches fold by summing `values` per key. Each
  * monitor declares its shape once, next to that builder;
  * [[EventStream.maintainCensusState]], [[EventStream.readCensusState]]
  * and [[EventStream.compactCensusState]] take it. */
final case class Census(keys: Seq[String], values: Seq[String]) {
  require(values.nonEmpty, "a census folds at least one value column")
}
