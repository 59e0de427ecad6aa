package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-pruned semi join — the explicit runtime-filter operator for
  * "keep fact rows whose key appears in a dimension subset" when the
  * subset is too large to broadcast-join cheaply but its FILTER is a
  * few hundred KB.
  *
  * Plan (the 100 TB shape):
  *   1. aggregate the small side's keys into Spark's own Bloom filter
  *      (`bloom_filter_agg`, via `stat.bloomFilter`) — one pass,
  *      word-wise OR merge — sized from the small side's row count at
  *      [[FalsePositiveRate]];
  *   2. fold the serialized filter into the large side's scan as a
  *      literal and drop non-members MAP-SIDE with Catalyst's
  *      `BloomFilterMightContain` (registered as `might_contain`;
  *      codegen'd, so the test rides the scan's whole-stage span —
  *      before any exchange);
  *   3. finish with the exact semi join on the survivors: false
  *      positives are removed here, false negatives cannot occur, so
  *      the result is EXACT while the shuffle carries only
  *      ~selectivity of the fact table.
  *
  * Catalyst injects the same pair itself for some shapes
  * (spark.sql.optimizer.runtime.bloomFilter.*); this operator is the
  * library-level form for when the pruning set is an arbitrary
  * DataFrame the optimizer cannot see through (a curated id list, a
  * prior pipeline stage's output).
  */
object BloomPrune {

  /** The filter's false-positive target. Spark derives the hash count
    * from bits per item (k = round(m/n · ln 2)), so sizing by item
    * count and rate keeps k ≈ 7 at any n — a fixed bit count over a
    * handful of keys would hash thousands of times per probe.
    * `bloom_filter_agg` caps a filter at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (8 MB by
    * default), past which the rate degrades but exactness holds.
    */
  val FalsePositiveRate = 0.01

  /** Exact `large LEFT SEMI JOIN small ON largeKey = smallKey`, with
    * the large side Bloom-pruned before the shuffle.
    */
  def prunedSemiJoin(large: DataFrame, largeKey: String,
      small: DataFrame, smallKey: String): DataFrame = {
    val smallKeys = normalizedKeys(small, smallKey, largeKey)
    prunedSemiJoinWith(large, largeKey, smallKeys, buildFilter(smallKeys))
  }

  /** Key normalization: try_cast (NOT cast — ANSI mode throws on
    * malformed input) + drop NULLs. A plain semi join silently drops
    * NULL/malformed keys, so the pruned form must too.
    */
  def normalizedKeys(small: DataFrame, smallKey: String,
      as: String): DataFrame =
    small.select(expr(s"try_cast($smallKey AS BIGINT)").as(as)).na.drop()

  /** The filter-build ACTIONS (a row count, then a one-row aggregate:
    * the filter itself is the only thing collected), exposed
    * separately so callers can build once per pruning set and reuse
    * across probes — the filter is index state of the dimension
    * subset, not per-query work. `smallKeys` must be a single
    * normalized BIGINT column ([[normalizedKeys]]). An empty side
    * yields an empty filter, which admits nothing.
    */
  def buildFilter(smallKeys: DataFrame): BloomFilter = {
    val n = smallKeys.count()
    if (n == 0) BloomFilter.create(1L, FalsePositiveRate)
    else smallKeys.stat.bloomFilter(col(smallKeys.columns.head), n,
      FalsePositiveRate)
  }

  /** [[prunedSemiJoin]] with a prebuilt filter. */
  def prunedSemiJoinWith(large: DataFrame, largeKey: String,
      smallKeys: DataFrame, filter: BloomFilter): DataFrame = {
    registerMightContain(large)
    val bytes = new java.io.ByteArrayOutputStream()
    filter.writeTo(bytes)
    large
      .filter(call_function("might_contain", lit(bytes.toByteArray),
        expr(s"try_cast($largeKey AS BIGINT)")))
      .join(smallKeys.distinct(), Seq(largeKey), "left_semi")
      .select(large.columns.map(col).toIndexedSeq: _*) // original column order
  }

  /** Spark ships `BloomFilterMightContain` but does not register it as
    * a SQL function; its filter argument must be a constant, which the
    * literal above is.
    */
  private def registerMightContain(df: DataFrame): Unit =
    df.sparkSession.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, null,
        "might_contain", "might_contain(bloom, key) - Bloom membership test",
        "", "", "", "", "4.0.0", "", "built-in"),
      (e: Seq[Expression]) => BloomFilterMightContain(e(0), e(1)))
}
