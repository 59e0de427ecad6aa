package graft

import graft.operators.BloomPrune
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Bloom-pruned semi join over Spark's own Bloom filter. */
class BloomSpec extends AnyFunSuite with SharedSpark {

  test("built filter: false-positive rate on 100k non-members under 2x its target") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val keys = Array.fill(10000)(rnd.nextLong())
    val members = keys.toSet
    val filter = BloomPrune.buildFilter(keys.toSeq.toDF("k").repartition(4))
    assert(keys.forall(filter.mightContainLong)) // a Bloom filter never misses
    val probes = Iterator.continually(rnd.nextLong())
      .filterNot(members.contains).take(100000)
    val fps = probes.count(filter.mightContainLong)
    assert(fps < 2 * BloomPrune.FalsePositiveRate * 100000,
      s"$fps false positives in 100k probes")
  }

  test("prunedSemiJoin equals the plain semi join exactly") {
    import spark.implicits._
    val large = (1L to 5000L).map(i => (i, i % 97)).toDF("id", "key")
    // two partitions: the filter aggregate merges partial filters
    val small = Seq(3L, 11L, 42L, 90L, 96L, 500L).toDF("k").repartition(2)
    assert(small.rdd.getNumPartitions == 2)
    val pruned = BloomPrune.prunedSemiJoin(large, "key", small, "k")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    val plain = large.join(small, large("key") === small("k"), "left_semi")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(pruned == plain && pruned.nonEmpty)
  }

  test("prunedSemiJoin tolerates NULL keys on the small side") {
    import spark.implicits._
    val large = (1L to 100L).map(i => (i, i % 7)).toDF("id", "key")
    // a NULL key and a non-castable string key (casts to NULL) must be
    // dropped like the plain semi join drops them
    val small = Seq(Some("3"), None, Some("x")).toDF("k")
    val pruned = BloomPrune.prunedSemiJoin(large, "key", small, "k")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    val plain = large.join(small,
        large("key") === expr("try_cast(k AS BIGINT)"), "left_semi")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(pruned == plain && pruned.nonEmpty)
    // nothing castable on the small side: an empty filter, no rows
    val none = Seq(Option.empty[String], Some("x")).toDF("k")
    assert(BloomPrune.prunedSemiJoin(large, "key", none, "k").isEmpty)
  }

  test("the bloom membership filter sits before the join in the plan") {
    import spark.implicits._
    // parquet-backed large side: over a LocalRelation the optimizer
    // folds the filter away eagerly (ConvertToLocalRelation), which
    // hides the shape this test pins
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    (1L to 1000L).map(i => (i, i % 13)).toDF("id", "key")
      .write.mode("overwrite").parquet(dir)
    val large = spark.read.parquet(dir)
    val small = Seq(1L, 5L).toDF("k")
    val plan = BloomPrune.prunedSemiJoin(large, "key", small, "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    // the filter is a per-row predicate on the large side, feeding the
    // semi join — not applied after it
    val filterIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("LeftSemi")
    assert(joinIdx >= 0 && filterIdx > joinIdx, plan) // child appears below/after parent in tree print
  }
}
