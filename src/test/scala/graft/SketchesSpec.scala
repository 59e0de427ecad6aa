package graft

import graft.functions.Sketches
import org.apache.datasketches.hll.HllSketch
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch
import org.scalatest.funsuite.AnyFunSuite

/** Spark's built-in sketches hold the guarantees the engine relies
  * on, and the Misra-Gries Aggregator (the one sketch kept in
  * [[graft.functions.Sketches]]) holds its deterministic bound.
  */
class SketchesSpec extends AnyFunSuite with SharedSpark {

  private val rnd = new scala.util.Random(5)
  private val corpus: Seq[String] =
    Seq.fill(2000)(s"tok${rnd.nextInt(50)}") // 50 distinct, skewed-ish
  private val exact: Map[String, Long] =
    corpus.groupBy(identity).view.mapValues(_.size.toLong).toMap

  // ---- Count-Min: count_min_sketch --------------------------------

  private val cmsSeed = 17

  /** Spark's `count_min_sketch` over `tokens` at `parts` partitions. */
  private def cmsOf(tokens: Seq[String], parts: Int, eps: Double,
      confidence: Double): CountMinSketch = {
    import spark.implicits._
    CountMinSketch.readFrom(
      spark.createDataset(tokens).repartition(parts)
        .select(count_min_sketch(col("value"), lit(eps), lit(confidence),
          lit(cmsSeed)))
        .as[Array[Byte]].head())
  }

  test("estimates are upper bounds and exact at low collision rates") {
    // eps 0.001 → width 2000, confidence 0.99 → depth 7: 50 keys
    // colliding in every row is ~impossible
    val cms = cmsOf(corpus, 4, 0.001, 0.99)
    assert(cms.totalCount == corpus.size)
    exact.foreach { case (t, n) =>
      val est = cms.estimateCount(t)
      assert(est >= n)
      assert(est == n, s"$t: $est != $n")
    }
    assert(cms.estimateCount("never-seen") == 0L)
  }

  test("narrow sketch still upper-bounds under heavy collisions") {
    // eps 0.125 → width 16 < 50 distinct tokens: collisions are certain
    val cms = cmsOf(corpus, 4, 0.125, 0.9)
    exact.foreach { case (t, n) =>
      assert(cms.estimateCount(t) >= n, s"$t under-counted")
    }
    assert(exact.exists { case (t, n) => cms.estimateCount(t) > n })
  }

  test("merge is order-invariant (any partitioning gives the same sketch)") {
    // the merge is cell-wise addition: chunk sketches merged in either
    // order, and the aggregate at any partitioning, are one sketch
    val chunks = corpus.grouped(300).toSeq.map(cmsOf(_, 1, 0.05, 0.9))
    def merged(cs: Seq[CountMinSketch]): CountMinSketch = {
      val acc = CountMinSketch.create(0.05, 0.9, cmsSeed)
      cs.foreach(acc.mergeInPlace)
      acc
    }
    val fwd = merged(chunks)
    assert(fwd.equals(merged(chunks.reverse)))
    Seq(1, 3, 8).foreach { parts =>
      assert(cmsOf(corpus, parts, 0.05, 0.9).equals(fwd), s"$parts partitions")
    }
    assert(exact.forall { case (t, n) => fwd.estimateCount(t) >= n })
  }

  test("distributed aggregation through Spark matches local build") {
    val local = CountMinSketch.create(0.05, 0.9, cmsSeed)
    corpus.foreach(local.addString)
    assert(cmsOf(corpus, 8, 0.05, 0.9).equals(local))
  }

  // ---- HyperLogLog: hll_sketch_agg ---------------------------------

  private def hllEstimate(ds: Dataset[String], lgK: Int): Double = {
    import spark.implicits._
    ds.select(hll_sketch_estimate(hll_sketch_agg(col("value"), lgK)))
      .as[Long].head().toDouble
  }

  test("HLL estimates distinct counts within a few percent") {
    import spark.implicits._
    val n = 20000
    val tokens = (0 until n).map(i => s"item-$i")
    val est = hllEstimate(spark.createDataset(tokens).repartition(4), 12)
    // lgK 12: relative standard error 1.04/√4096 ≈ 1.6 %
    assert(math.abs(est - n) / n < 0.05, s"estimate $est for $n")
    // duplicates do not move a distinct count
    val est3 = hllEstimate(
      spark.createDataset(tokens ++ tokens ++ tokens).repartition(4), 12)
    assert(est3 == est)
    // the small range is counted near-exactly
    val small = hllEstimate(spark.createDataset((0 until 30).map(i => s"s$i")), 12)
    assert(math.abs(small - 30) < 1.0, s"estimate $small for 30")
  }

  /** The register-only (composite) estimate of a serialized sketch:
    * equal registers give an equal value, whatever merges built them.
    * `getEstimate` may instead use the HIP accumulator of a sketch
    * that saw its items directly, so it is not compared across merges.
    */
  private def registersEstimate(bytes: Array[Byte]): Double =
    HllSketch.heapify(bytes).getCompositeEstimate

  private def hllBytes(ds: Dataset[String], lgK: Int): Array[Byte] = {
    import spark.implicits._
    ds.select(hll_sketch_agg(col("value"), lgK)).as[Array[Byte]].head()
  }

  test("HLL merge is order- and partitioning-invariant") {
    import spark.implicits._
    val tokens = (0 until 5000).map(i => s"item-$i")
    // one sketch per chunk of 700, then hll_union_agg over the chunk
    // sketches in forward and in reverse order on one partition
    val chunks = tokens.grouped(700).toSeq.map(c => hllBytes(spark.createDataset(c), 10))
    def union(cs: Seq[Array[Byte]]): Array[Byte] =
      spark.createDataset(cs).coalesce(1)
        .select(hll_union_agg(col("value"))).as[Array[Byte]].head()
    val fwd = registersEstimate(union(chunks))
    assert(registersEstimate(union(chunks.reverse)) == fwd)
    Seq(1, 7).foreach { parts =>
      val whole = hllBytes(spark.createDataset(tokens).repartition(parts), 10)
      assert(registersEstimate(whole) == fwd, s"$parts partitions")
    }
    assert(math.abs(fwd - 5000) / 5000 < 0.1, s"estimate $fwd for 5000")
  }

  test("distributed HLL over Spark matches the local sketch") {
    import spark.implicits._
    val tokens = (0 until 8000).map(i => s"item-${i % 3000}") // 3000 distinct
    val local = new HllSketch(12)
    tokens.foreach(t => local.update(t))
    val dist = hllBytes(spark.createDataset(tokens).repartition(16), 12)
    assert(registersEstimate(dist) == local.getCompositeEstimate)
    val est = hllEstimate(spark.createDataset(tokens).repartition(16), 12)
    assert(math.abs(est - 3000) / 3000 < 0.05, s"estimate $est for 3000")
  }

  // ---- quantiles: percentile_approx -------------------------------

  private val accuracy = 256

  /** `percentile_approx` of `ds`'s doubles at each of `qs`. */
  private def quantiles(ds: Dataset[Double], qs: Seq[Double]): Seq[Double] = {
    import spark.implicits._
    ds.select(percentile_approx(col("value"), lit(qs.toArray), lit(accuracy)))
      .as[Array[Double]].head().toSeq
  }

  test("quantile sketch: bounded rank error on shuffled input") {
    import spark.implicits._
    val n = 50000
    val xs = new scala.util.Random(11).shuffle((1 to n).map(_.toDouble))
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.95, 0.99)
    val est = quantiles(spark.createDataset(xs).coalesce(1), qs)
    // values ARE their own ranks here, so the estimate's rank error is
    // |estimate - q*n|, within n/accuracy
    qs.zip(est).foreach { case (q, e) =>
      assert(math.abs(e - q * n) <= n.toDouble / accuracy + 1,
        s"q=$q est=$e true=${q * n}")
    }
  }

  test("quantile sketch merge stays within bound in any merge order") {
    import spark.implicits._
    val n = 40000
    val xs = new scala.util.Random(23).shuffle((1 to n).map(_.toDouble))
    val chunked = xs.zipWithIndex.map { case (x, i) => (x, i / 7001) }
    val qs = Seq(0.1, 0.5, 0.9)
    // one partition per chunk, chunks numbered forward and reversed,
    // and a round-robin repartition
    val last = chunked.last._2
    val layouts = Seq(
      spark.createDataset(chunked).repartition(6, col("_2")).select(col("_1").as("value")),
      spark.createDataset(chunked.map { case (x, c) => (x, last - c) })
        .repartition(6, col("_2")).select(col("_1").as("value")),
      spark.createDataset(xs).repartition(8).toDF("value"))
    layouts.foreach { df =>
      quantiles(df.as[Double], qs).zip(qs).foreach { case (e, q) =>
        assert(math.abs(e - q * n) <= n.toDouble / accuracy + 1,
          s"q=$q est=$e true=${q * n}")
      }
    }
  }

  test("distributed quantile sketch over Spark: doc-length p50/p95") {
    import spark.implicits._
    val lens = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(expr("CAST(length(text) AS DOUBLE)").as("value")).as[Double]
    val qs = Seq(0.5, 0.95)
    val est = quantiles(lens.repartition(8), qs)
    val sorted = lens.collect().sorted
    val n = sorted.length
    qs.zip(est).foreach { case (q, e) =>
      val estRank = sorted.count(_ <= e)
      assert(math.abs(estRank - q * n) <= math.max(0.05 * n, 3.0),
        s"q=$q est=$e rank=$estRank n=$n")
    }
  }

  // ---------------------------------------------------------------
  // Misra-Gries

  private def mgCheck(mg: Sketches.MG, ex: Map[String, Long], n: Long): Unit = {
    assert(mg.n == n)
    assert(mg.keys.size <= mg.k)
    val err = n / (mg.k + 1)
    ex.foreach { case (t, c) =>
      val est = mg.estimate(t)
      assert(est <= c, s"$t overestimated: $est > $c")
      assert(est >= c - err, s"$t underestimated past the bound: $est < $c - $err")
      if (c > err) assert(est > 0, s"heavy hitter $t ($c > $err) missing")
    }
  }

  private val zipf: Seq[String] = {
    val r = new scala.util.Random(11)
    // skewed: token id ~ floor(200 * u^3) — few heavy, long tail
    Seq.fill(5000)(s"z${(200 * math.pow(r.nextDouble(), 3)).toInt}")
  }
  private val zipfExact: Map[String, Long] =
    zipf.groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("MG: deterministic bounds hold and every heavy hitter survives") {
    val mg = zipf.foldLeft(Sketches.emptyMg(32))((s, t) => s.add(t))
    mgCheck(mg, zipfExact, zipf.size.toLong)
  }

  test("MG: the bound survives ANY merge tree (values may differ — " +
      "guarantee-deterministic, not bit-deterministic)") {
    val parts = zipf.grouped(700).toSeq
      .map(_.foldLeft(Sketches.emptyMg(32))((s, t) => s.add(t)))
    val leftFold = parts.reduceLeft(_ mergeWith _)
    val rightFold = parts.reduceRight(_ mergeWith _)
    mgCheck(leftFold, zipfExact, zipf.size.toLong)
    mgCheck(rightFold, zipfExact, zipf.size.toLong)
  }

  test("MG two-pass heavy hitters over Spark: the summary's survivors " +
      "are a superset of every true heavy hitter, at any partitioning") {
    import spark.implicits._
    val toks = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS t")
      .as[String].cache()
    val ex = toks.groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = ex.values.sum
    Seq(1, 7, 32).foreach { parts =>
      val mg = toks.repartition(parts)
        .select(new Sketches.MisraGriesAggregator(64).toColumn).head()
      mgCheck(mg, ex, n)
      // pass 2 of the production shape: exact-count only the <=k
      // survivors; every token above the threshold must be there
      val heavy = ex.filter(_._2 > n / 65).keySet
      assert(heavy.subsetOf(mg.keys.toSet),
        s"heavy hitters escaped the summary at $parts partitions")
    }
  }
}
