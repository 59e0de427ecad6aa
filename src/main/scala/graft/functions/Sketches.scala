package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Misra-Gries heavy hitters as a typed `Aggregator` — the one
  * sketch Spark does not ship in the form the engine needs. Spark's
  * own sketches cover the rest (`count_min_sketch`,
  * `hll_sketch_agg`/`hll_sketch_estimate`, `percentile_approx`,
  * `kll_sketch_*`, `bloom_filter_agg`); its `approx_top_k` gives no
  * deterministic error bound, and q145's exact two-pass heavy
  * hitters need MG's.
  */
object Sketches {

  // Misra-Gries — deterministic heavy hitters in k counters. Where a
  // Count-Min sketch gives a probabilistic overestimate for ANY
  // queried key, MG keeps at most k counters and guarantees, with no
  // randomness at all,
  //     true - n/(k+1)  ≤  estimate  ≤  true
  // so every item with frequency > n/(k+1) is CERTAIN to be in the
  // summary — the candidate-superset property a two-pass exact
  // heavy-hitter job needs (pass 1: MG per partition + merge, bytes
  // of state; pass 2: exact counts for the ≤k survivors only).
  //
  // The merge is Agarwal et al. 2012 ("Mergeable Summaries"): sum
  // counters, then subtract the (k+1)-th largest count from all and
  // drop non-positives — error adds across merges, keeping the bound
  // over the COMBINED n for any merge tree. NOTE the honest contrast
  // with CMS/HLL: the merged counter VALUES depend on the merge
  // order (the bound does not), so MG summaries are
  // guarantee-deterministic, not bit-deterministic, under Spark's
  // partitioning — MgSpec pins exactly that.
  case class MG(k: Int, n: Long, keys: Seq[String], counts: Seq[Long]) {
    /** Lower-bound estimate (0 if absent; true count is within
      * n/(k+1) above whatever this returns).
      */
    def estimate(t: String): Long = {
      val i = keys.indexOf(t)
      if (i < 0) 0L else counts(i)
    }
    def maxError: Long = n / (k + 1)
    def add(t: String): MG = {
      val i = keys.indexOf(t)
      if (i >= 0) copy(n = n + 1, counts = counts.updated(i, counts(i) + 1))
      else if (keys.size < k) copy(n = n + 1, keys = keys :+ t,
        counts = counts :+ 1L)
      else {
        // all k counters occupied: decrement everyone (the arriving
        // item's count is absorbed by the same decrement), drop zeros
        val dec = counts.map(_ - 1)
        val kept = keys.zip(dec).filter(_._2 > 0)
        copy(n = n + 1, keys = kept.map(_._1), counts = kept.map(_._2))
      }
    }
    def mergeWith(o: MG): MG = {
      require(k == o.k, "summary size mismatch")
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      keys.zip(counts).foreach { case (t, c) => m(t) = m.getOrElse(t, 0L) + c }
      o.keys.zip(o.counts).foreach { case (t, c) =>
        m(t) = m.getOrElse(t, 0L) + c
      }
      val combined = n + o.n
      if (m.size <= k) MG(k, combined, m.keys.toSeq, m.values.toSeq)
      else {
        // subtract the (k+1)-th largest count; ≤ k survive
        val cut = m.values.toSeq.sorted(Ordering[Long].reverse)(k)
        val kept = m.toSeq.map { case (t, c) => (t, c - cut) }
          .filter(_._2 > 0)
        MG(k, combined, kept.map(_._1), kept.map(_._2))
      }
    }
  }

  def emptyMg(k: Int): MG = MG(k, 0L, Vector.empty, Vector.empty)

  /** Typed Aggregator: Dataset[String] → MG. */
  class MisraGriesAggregator(k: Int = 32)
      extends Aggregator[String, MG, MG] {
    override def zero: MG = emptyMg(k)
    override def reduce(b: MG, a: String): MG = b.add(a)
    override def merge(b1: MG, b2: MG): MG = b1.mergeWith(b2)
    override def finish(r: MG): MG = r
    override def bufferEncoder: Encoder[MG] = Encoders.product[MG]
    override def outputEncoder: Encoder[MG] = Encoders.product[MG]
  }
}
