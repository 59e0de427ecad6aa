package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Dev harness: sf-scaling sweep over headline queries — the check
  * that catches a plan whose cost grows faster than its data (q99's
  * round-7 rewrite was justified exactly this way: a 4.7× sf-scaling
  * exposed the explode-shuffle plan). Results feed BASELINE.md's
  * SCALING table.
  *
  * {{{ sbt "runMain graft.ScaleCheck q03_top_revenue,q28_ngram_jaccard" }}}
  *
  * Per (query, sf): one untimed warmup, then min of `passes` timed
  * runs (Bench's methodology). The printed exponent is
  * log10 t(sf0.1)/t(sf0.01) — data grows 10× per step, so ≤ 1.0 is
  * at-worst-linear scaling; job overhead keeps small-sf times flat,
  * which UNDERSTATES growth, so an exponent near 1 at this size
  * already warrants a plan read.
  */
object ScaleCheck {
  private val defaults = Seq("q03_top_revenue", "q28_ngram_jaccard",
    "q53_ivf_search", "q70_cc_distributed", "q99_window_dedup",
    "q103_ivfpq_search", "q106_embed_drift_psi", "q107_mixture_interleave",
    "q108_cell_migration", "q109_boilerplate_prefixes", "q110_token_budget",
    "q111_containment", "q112_pipeline_ledger")
  private val sfs = Seq("0.001", "0.01", "0.1")
  private val mapper = new ObjectMapper()

  /** One `SPARK_GRAFT_SCALECHECK_OUT` line: per-dir min times and
    * per-decade exponents of one query, seconds rounded to 3 places. */
  private[graft] def jsonLine(name: String, dirs: Seq[String],
      times: Seq[Double], exps: Seq[Double], passes: Int,
      calib: Double): String = {
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val o = mapper.createObjectNode().put("query", name)
    val (ds, ts, es) = (o.putArray("dirs"), o.putArray("sec"),
      o.putArray("decade_exponents"))
    dirs.foreach(d => ds.add(d))
    times.foreach(t => ts.add(r3(t)))
    exps.foreach(e => es.add(r3(e)))
    o.put("passes", passes).put("calib_spark", r3(calib))
    mapper.writeValueAsString(o)
  }

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args(0).split(",").toSeq else defaults
    val passes = if (args.length > 1) args(1).toInt else 2
    // optional explicit dir list (e.g. a ScaleCorpus output) instead
    // of the three stock sf dirs
    val dirs =
      if (args.length > 2) args(2).split(",").toSeq
      else sfs.map(s => s"/root/testdata/sf$s")
    // Round 22 (VERDICT r21 next-round #3): the sf0.1 bench is
    // dispatch-saturated (8-core == 32-core), so scale evidence for
    // the heavy data-path rows must come from decade sweeps — and it
    // must be a COMMITTED machine artifact, not plan prose. With
    // SPARK_GRAFT_SCALECHECK_OUT set, the sweep appends one JSON
    // object per query to that file: per-dir min times, per-decade
    // fitted exponents, and a Bench-style dispatch probe so the next
    // reader can judge how much of the small-sf floor is job overhead
    // (which UNDERSTATES growth; see the class doc).
    val outPath = sys.env.get("SPARK_GRAFT_SCALECHECK_OUT")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sink = outPath.map(p => new java.io.PrintWriter(
      new java.io.FileWriter(p, /* append = */ true)))
    val calib = {
      // one dispatch-path probe per run (Bench.calibSpark's shape,
      // codegen warmed first so the sample measures the host, not the
      // compiler): ties the artifact to the host state it ran under
      def probe(): Double = {
        val t0 = System.nanoTime()
        spark.range(20000000L).selectExpr("id % 997 AS k")
          .groupBy("k").count().count()
        (System.nanoTime() - t0) / 1e9
      }
      probe(); probe()
    }
    for (name <- names) {
      val q = SparkEntry.queries(name)
      val times = dirs.map { dir =>
        q(spark, dir).count() // warmup
        val t = (1 to passes).map { _ =>
          val t0 = System.nanoTime()
          q(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }.min
        println(f"[scale] $name dir=$dir $t%.3f s")
        t
      }
      // per-step exponents for any adjacent pair of dirs; callers
      // pass decade steps (10x data per step), so exp = log10 ratio
      val exps = times.sliding(2).collect {
        case Seq(a, b) if a > 0 => math.log10(b / a)
      }.toSeq
      if (exps.nonEmpty)
        println(s"[scale] $name exponents: " +
          exps.map(e => f"$e%.2f").mkString(", "))
      sink.foreach { w =>
        w.println(jsonLine(name, dirs, times, exps, passes, calib))
        w.flush()
      }
    }
    sink.foreach(_.close())
    spark.stop()
  }
}
