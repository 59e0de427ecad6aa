package perfbench

import graft.QueryModule
import graft.queries._
import org.apache.spark.sql.DataFrame
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** `query_suite`: a fixed set of `graft.SparkEntry` queries over the
  * seeded tables, run warm, one at a time, round robin. Each timed
  * action writes every output row to Spark's `noop` sink, so every
  * output column is computed. The set-up's first run of each query
  * writes its output as parquet for the DuckDB oracle check
  * (`check_oracle.py`).
  */
object QuerySuite {

  val modules: Seq[QueryModule] = Seq(CoreRelational, EventsWindows,
    AdvancedJoins, GeoQueries, FunctionBreadth, TextAnalysis, TrainingData,
    Dedup, SimSearch, CorpusMaintenance, PipelineOps, Analytics,
    MultimodalQueries, ChatData)

  def moduleName(m: QueryModule): String = m.getClass.getSimpleName.stripSuffix("$")
  val moduleNames: Seq[String] = modules.map(moduleName)

  /** The query set: one query of every module, plus q72. Each module's
    * pick has a cheap first run (at most 1 s) and the warm time nearest
    * the module's median, both measured at sf0.01 with [[QueryCosts]]
    * (the table is in METRICS.md), except CoreRelational's flagship q03
    * and Dedup's q28, which with q59 and q72 are the rows with the
    * heaviest tasks at scale. All 221 queries cost minutes cold, far
    * beyond one run. */
  val selected: Seq[String] = Seq(
    "q03_top_revenue",          // CoreRelational: the flagship select→score→pick
    "q34_band_stack",           // EventsWindows
    "q93_salted_join",          // AdvancedJoins
    "q59_spatial_join",         // GeoQueries
    "q72_best_per_aoi",         // GeoQueries
    "q44_correlated_avg",       // FunctionBreadth
    "q86_weighted_sample",      // TextAnalysis
    "q92_seeded_split",         // TrainingData
    "q28_ngram_jaccard",        // Dedup
    "q130_drift_twosided",      // SimSearch
    "q120_release_manifest",    // CorpusMaintenance
    "q98_pmi_collocations",     // PipelineOps
    "q83_zscore_outliers",      // Analytics
    "q180_image_phash_dedup",   // MultimodalQueries
    "q220_assistant_dedup")     // ChatData

  /** Passes run in set-up after each query's first run. Measured on a
    * 4-vCPU VM, the first pass after it took 6.9 s and later ones
    * 5.1–5.7 s: the JIT is still compiling Spark's and the queries' hot
    * paths. */
  val WarmupPasses = 1

  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Unit = {
    val data = ctx.work.resolve("tables").toString
    val index = modules.flatMap(m => m.queries.map { case (k, f) =>
      k -> (moduleName(m), f, m.oracle.get(k)) }).toMap
    val missing = selected.filterNot(index.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val sc = ctx.spark.sparkContext

    // The set-up resolves the tables, builds every memo, runs each
    // query once, writing its output for the oracle check, and then
    // runs WarmupPasses passes of the timed action.
    val out = ctx.work.resolve("query_out")
    // Traced runs also maintain a vector index beside the queries: its
    // numbers are per-layer only, so untraced runs skip it.
    val churn = if (ctx.traced) Some(new IndexChurn(ctx)) else None
    val dfs = ctx.setup {
      val built = selected.map(n => n -> index(n)._2(ctx.spark, data))
      built.foreach { case (n, df) => df.write.parquet(out.resolve(n).toString) }
      churn.foreach(_.setup())
      for (_ <- 0 until WarmupPasses; (_, df) <- built) consume(df)
      built.toMap
    }
    val memoBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

    var builds = 0L
    // a pass: every query once, then one index churn round on traced runs
    val n = selected.size
    val pass = n + churn.size
    // The loop times at least one whole pass, so every query has a
    // sample; the op_* metrics weigh each query the same. A traced run
    // times whole passes, at least two, one with spans and one without.
    ctx.loop(minOps = if (ctx.traced) 2 * pass else pass,
      unit = if (ctx.traced) pass else 1) { i =>
      // every churn round records its spans, so every compaction is
      // timed whichever half its pass falls in
      if (i % pass == n) ctx.tracer.recordAll(churn.get.round())
      else {
        val name = selected((i % pass).toInt)
        val before = if (ctx.tracer.recording) sc.getPersistentRDDs.keySet else Set.empty[Int]
        ctx.tracer.span(s"queries.${index(name)._1}")(consume(dfs(name)))
        if (ctx.tracer.recording) builds += sc.getPersistentRDDs.keySet.count(!before(_))
        OpResult(name)
      }
    }
    churn.foreach(_.finish())

    val oracle = selected.flatMap(n => index(n)._3.map(n -> _))
    ctx.report.check("every selected query has an oracle",
      oracle.size == n, selected.filterNot(index(_)._3.isDefined).mkString(","))
    Files.writeString(ctx.work.resolve("oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracle.toMap.asJava))

    if (ctx.traced) {
      val traced = ctx.report.ops.filter(o => o.traced && o.ok && o.primary)
      val passes = math.max(1.0, traced.size.toDouble / n)
      val byModule = traced.groupBy(o => index(o.key)._1)
      moduleNames.foreach { m =>
        ctx.report.layer(s"queries.$m.s",
          byModule.get(m).map(_.map(_.seconds).sum / passes).getOrElse(0.0), "s",
          byModule.get(m).map(_.size).getOrElse(0))
      }
      ctx.report.layer("memo.builds", builds / passes, "count", traced.size)
      ctx.report.layer("memo.cached_bytes", memoBytes, "bytes", 1)
    }
  }
}
