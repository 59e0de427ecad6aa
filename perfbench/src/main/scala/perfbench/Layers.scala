package perfbench

/** Per-layer metrics every traced run derives from its spans: the
  * `spark` layer's counters per operation, each layer's self time, and
  * the tracing overhead. Workload-specific layer metrics are added by
  * the workloads themselves.
  */
object Layers {

  /** Layers whose calls the benchmark wraps in spans; a span named
    * `layer` or `layer.<detail>` belongs to `layer`. */
  val spanned: Seq[String] = Seq("sources.http", "sources.jp2",
    "operators.select", "operators.tx", "sources.cache", "operators.index",
    "queries")

  def common(ctx: Ctx): Unit = {
    val r = ctx.report
    val spans = ctx.tracer.all
    // per-operation values are per traced operation of the kind the
    // op_* metrics time (a query, an AOI)
    val primary = r.ops.indices.filter(r.ops(_).primary).map(_.toLong).toSet
    val ops = spans.filter(s => s.name == "op" && primary(s.op))
    val n = math.max(1, ops.size)
    def perOp(f: Span => Double): Double = ops.map(f).sum / n
    def sparkMetric(name: String, unit: String)(f: SparkDelta => Double): Unit =
      r.layer(s"spark.$name", perOp(s => f(s.spark)), unit, ops.size)
    sparkMetric("plan_s", "s")(_.planS)
    sparkMetric("jobs", "count")(_.jobs.toDouble)
    sparkMetric("stages", "count")(_.stages.toDouble)
    sparkMetric("tasks", "count")(_.tasks.toDouble)
    sparkMetric("task_run_s", "s")(_.taskRunS)
    sparkMetric("task_cpu_s", "s")(_.taskCpuS)
    sparkMetric("shuffle_read_bytes", "bytes")(_.shuffleReadBytes.toDouble)
    sparkMetric("shuffle_write_bytes", "bytes")(_.shuffleWriteBytes.toDouble)
    sparkMetric("spill_bytes", "bytes")(_.spillBytes.toDouble)
    sparkMetric("input_bytes", "bytes")(_.inputBytes.toDouble)
    r.layer("spark.driver_floor_s",
      perOp(s => s.seconds - s.spark.taskBusyS), "s", ops.size)

    val self = ctx.tracer.selfSeconds
    def layerOf(name: String): Option[String] =
      spanned.find(l => name == l || name.startsWith(l + "."))
    // per operation that calls the layer: per traced AOI or query, and
    // per churn round for operators.index
    val byLayer = spans.groupBy(s => layerOf(s.name).getOrElse("bench"))
    (spanned :+ "bench").foreach { l =>
      val ss = byLayer.getOrElse(l, Nil)
      val calls = ss.map(_.op).distinct.size
      r.layer(s"$l.self_s", ss.map(s => self(s.id)).sum / math.max(1, calls), "s", calls)
    }

    // tracing overhead: per operation key, median traced minus median
    // untraced seconds; the median over keys
    val diffs = r.ops.filter(o => o.ok && o.primary).groupBy(_.key).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.seconds).toSeq) - Stats.median(u.map(_.seconds).toSeq))
    }.toSeq
    r.layer("trace.overhead_s", if (diffs.isEmpty) 0.0 else Stats.median(diffs),
      "s", diffs.size)
  }
}
