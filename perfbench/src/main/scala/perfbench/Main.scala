package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** What one operation of a workload's closed loop returns: its key,
  * whether it completed whole, and whether it counts toward the `op_*`
  * metrics. */
final case class OpResult(key: String, ok: Boolean = true, primary: Boolean = true)

/** One timed operation of a workload's closed loop. */
final case class OpSample(key: String, seconds: Double, traced: Boolean,
    ok: Boolean, primary: Boolean)

/** What a workload run reports: samples, checks, failure counts and
  * per-layer values. [[Main]] derives the end-to-end metrics from it. */
final class Report {
  val ops = mutable.ArrayBuffer[OpSample]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String, Int)]()
  val notes = mutable.LinkedHashMap[String, String]()
  var generateS = 0.0
  var setupS = 0.0

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }
  def layer(name: String, value: Double, unit: String, n: Int): Unit =
    layers(name) = (value, unit, n)
}

/** Everything a workload needs: the session, its arguments, the span
  * recorder, and a scratch directory inside the checkout. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val cores: Int, val work: Path, val tracer: Tracer, val report: Report,
    onLoopStart: () => Unit = () => ()) {
  def traced: Boolean = tracer.enabled

  /** Generate the workload's inputs; the time counts toward set-up. */
  def generate[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally report.generateS += (System.nanoTime() - t0) / 1e9
  }

  /** The set-up before the timed loop: everything a user pays before
    * the first operation, after the inputs are generated. */
  def setup[A](body: => A): A = {
    tracer.beginOp(-1, record = false)
    val t0 = System.nanoTime()
    try body finally report.setupS = (System.nanoTime() - t0) / 1e9
  }

  // picks the traced group of each pair on a traced run
  private val traceCoin = new scala.util.Random(seed * 31 + 7)

  /** The closed loop: one client, the next operation starts when the
    * previous one has finished, until `seconds` have passed and at
    * least `minOps` have run; it stops only after a multiple of `unit`
    * operations. On a traced run one group of `unit`
    * operations in each pair records spans, so the tracing overhead is
    * the difference between the two halves. A seeded coin picks which
    * one, so the choice follows no period of the workload (such as
    * every fourth AOI repeating a product). */
  def loop(minOps: Int, unit: Int = 1)(op: Long => OpResult): Unit = {
    onLoopStart()
    val (gc0, jit0) = jvmBusy()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0L
    var tracedGroup = 0L
    while (System.nanoTime() < deadline || i < minOps || i % unit != 0) {
      val group = i / unit
      if (i % unit == 0 && group % 2 == 0) tracedGroup = group + traceCoin.nextInt(2)
      val rec = !traced || group == tracedGroup
      tracer.beginOp(i, rec)
      val t0 = System.nanoTime()
      val r =
        try tracer.span("op")(op(i))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] operation $i failed: $e")
          OpResult("error", ok = false)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      report.ops += OpSample(r.key, wall, traced && rec, r.ok, r.primary)
      i += 1
      if (i % unit == 0) {
        val took = report.ops.takeRight(unit).map(_.seconds).sum
        System.err.println(f"[perfbench] $i operations, last $unit took $took%.3f s")
      }
    }
    tracer.beginOp(i, record = false)
    val (gc1, jit1) = jvmBusy()
    report.notes("loop_gc_s") = (gc1 - gc0).toString
    report.notes("loop_jit_s") = (jit1 - jit0).toString
  }

  /** Seconds the JVM has spent in garbage collection and in JIT
    * compilation so far. */
  private def jvmBusy(): (Double, Double) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    (gc / 1e3, ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }
}

object Main {
  private val workloads: Map[String, Ctx => Unit] = Map(
    "query_suite" -> QuerySuite.run,
    "aoi_pipeline" -> AoiPipeline.run)

  /** The percentile reported as `op_tail_s`. */
  private val TailQ = 0.75

  def main(argv: Array[String]): Unit =
    // halt, not return: Spark's and the loopback server's threads would
    // keep the process alive
    try { run(argv); Runtime.getRuntime.halt(0) }
    catch { case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(1) }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = args("cores").toInt
    val traceOn = args("trace") == "1"
    val spark = session(s"perfbench-$workload", cores, work)
    val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val bootS = (System.currentTimeMillis() - started) / 1e3
    val report = new Report
    val tracer = new Tracer(if (traceOn) Some(new SparkProbe(spark)) else None)
    val calib = mutable.ArrayBuffer[Double]()
    // on a traced run the host speed is also sampled between set-up and
    // the loop, when the JVM is as warm as in the loop
    val ctx = new Ctx(spark, args("seed").toLong, args("seconds").toDouble,
      cores, work, tracer, report, () => if (traceOn) calib += calibSpark(spark))
    workloads(workload)(ctx)
    // host speed after the loop, on every run: a covariate for the
    // steadiness report, outside set-up and the timed loop
    calib += calibSpark(spark)
    report.notes("calib_spark_s") = calib.last.toString
    if (traceOn) {
      report.layer("host.calib_spark_s", Stats.median(calib.toSeq), "s", calib.size)
      // not an end-to-end metric: JVM heap growth makes it spread by a
      // quarter between runs of one workload
      report.layer("host.rss_peak_mb", Stats.rssPeakMb(), "MiB", 1)
      Layers.common(ctx)
      tracer.writeJson(Paths.get(args("spans")))
    }
    Files.writeString(Paths.get(args("out")), resultJson(report, bootS))
  }

  /** The benchmark's Spark session: `local[cores]`, shuffle partitions
    * = cores, every file it writes under `work`. */
  def session(name: String, cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .appName(name)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A fixed one-shuffle Spark job, the same shape as `graft.Bench`'s
    * host calibration: a covariate for host speed, never a gate. */
  private def calibSpark(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L).selectExpr("id % 997 AS k").groupBy("k").count().count()
    (System.nanoTime() - t0) / 1e9
  }

  /** The `op_*` metrics weigh every operation key the same (a query of
    * query_suite, whichever number of times the loop ran it), so a loop
    * that ends inside a pass does not tilt the mix toward the queries
    * at the start of the pass. */
  private def resultJson(r: Report, bootS: Double): String = {
    val okOps = r.ops.filter(o => o.ok && o.primary && !o.traced).toSeq
    val perKey = okOps.groupBy(_.key).map { case (k, os) => k -> os.size }
    val ok = okOps.map(o => (o.seconds, 1.0 / perKey(o.key)))
    val tail = Stats.weightedQuantile(ok, TailQ)
    val e2e = Seq(
      ("setup_s", bootS + r.generateS + r.setupS, "s", 1),
      ("op_p50_s", Stats.weightedQuantile(ok, 0.5), "s", ok.size),
      ("op_tail_s", tail, "s", ok.size),
      ("op_mean_s", Stats.weightedMean(ok), "s", ok.size))
    r.notes("op_seconds") = okOps.map(o => f"${o.seconds}%.3f").mkString(" ")
    r.notes("op_keys") = perKey.size.toString
    r.notes("op_tail_quantile") = TailQ.toString
    r.notes("ops_beyond_tail") = ok.count(_._1 > tail).toString
    r.notes("boot_s") = bootS.toString
    r.notes("generate_s") = r.generateS.toString
    r.notes("setup_s") = r.setupS.toString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("attempted", r.ops.size).put("failed", r.ops.count(!_.ok))
    def metrics(field: String, ms: Iterable[(String, Double, String, Int)]): Unit = {
      val node = root.putObject(field)
      ms.foreach { case (name, v, unit, n) =>
        node.putObject(name).put("value", v).put("unit", unit).put("samples", n)
      }
    }
    metrics("end_to_end", e2e)
    metrics("per_layer", r.layers.map { case (k, (v, u, n)) => (k, v, u, n) })
    val checks = root.putArray("checks")
    r.checks.foreach { case (n, c, d) =>
      checks.addObject().put("name", n).put("ok", c).put("detail", d)
    }
    val notes = root.putObject("notes")
    r.notes.foreach { case (k, v) => notes.put(k, v) }
    mapper.writeValueAsString(root)
  }
}
