package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Engine counters summed over an interval of the run. */
final case class SparkDelta(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunS: Double = 0, taskCpuS: Double = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0,
    planS: Double = 0,
    /** wall seconds covered by at least one running task */
    taskBusyS: Double = 0)

/** The `spark` layer's instrument: a SparkListener (jobs, executed
  * stages and tasks, task time, shuffle/spill/input bytes, task
  * intervals) plus a QueryExecutionListener (analysis + optimization +
  * planning time from `QueryExecution.tracker`). Registered only on
  * traced runs; [[mark]] drains the listener bus so an interval's
  * events are all counted before it is read.
  */
final class SparkProbe(spark: SparkSession) {
  private final class Task(val start: Long, val end: Long, val runMs: Long,
      val cpuNs: Long, val shRead: Long, val shWrite: Long, val spill: Long,
      val input: Long)
  private val tasks = ArrayBuffer[Task]()
  private var jobs = 0L
  private var stages = 0L
  private val plans = ArrayBuffer[Double]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      SparkProbe.this.synchronized { jobs += 1 }
    // executed stages only: a stage skipped through exchange reuse
    // never completes
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      SparkProbe.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val t = if (m == null) new Task(e.taskInfo.launchTime,
        e.taskInfo.finishTime, 0, 0, 0, 0, 0, 0)
      else new Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
      SparkProbe.this.synchronized { tasks += t }
    }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val s = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      SparkProbe.this.synchronized { plans += s }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  import SparkProbe.Mark

  def mark(): Mark = {
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    synchronized { Mark(tasks.size, jobs, stages, plans.size) }
  }

  def between(a: Mark, b: Mark): SparkDelta = synchronized {
    val ts = tasks.slice(a.tasks, b.tasks)
    SparkDelta(
      jobs = b.jobs - a.jobs, stages = b.stages - a.stages,
      tasks = ts.size,
      taskRunS = ts.map(_.runMs).sum / 1e3,
      taskCpuS = ts.map(_.cpuNs).sum / 1e9,
      shuffleReadBytes = ts.map(_.shRead).sum,
      shuffleWriteBytes = ts.map(_.shWrite).sum,
      spillBytes = ts.map(_.spill).sum,
      inputBytes = ts.map(_.input).sum,
      planS = plans.slice(a.plans, b.plans).sum,
      taskBusyS = Stats.unionSeconds(ts.map(t => (t.start, t.end)).toSeq))
  }
}

object SparkProbe {
  /** Position in the event streams after every posted event is handled. */
  final case class Mark(tasks: Int, jobs: Long, stages: Long, plans: Int)
}

/** One recorded span: a layer call made by the benchmark. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long, spark: SparkDelta) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, [[span]] is a plain call; enabled,
  * it records name, start, end and parent at each layer boundary the
  * benchmark crosses, and the engine counters inside it. Spans of one
  * operation (a query, an AOI, a churn round) share its op id.
  */
final class Tracer(val probe: Option[SparkProbe]) {
  val enabled: Boolean = probe.isDefined
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var op = 0L
  private var on = enabled

  /** Start operation `id`; `record` = false runs it with spans off. */
  def beginOp(id: Long, record: Boolean): Unit = { op = id; on = enabled && record }
  def recording: Boolean = on

  /** Run `body` with spans on when tracing is enabled, whichever half
    * the current operation is in: for work that is timed per layer
    * only and takes no part in the traced-versus-untraced comparison. */
  def recordAll[A](body: => A): A = {
    val was = on
    on = enabled
    try body finally on = was
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      spans += null // reserve the id; parents precede children
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val m0 = probe.get.mark()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val m1 = probe.get.mark()
        stack = stack.tail
        spans(id) = Span(id, parent, op, name, t0, t1, probe.get.between(m0, m1))
      }
    }

  def all: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Seconds of each span not covered by its children. */
  def selfSeconds: Map[Int, Double] = {
    val ss = all
    val kids = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.map { s =>
      val covered = Stats.unionSeconds(kids.getOrElse(s.id, Nil)
        .map(k => (k.startNs, k.endNs)), 1e-9)
      s.id -> (s.seconds - covered)
    }.toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${s.spark.jobs},"tasks":${s.spark.tasks},""" +
        s""""task_cpu_s":${s.spark.taskCpuS},"plan_s":${s.spark.planS}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Quantile of (value, weight) samples: linear between the samples'
    * weight midpoints, clamped at the ends. With equal weights the
    * median is the usual one. */
  def weightedQuantile(xs: Seq[(Double, Double)], q: Double): Double = {
    val s = xs.sortBy(_._1)
    if (s.isEmpty) Double.NaN
    else {
      val total = s.map(_._2).sum
      var cum = 0.0
      val mids = s.map { case (_, w) => val m = (cum + w / 2) / total; cum += w; m }
      val j = mids.indexWhere(_ >= q)
      if (j == 0) s.head._1
      else if (j < 0) s.last._1
      else s(j - 1)._1 + (s(j)._1 - s(j - 1)._1) * (q - mids(j - 1)) / (mids(j) - mids(j - 1))
    }
  }

  def weightedMean(xs: Seq[(Double, Double)]): Double =
    if (xs.isEmpty) 0.0 else xs.map { case (v, w) => v * w }.sum / xs.map(_._2).sum

  /** Total length of the union of [start, end] intervals, in seconds
    * (`unit` = seconds per interval tick; milliseconds by default). */
  def unionSeconds(iv: Seq[(Long, Long)], unit: Double = 1e-3): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total * unit
  }

  /** Peak resident set size of this process in MiB (VmHWM). */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
