package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

trait SharedSpark extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SharedSpark.session

  /** What `f` dispatched on the shared context (see
    * [[SharedSpark.dispatched]]).
    */
  def dispatched(f: => Any): SharedSpark.Dispatch = SharedSpark.dispatched(spark)(f)
}

/** One session for the whole forked test JVM (sbt Test/fork := true). */
object SharedSpark {
  lazy val session: SparkSession = {
    // keep derby + warehouse artifacts out of the repo tree
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs started, and stages and tasks executed, by one measured run. */
  final case class Dispatch(jobs: Long, stages: Long, tasks: Long)

  /** Runs `f` under a job group of its own and counts what it
    * dispatched: jobs by the group property, stages and tasks by
    * membership in those jobs' stage sets. Only executed stages count
    * (`onStageCompleted`, which a skipped, exchange-reused stage never
    * reaches), and a listener-bus drain before and after the run
    * replaces a fixed sleep. The context is shared by every suite, so
    * the group keeps other suites' jobs out of the count; a streaming
    * query still running on other threads dispatches group-less jobs
    * and is not counted either.
    */
  def dispatched(spark: SparkSession)(f: => Any): Dispatch = {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val group = s"dispatch-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicLong(); val stages = new AtomicLong()
    val tasks = new AtomicLong()
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
          group == j.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet()
          j.stageInfos.foreach(si => groupStages.add(si.stageId))
        }
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit =
        if (groupStages.contains(st.stageInfo.stageId)) {
          stages.incrementAndGet()
          tasks.addAndGet(st.stageInfo.numTasks.toLong)
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "dispatch count")
      try f finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    Dispatch(jobs.get(), stages.get(), tasks.get())
  }
}
