package graft

import graft.functions.Raster.Chip
import graft.operators.Tx
import graft.operators.Tx.BandChip
import graft.sources.RasterIO
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

/** Driver-resident chips are served in place: `Tx` and `writeChips`
  * over a local Dataset (a `LocalRelation`, as `createDataset(seq)`
  * gives — the per-AOI flow's shape) start no Spark job, while a
  * non-local copy of the same rows still runs as a distributed plan.
  * Jobs are counted by a listener under a job group of this spec's
  * own, with a listener-bus drain around each measured run.
  */
class LocalServeSpec extends AnyFunSuite with SharedSpark {

  private def jobsIn(f: => Unit): Long = {
    val group = s"localserve-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
          group == j.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "local serve")
      try f finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  private def bands: Seq[BandChip] = Seq("B08", "B02", "B04", "B03").map { b =>
    BandChip("sc1", b, Chip(8, 8, 0, 0, 8, 8, 0.0,
      Array.tabulate(64)(i => (i * 97 % 12000).toDouble)))
  }

  test("a local etlProcessByPolygon(...).collect() starts no job; " +
      "a non-local copy still runs distributed") {
    implicit val s = spark
    import s.implicits._
    def run(in: Dataset[BandChip]) =
      Tx.etlProcessByPolygon(in, uint8 = true, clipBox = (2, 2, 6, 6)).collect()
    val local = bands.toDS()
    run(local) // warm
    assert(jobsIn(run(local)) == 0L)
    assert(jobsIn(run(local.repartition(2))) > 0L)
  }

  test("a local writeChips starts no job; a non-local copy still runs " +
      "distributed") {
    import spark.implicits._
    val chips = bands.map(bc => (s"${bc.scene}_${bc.band}", bc.chip)).toDS()
    val out = Files.createTempDirectory("graft-store").toString
    RasterIO.writeChips(chips, out) // warm
    assert(jobsIn(RasterIO.writeChips(chips, out)) == 0L)
    assert(jobsIn(RasterIO.writeChips(chips.repartition(2), out)) > 0L)
    assert(new java.io.File(out).list().length == 4)
  }
}
