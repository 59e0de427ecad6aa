package graft

import graft.functions.Raster.Chip
import graft.operators.Tx
import graft.operators.Tx.BandChip
import graft.sources.RasterIO
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Driver-resident chips are served in place: `Tx` and `writeChips`
  * over a local Dataset (one whose optimized plan is a
  * `LocalRelation`, as `createDataset(seq)` gives — the per-AOI
  * flow's shape — also behind typed operators that
  * `LocalObjectFold` folds) start no Spark job, while a non-local
  * copy of the same rows still runs as a distributed plan. Jobs are
  * counted by `SharedSpark.dispatched`.
  */
class LocalServeSpec extends AnyFunSuite with SharedSpark {

  private def jobsIn(f: => Unit): Long = dispatched(f).jobs

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

  test("a local input behind a typed map or filter is still served in " +
      "place: writeChips(local.map(identity)) and " +
      "etlProcessByPolygon(local.filter(...)) start no job") {
    implicit val s = spark
    import s.implicits._
    val chips = bands.map(bc => (s"${bc.scene}_${bc.band}", bc.chip)).toDS()
    val out = Files.createTempDirectory("graft-store").toString
    RasterIO.writeChips(chips.map(identity), out) // warm
    assert(jobsIn(RasterIO.writeChips(chips.map(identity), out)) == 0L)
    assert(new java.io.File(out).list().length == 4)
    def run(in: Dataset[BandChip]) =
      Tx.etlProcessByPolygon(in, uint8 = true, clipBox = (2, 2, 6, 6)).collect()
    val local = bands.toDS()
    val want = run(local)
    run(local.filter(_ => true)) // warm
    var got: Array[Tx.Scene] = null
    assert(jobsIn { got = run(local.filter(_ => true)) } == 0L)
    assert(got.map(sc => (sc.scene, sc.bands, sc.chips.map(_.px.toSeq))).toSeq ==
      want.map(sc => (sc.scene, sc.bands, sc.chips.map(_.px.toSeq))).toSeq)
  }
}
