package graft

import graft.functions.Raster
import graft.functions.Raster.Chip
import graft.operators.Tx
import graft.operators.Tx.BandChip
import graft.plans.LocalObjectFold
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, MapElements, TypedFilter}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

object LocalObjectFoldSpec {
  // Top-level (not suite-nested) so Spark's product encoders resolve
  // without an outer-instance scope.
  case class Inner(a: Int, tags: Seq[String])
  case class Rec(id: Long, name: String, score: Option[Double], inner: Inner,
      extra: Option[Inner])
}

/** [[LocalObjectFold]]: typed `map` and `filter` over a local Dataset
  * fold into a `LocalRelation` whose rows equal the same operation run
  * as a distributed plan; `flatMap`, `mapPartitions` and what is not a
  * batch local input are left alone; a failing function still fails
  * the action; and the folded AOI reproject step starts no job and,
  * warm, compiles no class.
  */
class LocalObjectFoldSpec extends AnyFunSuite with SharedSpark {
  import LocalObjectFoldSpec._

  private def recs(n: Int, seed: Long): Seq[Rec] = {
    val rng = new Random(seed)
    def inner() = Inner(rng.nextInt(), Seq.fill(rng.nextInt(3))(rng.alphanumeric.take(2).mkString))
    Seq.fill(n)(Rec(rng.nextLong(), rng.alphanumeric.take(rng.nextInt(8)).mkString,
      if (rng.nextBoolean()) Some(rng.nextDouble()) else None, inner(),
      if (rng.nextBoolean()) Some(inner()) else None))
  }

  private def folded(ds: Dataset[_]): Boolean =
    ds.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  test("map and filter over a local Dataset fold to a LocalRelation " +
      "equal to the distributed plan's rows; flatMap and mapPartitions " +
      "stay unfolded") {
    LocalObjectFold.install(spark)
    import spark.implicits._
    // (name, op, the same over a Seq, whether it folds)
    val ops: Seq[(String, Dataset[Rec] => Dataset[_], Seq[Rec] => Seq[Any], Boolean)] = Seq(
      ("map", _.map(r => r.copy(name = r.name.reverse, score = r.score.map(_ * 2))),
        _.map(r => r.copy(name = r.name.reverse, score = r.score.map(_ * 2))), true),
      ("map to a tuple", _.map(r => (r.id % 7, r.extra.map(_.tags.size))),
        _.map(r => (r.id % 7, r.extra.map(_.tags.size))), true),
      ("flatMap", _.flatMap(r => r.inner.tags.map(t => (r.id, t))),
        _.flatMap(r => r.inner.tags.map(t => (r.id, t))), false),
      ("filter", _.filter(r => r.score.exists(_ > 0.5)),
        _.filter(r => r.score.exists(_ > 0.5)), true),
      ("mapPartitions", _.mapPartitions(_.map(r => r.inner.a.toLong + r.id)),
        _.map(r => r.inner.a.toLong + r.id), false),
      ("map then filter", _.map(_.inner).filter(_.a % 2 == 0),
        _.map(_.inner).filter(_.a % 2 == 0), true))
    for ((n, seed) <- Seq((0, 1L), (1, 2L), (37, 3L), (300, 4L))) {
      val in = recs(n, seed)
      val local = in.toDS()
      ops.foreach { case (name, op, scala, folds) =>
        val (l, d) = (op(local), op(local.repartition(2)))
        val tag = s"$name over $n rows"
        // Spark folds anything over an empty input to a LocalRelation
        if (folds || n > 0)
          assert(folded(l) == folds, s"$tag:\n${l.queryExecution.optimizedPlan}")
        if (n > 0) assert(!folded(d), tag)
        val got = l.collect().toSeq
        assert(got == scala(in), tag) // in input order
        assert(got.map(_.toString).sorted == d.collect().toSeq.map(_.toString).sorted, tag)
      }
    }
  }

  test("a function that throws still fails collect(), with its exception " +
      "as the cause") {
    LocalObjectFold.install(spark)
    import spark.implicits._
    val local = recs(5, 7L).toDS()
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    Seq[Dataset[Rec] => Dataset[_]](
      _.map(r => if (r.id != 0) throw new IllegalStateException("boom") else r),
      _.filter(_ => throw new IllegalStateException("boom"))).foreach { op =>
      val e = intercept[Exception](op(local).collect())
      assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage == "boom"), e.toString)
    }
  }

  test("a non-local input and a streaming LocalRelation are not rewritten") {
    LocalObjectFold.install(spark)
    import spark.implicits._
    def hasTypedOp(p: LogicalPlan) = p.exists {
      case _: MapElements | _: TypedFilter => true
      case _ => false
    }
    val range = spark.range(5).as[Long].map(_ + 1)
    assert(hasTypedOp(range.queryExecution.optimizedPlan))
    assert(!LocalObjectFold.servesInPlace(range))
    val local = recs(4, 9L).toDS()
    for (op <- Seq[Dataset[Rec] => Dataset[_]](_.map(_.id), _.filter(_.id > 0))) {
      val streaming = op(local).queryExecution.analyzed.transform {
        case r: LocalRelation => r.copy(isStreaming = true)
      }
      assert(hasTypedOp(streaming))
      assert(LocalObjectFold(streaming) eq streaming)
      // and the batch form is folded by the rule itself
      assert(!hasTypedOp(LocalObjectFold(op(local).queryExecution.analyzed)))
    }
  }

  test("installed via GraftExtensions (injectOptimizerRule) it folds " +
      "too, and a warm call with other data compiles no class") {
    // The extensions install puts the rule in the operator-optimization
    // fixed-point batch, before Spark canonicalizes lambda variable
    // ids; `spark.sql.extensions` is static, so drive that path with
    // `withExtensions` on the shared context.
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions())
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      assert(!ext.experimental.extraOptimizations.contains(LocalObjectFold))
      import ext.implicits._
      def run(seed: Long): Unit = {
        val in = recs(20, seed)
        val ds = in.toDS().map(r => r.copy(name = r.name * 2)).filter(_.id % 3 != 0)
        assert(folded(ds), ds.queryExecution.optimizedPlan)
        assert(ds.collect().toSeq ==
          in.map(r => r.copy(name = r.name * 2)).filter(_.id % 3 != 0))
      }
      run(31L)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      run(32L)
      assert(compiles.getCount == before,
        s"${compiles.getCount - before} classes compiled for the second call")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def aoiBands(seed: Long): Seq[BandChip] = {
    val rng = new Random(seed)
    Seq("B08", "B02", "B04", "B03").map { b =>
      BandChip("sc1", b, Chip(16, 16, 360000.0, 4816000.0, 360160.0, 4816160.0,
        0.0, Array.fill(256)(rng.nextInt(12000).toDouble)))
    }
  }

  /** The AOI flow's clip → reproject step, as a caller composes it. */
  private def clipAndReproject(bands: Seq[BandChip]): Array[Tx.Scene] = {
    implicit val s = spark
    import s.implicits._
    Tx.etlProcessByPolygon(bands.toDS(), uint8 = true,
      clipBox = (360020.0, 4816020.0, 360140.0, 4816140.0))
      .map(sc => sc.copy(chips = sc.chips.map(c => Raster.reprojectUtmToWgs84(c, 31))))
      .collect()
  }

  test("etlProcessByPolygon(local).map(reproject).collect() starts no " +
      "job and matches the reproject applied on the driver") {
    implicit val s = spark
    import s.implicits._
    val bands = aoiBands(11L)
    clipAndReproject(bands) // warm
    var got: Array[Tx.Scene] = null
    assert(dispatched { got = clipAndReproject(bands) }.jobs == 0L)
    val want = Tx.etlProcessByPolygon(bands.toDS(), uint8 = true,
      clipBox = (360020.0, 4816020.0, 360140.0, 4816140.0)).collect()
      .map(sc => sc.copy(chips = sc.chips.map(c => Raster.reprojectUtmToWgs84(c, 31))))
    assert(got.map(sc => (sc.scene, sc.bands, sc.chips.map(_.px.toSeq))).toSeq ==
      want.map(sc => (sc.scene, sc.bands, sc.chips.map(_.px.toSeq))).toSeq)
  }

  test("a second folded call with other data compiles no class") {
    clipAndReproject(aoiBands(21L))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    clipAndReproject(aoiBands(22L))
    assert(compiles.getCount == before,
      s"${compiles.getCount - before} classes compiled for the second call")
  }
}
