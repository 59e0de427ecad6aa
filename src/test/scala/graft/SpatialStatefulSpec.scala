package graft

import graft.functions.Geo
import graft.operators.SpatialJoin
import graft.streaming.StatefulSessions
import graft.streaming.StatefulSessions.SessionEvent
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

object SpatialStatefulSpec {
  case class G(id: String, geom: String)
}

/** Grid-bucketed spatial join (J1 at scale) + flatMapGroupsWithState
  * sessionizer.
  */
class SpatialStatefulSpec extends AnyFunSuite with SharedSpark {
  import SpatialStatefulSpec._

  private def box(id: String, x1: Double, y1: Double, x2: Double, y2: Double) =
    G(id, Geo.toWkt(Geo.boxRing(x1, y1, x2, y2)))

  test("grid join finds exactly the intersecting pairs, each once") {
    import spark.implicits._
    // footprints spanning multiple 1.0-pitch cells (dedup must hold)
    val products = Seq(
      box("p1", 0.2, 0.2, 2.8, 1.8),   // spans 6 cells
      box("p2", 5.0, 5.0, 6.0, 6.0),
      box("p3", -3.0, -3.0, -2.5, -2.5)).toDF("pid", "footprint")
    val aois = Seq(
      box("a1", 1.0, 0.5, 1.5, 1.0),   // inside p1
      box("a2", 2.5, 1.5, 5.5, 5.5),   // overlaps p1 corner AND p2
      box("a3", 10.0, 10.0, 11.0, 11.0)).toDF("aid", "aoi") // nothing
    val got = SpatialJoin.intersectJoin(spark, products, aois,
        "footprint", "aoi", cellSize = 1.0)
      .select("pid", "aid").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == Seq(("p1", "a1"), ("p1", "a2"), ("p2", "a2")))
  }

  test("grid join agrees with the brute-force cross join") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val left = (1 to 25).map { i =>
      val x = rnd.between(-5.0, 5.0); val y = rnd.between(-5.0, 5.0)
      box(s"l$i", x, y, x + rnd.between(0.2, 3.0), y + rnd.between(0.2, 3.0))
    }.toDF("lid", "lg")
    val right = (1 to 25).map { i =>
      val x = rnd.between(-5.0, 5.0); val y = rnd.between(-5.0, 5.0)
      box(s"r$i", x, y, x + rnd.between(0.2, 3.0), y + rnd.between(0.2, 3.0))
    }.toDF("rid", "rg")
    val gridded = SpatialJoin.intersectJoin(spark, left, right, "lg", "rg", 1.0)
      .select("lid", "rid").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val brute = left.crossJoin(right).collect().flatMap { r =>
      val lg = r.getString(1); val rg = r.getString(3)
      if (Geo.intersects(lg, rg)) Some((r.getString(0), r.getString(2))) else None
    }.toSet
    assert(gridded == brute)
  }

  test("grid join past the Int cell range joins each pair exactly once") {
    import spark.implicits._
    // both envelopes lie below -2^31 * cellSize: every cell index
    // saturates to Int.MinValue, and the reference cell must saturate
    // with them (an ANSI Cast(Long -> Int) of it throws CAST_OVERFLOW)
    val x = -3.0e9
    val left = Seq(box("l1", x, 0.0, x + 2.0, 2.0)).toDF("lid", "lg")
    val right = Seq(box("r1", x + 1.0, 1.0, x + 3.0, 3.0)).toDF("rid", "rg")
    val got = SpatialJoin.intersectJoin(spark, left, right, "lg", "rg", 1.0)
      .select("lid", "rid").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("l1", "r1")))
  }

  test("flatMapGroupsWithState sessionizer: gaps close sessions, state sums") {
    implicit val s = spark
    import s.implicits._
    def ts(m: Int) = new Timestamp(
      Timestamp.valueOf("2024-01-01 10:00:00").getTime + m * 60000L)
    val ev = Seq(
      SessionEvent(1, 10, ts(0), 1.0),
      SessionEvent(1, 11, ts(10), 2.0),
      SessionEvent(1, 12, ts(70), 4.0),  // 60-min gap -> new session
      SessionEvent(2, 20, ts(5), 8.0)).toDS()
    val out = StatefulSessions.sessionize(ev).collect()
      .sortBy(o => (o.user_id, o.session_start.getTime))
    assert(out.map(o => (o.user_id, o.first_id, o.last_id, o.n_events, o.sum_value))
      .toSeq == Seq((1L, 10L, 11L, 2, 3.0), (1L, 12L, 12L, 1, 4.0),
        (2L, 20L, 20L, 1, 8.0)))
    assert(out(0).session_end.getTime - out(0).session_start.getTime == 600000L)
  }
}
