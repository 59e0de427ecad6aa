package graft

import graft.functions.Raster
import graft.functions.Raster.{Chip, PChip}
import graft.operators.Tx
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Raster kernels R1–R5 (SURVEY.md §2.10): golden values + the
  * properties SURVEY §5 calls out (normalize clamp bounds,
  * monotonicity, px=10000 → 255; mosaic first-wins invariance to
  * input permutation).
  */
class RasterSpec extends AnyFunSuite with SharedSpark {

  // ---- R1 normalize ------------------------------------------------
  test("normalize: golden points") {
    assert(Raster.normalizeS2Scalar(0.0) == 0)
    assert(Raster.normalizeS2Scalar(10000.0) == 255)
    assert(Raster.normalizeS2Scalar(20000.0) == 255) // clamp high
    assert(Raster.normalizeS2Scalar(-5.0) == 0)      // clamp low
    assert(Raster.normalizeS2Scalar(5000.0) == 127)
  }

  test("normalize: monotone and bounded over a sweep") {
    val xs = (-2000 to 22000 by 37).map(_.toDouble)
    val ys = xs.map(Raster.normalizeS2Scalar)
    assert(ys.forall(y => y >= 0 && y <= 255))
    assert(ys.zip(ys.tail).forall { case (a, b) => a <= b })
  }

  test("normalize column form matches scalar form (codegen'd builtin)") {
    import spark.implicits._
    val xs = Seq(-100.0, 0.0, 123.0, 5000.0, 9999.9, 10000.0, 15000.0)
    val df = xs.toDF("x").agg(collect_list(col("x")).as("px"))
      .select(Raster.normalizeS2(col("px")).as("norm"))
    val got = df.head().getSeq[Int](0)
    assert(got == xs.map(Raster.normalizeS2Scalar))
  }

  // ---- R2 band stack ----------------------------------------------
  test("band stack orders bands lexicographically per scene") {
    implicit val s = spark
    import s.implicits._
    def chip(v: Double) = Chip(1, 1, 0, 0, 1, 1, -1.0, Array(v))
    val ds = Seq(
      ("t1", "B08", 8.0), ("t1", "B02", 2.0),
      ("t1", "B04", 4.0), ("t1", "B03", 3.0),
      ("t2", "B03", 30.0), ("t2", "B02", 20.0)
    ).map { case (sc, b, v) => Tx.BandChip(sc, b, chip(v)) }.toDS()
      .repartition(2)
    val out = Tx.bandStack(ds).collect().sortBy(_.scene)
    assert(out.map(_.scene).toSeq == Seq("t1", "t2"))
    assert(out(0).bands == Seq("B02", "B03", "B04", "B08"))
    assert(out(0).chips.map(_.px.toSeq) ==
      Seq(Seq(2.0), Seq(3.0), Seq(4.0), Seq(8.0)))
    assert(out(0).chips.length == 4)
    assert(out(1).bands == Seq("B02", "B03"))
    assert(out(1).chips.map(_.px.toSeq) == Seq(Seq(20.0), Seq(30.0)))
  }

  // ---- R3 clip ----------------------------------------------------
  private def gridChip(w: Int, h: Int, minx: Double, miny: Double,
      cell: Double): Chip =
    Chip(w, h, minx, miny, minx + w * cell, miny + h * cell, -1.0,
      Array.tabulate(w * h)(i => i.toDouble))

  test("clipByBox crops to the pixel window") {
    // 4x4 grid over [0,4]x[0,4], 1.0 cells; px = row-major index,
    // row 0 = north (y in [3,4)).
    val c = gridChip(4, 4, 0, 0, 1.0)
    val clipped = Raster.clipByBox(c, 1.0, 1.0, 3.0, 3.0)
    assert(clipped.width == 2 && clipped.height == 2)
    assert((clipped.minx, clipped.miny, clipped.maxx, clipped.maxy) == ((1.0, 1.0, 3.0, 3.0)))
    // rows 1..2, cols 1..2 of the 4x4 index grid
    assert(clipped.px.toSeq == Seq(5.0, 6.0, 9.0, 10.0))
  }

  test("clipByBox with box beyond bounds returns the full chip") {
    val c = gridChip(3, 3, 0, 0, 1.0)
    val clipped = Raster.clipByBox(c, -5, -5, 10, 10)
    assert(clipped.width == 3 && clipped.height == 3)
    assert(clipped.px.toSeq == c.px.toSeq)
  }

  test("maskByPolygon crops to envelope and nodatas outside the polygon") {
    // 4x4 grid over [0,4]^2, mask by triangle (0,0)(4,0)(0,4)
    val c = gridChip(4, 4, 0, 0, 1.0).copy(nodata = -1.0)
    val masked = Raster.maskByPolygon(c, "POLYGON ((0 0, 4 0, 0 4, 0 0))")
    assert(masked.width == 4 && masked.height == 4)
    // pixel centers (x+0.5, y+0.5); inside iff x+y < 4 (below hypotenuse)
    val expectInside = for (r <- 0 until 4; cc <- 0 until 4) yield {
      val x = cc + 0.5; val y = 4 - (r + 0.5)
      x + y < 4.0
    }
    val got = masked.px.toSeq.map(_ != -1.0)
    assert(got == expectInside)
  }

  test("CRS transform round-trips and matches known Mercator points") {
    import graft.functions.Geo
    // exact anchors of the spherical Mercator grid
    val (ax, ay) = Geo.Crs.wgs84ToMercator(180.0, 0.0)
    assert(math.abs(ax - 20037508.342789244) < 1e-6 && math.abs(ay) < 1e-3)
    val (mx, my) = Geo.Crs.wgs84ToMercator(1.4442, 43.6047) // Toulouse
    assert(mx > 0 && my > 0 && my > mx) // sanity: NE hemisphere, lat>lon
    val (lon, lat) = Geo.Crs.mercatorToWgs84(mx, my)
    assert(math.abs(lon - 1.4442) < 1e-9 && math.abs(lat - 43.6047) < 1e-9)
    // polygon transform preserves ring shape through round-trip
    val wkt = "POLYGON ((1.2 43.3, 1.5 43.3, 1.5 43.7, 1.2 43.7, 1.2 43.3))"
    val rt = Geo.transformWkt(
      Geo.transformWkt(wkt, Geo.Crs.wgs84ToMercator),
      Geo.Crs.mercatorToWgs84)
    val back = Geo.parseWkt(rt).head
    Geo.parseWkt(wkt).head.zip(back).foreach { case ((ax, ay), (bx, by)) =>
      assert(math.abs(ax - bx) < 1e-9 && math.abs(ay - by) < 1e-9)
    }
  }

  // ---- R4 resample ------------------------------------------------
  test("resampleNearest identity grid returns same pixels") {
    val c = gridChip(4, 4, 0, 0, 1.0)
    val r = Raster.resampleNearest(c, 4, 4, 0, 0, 4, 4)
    assert(r.px.toSeq == c.px.toSeq)
  }

  test("resampleNearest 2x upsample replicates pixels") {
    val c = gridChip(2, 2, 0, 0, 1.0)
    val r = Raster.resampleNearest(c, 4, 4, 0, 0, 2, 2)
    assert(r.px.toSeq == Seq(
      0.0, 0.0, 1.0, 1.0,
      0.0, 0.0, 1.0, 1.0,
      2.0, 2.0, 3.0, 3.0,
      2.0, 2.0, 3.0, 3.0))
  }

  // ---- R4b true CRS warp ------------------------------------------
  test("warpNearest with identity map equals resampleNearest") {
    val c = Chip(2, 2, 0, 0, 2, 2, -1.0, Array(0.0, 1.0, 2.0, 3.0))
    val viaResample = Raster.resampleNearest(c, 4, 4, 0, 0, 2, 2)
    val viaWarp = Raster.warpNearest(c, 4, 4, 0, 0, 2, 2, (x, y) => (x, y))
    assert(viaWarp.px.toSeq == viaResample.px.toSeq)
  }

  test("reprojectUtmToWgs84 lands a UTM chip on the right lon/lat cells") {
    // UTM zone 31 chip near the reference's Toulouse AOI (~1.35E,
    // 43.5N): west half = 1.0, east half = 2.0
    val e0 = 360000.0; val e1 = 368000.0
    val n0 = 4816000.0; val n1 = 4824000.0
    val px = Array.tabulate(8 * 8)(i => if (i % 8 < 4) 1.0 else 2.0)
    val c = Chip(8, 8, e0, n0, e1, n1, 0.0, px)
    val out = Raster.reprojectUtmToWgs84(c, zone = 31)
    // bounds = lon/lat envelope of the UTM corners
    val corners = Seq((e0, n0), (e0, n1), (e1, n0), (e1, n1))
      .map { case (e, n) => graft.functions.Geo.Crs.utmToWgs84(e, n, 31) }
    assert(math.abs(out.minx - corners.map(_._1).min) < 1e-12)
    assert(math.abs(out.maxy - corners.map(_._2).max) < 1e-12)
    assert(out.minx > 1.2 && out.maxx < 1.5 && out.miny > 43.4 && out.maxy < 43.6)
    // a point safely in the west half keeps the west value; east ditto
    def sample(lon: Double, lat: Double): Double = {
      val pw = (out.maxx - out.minx) / out.width
      val ph = (out.maxy - out.miny) / out.height
      val cc = math.floor((lon - out.minx) / pw).toInt
      val r = math.floor((out.maxy - lat) / ph).toInt
      out.px(r * out.width + cc)
    }
    val (wLon, wLat) = graft.functions.Geo.Crs.utmToWgs84(e0 + 1000, (n0 + n1) / 2, 31)
    val (eLon, eLat) = graft.functions.Geo.Crs.utmToWgs84(e1 - 1000, (n0 + n1) / 2, 31)
    assert(sample(wLon, wLat) == 1.0 && sample(eLon, eLat) == 2.0)
  }

  test("reprojectUtmToWgs84's separable kernel equals the generic " +
      "warpNearest with wgs84ToUtm, bit for bit (zones, hemispheres, " +
      "odd sizes)") {
    import graft.functions.Geo.Crs
    /** Compares one chip; returns how many output pixels it sampled. */
    def check(c: Chip, zone: Int, north: Boolean): Int = {
      val got = Raster.reprojectUtmToWgs84(c, zone, north)
      val corners = Seq((c.minx, c.miny), (c.minx, c.maxy),
        (c.maxx, c.miny), (c.maxx, c.maxy))
        .map { case (e, n) => Crs.utmToWgs84(e, n, zone, north) }
      val want = Raster.warpNearest(c, c.width, c.height,
        corners.map(_._1).min, corners.map(_._2).min,
        corners.map(_._1).max, corners.map(_._2).max,
        (lon, lat) => Crs.wgs84ToUtm(lon, lat, zone, north))
      val tag = s"zone=$zone north=$north ${c.width}x${c.height}"
      def grid(x: Chip) = (x.width, x.height, x.minx, x.miny, x.maxx, x.maxy)
      assert(grid(got) == grid(want), tag)
      assert(java.util.Arrays.equals(got.px, want.px), tag)
      got.px.count(_ >= 0)
    }
    val rng = new scala.util.Random(91)
    var sampled = 0L
    for {
      zone <- Seq(1, 17, 31, 32, 60)
      north <- Seq(true, false)
      (w, h) <- Seq((1, 1), (7, 5), (33, 64), (116, 116), (61, 3))
    } {
      // somewhere inside the zone; every pixel value is distinct, so a
      // pixel sampled from the wrong source cell shows
      val e0 = 180000.0 + rng.nextDouble() * 500000.0
      val n0 = (if (north) 0.0 else 1500000.0) + rng.nextDouble() * 7000000.0
      val pw = 10.0 * (1 + rng.nextInt(6))
      val ph = 10.0 * (1 + rng.nextInt(6))
      sampled += check(Chip(w, h, e0, n0, e0 + w * pw, n0 + h * ph, -1.0,
        Array.tabulate(w * h)(_.toDouble)), zone, north)
    }
    assert(sampled > 0, "no output pixel fell inside its source chip")
    // and the grid transform itself, point by point: wgs84ToUtm's values
    for (zone <- Seq(3, 31, 58); north <- Seq(true, false)) {
      val cm = Crs.utmCentralMeridian(zone)
      val lons = Array.fill(40)(cm - 3.0 + rng.nextDouble() * 6.0)
      val lats = Array.fill(30)(-80.0 + rng.nextDouble() * 164.0)
      val (e, n) = Crs.wgs84ToUtmGrid(lons, lats, zone, north)
      for (r <- lats.indices; cc <- lons.indices)
        assert((e(r * lons.length + cc), n(r * lons.length + cc)) ==
          Crs.wgs84ToUtm(lons(cc), lats(r), zone, north), s"zone=$zone")
    }
  }

  // ---- R5 mosaic --------------------------------------------------
  test("mosaic first-wins: lower priority wins overlaps; nodata loses") {
    val a = Chip(2, 1, 0, 0, 2, 1, 0.0, Array(1.0, 1.0))  // covers x[0,2]
    val b = Chip(2, 1, 1, 0, 3, 1, 0.0, Array(2.0, 2.0))  // covers x[1,3]
    val m = Raster.mosaicFirstWins(Seq(PChip(1, a), PChip(2, b)))
    assert(m.width == 3 && m.height == 1)
    assert(m.px.toSeq == Seq(1.0, 1.0, 2.0)) // overlap cell x[1,2] -> a (prio 1)
  }

  test("mosaic first-wins is invariant to input permutation") {
    val chips = Seq(
      PChip(3, Chip(2, 2, 0, 0, 2, 2, 0.0, Array(3, 3, 3, 3.0))),
      PChip(1, Chip(2, 2, 1, 1, 3, 3, 0.0, Array(1, 1, 1, 1.0))),
      PChip(2, Chip(2, 2, 0, 1, 2, 3, 0.0, Array(2, 2, 2, 2.0))))
    val base = Raster.mosaicFirstWins(chips).px.toSeq
    chips.permutations.foreach { p =>
      assert(Raster.mosaicFirstWins(p).px.toSeq == base)
    }
  }

  test("MosaicAggregator produces the same mosaic through Spark") {
    import spark.implicits._
    val chips = Seq(
      PChip(2, Chip(2, 1, 1, 0, 3, 1, 0.0, Array(2.0, 2.0))),
      PChip(1, Chip(2, 1, 0, 0, 2, 1, 0.0, Array(1.0, 1.0))))
    val ds = spark.createDataset(chips)
    val agg = new Raster.MosaicAggregator(0.0).toColumn
    val out = ds.select(agg).head()
    assert(out.px.toSeq == Seq(1.0, 1.0, 2.0))
  }

  test("MosaicAggregator buffer is O(grid), not O(chips)") {
    // fold many stacked chips through reduce: the buffer must stay
    // one union grid — its pixel count bounded by the union extent,
    // independent of how many chips were folded in
    val agg = new Raster.MosaicAggregator(0.0)
    val chips = (1 to 100).map(i =>
      PChip(i.toLong, Chip(2, 1, 0, 0, 2, 1, 0.0, Array(i.toDouble, i.toDouble))))
    val buf = chips.foldLeft(agg.zero)(agg.reduce)
    assert(buf.grid.px.length == 2 && buf.prio.length == 2)
    assert(agg.finish(buf).px.toSeq == Seq(1.0, 1.0)) // priority 1 wins
  }

  test("MosaicAggregator reduce/merge order-invariant with expansion") {
    val agg = new Raster.MosaicAggregator(0.0)
    val chips = Seq(
      PChip(3, Chip(2, 2, 0, 0, 2, 2, 0.0, Array(3, 3, 3, 3.0))),
      PChip(1, Chip(2, 2, 1, 1, 3, 3, 0.0, Array(1, 1, 1, 1.0))),
      PChip(2, Chip(2, 2, 0, 1, 2, 3, 0.0, Array(2, 2, 2, 2.0))))
    val expected = Raster.mosaicFirstWins(chips)
    chips.permutations.foreach { p =>
      // all through reduce
      val all = agg.finish(p.foldLeft(agg.zero)(agg.reduce))
      assert(all.px.toSeq == expected.px.toSeq, s"reduce order ${p.map(_.priority)}")
      assert((all.minx, all.miny, all.maxx, all.maxy) ==
        (expected.minx, expected.miny, expected.maxx, expected.maxy))
      // split across two partial buffers, then merge
      val b1 = p.take(1).foldLeft(agg.zero)(agg.reduce)
      val b2 = p.drop(1).foldLeft(agg.zero)(agg.reduce)
      assert(agg.finish(agg.merge(b1, b2)).px.toSeq == expected.px.toSeq)
      assert(agg.finish(agg.merge(b2, b1)).px.toSeq == expected.px.toSeq)
    }
  }
}
