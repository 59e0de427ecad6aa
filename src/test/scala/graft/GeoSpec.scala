package graft

import graft.functions.{Geo, GeoFunctions, GeoKernel}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Geometry kernel: golden values from the reference's own AOI
  * (`/root/reference/data/toulouse_bbox_wgs84.geojson:6` — lon
  * 1.2047..1.5121, lat 43.3882..43.6620) + algebraic properties over
  * seeded random inputs (the scalatest/scalacheck bridge artifact is
  * not in the offline cache, so properties run as plain loops).
  */
class GeoSpec extends AnyFunSuite with SharedSpark {

  private val toulouse =
    "POLYGON ((1.2047 43.3882, 1.5121 43.3882, 1.5121 43.6620, 1.2047 43.6620, 1.2047 43.3882))"
  private val toulouseArea = (1.5121 - 1.2047) * (43.6620 - 43.3882)

  test("area of the reference AOI bbox") {
    assert(math.abs(Geo.area(toulouse) - toulouseArea) < 1e-12)
  }

  test("envelope round-trips the bbox") {
    assert(Geo.envelope(toulouse) == ((1.2047, 43.3882, 1.5121, 43.6620)))
  }

  test("parse MULTIPOLYGON sums areas") {
    val mp = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 0, 4 0, 4 1, 2 1, 2 0)))"
    assert(math.abs(Geo.area(mp) - 3.0) < 1e-12)
  }

  test("interior rings subtract from area; hole-aware containment") {
    val holed = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    assert(math.abs(Geo.area(holed) - 15.0) < 1e-12)
    val polys = Geo.parseWktFull(holed)
    assert(polys.size == 1 && polys.head._2.size == 1)
    assert(Geo.containsPointFull(polys, 3.0, 3.0))   // in shell
    assert(!Geo.containsPointFull(polys, 1.5, 1.5))  // in hole
    assert(!Geo.containsPointFull(polys, 5.0, 5.0))  // outside
    // multipolygon with a hole in the first part
    val mp = "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1)), ((10 0, 11 0, 11 1, 10 1, 10 0)))"
    assert(math.abs(Geo.area(mp) - 16.0) < 1e-12)
    assert(Geo.containsPointFull(Geo.parseWktFull(mp), 10.5, 0.5))
  }

  test("intersection area: half-overlapping boxes") {
    val a = Geo.toWkt(Geo.boxRing(0, 0, 2, 2))
    val b = Geo.toWkt(Geo.boxRing(1, 0, 3, 2))
    assert(math.abs(Geo.intersectionArea(a, b) - 2.0) < 1e-12)
  }

  test("intersection with a non-axis-aligned footprint (triangle)") {
    // triangle (0,0)(4,0)(0,4) clipped by box [0,2]x[0,2]:
    // area = 4 - 0.5*2*2/... -> the box corner (2,2) is outside the
    // hypotenuse x+y=4, clipped region = box minus nothing above line:
    // region = {x,y in [0,2], x+y<=4} = whole box = 4? No: hypotenuse
    // passes through (2,2) exactly, so the full box is inside. area=4...
    // Use box [1,3]x[1,3]: region {x+y<=4} in that box is half = 2.
    val tri = "POLYGON ((0 0, 4 0, 0 4, 0 0))"
    val box = Geo.toWkt(Geo.boxRing(1, 1, 3, 3))
    assert(math.abs(Geo.intersectionArea(tri, box) - 2.0) < 1e-9)
  }

  test("malformed and unsupported WKT fail loudly, not silently") {
    assertThrows[IllegalArgumentException](Geo.parseWkt("LINESTRING (0 0, 1 1)"))
    assertThrows[IllegalArgumentException](Geo.parseWkt("POLYGON 0 0, 1 1"))
    assertThrows[IllegalArgumentException](Geo.area("not wkt at all"))
    // non-convex clip polygon is rejected, never mis-computed
    val nonConvex = "POLYGON ((0 0, 4 0, 2 1, 4 4, 0 4, 0 0))"
    val box = Geo.toWkt(Geo.boxRing(0, 0, 1, 1))
    assertThrows[IllegalArgumentException](Geo.intersectionArea(box, nonConvex))
  }

  test("disjoint geometries do not intersect") {
    val a = Geo.toWkt(Geo.boxRing(0, 0, 1, 1))
    val b = Geo.toWkt(Geo.boxRing(5, 5, 6, 6))
    assert(!Geo.intersects(a, b))
    assert(Geo.intersectionArea(a, b) == 0.0)
  }

  private def randomBoxes(seed: Int, n: Int): Seq[(Double, Double, Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val x1 = rnd.between(-10.0, 10.0); val y1 = rnd.between(-10.0, 10.0)
      (x1, y1, x1 + rnd.between(0.1, 10.0), y1 + rnd.between(0.1, 10.0))
    }
  }

  test("property: self-intersection area equals area") {
    randomBoxes(42, 100).foreach { case (x1, y1, x2, y2) =>
      val w = Geo.toWkt(Geo.boxRing(x1, y1, x2, y2))
      assert(math.abs(Geo.intersectionArea(w, w) - Geo.area(w)) < 1e-9)
    }
  }

  test("property: intersection area is symmetric and bounded for boxes") {
    randomBoxes(7, 100).zip(randomBoxes(13, 100)).foreach { case (a, b) =>
      val wa = Geo.toWkt(Geo.boxRing(a._1, a._2, a._3, a._4))
      val wb = Geo.toWkt(Geo.boxRing(b._1, b._2, b._3, b._4))
      val ab = Geo.intersectionArea(wa, wb)
      val ba = Geo.intersectionArea(wb, wa)
      assert(math.abs(ab - ba) < 1e-9)
      assert(ab <= math.min(Geo.area(wa), Geo.area(wb)) + 1e-9)
      assert(ab >= 0.0)
      // closed form for axis-aligned boxes
      val ix = math.max(0.0, math.min(a._3, b._3) - math.max(a._1, b._1))
      val iy = math.max(0.0, math.min(a._4, b._4) - math.max(a._2, b._2))
      assert(math.abs(ab - ix * iy) < 1e-9)
    }
  }

  test("st_* scalar expressions compile under CODEGEN_ONLY (no fallback)") {
    GeoFunctions.register(spark)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val row = spark.sql(
        s"""SELECT st_area('$toulouse') AS a,
           |  st_intersection_area('$toulouse', '$toulouse') AS ia,
           |  st_intersects('$toulouse', '$toulouse') AS i,
           |  st_envelope('$toulouse') AS env""".stripMargin).head()
      assert(math.abs(row.getDouble(0) - toulouseArea) < 1e-12)
      assert(row.getBoolean(2))
      assert(row.getSeq[Double](3) == Seq(1.2047, 43.3882, 1.5121, 43.6620))
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("env-derived grid kernels equal the WKT-parsing forms " +
      "(st_grid_cells_env / st_cell_count_env, incl. CODEGEN_ONLY)") {
    GeoFunctions.register(spark)
    // a spread of envelopes incl. negative coords and cell-boundary
    // alignment — the saturating floor math must agree axis by axis
    val wkts = Seq(
      "POLYGON ((20 20, 60 20, 60 60, 20 60, 20 20))",
      "POLYGON ((-7.5 -3.25, 4 -3.25, 4 9, -7.5 9, -7.5 -3.25))",
      "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))",
      toulouse)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try wkts.foreach { w =>
      Seq(1.0, 8.0, 2.5).foreach { cs =>
        val row = spark.sql(
          s"""SELECT st_grid_cells('$w', CAST($cs AS DOUBLE)) AS a,
             |  st_grid_cells_env(st_envelope('$w'), CAST($cs AS DOUBLE)) AS b,
             |  st_cell_count('$w', CAST($cs AS DOUBLE)) AS ca,
             |  st_cell_count_env(st_envelope('$w'), CAST($cs AS DOUBLE)) AS cb
             |""".stripMargin).head()
        assert(row.getSeq[String](0) == row.getSeq[String](1), s"$w @ $cs")
        assert(row.getLong(2) == row.getLong(3), s"$w @ $cs")
        assert(row.getSeq[String](0).size.toLong == row.getLong(2), s"$w @ $cs")
      }
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("grid cells at a saturated Int.MaxValue index: one loop emits " +
      "each cell once") {
    // every index of this envelope saturates to Int.MaxValue on x: a
    // `cx <= cx2; cx += 1` loop would wrap past it and overrun
    val wkt = UTF8String.fromString(
      "POLYGON ((3e9 0, 3.5e9 0, 3.5e9 1.5, 3e9 1.5, 3e9 0))")
    val cells = GeoKernel.gridCells(wkt, 1.0).array.map(_.toString).toSeq
    assert(cells == Seq(s"${Int.MaxValue}:0", s"${Int.MaxValue}:1"))
    assert(GeoKernel.cellCount(wkt, 1.0) == 2L)
    val env = GeoKernel.envelope(wkt)
    assert(GeoKernel.gridCellsEnv(env, 1.0).array.map(_.toString).toSeq == cells)
    assert(GeoKernel.refCell(env, env, 1.0).toString == cells.head)
  }

  test("st_coverage_ratio = st_intersection_area / st_area, null when the second has no area") {
    GeoFunctions.register(spark)
    val half = "POLYGON ((1.3584 43.2, 1.7 43.2, 1.7 43.8, 1.3584 43.8, 1.3584 43.2))"
    val flat = "POLYGON ((1 1, 2 2, 1 1))"
    for ((mode, wholeStage) <- Seq(("CODEGEN_ONLY", "true"), ("NO_CODEGEN", "false"))) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        // the second argument varies by row, so nothing constant-folds
        val rows = spark.range(2).selectExpr(
          s"st_coverage_ratio('$half', IF(id = 0, '$toulouse', '$flat'))",
          s"st_intersection_area('$half', '$toulouse') / st_area('$toulouse')")
          .collect()
        assert(rows(0).getDouble(0) == rows(0).getDouble(1), mode)
        assert(rows(0).getDouble(0) > 0.4 && rows(0).getDouble(0) < 0.6, mode)
        assert(rows(1).isNullAt(0), mode)
      } finally {
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
      }
    }
  }

  test("st_* expressions evaluate through SQL") {
    GeoFunctions.register(spark)
    val row = spark.sql(
      s"""SELECT st_area('$toulouse') AS a,
         |  st_intersection_area('$toulouse', '$toulouse') AS ia,
         |  st_intersects('$toulouse', 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS disj,
         |  st_envelope('$toulouse') AS env""".stripMargin).head()
    assert(math.abs(row.getDouble(0) - toulouseArea) < 1e-12)
    assert(math.abs(row.getDouble(1) - toulouseArea) < 1e-12)
    assert(!row.getBoolean(2))
    assert(row.getSeq[Double](3) == Seq(1.2047, 43.3882, 1.5121, 43.6620))
  }

  // ---- F10: UTM (transverse Mercator) ----------------------------

  test("UTM golden: central-meridian points map to E=500000, N=k0*arc") {
    // Independent cross-check: at the central meridian the northing
    // is exactly k0 times the meridian arc length, which we compute
    // here by numerically integrating the ellipsoid's meridian
    // curvature radius — a formulation disjoint from the Krüger
    // series under test.
    val aEll = 6378137.0; val fEll = 1.0 / 298.257223563
    val e2 = fEll * (2 - fEll)
    def meridianArc(latDeg: Double): Double = {
      val phi = math.toRadians(latDeg)
      val steps = 200000
      val h = phi / steps
      // Simpson's rule over M'(θ) = a(1-e²)/(1-e² sin²θ)^(3/2)
      def m(t: Double) = aEll * (1 - e2) / math.pow(1 - e2 * math.sin(t) * math.sin(t), 1.5)
      var s = m(0) + m(phi)
      var i = 1
      while (i < steps) { s += (if (i % 2 == 1) 4 else 2) * m(i * h); i += 1 }
      s * h / 3
    }
    for (lat <- Seq(10.0, 30.0, 45.0, 60.0, 80.0)) {
      val (e, n) = Geo.Crs.wgs84ToUtm(9.0, lat, zone = 32) // 9°E = zone 32 CM
      assert(math.abs(e - 500000.0) < 1e-6, s"easting at CM, lat=$lat")
      assert(math.abs(n - 0.9996 * meridianArc(lat)) < 1e-3,
        s"northing vs k0*meridian arc at lat=$lat: $n vs ${0.9996 * meridianArc(lat)}")
    }
  }

  test("UTM golden: equator scale and symmetry about the central meridian") {
    // on the equator, northing = 0 exactly
    val (_, n0) = Geo.Crs.wgs84ToUtm(11.5, 0.0, zone = 32)
    assert(math.abs(n0) < 1e-6)
    // easting offsets are antisymmetric about the CM
    val (eE, _) = Geo.Crs.wgs84ToUtm(9.0 + 2.0, 45.0, zone = 32)
    val (eW, _) = Geo.Crs.wgs84ToUtm(9.0 - 2.0, 45.0, zone = 32)
    assert(math.abs((eE - 500000.0) + (eW - 500000.0)) < 1e-6)
    // zone arithmetic
    assert(Geo.Crs.utmZone(1.35) == 31)   // Toulouse AOI
    assert(Geo.Crs.utmZone(9.0) == 32)
    assert(Geo.Crs.utmCentralMeridian(31) == 3.0)
  }

  test("property: UTM forward/inverse round-trip under 1e-7 degrees") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val zone = 1 + rnd.nextInt(60)
      val cm = Geo.Crs.utmCentralMeridian(zone)
      val lon = cm + (rnd.nextDouble() - 0.5) * 6.0
      val lat = -80.0 + rnd.nextDouble() * 164.0
      val north = lat >= 0
      val (e, n) = Geo.Crs.wgs84ToUtm(lon, lat, zone, north)
      val (lon2, lat2) = Geo.Crs.utmToWgs84(e, n, zone, north)
      assert(math.abs(lon2 - lon) < 1e-7 && math.abs(lat2 - lat) < 1e-7,
        s"round-trip drift at zone=$zone lon=$lon lat=$lat")
    }
  }

  test("southern hemisphere carries the 10,000,000 m false northing") {
    val (_, n) = Geo.Crs.wgs84ToUtm(9.0, -30.0, zone = 32, north = false)
    assert(n > 6000000.0 && n < 10000000.0)
    val (lon2, lat2) = Geo.Crs.utmToWgs84(500000.0, n, zone = 32, north = false)
    assert(math.abs(lon2 - 9.0) < 1e-7 && math.abs(lat2 - (-30.0)) < 1e-7)
  }

  test("StIntersectsNoRewrite is an exact evaluation twin of StIntersects") {
    // The SpatialJoinRule fallback marker must agree with the real
    // predicate on every pair (incl. null propagation) — interpreted
    // AND codegen'd — or the oversized-row fallback would return
    // different pairs than the predicate the user wrote.
    import spark.implicits._
    val polys = Seq(
      "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
      "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",
      "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
      "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))", // shares an edge with #1
      null)
    val pairs = for (a <- polys; b <- polys) yield (a, b)
    val df = pairs.toDF("a", "b")
    graft.functions.GeoFunctions.register(spark)
    val got = df.selectExpr("a", "b", "st_intersects(a, b) AS real",
      "st_intersects_norewrite(a, b) AS marker").collect()
    got.foreach { r =>
      assert(r.isNullAt(2) == r.isNullAt(3),
        s"null parity broke for ${r.get(0)} / ${r.get(1)}")
      if (!r.isNullAt(2))
        assert(r.getBoolean(2) == r.getBoolean(3),
          s"value parity broke for ${r.get(0)} / ${r.get(1)}")
    }
    assert(got.count(r => !r.isNullAt(2) && r.getBoolean(2)) > 0)
  }
}
