package graft.functions

/** Planar geometry kernel over WKT strings — the engine's analog of the
  * reference's shapely usage (SURVEY.md §2.9 F9):
  * `shapely.from_wkt` / `.wkt` (reference `code/dataset.py:38`,
  * `code/imagery_store.py:268`), `.bounds` (`code/dataset.py:38-40`),
  * `box(*coords)` (`code/imagery_store.py:46`), `.area`
  * (`code/imagery_store.py:246,250`) and the overlay-intersection area
  * that drives product scoring (`code/imagery_store.py:249-251`).
  *
  * Pure Scala, no third-party geo library (zero-egress build). Exact
  * scope: simple polygons / multipolygons; intersection is computed by
  * Sutherland–Hodgman clipping of the subject polygon against a CONVEX
  * clip polygon. The reference's AOI is always an axis-aligned bbox
  * (`data/toulouse_bbox_wgs84.geojson:6`), which is convex, so this
  * covers the shipped behavior exactly; non-convex clip polygons are
  * rejected with an IllegalArgumentException rather than silently
  * mis-computed.
  */
object Geo {

  type Ring = Array[(Double, Double)] // closed or open; treated as cyclic

  /** Parse WKT POLYGON/MULTIPOLYGON/POINT. Returns outer rings only
    * (the reference never uses holes). Case-insensitive, tolerant of
    * arbitrary whitespace.
    */
  def parseWkt(wkt: String): Seq[Ring] = {
    val s = wkt.trim
    val upper = s.toUpperCase
    if (upper.startsWith("POLYGON")) Seq(firstRing(body(s)))
    else if (upper.startsWith("MULTIPOLYGON")) {
      // body = ((r1),(r2)),((r3)) — split polygons at top nesting level
      splitTopLevel(body(s)).map(p => firstRing(p))
    } else if (upper.startsWith("POINT")) {
      val xy = body(s).split("[\\s,]+").filter(_.nonEmpty).map(_.toDouble)
      Seq(Array((xy(0), xy(1))))
    } else throw new IllegalArgumentException(s"unsupported WKT: ${s.take(40)}")
  }

  /** Strip the type tag and ONE outer paren layer: "POLYGON ((...))" -> "(...)". */
  private def body(s: String): String = {
    val open = s.indexOf('(')
    val close = s.lastIndexOf(')')
    require(open >= 0 && close > open, s"malformed WKT: ${s.take(40)}")
    s.substring(open + 1, close).trim
  }

  /** First ring of a polygon body "(x y, x y, ...), (hole...)". */
  private def firstRing(polyBody: String): Ring = {
    val b = polyBody.trim
    val inner = if (b.startsWith("(")) {
      val close = matchingParen(b, 0)
      b.substring(1, close)
    } else b
    inner.split(",").map { pt =>
      val xy = pt.trim.split("\\s+")
      (xy(0).toDouble, xy(1).toDouble)
    }
  }

  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0; var i = open
    while (i < s.length) {
      if (s(i) == '(') depth += 1
      else if (s(i) == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    throw new IllegalArgumentException("unbalanced parens in WKT")
  }

  /** Split "((..)),((..))" into top-level "((..))" chunks. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i).trim; start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start).trim
    out.result().map { chunk =>
      val c = chunk.trim
      if (c.startsWith("(")) c.substring(1, matchingParen(c, 0)) else c
    }
  }

  /** Points of a ring chunk (parens already stripped). */
  private def parsePoints(chunk: String): Ring = {
    val c = chunk.trim
    val inner = if (c.startsWith("(")) c.substring(1, matchingParen(c, 0)) else c
    inner.split(",").map { pt =>
      val xy = pt.trim.split("\\s+")
      (xy(0).toDouble, xy(1).toDouble)
    }
  }

  /** Full parse with interior rings: per polygon, (outer, holes).
    * POINT and other ringless geometries fall back to [[parseWkt]]
    * with no holes.
    */
  def parseWktFull(wkt: String): Seq[(Ring, Seq[Ring])] = {
    val s = wkt.trim
    val upper = s.toUpperCase
    if (upper.startsWith("POLYGON")) {
      val rings = splitTopLevel(body(s)).map(parsePoints)
      Seq((rings.head, rings.tail))
    } else if (upper.startsWith("MULTIPOLYGON")) {
      splitTopLevel(body(s)).map { poly =>
        val rings = splitTopLevel(poly).map(parsePoints)
        (rings.head, rings.tail)
      }
    } else parseWkt(wkt).map(r => (r, Seq.empty[Ring]))
  }

  /** Serialize a single ring as WKT POLYGON (auto-closing the ring). */
  def toWkt(ring: Ring): String = {
    val closed =
      if (ring.nonEmpty && ring.head == ring.last) ring else ring :+ ring.head
    closed.map { case (x, y) => s"$x $y" }
      .mkString("POLYGON ((", ", ", "))")
  }

  /** Signed shoelace area of one ring (positive = CCW). */
  def signedArea(ring: Ring): Double = {
    val r = if (ring.length > 1 && ring.head == ring.last) ring.dropRight(1) else ring
    if (r.length < 3) return 0.0
    var acc = 0.0
    var i = 0
    while (i < r.length) {
      val (x1, y1) = r(i)
      val (x2, y2) = r((i + 1) % r.length)
      acc += x1 * y2 - x2 * y1
      i += 1
    }
    acc / 2.0
  }

  /** Unsigned planar area of a WKT geometry: sum over polygons of
    * |outer| − Σ|holes| (interior rings subtract, shapely `.area`
    * semantics).
    */
  def area(wkt: String): Double =
    parseWktFull(wkt).map { case (outer, holes) =>
      math.max(0.0,
        math.abs(signedArea(outer)) - holes.map(h => math.abs(signedArea(h))).sum)
    }.sum

  /** Envelope (minx, miny, maxx, maxy). */
  def envelope(wkt: String): (Double, Double, Double, Double) = {
    val pts = parseWkt(wkt).flatten
    require(pts.nonEmpty, "empty geometry")
    (pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max)
  }

  /** Axis-aligned box ring from bounds (the reference's `box(*coords)`,
    * `code/imagery_store.py:46`). CCW order.
    */
  def boxRing(minx: Double, miny: Double, maxx: Double, maxy: Double): Ring =
    Array((minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny))

  private def isConvex(ring: Ring): Boolean = {
    val r = if (ring.length > 1 && ring.head == ring.last) ring.dropRight(1) else ring
    if (r.length < 4) return true
    var sign = 0
    var i = 0
    while (i < r.length) {
      val (ax, ay) = r(i)
      val (bx, by) = r((i + 1) % r.length)
      val (cx, cy) = r((i + 2) % r.length)
      val cross = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
      if (cross != 0.0) {
        val s = if (cross > 0) 1 else -1
        if (sign == 0) sign = s else if (s != sign) return false
      }
      i += 1
    }
    true
  }

  /** Sutherland–Hodgman: clip `subject` by CONVEX `clip` ring. */
  def clipPolygon(subject: Ring, clip: Ring): Ring = {
    require(isConvex(clip), "clip polygon must be convex (reference AOIs are bboxes)")
    var clipR = if (clip.length > 1 && clip.head == clip.last) clip.dropRight(1) else clip
    // ensure CCW so "inside" = left of each directed edge
    if (signedArea(clipR) < 0) clipR = clipR.reverse
    var out: Array[(Double, Double)] =
      if (subject.length > 1 && subject.head == subject.last) subject.dropRight(1)
      else subject
    var i = 0
    while (i < clipR.length && out.length > 0) {
      val (ex1, ey1) = clipR(i)
      val (ex2, ey2) = clipR((i + 1) % clipR.length)
      def inside(p: (Double, Double)): Boolean =
        (ex2 - ex1) * (p._2 - ey1) - (ey2 - ey1) * (p._1 - ex1) >= 0
      def intersect(a: (Double, Double), b: (Double, Double)): (Double, Double) = {
        // line-line intersection, determinant closed form; lines are
        // not parallel when this is called (one endpoint each side)
        val (x1, y1) = a; val (x2, y2) = b
        val n1 = ex1 * ey2 - ey1 * ex2
        val n2 = x1 * y2 - y1 * x2
        val denom = (ex1 - ex2) * (y1 - y2) - (ey1 - ey2) * (x1 - x2)
        ((n1 * (x1 - x2) - n2 * (ex1 - ex2)) / denom,
          (n1 * (y1 - y2) - n2 * (ey1 - ey2)) / denom)
      }
      val next = Array.newBuilder[(Double, Double)]
      var j = 0
      while (j < out.length) {
        val cur = out(j)
        val prev = out((j + out.length - 1) % out.length)
        val curIn = inside(cur); val prevIn = inside(prev)
        if (curIn) {
          if (!prevIn) next += intersect(prev, cur)
          next += cur
        } else if (prevIn) next += intersect(prev, cur)
        j += 1
      }
      out = next.result()
      i += 1
    }
    out
  }

  /** Area of (geomA ∩ geomB) where geomB is convex (the AOI). Sums over
    * A's polygons — the overlay-pieces-then-sum semantics of
    * `gpd.overlay(how='union')` + groupby-sum (SURVEY §2.4 J1 + §2.5 A1).
    */
  def intersectionArea(wktA: String, wktB: String): Double = {
    val clip = parseWkt(wktB).head
    parseWkt(wktA)
      .map(r => math.abs(signedArea(clipPolygon(r, clip))))
      .sum
  }

  /** Exact intersects test (via clipped area, envelope fast-path first). */
  def intersects(wktA: String, wktB: String): Boolean = {
    val (ax1, ay1, ax2, ay2) = envelope(wktA)
    val (bx1, by1, bx2, by2) = envelope(wktB)
    if (ax1 > bx2 || bx1 > ax2 || ay1 > by2 || by1 > ay2) return false
    intersectionArea(wktA, wktB) > 0.0
  }

  /** Even-odd / ray-casting point-in-ring test. */
  private def pointInRing(ring: Ring, x: Double, y: Double): Boolean = {
    val r = if (ring.length > 1 && ring.head == ring.last) ring.dropRight(1) else ring
    var inside = false
    var i = 0
    var j = r.length - 1
    while (i < r.length) {
      val (xi, yi) = r(i); val (xj, yj) = r(j)
      if ((yi > y) != (yj > y) &&
          x < (xj - xi) * (y - yi) / (yj - yi) + xi) inside = !inside
      j = i; i += 1
    }
    inside
  }

  /** Hole-aware point-in-polygon: inside some outer ring AND outside
    * that polygon's interior rings. Used by the raster polygon mask
    * (R3).
    */
  def containsPointFull(polys: Seq[(Ring, Seq[Ring])], x: Double, y: Double): Boolean =
    polys.exists { case (outer, holes) =>
      pointInRing(outer, x, y) && !holes.exists(pointInRing(_, x, y))
    }

  /** F10 — CRS point transform: WGS84 (lon/lat degrees) ↔ spherical
    * Web Mercator (EPSG:3857 meters). The reference's `to_crs`
    * (`code/download_imagery.py:26`) is identity for its WGS84-only
    * flow; this provides the real non-identity pair for everything
    * else. Formulas are the published spherical Mercator equations.
    */
  object Crs {
    private val R = 6378137.0
    def wgs84ToMercator(lon: Double, lat: Double): (Double, Double) =
      (R * math.toRadians(lon),
        R * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2)))
    def mercatorToWgs84(x: Double, y: Double): (Double, Double) =
      (math.toDegrees(x / R),
        math.toDegrees(2 * math.atan(math.exp(y / R)) - math.Pi / 2))

    // ---- UTM (transverse Mercator, WGS84 ellipsoid) ----------------
    // The reference's actual reproject path is product-native UTM →
    // EPSG:4326 (`/root/reference/code/tx.py:49-71`); these are the
    // published Krüger/Karney series in the third flattening n
    // (order n³ — sub-mm over a UTM zone), the same formulation PROJ
    // uses (etmerc/utm).
    private val a = 6378137.0                 // WGS84 semi-major
    private val f = 1.0 / 298.257223563       // WGS84 flattening
    private val n = f / (2.0 - f)             // third flattening
    private val n2 = n * n; private val n3 = n2 * n
    private val A = a / (1.0 + n) * (1.0 + n2 / 4.0 + n2 * n2 / 64.0)
    private val k0 = 0.9996
    private val E0 = 500000.0
    private val alpha = Array(
      n / 2.0 - 2.0 * n2 / 3.0 + 5.0 * n3 / 16.0,
      13.0 * n2 / 48.0 - 3.0 * n3 / 5.0,
      61.0 * n3 / 240.0)
    private val beta = Array(
      n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0,
      n2 / 48.0 + n3 / 15.0,
      17.0 * n3 / 480.0)
    private val delta = Array(
      2.0 * n - 2.0 * n2 / 3.0 - 2.0 * n3,
      7.0 * n2 / 3.0 - 8.0 * n3 / 5.0,
      56.0 * n3 / 15.0)

    /** UTM zone number for a longitude (degrees). */
    def utmZone(lon: Double): Int =
      math.min(60, (math.floor((lon + 180.0) / 6.0) + 1).toInt)

    /** Central meridian (degrees) of a UTM zone. */
    def utmCentralMeridian(zone: Int): Double = zone * 6.0 - 183.0

    /** WGS84 lon/lat (degrees) → UTM (easting, northing) in `zone`.
      * Southern-hemisphere northings carry the 10,000,000 m false
      * northing when `north = false`.
      */
    def wgs84ToUtm(lon: Double, lat: Double, zone: Int,
        north: Boolean = true): (Double, Double) = {
      val t = conformalT(math.toRadians(lat))
      val dLam = math.toRadians(lon - utmCentralMeridian(zone))
      val e = new Array[Double](1); val nn = new Array[Double](1)
      krueger(t, math.sqrt(1.0 + t * t), math.sin(dLam), math.cos(dLam),
        north, e, nn, 0)
      (e(0), nn(0))
    }

    /** [[wgs84ToUtm]] over the grid `lons` × `lats`: entry
      * `r * lons.length + c` of the returned (eastings, northings) is
      * the image of (lons(c), lats(r)), bit for bit. The terms that
      * depend only on latitude (the conformal latitude's `t` and
      * `sqrt(1 + t²)`) are computed once per row, those that depend
      * only on longitude (`sin`/`cos Δλ`) once per column; only the
      * Krüger series runs per point.
      */
    def wgs84ToUtmGrid(lons: Array[Double], lats: Array[Double], zone: Int,
        north: Boolean = true): (Array[Double], Array[Double]) = {
      val w = lons.length
      val sinL = new Array[Double](w); val cosL = new Array[Double](w)
      var c = 0
      while (c < w) {
        val dLam = math.toRadians(lons(c) - utmCentralMeridian(zone))
        sinL(c) = math.sin(dLam); cosL(c) = math.cos(dLam)
        c += 1
      }
      val e = new Array[Double](w * lats.length)
      val nn = new Array[Double](w * lats.length)
      var r = 0
      while (r < lats.length) {
        val t = conformalT(math.toRadians(lats(r)))
        val root = math.sqrt(1.0 + t * t)
        c = 0
        while (c < w) {
          krueger(t, root, sinL(c), cosL(c), north, e, nn, r * w + c)
          c += 1
        }
        r += 1
      }
      (e, nn)
    }

    private val conformalC = 2.0 * math.sqrt(n) / (1.0 + n)

    /** `t = sinh(atanh(sin φ) − c·atanh(c·sin φ))` of the conformal
      * latitude, for φ in radians.
      */
    private def conformalT(phi: Double): Double =
      math.sinh(atanh(math.sin(phi)) - conformalC * atanh(conformalC * math.sin(phi)))

    /** The Krüger series from (t, sqrt(1 + t²), sin Δλ, cos Δλ) to
      * (easting, northing), written to `e(k)` and `nn(k)`. Its
      * sin/cos(2jξ′) and sinh/cosh(2jη′) terms for j = 2, 3 come from
      * the j = 1 values by the angle-addition identities (4
      * transcendental calls instead of 12); they are scaled by
      * α₂ ≈ 7.6e-7 and α₃ ≈ 1.2e-9, so the identities' rounding stays
      * far below a nanometre.
      */
    private def krueger(t: Double, root: Double, sinL: Double, cosL: Double,
        north: Boolean, e: Array[Double], nn: Array[Double], k: Int): Unit = {
      val xiP = math.atan2(t, cosL)
      val etaP = atanh(sinL / root)
      val s2 = math.sin(2.0 * xiP); val c2 = math.cos(2.0 * xiP)
      val sh2 = math.sinh(2.0 * etaP); val ch2 = math.cosh(2.0 * etaP)
      val s4 = 2.0 * s2 * c2; val c4 = c2 * c2 - s2 * s2
      val sh4 = 2.0 * sh2 * ch2; val ch4 = ch2 * ch2 + sh2 * sh2
      val s6 = s2 * c4 + c2 * s4; val c6 = c2 * c4 - s2 * s4
      val sh6 = sh2 * ch4 + ch2 * sh4; val ch6 = ch2 * ch4 + sh2 * sh4
      val xi = xiP + alpha(0) * s2 * ch2 + alpha(1) * s4 * ch4 + alpha(2) * s6 * ch6
      val eta = etaP + alpha(0) * c2 * sh2 + alpha(1) * c4 * sh4 + alpha(2) * c6 * sh6
      e(k) = E0 + k0 * A * eta
      nn(k) = k0 * A * xi + (if (north) 0.0 else 10000000.0)
    }

    /** UTM (easting, northing, zone) → WGS84 (lon, lat) degrees. */
    def utmToWgs84(easting: Double, northing: Double, zone: Int,
        north: Boolean = true): (Double, Double) = {
      val xi0 = (northing - (if (north) 0.0 else 10000000.0)) / (k0 * A)
      val eta0 = (easting - E0) / (k0 * A)
      var xiP = xi0; var etaP = eta0
      var j = 1
      while (j <= 3) {
        xiP -= beta(j - 1) * math.sin(2.0 * j * xi0) * math.cosh(2.0 * j * eta0)
        etaP -= beta(j - 1) * math.cos(2.0 * j * xi0) * math.sinh(2.0 * j * eta0)
        j += 1
      }
      val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
      var phi = chi
      j = 1
      while (j <= 3) {
        phi += delta(j - 1) * math.sin(2.0 * j * chi)
        j += 1
      }
      val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
      (utmCentralMeridian(zone) + math.toDegrees(lam), math.toDegrees(phi))
    }

    private def atanh(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
  }

  /** Transform every vertex of a WKT geometry with `f`. */
  def transformWkt(wkt: String, f: (Double, Double) => (Double, Double)): String = {
    val rings = parseWkt(wkt)
    require(rings.size == 1, "transformWkt supports single polygons")
    toWkt(rings.head.map { case (x, y) => f(x, y) })
  }
}
