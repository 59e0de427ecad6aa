package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Raster chip model + compute kernels (SURVEY.md §2.10 R1–R5),
  * re-expressed for Spark's execution model. A band raster is a row:
  * a dense row-major pixel array plus its georeferencing struct —
  * exactly the `(array, transform, crs, nodata)` bundle rasterio
  * carries (`/root/reference/code/tx.py:26-34`), flattened into
  * columns so it shuffles/spills like any other row.
  *
  * Kernel placement: R1 (per-pixel normalize) is the only kernel that
  * is hot at 100 TB (it touches every pixel of every chip) — it is
  * expressed with built-in `transform` lambdas so it stays inside
  * whole-stage codegen. R2, the band stack, is [[graft.operators.Tx]]'s
  * `stackScene`, which sorts each scene's bands explicitly. R5 is a
  * per-chip-group aggregation (a few thousand groups per tile-date),
  * expressed as a typed `Aggregator` with explicit sort keys so
  * results are deterministic under Spark's unordered shuffle (SURVEY
  * §7.3 hard part c).
  */
object Raster {

  /** A single-band georeferenced chip. Bounds are (minx, miny, maxx,
    * maxy) in CRS units; px is row-major, row 0 = north edge.
    */
  case class Chip(
      width: Int, height: Int,
      minx: Double, miny: Double, maxx: Double, maxy: Double,
      nodata: Double,
      px: Array[Double])

  // -----------------------------------------------------------------
  // R1 — radiometric normalize: uint8(clip(px/10000, 0, 1) * 255)
  // (`/root/reference/code/tx.py:20-23`). Built-in lambda → codegen.
  def normalizeS2(px: Column): Column =
    transform(px, x =>
      (least(greatest(x / lit(10000.0), lit(0.0)), lit(1.0)) * 255.0)
        .cast("int"))

  /** Scalar form for tests / per-pixel use. */
  def normalizeS2Scalar(x: Double): Int =
    (math.min(math.max(x / 10000.0, 0.0), 1.0) * 255.0).toInt

  // -----------------------------------------------------------------
  // R3 — clip by box: crop the chip to the pixel window intersecting
  // an axis-aligned box (`rasterio.mask(crop=True)` for the
  // reference's bbox AOIs, `code/tx.py:25-35`).
  def clipByBox(c: Chip, bminx: Double, bminy: Double, bmaxx: Double,
      bmaxy: Double): Chip = {
    val pw = (c.maxx - c.minx) / c.width   // pixel width
    val ph = (c.maxy - c.miny) / c.height  // pixel height
    val col0 = math.max(0, math.floor((bminx - c.minx) / pw).toInt)
    val col1 = math.min(c.width, math.ceil((bmaxx - c.minx) / pw).toInt)
    val row0 = math.max(0, math.floor((c.maxy - bmaxy) / ph).toInt)
    val row1 = math.min(c.height, math.ceil((c.maxy - bminy) / ph).toInt)
    val w = math.max(0, col1 - col0); val h = math.max(0, row1 - row0)
    val out = new Array[Double](w * h)
    var r = 0
    while (r < h) {
      System.arraycopy(c.px, (row0 + r) * c.width + col0, out, r * w, w)
      r += 1
    }
    Chip(w, h,
      c.minx + col0 * pw, c.maxy - row1 * ph,
      c.minx + col1 * pw, c.maxy - row0 * ph,
      c.nodata, out)
  }

  // -----------------------------------------------------------------
  // R3b — mask by polygon: crop to the polygon's envelope, then set
  // pixels whose centers fall outside the polygon to nodata — the
  // full `rasterio.mask(src, geometry, crop=True)` semantics
  // (`code/tx.py:25-35`) for non-rectangular AOIs; clipByBox is the
  // bbox fast path the reference's own AOIs exercise.
  def maskByPolygon(c: Chip, polygonWkt: String): Chip = {
    val polys = Geo.parseWktFull(polygonWkt) // hole-aware
    val (bx1, by1, bx2, by2) = Geo.envelope(polygonWkt)
    val cropped = clipByBox(c, bx1, by1, bx2, by2)
    val pw = (cropped.maxx - cropped.minx) / math.max(cropped.width, 1)
    val ph = (cropped.maxy - cropped.miny) / math.max(cropped.height, 1)
    val out = cropped.px.clone()
    var r = 0
    while (r < cropped.height) {
      val y = cropped.maxy - (r + 0.5) * ph
      var cc = 0
      while (cc < cropped.width) {
        val x = cropped.minx + (cc + 0.5) * pw
        if (!Geo.containsPointFull(polys, x, y)) out(r * cropped.width + cc) = c.nodata
        cc += 1
      }
      r += 1
    }
    cropped.copy(px = out)
  }

  // -----------------------------------------------------------------
  // R4 — reproject/resample to a target grid, nearest neighbor
  // (`Resampling.nearest`, `code/tx.py:49-71`). The affine transform
  // here is the linear part; a true CRS warp plugs a point-transform
  // function into `invMap`.
  def resampleNearest(c: Chip, outW: Int, outH: Int,
      ominx: Double, ominy: Double, omaxx: Double, omaxy: Double): Chip = {
    val out = Array.fill(outW * outH)(c.nodata)
    val opw = (omaxx - ominx) / outW
    val oph = (omaxy - ominy) / outH
    val ipw = (c.maxx - c.minx) / c.width
    val iph = (c.maxy - c.miny) / c.height
    var r = 0
    while (r < outH) {
      val y = omaxy - (r + 0.5) * oph
      val ir = math.floor((c.maxy - y) / iph).toInt
      if (ir >= 0 && ir < c.height) {
        var cc = 0
        while (cc < outW) {
          val x = ominx + (cc + 0.5) * opw
          val ic = math.floor((x - c.minx) / ipw).toInt
          if (ic >= 0 && ic < c.width) out(r * outW + cc) = c.px(ir * c.width + ic)
          cc += 1
        }
      }
      r += 1
    }
    Chip(outW, outH, ominx, ominy, omaxx, omaxy, c.nodata, out)
  }

  // -----------------------------------------------------------------
  // R4b — true CRS warp, nearest neighbor: for every OUTPUT pixel
  // center (in the target CRS), `invMap` maps the point back into the
  // source CRS and the nearest source pixel is sampled — the general
  // `rasterio.reproject(..., Resampling.nearest)` shape
  // (`/root/reference/code/tx.py:49-71`). resampleNearest is the
  // identity-map special case of this.
  def warpNearest(c: Chip, outW: Int, outH: Int,
      ominx: Double, ominy: Double, omaxx: Double, omaxy: Double,
      invMap: (Double, Double) => (Double, Double)): Chip = {
    val sx = new Array[Double](outW * outH)
    val sy = new Array[Double](outW * outH)
    val opw = (omaxx - ominx) / outW
    val oph = (omaxy - ominy) / outH
    var r = 0
    while (r < outH) {
      val oy = omaxy - (r + 0.5) * oph
      var cc = 0
      while (cc < outW) {
        val (x, y) = invMap(ominx + (cc + 0.5) * opw, oy)
        sx(r * outW + cc) = x; sy(r * outW + cc) = y
        cc += 1
      }
      r += 1
    }
    sampleNearest(c, outW, outH, ominx, ominy, omaxx, omaxy, sx, sy)
  }

  /** The output grid whose pixel k samples the source pixel under the
    * source-CRS point (sx(k), sy(k)), or nodata outside the source.
    */
  private def sampleNearest(c: Chip, outW: Int, outH: Int,
      ominx: Double, ominy: Double, omaxx: Double, omaxy: Double,
      sx: Array[Double], sy: Array[Double]): Chip = {
    val out = Array.fill(outW * outH)(c.nodata)
    val ipw = (c.maxx - c.minx) / c.width
    val iph = (c.maxy - c.miny) / c.height
    var k = 0
    while (k < out.length) {
      val ic = math.floor((sx(k) - c.minx) / ipw).toInt
      val ir = math.floor((c.maxy - sy(k)) / iph).toInt
      if (ir >= 0 && ir < c.height && ic >= 0 && ic < c.width)
        out(k) = c.px(ir * c.width + ic)
      k += 1
    }
    Chip(outW, outH, ominx, ominy, omaxx, omaxy, c.nodata, out)
  }

  /** The reference's reproject flow: a product-native UTM chip →
    * EPSG:4326 (`calculate_default_transform(src_crs, 'EPSG:4326')`,
    * `code/tx.py:49-63`). Output bounds = lon/lat envelope of the
    * source corners; pixel counts carry over (≈ preserved
    * resolution); sampling is nearest via the exact inverse (WGS84 →
    * UTM) point transform. The output grid's pixel centres form a
    * lon × lat product grid, so the inverse map runs as the separable
    * [[Geo.Crs.wgs84ToUtmGrid]], at a fraction of the transcendental
    * calls; its points are `wgs84ToUtm`'s, so the output equals
    * [[warpNearest]] with `wgs84ToUtm`, bit for bit.
    */
  def reprojectUtmToWgs84(c: Chip, zone: Int, north: Boolean = true): Chip = {
    val corners = Seq((c.minx, c.miny), (c.minx, c.maxy),
      (c.maxx, c.miny), (c.maxx, c.maxy))
      .map { case (e, n) => Geo.Crs.utmToWgs84(e, n, zone, north) }
    val (ominx, omaxx) = (corners.map(_._1).min, corners.map(_._1).max)
    val (ominy, omaxy) = (corners.map(_._2).min, corners.map(_._2).max)
    val opw = (omaxx - ominx) / c.width
    val oph = (omaxy - ominy) / c.height
    val lons = Array.tabulate(c.width)(cc => ominx + (cc + 0.5) * opw)
    val lats = Array.tabulate(c.height)(r => omaxy - (r + 0.5) * oph)
    val (sx, sy) = Geo.Crs.wgs84ToUtmGrid(lons, lats, zone, north)
    sampleNearest(c, c.width, c.height, ominx, ominy, omaxx, omaxy, sx, sy)
  }

  // -----------------------------------------------------------------
  // R5 — mosaic, first-wins (`rasterio.merge`, `method='first'`,
  // `code/tx.py:73-90`): chips merge onto the union grid; where chips
  // overlap, the chip with the SMALLEST priority key wins. Order-
  // sensitivity under unordered shuffle is resolved by carrying an
  // explicit priority and reducing with commutative min-by-priority
  // per pixel — merge order no longer matters, which is exactly what
  // a distributed first-wins needs.
  case class PChip(priority: Long, chip: Chip)

  /** Merge two same-grid mosaics: per pixel keep the value whose
    * source priority is smaller (nodata always loses).
    */
  private def mergeOnto(acc: Chip, accPrio: Array[Long], p: PChip): Unit = {
    val c = p.chip
    val pw = (acc.maxx - acc.minx) / acc.width
    val ph = (acc.maxy - acc.miny) / acc.height
    var r = 0
    while (r < c.height) {
      val y = c.maxy - (r + 0.5) * (c.maxy - c.miny) / c.height
      val ar = math.floor((acc.maxy - y) / ph).toInt
      if (ar >= 0 && ar < acc.height) {
        var cc = 0
        while (cc < c.width) {
          val v = c.px(r * c.width + cc)
          if (v != c.nodata) {
            val x = c.minx + (cc + 0.5) * (c.maxx - c.minx) / c.width
            val ac = math.floor((x - acc.minx) / pw).toInt
            if (ac >= 0 && ac < acc.width) {
              val idx = ar * acc.width + ac
              if (acc.px(idx) == acc.nodata || p.priority < accPrio(idx)) {
                acc.px(idx) = v
                accPrio(idx) = p.priority
              }
            }
          }
          cc += 1
        }
      }
      r += 1
    }
  }

  /** Mosaic a set of same-resolution chips onto their union grid. */
  def mosaicFirstWins(chips: Seq[PChip], nodata: Double = 0.0): Chip = {
    require(chips.nonEmpty, "empty mosaic")
    val c0 = chips.head.chip
    val pw = (c0.maxx - c0.minx) / c0.width
    val ph = (c0.maxy - c0.miny) / c0.height
    val minx = chips.map(_.chip.minx).min; val maxx = chips.map(_.chip.maxx).max
    val miny = chips.map(_.chip.miny).min; val maxy = chips.map(_.chip.maxy).max
    val w = math.round((maxx - minx) / pw).toInt
    val h = math.round((maxy - miny) / ph).toInt
    val acc = Chip(w, h, minx, miny, maxx, maxy, nodata,
      Array.fill(w * h)(nodata))
    val prio = Array.fill(w * h)(Long.MaxValue)
    chips.foreach(p => mergeOnto(acc, prio, p))
    acc
  }

  /** Aggregation buffer for the distributed mosaic: a running union
    * grid plus a per-pixel winning-priority array. Memory is O(grid
    * area), NOT O(chips) — each incoming chip folds into the
    * accumulator immediately (the commutative per-pixel
    * min-by-priority), so a group of ten thousand overlapping chips
    * holds one grid, never a chip list.
    */
  case class MosaicBuf(present: Boolean, grid: Chip, prio: Array[Long])

  /** Per-pixel merge of one accumulated (grid, prio) onto another —
    * the buffer-combine form of [[mergeOnto]], carrying each pixel's
    * own winning priority.
    */
  private def mergeBufOnto(acc: Chip, accPrio: Array[Long],
      other: Chip, otherPrio: Array[Long]): Unit = {
    val pw = (acc.maxx - acc.minx) / acc.width
    val ph = (acc.maxy - acc.miny) / acc.height
    val opw = (other.maxx - other.minx) / other.width
    val oph = (other.maxy - other.miny) / other.height
    var r = 0
    while (r < other.height) {
      val y = other.maxy - (r + 0.5) * oph
      val ar = math.floor((acc.maxy - y) / ph).toInt
      if (ar >= 0 && ar < acc.height) {
        var cc = 0
        while (cc < other.width) {
          val v = other.px(r * other.width + cc)
          if (v != other.nodata) {
            val x = other.minx + (cc + 0.5) * opw
            val ac = math.floor((x - acc.minx) / pw).toInt
            if (ac >= 0 && ac < acc.width) {
              val idx = ar * acc.width + ac
              val p = otherPrio(r * other.width + cc)
              if (acc.px(idx) == acc.nodata || p < accPrio(idx)) {
                acc.px(idx) = v
                accPrio(idx) = p
              }
            }
          }
          cc += 1
        }
      }
      r += 1
    }
  }

  /** Grow the buffer grid (same pitch, aligned lattice) to also cover
    * `[minx,miny,maxx,maxy]`; no-op when already covered. Existing
    * pixels copy across at their lattice offset.
    */
  private def expandTo(b: MosaicBuf, minx: Double, miny: Double,
      maxx: Double, maxy: Double): MosaicBuf = {
    val g = b.grid
    if (minx >= g.minx && miny >= g.miny && maxx <= g.maxx && maxy <= g.maxy)
      return b
    val pw = (g.maxx - g.minx) / g.width
    val ph = (g.maxy - g.miny) / g.height
    val uminx = math.min(g.minx, minx); val umaxx = math.max(g.maxx, maxx)
    val uminy = math.min(g.miny, miny); val umaxy = math.max(g.maxy, maxy)
    val w = math.round((umaxx - uminx) / pw).toInt
    val h = math.round((umaxy - uminy) / ph).toInt
    val px = Array.fill(w * h)(g.nodata)
    val prio = Array.fill(w * h)(Long.MaxValue)
    val offC = math.round((g.minx - uminx) / pw).toInt
    val offR = math.round((umaxy - g.maxy) / ph).toInt
    var r = 0
    while (r < g.height) {
      System.arraycopy(g.px, r * g.width, px, (offR + r) * w + offC, g.width)
      System.arraycopy(b.prio, r * g.width, prio, (offR + r) * w + offC, g.width)
      r += 1
    }
    MosaicBuf(present = true,
      Chip(w, h, uminx, uminy, umaxx, umaxy, g.nodata, px), prio)
  }

  /** Typed Aggregator: distributed first-wins mosaic. `reduce` folds
    * every chip straight into the running union grid and `merge`
    * combines two grids per pixel — both are the same commutative
    * min-by-priority, so the result is invariant to Spark's
    * partitioning/merge order AND the buffer never holds more than
    * one grid (no chip buffering; see [[MosaicBuf]]). Chips of one
    * group must share resolution and pixel-lattice alignment, and
    * priorities must be unique per chip (equal-priority overlaps
    * would be merge-order-dependent).
    */
  class MosaicAggregator(nodata: Double)
      extends Aggregator[PChip, MosaicBuf, Chip] {

    private def init(a: PChip): MosaicBuf = {
      val c = a.chip
      val prio = new Array[Long](c.px.length)
      var i = 0
      while (i < c.px.length) {
        prio(i) = if (c.px(i) == c.nodata) Long.MaxValue else a.priority
        i += 1
      }
      // re-home the chip onto this mosaic's nodata convention
      val px = if (c.nodata == nodata) c.px.clone()
        else c.px.map(v => if (v == c.nodata) nodata else v)
      MosaicBuf(present = true,
        Chip(c.width, c.height, c.minx, c.miny, c.maxx, c.maxy, nodata, px),
        prio)
    }

    override def zero: MosaicBuf =
      MosaicBuf(present = false, Chip(0, 0, 0, 0, 0, 0, nodata, Array.empty),
        Array.empty)

    override def reduce(b: MosaicBuf, a: PChip): MosaicBuf =
      if (!b.present) init(a)
      else {
        val c = a.chip
        val grown = expandTo(b, c.minx, c.miny, c.maxx, c.maxy)
        mergeOnto(grown.grid, grown.prio, a)
        grown
      }

    override def merge(b1: MosaicBuf, b2: MosaicBuf): MosaicBuf =
      if (!b1.present) b2
      else if (!b2.present) b1
      else {
        val g2 = b2.grid
        val grown = expandTo(b1, g2.minx, g2.miny, g2.maxx, g2.maxy)
        mergeBufOnto(grown.grid, grown.prio, g2, b2.prio)
        grown
      }

    override def finish(r: MosaicBuf): Chip = {
      require(r.present, "empty mosaic")
      r.grid
    }
    override def bufferEncoder: Encoder[MosaicBuf] = Encoders.product[MosaicBuf]
    override def outputEncoder: Encoder[Chip] = Encoders.product[Chip]
  }
}
