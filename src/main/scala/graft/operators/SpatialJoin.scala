package graft.operators

import graft.functions.GeoFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Grid-bucketed spatial join — the 100 TB formulation of SURVEY.md
  * §2.4 J1. The broadcast form in [[ProductSelect]] is right when one
  * side is a single AOI; when BOTH sides are large (millions of
  * product footprints × thousands of AOIs), the scalable plan is:
  *
  *   1. assign each geometry's envelope to the fixed-grid cells it
  *      overlaps (`explode` — a few cells per geometry),
  *   2. equi-join on the cell id (hash join, even key spread),
  *   3. de-duplicate multi-cell pairs with the REFERENCE-CELL trick:
  *      a pair is emitted only from the top-left cell of the
  *      envelope-intersection, so no distinct/shuffle is needed,
  *   4. apply the exact `st_intersects` predicate last, on the few
  *      surviving candidates.
  *
  * This is precisely the role the reference's MGRS tile grid plays
  * (`/root/reference/conf/config.yaml:13`, SURVEY §4 partition
  * pruning): the grid is the spatial partition key that turns a
  * geometric cross join into an equi-join.
  */
object SpatialJoin {

  /** Cells (floor(x/s), floor(y/s)) overlapped by the envelope, as
    * "cx:cy" strings — the codegen'd
    * [[graft.functions.StGridCellsEnv]] kernel over the CARRIED
    * envelope: zero further WKT parses per row (the envelope is
    * already projected once for the reference-cell dedup; round 22,
    * guide §4 — `st_grid_cells(wkt, ...)` re-parsed the same WKT a
    * second time per row). (A sequence/transform/flatten lambda
    * pipeline computes the same cells but interprets per element and
    * parses the WKT 4x — measured 3-5x slower in a long session.)
    */
  private def cellsExpr(envCol: String, cellSize: Double): String =
    s"st_grid_cells_env($envCol, CAST($cellSize AS DOUBLE))"

  /** Join rows of `left` and `right` whose geometries intersect.
    * `leftGeom`/`rightGeom` name WKT columns; output = left columns +
    * right columns (caller ensures disjoint names).
    *
    * CONSTRAINTS (inherited from the Geo kernel's exact predicate,
    * Geo.scala): the RIGHT geometry must be CONVEX — `st_intersects`
    * clips left against right (Sutherland–Hodgman) and throws
    * IllegalArgumentException for a non-convex right ring; and the
    * intersects test is POSITIVE-AREA — boundary-touching (zero-area)
    * intersections report false, diverging from OGC ST_Intersects
    * touch semantics. The reference's AOIs are bboxes, which satisfy
    * both; general callers with non-convex or touch-sensitive right
    * geometries must pre-convexify (e.g. join on the envelope) or
    * accept open-set semantics.
    *
    * @param cellSize grid pitch in geometry units — pick ≈ the median
    *                 geometry extent (the reference's S2 tiles are
    *                 ~1° — `cellSize = 1.0` for WGS84 footprints)
    */
  def intersectJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
      leftGeom: String, rightGeom: String, cellSize: Double = 1.0): DataFrame = {
    GeoFunctions.register(spark)
    // envelope computed ONCE per input row (pre-explode) and carried
    // through the join: the cell explode AND the reference-cell test
    // below derive from it — ONE WKT parse per row total.
    val l = left
      .withColumn("__env", expr(s"st_envelope($leftGeom)"))
      .withColumn("__cell", explode(expr(cellsExpr("__env", cellSize))))
    val r = right
      .withColumn("__env", expr(s"st_envelope($rightGeom)"))
      .withColumn("__cell", explode(expr(cellsExpr("__env", cellSize))))
    // reference cell = top-left cell of the envelope intersection,
    // computed from the carried envelopes by the same saturating
    // kernel math as the cell ids: emit the pair only there
    // (exactly-once dedup without a shuffle). A common cell whenever
    // the pair shares any cell.
    val refCell =
      s"st_ref_cell(a.__env, b.__env, CAST($cellSize AS DOUBLE))"
    l.as("a").join(r.as("b"), col("a.__cell") === col("b.__cell"))
      .filter(expr(s"a.__cell = $refCell"))
      .filter(expr(s"st_intersects(a.$leftGeom, b.$rightGeom)"))
      .drop("__cell").drop("__env")
  }
}
