package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static, codegen-friendly entry points: generated Java calls these
  * directly, so the st_* expressions participate in whole-stage
  * codegen (no virtual Expression.eval dispatch, no fallback row).
  */
object GeoKernel {
  def area(wkt: UTF8String): Double = Geo.area(wkt.toString)
  def intersectionArea(a: UTF8String, b: UTF8String): Double =
    Geo.intersectionArea(a.toString, b.toString)
  def intersects(a: UTF8String, b: UTF8String): Boolean =
    Geo.intersects(a.toString, b.toString)
  def envelope(wkt: UTF8String): GenericArrayData = {
    val (a, b, c, d) = Geo.envelope(wkt.toString)
    new GenericArrayData(Array(a, b, c, d))
  }
  /** Grid cells "cx:cy" overlapped by the geometry's envelope — ONE
    * WKT parse and a tight loop, vs the interpreted
    * sequence/transform/flatten lambda pipeline it replaces (higher-
    * order functions don't codegen and go megamorphic in long
    * sessions — see [[VecKernel]]).
    */
  def gridCells(wkt: UTF8String, cell: Double): GenericArrayData =
    gridCellsEnv(envelope(wkt), cell)

  /** Hard per-row cap for [[gridCells]] materialization (4M cells ≈
    * hundreds of MB of cell strings — far past any sane join fanout).
    */
  val MaxCellsHard: Long = 1L << 22

  /** Grid cells the envelope would span at `cell` pitch — the cheap
    * Long-valued pre-check [[graft.plans.SpatialJoinRule]] uses to
    * route oversized rows away from [[gridCells]] explosion;
    * `count ≤ k` ⇒ `gridCells` emits exactly `count` cells.
    */
  def cellCount(wkt: UTF8String, cell: Double): Long =
    cellCountEnv(envelope(wkt), cell)

  /** Cell index of one coordinate: `math.floor(·/cell).toInt`, which
    * SATURATES at the Int range (a plan-side Cast(Long→Int) would
    * throw under ANSI mode and wrap without it). Every cell id, count
    * and reference cell goes through it, so they agree at extreme
    * coordinates too.
    */
  private def cellIndex(v: Double, cell: Double): Int = math.floor(v / cell).toInt

  /** [[cellCount]] from an ALREADY-COMPUTED envelope array
    * ([minx,miny,maxx,maxy]) — pure arithmetic, no WKT parse. Both
    * grid functions use only the envelope, so a plan that projects
    * `st_envelope` once can derive the routing count and the cell
    * explode from it instead of re-parsing the WKT per expression
    * (guide §4: cut per-row work on the hot candidate-generation
    * path).
    */
  def cellCountEnv(env: org.apache.spark.sql.catalyst.util.ArrayData,
      cell: Double): Long =
    (cellIndex(env.getDouble(2), cell).toLong -
      cellIndex(env.getDouble(0), cell) + 1L) *
      (cellIndex(env.getDouble(3), cell).toLong -
        cellIndex(env.getDouble(1), cell) + 1L)

  /** [[gridCells]] from an ALREADY-COMPUTED envelope array — the
    * parse-free form (see [[cellCountEnv]]) and the one cell loop.
    */
  def gridCellsEnv(env: org.apache.spark.sql.catalyst.util.ArrayData,
      cell: Double): GenericArrayData = {
    val n = cellCountEnv(env, cell)
    // Long arithmetic: a large-extent envelope at a fine pitch must
    // fail LOUDLY here, not wrap Int and surface as an executor OOM /
    // NegativeArraySizeException three stages later. Callers that can
    // see such rows route them through a theta-join instead
    // ([[graft.plans.SpatialJoinRule]]'s MaxCellsPerRow split).
    if (n > MaxCellsHard)
      throw new IllegalArgumentException(
        s"st_grid_cells: envelope [${env.getDouble(0)},${env.getDouble(1)}," +
          s"${env.getDouble(2)},${env.getDouble(3)}] spans $n cells at " +
          s"pitch $cell (hard cap $MaxCellsHard); raise the cell size, or " +
          "keep spark.graft.spatial.autoGridJoin on so oversized rows " +
          "take the guarded theta-join path")
    val cx1 = cellIndex(env.getDouble(0), cell)
    val cy1 = cellIndex(env.getDouble(1), cell)
    val ny = (cellIndex(env.getDouble(3), cell).toLong - cy1 + 1L).toInt
    // iterate by count: a saturated upper index is Int.MaxValue, where
    // a `cx <= cx2; cx += 1` loop would wrap and never end
    val out = new Array[Any](n.toInt)
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromString(s"${cx1 + i / ny}:${cy1 + i % ny}")
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Top-left shared cell of two envelopes ([minx,miny,maxx,maxy]) —
    * the reference cell of the grid-join dedup, through the same
    * [[cellIndex]] as [[gridCellsEnv]]'s ids (a plan-built Cast chain
    * would throw or wrap at extreme coordinates, silently dropping
    * pairs).
    */
  def refCell(lEnv: org.apache.spark.sql.catalyst.util.ArrayData,
      rEnv: org.apache.spark.sql.catalyst.util.ArrayData,
      cell: Double): UTF8String = {
    val cx = math.max(cellIndex(lEnv.getDouble(0), cell),
      cellIndex(rEnv.getDouble(0), cell))
    val cy = math.max(cellIndex(lEnv.getDouble(1), cell),
      cellIndex(rEnv.getDouble(1), cell))
    UTF8String.fromString(s"$cx:$cy")
  }
}

/** Catalyst `Expression`s for the geometry family (SURVEY.md §2.9 F9,
  * §2.2 P6, §2.4 J1): `st_area`, `st_envelope`, `st_intersects`,
  * `st_intersection_area`, `st_coverage_ratio` over WKT strings.
  *
  * Genuine engine extensions (Spark has no geo built-ins); each
  * implements `doGenCode` as a static call into [[GeoKernel]], so a
  * plan using them keeps its whole-stage-codegen span. The
  * raster normalize kernel (R1), per-pixel hot, is expressed with
  * codegen'd built-ins instead — see [[Raster.normalizeS2]].
  */
case class StArea(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(wkt: Any): Any =
    GeoKernel.area(wkt.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GeoKernel.area($c)")
  override protected def withNewChildInternal(c: Expression): StArea = copy(c)
  override def prettyName: String = "st_area"
}

/** Envelope as array(minx, miny, maxx, maxy) — the reference's
  * `.bounds` (`code/dataset.py:38-40`).
  */
case class StEnvelope(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(wkt: Any): Any =
    GeoKernel.envelope(wkt.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GeoKernel.envelope($c)")
  override protected def withNewChildInternal(c: Expression): StEnvelope = copy(c)
  override def prettyName: String = "st_envelope"
}

case class StIntersects(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.intersects(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GeoKernel.intersects($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StIntersects =
    copy(l, r)
  override def prettyName: String = "st_intersects"
}

/** Area of left ∩ right (right must be convex — the AOI bbox). The
  * scoring kernel of the reference's overlay+groupby-sum
  * (`code/imagery_store.py:249-252`).
  */
case class StIntersectionArea(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.intersectionArea(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GeoKernel.intersectionArea($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StIntersectionArea =
    copy(l, r)
  override def prettyName: String = "st_intersection_area"
}

/** `st_coverage_ratio(a, convex_b)` — area(a ∩ b) / area(b) in one
  * kernel call, the per-AOI score of [[graft.operators.ProductSelect]].
  * Null when b has no area, like the non-ANSI `Divide` it replaces
  * (`st_intersection_area(a, b) / st_area(b)`). Unlike that quotient,
  * a literal `b` stays a literal here: `st_area('<wkt>')` would fold
  * to a double constant that generated code inlines, so each AOI
  * would compile its own class, while a string literal is passed by
  * reference and the code is the same for every AOI.
  */
case class StCoverageRatio(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val area = GeoKernel.area(b.asInstanceOf[UTF8String])
    if (area == 0) null
    else GeoKernel.intersectionArea(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String]) / area
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val area = ctx.freshName("area")
      s"""double $area = graft.functions.GeoKernel.area($b);
         |if ($area == 0) ${ev.isNull} = true;
         |else ${ev.value} =
         |  graft.functions.GeoKernel.intersectionArea($a, $b) / $area;""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StCoverageRatio =
    copy(l, r)
  override def prettyName: String = "st_coverage_ratio"
}

/** Envelope grid-cell assignment for the bucketed spatial join
  * (`st_grid_cells(wkt, cell_size)` → array of "cx:cy") — the cell
  * explode key of [[graft.operators.SpatialJoin]].
  */
case class StGridCells(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(wkt: Any, cell: Any): Any =
    GeoKernel.gridCells(wkt.asInstanceOf[UTF8String],
      cell.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GeoKernel.gridCells($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StGridCells =
    copy(l, r)
  override def prettyName: String = "st_grid_cells"
}

/** `st_cell_count(wkt, cell_size)` — how many grid cells the
  * geometry's envelope spans, WITHOUT materializing them. The
  * oversized-row routing predicate of [[graft.plans.SpatialJoinRule]]
  * (rows over its `MaxCellsPerRow` skip the cell explode and take the
  * exact theta-join).
  */
case class StCellCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(wkt: Any, cell: Any): Any =
    GeoKernel.cellCount(wkt.asInstanceOf[UTF8String],
      cell.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GeoKernel.cellCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StCellCount =
    copy(l, r)
  override def prettyName: String = "st_cell_count"
}

/** `st_grid_cells_env(env, cell_size)` — [[StGridCells]] over a
  * pre-computed `st_envelope` array instead of the WKT: both grid
  * functions use only the envelope, so a plan that projects the
  * envelope once (the spatial join carries it for the reference-cell
  * dedup anyway) derives the explode from it with ZERO further WKT
  * parses per row (guide §4 — the parse was ~half the per-row cost of
  * the candidate-generation stage).
  */
case class StGridCellsEnv(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(env: Any, cell: Any): Any =
    GeoKernel.gridCellsEnv(
      env.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cell.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GeoKernel.gridCellsEnv($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StGridCellsEnv =
    copy(l, r)
  override def prettyName: String = "st_grid_cells_env"
}

/** `st_cell_count_env(env, cell_size)` — [[StCellCount]] over a
  * pre-computed envelope array (see [[StGridCellsEnv]]).
  */
case class StCellCountEnv(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(env: Any, cell: Any): Any =
    GeoKernel.cellCountEnv(
      env.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cell.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GeoKernel.cellCountEnv($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StCellCountEnv =
    copy(l, r)
  override def prettyName: String = "st_cell_count_env"
}

/** Evaluation twin of [[StIntersects]] used by
  * [[graft.plans.SpatialJoinRule]] to mark the oversized-row fallback
  * joins it emits (also registered as `st_intersects_norewrite` — the
  * user-facing per-predicate opt-out from the auto grid-join
  * rewrite). The rule matches only [[StIntersects]], so a join
  * condition carrying this class is never re-rewritten — and unlike
  * the previous `st_intersects = true` wrapper, no builtin optimizer
  * rule (`SimplifyBinaryComparison` unwraps `EqualTo(b, true)` to `b`)
  * can normalize an expression class it does not know back into the
  * matched form. That keeps the rule idempotent even when installed in
  * the fixed-point operator-optimization batch via
  * `spark.sql.extensions` / `injectOptimizerRule`.
  */
case class StIntersectsNoRewrite(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.intersects(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GeoKernel.intersects($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StIntersectsNoRewrite =
    copy(l, r)
  override def prettyName: String = "st_intersects_norewrite"
}

/** `st_ref_cell(l_env, r_env, cell_size)` — the top-left cell shared
  * by two envelopes, formatted with [[GeoKernel.refCell]] (identical
  * saturating math to [[GeoKernel.gridCellsEnv]]; see its doc for why
  * a plan-built Cast chain is NOT equivalent).
  */
case class StRefCell(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    GeoKernel.refCell(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      c.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c) => s"graft.functions.GeoKernel.refCell($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): StRefCell = copy(f, s, t)
  override def prettyName: String = "st_ref_cell"
}

/** Registration of the st_* family into a session's FunctionRegistry,
  * so they are usable from `expr("st_area(wkt)")` / `spark.sql`.
  * Callable directly or via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object GeoFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[StArea].getName, null, name, usage, "", "", "",
      "", "4.0.0", "", "scala_udf")

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("st_area", info("st_area", "st_area(wkt) - planar area"),
      (e: Seq[Expression]) => StArea(e.head)),
    ("st_envelope", info("st_envelope", "st_envelope(wkt) - [minx,miny,maxx,maxy]"),
      (e: Seq[Expression]) => StEnvelope(e.head)),
    ("st_intersects", info("st_intersects", "st_intersects(a, b)"),
      (e: Seq[Expression]) => StIntersects(e(0), e(1))),
    ("st_intersection_area",
      info("st_intersection_area", "st_intersection_area(a, convex_b)"),
      (e: Seq[Expression]) => StIntersectionArea(e(0), e(1))),
    ("st_coverage_ratio",
      info("st_coverage_ratio", "st_coverage_ratio(a, convex_b) - area(a ∩ b) / area(b)"),
      (e: Seq[Expression]) => StCoverageRatio(e(0), e(1))),
    ("st_grid_cells",
      info("st_grid_cells", "st_grid_cells(wkt, cell_size) - envelope grid cells"),
      (e: Seq[Expression]) => StGridCells(e(0), e(1))),
    ("st_cell_count",
      info("st_cell_count", "st_cell_count(wkt, cell_size) - envelope grid-cell count"),
      (e: Seq[Expression]) => StCellCount(e(0), e(1))),
    ("st_grid_cells_env",
      info("st_grid_cells_env",
        "st_grid_cells_env(env, cell_size) - grid cells from a st_envelope array (no WKT parse)"),
      (e: Seq[Expression]) => StGridCellsEnv(e(0), e(1))),
    ("st_cell_count_env",
      info("st_cell_count_env",
        "st_cell_count_env(env, cell_size) - grid-cell count from a st_envelope array"),
      (e: Seq[Expression]) => StCellCountEnv(e(0), e(1))),
    ("st_ref_cell",
      info("st_ref_cell",
        "st_ref_cell(l_env, r_env, cell_size) - top-left grid cell shared by two st_envelope arrays"),
      (e: Seq[Expression]) => StRefCell(e(0), e(1), e(2))),
    ("st_intersects_norewrite",
      info("st_intersects_norewrite",
        "st_intersects_norewrite(a, b) - st_intersects exempt from the auto grid-join rewrite"),
      (e: Seq[Expression]) => StIntersectsNoRewrite(e(0), e(1))))

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), inf, builder)
    }
}
