package graft.plans

import graft.functions.{StCellCount, StCellCountEnv, StEnvelope, StGridCellsEnv, StIntersects, StIntersectsNoRewrite, StRefCell}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, Generate, HintInfo, Join, JoinHint, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Catalyst optimizer rule: rewrite a naive spatial theta-join
  *
  *   `left.join(right, expr("st_intersects(lgeom, rgeom)"))`
  *
  * — which Spark can only plan as a BroadcastNestedLoopJoin or a
  * CartesianProduct (O(|L|·|R|) exact-predicate evaluations) — into
  * the grid-bucketed equi-join of
  * [[graft.operators.SpatialJoin.intersectJoin]]:
  *
  *   explode each side's envelope grid cells → hash-join on the cell
  *   id → reference-cell dedup (emit a pair only from the top-left
  *   shared cell, no distinct needed) → exact `st_intersects` last.
  *
  * The user keeps the declarative one-liner; the optimizer supplies
  * the 100 TB plan — the same division of labor Catalyst applies to
  * predicate pushdown. The rewrite is semantics-preserving for any
  * inputs the exact predicate accepts: positive-area intersection
  * implies envelope overlap, so the candidate set is a superset and
  * the ORIGINAL StIntersects expression still decides every pair.
  *
  * Guards:
  *   - inner joins only, with an `st_intersects` conjunct whose
  *     arguments are bound one per side (either order);
  *   - skipped when the condition already has a cross-side equality
  *     conjunct — the join is then already hash-joinable, and this
  *     also makes the rule idempotent (its own output joins on the
  *     exploded cell id);
  *   - cell pitch from `spark.graft.spatial.cellSize` (default 1.0,
  *     ≈ the median geometry extent in geometry units; the session
  *     that owns the query sets it per corpus);
  *   - rows whose envelope spans more than [[MaxCellsPerRow]] cells
  *     are NOT exploded — a continent-sized geometry at a fine pitch
  *     would fan out to millions of rows (and past Int range,
  *     overflow). The rewrite instead splits each side on a cheap
  *     `st_cell_count` predicate and unions three disjoint branches:
  *     small×small takes the grid equi-join; big×all and small×big
  *     keep the ORIGINAL theta-join (exactly the plan the user wrote,
  *     now bounded to the rare oversized rows — with AQE, an empty
  *     big side collapses the fallback branch at runtime). The
  *     fallback joins re-issue the exact predicate as the opaque
  *     [[graft.functions.StIntersectsNoRewrite]] twin so neither this
  *     rule's fixed-point re-pass nor any builtin simplification can
  *     turn it back into a matched `st_intersects` conjunct.
  *
  * Install via `spark.sql.extensions=graft.functions.GraftExtensions`
  * or programmatically with [[SpatialJoinRule.install]].
  */
object SpatialJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Idempotent programmatic registration for sessions built without
    * the extensions conf.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(SpatialJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SpatialJoinRule

  private def cellSize: Double =
    conf.getConfString("spark.graft.spatial.cellSize", "1.0").toDouble

  /** Envelope cells above which a row skips the grid explode and takes
    * the theta-join fallback.
    */
  val MaxCellsPerRow: Long = 4096L

  private def boundTo(e: Expression, p: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(p.outputSet)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), _)
        if conf.getConfString("spark.graft.spatial.autoGridJoin", "true") == "true" => {
      val conjuncts = splitConjunctivePredicates(cond)
      val crossEqui = conjuncts.exists {
        case EqualTo(a, b) =>
          (boundTo(a, left) && boundTo(b, right)) ||
            (boundTo(a, right) && boundTo(b, left))
        case _ => false
      }
      val spatial = conjuncts.collectFirst {
        case si @ StIntersects(g1, g2)
            if (boundTo(g1, left) && boundTo(g2, right)) ||
              (boundTo(g1, right) && boundTo(g2, left)) => si
      }
      if (crossEqui || spatial.isEmpty) j
      else rewrite(j, spatial.get, conjuncts.filterNot(_ eq spatial.get))
    }
  }

  private def rewrite(j: Join, si: StIntersects,
      rest: Seq[Expression]): LogicalPlan = {
    val cs = Literal(cellSize, DoubleType)
    val maxC = Literal(MaxCellsPerRow, LongType)
    val (lGeom, rGeom) =
      if (boundTo(si.left, j.left)) (si.left, si.right) else (si.right, si.left)

    // Oversized-row routing predicates — cheap Long count, NO cell
    // materialization. Null geometries fail both predicates and are
    // dropped, exactly as the original null join condition dropped
    // them.
    def small(g: Expression) = LessThanOrEqual(StCellCount(g, cs), maxC)
    def big(g: Expression) = GreaterThan(StCellCount(g, cs), maxC)

    // GRID BRANCH (small × small). Per side: project the envelope
    // FIRST (the row's only WKT parse — round 22, guide §4), then
    // derive BOTH the bounded-row routing filter and the grid-cell
    // explode from the carried envelope arithmetically
    // (StCellCountEnv / StGridCellsEnv): the previous form paid three
    // parses per row (st_cell_count guard, st_envelope, st_grid_cells
    // each re-parsed the WKT). Null geometries yield a null envelope,
    // fail the null-valued routing predicate and are dropped, exactly
    // as the original null join condition dropped them.
    def prep(child: LogicalPlan, geom: Expression)
        : (LogicalPlan, Attribute, Attribute) = {
      val env = Alias(StEnvelope(geom), "__env")()
      val envAttr = env.toAttribute
      val cell = AttributeReference("__cell", StringType, nullable = false)()
      val gen = Generate(Explode(StGridCellsEnv(envAttr, cs)), Nil,
        outer = false, None, Seq(cell),
        Filter(LessThanOrEqual(StCellCountEnv(envAttr, cs), maxC),
          Project(child.output :+ env, child)))
      (gen, envAttr, cell)
    }
    val (lPlan, lEnv, lCell) = prep(j.left, lGeom)
    val (rPlan, rEnv, rCell) = prep(j.right, rGeom)

    // Reference cell = top-left cell of the envelope intersection,
    // computed by the SAME saturating kernel math as st_grid_cells'
    // ids (GeoKernel.refCell) — a plan-built Cast(Long→Int) chain
    // would throw under ANSI mode / wrap without it at extreme
    // coordinates while the kernel saturates, silently dropping
    // pairs.
    val refCell = StRefCell(lEnv, rEnv, cs)

    // Equi-conjunct first (join planning extracts it as the hash
    // key); reference-cell dedup and the EXACT original predicate run
    // as the join's residual filter on the few cell-sharing pairs.
    val gridCond = (Seq(EqualTo(lCell, rCell), EqualTo(lCell, refCell), si)
      ++ rest).reduce(And)
    val grid = Project(j.output,
      Join(lPlan, rPlan, Inner, Some(gridCond), j.hint))

    // FALLBACK BRANCHES: oversized rows keep the user's original
    // theta-join, partitioned disjointly (big-left × all, small-left
    // × big-right) so the union never duplicates a pair. The exact
    // predicate is re-issued as StIntersectsNoRewrite — an evaluation
    // twin this rule never matches. An opaque expression class (not a
    // `= true` wrapper) is required because SimplifyBinaryComparison
    // rewrites `EqualTo(b, true)` back to `b` in the same fixed-point
    // batch this rule runs in under `spark.sql.extensions`, which
    // would re-expose the StIntersects conjunct and grow the plan
    // every iteration.
    val marked = (Seq(StIntersectsNoRewrite(si.left, si.right): Expression)
      ++ rest).reduce(And)
    // Each fallback join HINTS its big-filtered side as the broadcast
    // build side (round 22, guide §3.1): oversized rows are rare by
    // the rule's own premise (they are the tail the MaxCellsPerRow
    // split exists for), so the filtered side is the small one — and
    // when it is EMPTY (the common case), AQE materializes the empty
    // broadcast first and propagates the empty relation through the
    // inner join, so the unfiltered probe side is never scanned. The
    // planner's static choice broadcast the UNFILTERED right side and
    // streamed a second full scan of the left through the
    // nested-loop probe on every execution.
    val broadcastLeft = JoinHint(Some(HintInfo(Some(BROADCAST))), None)
    val broadcastRight = JoinHint(None, Some(HintInfo(Some(BROADCAST))))
    val bigLeft = Project(j.output,
      Join(Filter(big(lGeom), j.left), j.right, Inner, Some(marked),
        broadcastLeft))
    val bigRight = Project(j.output,
      Join(Filter(small(lGeom), j.left), Filter(big(rGeom), j.right),
        Inner, Some(marked), broadcastRight))
    Union(Seq(grid, bigLeft, bigRight), byName = false,
      allowMissingCol = false)
  }
}
