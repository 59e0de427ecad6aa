package graft.plans

import org.apache.spark.api.java.function.{FilterFunction, MapFunction}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, InterpretedPredicate, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, Filter, LocalRelation, LogicalPlan, MapElements, ObjectProducer, SerializeFromObject, TypedFilter}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, SERIALIZE_FROM_OBJECT, TYPED_FILTER}

/** Catalyst optimizer rule: the typed counterpart of Spark's
  * `ConvertToLocalRelation`. That rule folds a `Project`, `Filter` or
  * `Limit` over a `LocalRelation` into a new `LocalRelation`, so
  * `createDataset(seq).select(...).collect()` launches no job; it
  * leaves the typed object operators alone, so
  * `createDataset(seq).map(f).collect()` still plans a
  * `MapElementsExec` and runs a job over rows that already sit in
  * driver memory. This rule rewrites
  *
  *   `SerializeFromObject(chain over DeserializeToObject(LocalRelation))`
  *
  * where the chain is any nesting of `MapElements` (`map`) and
  * object-level `Filter`s (a `filter` pushed under the serializer),
  * and a `TypedFilter` (`filter`) directly over a `LocalRelation`,
  * into a `LocalRelation` of the results. The functions run on the driver,
  * at optimization time, between the plan's own deserializer and
  * serializer expressions, evaluated interpreted as
  * `ConvertToLocalRelation` evaluates its projections: a few driver
  * rows do not repay generating code, and no class is compiled. The
  * new relation keeps the replaced node's output attributes, so every
  * parent reference still resolves. A function that throws fails the
  * query's action with its exception, as a failed task would.
  *
  * Skipped: `MapPartitions` (`mapPartitions`, and `flatMap`, which
  * Spark plans as one), whose function is written per partition — it
  * may keep state across a partition's rows or read its
  * `TaskContext` — and would here see the whole relation as one
  * partition with no `TaskContext`; a streaming `LocalRelation`; and
  * any chain whose leaf is not a `LocalRelation` — a distributed
  * input keeps its distributed plan.
  *
  * Installed, the rule acts on every batch plan its session
  * optimizes, so every typed `map`/`filter` over a local Dataset in
  * that session then runs serially on the driver, when the plan is
  * optimized (also for `explain()` or [[servesInPlace]]), as
  * `ConvertToLocalRelation` already runs a `Project` or `Filter`
  * there.
  *
  * Install via `spark.sql.extensions=graft.functions.GraftExtensions`
  * or programmatically with [[LocalObjectFold.install]]; `Tx` and
  * `RasterIO.writeChips` install it in the caller's session.
  */
object LocalObjectFold extends Rule[LogicalPlan] {

  /** Idempotent programmatic registration for sessions built without
    * the extensions conf.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(LocalObjectFold))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ LocalObjectFold

  /** Whether `ds` is served from driver memory: its optimized plan is
    * a `LocalRelation`, so its `collect()` launches no job. Unlike
    * `Dataset.isLocal` (the analyzed plan), this also holds for a
    * local Dataset behind folded typed operators. A streaming Dataset
    * is never local, and is not optimized here (a batch action on it
    * is an error).
    */
  def servesInPlace(ds: Dataset[_]): Boolean =
    !ds.isStreaming && ds.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(LOCAL_RELATION)) plan
    else {
      val folded = plan.transformUpWithPruning(
          _.containsAnyPattern(SERIALIZE_FROM_OBJECT, TYPED_FILTER)) {
        case s @ SerializeFromObject(serializer, child) =>
          objects(child).fold[LogicalPlan](s) { objs =>
            val toRow = InterpretedUnsafeProjection.createProjection(serializer)
            LocalRelation(s.output, objs.map(o => toRow(InternalRow(o)).copy()).toVector)
          }
        case TypedFilter(func, _, _, deser, r @ LocalRelation(out, rows, false, _)) =>
          val toObj = bound(deser, out)
          val keep = predicate(func)
          r.copy(data = rows.filter(row => keep(toObj.eval(row))))
      }
      if (folded eq plan) plan else ConvertToLocalRelation(folded)
    }

  private def bound(e: Expression, input: Seq[Attribute]): Expression =
    BindReferences.bindReference(e, input)

  /** The objects `p` produces, when `p` is a chain of typed operators
    * over a batch `LocalRelation`; None otherwise.
    */
  private def objects(p: LogicalPlan): Option[Iterator[Any]] = p match {
    case DeserializeToObject(deser, _, LocalRelation(out, rows, false, _)) =>
      val toObj = bound(deser, out)
      Some(rows.iterator.map(toObj.eval))
    case MapElements(func, _, _, _, child) =>
      val f: Any => Any = func match {
        case m: MapFunction[_, _] => m.asInstanceOf[MapFunction[Any, Any]].call(_)
        case _ => func.asInstanceOf[Any => Any]
      }
      objects(child).map(_.map(f))
    case Filter(cond, child: ObjectProducer) =>
      objects(child).map { objs =>
        val keep = InterpretedPredicate(bound(cond, child.output))
        objs.filter(o => keep.eval(InternalRow(o)))
      }
    case _ => None
  }

  private def predicate(func: AnyRef): Any => Boolean = func match {
    case f: FilterFunction[_] => f.asInstanceOf[FilterFunction[Any]].call(_)
    case _ => func.asInstanceOf[Any => Boolean]
  }
}
