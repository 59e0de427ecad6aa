package graft

import graft.functions.GeoFunctions
import graft.plans.SpatialJoinRule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, FormattedMode}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rule that turns a naive `st_intersects` theta-join
  * into the grid-bucketed equi-join: plan shape (no nested-loop /
  * cartesian) and result equality against the un-rewritten join.
  */
class SpatialJoinRuleSpec extends AnyFunSuite with SharedSpark {

  private def boxes(n: Int, shift: Double, tag: String) = {
    import spark.implicits._
    (0 until n).map { i =>
      val x = (i % 10) * 3.0 + shift; val y = (i / 10) * 3.0 + shift
      (s"$tag$i",
        s"POLYGON (($x $y, ${x + 2} $y, ${x + 2} ${y + 2}, $x ${y + 2}, $x $y))")
    }.toDF(s"${tag}_id", s"${tag}_geom")
  }

  /** Every nested-loop join left in the rewritten plan must be the
    * guarded oversized-row fallback — i.e. sit above an
    * `st_cell_count` routing filter — never the unguarded O(|L|·|R|)
    * plan the rule exists to remove.
    */
  private def assertNestedLoopsGuarded(df: DataFrame): Unit = {
    val p = df.queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    val bnl = df.queryExecution.sparkPlan.collect {
      case b: BroadcastNestedLoopJoinExec => b
    }
    bnl.foreach(b => assert(b.exists {
      case f: FilterExec => f.condition.toString.contains("st_cell_count")
      case _ => false
    }, s"unguarded nested-loop join:\n$p"))
  }

  private def bruteForce(l: DataFrame, r: DataFrame): Set[(String, String)] = {
    spark.conf.set("spark.graft.spatial.autoGridJoin", "false")
    try l.crossJoin(r).filter(expr("st_intersects(l_geom, r_geom)"))
      .select("l_id", "r_id").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    finally spark.conf.set("spark.graft.spatial.autoGridJoin", "true")
  }

  test("rewrites naive st_intersects join to a cell equi-join") {
    GeoFunctions.register(spark)
    SpatialJoinRule.install(spark)
    val l = boxes(40, 0.0, "l")
    val r = boxes(40, 1.0, "r")
    val naive = l.join(r, expr("st_intersects(l_geom, r_geom)"))
    val p = naive.queryExecution.explainString(FormattedMode)
    assert("""Generate \(\d+\)""".r.findAllIn(p).length == 2, p) // both cell explodes
    assertNestedLoopsGuarded(naive)
    // the rewrite is exact: same pairs as evaluating the predicate
    // over the full cross product with the rule disabled
    val brute = bruteForce(l, r)
    val got = naive.select("l_id", "r_id").collect()
      .map(x => (x.getString(0), x.getString(1)))
    assert(got.length == got.toSet.size, "reference-cell dedup failed")
    assert(got.toSet == brute, "pair set diverged")
    assert(got.nonEmpty)
  }

  test("oversized geometries route through the guarded theta-join " +
      "fallback instead of exploding") {
    GeoFunctions.register(spark)
    SpatialJoinRule.install(spark)
    import spark.implicits._
    // envelope 30000×30000 at pitch 1.0 → 9·10⁸ cells: exploding it
    // would trip st_grid_cells' hard cap (and, pre-guard, allocate
    // gigabytes). The MaxCellsPerRow split must keep it un-exploded.
    val wide = Seq(("lBIG",
      "POLYGON ((-15000 -15000, 15000 -15000, 15000 15000, " +
        "-15000 15000, -15000 -15000))")).toDF("l_id", "l_geom")
    val l = boxes(40, 0.0, "l").union(wide)
    val r = boxes(40, 1.0, "r")
    val naive = l.join(r, expr("st_intersects(l_geom, r_geom)"))
    assertNestedLoopsGuarded(naive)
    val got = naive.select("l_id", "r_id").collect()
      .map(x => (x.getString(0), x.getString(1)))
    assert(got.length == got.toSet.size, "fallback branches overlap")
    assert(got.toSet == bruteForce(l, r), "pair set diverged")
    // the continent-sized polygon covers every right-side box
    assert(got.count(_._1 == "lBIG") == 40)
  }

  test("fallback marker survives SimplifyBinaryComparison (fixed-point batch)") {
    // Under `spark.sql.extensions`, injectOptimizerRule places this
    // rule in the SAME fixed-point batch as SimplifyBinaryComparison,
    // which rewrites `EqualTo(b, true)` to `b`. The old `= true`
    // fallback marker was unwrapped every iteration, re-exposing an
    // st_intersects conjunct and growing the plan ~3× per pass until
    // the 100-iteration cap. Simulate that batch: interleave the two
    // rules and require the plan to stop changing after one rewrite.
    GeoFunctions.register(spark)
    import org.apache.spark.sql.catalyst.optimizer.SimplifyBinaryComparison
    import spark.implicits._
    val wide = Seq(("lBIG",
      "POLYGON ((-15000 -15000, 15000 -15000, 15000 15000, " +
        "-15000 15000, -15000 -15000))")).toDF("l_id", "l_geom")
    val l = boxes(10, 0.0, "l").union(wide) // oversized row → fallback joins exist
    val r = boxes(10, 1.0, "r")
    val analyzed = l.join(r, expr("st_intersects(l_geom, r_geom)"))
      .queryExecution.analyzed
    var p = SpatialJoinRule(analyzed)
    val sizeAfterOne = p.map(_ => 1).sum
    (1 to 5).foreach(_ => p = SpatialJoinRule(SimplifyBinaryComparison(p)))
    assert(p.map(_ => 1).sum == sizeAfterOne,
      s"plan grew across fixed-point iterations:\n$p")
  }

  test("works installed via GraftExtensions (injectOptimizerRule)") {
    // The documented cluster install path
    // (`spark.sql.extensions=graft.functions.GraftExtensions`) puts
    // the rule in the operator-optimization FIXED-POINT batch — a
    // different position than install()'s once-through 'User Provided
    // Optimizers'. `spark.sql.extensions` itself is static (read from
    // the SparkContext conf at context start), so drive the identical
    // code path via builder.withExtensions on the shared context and
    // run the oversized-geometry join end to end.
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions())
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .getOrCreate()
      import ext.implicits._
      val wide = Seq(("lBIG",
        "POLYGON ((-15000 -15000, 15000 -15000, 15000 15000, " +
          "-15000 15000, -15000 -15000))")).toDF("l_id", "l_geom")
      val mk = (n: Int, shift: Double, tag: String) =>
        (0 until n).map { i =>
          val x = (i % 10) * 3.0 + shift; val y = (i / 10) * 3.0 + shift
          (s"$tag$i",
            s"POLYGON (($x $y, ${x + 2} $y, ${x + 2} ${y + 2}, $x ${y + 2}, $x $y))")
        }.toDF(s"${tag}_id", s"${tag}_geom")
      val l = mk(40, 0.0, "l").union(wide)
      val r = mk(40, 1.0, "r")
      val joined = l.join(r, expr("st_intersects(l_geom, r_geom)"))
      // In the fixed-point batch ConvertToLocalRelation folds the
      // st_cell_count routing filters into the LocalTableScans, so
      // assert the rewrite's net shape instead: the grid branch's two
      // cell explodes, no cartesian product, and any remaining
      // nested-loop fallback bounded to ≤2 branches (the oversized
      // row); then exact result equality against the unrewritten join.
      val p = joined.queryExecution.explainString(FormattedMode)
      assert(!p.contains("CartesianProduct"), p)
      assert("""Generate \(\d+\)""".r.findAllIn(p).length == 2, p)
      assert("""BroadcastNestedLoopJoin""".r.findAllIn(p).length <= 2, p)
      val got = joined.select("l_id", "r_id").collect()
        .map(x => (x.getString(0), x.getString(1)))
      assert(got.length == got.toSet.size, "fallback branches overlap")
      assert(got.count(_._1 == "lBIG") == 40)
      ext.conf.set("spark.graft.spatial.autoGridJoin", "false")
      val brute = try l.crossJoin(r)
        .filter(expr("st_intersects(l_geom, r_geom)"))
        .select("l_id", "r_id").collect()
        .map(x => (x.getString(0), x.getString(1))).toSet
      finally ext.conf.set("spark.graft.spatial.autoGridJoin", "true")
      assert(got.toSet == brute, "pair set diverged")
      // the extensions install also carries the whole function
      // surface: geometry, vector kernels, and the CDC chunker are
      // callable by SQL name with no explicit register()
      val chunks = ext.sql(
        "SELECT size(cdc_chunks(array('a','b','c','d','e'))) AS n").collect()
      assert(chunks.head.getInt(0) >= 1)
      assert(ext.sql("SELECT vec_dot(array(1L, 2L), array(3L, 4L))")
        .collect().head.getLong(0) == 11L)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("joins with an existing cross-side equality are left alone") {
    GeoFunctions.register(spark)
    SpatialJoinRule.install(spark)
    val l = boxes(10, 0.0, "l").withColumn("k", expr("substring(l_id, 2)"))
    val r = boxes(10, 1.0, "r").withColumn("k2", expr("substring(r_id, 2)"))
    val j = l.join(r, expr("k = k2 AND st_intersects(l_geom, r_geom)"))
    val p = j.queryExecution.explainString(FormattedMode)
    assert(!"""Generate \(\d+\)""".r.findAllIn(p).hasNext, p) // no rewrite
    assert(j.count() > 0)
  }
}
