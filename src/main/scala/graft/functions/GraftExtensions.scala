package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** `SparkSessionExtensions` hook: enables the engine's function family
  * via `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * on any cluster, with zero code changes for the user. The same
  * registrations are available programmatically through
  * [[GeoFunctions.register]] for sessions built without the conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (GeoFunctions.all ++ VecFunctions.all ++ CdcFunctions.all ++
      HtmlFunctions.all ++ UrlFunctions.all ++ ImgFunctions.all ++
      AudioFunctions.all)
      .foreach { case (name, inf, builder) =>
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name), inf, builder))
    }
    // naive st_intersects theta-join → grid-bucketed equi-join
    ext.injectOptimizerRule(_ => graft.plans.SpatialJoinRule)
    // typed map/filter over a LocalRelation → LocalRelation
    ext.injectOptimizerRule(_ => graft.plans.LocalObjectFold)
  }
}
