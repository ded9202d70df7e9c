package graft

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions` entry (reference analog:
  * SedonaContext::new_local_interactive wiring the planner chain,
  * rust/sedona/src/context.rs:110-269). Use it together with
  * `GraftExtensions.install`:
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftSparkSessionExtensions")
  *     .getOrCreate()
  *   GraftExtensions.install(spark)
  *
  * It injects only what must exist when the session is built: the KNN
  * capture, which runs at ANALYSIS time, before predicate pushdown (the
  * pushdown barrier of SURVEY §2.4), and the early rules of
  * `GraftExtensions.rules`. `install` adds the functions, the spatial-join
  * strategy and the late rules. A session built without this extension
  * lacks the KNN pushdown barrier (sj06) and runs the early rules late
  * (see `GraftExtensions`).
  */
class GraftSparkSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(_ => graft.plans.KnnJoinCaptureRule)
    GraftExtensions.rules.foreach {
      case (GraftExtensions.Early, rule) => ext.injectOptimizerRule(rule)
      case _ =>
    }
  }
}
