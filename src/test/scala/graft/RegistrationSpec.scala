package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{ArgKind, GraftFunctions}

/** How graft is installed: the session extension injects the early rules,
  * `install` adds the rest exactly once, however often it is called. */
class RegistrationSpec extends AnyFunSuite {

  private val userBatch = "User Provided Optimizers"

  /** Runs `body` on a fresh session, built with or without the extension,
    * after `install` ran twice on it. */
  private def withSession[T](extension: Boolean)(body: SparkSession => T): T = {
    val builder = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
    val spark = (if (extension)
      builder.config("spark.sql.extensions", classOf[GraftSparkSessionExtensions].getName)
    else builder).getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      assert(spark.sessionState.analyzer.postHocResolutionRules
        .contains(graft.plans.KnnJoinCaptureRule) == extension)
      GraftExtensions.install(spark)
      GraftExtensions.install(spark)
      body(spark)
    } finally spark.stop()
  }

  /** Rule names per optimizer batch. */
  private def batches(spark: SparkSession): Seq[(String, Seq[String])] =
    spark.sessionState.optimizer.batches.map(b => b.name -> b.rules.map(_.ruleName))

  private def graftRules(spark: SparkSession) =
    GraftExtensions.rules.map { case (phase, rule) => phase -> rule(spark).ruleName }

  private def strategyCount(spark: SparkSession): Int =
    spark.sessionState.planner.strategies.count(_.isInstanceOf[graft.joins.SpatialJoinStrategy])

  test("extension + install twice: each graft rule runs in one phase, the strategy once") {
    withSession(extension = true) { spark =>
      val bs = batches(spark)
      graftRules(spark).foreach { case (phase, name) =>
        val early = bs.exists { case (b, rules) => b != userBatch && rules.contains(name) }
        val late = bs.collect { case (`userBatch`, rules) => rules.count(_ == name) }.sum
        if (phase == GraftExtensions.Early)
          assert(early && late == 0, s"$name must run only in the operator-optimization batches")
        else
          assert(!early && late == 1, s"$name must run once, in '$userBatch'")
      }
      assert(strategyCount(spark) == 1)
    }
  }

  test("install-only session: all rules late, in today's order; the strategy once") {
    withSession(extension = false) { spark =>
      assert(spark.experimental.extraOptimizations.map(_.ruleName) ==
        graftRules(spark).map(_._2))
      assert(spark.experimental.extraOptimizations.map(_.getClass.getSimpleName.stripSuffix("$")) ==
        Seq("GeoPruneRule", "RasterJoinRule", "GridSpatialJoinRule", "KnnGridJoinRule",
          "RasterLoadRule", "BandedRangeJoinRule", "SemiUnderDistinctRule",
          "AggregateJoinReorderRule", "AsOfProbeJoinRule", "AsOfAggregateRule", "SphereJoinRule"))
      val names = graftRules(spark).map(_._2).toSet
      assert(batches(spark).forall { case (b, rules) =>
        b == userBatch || !rules.exists(names) })
      assert(strategyCount(spark) == 1)
    }
  }

  test("a second install keeps every registered function, a user's included") {
    withSession(extension = true) { spark =>
      val reg = spark.sessionState.functionRegistry
      def builder(name: String) = reg.lookupFunctionBuilder(FunctionIdentifier(name))
      // graft replaces Spark's own built-in of the same name
      assert(builder("st_srid") != FunctionRegistry.builtin.lookupFunctionBuilder(
        FunctionIdentifier("st_srid")))
      GraftFunctions.registerScalar(spark, "st_area", DoubleType, Seq(ArgKind.Geom))(_ => 42.0)
      val before = reg.listFunction().map(id => id -> reg.lookupFunctionBuilder(id)).toMap
      GraftExtensions.install(spark)
      assert(reg.listFunction().map(id => id -> reg.lookupFunctionBuilder(id)).toMap == before)
      assert(spark.sql("SELECT st_area(st_point(0, 0))").head().getDouble(0) == 42.0)
    }
  }
}
