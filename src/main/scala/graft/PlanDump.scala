package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets


/** Optimization-round tooling: writes `.explain("formatted")` output for
  * every gate query (or the names passed as args) to plans/<outDir>/, one
  * file per query, plus a one-line Exchange/join-strategy summary on
  * stdout. Build-only — the DataFrame is never executed here (gates whose
  * builder fn stages side inputs still run that staging, same as any
  * plan audit).
  *
  * Expression, plan and RDD ids and lambda identities are masked, so two runs
  * of the same code write identical files and `diff -r` compares plans.
  *
  * Usage: runMain graft.PlanDump <suffix> [queryName...]
  *   suffix "before" -> plans/r18/<name>_before.txt
  */
object PlanDump {
  /** Masks the parts of a plan that differ between runs of the same code. */
  def mask(plan: String): String = plan
    .replaceAll("#\\d+", "#x")
    .replaceAll("\\$\\$Lambda[^@\\s]*@\\p{XDigit}+", "\\$\\$Lambda")
    .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
    .replaceAll("plan_id=\\d+", "plan_id=x")

  def main(args: Array[String]): Unit = {
    val suffix = if (args.nonEmpty) args(0) else "before"
    val names = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r18"))
    Files.createDirectories(outDir)
    val selected =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter { case (n, _) => names.contains(n) }.toSeq.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = mask(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        val nEx = "Exchange".r.findAllIn(txt).length
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "KnnJoin", "BroadcastIndexSpatialJoin")
          .filter(txt.contains).mkString(",")
        println(s"[plandump] $name exchanges=$nEx joins=$joins")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
