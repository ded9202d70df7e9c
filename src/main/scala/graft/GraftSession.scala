package graft

import org.apache.spark.sql.SparkSession

/** The session graft's command-line entry points run on: `local[cpus]`
  * with one shuffle partition per core, no UI, and graft installed
  * through both the session extension and `GraftExtensions.install`.
  * `cpus` is `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
object GraftSession {

  /** `conf` is applied before the session is created, so `install` sees
    * its entries as the user's choice. */
  def local(conf: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftSparkSessionExtensions].getName)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }
}
