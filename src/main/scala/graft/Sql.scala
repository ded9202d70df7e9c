package graft

/** Ad-hoc SQL runner with the engine installed: `runMain graft.Sql "<sql>"`.
  * Registers the sf0.01 testdata tables as temp views. */
object Sql {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings").foreach { n =>
      Tables.t(spark, dir, n).createOrReplaceTempView(n)
    }
    Tables.events(spark, dir).createOrReplaceTempView("events")
    args.foreach(sql => spark.sql(sql).show(50, truncate = false))
    spark.stop()
  }
}
